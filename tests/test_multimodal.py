"""Multimodal binary-column plumbing tests."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.multimodal.binary_ops import (
    byte_features,
    with_media_column,
)


def test_byte_features_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "a b c")], "doc_id long, text string"
    )
    media = with_media_column(df, "text", "doc_id")
    assert dict(media.dtypes)["payload"] == "binary"
    out = {r["media_id"]: r for r in byte_features(media).collect()}
    assert out[1]["n_bytes"] == 11
    assert out[1]["n_space_bytes"] == 1
    assert out[1]["content_md5"] == hashlib.md5(b"hello world").hexdigest()
    assert out[2]["n_space_bytes"] == 2


def test_phash64_locality_and_neardup_banding(spark):
    """Identical payloads hash identically (Hamming 0); a single-chunk
    byte edit stays within the banded near-dup threshold; unrelated
    payloads are rejected by the exact verify. Deterministic across
    partitionings."""
    from gcp_data_pipeline_fyp_spark.multimodal.binary_ops import (
        media_neardup_pairs,
        phash64,
        with_media_column,
    )

    base = "The quick brown fox jumps over the lazy dog. " * 40  # ~1.8 KB
    edited = base[:100] + "X" + base[101:]  # one byte, one chunk
    other = "".join(chr(97 + (i * 7) % 26) for i in range(1800))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, edited), (4, other)], "id long, t string"
    )
    media = with_media_column(df, "t", "id")
    hashes = phash64(media)
    got = {r["media_id"]: r["phash"] for r in hashes.collect()}
    assert got[1] == got[2]
    assert bin(got[1] ^ got[3]).count("1") <= 3  # single-chunk edit
    assert bin(got[1] ^ got[4]).count("1") > 3  # unrelated

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in media_neardup_pairs(hashes).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)

    again = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in media_neardup_pairs(phash64(media.repartition(5))).collect()
    }
    assert again == pairs

    import pytest

    with pytest.raises(ValueError):
        media_neardup_pairs(hashes, max_hamming=5)
