"""Opaque binary media columns with typed metadata + Pandas-UDF plumbing.

Design (per the training-data-pipeline brief): image/audio/video
payloads travel as `binary` columns beside their id; feature
extraction runs as Arrow-batched `mapInPandas` so the bytes cross to
Python once per batch, not once per row. No codec is used: the
extractors (`byte_features`, `phash64`) read raw bytes, and everything
Spark-side (schema, batch iteration, partitioning, output shape) is
the same as a decoding extractor's.

At 100 TB: binary payloads dominate row size — keep them OUT of
shuffle keys, repartition by a small id before `mapInPandas`, and
project the binary column away as soon as features are extracted.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_FEATURE_SCHEMA = (
    "media_id long, n_bytes long, n_space_bytes long, content_md5 string"
)


def with_media_column(
    df: DataFrame, text_col: str, id_col: str, media_type: str = "image"
) -> DataFrame:
    """Wrap a column's utf-8 bytes as a media payload (test/fixture path)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit(media_type).alias("media_type"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


def byte_features(df: DataFrame) -> DataFrame:
    """Deterministic per-payload features via Arrow-batched mapInPandas.

    Stands in for a real decode+featurize stage: proves the batch
    plumbing (binary in, typed row out) with outputs an oracle can
    recompute (byte length, 0x20 count, md5).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            # NULL payloads (e.g. NULL source text) yield NULL features,
            # matching SQL semantics — never crash the batch
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    # no astype: map yields int64 for null-free batches
                    # (vectorized Arrow long) and object with NULLs —
                    # Arrow accepts both for the long output column
                    "n_bytes": payloads.map(
                        lambda b: None if b is None else len(b)
                    ),
                    "n_space_bytes": payloads.map(
                        lambda b: None if b is None else bytes(b).count(b" ")
                    ),
                    "content_md5": payloads.map(
                        lambda b: None if b is None else hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return df.mapInPandas(extract, schema=_FEATURE_SCHEMA)


_PHASH_SCHEMA = "media_id long, phash long"


def phash64(df: DataFrame) -> DataFrame:
    """64-bit perceptual-style hash per payload via Arrow-batched
    mapInPandas: the payload's bytes split into 64 equal chunks, a
    per-chunk byte-sum profile, bit d = profile[d] > median(profile).
    This is the DCT-free skeleton of a real pHash — identical batch
    plumbing, identical output shape; swap the chunk-sum profile for
    DCT coefficients of the decoded image when a codec is present.
    Locality: a local byte edit perturbs one
    chunk, flipping at most a few bits, so near-identical payloads
    land within a small Hamming distance. NULL payloads yield NULL
    hashes. The hash lands in int64 with the sign bit used (bit 0 of
    the profile maps to the MSB) — compare with XOR/bit_count, never
    order.
    """
    import numpy as np

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b in pdf["payload"]:
                if b is None:
                    out.append(None)
                    continue
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                if arr.size == 0:
                    out.append(0)
                    continue
                pad = (-arr.size) % 64
                if pad:
                    arr = np.concatenate([arr, np.zeros(pad, dtype=np.uint8)])
                profile = arr.reshape(64, -1).sum(axis=1, dtype=np.int64)
                bits = profile > np.median(profile)
                h = np.uint64(0)
                for bit in bits:
                    h = np.uint64(h << np.uint64(1)) | np.uint64(bool(bit))
                out.append(int(np.int64(h)))
            yield pd.DataFrame({"media_id": pdf["media_id"], "phash": out})

    return df.mapInPandas(hash_batches, schema=_PHASH_SCHEMA)


def media_neardup_pairs(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate payload pairs from 64-bit perceptual hashes:
    banded candidate generation + exact Hamming verify — the image
    counterpart of SimHash text dedup.

    The 64-bit hash splits into 4 disjoint 16-bit bands; by
    pigeonhole, any pair within Hamming distance 3 agrees EXACTLY on
    at least one band, so the candidate join is an equality join on
    (band_idx, band_value) — never an all-pairs scan — and the
    verify stage computes bit_count(a XOR b) on candidates only.
    Raising max_hamming above 3 needs more/narrower bands (k+1 bands
    guarantee recall at Hamming k); the default matches the 4-band
    layout. Scale: shuffle carries (id, 8-byte hash) pairs; bucket
    sizes follow band-value frequencies (salt pathological constants
    upstream if payload dedup wasn't run first).
    """
    if max_hamming > 3:
        raise ValueError(
            "4x16-bit banding guarantees recall only to Hamming 3; "
            "use more bands for a looser threshold"
        )
    bands = F.array(
        *[
            (
                F.shiftrightunsigned(F.col(hash_col), 16 * i)
                .bitwiseAND(F.lit(0xFFFF))
            )
            for i in range(4)
        ]
    )
    banded = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col),
        F.col(hash_col),
        F.posexplode(bands).alias("band_idx", "band_val"),
    )
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("__ha"),
            F.col(f"b.{hash_col}").alias("__hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
