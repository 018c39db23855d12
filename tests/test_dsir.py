"""DSIR importance resampling (operators/dsir.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.operators.dsir import (
    bucket_profile,
    dsir_log_ratios,
    dsir_logweights,
    dsir_sample,
    feature_buckets_of_toks,
)
from gcp_data_pipeline_fyp_spark.functions.text import _coalesce_toks, tokens

B = 256


def _text_buckets(text, n_buckets, bigrams=True):
    """The hashed features of raw text, as the profile builders derive
    them: NULL text tokenizes like an empty document."""
    return feature_buckets_of_toks(_coalesce_toks(tokens(text)), n_buckets, bigrams)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "id bigint, text string")


def test_feature_buckets_counts_and_range(spark):
    df = spark.range(1).select(
        _text_buckets(F.lit("a b c d"), n_buckets=B).alias("f")
    )
    feats = df.first()["f"]
    # 4 unigrams + 3 bigrams, every bucket in [0, B)
    assert len(feats) == 7
    assert all(0 <= b < B for b in feats)
    # unigram-only: no bigram features
    df1 = spark.range(1).select(
        _text_buckets(F.lit("a b c d"), n_buckets=B, bigrams=False).alias("f")
    )
    assert len(df1.first()["f"]) == 4


def test_feature_buckets_degenerate_text(spark):
    out = spark.createDataFrame(
        [(1, None), (2, "solo")], "id bigint, text string"
    ).select("id", _text_buckets("text", n_buckets=B).alias("f"))
    rows = {r["id"]: r["f"] for r in out.collect()}
    assert rows[1] == []  # NULL text -> no features
    assert len(rows[2]) == 1  # one token, no bigram


def test_logweights_favor_target_vocab(spark):
    # target vocabulary {x y}; raw corpus mixes {x y} docs and {p q} docs
    raw = _docs(
        spark,
        [(1, "x y x y"), (2, "p q p q"), (3, "x y y x"), (4, "q p q p")],
    )
    target = _docs(spark, [(10, "x y x y x y")])
    w = {
        r["id"]: r["logw"]
        for r in dsir_logweights(raw, "id", target, n_buckets=B).collect()
    }
    # only the ORDERING is contractual: add-one smoothing over B
    # buckets shifts every absolute weight by a corpus-size constant
    # (Gumbel top-k is shift-invariant, so selection only sees the
    # differences); target-vocab docs must outweigh off-target ones
    assert w[1] > w[2] and w[3] > w[4]
    assert min(w[1], w[3]) > max(w[2], w[4])


def test_logweights_empty_text_weight_one(spark):
    raw = _docs(spark, [(1, "x y"), (2, None)])
    target = _docs(spark, [(10, "x y")])
    rows = {
        r["id"]: r
        for r in dsir_logweights(raw, "id", target, n_buckets=B).collect()
    }
    assert rows[2]["logw"] == 0.0 and rows[2]["n_feats"] == 0
    assert rows[1]["n_feats"] == 3  # 2 unigrams + 1 bigram


def test_log_ratios_match_closed_form(spark):
    # one raw doc "a", one target doc "a a a": hand-check the
    # smoothing against a Python replay of the SAME hash (collisions
    # — 'a' and 'a a' CAN share a bucket mod B — are part of the
    # model, so the expectation is computed per-bucket, not per-gram)
    import hashlib
    from collections import Counter

    raw = _docs(spark, [(1, "a")])
    target = _docs(spark, [(2, "a a a")])

    def bucket(f: str) -> int:
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % B

    r_cnt = Counter([bucket("a")])  # raw feats: 1 unigram
    # target feats: 3 unigrams 'a' + 2 bigrams 'a a'
    t_cnt = Counter(
        [bucket("a")] * 3 + [bucket("a a")] * 2
    )
    rtot, ttot = sum(r_cnt.values()), sum(t_cnt.values())
    expected = {
        b: math.log((t_cnt.get(b, 0) + 1.0) / (ttot + B))
        - math.log((r_cnt.get(b, 0) + 1.0) / (rtot + B))
        for b in set(r_cnt) | set(t_cnt)
    }
    rp = bucket_profile(raw, "text", n_buckets=B)
    tp = bucket_profile(target, "text", n_buckets=B)
    by_bucket = {
        r["bucket"]: r["lr"]
        for r in dsir_log_ratios(rp, tp, n_buckets=B).collect()
    }
    assert set(by_bucket) == set(expected)
    for b, v in expected.items():
        assert by_bucket[b] == pytest.approx(v, abs=1e-12)


def test_sample_deterministic_and_partition_invariant(spark):
    raw = _docs(spark, [(i, f"tok{i % 7} tok{i % 3}") for i in range(40)])
    target = _docs(spark, [(100, "tok1 tok1 tok2")])
    w = dsir_logweights(raw, "id", target, n_buckets=B)
    a = sorted(r["id"] for r in dsir_sample(w, "id", 10, seed=3).collect())
    b = sorted(
        r["id"]
        for r in dsir_sample(w.repartition(7), "id", 10, seed=3).collect()
    )
    assert a == b and len(a) == 10
    c = sorted(r["id"] for r in dsir_sample(w, "id", 10, seed=4).collect())
    assert a != c  # a different seed draws a different sample


def test_sample_k_exceeds_n_returns_all(spark):
    raw = _docs(spark, [(1, "x"), (2, "y")])
    target = _docs(spark, [(9, "x")])
    w = dsir_logweights(raw, "id", target, n_buckets=B)
    assert dsir_sample(w, "id", 10).count() == 2


def test_sample_respects_weights(spark):
    # one doc overwhelmingly target-like: it must be in every sample.
    # (The target-like doc is SHORT — DSIR weights sum per occurrence,
    # so a long doc would also dominate the raw profile and push its
    # own vocabulary's log-ratio down; the short form isolates the
    # target-affinity effect being asserted.)
    rows = [(i, "junk%d filler%d" % (i, i)) for i in range(1, 30)]
    rows.append((0, "x y"))
    raw = _docs(spark, rows)
    target = _docs(spark, [(99, "x y " * 30)])
    w = dsir_logweights(raw, "id", target, n_buckets=B)
    for seed in range(5):
        ids = {r["id"] for r in dsir_sample(w, "id", 3, seed=seed).collect()}
        assert 0 in ids


def test_sample_plans_take_ordered(spark):
    raw = _docs(spark, [(i, f"t{i}") for i in range(20)])
    target = _docs(spark, [(99, "t1")])
    w = dsir_logweights(raw, "id", target, n_buckets=B)
    plan = dsir_sample(w, "id", 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # never a global sort


def _budget_naive(spark, weights, id_col, weight_col, budget, seed):
    """Oracle form: plain global window over the same key chain."""
    from pyspark.sql import Window

    from gcp_data_pipeline_fyp_spark.operators.dsir import gumbel_key

    key, h = gumbel_key([F.col(id_col)], F.col("logw"), seed)
    w = Window.orderBy(
        key.desc(), h.asc(), F.col(id_col).asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum(
        F.greatest(
            F.coalesce(F.col(weight_col).cast("long"), F.lit(0)), F.lit(0)
        )
    ).over(w)
    return (
        weights.withColumn("cum_weight", cum)
        .filter(F.col("cum_weight") <= budget)
    )


def _weights_fixture(spark, n=60):
    raw = _docs(
        spark,
        [(i, f"tok{i % 11} tok{i % 5} tok{i % 3}") for i in range(n)],
    )
    target = _docs(spark, [(999, "tok1 tok2 tok1 tok3")])
    from gcp_data_pipeline_fyp_spark.operators.dsir import dsir_logweights

    w = dsir_logweights(raw, "id", target, n_buckets=B)
    return w.withColumn("nw", (F.col("id") % 7 + 1).cast("long"))


def test_budget_select_matches_naive_global_window(spark, monkeypatch):
    from gcp_data_pipeline_fyp_spark.operators import prefix
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        dsir_budget_select,
    )

    w = _weights_fixture(spark)
    # 8 buckets put several Gumbel keys in each one
    monkeypatch.setattr(prefix, "N_BUCKETS", 8)
    got = {
        (r["id"], r["cum_weight"])
        for r in dsir_budget_select(w, "id", "nw", 60, seed=5).collect()
    }
    want = {
        (r["id"], r["cum_weight"])
        for r in _budget_naive(spark, w, "id", "nw", 60, 5).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_budget_select_nested_and_partition_invariant(spark):
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        dsir_budget_select,
    )

    w = _weights_fixture(spark)
    small = {r["id"] for r in dsir_budget_select(w, "id", "nw", 40).collect()}
    big = {r["id"] for r in dsir_budget_select(w, "id", "nw", 90).collect()}
    assert small < big  # raising the budget only appends
    re = {
        r["id"]
        for r in dsir_budget_select(
            w.repartition(13), "id", "nw", 40
        ).collect()
    }
    assert re == small


def test_budget_select_null_weight_counts_zero(spark):
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        dsir_budget_select,
    )

    w = _weights_fixture(spark).withColumn(
        "nw", F.when(F.col("id") % 2 == 0, F.col("nw"))
    )
    out = dsir_budget_select(w, "id", "nw", 20).collect()
    # NULL-weight rows stay selectable and add 0 to the running total
    ids = {r["id"] for r in out}
    assert any(i % 2 == 1 for i in ids)
    naive = {
        r["id"] for r in _budget_naive(spark, w, "id", "nw", 20, 0).collect()
    }
    assert ids == naive


def test_budget_select_out_col_collision_raises(spark):
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        dsir_budget_select,
    )

    w = _weights_fixture(spark).withColumn("cum_weight", F.lit(1))
    with pytest.raises(ValueError, match="cum_weight"):
        dsir_budget_select(w, "id", "nw", 10)


def test_reserved_internal_columns_raise(spark):
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        dsir_budget_select,
        dsir_sample,
    )

    w = _weights_fixture(spark).withColumn("__gk", F.lit(1))
    with pytest.raises(ValueError, match="__gk"):
        dsir_sample(w, "id", 3)
    with pytest.raises(ValueError, match="__gk"):
        dsir_budget_select(w, "id", "nw", 10)


def test_score_against_frozen_profiles_skips_unknown_buckets(spark):
    """The frozen-profile branch (dsir_log_ratios docstring): scoring
    a frame whose features are absent from BOTH profiles must count
    the occurrence in n_feats but contribute 0 weight — the left-join
    NULL lr path, previously uncovered by any probe or test."""
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        bucket_profile,
        dsir_log_ratios,
        score_against_ratios,
    )

    raw = _docs(spark, [(1, "known")])
    target = _docs(spark, [(2, "known known")])
    ratios = dsir_log_ratios(
        bucket_profile(raw, "text", n_buckets=B),
        bucket_profile(target, "text", n_buckets=B),
        n_buckets=B,
    )
    # 'zzz_unseen' is in neither profile (distinct md5 bucket from
    # 'known' with overwhelming probability at B=256; the mixed doc
    # pins that an unseen occurrence neither drops the row nor
    # poisons the decimal sum)
    frame = _docs(
        spark, [(10, "known"), (11, "zzz_unseen"), (12, "known zzz_unseen")]
    )
    rows = {
        r["id"]: r
        for r in score_against_ratios(
            frame, "id", ratios, n_buckets=B
        ).collect()
    }
    assert rows[11]["logw"] == 0.0 and rows[11]["n_feats"] == 1
    # doc 12: 2 unigrams + 1 bigram = 3 occurrences, only 'known' scores
    assert rows[12]["n_feats"] == 3
    assert rows[12]["logw"] == pytest.approx(rows[10]["logw"], abs=1e-9)


def test_logweights_empty_string_scores_one_feature(spark):
    """Documented contract (ADVICE r11): only NULL text is
    weight-neutral; an empty/whitespace-only STRING carries one
    empty-string token (F.split of trimmed "" -> [""]) and scores the
    md5("") bucket's ratio with n_feats = 1 — cross-engine consistent
    (the SQL oracles tokenize identically)."""
    raw = _docs(spark, [(1, "x y"), (2, ""), (3, "   "), (4, None)])
    target = _docs(spark, [(10, "x y")])
    rows = {
        r["id"]: r
        for r in dsir_logweights(raw, "id", target, n_buckets=B).collect()
    }
    assert rows[4]["logw"] == 0.0 and rows[4]["n_feats"] == 0
    assert rows[2]["n_feats"] == 1 and rows[3]["n_feats"] == 1
    assert rows[2]["logw"] == rows[3]["logw"] != 0.0


def test_gumbel_key_clamped_below_one(spark):
    """The (h+1)/(2^60+1) double rounds to exactly 1.0 for h near
    2^60-1, where -ln(-ln u) is NULL in Spark — the clamp pins u to
    1 - 2^-53 so the key stays finite (ADVICE r11). Forced through
    the expression directly (the md5 preimage of a near-max h is
    unknown)."""
    from pyspark.sql import Row

    from gcp_data_pipeline_fyp_spark.operators.dsir import gumbel_key

    # replicate the key chain on a literal near-max h: u unclamped
    # would round to 1.0 -> NULL
    h = (1 << 60) - 1
    u_raw = (h + 1.0) / 1152921504606846977.0
    assert u_raw == 1.0  # the divergence the clamp closes
    key, _h = gumbel_key([F.lit("x")], F.lit(0.0))
    # structural check on real data: no NULL keys over a corpus
    df = spark.range(2000).select(F.col("id").cast("string").alias("k"))
    k, hh = gumbel_key([F.col("k")], F.lit(0.0))
    out = df.select(k.alias("key"))
    assert out.filter(F.col("key").isNull()).count() == 0
    # and the clamped expression is finite even at u = 1.0 exactly
    forced = spark.range(1).select(
        (-F.log(-F.log(F.least(F.lit(u_raw), F.lit(0.9999999999999999)))))
        .alias("g")
    )
    assert forced.first()["g"] is not None


def test_persisted_profiles_match_direct_path(spark, tmp_path):
    """dsir_logweights_indexed over build_dsir_profiles == the direct
    dsir_logweights on the same (raw, target) — byte-identical
    (logw, n_feats) per doc; the index path just skips the refit."""
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        build_dsir_profiles,
        dsir_logweights_indexed,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    raw = _docs(
        spark,
        [(1, "x y x"), (2, "p q"), (3, "x y y"), (4, "q p q"), (5, None)],
    )
    target = _docs(spark, [(10, "x y x y")])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_dsir_profiles(wh, raw, target, "DS", n_buckets=B)
    direct = {
        (r["id"], r["logw"], r["n_feats"])
        for r in dsir_logweights(raw, "id", target, n_buckets=B).collect()
    }
    indexed = {
        (r["id"], r["logw"], r["n_feats"])
        for r in dsir_logweights_indexed(wh, raw, "id", "DS").collect()
    }
    assert indexed == direct


def test_indexed_scoring_requires_meta(spark, tmp_path):
    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        dsir_logweights_indexed,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="meta"):
        dsir_logweights_indexed(
            wh, _docs(spark, [(1, "x")]), "id", "NOPE"
        )


def test_fused_profile_build_matches_two_frame_fit(spark, tmp_path):
    """r13: build_dsir_profiles(target_filter=...) — both profiles out
    of ONE explode pass — must be bit-identical to the two-frame fit
    on the same slice, including bucket sets (target buckets with zero
    occurrences must NOT appear) and the meta row. Also pins the
    exactly-one-of-target/target_filter contract, and that the filter
    form refuses a target_text_col it could not honour."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        build_dsir_profiles,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    rows = [
        (0, "alpha beta gamma", "en"),
        (1, "beta beta delta", "en"),
        (2, "gamma delta epsilon", "fr"),
        (3, None, "en"),
        (4, "", "fr"),
        (5, "alpha alpha alpha", None),  # NULL lang -> not target
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    B = 64
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_dsir_profiles(wh, d, d.filter(F.col("lang") == "en"), "TWO",
                        n_buckets=B)
    build_dsir_profiles(wh, d, None, "ONE", n_buckets=B,
                        target_filter=F.col("lang") == "en")
    for side in ("raw", "target"):
        two = {r["bucket"]: r["c"]
               for r in wh.read(f"TWO__{side}_profile").collect()}
        one = {r["bucket"]: r["c"]
               for r in wh.read(f"ONE__{side}_profile").collect()}
        assert one == two, side
    assert wh.read("ONE__meta").collect() == wh.read("TWO__meta").collect()
    with _pt.raises(ValueError):
        build_dsir_profiles(wh, d, d, "BAD", target_filter=F.lit(True))
    with _pt.raises(ValueError):
        build_dsir_profiles(wh, d, None, "BAD")
    # a target text column names a column of a target FRAME; with the
    # filter form it would be silently ignored, so it is refused
    with _pt.raises(ValueError, match="target_text_col"):
        build_dsir_profiles(wh, d, None, "BAD", target_text_col="lang",
                            target_filter=F.col("lang") == "en")
