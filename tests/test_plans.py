"""Plan-shape regression guards: the properties that matter at 100 TB.

These assert on the optimized physical plan, not results — a change
that silently turns a broadcast join into a sort-merge join or breaks
scan pushdown should fail CI even though results stay correct.
"""

from __future__ import annotations

import io
import contextlib

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_joins_broadcast(spark):
    p = _plan(spark, "star_schema_fact")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # dims are tiny; fact side must not shuffle


def test_tpch_filters_pushed_to_scan(spark):
    p = _plan(spark, "top_revenue_orders")
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in p
    # column pruning: lineitem scan reads only the 4 needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double," in p


def test_measure_filter_pushed(spark):
    p = _plan(spark, "measure_avg_magnitude")
    assert "EqualTo(event_type,purchase)" in p


def test_semi_join_not_inner(spark):
    p = _plan(spark, "order_priority_count")
    assert "LeftSemi" in p


def test_partition_pruning(spark, tmp_path):
    # a date-partitioned fact prunes untouched partitions at the source
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.queries_util import load
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = load(spark, SF, "events").withColumn(
        "event_date", F.date_format("ts", "yyyyMMdd").cast("int")
    )
    wh.overwrite(ev, "fact_part", partition_cols=["event_date"])
    scoped = wh.read("fact_part").filter(F.col("event_date") == 20240105)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scoped.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "20240105" in plan
    n_days = ev.select("event_date").distinct().count()
    assert scoped.count() == ev.filter(F.col("event_date") == 20240105).count()
    assert n_days > 1


def test_tfidf_topk_uses_window_group_limit(spark):
    """Per-doc top-k must run as WindowGroupLimit (per-partition rank
    pruning before the final window), never a full global sort."""
    p = _plan(spark, "tfidf_top_terms")
    assert "WindowGroupLimit" in p
    assert "SortMergeJoin" not in p  # df join broadcast at this scale


def test_bm25_stats_broadcast_and_takeordered(spark):
    p = _plan(spark, "bm25_search")
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "TakeOrderedAndProject" in p  # top-k never a global sort


def test_interval_attribution_no_cartesian(spark):
    """The range predicate must ride on the user_id equi-join, not
    degrade to a cartesian product."""
    p = _plan(spark, "interval_attribution")
    assert "CartesianProduct" not in p


def test_cdc_snapshot_single_shuffle(spark):
    p = _plan(spark, "cdc_snapshot")
    # one hash exchange for the per-key window; no join in the plan
    assert p.count("Exchange hashpartitioning") <= 1
    assert "WindowGroupLimit" in p  # rn==1 pruned per partition


def _key_query_plans(spark, monkeypatch) -> list[str]:
    """Record the formatted plan of every DataFrame.collect — the
    surrogate-key query (operators/keys.py) runs its one collect while
    the dimension frames are built."""
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    plans: list[str] = []
    collect = frame.collect

    def recording(self):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.explain("formatted")
        plans.append(buf.getvalue())
        return collect(self)

    monkeypatch.setattr(frame, "collect", recording)
    return plans


def test_star_fact_dim_scans_column_pruned(spark, monkeypatch):
    """The star build's 4 dims come from ONE key query that reads only
    their key columns, and come back as driver-built rows (no scan, no
    Python-side RDD), so the final plan scans parquet exactly once —
    the fact side. Guards against a refactor that reintroduces per-dim
    scans."""
    import re

    plans = _key_query_plans(spark, monkeypatch)
    p = _plan(spark, "star_schema_fact")
    assert len(plans) == 1, len(plans)  # one key query for all 4 dims
    (key_scan,) = re.findall(r"ReadSchema: struct<([^>]*)>", plans[0])
    # LB_type, LB_net, LB_magCategory and LB_depthCategory derive from these
    assert {c.split(":")[0] for c in key_scan.split(",")} == {"event_type", "user_id", "value"}
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert len(schemas) == 1, schemas  # only the fact side reads parquet
    assert "ExistingRDD" not in p


def test_surrogate_multi_melt_prunes_columns(spark, tmp_path, monkeypatch):
    """The key query's melt must prune its scan to the dim key columns
    (N dims cost one read of their source columns, never the full
    row), with or without stored rows to anti-join."""
    import re

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.keys import new_dimension_rows

    path = str(tmp_path / "wide")
    spark.range(100).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("k1"),
        (F.col("id") % 5).cast("string").alias("k2"),
        F.lit("payload").alias("fat1"),
        F.rand(7).alias("fat2"),
    ).write.mode("overwrite").parquet(path)
    wide = spark.read.parquet(path)
    dims = {"d1": (["k1"], "id1"), "d2": (["k2"], "id2")}
    plans = _key_query_plans(spark, monkeypatch)
    first = new_dimension_rows(wide, dims)
    new_dimension_rows(wide, dims, first)
    assert len(plans) == 2
    for plan in plans:
        (scan,) = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert {c.split(":")[0] for c in scan.split(",")} == {"k1", "k2"}, scan


def test_expectations_single_scan_regardless_of_rule_count(spark):
    """Row-level + unique + row_count rules compile into ONE aggregation
    pass: adding a rule must add a column, never a scan."""
    import io as _io
    import contextlib as _ctx

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        accepted_values,
        expectations_report,
        in_range,
        not_null,
        row_count_between,
        satisfies,
        unique,
    )
    from gcp_data_pipeline_fyp_spark.queries_util import load

    ev = load(spark, SF, "events")
    report = expectations_report(
        ev,
        [
            not_null("event_id"),
            not_null("ts"),
            accepted_values("event_type", ["click", "view"]),
            in_range("value", 0, 100),
            satisfies("pos", F.col("value") > 0),
            unique("event_id"),
            row_count_between(lo=1),
        ],
    )
    import re

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        report.explain("formatted")
    # one scan NODE (formatted explain prints each node twice: tree + detail)
    assert len(re.findall(r"\(\d+\) Scan parquet", buf.getvalue())) == 1


def test_bpe_pair_counts_vocabulary_stage_bounds_shuffles(spark):
    """The pair explosion runs over the collapsed vocabulary: one scan
    of the corpus, and the token stream itself is never exchanged —
    the only row-shuffles are the two aggregations (word counts, pair
    counts) plus the final top-k ordering."""
    import re

    p = _plan(spark, "bpe_pair_counts")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    # two row-shuffles: word counts + pair counts (the spread-input
    # round-robin repartition is not a keyed shuffle)
    assert p.count("hashpartitioning(") == 2


def test_sq8_topk_broadcasts_queries_not_corpus(spark):
    """The quantized corpus streams (8x smaller bytes is the point);
    the query side broadcasts. A plan that flips this — or degrades to
    an unhinted cartesian — ships the corpus to every executor."""
    p = _plan(spark, "ann_sq8_topk")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_classifier_weight_join_broadcasts(spark):
    """Scoring joins the feature stream against the weight table
    (<= n_buckets rows): must stay a broadcast hash join — a sort-merge
    here would shuffle the whole exploded feature stream by bucket."""
    p = _plan(spark, "quality_classifier_scores")
    # the weights side of the scoring join broadcasts (LeftOuter keeps
    # unseen buckets at weight 0); the only exchanges on the bucket key
    # are the training aggregations' post-partial-agg shuffles, which
    # are bounded by n_buckets — a SortMergeJoin here would instead
    # shuffle the whole exploded feature stream
    assert "BroadcastHashJoin LeftOuter" in p
    import re

    smj_keys = re.findall(r"SortMergeJoin \[?(\w+)", p)
    assert not any(k.startswith("__b") for k in smj_keys), smj_keys


def test_split_leakage_joins_on_digest_never_text(spark):
    """The train/heldout overlap join must key every exchange on the
    16-byte n-gram digest — raw document text in a shuffle key would
    make shuffle bytes scale with corpus bytes."""
    p = _plan(spark, "split_leakage_report")
    assert "LeftSemi" in p
    assert "hashpartitioning(text" not in p
    assert "hashpartitioning(__ng" not in p
    assert "hashpartitioning(__d" in p


def test_funnel_and_scaffold_joins_broadcast(spark):
    """The funnel's base-count join and the resample scaffold's
    types x days cross join must stay broadcast nested-loop (tiny
    sides) — an unhinted CartesianProduct here would pair full frames."""
    for name in ("funnel_conversion", "resample_ffill"):
        p = _plan(spark, name)
        assert "CartesianProduct" not in p, name


def test_hard_negatives_streams_corpus(spark):
    """Hard-negative mining broadcasts the query batch; the corpus
    streams (one scan) exactly like the brute-force baseline."""
    p = _plan(spark, "hard_negatives")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


# ------------------- CollapseProject lambda-inlining regression guard
def _lambda_bodies(plan: str) -> list[str]:
    """Balanced-paren span of every lambdafunction(...) call in an
    optimized-plan string (nested lambdas yield their own spans too)."""
    out, i, key = [], 0, "lambdafunction("
    while True:
        j = plan.find(key, i)
        if j < 0:
            return out
        depth, k = 1, j + len(key)
        while k < len(plan) and depth:
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        out.append(plan[j:k])
        i = j + len(key)


def _assert_no_expensive_lambda_inlining(df, max_agg: int = 1, max_len: int = 800):
    """CollapseProject inlines a referenced column's FULL expression into
    higher-order-function lambda bodies, re-evaluating it once PER
    ELEMENT — the O(dim^3)-per-row class of regression hit twice (r2
    MinHash shingles, r4 SQ8 codes: 131 s vs 8 s on the same pass, see
    operators/similarity.py:quantize_sq8). Guard: no lambda body in
    the optimized plan may contain more than `max_agg` aggregate() folds
    (one is the legitimate O(dim) norm divide) or exceed `max_len`
    chars (the inlined unit chain is ~1.9k; honest bodies are <400)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for b in _lambda_bodies(plan):
        n_agg = b.count("aggregate(")
        assert n_agg <= max_agg, (
            f"lambda body folds {n_agg} aggregates — a column expression "
            f"was inlined per-element:\n{b[:400]}"
        )
        assert len(b) <= max_len, (
            f"suspiciously large lambda body ({len(b)} chars) — a column "
            f"expression was inlined per-element:\n{b[:400]}"
        )


def test_sq8_quantize_lambda_not_inlined(spark):
    """Fails on the pre-11b6e68 SQ8 codes form (verified: that
    plan carries a 1.9k-char codes lambda folding 4 aggregates)."""
    from gcp_data_pipeline_fyp_spark.operators.similarity import quantize_sq8

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "id long, vec array<double>")
    _assert_no_expensive_lambda_inlining(quantize_sq8(df, "id", "vec"))


def test_minhash_signature_lambda_not_inlined(spark):
    """The r2 incident: the shingle/token chain must not re-inline into
    the per-hash signature lambda."""
    from gcp_data_pipeline_fyp_spark.functions.text import shingles, tokens
    from gcp_data_pipeline_fyp_spark.operators.dedup import minhash_signature

    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    sig = df.select(
        "doc_id", minhash_signature(shingles(tokens("text"), 3), 8).alias("sig")
    )
    _assert_no_expensive_lambda_inlining(sig)


def test_pq_encode_lambda_not_inlined(spark):
    """Same guard over the PQ encode pass (subvector distance lambdas):
    the unit6 chain must stay out of the per-element bodies."""
    from gcp_data_pipeline_fyp_spark.operators.pq import fit_pq_codebooks, pq_encode

    df = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(6)],
        "id long, vec array<double>",
    )
    books = fit_pq_codebooks(df, "id", "vec", m=2, n_codes=2, iters=1, dim=8)
    _assert_no_expensive_lambda_inlining(pq_encode(df, "id", "vec", books, m=2, dim=8))


def test_pq_score_broadcasts_lut_not_codes(spark):
    """ADC scoring joins the per-batch LUT (|Q| x m x n_codes rows)
    against the code stream: the LUT must be the broadcast side and the
    codes scan must NOT exchange before the (query_id, corpus_id)
    aggregation — a sort-merge here would shuffle the whole codes
    table by (subspace, cluster_id), a key with m * n_codes distinct
    values (catastrophic skew at corpus scale)."""
    p = _plan(spark, "ann_pq_topk")
    assert "BroadcastHashJoin" in p
    import re

    smj_keys = re.findall(r"SortMergeJoin \[?(\w+)", p)
    assert not any(k in ("subspace", "cluster_id") for k in smj_keys), smj_keys
    assert "hashpartitioning(subspace" not in p
    assert "hashpartitioning(cluster_id" not in p


def test_ivfpq_probes_and_lut_broadcast(spark):
    """IVF-PQ query side: both tiny frames (probes |Q| x nprobe, LUT
    |Q| x m x n_codes) broadcast against the code stream; the codes
    table must never be the build side of a join or shuffle on the
    low-cardinality centroid/code keys before the final aggregation."""
    p = _plan(spark, "ann_ivfpq_topk")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the ONLY sort-merge join allowed is codes x assigned on the
    # high-cardinality corpus_id (big-big, co-partitioned); a SMJ on
    # centroid/subspace/cluster keys would shuffle the code stream on
    # a handful of distinct values. (The centroid_id exchanges inside
    # the coarse FIT are post-partial-agg and bounded by n_centroids.)
    import re

    smj_ids = re.findall(r"SortMergeJoin \w+ \((\d+)\)", p)
    for sid in smj_ids:
        m = re.search(
            rf"\({sid}\) SortMergeJoin\nLeft keys \[\d+\]: \[(\w+)", p
        )
        assert m and m.group(1).startswith("corpus_id"), (sid, m and m.group(1))


def test_ivfpq_residual_joins_shape(spark):
    """Residual IVF-PQ query side: probes (with their coarse micro
    term) and the LUT broadcast; sort-merge joins may key ONLY on the
    high-cardinality corpus/vector id (codes x residual-assignment),
    never on centroid/subspace/cluster keys."""
    p = _plan(spark, "ann_ivfpq_residual_topk")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    import re

    smj_ids = re.findall(r"SortMergeJoin \w+ \((\d+)\)", p)
    for sid in smj_ids:
        m = re.search(
            rf"\({sid}\) SortMergeJoin\nLeft keys \[\d+\]: \[(\w+)", p
        )
        assert m and (
            m.group(1).startswith("corpus_id") or m.group(1).startswith("__id")
        ), (sid, m and m.group(1))


def test_rerank_fetch_is_semi_join_no_cartesian(spark):
    """The rerank stage must fetch candidate vectors via a broadcast
    semi-join and never degrade to a cartesian pairing of queries x
    corpus — the whole point is scoring |Q| x k' pairs, not |Q| x n."""
    p = _plan(spark, "ann_ivfpq_rerank_topk")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_dormant_customers_scalar_broadcast_anti_join(spark):
    """Q22 shape: the scalar threshold broadcasts (never a per-row
    correlated subquery) and dormancy is a single anti join — no
    cartesian anywhere."""
    p = _plan(spark, "dormant_rich_customers")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_kanon_suppression_is_semi_join_no_window(spark):
    """The k-anonymity gate must stay an aggregation + LEFT SEMI join
    back — a window count over the corpus would shuffle AND sort every
    row into quasi-tuple partitions (operators/privacy.py docstring)."""
    from gcp_data_pipeline_fyp_spark.operators.privacy import (
        suppress_small_groups,
    )

    df = spark.createDataFrame(
        [(1, "en", 100), (2, "en", 100), (3, "de", 200)],
        "doc_id int, lang string, band int",
    )
    plan = (
        suppress_small_groups(df, ["lang", "band"], 2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LeftSemi" in plan, plan
    assert "Window" not in plan, plan


def test_label_propagation_round_has_no_window(spark):
    """The per-round argmax label must be an aggregation
    (max(struct(c,-lbl))), never a row_number window over candidate
    rows — no per-node sort at scale."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a bigint, id_b bigint"
    )
    plan = (
        label_propagation(edges, iters=1)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "Window" not in plan, plan


def test_scd2_snapshot_single_exchange_for_both_windows(spark):
    """scd2_snapshot's two window passes (lag to open versions, lead
    to close them) partition on the same entity key — the physical
    plan must contain exactly ONE exchange keyed on it, not two."""
    from gcp_data_pipeline_fyp_spark.operators.scd import scd2_snapshot

    feed = spark.createDataFrame(
        [(1, "a", 10, 1)], "uid int, attr string, t int, eid int"
    )
    out = scd2_snapshot(feed, ["uid"], ["attr"], "t", ["eid"])
    phys = out._jdf.queryExecution().executedPlan().toString()
    n_hash_exchanges = phys.count("hashpartitioning(uid")
    assert n_hash_exchanges == 1, phys


def test_fuzzy_pairs_blocks_over_distinct_texts(spark):
    """The variant join must run over DISTINCT texts (duplicate
    strings would otherwise square inside every bucket before the
    verify); the record-id expansion happens after. Guard: both join
    inputs aggregate on the text before any id appears."""
    from gcp_data_pipeline_fyp_spark.operators.linkage import fuzzy_pairs

    df = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "ab")], "id int, name string"
    )
    plan = (
        fuzzy_pairs(df, "id", "name")
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # the deduplicating aggregate over the text column survives
    # optimization on both variant sides
    assert plan.count("Aggregate [__t") >= 2, plan


def test_q6_shape_pushes_all_predicates_to_scan(spark):
    """The Q6-shape probe's whole WHERE clause must reach the parquet
    scan: Catalyst rewrites to_date(ts) >= d into pushable timestamp
    bounds, and discount/quantity bands push as-is. ReadSchema stays
    at the 4 referenced columns."""
    import re

    phys = _plan(spark, "forecast_revenue_change")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", phys)
    assert m, phys
    pushed = m.group(1)
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, pushed
    m2 = re.search(r"ReadSchema: struct<([^>]*)>", phys)
    assert m2 and len(m2.group(1).split(",")) == 4, phys


def test_registry_sample_has_no_cartesian_or_row_udf(spark):
    """Registry-wide plan invariant, pinned on a fast cross-family
    sample (tools/check_correctness.py checks every probe): no
    CartesianProduct (a non-broadcast cross join) and no
    BatchEvalPython (a row-at-a-time Python UDF) anywhere in a probe's
    physical plan."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sample = [
        "star_schema_fact", "pricing_summary", "market_share_by_year",
        "quarter_top_supplier", "part_supplier_counts",
        "excess_ship_suppliers", "event_sequence_patterns",
        "source_znormalized_tokens", "minhash_lsh_pairs",
        "ann_cosine_topk", "bm25_search", "retention_cohorts",
    ]
    for name in sample:
        plan = (
            qs[name](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


# r13 (VERDICT r12 item 9): the 15 drift-calibration legs' pins
# (bench.py R01_CALIBRATION) are only valid while their PLANS are
# unchanged — a plan change silently corrupts every normalized
# number. One signature invariant per leg: the operator-type
# histogram of the formatted plan at sf0.001. Any intentional plan
# change to a calibration leg must re-base the bench pin in the same
# session (record it in BASELINE.md) and update the histogram here.
CALIBRATION_PLAN_PINS = {
    "bpe_pair_counts": {"AdaptiveSparkPlan": 1, "Exchange": 3, "Filter": 1, "Generate": 2, "HashAggregate": 4, "Project": 1, "Scan": 1, "TakeOrderedAndProject": 1},
    "epoch_shuffle_order": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 5, "Filter": 2, "HashAggregate": 2, "Project": 6, "Scan": 2, "Sort": 2, "Window": 2},
    "heavy_hitter_tokens": {"AdaptiveSparkPlan": 1, "Exchange": 2, "Filter": 2, "Generate": 1, "HashAggregate": 2, "Scan": 1},
    "measure_totals_by_type": {"AdaptiveSparkPlan": 1, "Exchange": 1, "HashAggregate": 2, "Scan": 1},
    "order_priority_count": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 1, "Filter": 2, "HashAggregate": 2, "Project": 3, "Scan": 2},
    "pricing_summary": {"AdaptiveSparkPlan": 1, "Exchange": 1, "Filter": 1, "HashAggregate": 2, "Project": 1, "Scan": 1},
    "quantile_rollup": {"AdaptiveSparkPlan": 1, "Exchange": 3, "Filter": 2, "HashAggregate": 8, "Project": 4, "Scan": 2, "Sort": 1, "Union": 1, "Window": 2},
    "region_nation_revenue": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 4, "BroadcastHashJoin": 4, "Exchange": 1, "Filter": 5, "HashAggregate": 2, "Project": 4, "Scan": 5},
    "rollup_type_day": {"AdaptiveSparkPlan": 1, "Exchange": 1, "Expand": 1, "HashAggregate": 2, "Project": 1, "Scan": 1},
    "running_customer_spend": {"AdaptiveSparkPlan": 1, "Exchange": 1, "Project": 2, "Scan": 1, "Sort": 1, "Window": 1},
    "sessionize_events": {"AdaptiveSparkPlan": 1, "Exchange": 1, "Project": 3, "Scan": 1, "Sort": 1, "Window": 2},
    "simhash": {"AdaptiveSparkPlan": 1, "Exchange": 1, "Project": 1, "Scan": 1},
    "text_quality": {"AdaptiveSparkPlan": 1, "Exchange": 1, "Project": 1, "Scan": 1},
    "top_revenue_orders": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 2, "BroadcastHashJoin": 2, "Exchange": 1, "Filter": 3, "HashAggregate": 2, "Project": 5, "Scan": 3, "TakeOrderedAndProject": 1},
    "url_host_stats": {"AdaptiveSparkPlan": 1, "Exchange": 4, "HashAggregate": 4, "Project": 2, "Scan": 1, "Sort": 1},
}


def _plan_signature(spark, name: str) -> dict:
    import re
    from collections import Counter

    sig = Counter()
    for m in re.finditer(r"^\(\d+\) ([A-Za-z]+)", _plan(spark, name), re.M):
        sig[m.group(1)] += 1
    return dict(sig)


@pytest.mark.parametrize("leg", sorted(CALIBRATION_PLAN_PINS))
def test_calibration_leg_plan_pinned(spark, leg):
    assert _plan_signature(spark, leg) == CALIBRATION_PLAN_PINS[leg], (
        f"calibration leg '{leg}' changed plan shape: its bench.py "
        "R01_CALIBRATION pin must be re-based in the same session "
        "(BASELINE.md) before this histogram is updated"
    )


# The drift family (operators/profile.py) and the distribution-matching
# samplers (operators/sampling.py) share one binning step, one PSI
# algebra, one KS core and one rate algebra; a change to any of them
# moves several of these probes' plans at once. Same signature as
# above (operator-type histogram of the formatted plan at sf0.001), so
# a plan regression in the family fails here without any timing.
DRIFT_PLAN_PINS = {
    "ivf_retrain_decision": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 2, "BroadcastNestedLoopJoin": 2, "Exchange": 9, "Filter": 4, "HashAggregate": 6, "ObjectHashAggregate": 4, "Project": 9, "Scan": 4, "Sort": 3, "SortMergeJoin": 1, "Window": 1},
    "ks_binned_drift": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 2, "BroadcastNestedLoopJoin": 2, "Exchange": 5, "Filter": 5, "HashAggregate": 10, "Project": 10, "Scan": 4, "Sort": 3, "SortMergeJoin": 1, "Window": 2},
    "ks_drift_report": {"AdaptiveSparkPlan": 1, "Exchange": 6, "Filter": 4, "HashAggregate": 6, "Project": 6, "Scan": 2, "Sort": 4, "SortMergeJoin": 1, "Window": 2},
    "lang_mix_drift": {"AdaptiveSparkPlan": 1, "Exchange": 4, "Filter": 4, "HashAggregate": 6, "Project": 4, "Scan": 2, "Sort": 4, "SortMergeJoin": 1, "Window": 1},
    "length_match_by_lang": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 7, "BroadcastHashJoin": 7, "Exchange": 21, "Filter": 11, "HashAggregate": 18, "Project": 23, "Scan": 9, "Sort": 7, "SortAggregate": 4, "SortMergeJoin": 1},
    "length_match_sample": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 7, "BroadcastHashJoin": 5, "BroadcastNestedLoopJoin": 2, "Exchange": 21, "Filter": 11, "HashAggregate": 18, "Project": 23, "Scan": 9, "Sort": 3, "SortAggregate": 4, "SortMergeJoin": 1},
    "psi_drift_report": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 4, "BroadcastHashJoin": 4, "Exchange": 6, "Filter": 6, "Generate": 1, "HashAggregate": 12, "Project": 10, "Scan": 5, "Sort": 2, "Window": 1},
}


@pytest.mark.parametrize("probe", sorted(DRIFT_PLAN_PINS))
def test_drift_probe_plan_pinned(spark, probe):
    assert _plan_signature(spark, probe) == DRIFT_PLAN_PINS[probe]


# Every probe that runs a distributed prefix sum (operators/prefix.py),
# pinned like the drift family above. The histograms are the ones the
# hand-written two-level scans had, except `pack_sequences`: its
# bucket is now coalesced for NULL ids, so the offsets join infers no
# `isnotnull(bucket)` Filter on either side (Filter 2 -> 0).
# `epoch_shuffle_order` is pinned in CALIBRATION_PLAN_PINS.
PREFIX_PLAN_PINS = {
    "blend_floor_docs": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 19, "BroadcastHashJoin": 19, "Exchange": 70, "Filter": 21, "Generate": 18, "HashAggregate": 86, "ObjectHashAggregate": 4, "Project": 65, "Scan": 21, "Sort": 9, "SortMergeJoin": 1, "Window": 6},
    "classifier_auc": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 3, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 2, "Exchange": 8, "Filter": 4, "HashAggregate": 12, "Project": 10, "Scan": 4, "Sort": 2, "Window": 2},
    "customer_spend_gini_global": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 3, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 2, "Exchange": 12, "Filter": 4, "HashAggregate": 20, "Project": 10, "Scan": 4, "Sort": 2, "Window": 2},
    "dsir_budget_docs": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 19, "BroadcastHashJoin": 9, "BroadcastNestedLoopJoin": 10, "Exchange": 65, "Filter": 25, "Generate": 20, "HashAggregate": 62, "Project": 53, "Scan": 28, "Sort": 18, "SortMergeJoin": 8, "Window": 2},
    "pack_sequences": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 5, "HashAggregate": 2, "Project": 6, "Scan": 2, "Sort": 2, "Window": 2},
    "rank_blend_scores": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 6, "BroadcastHashJoin": 6, "Exchange": 15, "Filter": 5, "Generate": 6, "HashAggregate": 28, "Project": 21, "Scan": 7, "Sort": 2, "Window": 2},
    "token_budget_mix": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 5, "Filter": 4, "HashAggregate": 2, "Project": 6, "Scan": 2, "Sort": 2, "Window": 2},
    "unimax_epoch_mix_docs": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 5, "BroadcastHashJoin": 5, "Exchange": 15, "Filter": 10, "Generate": 2, "HashAggregate": 10, "Project": 15, "Scan": 6, "Sort": 4, "Window": 6},
    "unimax_mix_docs": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 5, "Filter": 4, "HashAggregate": 2, "Project": 6, "Scan": 2, "Sort": 2, "Window": 2},
    "weighted_interleave_order": {"AdaptiveSparkPlan": 1, "BroadcastExchange": 1, "BroadcastHashJoin": 1, "Exchange": 6, "Filter": 3, "HashAggregate": 2, "Project": 7, "Scan": 2, "Sort": 3, "Window": 2},
}


@pytest.mark.parametrize("probe", sorted(PREFIX_PLAN_PINS))
def test_prefix_probe_plan_pinned(spark, probe):
    assert _plan_signature(spark, probe) == PREFIX_PLAN_PINS[probe]
