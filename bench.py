#!/usr/bin/env python3
"""Benchmark the engine's headline queries.

Runs each headline query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries are forced with the `noop` sink (full computation, no write
cost). The headline set spans the engine's surface: star-schema build,
shuffled joins + aggregations, window functions, dedup (exact +
MinHash LSH), text metrics, and ANN top-k.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gcp_data_pipeline_fyp_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "star_schema_fact",
    "pricing_summary",
    "top_revenue_orders",
    "region_nation_revenue",
    "order_priority_count",
    "running_customer_spend",
    "sessionize_events",
    "measure_totals_by_type",
    "rollup_type_day",
    "dedup_exact_stats",
    "text_quality",
    "simhash",
    "minhash_lsh_pairs",
    "ann_cosine_topk",
    # the approximate variants — what a 100 TB job would actually run —
    # get tracked numbers, not just recall tests
    "ann_lsh_topk",
    "embedding_neardup_lsh",
    "corpus_prep",
    # round-2b families: lexical ranking, sketch-verified heavy
    # hitters, graph centrality over the LSH pair graph
    "tfidf_top_terms",
    "heavy_hitter_tokens",
    "pagerank_sim_graph",
    # round-2c: span-level boilerplate scrub + mergeable percentile states
    "paragraph_dedup",
    "quantile_rollup",
    # round-3: exact-substring window dedup (the heaviest per-byte
    # dedup measurement — n_tokens x token-count digest rows)
    "substring_dup_report",
    # the flagship composition: quality -> decontaminate -> exact dedup
    # -> LSH closure -> split, one plan
    "corpus_prep_full",
    # round-4 families: single-pass validation suite, per-benchmark
    # contamination audit, BPE tokenizer-training statistic
    "expectations_report",
    "contamination_report",
    "bpe_pair_counts",
    # round-4b: model-based quality filter (train + score, one plan),
    # train/heldout digest-join leakage audit, scan-speed BPE apply
    "quality_classifier_scores",
    "split_leakage_report",
    "bpe_segment_counts",
    "ann_sq8_topk",
    # the model-gated successor of corpus_prep_full: distilled
    # classifier gate -> decontaminate -> dedup -> LSH closure -> split
    "corpus_prep_v2",
    # round-5: PQ/ADC top-k (codebook train + encode + LUT scan in one
    # plan) — the highest-compression ANN path gets tracked numbers
    "ann_pq_topk",
    # round-6: IVF-partitioned PQ — the composed 100 TB ANN layout
    # (coarse pruning x ADC compression)
    "ann_ivfpq_topk",
    # round-6 tail: SCD2 versioned-dimension build (window family) and
    # SymSpell-blocked fuzzy matching (linkage family) — new operator
    # classes get tracked numbers from their first round
    "scd2_user_state",
    "fuzzy_supplier_pairs",
    # round-6 close: the TPC-H 22-set closer with the widest join fan
    # (5-join star + conditional share), and the per-user sequential
    # pattern miner (distributed window + bounded pattern agg)
    "market_share_by_year",
    "event_sequence_patterns",
    # round-7: the drift-monitor suite — PSI (two snapshot scans +
    # groups*bins math), KS (the heaviest: pooled distinct-value
    # ECDF windows), embedding centroid drift (posexplode + decimal
    # means per snapshot)
    "psi_drift_report",
    "ks_drift_report",
    "embedding_drift",
    # round-7 tail: the grid-bucketed spatial join (cell explode +
    # equality join + haversine verify) and the key-level snapshot
    # diff (fact-sized full-outer join) — the round's two heaviest
    # new join shapes get tracked numbers from their first round
    "geo_radius_pairs",
    "snapshot_diff",
    # round-8: label propagation (the star-contraction community
    # rounds were previously untimed), the drift→retrain trigger (IVF
    # fit + two broadcast assignment passes + PSI), and the
    # distributed ungrouped Gini (tie-collapse + two-level prefix
    # rank — the no-global-sort path)
    "label_prop_communities",
    "ivf_retrain_decision",
    "customer_spend_gini_global",
    "bitext_margin_pairs",
    # round-8 tail: the two training-order ops (both are the
    # two-level-prefix shuffle shape over the full documents table)
    "epoch_shuffle_order",
    "weighted_interleave_order",
    # round-9: the bitext IVF scale path gets a tracked number (the
    # probe times brute + IVF + the agreement join in one plan — the
    # honest cost of the certification itself)
    "bitext_ivf_agreement",
    # round-9 tail: embedding-space decontamination (broadcast-bench
    # nested loop + map-side max), the persisted-LSH incremental
    # near-dup gate (index build + batch sign + band join in one
    # timed plan), and the pure-codegen URL canonicalizer riding a
    # full documents scan
    "semantic_contamination",
    "incremental_neardup",
    "url_host_stats",
    # winnowed substring dedup: same detection guarantee as
    # substring_dup_report at ~2/(w+1) the shuffled fingerprints —
    # the tracked number should show it cheaper than the full-window
    # leg it complements
    "winnow_dup_report",
    # incremental closure: index build + star-union-batch re-close in
    # one timed plan (the steady-state fold is the second half only)
    "incremental_components",
    # round-9 session 3: the Bloom runtime-filter semi join (bitmap
    # build + map-side prune + exact join on survivors — the shape
    # that replaces a fact-sized shuffle at 100 TB) and the MMR
    # diversity re-rank (k rounds of candidate-pool joins riding on a
    # brute-force retrieval stage)
    "bloom_semi_revenue",
    "mmr_rerank_topk",
    # canonical election: LSH pairs + closure + per-cluster argmax in
    # one timed plan (the election increment itself is cluster-sized)
    "quality_canonical_docs",
    # exact distributed AUC: distinct-score collapse + two-level
    # prefix rank over 10^5 continuous values — the no-global-sort
    # rank shape applied to model evaluation
    "classifier_auc",
    # round-10: the Bloom x decontamination composition (bench-digest
    # bitmap build + map-side gram prune + exact digest semi join +
    # id anti join in one timed plan) and hybrid retrieval fusion
    # (BM25 chain + brute cosine + integer RRF windows in one plan)
    "bloom_decontaminate",
    "rrf_hybrid_search",
    # round-10 session 3: ensemble blending (two midrank passes +
    # value-keyed rejoins over 10^5 events — the heaviest new shape),
    # the blend -> adaptive-floor composition over documents, nDCG
    # eval (brute + IVF + graded report in one plan), and dynamic
    # file pruning (range layout write + zonemap build + bounds +
    # pruned semi join, all timed)
    "rank_blend_scores",
    "blend_floor_docs",
    "ann_ivf_ndcg_eval",
    "dynamic_pruned_join",
    # round-11: the full hybrid pipeline as one timed plan (BM25 +
    # dense -> RRF pool -> 5-round greedy MMR over the pool) — the
    # end-to-end composition the three pieces above certify
    # separately. NOTE: rank_blend_scores / blend_floor_docs re-pin
    # this round — blend_scores is now the fused single-pass form
    # (one corpus aggregation onto the scorer-value vector + one
    # rejoin, N-independent) instead of one midrank pass per scorer.
    "hybrid_rerank_topk",
    # round-11 session 2: semantic near-dup pruning (deterministic
    # IVF fit + cluster-rank window + cluster-bounded pairwise
    # self-join + the prefix-greedy verdict join, one timed plan)
    "semdedup_docs",
    # round-11 session 4: DSIR importance-weighted selection — two
    # hashed-ngram profile fits (B-key aggregates), broadcast
    # log-ratio join over the exploded corpus features, decimal
    # per-doc sums, Gumbel top-k (TakeOrderedAndProject); timed as
    # the full select-from-scratch plan
    "dsir_sample_docs",
    # round-12: UniMax epoch expansion (water-fill alloc + broadcast
    # epoch plan + two-level per-(stratum, epoch) prefix, one timed
    # plan with real repetition), the persisted-profile DSIR path
    # (build-both-profiles + indexed scoring — the AMORTIZED build
    # cost; the steady-state scoring half is the separate
    # dsir_indexed_scoring leg below), and the composed pipeline
    # with its new semantic stage (corpus_prep_v2 + embeddings join +
    # SemDeDup + anti-join, one plan)
    "unimax_epoch_mix_docs",
    "dsir_indexed",
    "corpus_prep_v3",
    # r12 session 2: PII redaction — pure codegen regexp chain over
    # the full documents scan (the anonymization stage's scan-speed
    # cost at release time) — and token-window chunking (posexplode
    # over projected token slices, zero shuffles; the
    # split-to-context-length stage)
    "pii_redact_docs",
    "chunk_docs",
]

# The non-HEADLINE legs main() adds, in execution order. HEADLINE +
# AUX_LEGS is the exact key order of the emitted timing maps — and of
# the final line's `qv` values array (see format_output_lines), which
# is how the driver's tail capture recovers per-leg seconds now that
# the named map has outgrown the 2000-char window.
AUX_LEGS = [
    "pipeline_full_load",
    "pipeline_delta_load",
    "streaming_validated_ingest",
    "streaming_sessionize",
    "streaming_drift_monitor",
    "text_index_build",
    "text_index_query",
    "zonemap_build",
    "zonemap_pruned_query",
    "zonemap_full_scan_query",
    "dsir_indexed_scoring",
    "incremental_neardup_steady",
]

# Machine-drift calibration: reference seconds at r01 machine speed
# (sf0.1, 32 cpus) for headline queries whose PLANS are unchanged
# since round 1. Every bench run reports current/pin ratios over this
# set; a plan regression shows as one query's ratio diverging from
# the set's median, while ambient machine drift moves the whole set
# together. Only update a pin when its plan intentionally changes.
#
# r12 protocol re-base: the original pins were SINGLE
# first-in-bench-pass timings;
# the first pass runs ~1.2-5x the warm repeats (measured per leg:
# simhash 1.42 s first vs 0.28 s warm) and that warm-up factor
# DIFFERS per leg, so median-of-3 timings can never cohere against
# first-pass pins. These pins are the per-leg MEDIAN-OF-3-warm
# values measured in the re-base session, divided by that same
# session's old-protocol drift median (1.29 — consistent with the
# r11 driver's 1.335), i.e. med3 seconds at r01 machine speed. Any
# one-time scale error in that 1.29 is SHARED by all eight pins, so
# it shifts every future drift_median by a constant factor and
# cancels in cross-round comparisons.
R01_CALIBRATION = {
    "pricing_summary": 1.241,
    "top_revenue_orders": 0.642,
    "region_nation_revenue": 1.157,
    "order_priority_count": 0.667,
    "running_customer_spend": 0.423,
    "sessionize_events": 0.364,
    "text_quality": 0.338,
    "simhash": 0.223,
    # r12 session-2 widening (the VERDICT r11 ask: 8 legs gave the
    # drift median a 0.03-0.17 MAD/median band depending on window —
    # too coarse to call a 1.3x per-leg move). 7 more stable,
    # shape-diverse, untouched-plan legs (agg rollup, sketch
    # percentile, token explode+agg, two-level prefix shuffle, regex
    # scan). Pins = per-leg MEDIAN over THREE separate 5-rep warm
    # sessions, each divided by ITS OWN session's pinned-8-leg drift
    # (sessions measured drift 1.56-1.72, MAD/med 0.042-0.054; per-leg
    # pin spread across the three sessions <= ~12%). The candidate
    # dedup_exact_stats was measured and EXCLUDED (0.48-0.65 spread —
    # too volatile to pin). Old 8-leg drift numbers remain comparable:
    # the median over 15 shifts only within the pinned-8 MAD band.
    "measure_totals_by_type": 0.177,
    "rollup_type_day": 0.256,
    "heavy_hitter_tokens": 0.781,
    "quantile_rollup": 0.749,
    "bpe_pair_counts": 0.623,
    "epoch_shuffle_order": 0.831,
    "url_host_stats": 0.648,
}


def _usgs_csv_from_events(spark, sf_dir: str, out_path: str) -> None:
    """Deterministically shape the events table into the 22-col USGS feed
    so the faithful five-stage pipeline can be benchmarked at sf scale
    (the reference's whole-month loads are 10^4-10^5 rows; sf0.1 events
    is 10^5)."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.queries_util import load

    ev = load(spark, sf_dir, "events")
    places = [
        "southern Mid-Atlantic Ridge",
        "12km SW of Ridgecrest, California",
        "5km N of Anza, CA",
        "80km NE of Hihifo, Tonga",
        "Kermadec Islands, New Zealand",
        "",
    ]
    place = F.element_at(
        F.array(*[F.lit(p) for p in places]), (F.col("user_id") % 6 + 1).cast("int")
    )
    typ = F.when(F.col("event_type") == "purchase", "explosion").when(
        F.col("event_type") == "error", "ice quake"
    ).otherwise("earthquake")
    k = F.regexp_extract("props", "[0-9]+", 0).try_cast("double")
    raw = ev.select(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("time"),
        (F.col("user_id") % 180 - 90).cast("double").alias("latitude"),
        (F.col("event_id") % 360 - 180).cast("double").alias("longitude"),
        F.col("value").alias("depth"),
        (F.col("value") / 20.0).alias("mag"),
        F.lit("ml").alias("magType"),
        (F.col("event_id") % 200).alias("nst"),
        (k % 360).alias("gap"),
        (k / 10).alias("dmin"),
        F.lit(1.1).alias("rms"),
        F.element_at(
            F.array(F.lit("us"), F.lit("ak"), F.lit("ci")),
            (F.col("user_id") % 3 + 1).cast("int"),
        ).alias("net"),
        F.concat(F.lit("ev"), F.col("event_id")).alias("id"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("updated"),
        place.alias("place"),
        typ.alias("type"),
        (k / 20).alias("horizontalError"),
        (k % 60).alias("depthError"),
        (k / 100).alias("magError"),
        (F.col("event_id") % 300).alias("magNst"),
        F.lit("reviewed").alias("status"),
        F.lit("us").alias("locationSource"),
        F.lit("us").alias("magSource"),
    )
    tmp = out_path + ".dir"
    raw.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    shutil.move(part, out_path)
    shutil.rmtree(tmp)


def _bench_pipeline(spark, sf_dir: str, timings: dict) -> None:
    import datetime
    import shutil
    import tempfile

    from gcp_data_pipeline_fyp_spark.plans.pipeline import run_pipeline
    from gcp_data_pipeline_fyp_spark.sources.states import states_df

    work = tempfile.mkdtemp(prefix="bench_pipeline_")
    try:
        full_csv = os.path.join(work, "whole_month_202401.csv")
        _usgs_csv_from_events(spark, sf_dir, full_csv)
        states = states_df(spark)
        wh_root = os.path.join(work, "wh")
        t0 = time.perf_counter()
        run_pipeline(
            spark, full_csv, states, wh_root,
            run_ts=datetime.datetime(2024, 2, 1, 3, 0),
        )
        timings["pipeline_full_load"] = round(time.perf_counter() - t0, 3)

        # delta: ~20% of the full file re-delivered (dedup path) plus the
        # same rows time-shifted +400 days (new ids -> incremental dims,
        # appended fact rows, MERGE upsert)
        import csv as _csv

        delta_csv = os.path.join(work, "all_day_20240215_120000.csv")
        with open(full_csv) as fin, open(delta_csv, "w", newline="") as fout:
            r = _csv.reader(fin)
            w = _csv.writer(fout)
            header = next(r)
            w.writerow(header)
            for i, row in enumerate(r):
                if i % 5 == 0:
                    w.writerow(row)  # duplicate re-delivery
                    shifted = list(row)
                    shifted[0] = "2025-" + shifted[0][5:]  # new year -> new id
                    shifted[12] = shifted[0]
                    w.writerow(shifted)
        t0 = time.perf_counter()
        run_pipeline(
            spark, delta_csv, states, wh_root,
            run_ts=datetime.datetime(2024, 2, 16, 3, 0),
        )
        timings["pipeline_delta_load"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench_streaming(spark, sf_dir: str, timings: dict) -> None:
    """AvailableNow streaming micro-bench: validated CSV ingest (rules
    + quarantine + merge) of the sf events feed, then the stateful
    sessionizer over the merged table as a parquet stream. The batch
    surface has per-round numbers; this gives the streaming surface
    the same cross-round tracking (r6)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        in_range,
        not_null,
    )
    from gcp_data_pipeline_fyp_spark.queries_util import load
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
    from gcp_data_pipeline_fyp_spark.streaming.ingest import (
        stream_validated_ingest,
    )
    from gcp_data_pipeline_fyp_spark.streaming.sessionize import (
        sessionize_stream,
    )

    schema = "event_id long, ts timestamp, event_type string, value double"
    work = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        in_dir = os.path.join(work, "in")
        # 4 csv files -> the source has multiple splits to ingest
        load(spark, sf_dir, "events").select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "event_type",
            "value",
        ).repartition(4).write.option("header", True).csv(in_dir)
        wh = Warehouse(spark, os.path.join(work, "wh"))
        rules = [not_null("event_type"), in_range("value", -1e9, 1e9)]
        t0 = time.perf_counter()
        q = stream_validated_ingest(
            spark, in_dir, schema, ["event_id"], "ts", wh, "EV",
            os.path.join(work, "ckpt_ingest"), rules,
            quarantine_table="Q", report_table="LOG",
        )
        q.awaitTermination(600)
        timings["streaming_validated_ingest"] = round(
            time.perf_counter() - t0, 3
        )

        expected = wh.read("EV").count()
        ev_stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, event_type string, value double"
            ).parquet(wh.path("EV"))
            # the sessionizer keys on user_id; derive one from event_id
            .withColumn("user_id", F.col("event_id") % 1024)
        )
        sessions = sessionize_stream(ev_stream, gap_seconds=1800.0)
        t0 = time.perf_counter()
        q2 = (
            sessions.writeStream.format("noop")
            .option(
                "checkpointLocation", os.path.join(work, "ckpt_sess")
            )
            .trigger(availableNow=True)
            .start()
        )
        # AvailableNow + ProcessingTimeTimeout does NOT self-terminate:
        # after the data batches the engine keeps scheduling zero-data
        # batches to evaluate pending state timeouts. Poll progress and
        # stop once every input row has been processed — the measured
        # wall is the data processing, which is what the bench tracks.
        # r12 measurement-precision fix (OPTIMIZATION_r12.md): the
        # poll slept in 2 s awaitTermination slices, so the leg's wall
        # overshot actual batch completion by up to 2 s of pure
        # quantization (measured: batch done at 6.05 s, wall 8.11 s).
        # Same methodology — poll until full input coverage — at
        # 0.25 s granularity.
        seen_batches: set = set()
        processed = 0
        while time.perf_counter() - t0 < 300:
            finished = q2.awaitTermination(0.25)
            for p in q2.recentProgress:
                if p["batchId"] not in seen_batches:
                    seen_batches.add(p["batchId"])
                    processed += p["numInputRows"]
            if finished or processed >= expected:
                break
        timings["streaming_sessionize"] = round(time.perf_counter() - t0, 3)
        q2.stop()

        # streaming drift monitor (r7): profile fitted once from the
        # first month-half, the second half streamed as 4 files —
        # per-batch bin counts fold into replay-guarded state and the
        # per-group PSI appends to the report table
        from gcp_data_pipeline_fyp_spark.operators.profile import (
            fit_psi_profile,
        )
        from gcp_data_pipeline_fyp_spark.streaming.ingest import (
            stream_drift_monitor,
        )

        ev = load(spark, sf_dir, "events")
        wh.overwrite(
            fit_psi_profile(
                ev.filter(F.dayofmonth("ts") <= 15), "value",
                ["event_type"], 10,
            ),
            "DRIFT_PROFILE",
        )
        drift_in = os.path.join(work, "drift_in")
        ev.filter(F.dayofmonth("ts") > 15).select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "event_type",
            "value",
        ).repartition(4).write.option("header", True).csv(drift_in)
        t0 = time.perf_counter()
        q3 = stream_drift_monitor(
            spark, drift_in, schema, "value", ["event_type"], wh,
            "DRIFT_PROFILE", "DRIFT_STATE", "DRIFT_REPORT",
            os.path.join(work, "ckpt_drift"), n_bins=10,
        )
        q3.awaitTermination(600)
        timings["streaming_drift_monitor"] = round(
            time.perf_counter() - t0, 3
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench_text_index(spark, sf_dir: str, timings: dict) -> None:
    """Persisted inverted-index micro-bench: one build over the sf
    documents table, then a 3-term BM25 query against it (static
    bucket pruning). The build-once/query-many split is the index's
    whole point — tracking both keeps the amortization claim honest
    across rounds (r6)."""
    import shutil
    import tempfile

    from gcp_data_pipeline_fyp_spark.operators.search import (
        build_text_index,
        query_text_index,
    )
    from gcp_data_pipeline_fyp_spark.queries_util import load
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    work = tempfile.mkdtemp(prefix="bench_tix_")
    try:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        wh = Warehouse(spark, os.path.join(work, "wh"))
        t0 = time.perf_counter()
        build_text_index(wh, docs, "doc_id", "text", "ix", n_buckets=64)
        timings["text_index_build"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        out = query_text_index(
            wh, spark, ["spark", "table", "join"], "ix", k=10
        )
        out.write.mode("overwrite").format("noop").save()
        timings["text_index_query"] = round(time.perf_counter() - t0, 3)
        out.unpersist()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench_dsir_indexed_scoring(spark, sf_dir: str, timings: dict) -> None:
    """Steady-state DSIR: profiles built ONCE (untimed — that is what
    the index amortizes), then the scoring half timed alone. This is
    the number a daily selection batch pays at 100 TB; the headline
    `dsir_indexed` leg times build+score (the cold path) for
    comparison."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.dsir import (
        build_dsir_profiles,
        dsir_logweights_indexed,
    )
    from gcp_data_pipeline_fyp_spark.queries_util import load
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    work = tempfile.mkdtemp(prefix="bench_dsir_")
    try:
        wh = Warehouse(spark, work)
        d = load(spark, sf_dir, "documents")
        build_dsir_profiles(
            wh, d, None, "DSB", target_filter=F.col("lang") == "en"
        )
        t0 = time.perf_counter()
        dsir_logweights_indexed(wh, d, "doc_id", "DSB").write.mode(
            "overwrite"
        ).format("noop").save()
        timings["dsir_indexed_scoring"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench_incremental_neardup_steady(
    spark, sf_dir: str, timings: dict
) -> None:
    """Steady-state incremental near-dup: the LSH band index over the
    base corpus (90% of documents) is built ONCE, untimed — that is
    what the index amortizes — then the daily-batch half alone is
    timed: sign the 10% batch, join the persisted (band, sig) table,
    pair batch-vs-batch. This is the number a daily ingest pays at
    100 TB; the headline `incremental_neardup` leg times build+fold
    (the cold path) for comparison. Added r13 (VERDICT r12 item 8:
    the steady-state claim had no committed probe row)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        build_lsh_index,
        incremental_neardup_indexed,
    )
    from gcp_data_pipeline_fyp_spark.queries_util import load
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    work = tempfile.mkdtemp(prefix="bench_ndup_")
    try:
        wh = Warehouse(spark, work)
        d = load(spark, sf_dir, "documents").select("doc_id", "text")
        base = d.filter(F.col("doc_id") % 10 != 0)
        fresh = d.filter(F.col("doc_id") % 10 == 0)
        # planted near-copies of base docs so the timed join produces a
        # non-degenerate pair set (same construction as the headline leg)
        plants = (
            base.filter(F.col("doc_id") % 50 == 1)
            .withColumn("doc_id", F.col("doc_id") + 1_000_000)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zq zr zs")))
        )
        batch = fresh.unionByName(plants)
        build_lsh_index(wh, base, "doc_id", "text", "NDUP")
        t0 = time.perf_counter()
        incremental_neardup_indexed(
            wh, batch, "doc_id", "text", "NDUP", update_index=False
        ).write.mode("overwrite").format("noop").save()
        timings["incremental_neardup_steady"] = round(
            time.perf_counter() - t0, 3
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench_zonemap(spark, sf_dir: str, timings: dict) -> None:
    """Zone-map micro-bench: one range-layout write + map build over
    the sf events table, then an interval query through the pruned
    scan vs the same filter over a full scan. The pruned/full pair is
    the data-skipping claim made measurable per round (r7)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.zonemap import (
        build_zonemap,
        read_pruned,
    )
    from gcp_data_pipeline_fyp_spark.queries_util import load
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    work = tempfile.mkdtemp(prefix="bench_zm_")
    try:
        wh = Warehouse(spark, work)
        ev = load(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "value"
        )
        t0 = time.perf_counter()
        wh.overwrite_range_layout(ev, "EV", ["value"], n_files=64)
        build_zonemap(wh, "EV", ["value"])
        timings["zonemap_build"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        read_pruned(wh, "EV", {"value": (100.0, 200.0)}).write.mode(
            "overwrite"
        ).format("noop").save()
        timings["zonemap_pruned_query"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        wh.read("EV").filter(
            F.col("value").between(100.0, 200.0)
        ).write.mode("overwrite").format("noop").save()
        timings["zonemap_full_scan_query"] = round(
            time.perf_counter() - t0, 3
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # shuffle partitions: session.default_shuffle_partitions (the core
    # count unless $SPARK_GRAFT_SHUFFLE sizes it, e.g. down for small
    # stateful streams)
    spark = get_spark(app_name="bench", cpus=cpus)
    timings: dict[str, float] = {}
    # drift calibration (only meaningful at the canonical sf0.1 /
    # 32-cpu config the pins were taken at): ratios vs pinned r01
    # numbers. r12 protocol, second revision — THREE warm calibration
    # sweeps INTERLEAVED through the run (after ~1/3, ~2/3 and all of
    # the headline legs), per-leg MEDIAN feeding the ratio:
    # - med-of-3 because single warm repeats swing up to ~60%
    #   (measured), which made the 8-leg single-shot median too coarse
    #   to separate ambient host load from a real 1.3x regression;
    # - INTERLEAVED because an end-of-run-only calibration measures
    #   the wrong window: a measured mid-run steal burst inflated a
    #   block of legs ~3x while the end-of-run calibration saw a calm
    #   1.48 drift, normalizing the total to nonsense. Sampling the
    #   ambient at three points across the run makes the drift
    #   represent the load the headline legs actually experienced.
    # The MAD reported below is the honest residual error bar.
    calibrate = sf == 0.1
    calib_times: dict[str, list] = (
        {q: [] for q in R01_CALIBRATION} if calibrate else {}
    )

    def _calibration_sweep() -> None:
        for q in calib_times:
            t0 = time.perf_counter()
            qs[q](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            calib_times[q].append(time.perf_counter() - t0)

    # warm the JVM + parquet footers with one cheap action
    qs["measure_total_events"](spark, sf_dir).collect()
    sweep_after = {len(HEADLINE) // 3, (2 * len(HEADLINE)) // 3}
    for i, name in enumerate(HEADLINE):
        fn = qs[name]
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        if calibrate and i in sweep_after:
            _calibration_sweep()
    _bench_pipeline(spark, sf_dir, timings)
    _bench_streaming(spark, sf_dir, timings)
    _bench_text_index(spark, sf_dir, timings)
    _bench_zonemap(spark, sf_dir, timings)
    _bench_dsir_indexed_scoring(spark, sf_dir, timings)
    _bench_incremental_neardup_steady(spark, sf_dir, timings)
    if calibrate:
        _calibration_sweep()
    total = round(sum(timings.values()), 3)
    detail: dict = {}
    drift_median = None
    value_normalized = None
    if calibrate:
        med = {
            q: sorted(ts)[len(ts) // 2] for q, ts in calib_times.items()
        }
        detail["calibration_runs"] = {
            q: [round(x, 3) for x in ts] for q, ts in calib_times.items()
        }
        ratios = {
            q: round(med[q] / r01, 2)
            for q, r01 in R01_CALIBRATION.items()
            if q in med
        }
        if ratios:
            s = sorted(ratios.values())
            mid = len(s) // 2
            drift_median = round(
                s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2, 3
            )
            # dispersion (median absolute deviation of the ratios, as
            # a fraction of the median): the error bar on every
            # normalized number below. With the r01 8-leg set the MAD
            # ran ~0.2 of the median — too coarse to call a 1.3x
            # per-leg move a regression; the 15-leg set (r12 widening
            # above) exists to shrink exactly this figure, and
            # per-leg regression verdicts should only be made against
            # moves OUTSIDE median * (1 +/- a few MADs).
            dev = sorted(abs(r - drift_median) for r in s)
            dmid = len(dev) // 2
            mad = dev[dmid] if len(dev) % 2 else (dev[dmid - 1] + dev[dmid]) / 2
            detail["drift_vs_r01"] = {
                "ratios": ratios,
                "median": drift_median,
                "mad": round(mad, 3),
                "mad_over_median": round(mad / drift_median, 3)
                if drift_median > 0
                else None,
                "n_calibration": len(s),
            }
            # drift-NORMALIZED numbers (seconds at r01 machine speed):
            # cross-round comparison without hand math — ambient host
            # load moves the whole calibration set together, so
            # dividing by its median cancels the shared factor while a
            # genuine plan regression still sticks out per-query
            if drift_median > 0:
                value_normalized = round(total / drift_median, 3)
                detail["queries_normalized"] = {
                    q: round(t / drift_median, 3) for q, t in timings.items()
                }
    # The driver captures only the last ~2000 chars of stdout; r05's
    # single fat line (raw + normalized + ratios) overflowed that window
    # and left BENCH_r05 unparseable. Detail (normalized map + per-query
    # ratios) goes to an EARLIER stdout line and a sidecar file; the
    # FINAL line is the compact driver-facing summary with the raw
    # per-query map.
    if detail:
        print("BENCH_DETAIL: " + json.dumps(detail))
        try:
            here = os.path.dirname(os.path.abspath(__file__))
            with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
                json.dump(
                    {"sf": sf, "value": total, "queries": timings, **detail},
                    fh,
                    indent=1,
                )
        except OSError:
            pass
    for line in format_output_lines(
        timings, total, sf, drift_median, value_normalized,
        detail.get("queries_normalized"),
    ):
        print(line)
    spark.stop()


def format_output_lines(
    timings: dict,
    total: float,
    sf: float | None,
    drift_median: float | None,
    value_normalized: float | None,
    queries_normalized: dict | None = None,
) -> list:
    """Driver-facing stdout lines; the FINAL one must stay inside the
    driver's ~2000-char tail-capture window (the r5 defect: one fat
    line overflowed it and BENCH_r05 parsed as null — the driver
    parses the final line FROM the 2000-char tail, so a final line
    longer than the window is unrecoverable). Unit-tested in
    tests/test_bench_output.py.

    r13 priority inversion (VERDICT r12 item 2 — the driver's
    per-query comparison went blind at 78+ legs): the RAW per-query
    map is the driver's regression signal, so it is the LAST field
    demoted off the final line; the drift-normalized map (cross-round
    detail, recoverable as raw / drift_median) demotes FIRST and
    survives in BENCH_DETAIL.json + its own earlier stdout line.

    At the current 85+ legs the raw map cannot fit the final line AT
    ALL: the leg names alone cost ~1800 chars with JSON punctuation,
    so names + values + required fields exceed the 2000-char capture
    no matter the precision (measured r13; renaming legs is forbidden
    by the bench contract). When the map is demoted, the final line
    instead carries `qv` — the SAME raw seconds as a values-only
    array in the map's exact key order (HEADLINE then the aux legs in
    execution order, == the key order of the adjacent BENCH_QUERIES
    line and of BENCH_DETAIL.json's "queries") — which fits at any
    realistic leg count, so a tail capture of the final line alone
    still recovers every leg's raw seconds. The full named map is
    printed IMMEDIATELY before the final line so the window keeps the
    longest possible suffix of it for eyeball cross-checks."""
    lines = []
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_queries": len(timings),
    }
    if drift_median is not None:
        out["drift_median"] = drift_median
    if value_normalized is not None:
        out["value_normalized"] = value_normalized
    if queries_normalized:
        out["queries_normalized"] = queries_normalized
    # compact separators throughout: at 60+ legs the default ", "/": "
    # spacing alone costs ~130 chars of the 1900-char budget
    compact = {"separators": (",", ":")}
    line = json.dumps(out, **compact)
    if len(line) > 1900 and "queries_normalized" in out:
        lines.append(
            "BENCH_QUERIES_NORMALIZED: "
            + json.dumps(out.pop("queries_normalized"), **compact)
        )
        line = json.dumps(out, **compact)
    if len(line) > 1900:
        lines.append(
            "BENCH_QUERIES: " + json.dumps(out.pop("queries"), **compact)
        )
        out["qv"] = [round(v, 2) for v in timings.values()]
        out["detail_file"] = "BENCH_DETAIL.json"
        line = json.dumps(out, **compact)
    if len(line) > 1900:
        # backstop for a far larger future leg count: qv goes to its
        # own line too; the final line stays small and parseable
        lines.append(
            "BENCH_QV: " + json.dumps(out.pop("qv"), **compact)
        )
        line = json.dumps(out, **compact)
    lines.append(line)
    return lines


if __name__ == "__main__":
    main()
