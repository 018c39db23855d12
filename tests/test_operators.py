"""Operator-level tests: place parse, keys, merge, quality gate, dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.geo import build_states_lookup, parse_place
from gcp_data_pipeline_fyp_spark.operators.dedup import (
    exact_dedup,
    exact_dup_stats,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_groups,
)
from gcp_data_pipeline_fyp_spark.operators.keys import new_dimension_rows
from gcp_data_pipeline_fyp_spark.operators.merge import merge_upsert
from gcp_data_pipeline_fyp_spark.operators.quality import quality_split, reject_predicate
from gcp_data_pipeline_fyp_spark.sources.states import states_df


def _place(spark, place):
    df = spark.createDataFrame([(place,)], "LB_place string")
    out = parse_place(df, build_states_lookup(states_df(spark)))
    r = out.first()
    return (r["LB_Region"], r["LB_Country"])


def test_states_lookup_is_an_inline_table(spark, tmp_path):
    """The states and their lookup plan as LocalRelations — no Python
    RDD scan, no job to build or collect them — and the lookup maps
    each name and each abbreviation to the name; quotes and
    backslashes survive the inline table's literals. Broadcasting the
    lookup is still a job: `parse_place` over a parquet scan runs one
    more than the bare scan."""
    from gcp_data_pipeline_fyp_spark.functions.geo import string_table
    from gcp_data_pipeline_fyp_spark.sources.states import US_STATES

    sc = spark.sparkContext
    sc.setJobGroup("states-lookup", "states-lookup")
    try:
        lookup = build_states_lookup(states_df(spark))
        got = {(r["__state_key"], r["__state_name"]) for r in lookup.collect()}
        odd = [tuple(r) for r in string_table(spark, [("O'Hare \\ x", None)], ["a", "b"]).collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("states-lookup") == []
    places = str(tmp_path / "places")
    spark.createDataFrame([("5km N of Anza, CA",), ("x",)], "LB_place string").write.parquet(places)
    scan = spark.read.schema("LB_place string").parquet(places)
    n_jobs = []
    for group, frame in (("states-scan", scan), ("states-parse", parse_place(scan, lookup))):
        sc.setJobGroup(group, group)
        try:
            parsed = frame.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert n_jobs == [1, 2]
    assert sorted((r["LB_Region"], r["LB_Country"]) for r in parsed) == [
        ("California", "USA"), ("x", None),
    ]
    for df in (states_df(spark), lookup):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
    assert got == {(n, n) for n, _a in US_STATES} | {(a, n) for n, a in US_STATES}
    assert odd == [("O'Hare \\ x", None)]


def test_place_no_comma(spark):
    # parse_country_ods_full_load2.py:36-76 case grid
    assert _place(spark, "southern Mid-Atlantic Ridge") == (
        "southern Mid-Atlantic Ridge", None,
    )


def test_place_state_full_name(spark):
    assert _place(spark, "12km SW of Ridgecrest, California") == ("California", "USA")


def test_place_state_abbreviation(spark):
    assert _place(spark, "5km N of Anza, CA") == ("California", "USA")


def test_place_of_capture_foreign(spark):
    assert _place(spark, "80km NE of Hihifo, Tonga") == ("Hihifo", "Tonga")


def test_place_no_of_foreign(spark):
    assert _place(spark, "Kermadec Islands, New Zealand") == (
        "Kermadec Islands", "New Zealand",
    )


def test_place_multiple_of(spark):
    # rightmost `of` capture: regex `of\s+(.+)$` is greedy from the FIRST
    # `of` — the reference searches, matching the first 'of' then taking
    # everything after it
    region, country = _place(spark, "north of east of Somewhere, Fiji")
    assert country == "Fiji"
    assert region == "east of Somewhere"


def test_surrogate_keys_dense_and_ordered(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",), ("a",), (None,)], "k string")
    dim = new_dimension_rows(df, {"d": (["k"], "id")})["d"].collect()
    got = {r["k"]: r["id"] for r in dim}
    # NULLS FIRST pinned (SURVEY.md §7): None=1, then a,b,c
    assert got == {None: 1, "a": 2, "b": 3, "c": 4}


def test_surrogate_keys_multi_matches_single(spark):
    """Several dimensions numbered by one call must equal each dimension
    numbered alone (distinct set, NULLS-FIRST dense numbering, schema),
    including NULL keys and values shared across dims."""
    df = spark.createDataFrame(
        [("b", "x"), ("a", None), ("c", "x"), ("a", "y"), (None, "b")],
        "k1 string, k2 string",
    )
    dims = {"d1": (["k1"], "id1"), "d2": (["k2"], "id2")}
    multi = new_dimension_rows(df, dims)
    for name, spec in dims.items():
        single = new_dimension_rows(df, {name: spec})[name]
        assert sorted(map(tuple, multi[name].collect()), key=repr) == sorted(
            map(tuple, single.collect()), key=repr
        ), name
        assert multi[name].schema == single.schema, name


def test_surrogate_keys_multi_rejects_non_string(spark):
    df = spark.createDataFrame([(1, "a")], "k1 long, k2 string")
    with pytest.raises(ValueError, match="string keys"):
        new_dimension_rows(df, {"d1": (["k1"], "id1"), "d2": (["k2"], "id2")})


def test_incremental_surrogate_keys(spark):
    existing = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    new = spark.createDataFrame([("b",), ("c",), ("d",)], "k string")
    new_rows = new_dimension_rows(new, {"d": (["k"], "id")}, {"d": existing})["d"]
    assert {(r["id"], r["k"]) for r in new_rows.collect()} == {(3, "c"), (4, "d")}
    assert existing.unionByName(new_rows).count() == 4


def _key_rule(rows, dims, stored):
    """The surrogate-key rule in plain Python: per dimension, the distinct
    keys its stored rows lack, numbered from their MAX(id)+1 (1 when
    nothing is stored) with NULL first and strings in code-point order;
    a key-is-id dimension (id None) skips NULL keys and is not numbered;
    a stored dimension that gains nothing is left out."""
    out = {}
    for name, (keys, id_col) in dims.items():
        have = stored.get(name)
        seen = {tuple(r[k] for k in keys) for r in rows}
        if id_col is None:
            seen = {k for k in seen if k[0] is not None}
        old = {tuple(r[k] for k in keys) for r in have or []}
        new = sorted(seen - old, key=lambda k: [(v is not None, v or "") for v in k])
        if have is not None and not new:
            continue
        if id_col is None:
            out[name] = new
        else:
            start = max((r[id_col] for r in have or []), default=0)
            out[name] = [(start + i, *k) for i, k in enumerate(new, 1)]
    return out


def test_new_dimension_rows_match_the_python_rule(spark):
    """One differential check of the one surrogate-key function: NULL
    keys, a two-column key, stored ids with a gap, a key-is-id
    dimension, a stored dimension with nothing new, empty input, and
    non-string keys refused. The rows are built on the JVM (no
    Python-side RDD in their plans)."""
    df = spark.createDataFrame(
        [
            ("b", "x", "p", "20240102"),
            ("a", None, "q", "20240101"),
            (None, "x", "p", None),
            ("é", "y", "q", "20240103"),
            ("a", None, "p", "20240101"),
            ("Z", "x", None, "20240102"),
        ],
        "k1 string, k2 string, k3 string, day string",
    )
    dims = {
        "one": (["k1"], "id_one"),
        "two": (["k1", "k2"], "id_two"),
        "three": (["k3"], "id_three"),
        "date": (["day"], None),
    }
    stored_rows = {
        "two": [(1, "a", None), (7, "b", "x")],  # ids 2..6 are a gap
        "three": [(1, None), (2, "p"), (3, "q")],  # holds every key
        "date": [("20240101",)],
    }
    stored = {
        "two": spark.createDataFrame(stored_rows["two"], "id_two long, k1 string, k2 string"),
        "three": spark.createDataFrame(stored_rows["three"], "id_three long, k3 string"),
        "date": spark.createDataFrame(stored_rows["date"], "day string"),
    }
    stored_dicts = {
        n: [dict(zip(stored[n].columns, r)) for r in rows] for n, rows in stored_rows.items()
    }
    rows = [r.asDict() for r in df.collect()]
    for given in ({}, stored):
        got = new_dimension_rows(df, dims, given)
        want = _key_rule(rows, dims, stored_dicts if given else {})
        assert {n: [tuple(r) for r in f.collect()] for n, f in got.items()} == want
        for f in got.values():
            assert "ExistingRDD" not in f._jdf.queryExecution().executedPlan().toString()
    # NULL sorts first; numbering continues past the stored MAX(id)
    assert want["two"][0] == (8, None, "x")
    assert new_dimension_rows(df, dims)["one"].collect()[0] == (1, None)

    empty = new_dimension_rows(df.limit(0), dims, {"two": stored["two"]})
    assert set(empty) == {"one", "three", "date"}
    assert [f.count() for f in empty.values()] == [0, 0, 0]
    assert empty["one"].dtypes == [("id_one", "bigint"), ("k1", "string")]
    assert empty["date"].dtypes == [("day", "string")]

    with pytest.raises(ValueError, match="string keys"):
        new_dimension_rows(df.selectExpr("1L AS n"), {"d": (["n"], "id")})


def test_merge_upsert_semantics(spark):
    base = spark.createDataFrame([(1, "old"), (2, "keep")], "id long, v string")
    updates = spark.createDataFrame([(1, "new"), (3, "ins")], "id long, v string")
    out = {r["id"]: r["v"] for r in merge_upsert(base, updates, ["id"]).collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_quality_gate_type_conjunct(spark):
    # stg_full_load.py:85-93 — non-earthquake rows bypass the gate even
    # with gate-tripping numerics
    df = spark.createDataFrame(
        [
            ("earthquake", "0.5", "5.0", "0.1", "10"),   # depth<1 -> reject
            ("earthquake", "10", "0.5", "0.1", "10"),    # mag<1 -> reject
            ("earthquake", "10", "5.0", "0.7", "10"),    # magError>0.5 -> reject
            ("earthquake", "10", "5.0", "0.1", "40"),    # depthError>30 -> reject
            ("explosion", "0.5", "0.5", "0.9", "99"),    # bypasses: not earthquake
            ("earthquake", "10", "5.0", "0.1", "10"),    # clean
            ("earthquake", "", "", "", ""),              # missing -> coalesce 0 -> reject
        ],
        "type string, depth string, mag string, magError string, depthError string",
    )
    accepted, rejected = quality_split(df, reject_predicate())
    assert accepted.count() == 2
    assert rejected.count() == 5
    types = [r["type"] for r in accepted.collect()]
    assert "explosion" in types


def test_exact_dedup_keeps_min(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y")], "doc_id long, text string"
    )
    kept = exact_dedup(df, ["text"], "doc_id")
    assert {r["doc_id"] for r in kept.collect()} == {1, 2}


def test_exact_dedup_digest_key_no_false_merges(spark):
    """The digest shuffle key must not merge distinct keys.

    Guards the two classic concat-hash bugs: NULL vs empty string, and
    multi-column boundary ambiguity ('a|b','x') vs ('a','b|x') — the
    length-prefixed NULL-tagged encoding keeps all of these distinct.
    """
    df = spark.createDataFrame(
        [
            (1, None, "x"),
            (2, "", "x"),
            (3, "a|b", "x"),
            (4, "a", "b|x"),
            (5, "a", "b|x"),  # true duplicate of 4
        ],
        "doc_id long, c1 string, c2 string",
    )
    kept = exact_dedup(df, ["c1", "c2"], "doc_id")
    assert {r["doc_id"] for r in kept.collect()} == {1, 2, 3, 4}
    stats = exact_dup_stats(df, ["c1", "c2"], "doc_id")
    got = {(r["c1"], r["c2"]): r["n_dupes"] for r in stats.collect()}
    assert got == {(None, "x"): 1, ("", "x"): 1, ("a|b", "x"): 1, ("a", "b|x"): 2}


def test_decontaminate_drops_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "totally unrelated words right here"),
            (3, "prefix alpha beta gamma suffix tail"),  # shares 3-gram with 1
            (4, None),  # NULL text is never contaminated
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma")], "bid long, text string"
    )
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import decontaminate

    kept = decontaminate(corpus, "doc_id", "text", bench, "text", n=3)
    assert {r["doc_id"] for r in kept.collect()} == {2, 4}


def test_bloom_decontaminate_equals_plain(spark):
    # the Bloom-pruned path must be row-for-row equal to decontaminate
    # (zero false negatives; the exact digest semi join kills the FPs)
    corpus = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} common tail {i % 5}") for i in range(40)]
        + [(100, "alpha beta gamma delta"), (101, None)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "w3 w4 w5")], "bid long, text string"
    )
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        bloom_decontaminate,
        decontaminate,
    )

    got = bloom_decontaminate(
        corpus, "doc_id", "text", bench, "text", n=3, m_bits=4096, k=5
    )
    want = decontaminate(corpus, "doc_id", "text", bench, "text", n=3)
    assert sorted(r["doc_id"] for r in got.collect()) == sorted(
        r["doc_id"] for r in want.collect()
    )


def test_pack_sequences_matches_global_cumsum(spark):
    rows = [(i, (i * 7) % 13 + 1) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    from gcp_data_pipeline_fyp_spark.operators.packing import pack_sequences

    # bucket_span=4 forces many buckets -> exercises the two-level sum
    out = pack_sequences(df, "doc_id", "n_tokens", max_tokens=16, bucket_span=4)
    got = {r["doc_id"]: (r["start_offset"], r["pack_id"]) for r in out.collect()}
    acc = 0
    for i, n in rows:
        assert got[i] == (acc, acc // 16), f"doc {i}"
        acc += n
    assert len(got) == 50


def test_pack_sequences_null_id_keeps_row_and_counts_no_tokens(spark):
    from gcp_data_pipeline_fyp_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, 5), (2, 7), (None, 3), (5000, 2)], "doc_id long, n_tokens long"
    )
    out = pack_sequences(df, "doc_id", "n_tokens", max_tokens=8)
    got = sorted(
        (tuple(r) for r in out.collect()),
        key=lambda t: (t[0] is not None, t[0]),
    )
    # the NULL-id row stays, gets no offset and shifts no other row
    assert got == [
        (None, 3, None, None),
        (1, 5, 0, 0),
        (2, 7, 5, 0),
        (5000, 2, 12, 1),
    ]


def test_stratified_sample_nested_and_stratum_scoped(spark):
    """Raising a stratum's fraction only ADDS rows (nested samples),
    and changing one stratum's fraction never touches another."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        stratified_hash_sample,
    )

    rows = [(i, "web" if i % 2 else "books") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, src string")

    def kept(fracs):
        out = stratified_hash_sample(df, ["doc_id"], "src", fracs, seed=3)
        return {r["doc_id"] for r in out.collect()}

    small = kept({"web": 0.2, "books": 1.0})
    big = kept({"web": 0.6, "books": 1.0})
    assert small <= big  # nested
    assert {i for i in small if i % 2 == 0} == {i for i in range(400) if i % 2 == 0}
    # web fraction change leaves books untouched
    assert {i for i in big if i % 2 == 0} == {i for i in small if i % 2 == 0}
    # default_fraction=0 drops unlisted strata
    none_listed = kept({"books": 1.0})
    assert all(i % 2 == 0 for i in none_listed)


def test_connected_components_collapses_chains(spark):
    """A~B~C must land in ONE cluster even though (A,C) was never a
    candidate pair — the closure greedy pairwise dedup misses."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        connected_components,
        dup_clusters,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    # the distributed star-contraction path (forced past the driver
    # union-find gate) must produce the identical labeling
    dist = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert dist == comp

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 10, 11, 50]],
        "doc_id long, text string",
    )
    labeled = dup_clusters(docs, edges, "doc_id")
    got = {r["doc_id"]: r["cluster_id"] for r in labeled.collect()}
    assert got[50] == 50  # isolated doc is its own cluster
    assert got[4] == 1
    # keep-one-per-cluster filter keeps exactly the min ids
    kept = {r["doc_id"] for r in labeled.filter("doc_id = cluster_id").collect()}
    assert kept == {1, 10, 50}


def test_connected_components_long_chain_converges_in_log_rounds(spark):
    """A 200-node path has diameter 199: naive min-label propagation
    needs ~200 rounds (and would blow the 25-round cap); star
    contraction must close it well inside the cap — the 100 TB
    mirror-of-mirror chain case."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    # driver_threshold=0 forces the distributed path — the round-count
    # property under test belongs to star contraction, not union-find
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert len(comp) == 201
    assert set(comp.values()) == {0}


def test_bm25_ranks_term_frequency_and_rarity(spark):
    from gcp_data_pipeline_fyp_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark runs fast"),
            (2, "spark runs on a cluster"),
            (3, "nothing relevant here at all"),
            (4, "rareword appears once only"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    top = bm25_topk(docs, "doc_id", "text", ["spark", "rareword"], k=3).collect()
    ids = [r["doc_id"] for r in top]
    assert set(ids) <= {1, 2, 4}
    # rareword (df=1) outscores common spark (df=2) at tf=1; and doc 1
    # (tf=3) outranks doc 2 (tf=1)
    assert ids.index(4) < ids.index(2)
    assert ids.index(1) < ids.index(2)


def test_minhash_finds_planted_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    texts = [(i, base.replace("dog", w)) for i, w in enumerate(["dog", "cat", "cow"])]
    # doc 100 = doc 0 with a tiny tail -> near-dup pair (0, 100)
    texts.append((100, base + " again"))
    # doc 200 shares nothing
    texts.append((200, "completely different words in this one entirely unrelated text stream"))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(df, "doc_id", "text").collect()
    }
    assert (0, 100) in pairs
    assert all(200 not in p for p in pairs)


def test_simhash_groups_exact_dups(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "zz yy xx ww")],
        "doc_id long, text string",
    )
    groups = simhash_groups(df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert list(groups[0]["doc_ids"]) == [1, 2]


def test_ngram_jaccard_identical_is_one(spark):
    df = spark.createDataFrame(
        [(1, "a", "s", "w1 w2 w3 w4 w5"), (2, "a", "s", "w1 w2 w3 w4 w5"),
         (3, "a", "s", "q1 q2 q3 q4 q5")],
        "doc_id long, lang string, source string, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", ["lang", "source"]).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 0.0


def test_observe_counters(spark):
    # A6 — rows_in / rows_flagged ride the consuming action (one pass)
    from pyspark.sql import Observation

    df = spark.createDataFrame(
        [("earthquake", "0.5"), ("earthquake", "10"), ("explosion", "0.5")],
        "type string, depth string",
    )
    pred = (F.col("type") == "earthquake") & (
        F.coalesce(F.col("depth").try_cast("double"), F.lit(0.0)) < 1
    )
    obs = Observation("gate")
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.coalesce(pred, F.lit(False)).cast("long")).alias("rows_flagged"),
    )
    out.collect()
    assert obs.get == {"rows_in": 3, "rows_flagged": 1}


def test_merge_upsert_null_keys(spark):
    # NULL is a legitimate matchable key (null-safe join): the update
    # for a NULL-key row must win, not be dropped
    base = spark.createDataFrame([(None, "old"), (2, "keep")], "id long, v string")
    updates = spark.createDataFrame([(None, "new")], "id long, v string")
    out = {r["id"]: r["v"] for r in merge_upsert(base, updates, ["id"]).collect()}
    assert out == {None: "new", 2: "keep"}


def test_malformed_rows_silently_dropped(spark):
    # stg_full_load.py:106-107 — float('abc') raises inside the DoFn and
    # the row lands in NEITHER output
    from gcp_data_pipeline_fyp_spark.operators.quality import malformed_predicate

    df = spark.createDataFrame(
        [
            ("earthquake", "abc", "5.0", "0.1", "10"),   # malformed depth
            ("earthquake", "10", "5.0", "0.1", "10"),    # clean
            ("earthquake", "0.5", "5.0", "0.1", "10"),   # rejected
        ],
        "type string, depth string, mag string, magError string, depthError string",
    )
    accepted, rejected = quality_split(
        df, reject_predicate(), malformed=malformed_predicate()
    )
    assert accepted.count() == 1
    assert rejected.count() == 1


def test_text_hashing_degenerate_docs(spark):
    # docs shorter than the shingle width / NULL / whitespace-only text
    # must not crash (Spark's sequence(1,0) is DESCENDING, not empty!)
    # and must hash like empty docs
    from gcp_data_pipeline_fyp_spark.functions.text import (
        minhash_signature,
        rolling_fingerprint,
        shingles,
        simhash16,
        tokens,
    )

    df = spark.createDataFrame(
        [(1, "ab"), (2, None), (3, "   "), (4, "one two three four five")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        F.size(shingles(tokens("text"), 3)).alias("n_shingles"),
        simhash16(tokens("text")).alias("sh"),
        rolling_fingerprint(tokens("text")).alias("rh"),
        minhash_signature(shingles(tokens("text"), 3)).alias("sig"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_shingles"] == 0 and by_id[1]["sh"] is not None
    assert by_id[2]["sh"] == 0 and by_id[2]["rh"] == 0
    assert list(by_id[2]["sig"]) == [None] * 8
    assert by_id[4]["n_shingles"] == 3


def test_rollup_state_merge_equals_rebuild(spark):
    """Merging (base + delta1 + delta2) partial states must be
    byte-identical to aggregating everything from scratch."""
    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        finalize_state,
        merge_states,
        rollup_state,
    )

    rows = [(i % 3, float(i) + 0.25) for i in range(100)]
    df = spark.createDataFrame(rows, "k int, v double")
    full = finalize_state(
        rollup_state(df, ["k"], ["v"]), ["v"], avg_cols=["v"]
    )
    parts = [
        rollup_state(df.filter(f"id_mod = {i}"), ["k"], ["v"])
        for df, i in [
            (df.withColumn("id_mod", (F.col("v") * 4).cast("int") % 3), i)
            for i in range(3)
        ]
    ]
    merged = finalize_state(
        merge_states(parts, ["k"]), ["v"], avg_cols=["v"]
    )
    assert sorted(full.collect()) == sorted(merged.collect())


def test_token_budget_sample_prefix_and_nesting(spark):
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [(i, "a" if i % 2 else "b", 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w int")
    small = token_budget_sample(df, ["doc_id"], "w", "lang", budget=100, seed=3)
    big = token_budget_sample(df, ["doc_id"], "w", "lang", budget=200, seed=3)
    s_ids = {r["doc_id"] for r in small.collect()}
    b_ids = {r["doc_id"] for r in big.collect()}
    # per-stratum budget respected exactly (weights are uniform 10s)
    assert len(s_ids) == 20 and len(b_ids) == 40
    per_lang = small.groupBy("lang").count().collect()
    assert {r["count"] for r in per_lang} == {10}
    # nested: raising the budget only adds rows
    assert s_ids <= b_ids
    # budget boundary: every kept cum_weight <= budget
    assert small.filter("cum_weight > 100").count() == 0


def test_token_budget_mix_matches_naive_window(spark):
    """The two-level distributed budget prefix returns EXACTLY the
    naive per-stratum cumulative window's rows (same md5-key order),
    is nested in the budget, partition-invariant, drops unbudgeted
    strata, and rejects non-positive budgets."""
    import pytest as _pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        token_budget_mix,
    )

    rows = [(i, ["a", "b", "c"][i % 3], 5 + i % 7) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w int")
    budgets = {"a": 120, "b": 60}

    def got(frame, b):
        return sorted(
            (r["doc_id"], r["cum_weight"])
            for r in token_budget_mix(
                frame, "doc_id", "w", "lang", b, seed=3
            ).collect()
        )

    key = F.conv(
        F.substring(
            F.md5(F.concat_ws("_", F.lit(3), F.col("doc_id").cast("string"))),
            1, 15,
        ), 16, 10,
    ).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy(key.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = sorted(
        (r["doc_id"], r["cum_weight"])
        for r in df.filter(F.col("lang").isin("a", "b"))
        .withColumn("cum_weight", F.sum(F.col("w").cast("long")).over(w))
        .filter(
            F.col("cum_weight")
            <= F.when(F.col("lang") == "a", 120).otherwise(60)
        )
        .collect()
    )
    assert got(df, budgets) == naive
    assert got(df.repartition(13), budgets) == naive  # partition-invariant
    # "c" carries no budget -> dropped entirely
    assert all(
        r["lang"] != "c"
        for r in token_budget_mix(
            df, "doc_id", "w", "lang", budgets, seed=3
        ).collect()
    )
    # nested: raising budgets only appends
    bigger = got(df, {"a": 240, "b": 120})
    assert set(x[0] for x in got(df, budgets)) <= set(x[0] for x in bigger)
    with _pytest.raises(ValueError, match="must be > 0"):
        token_budget_mix(df, "doc_id", "w", "lang", {"a": 0}, seed=3)


def test_tfidf_ranks_rare_terms_first(spark):
    from gcp_data_pipeline_fyp_spark.operators.search import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common zebra common common"),
            (2, "common words here"),
            (3, "common words there"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=2)
    d1 = {r["rank"]: r["term"] for r in out.filter("doc_id = 1").collect()}
    # zebra (df=1) beats common (df=3) even at tf=3 vs tf=1:
    # 1*ln(4/1)=1.386 > 3*ln(4/3)=0.863
    assert d1[1] == "zebra"
    assert d1[2] == "common"
    # NULL text yields no rows for that doc
    assert out.filter("doc_id = 4").count() == 0


def test_pagerank_star_graph_center_dominates(spark):
    from gcp_data_pipeline_fyp_spark.operators.components import pagerank

    # star: 0 connected to 1..5; plus an isolated pair (10, 11)
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)] + [(10, 11)], "id_a long, id_b long"
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iters=10).collect()}
    leaves = [r[i] for i in range(1, 6)]
    assert r[0] > max(leaves) * 2  # hub dominates
    assert len({round(v, 9) for v in leaves}) == 1  # leaves symmetric
    assert abs(r[10] - r[11]) < 1e-9  # isolated pair symmetric
    assert abs(sum(r.values()) - 1.0) < 1e-3  # ranks ~sum to 1


def test_pagerank_partitioning_invariant(spark):
    from gcp_data_pipeline_fyp_spark.operators.components import pagerank

    import random

    rng = random.Random(3)
    rows = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in rows if a != b], "id_a long, id_b long"
    )
    r1 = sorted(map(tuple, pagerank(edges.repartition(1), iters=5).collect()))
    r2 = sorted(map(tuple, pagerank(edges.repartition(17), iters=5).collect()))
    assert r1 == r2


def test_heavy_hitters_exact_and_partition_invariant(spark):
    from gcp_data_pipeline_fyp_spark.operators.frequent import heavy_hitters

    # 1000 rows: 'a' x 300, 'b' x 150, tail of 550 singletons
    rows = [("a",)] * 300 + [("b",)] * 150 + [(f"t{i}",) for i in range(550)]
    df = spark.createDataFrame(rows, "item string")
    got = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(df.repartition(7), "item", 0.1).collect()
    }
    assert got == {"a": 300, "b": 150}
    got1 = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(df.repartition(1), "item", 0.1).collect()
    }
    assert got1 == got
    # nothing above 50% -> empty, schema intact
    empty = heavy_hitters(df, "item", 0.5)
    assert empty.count() == 0 and empty.columns == ["item", "cnt"]
    # the small-universe direct path returns identical output
    direct = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(df, "item", 0.1, strategy="direct").collect()
    }
    assert direct == got
    # NULL items excluded under BOTH strategies (isin is NULL-blind in
    # the sketch path; direct filters explicitly to stay interchangeable)
    with_nulls = df.unionByName(
        spark.createDataFrame([(None,)] * 300, "item string")
    )
    for strat in ("sketch", "direct"):
        out = {
            r["item"]
            for r in heavy_hitters(
                with_nulls, "item", 0.2, strategy=strat
            ).collect()
        }
        assert None not in out, strat
    import pytest

    with pytest.raises(ValueError, match="strategy"):
        heavy_hitters(df, "item", 0.1, strategy="bogus")


def test_cdc_snapshot_semantics(spark):
    from gcp_data_pipeline_fyp_spark.operators.frequent import cdc_snapshot

    rows = [
        (1, "2024-01-01 00:00:00", "I", 10.0),
        (1, "2024-01-02 00:00:00", "U", 20.0),   # latest -> wins
        (2, "2024-01-01 00:00:00", "I", 30.0),
        (2, "2024-01-03 00:00:00", "D", None),   # deleted -> gone
        (3, "2024-01-01 00:00:00", "I", 40.0),   # untouched
        (4, "2024-01-01 00:00:00", "I", 50.0),
        (4, "2024-01-01 00:00:00", "D", None),   # same-instant delete wins
    ]
    log = spark.createDataFrame(
        rows, "k long, ts string, op string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["k"]: r["v"] for r in cdc_snapshot(log, ["k"], "ts", "op").collect()}
    assert out == {1: 20.0, 3: 40.0}


def test_hll_state_merge_equals_direct_sketch(spark):
    """Sketch-union of disjoint increments must equal the sketch built
    over the full data — the property that makes distinct-count
    rollups incrementally maintainable."""
    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        finalize_hll_state,
        hll_state,
        merge_hll_states,
    )

    rows = [(i % 4, i % 97) for i in range(3000)]
    df = spark.createDataFrame(rows, "k int, u int")
    direct = finalize_hll_state(hll_state(df, ["k"], ["u"]))
    parts = [
        hll_state(df.filter(f"u % 3 = {i}"), ["k"], ["u"]) for i in range(3)
    ]
    merged = finalize_hll_state(merge_hll_states(parts, ["k"]))
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, merged.collect())
    )
    # estimates are near-exact at this cardinality (97 distinct)
    for r in direct.collect():
        assert abs(r["n_distinct_u"] - 97) <= 3


def test_bm25_rejects_empty_query(spark):
    import pytest

    from gcp_data_pipeline_fyp_spark.operators.search import bm25_topk

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="query term"):
        bm25_topk(df, "doc_id", "text", [], k=3)


def test_paragraph_dedup_drops_repeated_spans_keeps_first(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [
            (1, "unique alpha\n\nSHARED FOOTER"),
            (2, "unique beta\n\nSHARED FOOTER"),
            (3, "SHARED FOOTER"),  # every span duplicated -> doc vanishes
            (4, "unique gamma\n\n\n\nunique delta"),  # doubled sep -> empty span
        ],
        ["id", "text"],
    )
    out = {r["id"]: r for r in paragraph_dedup(df, "id", "text").collect()}
    assert out[1]["text"] == "unique alpha\n\nSHARED FOOTER"  # first keeps it
    assert out[2]["text"] == "unique beta"  # later copy scrubbed
    assert 3 not in out  # fully-duplicated doc dropped entirely
    assert out[4]["text"] == "unique gamma\n\nunique delta"  # empties removed
    assert out[4]["n_paras"] == 2


def test_paragraph_dedup_preserves_span_order(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import paragraph_dedup

    text = "\n\n".join(f"para number {i}" for i in range(20))
    df = spark.createDataFrame([(1, text)], ["id", "text"]).repartition(4)
    out = paragraph_dedup(df, "id", "text").collect()[0]
    assert out["text"] == text and out["n_paras"] == 20


def test_boilerplate_filter_removes_all_copies_of_high_df_spans(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import boilerplate_line_filter

    # footer in all 10 docs (df=10 > threshold 2); body paras unique (df=1)
    rows = [(i, f"body text {i}\n\nCOOKIE BANNER") for i in range(10)]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {r["id"]: r for r in boilerplate_line_filter(df, "id", "text").collect()}
    assert len(out) == 10
    for i in range(10):
        # unlike paragraph_dedup, even the FIRST copy of the banner goes
        assert out[i]["text"] == f"body text {i}" and out[i]["n_paras"] == 1


def test_boilerplate_filter_threshold_spares_low_df_spans(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import boilerplate_line_filter

    # span in 3 of 100 docs; threshold = max(2, ceil(0.05*100)) = 5 -> kept
    rows = [(i, f"body {i}" + ("\n\nRARE NOTE" if i < 3 else "")) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {
        r["id"]: r
        for r in boilerplate_line_filter(
            df, "id", "text", max_doc_frac=0.05
        ).collect()
    }
    assert out[0]["text"] == "body 0\n\nRARE NOTE"  # below threshold: survives
    # all-boilerplate doc disappears entirely when threshold crossed
    out2 = boilerplate_line_filter(
        spark.createDataFrame([(i, "ONLY BANNER") for i in range(10)], ["id", "text"]),
        "id",
        "text",
    )
    assert out2.count() == 0


def test_quantile_state_merge_equals_rebuild_and_bounds_error(spark):
    import random

    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        merge_quantile_states,
        quantile_state,
        quantiles_from_state,
    )

    rng = random.Random(7)
    rows = [(i % 3, rng.lognormvariate(3.0, 1.5)) for i in range(6000)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(5)

    rebuilt = quantile_state(df, ["k"], "v")
    merged = merge_quantile_states(
        [
            quantile_state(df.filter("v < 20"), ["k"], "v"),
            quantile_state(df.filter("v >= 20"), ["k"], "v"),
        ],
        ["k"],
    )
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, merged.collect())
    )

    got = {r["k"]: r for r in quantiles_from_state(merged, ["k"]).collect()}
    import statistics

    for k in range(3):
        vals = sorted(v for kk, v in rows if kk == k)
        exact_p95 = vals[int(0.95 * len(vals)) - 1]
        # bucket geometric midpoint is within sqrt(growth) of the true
        # value; allow 3% for the discrete-rank offset
        assert abs(got[k]["p95"] / exact_p95 - 1) < 0.03, (k, got[k]["p95"], exact_p95)
        assert got[k]["n"] == len(vals)


def test_temperature_mix_alpha_extremes_and_nesting(spark):
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        temperature_mix_sample,
    )

    # skewed corpus: 900 'web', 100 'code'
    rows = [(i, "web" if i < 900 else "code") for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "src"])

    def counts(out):
        return {
            r["src"]: r["n"]
            for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()
        }

    # alpha=1: uniform downsample — each stratum keeps ~target_frac
    c1 = counts(temperature_mix_sample(df, ["id"], "src", 1.0, 0.5))
    assert abs(c1["web"] - 450) < 60 and abs(c1["code"] - 50) < 25

    # alpha=0: equalized mix — rare stratum capped at 100% keep
    c0 = counts(temperature_mix_sample(df, ["id"], "src", 0.0, 0.4))
    assert c0["code"] == 100  # rate capped at 1.0, never upsampled
    # web's allocation is target*q = 400*0.5 = 200 (rate ~0.22 of 900);
    # the rare stratum's unused surplus is NOT redistributed
    assert abs(c0["web"] - 200) < 60

    # nested: raising target_frac only adds rows, never swaps
    small = {
        r["id"]
        for r in temperature_mix_sample(df, ["id"], "src", 0.5, 0.3).collect()
    }
    large = {
        r["id"]
        for r in temperature_mix_sample(df, ["id"], "src", 0.5, 0.6).collect()
    }
    assert small <= large


# ------------------------------------------ filter chains (operators/filters.py)
def _fc_docs(spark):
    return spark.createDataFrame(
        [
            (1, "good english text", 100, "en"),
            (2, "x", 3, "en"),            # fails min_chars
            (3, "aussi bon texte", 120, "fr"),   # fails en_only
            (4, None, None, "en"),        # NULL predicate -> first fail
        ],
        "doc_id long, text string, n_chars int, lang string",
    )


def _fc_chain():
    return [
        ("min_chars", F.col("n_chars") >= 50),
        ("en_only", F.col("lang") == "en"),
    ]


def _fc_kept(df, chain):
    from gcp_data_pipeline_fyp_spark.operators.filters import (
        KEPT_LABEL,
        first_fail_label,
    )

    return df.filter(first_fail_label(chain) == KEPT_LABEL)


def test_filter_chain_keeps_passing_rows_and_null_fails(spark):
    kept = _fc_kept(_fc_docs(spark), _fc_chain())
    assert [r["doc_id"] for r in kept.collect()] == [1]


def test_filter_chain_empty_chain_keeps_everything(spark):
    assert _fc_kept(_fc_docs(spark), []).count() == 4


def test_filter_chain_report_first_fail_and_zero_rows(spark):
    from gcp_data_pipeline_fyp_spark.operators.filters import filter_chain_report

    chain = _fc_chain() + [("never_fails", F.lit(True))]
    rows = {
        r["filter"]: r["n_rows"]
        for r in filter_chain_report(_fc_docs(spark), chain).collect()
    }
    # doc 4's NULL n_chars attributes to min_chars (first failing filter)
    assert rows == {
        "min_chars": 2, "en_only": 1, "never_fails": 0, "_kept": 1,
    }


def test_filter_fail_matrix_counts_independent_failures(spark):
    from gcp_data_pipeline_fyp_spark.operators.filters import filter_fail_matrix

    r = filter_fail_matrix(_fc_docs(spark), _fc_chain()).first()
    assert (r["fail_min_chars"], r["fail_en_only"], r["n_total"]) == (2, 1, 4)


def test_filter_chain_rejects_duplicate_and_reserved_names(spark):
    import pytest

    from gcp_data_pipeline_fyp_spark.operators.filters import (
        KEPT_LABEL,
        filter_chain_report,
        first_fail_label,
    )

    dup = [("a", F.lit(True)), ("a", F.lit(False))]
    with pytest.raises(ValueError, match="duplicate"):
        filter_chain_report(_fc_docs(spark), dup)
    with pytest.raises(ValueError, match="reserved"):
        first_fail_label([(KEPT_LABEL, F.lit(True))])


# ---------------------------- incremental exact dedup (operators/dedup.py)
def test_incremental_dedup_drops_base_and_batch_dups(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import incremental_exact_dedup

    base = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "brand new"),
            (11, "seen before"),   # dup of base -> dropped
            (12, "brand new"),     # in-batch dup -> keep smallest id (10)
            (13, "another new"),
        ],
        "doc_id long, text string",
    )
    out = incremental_exact_dedup(batch, base, ["text"], id_col="doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [10, 13]
    # without id_col: base-dups drop but in-batch dups survive
    out2 = incremental_exact_dedup(batch, base, ["text"])
    assert sorted(r["doc_id"] for r in out2.collect()) == [10, 12, 13]


def test_incremental_dedup_preserves_user_digest_column(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import incremental_exact_dedup

    base = spark.createDataFrame([(1, "old")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(5, "fresh", "user-data")], "doc_id long, text string, __digest string"
    )
    out = incremental_exact_dedup(batch, base, ["text"])
    assert out.columns == ["doc_id", "text", "__digest"]
    assert out.first()["__digest"] == "user-data"


# ---------------------- exact-substring dedup stats (operators/dedup.py)
def test_substring_dup_stats_planted_overlap(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        substring_dup_stats,
    )

    shared = "one two three four"  # 4 tokens, window width 4 -> 1 window
    docs = spark.createDataFrame(
        [
            (1, f"{shared} alpha beta"),          # owns the shared window
            (2, f"gamma delta {shared}"),         # repeats it -> 1 dup
            (3, "all unique tokens here ok"),
            (4, "tiny"),                          # < 4 tokens: no windows
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_ratio_micro"])
        for r in substring_dup_stats(docs, "doc_id", "text", n_tokens=4).collect()
    }
    assert 4 not in got  # too short for a single window
    # doc1: 3 windows, all first occurrences
    assert got[1] == (3, 0, 0)
    # doc2: windows starting at gamma/delta/one; the 'one two three four'
    # window is owned by doc1 -> exactly 1 duplicated (ratio 1/3 -> 333333 micro)
    assert got[2] == (3, 1, 333333)
    assert got[3] == (2, 0, 0)


def test_substring_dup_stats_position_order_within_doc(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        substring_dup_stats,
    )

    # the same window twice INSIDE one doc: first occurrence owns it
    docs = spark.createDataFrame(
        [(7, "a b a b a b")], "doc_id long, text string"
    )
    r = substring_dup_stats(docs, "doc_id", "text", n_tokens=2).first()
    # windows: (a b)(b a)(a b)(b a)(a b) -> 2 owned + 3 dups
    assert (r["n_windows"], r["n_dup_windows"]) == (5, 3)


def test_exact_substring_filter_drops_heavy_dups_keeps_short(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        exact_substring_filter,
    )

    boiler = "click here to subscribe now please"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} original essay content follows"),
            (2, boiler),                     # 100% duplicated windows
            (3, "completely original text with many words"),
            (4, "tiny"),                     # shorter than one window
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in exact_substring_filter(
            docs, "doc_id", "text", n_tokens=4, max_dup_ratio=0.5
        ).collect()
    }
    assert kept == {1, 3, 4}


def test_exact_substring_filter_keeps_null_text_docs(spark):
    """NULL text has no windows -> ratio 0 -> kept. (size(split(NULL))
    is NULL under ANSI semantics; a naive short-doc re-derivation drops
    such docs from BOTH branches — regression guard.)"""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        exact_substring_filter,
    )

    docs = spark.createDataFrame(
        [(1, "plenty of fine original words here"), (2, None), (3, "tiny")],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in exact_substring_filter(
            docs, "doc_id", "text", n_tokens=4, max_dup_ratio=0.5
        ).collect()
    }
    assert kept == {1, 2, 3}


def test_lsh_index_incremental_parity_with_full_rerun(spark, tmp_path):
    """Indexed incremental near-dup == full-corpus LSH candidates
    restricted to pairs touching the batch, across two daily batches."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        build_lsh_index,
        incremental_neardup_indexed,
        minhash_lsh_candidates,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    def doc(i, text):
        return (i, text)

    base_rows = [
        doc(1, "the quick brown fox jumps over the lazy dog today"),
        doc(2, "completely different sentence about distributed query engines"),
        doc(3, "a third document with its own unrelated content entirely"),
    ]
    b1_rows = [
        doc(10, "the quick brown fox jumps over the lazy dog today"),  # ~ 1
        doc(11, "brand new text that matches nothing else in the corpus"),
    ]
    b2_rows = [
        doc(20, "brand new text that matches nothing else in the corpus"),  # ~ 11
        doc(21, "the quick brown fox jumps over the lazy dog today"),       # ~ 1,10
    ]
    schema = "doc_id long, text string"
    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(base_rows, schema)
    build_lsh_index(wh, base, "doc_id", "text", "corpus")

    acc_rows = list(base_rows)
    for batch_rows in (b1_rows, b2_rows):
        batch = spark.createDataFrame(batch_rows, schema)
        got = {
            (r["id_a"], r["id_b"])
            for r in incremental_neardup_indexed(
                wh, batch, "doc_id", "text", "corpus"
            ).collect()
        }
        full = spark.createDataFrame(acc_rows + batch_rows, schema)
        pairs_full = minhash_lsh_candidates(full, "doc_id", "text")
        batch_ids = {i for i, _ in batch_rows}
        want = {
            (r["id_a"], r["id_b"])
            for r in pairs_full.collect()
            if r["id_a"] in batch_ids or r["id_b"] in batch_ids
        }
        pairs_full.unpersist()
        assert got == want
        acc_rows += batch_rows


# -------------------- reliable checkpoint path (operators/iterate.py)
@pytest.mark.slow
def test_iterative_ops_reliable_checkpoint_matches_local(spark, tmp_path):
    """`checkpoint_dir` switches the per-iteration lineage truncation
    from executor-local blocks to reliable checkpoints (the 100 TB
    fault-tolerance path, DEPLOY.md): results must be identical to the
    default, and checkpoint data must actually land in the directory."""
    import os

    from gcp_data_pipeline_fyp_spark.operators.clustering import kmeans
    from gcp_data_pipeline_fyp_spark.operators.components import (
        connected_components,
        pagerank,
    )

    ckpt = str(tmp_path / "ckpt")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    # driver_threshold=0: exercise the distributed loop, whose
    # per-round truncation is what checkpoint_dir switches
    local_cc = sorted(
        map(tuple, connected_components(edges, driver_threshold=0).collect())
    )
    reliable_cc = sorted(
        map(
            tuple,
            connected_components(
                edges, checkpoint_dir=ckpt, driver_threshold=0
            ).collect(),
        )
    )
    assert reliable_cc == local_cc
    # reliable checkpoints were really written (dir exists and is non-empty)
    written = [
        os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "no reliable checkpoint files written"

    local_pr = sorted(map(tuple, pagerank(edges, iters=3).collect()))
    reliable_pr = sorted(
        map(tuple, pagerank(edges, iters=3, checkpoint_dir=ckpt).collect())
    )
    assert reliable_pr == local_pr

    pts = spark.createDataFrame(
        [(i, [float(i % 3) * 10 + 0.01 * i, 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    a_local, _ = kmeans(pts, "vec_id", "embedding", k=3, max_iter=3)
    a_rel, _ = kmeans(
        pts, "vec_id", "embedding", k=3, max_iter=3, checkpoint_dir=ckpt
    )
    assert sorted(map(tuple, a_local.collect())) == sorted(
        map(tuple, a_rel.collect())
    )


@pytest.mark.slow
def test_corpus_prep_v2_reliable_checkpoint_e2e(spark, tmp_path):
    """The COMPOSED flagship pipeline (classifier gate -> decontaminate
    -> exact dedup -> LSH closure -> split) must stay hash-identical
    when the closure runs under reliable checkpointing with the
    distributed path forced — the per-op equality tests don't prove the
    composition (persisted feature frames, localCheckpoints, and the
    closure interact in one plan here)."""
    import os

    from gcp_data_pipeline_fyp_spark.queries_text import q_corpus_prep_v2

    sf = "/root/testdata/sf0.001"
    base = sorted(map(tuple, q_corpus_prep_v2(spark, sf).collect()))
    ckpt = str(tmp_path / "ckpt_v2")
    reliable = sorted(
        map(
            tuple,
            q_corpus_prep_v2(
                spark, sf, checkpoint_dir=ckpt, driver_threshold=0
            ).collect(),
        )
    )
    assert reliable == base and len(base) > 0
    written = [os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs]
    assert written, "no reliable checkpoint files written"


# -------------------- declarative expectations (operators/expectations.py)
def test_expectations_report_rule_semantics(spark):
    """NULL-handling contracts: range/regex/accepted_values ignore NULLs
    (not_null owns those), unique counts excess rows over non-NULL keys,
    referential ignores NULL FKs, satisfies treats a NULL predicate as
    pass (SQL CASE semantics, mirrored by the oracle rendering)."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        accepted_values,
        expectations_report,
        in_range,
        not_null,
        referential,
        row_count_between,
        satisfies,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 10.0, 1),
            (1, "a", 500.0, 2),   # dup (1,'a'); out of range
            (2, "zz", None, None),  # bad category; NULL value + fk
            (None, "b", 5.0, 9),  # NULL id; fk 9 missing from ref
        ],
        "id long, cat string, v double, fk long",
    )
    ref = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    got = {
        r["rule"]: (r["n_violations"], r["passed"])
        for r in expectations_report(
            df,
            [
                not_null("id"),
                unique("id", "cat"),
                accepted_values("cat", ["a", "b"]),
                in_range("v", 0, 400),
                satisfies("v_positive", F.col("v") > 0, target="v"),
                row_count_between(lo=2, hi=3),
                referential("fk", ref, "k"),
            ],
        ).collect()
    }
    assert got["id_not_null"] == (1, False)
    # 3 non-NULL-keyed rows, 2 distinct (1,a)/(2,zz) -> 1 excess
    assert got["id_cat_unique"] == (1, False)
    assert got["cat_accepted_values"] == (1, False)  # 'zz' only; NULL v row ok
    assert got["v_in_range"] == (1, False)  # 500 only; NULL ignored
    # NULL predicate -> pass: only rows with v<=0 would violate; none do
    assert got["v_positive"] == (0, True)
    assert got["row_count"] == (1, False)  # 4 rows > hi=3
    assert got["fk_referential"] == (1, False)  # 9; NULL fk ignored
    # all-rules-green path
    ok = expectations_report(df.filter("id = 2"), [not_null("id")]).collect()
    assert ok[0]["n_violations"] == 0 and ok[0]["passed"]


def test_schema_contract_report_statuses(spark):
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        schema_contract_report,
    )

    df = spark.createDataFrame([(1, "x", 2.0)], "a long, b string, c double")
    got = {
        r["column_name"]: (r["expected"], r["actual"], r["status"])
        for r in schema_contract_report(
            df, {"a": "int", "b": "int", "d": "string"}
        ).collect()
    }
    assert got["a"] == ("int", "int", "ok")
    assert got["b"] == ("int", "string", "type_changed")
    assert got["d"] == ("string", None, "missing")
    assert got["c"] == (None, "float", "unexpected")


# -------------------- tokenizer-training ops (operators/tokenizer.py)
def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    """Pairs are counted once per word OCCURRENCE (vocab count as
    weight), single-char words contribute nothing, and the ordering is
    deterministic under ties."""
    from gcp_data_pipeline_fyp_spark.operators.tokenizer import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "ab x"), (3, None)], "doc_id long, text string"
    )
    got = {
        (r["left"], r["right"]): r["pair_count"]
        for r in bpe_pair_counts(df, "text").collect()
    }
    # 'ab' occurs 3x -> (a,b)+3; 'abc' once -> (a,b)+1, (b,c)+1; 'x' none
    assert got == {("a", "b"): 4, ("b", "c"): 1}
    top1 = bpe_pair_counts(df, "text", top_k=1).collect()
    assert (top1[0]["left"], top1[0]["right"], top1[0]["pair_count"]) == ("a", "b", 4)


def test_pool_embeddings_exact_mean(spark):
    from gcp_data_pipeline_fyp_spark.operators.tokenizer import pool_embeddings

    df = spark.createDataFrame(
        [
            ("d1", [1.0, 2.0]),
            ("d1", [3.0, 6.0]),
            ("d2", [5.0, 5.0]),
        ],
        "doc string, vec array<double>",
    )
    got = {r["doc"]: r["pooled"] for r in pool_embeddings(df, "doc", "vec").collect()}
    assert got == {"d1": [2.0, 4.0], "d2": [5.0, 5.0]}
    # dim filter drops mis-sized vectors instead of corrupting the mean
    df2 = df.union(spark.createDataFrame([("d2", [9.0])], "doc string, vec array<double>"))
    got2 = {
        r["doc"]: r["pooled"]
        for r in pool_embeddings(df2, "doc", "vec", dim=2).collect()
    }
    assert got2 == got


def test_contamination_report_complete_over_benchmark(spark):
    """Zero-overlap benchmark docs still report (0, 0); hit counts are
    distinct-gram / distinct-doc counts, not occurrence counts."""
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        contamination_report,
    )

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma other words"),
            (3, "nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, "alpha beta gamma"),        # hit by docs 1 and 2
            (200, "totally novel benchmark"),  # zero overlap
            (300, "tiny"),                     # shorter than the shingle width
        ],
        "bid long, text string",
    )
    got = {
        r["bid"]: (r["n_grams"], r["n_grams_hit"], r["n_docs_hit"])
        for r in contamination_report(
            corpus, "doc_id", "text", bench, "bid", "text", n=3
        ).collect()
    }
    # doc 300 has zero 3-grams but MUST still appear — completeness
    # over the eval set is the report's contract
    assert got == {100: (1, 1, 2), 200: (1, 0, 0), 300: (0, 0, 0)}


def test_rules_from_spec_round_trip(spark):
    """The CLI contract format builds the same rules as the
    constructors; unknown kinds raise instead of validating nothing."""
    import pytest as _pytest

    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        expectations_report,
        rules_from_spec,
    )

    df = spark.createDataFrame([(1, 5.0), (None, 50.0)], "k long, v double")
    rules = rules_from_spec(
        [
            {"kind": "not_null", "col": "k"},
            {"kind": "unique", "cols": ["k"]},
            {"kind": "in_range", "col": "v", "lo": 0, "hi": 10},
            {"kind": "row_count", "lo": 1, "hi": 10},
        ]
    )
    got = {
        r["rule"]: r["n_violations"]
        for r in expectations_report(df, rules).collect()
    }
    assert got == {
        "k_not_null": 1, "k_unique": 0, "v_in_range": 1, "row_count": 0
    }
    with _pytest.raises(ValueError, match="unknown expectation kind"):
        rules_from_spec([{"kind": "nope"}])


def test_bpe_segment_applies_merge_table(spark):
    """Segmentation applies a (rank, left, right, count) merge table in
    rank order: seen words come out as their merged symbols, and unseen
    words compose the merges in rank order."""
    from gcp_data_pipeline_fyp_spark.operators.tokenizer import bpe_segment

    df = spark.createDataFrame(
        [(0, "low low low lower")], "doc_id long, text string"
    )
    merges = [(0, "l", "o", 4), (1, "lo", "w", 4), (2, "e", "r", 1)]
    row = bpe_segment(df, "text", merges).first()
    # the text is 3x 'low' + 'lower'; flattened segments in order
    expect = ["low"] * 3 + ["low", "er"]
    assert row["bpe_tokens"] == expect
    assert row["bpe_tokens_count"] == len(expect)
    # unseen word: merges still apply in rank order
    u = spark.createDataFrame([(1, "lowly")], "doc_id long, text string")
    got = bpe_segment(u, "text", merges).first()["bpe_tokens"]
    syms = list("lowly")
    for _, left, right, _cnt in merges:
        out = []
        for x in syms:
            if out and out[-1] == left and x == right:
                out[-1] = left + right
            else:
                out.append(x)
        syms = out
    assert got == syms


def test_bpe_segment_string_form_matches_fold_twin(spark):
    """The r12 string-replace rendering of bpe_segment must be
    bit-identical to the fold twin (_segment_word_fold) on the corners
    the rendering argument leans on: self-overlapping pairs (a,a) on
    runs, chained multi-char merges, merges that only bind complete
    symbols, unicode, empty/NULL text. Degenerate merge symbols
    (space-bearing or empty) must take the fold fallback and still
    match it."""
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.functions.text import _coalesce_toks, tokens
    from gcp_data_pipeline_fyp_spark.operators.tokenizer import (
        _segment_word_fold,
        bpe_segment,
    )

    rows = [
        (0, "aaa aaaa abab baab"),
        (1, "the thin anther ingoing"),
        (2, "übermaß 你好你好"),
        (3, ""),
        (4, None),
        (5, "a  b   ab aab"),
        # Java-regex edge characters INSIDE words (ADVICE r12): the
        # Unicode line terminators U+2028/U+2029/U+0085 and NBSP
        # survive the \s+ word split (Java non-Unicode \s excludes
        # them); without (?s) the string rendering's `.` skipped them,
        # breaking the double-space invariant and diverging from the
        # fold. Pinned differentially here.
        (6, "a\u2028b ab\u2028 \u2028ab"),
        (7, "a\u2029b a\u0085b a\u00a0b"),
        (8, "th\u2028e \u0085the the\u2029"),
        # supplementary-plane char (surrogate pair in UTF-16) inside a word
        (9, "a\U0001f600b \U0001f600\U0001f600"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def fold_reference(merges):
        pairs = [(m[0], m[1]) for m in merges]
        toks = F.filter(_coalesce_toks(tokens(F.col("text"))), lambda t: t != "")
        seg = F.flatten(F.transform(toks, lambda w: _segment_word_fold(w, pairs)))
        return {
            r["doc_id"]: r["ref"]
            for r in df.select("doc_id", seg.alias("ref")).collect()
        }

    for merges in (
        [("a", "a"), ("aa", "a"), ("a", "b"), ("ab", "a")],
        [("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")],
        [("你", "好")],
        [("a", " b")],   # space-bearing right symbol -> fold fallback
        [("", "a")],     # empty left symbol -> fold fallback
    ):
        got = {
            r["doc_id"]: r["bpe_tokens"]
            for r in bpe_segment(df, "text", merges).collect()
        }
        assert got == fold_reference(merges), merges


# --------------------------- hashing-trick linear classifier
def _classifier_weights(seed, n_buckets):
    """Train on (doc_id, text, lbl) rows the way the probes do."""
    from gcp_data_pipeline_fyp_spark.operators.classifier import (
        bucketed_features,
        train_from_buckets,
    )

    rows = bucketed_features(seed, ["lbl"], "text", n_buckets)
    return train_from_buckets(rows, "lbl", n_buckets)


def _classifier_scores(corpus, w, n_buckets):
    from gcp_data_pipeline_fyp_spark.operators.classifier import (
        bucketed_features,
        score_from_buckets,
    )

    feats = bucketed_features(corpus, ["doc_id"], "text", n_buckets)
    return score_from_buckets(feats, "doc_id", w, corpus.select("doc_id"))


def test_classifier_separates_planted_vocab(spark):
    """Weights trained on a seed set with disjoint class vocabularies
    must score held-out docs of each class onto the right side of the
    threshold; docs with no features report label 'empty' (never
    silently dropped)."""
    good = "science method evidence theory result"
    bad = "spam click buy now free"
    seed_rows = [(i, f"{good} {good}", True) for i in range(10)] + [
        (100 + i, f"{bad} {bad}", False) for i in range(10)
    ]
    seed = spark.createDataFrame(
        seed_rows, "doc_id long, text string, lbl boolean"
    )
    w = _classifier_weights(seed, 512)
    corpus = spark.createDataFrame(
        [
            (1000, f"more {good} again"),
            (1001, f"ugh {bad} again"),
            (1002, ""),
            (1003, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["label"], r["n_features"], r["score_micro"])
        for r in _classifier_scores(corpus, w, 512).collect()
    }
    assert got[1000][0] == "keep" and got[1000][2] > 0
    assert got[1001][0] == "drop" and got[1001][2] < 0
    assert got[1002] == ("empty", 0, None)
    assert got[1003] == ("empty", 0, None)


def test_classifier_scores_partition_invariant(spark):
    """Integer milli-weight sums make scores independent of input
    partitioning (the float-sum order hazard is designed out)."""
    rows = [
        (i, f"tok{i % 7} tok{(i * 3) % 11} filler word number {i % 5}",
         i % 3 != 0)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lbl boolean")
    w = _classifier_weights(df, 256)
    a = {
        r["doc_id"]: (r["score_micro"], r["n_features"], r["label"])
        for r in _classifier_scores(df.coalesce(1), w, 256).collect()
    }
    b = {
        r["doc_id"]: (r["score_micro"], r["n_features"], r["label"])
        for r in _classifier_scores(df.repartition(7), w, 256).collect()
    }
    assert a == b


def test_event_transitions_ignores_null_event_type(spark, tmp_path):
    """NULL event_type rows are dropped BEFORE the lag: a NULL state
    must neither absorb real A->B edges (A->NULL counted, NULL->B
    lost) nor appear as a NULL row whose ORDER BY position differs
    between engines (Spark NULLs first, DuckDB last)."""
    import datetime as dt

    from gcp_data_pipeline_fyp_spark.queries_analytics import (
        q_event_transitions,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: A, NULL, B  -> must count A->B (NULL transparent)
        (1, 1, "A", t0),
        (2, 1, None, t0 + dt.timedelta(minutes=1)),
        (3, 1, "B", t0 + dt.timedelta(minutes=2)),
        # user 2: A, B       -> A->B
        (4, 2, "A", t0),
        (5, 2, "B", t0 + dt.timedelta(minutes=1)),
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in q_event_transitions(spark, str(tmp_path)).collect()
    }
    assert got == {("A", "B"): 2}


@pytest.mark.slow
def test_kmeans_grouped_matches_per_group_kmeans(spark):
    """The joint grouped Lloyd's loop must return EXACTLY the per-group
    `kmeans` results (init, decimal means, tie breaks, early-stop all
    preserved) — it exists purely to collapse m sequential fits into
    one job chain (PQ codebooks)."""
    import random

    from gcp_data_pipeline_fyp_spark.operators.clustering import (
        kmeans,
        kmeans_grouped,
    )

    rng = random.Random(3)
    rows = [
        (g, i, [rng.gauss(g, 1.0) for _ in range(4)])
        for g in range(3)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g int, id long, vec array<double>")
    ga, gc = kmeans_grouped(df, "g", "id", "vec", k=3, max_iter=4)
    got_a = sorted(map(tuple, ga.collect()))
    got_c = sorted(
        (r["g"], r["cluster_id"], tuple(r["centroid"])) for r in gc.collect()
    )
    want_a, want_c = [], []
    for g in range(3):
        sub = df.filter(F.col("g") == g)
        a, c = kmeans(sub, "id", "vec", k=3, max_iter=4)
        want_a += [(g, r["id"], r["cluster_id"]) for r in a.collect()]
        want_c += [
            (g, r["cluster_id"], tuple(r["centroid"])) for r in c.collect()
        ]
    assert got_a == sorted(want_a)
    assert got_c == sorted(want_c)


def test_pq_rejects_non_dividing_subspace_count(spark):
    """dim % m != 0 must raise, not silently drop trailing components
    from training/encoding/scoring."""
    import pytest as _pt

    from gcp_data_pipeline_fyp_spark.operators.pq import (
        _pq_lut,
        fit_pq_codebooks,
        pq_encode,
    )

    df = spark.createDataFrame(
        [(1, [1.0] * 10)], "id long, vec array<double>"
    )
    for fn in (
        lambda: fit_pq_codebooks(df, "id", "vec", m=3, dim=10),
        lambda: pq_encode(df, "id", "vec", df, m=3, dim=10),
        lambda: _pq_lut(df, "id", "vec", df, m=3, dim=10),
    ):
        with _pt.raises(ValueError, match="not divisible"):
            fn()


# --------------------------- train/heldout split leakage audit
def test_split_leakage_report_counts(spark):
    """A val doc sharing an 8-gram with a train doc is leaked; a test
    doc with unique text is not; short docs count in n_docs but can
    never leak."""
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        split_leakage_report,
    )

    shared = "a b c d e f g h"  # one full 8-gram
    rows = [
        (1, f"{shared} tail words here", "train"),
        (2, f"prefix {shared}", "val"),        # leaked from doc 1
        (3, "totally different text with many words", "val"),
        (4, "another unique heldout document body", "test"),
        (5, "tiny", "test"),                    # < 8 tokens: no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    got = {
        r["split"]: (r["n_docs"], r["n_leaked"], r["leak_ratio_micro"])
        for r in split_leakage_report(df, "doc_id", "text", "split").collect()
    }
    assert got["val"] == (2, 1, 500000)
    assert got["test"] == (2, 0, 0)


def test_cap_per_group_nested_and_stable(spark):
    """Per-group cap: at most n rows per group, the kept set at n is a
    SUBSET of the kept set at any larger n (nested — raising a cap
    only adds rows), selection is partition-invariant, and the rank
    runs under WindowGroupLimit (per-partition pruning, no full sort
    of the group stream)."""
    import io as _io
    import contextlib as _ctx

    from gcp_data_pipeline_fyp_spark.operators.sampling import cap_per_group

    rows = [(i, f"src{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    cap5 = cap_per_group(df, ["source"], ["doc_id"], n=5, seed=3)
    cap20 = cap_per_group(df, ["source"], ["doc_id"], n=20, seed=3)
    got5 = {(r["doc_id"], r["source"]) for r in cap5.collect()}
    got20 = {(r["doc_id"], r["source"]) for r in cap20.collect()}
    from collections import Counter

    per_group5 = Counter(s for _, s in got5)
    assert all(v == 5 for v in per_group5.values())
    assert got5 <= got20
    again = {
        (r["doc_id"], r["source"])
        for r in cap_per_group(
            df.repartition(7), ["source"], ["doc_id"], n=5, seed=3
        ).collect()
    }
    assert again == got5
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        cap5.explain("formatted")
    assert "WindowGroupLimit" in buf.getvalue()


def test_cap_per_group_adaptive_equals_plain_both_branches(spark):
    """adaptive=True must return EXACTLY the plain cap's rows on both
    sides of the measured decision: a skewed fixture (one group owns
    ~90% of rows -> salted two-phase fires) and a balanced one (plain
    window)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import cap_per_group

    skewed = spark.createDataFrame(
        [(i, "hot" if i < 900 else f"g{i % 7}") for i in range(1000)],
        "doc_id long, source string",
    )
    balanced = spark.createDataFrame(
        [(i, f"g{i % 10}") for i in range(1000)], "doc_id long, source string"
    )
    for df in (skewed, balanced):
        plain = {
            (r["doc_id"], r["source"])
            for r in cap_per_group(df, ["source"], ["doc_id"], n=4, seed=3).collect()
        }
        adapt = {
            (r["doc_id"], r["source"])
            for r in cap_per_group(
                df, ["source"], ["doc_id"], n=4, seed=3, adaptive=True
            ).collect()
        }
        assert adapt == plain
    # sanity: the skewed fixture really does trip the decision
    from gcp_data_pipeline_fyp_spark.operators.skew import topk_plan_decision

    assert topk_plan_decision(skewed, ["source"]).first()["use_salted"]
    assert not topk_plan_decision(balanced, ["source"]).first()["use_salted"]


def test_triangle_counts_known_graph(spark):
    """K4 has 4 triangles with every node in exactly 3; a path closes
    none; edge direction/duplication must not double-count."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        triangle_counts,
    )

    edges = (
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]  # K4
        + [(10, 11), (11, 12)]                                   # path
        + [(2, 1), (3, 1)]                                       # reversed dups
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(pairs).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_exact_corr_partition_invariant_and_correct(spark):
    """Deterministic correlation: matches numpy's Pearson r to 6 dp on
    a known sample, identical micro result on any partitioning, NULL
    when a variance is zero."""
    from gcp_data_pipeline_fyp_spark.operators.profile import exact_corr

    rows = [(i, float(i), float(2 * i + (i % 3)), "g") for i in range(60)]
    rows += [(100 + i, 5.0, float(i), "z") for i in range(10)]  # zero x-var
    df = spark.createDataFrame(rows, "id long, x double, y double, g string")
    out = {r["g"]: (r["n"], r["corr_micro"]) for r in exact_corr(
        df, "x", "y", group_cols=["g"]
    ).collect()}
    import math

    xs = [r[1] for r in rows if r[3] == "g"]
    ys = [r[2] for r in rows if r[3] == "g"]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    want = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert out["g"][0] == 60
    assert abs(out["g"][1] - round(want * 1_000_000)) <= 1
    assert out["z"][1] is None  # zero variance -> NULL, not a crash
    again = {r["g"]: (r["n"], r["corr_micro"]) for r in exact_corr(
        df.repartition(7), "x", "y", group_cols=["g"]
    ).collect()}
    assert again == out


def test_mad_outliers_flags_planted_not_masked(spark):
    """The case that breaks mean/stddev z-scores: a few huge planted
    outliers inflate the stddev enough to mask themselves; MAD must
    still flag them — and flag ONLY them on this data."""
    from gcp_data_pipeline_fyp_spark.operators.profile import mad_outliers

    rows = [(i, "a", 10.0 + (i % 7) * 0.1) for i in range(100)]
    rows += [(1000, "a", 500.0), (1001, "a", -400.0)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    got = {r["event_id"] for r in mad_outliers(
        df, "value", ["event_type"], ["event_id"]
    ).collect()}
    assert got == {1000, 1001}


def test_psi_report_zero_on_identical_detects_shift(spark):
    """Identical snapshots give exactly PSI 0 (equal counts -> equal
    smoothed probabilities -> zero contribution per bin, no residue);
    a planted distribution shift scores above the classic 0.25
    retrain bar; the result is partition-invariant; a group absent
    from the base snapshot is not reported."""
    from gcp_data_pipeline_fyp_spark.operators.profile import psi_report

    rows = [("a", float(i % 50)) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, v double")
    same = psi_report(df, df, "v", ["g"]).collect()
    assert [(r["g"], r["n_base"], r["n_cur"], r["psi_micro"]) for r in same] == [
        ("a", 500, 500, 0)
    ]

    shifted = spark.createDataFrame(
        [("a", 40.0 + float(i % 10)) for i in range(500)] + [("new", 1.0)],
        "g string, v double",
    )
    got = {r["g"]: r for r in psi_report(df, shifted, "v", ["g"]).collect()}
    assert set(got) == {"a"}  # base-absent group dropped
    assert got["a"]["psi_micro"] > 250_000  # > 0.25: retrain-level drift
    again = {
        r["g"]: r["psi_micro"]
        for r in psi_report(
            df.repartition(7), shifted.repartition(5), "v", ["g"]
        ).collect()
    }
    assert again == {g: r["psi_micro"] for g, r in got.items()}


def test_ks_report_exact_bounds_and_invariance(spark):
    """Identical snapshots -> D exactly 0; disjoint value ranges ->
    D exactly 1 (1_000_000 micro); a half-overlap shift lands at the
    exact rational gap; results are partition-invariant."""
    from gcp_data_pipeline_fyp_spark.operators.profile import ks_report

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(100)], "g string, v double"
    )
    same = ks_report(df, df, "v", ["g"]).collect()
    assert [(r["g"], r["n_base"], r["n_cur"], r["ks_micro"]) for r in same] == [
        ("a", 100, 100, 0)
    ]
    disjoint = spark.createDataFrame(
        [("a", 1000.0 + i) for i in range(50)], "g string, v double"
    )
    d1 = ks_report(df, disjoint, "v", ["g"]).collect()[0]
    assert (d1["n_base"], d1["n_cur"], d1["ks_micro"]) == (100, 50, 1_000_000)
    # shift by 50: ECDF gap peaks at value 99 -> |100*100 - 50*100|/(100*100) = 0.5
    shifted = spark.createDataFrame(
        [("a", 50.0 + i) for i in range(100)], "g string, v double"
    )
    d2 = ks_report(df, shifted, "v", ["g"]).collect()[0]
    assert d2["ks_micro"] == 500_000
    again = ks_report(
        df.repartition(7), shifted.repartition(5), "v", ["g"]
    ).collect()[0]
    assert again["ks_micro"] == d2["ks_micro"]


def test_psi_categorical_zero_identical_flags_mix_shift(spark):
    """Identical mixes -> PSI exactly 0; a flipped 90/10 mix scores
    far above the 0.25 bar; a category present on only one side is
    smoothed finitely (no infinities); partition-invariant."""
    from gcp_data_pipeline_fyp_spark.operators.profile import psi_categorical

    base = spark.createDataFrame(
        [("s", "en")] * 90 + [("s", "fr")] * 10, "source string, lang string"
    )
    same = psi_categorical(base, base, "lang", ["source"]).collect()
    assert [
        (r["source"], r["n_base"], r["n_cur"], r["n_cats"], r["psi_micro"])
        for r in same
    ] == [("s", 100, 100, 2, 0)]
    flipped = spark.createDataFrame(
        [("s", "fr")] * 90 + [("s", "en")] * 5 + [("s", "de")] * 5,
        "source string, lang string",
    )
    got = psi_categorical(base, flipped, "lang", ["source"]).collect()[0]
    assert got["n_cats"] == 3  # union includes the one-sided 'de'
    assert got["psi_micro"] > 250_000
    again = psi_categorical(
        base.repartition(7), flipped.repartition(5), "lang", ["source"]
    ).collect()[0]
    assert again["psi_micro"] == got["psi_micro"]


def test_embedding_drift_identity_orthogonal_invariance(spark):
    """Identical snapshots -> cosine exactly 1e6 micro; snapshots
    whose centroids are orthogonal -> 0; partition-invariant."""
    from gcp_data_pipeline_fyp_spark.operators.profile import embedding_drift

    a = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0]), (1, [3.0, 0.0, 2.0])], "label int, v array<double>"
    )
    same = embedding_drift(a, a, "v", ["label"]).collect()
    assert [
        (r["label"], r["n_base"], r["n_cur"], r["centroid_cos_micro"])
        for r in same
    ] == [(1, 2, 2, 1_000_000)]
    ortho = spark.createDataFrame(
        [(1, [0.0, 5.0, 0.0]), (1, [0.0, 1.0, 0.0])], "label int, v array<double>"
    )
    got = embedding_drift(a, ortho, "v", ["label"]).collect()[0]
    assert got["centroid_cos_micro"] == 0
    again = embedding_drift(
        a.repartition(3), ortho.repartition(2), "v", ["label"]
    ).collect()[0]
    assert again["centroid_cos_micro"] == 0


def test_winsorize_clamps_tails_keeps_interior(spark):
    """Planted extreme tails clamp to the group's percentile cuts;
    interior values pass through on the micro grid unchanged;
    partition-invariant."""
    from gcp_data_pipeline_fyp_spark.operators.profile import winsorize

    rows = [(i, "a", float(i)) for i in range(1, 100)]  # 1..99
    rows += [(1000, "a", 1e9), (1001, "a", -1e9)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = {r["id"]: r["winsorized_micro"] for r in winsorize(
        df, "v", ["g"], 0.05, 0.95
    ).collect()}
    assert got[50] == 50_000_000  # interior untouched
    assert got[1000] == max(got.values())  # clamped to the hi cut
    assert got[1001] == min(got.values())  # clamped to the lo cut
    assert got[1000] < 100_000_000 and got[1001] > 0
    again = {r["id"]: r["winsorized_micro"] for r in winsorize(
        df.repartition(7), "v", ["g"], 0.05, 0.95
    ).collect()}
    assert again == got


def test_corr_matrix_matches_exact_corr_pairwise_complete(spark):
    """The one-pass matrix equals per-pair exact_corr, including
    pairwise-complete n under asymmetric nulls; partition-invariant."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        corr_matrix,
        exact_corr,
    )

    rows = [(float(i), 2.0 * i + 1, float(i % 5)) for i in range(50)]
    rows += [(None, 7.0, 1.0), (3.0, None, 2.0)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    got = {
        (r["col_x"], r["col_y"]): (r["n"], r["corr_micro"])
        for r in corr_matrix(df, ["a", "b", "c"]).collect()
    }
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert got[("a", "b")][0] == 50  # both-null rows excluded pairwise
    for x, y in got:
        ref = exact_corr(df, x, y).collect()[0]
        assert got[(x, y)] == (ref["n"], ref["corr_micro"]), (x, y)
    assert got[("a", "b")][1] == 1_000_000  # perfectly linear
    again = {
        (r["col_x"], r["col_y"]): (r["n"], r["corr_micro"])
        for r in corr_matrix(df.repartition(7), ["a", "b", "c"]).collect()
    }
    assert again == got


def test_psi_profile_pipeline_equals_psi_report(spark):
    """fit_psi_profile + bin_against_profile + psi_from_profile is
    byte-equivalent to the one-shot psi_report across groups, and a
    group with no current rows is not reported."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        bin_against_profile,
        fit_psi_profile,
        psi_from_profile,
        psi_report,
    )

    base = spark.createDataFrame(
        [("a", float(i % 30)) for i in range(300)]
        + [("b", float(i % 7)) for i in range(70)],
        "g string, v double",
    )
    cur = spark.createDataFrame(
        [("a", 10.0 + i % 15) for i in range(120)], "g string, v double"
    )
    prof = fit_psi_profile(base, "v", ["g"], 10)
    got = psi_from_profile(
        prof, bin_against_profile(cur, prof, "v", ["g"], 10), ["g"]
    ).collect()
    want = psi_report(base, cur, "v", ["g"], 10).collect()
    key = lambda r: (r["g"], r["n_base"], r["n_cur"], r["psi_micro"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert [r["g"] for r in got] == ["a"]  # 'b' has no current rows


def test_drift_reports_only_groups_in_both_snapshots(spark):
    """A group seen in one snapshot only is not reported by any drift
    monitor — a base-only group has no current distribution and a
    current-only group has no base one, and exact KS must not divide by
    the missing side's zero total."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        ks_binned_report,
        ks_report,
        psi_categorical,
        psi_report,
    )

    base = spark.createDataFrame(
        [("a", float(i % 9)) for i in range(90)]
        + [("b", float(i % 5)) for i in range(50)],
        "g string, v double",
    )
    cur = spark.createDataFrame(
        [("a", float(2 + i % 9)) for i in range(60)]
        + [("c", float(i % 4)) for i in range(40)],
        "g string, v double",
    )
    for report in (
        ks_report(base, cur, "v", ["g"]),
        ks_binned_report(base, cur, "v", ["g"], n_bins=10),
        psi_report(base, cur, "v", ["g"]),
        psi_categorical(base, cur, "v", ["g"]),
    ):
        rows = report.collect()
        assert [(r["g"], r["n_base"], r["n_cur"]) for r in rows] == [
            ("a", 90, 60)
        ]
    ks = ks_report(base, cur, "v", ["g"]).collect()[0]["ks_micro"]
    assert 0 < ks <= 1_000_000


def test_drift_reports_no_null_group_key(spark):
    """A NULL group key with rows in both snapshots is reported by no
    drift monitor and leaves no row in a fitted profile: a NULL key
    matches no equi-join, so its base and current counts never pool
    (pooled anyway, categorical PSI would count each category twice,
    and exact KS would read identical distributions as drifted)."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        bin_against_profile,
        fit_psi_profile,
        ks_binned_report,
        ks_report,
        psi_categorical,
        psi_from_joint_counts,
        psi_from_profile,
        psi_report,
    )

    base = spark.createDataFrame(
        [("a", float(i % 9)) for i in range(90)]
        + [(None, float(i % 5)) for i in range(50)],
        "g string, v double",
    )
    cur = spark.createDataFrame(
        [("a", float(2 + i % 9)) for i in range(60)]
        + [(None, float(i % 5)) for i in range(40)],
        "g string, v double",
    )
    prof = fit_psi_profile(base, "v", ["g"], 10)
    assert prof.columns == ["g", "bin", "lo", "hi", "base_cnt"]
    assert prof.filter(F.col("g").isNull()).count() == 0
    pooled = spark.createDataFrame(
        [("a", "x", 3, 1), ("a", "y", 1, 3), (None, "x", 2, 2), (None, "y", 2, 1)],
        "g string, c string, __cb long, __cc long",
    )
    for report in (
        ks_report(base, cur, "v", ["g"]),
        ks_binned_report(base, cur, "v", ["g"], n_bins=10),
        psi_report(base, cur, "v", ["g"]),
        psi_categorical(base, cur, "v", ["g"]),
        psi_from_profile(prof, bin_against_profile(cur, prof, "v", ["g"]), ["g"]),
        psi_from_joint_counts(pooled, ["g"]),
    ):
        assert [r["g"] for r in report.collect()] == ["a"]


def test_psi_ungrouped_equals_constant_group(spark):
    """psi_report and the profile route (fit -> bin -> psi_from_profile)
    without group columns equal the same calls grouped by a constant
    column, with that column dropped."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        bin_against_profile,
        fit_psi_profile,
        psi_from_profile,
        psi_report,
    )

    base = spark.createDataFrame(
        [(float(i % 23),) for i in range(230)] + [(None,)], "v double"
    )
    cur = spark.createDataFrame(
        [(5.0 + i % 31,) for i in range(155)] + [(None,)], "v double"
    )

    def routes(b, c, gcols):
        prof = fit_psi_profile(b, "v", gcols, 8)
        cur_counts = bin_against_profile(c, prof, "v", gcols, 8)
        return (
            psi_report(b, c, "v", gcols, 8),
            psi_from_profile(prof, cur_counts, gcols),
        )

    k = F.lit("all").alias("k")
    grouped = routes(base.select(k, "v"), cur.select(k, "v"), ["k"])
    for got, want in zip(routes(base, cur, []), grouped):
        assert got.columns == want.columns[1:]
        assert got.collect() == want.drop("k").collect()
    assert routes(base, cur, [])[0].collect()[0]["psi_micro"] > 0


def test_ab_test_known_z_and_degenerate_arms(spark):
    """A hand-computable 2x2 gives the textbook pooled z; an empty
    arm and an all-success pool yield NULL z, not a crash."""
    import math

    from gcp_data_pipeline_fyp_spark.operators.profile import ab_test

    rows = [("t", True)] * 60 + [("t", False)] * 40  # p_t = 0.6, n=100
    rows += [("c", True)] * 40 + [("c", False)] * 60  # p_c = 0.4, n=100
    df = spark.createDataFrame(
        [(g == "t", s) for g, s in rows], "treat boolean, success boolean"
    )
    r = ab_test(df, "treat", "success").collect()[0]
    pp = 0.5
    z = (0.6 - 0.4) / math.sqrt(pp * (1 - pp) * (2 / 100))
    assert (r["n_t"], r["n_c"]) == (100, 100)
    assert (r["rate_t_micro"], r["rate_c_micro"]) == (600_000, 400_000)
    assert abs(r["z_micro"] - round(z * 1e6)) <= 1
    empty_arm = spark.createDataFrame(
        [(True, True), (True, False)], "treat boolean, success boolean"
    )
    assert ab_test(empty_arm, "treat", "success").collect()[0]["z_micro"] is None
    all_succ = spark.createDataFrame(
        [(True, True), (False, True)], "treat boolean, success boolean"
    )
    assert ab_test(all_succ, "treat", "success").collect()[0]["z_micro"] is None


def test_benford_audit_scaffold_and_exact_fractions(spark):
    """Digits extract correctly across magnitudes, zero-count digits
    appear with obs 0, fractions are exact-count ratios, and the
    expectation column is Benford's log10(1+1/d)."""
    import math

    from gcp_data_pipeline_fyp_spark.operators.profile import benford_audit

    vals = [1.0, 0.19, 123.0, 1e6, 9.5, 900.0, 0.0, None]  # digits 1,1,1,1,9,9
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["digit"]: r for r in benford_audit(df, "v").collect()}
    assert set(got) == set(range(1, 10))
    assert got[1]["n_d"] == 4 and got[9]["n_d"] == 2
    assert got[2]["n_d"] == 0 and got[2]["obs_micro"] == 0
    assert got[1]["obs_micro"] == round(4 / 6 * 1e6)
    for d in range(1, 10):
        assert got[d]["exp_micro"] == round(math.log10(1 + 1 / d) * 1e6)


def test_target_encode_shrinks_and_excludes_own_fold(spark):
    """Plain encoding shrinks rare categories toward the global mean;
    fold-aware encoding of a row excludes its own fold's labels (the
    leakage guard) — pinned on a hand-computable layout."""
    from gcp_data_pipeline_fyp_spark.operators.profile import target_encode

    # cat 'a': 4 rows y=10 in fold 0, 4 rows y=20 in fold 1; global mean 15
    rows = [("a", 0, 10.0)] * 4 + [("a", 1, 20.0)] * 4
    df = spark.createDataFrame(rows, "c string, f long, y double")
    plain = target_encode(df, "c", "y", m=2.0).collect()[0]["te_micro"]
    # (120 + 2*15) / (8 + 2) = 15.0
    assert plain == 15_000_000
    foldy = {
        (r["c"], r["f"]): r["te_micro"]
        for r in target_encode(df, "c", "y", fold_col="f", m=2.0).collect()
    }
    # fold-0 rows see only fold-1 labels: (80 + 30) / (4 + 2)
    assert foldy[("a", 0)] == round((80 + 30) / 6 * 1e6)
    assert foldy[("a", 1)] == round((40 + 30) / 6 * 1e6)


def test_cusum_changepoint_finds_planted_shift(spark):
    """A step from level 10 to level 30 at t=50 puts the CUSUM argmax
    exactly at the last pre-shift point; a constant series has |S|=0
    everywhere and ties break to the earliest time. Partition-
    invariant by exact-integer construction."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        cusum_changepoint,
    )

    rows = [("a", i, 10) for i in range(50)] + [("a", i, 30) for i in range(50, 100)]
    rows += [("flat", i, 7) for i in range(20)]
    df = spark.createDataFrame(rows, "g string, t long, x long")
    got = {r["g"]: r for r in cusum_changepoint(df, "t", "x", ["g"]).collect()}
    assert got["a"]["change_at"] == 49  # last point of the old regime
    # S_49 = 100*500 - 50*2000 = -50000
    assert got["a"]["cusum_scaled"] == 50_000
    assert got["a"]["n_points"] == 100
    assert (got["flat"]["change_at"], got["flat"]["cusum_scaled"]) == (0, 0)
    again = {
        r["g"]: r["change_at"]
        for r in cusum_changepoint(df.repartition(7), "t", "x", ["g"]).collect()
    }
    assert again == {g: r["change_at"] for g, r in got.items()}


def test_contingency_stats_independence_and_identity(spark):
    """Exactly independent columns give MI 0 and chi2 0; a perfect
    1:1 mapping over k balanced categories gives MI = ln(k); empty
    cells enter chi-square with their expectation."""
    import math

    from gcp_data_pipeline_fyp_spark.operators.profile import (
        contingency_stats,
    )

    indep = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(25)],
        "x string, y string",
    )
    r = contingency_stats(indep, "x", "y").collect()[0]
    assert (r["n"], r["n_cells"]) == (100, 4)
    assert r["mi_micro"] == 0 and r["chi2_micro"] == 0

    ident = spark.createDataFrame(
        [(c, c.upper()) for c in "abc" for _ in range(10)], "x string, y string"
    )
    r2 = contingency_stats(ident, "x", "y").collect()[0]
    assert r2["n_cells"] == 9  # full 3x3 cross, 6 empty cells
    # per-cell micro rounding: 3 cells of (1/3)ln(3), integer-summed
    assert r2["mi_micro"] == 3 * round(math.log(3) / 3 * 1e6)
    # chi2 for a perfect 3x3 mapping with n=30 is 2n = 60; the
    # per-cell micro-rounding convention gives 3*round(40/3 * 1e6)
    # + 6*round(10/3 * 1e6) = 59_999_997 (exact integers, any order)
    assert r2["chi2_micro"] == 3 * 13_333_333 + 6 * 3_333_333


def test_table_diff_statuses_and_null_safety(spark):
    """All three statuses, multi-column change lists in column order,
    NULL==NULL counted as same, NULL vs value as changed, unchanged
    keys absent."""
    from gcp_data_pipeline_fyp_spark.operators.merge import table_diff

    left = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, None, 4.0)],
        "k long, s string, v double",
    )
    right = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (4, "x", None), (5, "e", 5.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: (r["status"], r["changed_cols"])
        for r in table_diff(left, right, ["k"]).collect()
    }
    assert got == {
        3: ("removed", None),
        4: ("changed", "s,v"),  # NULL->x and 4.0->NULL both flagged
        5: ("added", None),
    }  # keys 1 and 2 (NULL==NULL) are unchanged and absent


def test_table_diff_keys_only_presence(spark):
    """No compare columns (keys-only tables, or compare_cols=[]) is a
    pure key-presence diff: added/removed emit, both-sides keys are
    never 'changed' — no IndexError on the empty column list."""
    from gcp_data_pipeline_fyp_spark.operators.merge import table_diff

    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame([(2,), (3,)], "k long")
    got = {
        r["k"]: r["status"] for r in table_diff(left, right, ["k"]).collect()
    }
    assert got == {1: "removed", 3: "added"}
    # explicit empty compare_cols over wider tables: same contract
    l2 = spark.createDataFrame([(1, "a")], "k long, s string")
    r2 = spark.createDataFrame([(1, "CHANGED")], "k long, s string")
    assert table_diff(l2, r2, ["k"], compare_cols=[]).count() == 0


def test_unigram_jsd_identical_zero_disjoint_ln2(spark):
    """Identical sources give JSD exactly 0; disjoint vocabularies
    give (by the closed form, when a third source bridges the join)
    no shared row — and a half-overlap pair lands strictly between;
    symmetric in source order by construction."""
    import math

    from gcp_data_pipeline_fyp_spark.operators.profile import (
        unigram_jsd_matrix,
    )

    docs = spark.createDataFrame(
        [("a", "x y z w"), ("b", "x y z w"), ("c", "x y q r")],
        "source string, text string",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in unigram_jsd_matrix(docs, "text", "source").collect()
    }
    assert got[("a", "b")]["jsd_nano"] == 0  # identical distributions
    half = got[("a", "c")]["jsd_nano"]
    assert half == got[("b", "c")]["jsd_nano"]  # a == b
    assert 0 < half < round(math.log(2) * 1e9)  # strictly between
    # hand value: shared mass 1/2 each side at equal p -> shared terms 0;
    # closed form = ln2/2 * (1/2 + 1/2) = ln2/2
    assert half == round(math.log(2.0) / 2.0 * 1e9)


def test_interpolate_linear_gaps_edges_and_passthrough(spark):
    """Interior gaps take the exact line between bracketing points
    (including multi-point gaps), edge gaps take the single known
    side, known points pass through, all-NULL keys stay NULL."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        interpolate_linear,
    )

    rows = [
        ("a", 0, 10.0), ("a", 1, None), ("a", 2, None), ("a", 3, 40.0),
        ("a", 4, None),  # trailing edge -> 40
        ("b", 0, None), ("b", 1, 5.0),  # leading edge -> 5
        ("c", 0, None),  # all-NULL key stays NULL
    ]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    got = {
        (r["g"], r["t"]): r["v_interp_micro"]
        for r in interpolate_linear(df, ["g"], "t", "v").collect()
    }
    assert got[("a", 0)] == 10_000_000 and got[("a", 3)] == 40_000_000
    assert got[("a", 1)] == 20_000_000  # 10 + 30*(1/3)
    assert got[("a", 2)] == 30_000_000
    assert got[("a", 4)] == 40_000_000  # trailing ffill
    assert got[("b", 0)] == 5_000_000  # leading bfill
    assert got[("c", 0)] is None


def test_weighted_sample_wor_exact_k_weight_bias_deterministic(spark):
    """Exactly k distinct rows per group; a dominant weight is always
    included (its rank -ln(u)/w is ~1000x smaller than any unit
    weight's); zero/NULL weights are excluded; the sample is
    identical across partitionings and runs."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        weighted_sample_wor,
    )

    rows = [(0, "g", 100000.0)] + [(i, "g", 1.0) for i in range(1, 101)]
    rows += [(200, "g", 0.0), (201, "g", None)]
    df = spark.createDataFrame(rows, "id long, grp string, w double")
    got = weighted_sample_wor(df, ["id"], "w", 10, ["grp"]).collect()
    ids = [r["id"] for r in got]
    assert len(ids) == 10 and len(set(ids)) == 10
    assert 0 in ids  # the 1e5-weight row is effectively certain
    assert 200 not in ids and 201 not in ids
    again = [
        r["id"]
        for r in weighted_sample_wor(
            df.repartition(7), ["id"], "w", 10, ["grp"]
        ).collect()
    ]
    assert sorted(again) == sorted(ids)


def test_table_fingerprint_order_invariant_multiset_sensitive(spark):
    """Equal content (any row order / partitioning) -> equal
    fingerprint; one changed value, a NULL-vs-empty swap, or a
    duplicated row each change it."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        table_fingerprint,
    )

    rows = [(1, "a"), (2, None), (3, "c")]
    df = spark.createDataFrame(rows, "k long, s string")
    base = table_fingerprint(df).collect()[0]
    assert base["n_rows"] == 3
    shuffled = spark.createDataFrame(rows[::-1], "k long, s string").repartition(3)
    assert table_fingerprint(shuffled).collect()[0] == base
    changed = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "d")], "k long, s string"
    )
    assert table_fingerprint(changed).collect()[0]["checksum"] != base["checksum"]
    null_vs_empty = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "c")], "k long, s string"
    )
    assert (
        table_fingerprint(null_vs_empty).collect()[0]["checksum"]
        != base["checksum"]
    )
    duped = spark.createDataFrame(rows + [rows[0]], "k long, s string")
    assert table_fingerprint(duped).collect()[0]["checksum"] != base["checksum"]


def test_kcore_peels_tails_keeps_cliques(spark):
    """A triangle attached to a pendant chain: the 2-core is exactly
    the triangle (the chain peels away over successive rounds), every
    surviving node at degree 2. Also pins fixed-round idempotence:
    extra rounds on a converged graph change nothing."""
    from gcp_data_pipeline_fyp_spark.operators.components import kcore

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["degree"] for r in kcore(pairs, k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    more = {r["node"]: r["degree"] for r in kcore(pairs, k=2, rounds=8).collect()}
    assert more == got


def test_length_bucketed_batches_shape_and_stability(spark):
    """Every batch holds <= batch_size rows of one length bucket, ids
    partition exactly, and composition is partition-invariant."""
    from gcp_data_pipeline_fyp_spark.operators.packing import (
        length_bucketed_batches,
    )

    rows = [(i, 10 + (i % 3)) for i in range(50)]          # bucket 3
    rows += [(100 + i, 100 + i) for i in range(40)]        # buckets 6-7
    rows += [(999, 0)]                                     # dropped
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = length_bucketed_batches(df, "doc_id", "n", batch_size=8, seed=1)
    got = out.collect()
    assert {r["doc_id"] for r in got} == {r[0] for r in rows if r[1] > 0}
    from collections import Counter

    per_batch = Counter((r["len_bucket"], r["batch_id"]) for r in got)
    assert all(v <= 8 for v in per_batch.values())
    # full batches dominate: n_batches is ceil(bucket_size / 8)
    per_bucket = Counter(r["len_bucket"] for r in got)
    batches_per_bucket = Counter(b for b, _ in per_batch)
    for bucket, size in per_bucket.items():
        assert batches_per_bucket[bucket] == -(-size // 8)
    again = length_bucketed_batches(
        df.repartition(7), "doc_id", "n", batch_size=8, seed=1
    ).collect()
    key = lambda r: (r["doc_id"], r["len_bucket"], r["batch_id"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, again))


# ------------------------------------------------------- SCD2 (r6 tail)
def test_scd2_snapshot_collapses_runs_and_handles_nulls(spark):
    from gcp_data_pipeline_fyp_spark.operators.scd import scd2_snapshot

    feed = spark.createDataFrame(
        [
            # entity 1: a, a, NULL, NULL, b  -> versions a, NULL, b
            (1, "a", 10, 1), (1, "a", 20, 2), (1, None, 30, 3),
            (1, None, 40, 4), (1, "b", 50, 5),
            # entity 2: single row -> one open version
            (2, "x", 15, 6),
        ],
        "uid int, attr string, t int, eid int",
    )
    out = scd2_snapshot(feed, ["uid"], ["attr"], "t", ["eid"]).collect()
    rows = sorted(
        [(r.uid, r.attr, r.valid_from, r.valid_to, r.is_current) for r in out]
    , key=lambda x: (x[0], x[2]))
    assert rows == [
        (1, "a", 10, 30, False),
        (1, None, 30, 50, False),
        (1, "b", 50, None, True),
        (2, "x", 15, None, True),
    ]


def test_scd2_apply_closes_current_and_is_replay_idempotent(spark):
    from gcp_data_pipeline_fyp_spark.operators.scd import (
        scd2_apply,
        scd2_snapshot,
    )

    feed = spark.createDataFrame(
        [(1, "a", 10, 1), (1, "b", 20, 2), (2, "x", 15, 3)],
        "uid int, attr string, t int, eid int",
    )
    dim = scd2_snapshot(feed, ["uid"], ["attr"], "t", ["eid"])
    changes = spark.createDataFrame(
        # uid 1: real change (closes 'b'); uid 2: same attr (no-op)
        [(1, "c", 30, 4), (2, "x", 40, 5)],
        "uid int, attr string, t int, eid int",
    )
    out = scd2_apply(dim, changes, ["uid"], ["attr"], "t", ["eid"])
    rows = sorted(
        [(r.uid, r.attr, r.valid_from, r.valid_to, r.is_current)
         for r in out.collect()],
        key=lambda x: (x[0], x[2]),
    )
    assert rows == [
        (1, "a", 10, 20, False),
        (1, "b", 20, 30, False),
        (1, "c", 30, None, True),
        (2, "x", 15, None, True),
    ]
    # replaying the SAME delta changes nothing (at-least-once safe)
    again = scd2_apply(out, changes, ["uid"], ["attr"], "t", ["eid"])
    rows2 = sorted(
        [(r.uid, r.attr, r.valid_from, r.valid_to, r.is_current)
         for r in again.collect()],
        key=lambda x: (x[0], x[2]),
    )
    assert rows2 == rows


# ------------------------------------------------- k-anonymity (r6 tail)
def test_kanonymity_suppression_nullsafe_groups(spark):
    import pytest

    from gcp_data_pipeline_fyp_spark.operators.privacy import (
        generalize_band,
        kanonymity_report,
        suppress_small_groups,
    )

    df = spark.createDataFrame(
        [
            # group ('en', 100-band): 3 rows -> released at k=3
            (1, "en", 120), (2, "en", 150), (3, "en", 199),
            # group (NULL, 100-band): 2 rows -> NULL is a real group,
            # suppressed at k=3 but both rows match each other
            (4, None, 110), (5, None, 140),
            # singleton -> always suppressed
            (6, "de", 500),
        ],
        "doc_id int, lang string, n_chars int",
    )
    g = df.select(
        "doc_id", "lang", generalize_band("n_chars", 100).alias("band")
    )
    kept3 = suppress_small_groups(g, ["lang", "band"], 3)
    assert sorted(r.doc_id for r in kept3.collect()) == [1, 2, 3]
    kept2 = suppress_small_groups(g, ["lang", "band"], 2)
    assert sorted(r.doc_id for r in kept2.collect()) == [1, 2, 3, 4, 5]
    rep = {
        (r.lang, r.band): (r.group_size, r.released)
        for r in kanonymity_report(g, ["lang", "band"], 3).collect()
    }
    assert rep == {
        ("en", 100): (3, True),
        (None, 100): (2, False),
        ("de", 500): (1, False),
    }
    with pytest.raises(ValueError):
        suppress_small_groups(g, ["lang"], 0)


# ------------------------------------------- label propagation (r6 tail)
def test_label_propagation_two_bridged_triangles(spark):
    from gcp_data_pipeline_fyp_spark.operators.components import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "id_a bigint, id_b bigint",
    )
    out = {
        r.node: r.community
        for r in label_propagation(edges, iters=4).collect()
    }
    # two communities survive the bridge; min-label representative wins
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


# --------------------------------------------------- grouped OLS (r6 tail)
def test_grouped_ols_numpy_parity_and_partition_invariance(spark):
    import numpy as np

    from gcp_data_pipeline_fyp_spark.operators.profile import grouped_ols

    rows = [
        ("a", float(x), 2.5 * x + 7.0 + ((x * 37) % 5 - 2) * 0.25)
        for x in range(40)
    ] + [("b", float(x), -1.5 * x + 3.0) for x in range(10)] + [
        ("c", 4.0, 9.0), ("c", 4.0, 11.0),  # zero x-variance -> NULL
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {
        r.g: (r.n, r.slope_micro, r.intercept_micro)
        for r in grouped_ols(df, "x", "y", ["g"]).collect()
    }
    for g in ("a", "b"):
        xs = np.array([r[1] for r in rows if r[0] == g])
        ys = np.array([r[2] for r in rows if r[0] == g])
        slope, intercept = np.polyfit(xs, ys, 1)
        assert out[g][0] == len(xs)
        assert abs(out[g][1] - round(slope * 1e6)) <= 1
        assert abs(out[g][2] - round(intercept * 1e6)) <= 1
    assert out["c"] == (2, None, None)
    # partition invariance: identical bytes on a different layout
    out2 = {
        r.g: (r.n, r.slope_micro, r.intercept_micro)
        for r in grouped_ols(df.repartition(7), "x", "y", ["g"]).collect()
    }
    assert out2 == out


# ------------------------------------------------ fuzzy linkage (r6 tail)
def test_fuzzy_pairs_deletion_blocking_complete(spark):
    import pytest

    from gcp_data_pipeline_fyp_spark.operators.linkage import fuzzy_pairs

    df = spark.createDataFrame(
        [
            (1, "acme corp"),
            (2, "acme c0rp"),   # substitution -> dist 1
            (3, "acme corps"),  # insertion    -> dist 1
            (4, "acme cor"),    # deletion of 1 -> dist 1 (vs 3: dist 2)
            (5, "acme!corp!"),  # dist 2 from 1 -> excluded
            (6, None),          # null text ignored
            (7, ""),            # empty string: no crash (sequence guard)
            (8, "acme corp"),   # exact duplicate of 1: dist-0 pair +
                                # inherits 1's fuzzy neighbors
        ],
        "id int, name string",
    )
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_pairs(df, "id", "name").collect()
    )
    assert got == [
        (1, 2, 1), (1, 3, 1), (1, 4, 1), (1, 8, 0),
        (2, 8, 1), (3, 8, 1), (4, 8, 1),
    ]
    with pytest.raises(NotImplementedError):
        fuzzy_pairs(df, "id", "name", max_dist=2)


# ------------------------------------- clustering coefficient (r6 tail)
def test_clustering_coefficients_triangle_vs_chain(spark):
    from gcp_data_pipeline_fyp_spark.operators.components import (
        clustering_coefficients,
    )

    edges = spark.createDataFrame(
        # triangle 1-2-3 plus a pendant chain 3-4-5
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)],
        "id_a bigint, id_b bigint",
    )
    out = {
        r.node: (r.degree, r.n_triangles, r.cc_micro)
        for r in clustering_coefficients(edges).collect()
    }
    assert out[1] == (2, 1, 1_000_000)   # pure triangle corner: cc=1
    assert out[2] == (2, 1, 1_000_000)
    assert out[3] == (3, 1, 333_333)     # 2*1/(3*2)
    assert out[4] == (2, 0, 0)           # chain middle: no closure
    assert 5 not in out                  # degree-1 nodes omitted


def test_group_znormalize_matches_numpy_and_is_partition_invariant(spark):
    """Per-group z-scores match numpy population z to 6 dp, constant
    groups yield NULL z, NULL values are excluded from stats but kept
    out of the joined output only if their value is NULL (they carry a
    NULL z), and repartitioning changes nothing."""
    from gcp_data_pipeline_fyp_spark.operators.profile import group_znormalize

    rows = [(i, "a", float(10 + (i * 7) % 13)) for i in range(40)]
    rows += [(100 + i, "c", 5.0) for i in range(8)]  # constant group
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r["id"]: r["z_micro"] for r in group_znormalize(
        df, ["g"], "v"
    ).collect()}

    vals = [r[2] for r in rows if r[1] == "a"]
    n = len(vals)
    mean = sum(vals) / n
    var = sum(v * v for v in vals) / n - mean * mean
    sd = var ** 0.5
    for i in range(40):
        want = round((rows[i][2] - mean) / sd * 1_000_000)
        assert abs(out[i] - want) <= 1, (i, out[i], want)
    for i in range(8):
        assert out[100 + i] is None  # constant group -> NULL z

    again = {r["id"]: r["z_micro"] for r in group_znormalize(
        df.repartition(5), ["g"], "v"
    ).collect()}
    assert again == out


def test_text_index_build_query_append_matches_direct_bm25(spark, tmp_path):
    """Persisted inverted index: query_text_index returns the identical
    rows bm25_topk computes directly; append + query equals a fresh
    rebuild over the union; and the postings FileScan carries a STATIC
    term_bucket partition filter plus a pushed term filter — only the
    query's buckets are listed, only its terms' row groups decode."""
    from gcp_data_pipeline_fyp_spark.operators.search import (
        append_text_index,
        bm25_topk,
        build_text_index,
        query_text_index,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
    from pyspark.sql import functions as F

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    head = docs.filter(F.col("doc_id") < 400)
    tail = docs.filter(F.col("doc_id") >= 400)
    terms = ["spark", "table", "join"]

    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_text_index(wh, head, "doc_id", "text", "ix", n_buckets=16)
    got = query_text_index(wh, spark, terms, "ix", k=10)
    want = bm25_topk(head, "doc_id", "text", terms, k=10)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]

    import re

    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[term_bucket[^\]]*IN \(([^)]*)\)", plan)
    assert m, plan[:2000]
    # 3 terms -> at most 3 of the 16 buckets listed, never all of them
    assert len(m.group(1).split(",")) <= 3
    assert "PushedFilters: [In(term" in plan

    append_text_index(wh, tail, "doc_id", "text", "ix")
    got2 = query_text_index(wh, spark, terms, "ix", k=10)
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    build_text_index(wh2, docs, "doc_id", "text", "ix", n_buckets=16)
    want2 = query_text_index(wh2, spark, terms, "ix", k=10)
    assert [tuple(r) for r in got2.collect()] == [
        tuple(r) for r in want2.collect()
    ]
    # and the rebuilt union equals the direct computation too
    direct = bm25_topk(docs, "doc_id", "text", terms, k=10)
    assert [tuple(r) for r in want2.collect()] == [
        tuple(r) for r in direct.collect()
    ]


def test_text_index_postings_compact_after_appends(spark, tmp_path):
    """Append-heavy postings decay into small files; compact_table
    with partition_cols=['term_bucket'] rewrites each fragmented bucket
    dir and the compacted index answers queries byte-identically."""
    from gcp_data_pipeline_fyp_spark.operators.maintenance import compact_table
    from gcp_data_pipeline_fyp_spark.operators.search import (
        append_text_index,
        build_text_index,
        query_text_index,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
    from pyspark.sql import functions as F
    import os

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    build_text_index(
        wh, docs.filter(F.col("doc_id") < 300), "doc_id", "text", "ix",
        n_buckets=8,
    )
    for lo in (300, 400):
        append_text_index(
            wh,
            docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
            ),
            "doc_id", "text", "ix",
        )
    terms = ["spark", "table", "join"]
    before = [tuple(r) for r in query_text_index(wh, spark, terms, "ix").collect()]

    def _nfiles():
        return sum(
            1
            for _dp, _dns, fns in os.walk(wh.path("ix__postings"))
            for f in fns
            if f.endswith(".parquet")
        )

    n_before = _nfiles()
    compact_table(wh, "ix__postings", partition_cols=["term_bucket"])
    assert _nfiles() < n_before  # the 3-generation small files merged
    after = [tuple(r) for r in query_text_index(wh, spark, terms, "ix").collect()]
    assert after == before


def test_gini_coefficient_bounds_and_known_values(spark):
    """Perfect equality -> 0; a single holder of all mass among n ->
    (n-1)/n; a hand-computable split matches the rank formula;
    partition-invariant."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        gini_coefficient,
    )

    equal = spark.createDataFrame(
        [("g", i, 5.0) for i in range(10)], "grp string, id long, v double"
    )
    r = gini_coefficient(equal, "v", ["grp"]).collect()[0]
    assert (r["n"], r["gini_micro"]) == (10, 0)
    oneall = spark.createDataFrame(
        [("g", i, 0.0) for i in range(9)] + [("g", 9, 100.0)],
        "grp string, id long, v double",
    )
    r2 = gini_coefficient(oneall, "v", ["grp"]).collect()[0]
    assert r2["gini_micro"] == 900_000  # (n-1)/n = 0.9
    # values 1..4: G = 2*(1+4+9+16)/(4*10) - 5/4 = 0.25
    ramp = spark.createDataFrame(
        [("g", i, float(i)) for i in range(1, 5)],
        "grp string, id long, v double",
    )
    assert gini_coefficient(ramp, "v", ["grp"]).collect()[0][
        "gini_micro"
    ] == 250_000
    again = gini_coefficient(
        oneall.repartition(7), "v", ["grp"]
    ).collect()[0]
    assert again["gini_micro"] == r2["gini_micro"]


def test_gini_ungrouped_distributed_matches_grouped(spark):
    """Empty group_cols routes to the distributed global-rank path
    (tie-collapse + two-level prefix count) — it must agree exactly
    with the grouped closed form over a constant group, including
    heavy ties, and stay partition-invariant. Pins the
    giant-group contract: the ungrouped case never runs the
    single-partition per-group rank window."""
    import random

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.profile import (
        gini_coefficient,
    )

    rng = random.Random(11)
    vals = [round(rng.expovariate(0.01), 4) for _ in range(800)]
    vals += [42.0] * 150  # heavy tie run straddling range buckets
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )
    u = gini_coefficient(df, "v").collect()[0]
    g = gini_coefficient(
        df.withColumn("k", F.lit(1)), "v", ["k"]
    ).collect()[0]
    assert (u["n"], u["gini_micro"]) == (g["n"], g["gini_micro"])
    again = gini_coefficient(df.repartition(13), "v").collect()[0]
    assert again["gini_micro"] == u["gini_micro"]
    # all-equal edge: span 0 -> one bucket, G = 0
    eq = spark.createDataFrame(
        [(i, 5.0) for i in range(10)], "id long, v double"
    )
    r = gini_coefficient(eq, "v").collect()[0]
    assert (r["n"], r["gini_micro"]) == (10, 0)


def test_epoch_shuffle_order_bijection_and_epoch_variation(spark):
    """global_pos is a bijection onto 0..n-1, stable across
    partitionings, different between epochs (a real reshuffle), and
    identical when recomputed (restart determinism)."""
    from gcp_data_pipeline_fyp_spark.operators.packing import (
        epoch_shuffle_order,
    )

    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    e1 = {
        r["id"]: r["global_pos"]
        for r in epoch_shuffle_order(df, "id", epoch=1).collect()
    }
    assert sorted(e1.values()) == list(range(500))
    again = {
        r["id"]: r["global_pos"]
        for r in epoch_shuffle_order(df.repartition(17), "id", epoch=1).collect()
    }
    assert again == e1
    e2 = {
        r["id"]: r["global_pos"]
        for r in epoch_shuffle_order(df, "id", epoch=2).collect()
    }
    assert sorted(e2.values()) == list(range(500))
    moved = sum(1 for i in e1 if e1[i] != e2[i])
    assert moved > 450  # a fresh permutation, not a nudge


def test_ks_binned_bounds_exact_ks(spark):
    """The binned statistic never exceeds the exact KS, lands within
    the largest-single-bin-mass bound of it, converges to it as
    n_bins grows, and handles the grouped + ungrouped shapes."""
    import random

    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.operators.profile import (
        ks_binned_report,
        ks_report,
    )

    rng = random.Random(3)
    base = spark.createDataFrame(
        [("g", rng.gauss(0, 1)) for _ in range(2000)], "k string, v double"
    )
    cur = spark.createDataFrame(
        [("g", rng.gauss(0.4, 1.2)) for _ in range(2000)],
        "k string, v double",
    )
    exact = ks_report(base, cur, "v", ["k"]).collect()[0]["ks_micro"]
    b100 = ks_binned_report(base, cur, "v", ["k"], n_bins=100).collect()[0]
    b1000 = ks_binned_report(base, cur, "v", ["k"], n_bins=1000).collect()[0][
        "ks_micro"
    ]
    assert b100["ks_micro"] <= exact + 1  # never exceeds (micro slack)
    assert b1000 <= exact + 1
    # more bins -> closer to exact
    assert exact - b1000 <= exact - b100["ks_micro"] + 1
    assert exact - b100["ks_micro"] < 100_000  # coarse-bin bound here
    # ungrouped (single giant group): same numbers, no group column
    u = ks_binned_report(
        base.drop("k"), cur.drop("k"), "v", [], n_bins=100
    ).collect()[0]
    assert u["ks_micro"] == b100["ks_micro"]
    assert (u["n_base"], u["n_cur"]) == (2000, 2000)


def test_interleave_by_source_stride_invariant(spark):
    """Stride scheduling: every prefix of the interleaved stream holds
    the source mixture (a weight-2 source appears ~2x a weight-1
    source at ANY cutoff, +-1 per stride law); ranks are dense
    per-source bijections; unknown sources are dropped; the order is
    partition-invariant."""
    from gcp_data_pipeline_fyp_spark.operators.packing import (
        interleave_by_source,
    )

    rows = [(i, "a") for i in range(200)]
    rows += [(1000 + i, "b") for i in range(200)]
    rows += [(9000 + i, "zz") for i in range(10)]  # no weight -> dropped
    df = spark.createDataFrame(rows, "id long, src string")
    out = interleave_by_source(
        df, "id", "src", {"a": 2.0, "b": 1.0}, epoch=1
    ).collect()
    assert all(r["src"] != "zz" for r in out)
    by_src = {}
    for r in out:
        by_src.setdefault(r["src"], []).append(r["rank_in_source"])
    assert sorted(by_src["a"]) == list(range(200))
    assert sorted(by_src["b"]) == list(range(200))
    # prefix mixture: order by the stride key, check every prefix
    ordered = sorted(out, key=lambda r: (r["interleave_micro"], r["id"]))
    na = nb = 0
    for r in ordered[:150]:
        if r["src"] == "a":
            na += 1
        else:
            nb += 1
        if na + nb >= 3:  # stride law: |na - 2*nb| bounded by strides
            assert abs(na - 2 * nb) <= 2, (na, nb)
    again = interleave_by_source(
        df.repartition(13), "id", "src", {"a": 2.0, "b": 1.0}, epoch=1
    ).collect()
    assert sorted((r["id"], r["interleave_micro"]) for r in again) == sorted(
        (r["id"], r["interleave_micro"]) for r in out
    )
    # non-positive weights are configuration bugs, rejected eagerly
    # (a 0.0 weight would silently NULL the stride key; a negative one
    # would invert the source's order)
    import pytest as _pytest

    for bad in ({"a": 0.0, "b": 1.0}, {"a": 2.0, "b": -1.0}):
        with _pytest.raises(ValueError, match="must be > 0"):
            interleave_by_source(df, "id", "src", bad)


@pytest.mark.slow
def test_minhash_recall_eval_sensitivity(spark):
    """The eval is a real instrument: the production 8x4 config on a
    planted-dup corpus reports high recall; a crippled 1-band config
    (one 8-row band = AND of 8 hashes) reports strictly lower recall
    on the same truth set — the statistic moves with the knob it
    evaluates."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        minhash_recall_eval,
    )

    base = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc{i} "
            f"iota kappa lambda mu nu xi omicron pi rho")
        for i in range(40)
    ]
    # near-dups: same text with one token tweaked
    dups = [
        (1000 + i, t.replace("gamma", "gamma2"))
        for i, t in base[::2]
    ]
    df = spark.createDataFrame(base + dups, "doc_id long, text string")
    good = minhash_recall_eval(
        df, "doc_id", "text", threshold=0.5, sample_mod=2,
        num_hashes=8, bands=4,
    ).collect()[0]
    assert good["n_true_pairs"] > 0
    # the shared-vocabulary base docs are all ~0.67-Jaccard of each
    # other, so truth is pair-dense; the 8x4 config measures 0.859
    # recall on it (deterministic — content-seeded; the sample is the
    # stable_event_id hash-mod, so the pinned value moved when r9
    # replaced the raw id-mod)
    assert good["recall_micro"] == 859_438
    strict = minhash_recall_eval(
        df, "doc_id", "text", threshold=0.5, sample_mod=2,
        num_hashes=8, bands=1,
    ).collect()[0]
    assert strict["n_true_pairs"] == good["n_true_pairs"]
    assert strict["recall_micro"] < good["recall_micro"]


def test_semantic_contamination_flags_and_scrubs(spark):
    """Exact copies flag at cosine 1.0 with the NEAREST bench id
    (ties -> smallest); orthogonal rows never flag; zero vectors are
    skipped (undefined cosine), so a scrub by this report drops exactly
    the flagged ids."""
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        semantic_contamination_report,
    )

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "vid long, vec array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [2.0, 0.0]),     # parallel to bench 100 -> cos 1.0
            (2, [0.0, -3.0]),    # anti-parallel to 200 -> cos -1.0
            (3, [1.0, 1.0]),     # cos ~0.707 to both -> below 0.95
            (4, [0.0, 0.0]),     # zero vector -> NULL cosine, skipped
            (5, [0.0, 0.5]),     # parallel to bench 200 -> cos 1.0
        ],
        "vid long, vec array<double>",
    )
    got = {
        r["corpus_id"]: (r["bench_id"], r["max_cosine_micro"])
        for r in semantic_contamination_report(
            corpus, bench, "vid", "vec", threshold=0.95
        ).collect()
    }
    assert got == {1: (100, 1_000_000), 5: (200, 1_000_000)}


def test_semantic_contamination_tie_breaks_to_smallest_bench_id(spark):
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        semantic_contamination_report,
    )

    # two identical benchmark vectors: the flag must name the SMALLER id
    bench = spark.createDataFrame(
        [(7, [1.0, 0.0]), (3, [1.0, 0.0])],
        "vid long, vec array<double>",
    )
    corpus = spark.createDataFrame(
        [(1, [5.0, 0.0])], "vid long, vec array<double>"
    )
    rows = semantic_contamination_report(
        corpus, bench, "vid", "vec", threshold=0.9
    ).collect()
    assert [(r["corpus_id"], r["bench_id"]) for r in rows] == [(1, 3)]


def test_compact_table_unpartitioned(spark, tmp_path):
    """Many small appended files -> few target-sized files, row content
    byte-identical, atomic-swap leftovers cleaned up."""
    from gcp_data_pipeline_fyp_spark.operators.maintenance import (
        compact_table,
        table_file_stats,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
    import os

    wh = Warehouse(spark, str(tmp_path / "cwh"))
    for i in range(10):
        wh.append(
            spark.range(i * 100, (i + 1) * 100).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ).repartition(4),
            "T",
        )
    stats = table_file_stats(wh, "T")
    assert stats["n_files"] >= 40
    before = {(r["id"], r["v"]) for r in wh.read("T").collect()}
    report = compact_table(wh, "T", target_file_bytes=1 << 30)
    assert report["n_files_before"] == stats["n_files"]
    assert report["n_files_after"] == 1
    after = {(r["id"], r["v"]) for r in wh.read("T").collect()}
    assert after == before and len(after) == 1000
    assert not os.path.exists(wh.path("T").rstrip("/") + "__compact_tmp")
    assert not os.path.exists(wh.path("T").rstrip("/") + "__pre_compact")


def test_compact_table_partitioned_rewrites_only_fragmented(spark, tmp_path):
    """Only partitions whose file count exceeds the size-justified
    target rewrite; untouched partitions keep their files; content is
    identical."""
    from gcp_data_pipeline_fyp_spark.operators.maintenance import (
        compact_table,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
    import os

    wh = Warehouse(spark, str(tmp_path / "pwh"))
    # partition a: one clean file. partition b: 8 fragment appends.
    wh.overwrite(
        spark.range(0, 50).select(
            F.lit("a").alias("p"), F.col("id"), (F.col("id") + 1).alias("v")
        ).coalesce(1),
        "PT",
        partition_cols=["p"],
    )
    for i in range(8):
        wh.append(
            spark.range(1000 + i * 10, 1010 + i * 10).select(
                F.lit("b").alias("p"), F.col("id"),
                (F.col("id") + 1).alias("v"),
            ).coalesce(1),
            "PT",
            partition_cols=["p"],
        )
    root = wh.path("PT")

    def files_in(part):
        d = os.path.join(root, f"p={part}")
        return [
            f for _, _, fs in os.walk(d) for f in fs
            if f.endswith(".parquet")
        ]

    a_before = set(files_in("a"))
    assert len(files_in("b")) == 8
    before = {(r["p"], r["id"], r["v"]) for r in wh.read("PT").collect()}
    report = compact_table(
        wh, "PT", target_file_bytes=1 << 30, partition_cols=["p"]
    )
    assert report["n_partitions_rewritten"] == 1
    assert set(files_in("a")) == a_before       # untouched
    assert len(files_in("b")) == 1              # bin-packed
    after = {(r["p"], r["id"], r["v"]) for r in wh.read("PT").collect()}
    assert after == before


def test_leakage_safe_split_colocates_near_dups(spark):
    """Every pair-connected doc lands in the same split (the property
    hash_split on doc_id violates); singletons split on their own id
    identically to hash_split; weights honored over clusters."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        hash_split,
        leakage_safe_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    # chain 0-1-2 plus pair (10, 11); everything else singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    out = leakage_safe_split(
        docs, "doc_id", pairs, {"train": 0.6, "test": 0.4}, seed=3,
        keep_cluster=True,
    )
    rows = {r["doc_id"]: (r["split"], r["cluster_id"]) for r in out.collect()}
    assert rows[0][0] == rows[1][0] == rows[2][0]
    assert rows[0][1] == rows[1][1] == rows[2][1] == 0
    assert rows[10][0] == rows[11][0]
    # singleton assignment == plain hash_split keyed on the id value
    singles = hash_split(
        docs.filter("doc_id >= 20").withColumnRenamed(
            "doc_id", "cluster_id"
        ),
        ["cluster_id"], {"train": 0.6, "test": 0.4}, seed=3,
    )
    want = {r["cluster_id"]: r["split"] for r in singles.collect()}
    for i in range(20, 40):
        assert rows[i][0] == want[i], i


def test_winnow_guarantee_and_density(spark):
    """The MOSS guarantee: two docs sharing a run of >= n_tokens +
    window - 1 tokens share >= 1 fingerprint; disjoint docs share
    none; the winnowed set is smaller than the full window set."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        winnow_fingerprints,
    )

    shared = " ".join(f"s{i}" for i in range(11))     # n+w-1 = 11 tokens
    df = spark.createDataFrame(
        [
            (1, shared + " tail one extra words here"),
            (2, "lead in tokens " + shared),
            (3, " ".join(f"z{i}" for i in range(20))),  # disjoint
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, "doc_id", "text", n_tokens=8, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    # density: winnowed fps <= full window count, and strictly fewer
    # for a long doc
    long_doc = spark.createDataFrame(
        [(9, " ".join(f"w{i}" for i in range(200)))],
        "doc_id long, text string",
    )
    n_fps = winnow_fingerprints(
        long_doc, "doc_id", "text", n_tokens=8, window=4
    ).count()
    n_windows = 200 - 8 + 1
    assert n_fps < n_windows / 2, (n_fps, n_windows)


def test_winnow_short_doc_emits_nothing(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "only ten tokens a b c d e f g"), (2, None)],
        "doc_id long, text string",
    )
    assert winnow_fingerprints(
        df, "doc_id", "text", n_tokens=8, window=4
    ).count() == 0


@pytest.mark.slow
def test_incremental_components_equals_full_recompute(spark, tmp_path):
    """Folding a batch into the persisted star labeling must equal the
    closure over ALL pairs (spanning-star invariance), including
    cluster merges across the old/new boundary and cold start."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        build_components_index,
        connected_components,
        incremental_components,
    )
    from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "cwh"))
    base = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    build_components_index(wh, base, "g")
    # batch merges {1,2,3} with {10,11} and adds a fresh pair
    batch = spark.createDataFrame(
        [(3, 10), (30, 31)], "id_a long, id_b long"
    )
    got = {
        (r["node"], r["component"])
        for r in incremental_components(wh, batch, "g").collect()
    }
    want = {
        (r["node"], r["component"])
        for r in connected_components(
            base.unionByName(batch), "id_a", "id_b"
        ).collect()
    }
    assert got == want
    # the index was updated in place: a second fold sees merged state
    got2 = {
        (r["node"], r["component"])
        for r in wh.read("g__components").collect()
    }
    assert got2 == want
    # cold start: missing index table = empty graph
    cold = {
        (r["node"], r["component"])
        for r in incremental_components(
            wh, batch, "nothing_here", update_index=False
        ).collect()
    }
    assert cold == {(3, 3), (10, 3), (30, 30), (31, 30)}


def test_semantic_contamination_string_ids_tie_break(spark):
    """Tie-break must hold for NON-numeric id columns too (negation
    lives on the cosine, never the id): two identical benchmark
    vectors with string ids -> the lexicographically smaller id."""
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        semantic_contamination_report,
    )

    bench = spark.createDataFrame(
        [("doc-b", [1.0, 0.0]), ("doc-a", [1.0, 0.0])],
        "vid string, vec array<double>",
    )
    corpus = spark.createDataFrame(
        [("doc-x", [3.0, 0.0])], "vid string, vec array<double>"
    )
    rows = semantic_contamination_report(
        corpus, bench, "vid", "vec", threshold=0.9
    ).collect()
    assert [(r["corpus_id"], r["bench_id"]) for r in rows] == [
        ("doc-x", "doc-a")
    ]


def test_elect_canonical_quality_and_singletons(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import elect_canonical

    docs = spark.createDataFrame(
        [
            (1, 100), (2, 300), (3, 200),   # cluster {1,2,3}: 2 wins on quality
            (10, 50), (11, 50),             # cluster {10,11}: tie -> min id 10
            (99, 10),                        # singleton survives
        ],
        "doc_id: bigint, quality: bigint",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a: bigint, id_b: bigint"
    )
    out = {r["doc_id"]: r["n_members"] for r in
           elect_canonical(docs, pairs, "doc_id", "quality").collect()}
    assert out == {2: 3, 10: 2, 99: 1}


def test_elect_canonical_null_quality_loses(spark):
    from gcp_data_pipeline_fyp_spark.operators.dedup import elect_canonical

    docs = spark.createDataFrame(
        [(1, None), (2, 300), (3, 200), (7, None), (8, None)],
        "doc_id: bigint, quality: bigint",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a: bigint, id_b: bigint"
    )
    out = {r["doc_id"]: r["n_members"] for r in
           elect_canonical(docs, pairs, "doc_id", "quality").collect()}
    # scored member 2 beats the NULL-quality 1; an all-NULL cluster
    # falls back to the lowest id
    assert out == {2: 3, 7: 2}


def test_distribution_match_rates_and_sample(spark):
    """Rates reshape the kept set's bucket distribution to the
    reference's: the argmin (reference-relative scarcest) bucket keeps
    rate 1e6 (kept whole), ref-absent buckets get rate 0, and kept
    bucket counts are within integer-floor slack of n_src * rate."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_rates,
        distribution_match_sample,
    )

    # source: 1000 rows in bucket 0, 500 in 1, 200 in 2, 100 in 3
    rows = (
        [(i, 0) for i in range(1000)]
        + [(1000 + i, 1) for i in range(500)]
        + [(2000 + i, 2) for i in range(200)]
        + [(3000 + i, 3) for i in range(100)]
    )
    src = spark.createDataFrame(rows, "doc_id long, bucket long")
    # reference wants 1:1:2 over buckets 0,1,2 and nothing from 3
    ref = spark.createDataFrame(
        [(i, i % 3 if i % 3 < 2 else 2) for i in range(400)]
        + [(500 + i, 2) for i in range(132)],
        "rid long, bucket long",
    )
    rates = {
        r["bucket"]: (r["n_src"], r["n_ref"], r["rate_micro"])
        for r in distribution_match_rates(src, "bucket", ref).collect()
    }
    assert rates[3] == (100, 0, 0)  # absent from reference -> dropped
    # scarcest bucket (min n_src/n_ref) keeps rate exactly 1e6
    ratios = {
        b: ns / nr for b, (ns, nr, _) in rates.items() if nr > 0
    }
    argmin_b = min(ratios, key=lambda b: (ratios[b], b))
    assert rates[argmin_b][2] == 1_000_000
    # exact rate formula: floor(1e6 * s_m * r_b / (r_m * s_b))
    s_m, r_m, _ = rates[argmin_b]
    for b, (s_b, r_b, rate) in rates.items():
        if r_b > 0:
            assert rate == min(
                1_000_000, (1_000_000 * s_m * r_b) // (r_m * s_b)
            ), b
    kept = distribution_match_sample(src, ["doc_id"], "bucket", ref, seed=4)
    from collections import Counter

    got = Counter(r["bucket"] for r in kept.collect())
    assert got.get(3, 0) == 0
    # kept counts track n_src * rate within sampling noise of the md5
    # bucket rule (binomial-ish; wide slack keeps the test stable)
    for b, (s_b, r_b, rate) in rates.items():
        if r_b > 0:
            expect = s_b * rate / 1_000_000
            assert abs(got.get(b, 0) - expect) <= max(10, 0.25 * expect), b


def test_distribution_match_sample_nested_in_seeded_rule(spark):
    """Membership is the standard hash rule: the kept set for a
    SHRUNKEN reference subset (lower rates) is a subset of the kept
    set at the full reference (nested samples, same seed)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_sample,
    )

    src = spark.createDataFrame(
        [(i, i % 4) for i in range(2000)], "doc_id long, bucket long"
    )
    ref_full = spark.createDataFrame(
        [(i, i % 4) for i in range(400)], "rid long, bucket long"
    )
    # same shape -> uniform rates; a half-weight bucket-3 reference
    # lowers ONLY bucket 3's rate
    ref_skew = ref_full.filter((F.col("bucket") != 3) | (F.col("rid") < 200))
    full = {
        r["doc_id"]
        for r in distribution_match_sample(
            src, ["doc_id"], "bucket", ref_full, seed=4
        ).collect()
    }
    skew = {
        r["doc_id"]
        for r in distribution_match_sample(
            src, ["doc_id"], "bucket", ref_skew, seed=4
        ).collect()
    }
    assert skew <= full


def test_distribution_match_null_bucket_is_real_slice(spark):
    """A NULL bucket present in BOTH source and reference gets a real
    rate (null-safe join), not a silent 0."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_rates,
    )

    src = spark.createDataFrame(
        [(i, None if i % 2 else 1) for i in range(100)],
        "doc_id long, bucket long",
    )
    ref = spark.createDataFrame(
        [(i, None if i % 2 else 1) for i in range(40)],
        "rid long, bucket long",
    )
    rates = {
        r["bucket"]: r["rate_micro"]
        for r in distribution_match_rates(src, "bucket", ref).collect()
    }
    assert rates[None] == 1_000_000 and rates[1] == 1_000_000


def test_distribution_match_argmin_null_tie_break(spark):
    """The argmin tie-break is a pinned contract: on an EXACT double-
    ratio tie the smallest NON-NULL bucket wins (NULL sorts last —
    matching SQL's default NULLS LAST; Spark's bare struct ordering
    would sort the NULL field first, which is why the operator carries
    an explicit isNull discriminator). Two layers:

    1. the ordering primitive itself, differentially vs DuckDB's
       `ORDER BY ratio, (bucket IS NULL), bucket LIMIT 1`;
    2. the operator on a tied fixture — where the pick is provably
       output-invariant (floor(k*a / k*b) == floor(a/b): a tied-ratio
       argmin scales num and den by the same factor), asserted so the
       invariance that makes layer 1 the only observable stays true.
    """
    import duckdb

    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_rates,
    )

    rows = [(2.0, None, 4, 2), (2.0, 5, 2, 1), (3.0, 1, 9, 3)]
    df = spark.createDataFrame(
        rows, "ratio double, bucket int, n_src long, n_ref long"
    )
    pick = df.agg(
        F.min_by(
            F.col("bucket"),
            F.struct(
                F.col("ratio"),
                F.col("bucket").isNull().alias("bnull"),
                F.col("bucket"),
            ),
        ).alias("b")
    ).first()["b"]
    sql_pick = duckdb.sql(
        "SELECT bucket FROM (VALUES (2.0, NULL), (2.0, 5), (3.0, 1))"
        " t(ratio, bucket)"
        " ORDER BY ratio, (bucket IS NULL), bucket LIMIT 1"
    ).fetchone()[0]
    assert pick == sql_pick == 5

    # operator level: NULL bucket (4 src / 2 ref) ties bucket 5
    # (2 src / 1 ref) at ratio 2.0 exactly -> identical rate table
    # whichever the engine picks (both argmins are kept whole, and
    # every other bucket's integral quotient is scale-invariant)
    src = spark.createDataFrame(
        [(i, None) for i in range(4)]
        + [(10 + i, 5) for i in range(2)]
        + [(20 + i, 7) for i in range(9)],
        "doc_id long, bucket long",
    )
    ref = spark.createDataFrame(
        [(i, None) for i in range(2)]
        + [(10 + i, 5) for i in range(1)]
        + [(20 + i, 7) for i in range(3)],
        "rid long, bucket long",
    )
    rates = {
        r["bucket"]: r["rate_micro"]
        for r in distribution_match_rates(src, "bucket", ref).collect()
    }
    # bucket 7 ratio 3.0 > 2.0; rate = floor(1e6 * s_m * 3 / (r_m * 9))
    # = 666666 for (s_m, r_m) = (2, 1) AND (4, 2)
    assert rates == {None: 1_000_000, 5: 1_000_000, 7: 666_666}


def test_distribution_match_by_group_independent_slices(spark):
    """Per-group matching: each group's argmin/rates are computed on
    its OWN slice — a group with a perfectly matching reference keeps
    everything, a group absent from the reference drops everything,
    and a skewed group reshapes independently."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_rates,
        distribution_match_sample,
    )

    src = spark.createDataFrame(
        # g=en: 300 in bucket 0, 100 in bucket 1; g=de: 100/100; g=xx: 50
        [(i, "en", 0) for i in range(300)]
        + [(300 + i, "en", 1) for i in range(100)]
        + [(1000 + i, "de", 0) for i in range(100)]
        + [(1100 + i, "de", 1) for i in range(100)]
        + [(2000 + i, "xx", 0) for i in range(50)],
        "doc_id long, g string, bucket long",
    )
    ref = spark.createDataFrame(
        # en target 1:1 ; de target already matches (1:1); nothing for xx
        [(i, "en", i % 2) for i in range(100)]
        + [(500 + i, "de", i % 2) for i in range(60)],
        "rid long, g string, bucket long",
    )
    rates = {
        (r["g"], r["bucket"]): r["rate_micro"]
        for r in distribution_match_rates(
            src, "bucket", ref, group_cols=["g"]
        ).collect()
    }
    # en: scarcest bucket is 1 (100 src / 50 ref); bucket 0 keeps
    # (100*50)/(50*300) = 1/3
    assert rates[("en", 1)] == 1_000_000
    assert rates[("en", 0)] == (1_000_000 * 100 * 50) // (50 * 300)
    # de matches already: both buckets kept whole
    assert rates[("de", 0)] == rates[("de", 1)] == 1_000_000
    # xx absent from reference: dropped
    assert rates[("xx", 0)] == 0
    kept = distribution_match_sample(
        src, ["doc_id"], "bucket", ref, seed=4, group_cols=["g"]
    )
    from collections import Counter

    got = Counter((r["g"], r["bucket"]) for r in kept.collect())
    assert got[("de", 0)] == 100 and got[("de", 1)] == 100
    assert got.get(("xx", 0), 0) == 0
    assert got[("en", 1)] == 100
    assert abs(got[("en", 0)] - 100) <= 30  # 300 * 1/3, md5-rule noise


def test_distribution_match_ungrouped_equals_constant_group(spark):
    """distribution_match_rates and _sample without group columns equal
    the same calls grouped by a constant column, on input with a NULL
    bucket, a bucket missing from the reference and an exact ratio
    tie (buckets 1 and 5 at 2.0)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_rates,
        distribution_match_sample,
    )

    src = spark.createDataFrame(
        [(i, None) for i in range(60)]
        + [(100 + i, 1) for i in range(80)]
        + [(200 + i, 5) for i in range(40)]
        + [(300 + i, 9) for i in range(30)],
        "doc_id long, bucket long",
    )
    ref = spark.createDataFrame(
        [(i, None) for i in range(15)]
        + [(100 + i, 1) for i in range(40)]
        + [(200 + i, 5) for i in range(20)]
        + [(300 + i, 7) for i in range(10)],
        "rid long, bucket long",
    )
    k = F.lit("all").alias("k")
    src_k, ref_k = src.select(k, "*"), ref.select(k, "*")

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    rates = distribution_match_rates(src, "bucket", ref)
    want = distribution_match_rates(src_k, "bucket", ref_k, group_cols=["k"])
    assert rates.columns == want.columns[1:]
    assert rows(rates) == rows(want.drop("k"))
    by_bucket = {r["bucket"]: r["rate_micro"] for r in rates.collect()}
    assert by_bucket[9] == 0 and by_bucket[1] == by_bucket[5] == 1_000_000
    assert 0 < by_bucket[None] < 1_000_000

    kept = distribution_match_sample(src, ["doc_id"], "bucket", ref, seed=3)
    want = distribution_match_sample(
        src_k, ["doc_id"], "bucket", ref_k, seed=3, group_cols=["k"]
    )
    assert kept.columns == want.columns[1:]
    assert rows(kept) == rows(want.drop("k"))
    assert 0 < kept.count() < src.count()


def test_semdedup_matches_naive_and_drops_exact_dups(spark):
    """semdedup == a NumPy mirror of its own contract (deterministic
    IVF fit: smallest-id seeds + Lloyd means + max-dot assignment;
    rank by centroid-cosine asc, id tiebreak; prefix-greedy drop) on
    seeded random vectors with planted exact duplicates — and every
    planted duplicate is dropped while its earlier-ranked original
    survives the pair."""
    import random

    import numpy as np

    from gcp_data_pipeline_fyp_spark.operators.dedup import semdedup

    rnd = random.Random(13)
    dim, n = 4, 30
    vecs = {i: [rnd.gauss(0, 1) for _ in range(dim)] for i in range(n)}
    for src, dup in ((3, 100), (7, 101), (12, 102)):
        vecs[dup] = list(vecs[src])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    thr = 800_000
    got = {
        r["vec_id"]: (r["centroid_id"], r["sem_rank"], r["keep"])
        for r in semdedup(
            df, "vec_id", "embedding", n_centroids=2, threshold_micro=thr
        ).collect()
    }

    # ---- NumPy mirror of the operator's documented contract
    ids = sorted(vecs)
    X = {i: np.array(vecs[i], dtype=np.float64) for i in ids}
    cent = {k + 1: X[ids[k]].copy() for k in range(2)}  # smallest-id seeds

    def assign(cs):
        out = {}
        for i in ids:
            best = max(
                sorted(cs), key=lambda c: (float(X[i] @ cs[c]), -c)
            )
            out[i] = best
        return out

    asg = assign(cent)  # one refine iteration: assign to seeds, mean
    cent = {
        c: np.mean([X[i] for i in ids if asg[i] == c], axis=0)
        for c in cent
    }
    asg = assign(cent)  # final assignment against refined centroids

    def cosm(a, b):
        return round(
            float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)) * 1e6
        )

    want = {}
    for c in cent:
        members = sorted(
            (i for i in ids if asg[i] == c),
            key=lambda i: (cosm(X[i], cent[c]), i),
        )
        for rank, i in enumerate(members, 1):
            dropped = any(
                cosm(X[i], X[j]) >= thr for j in members[: rank - 1]
            )
            want[i] = (c, rank, not dropped)
    assert got == want

    # planted exact duplicates: dropped, originals kept
    for src, dup in ((3, 100), (7, 101), (12, 102)):
        assert got[dup][2] is False, dup
        assert got[src][2] is True, src
    import pytest as _pytest

    with _pytest.raises(ValueError):
        semdedup(df, "vec_id", "embedding", threshold_micro=2_000_000)


def test_semdedup_auto_centroids_is_the_default(spark):
    """The scale valve IS the default: n_centroids='auto' sizes
    max(2, ceil(n / target_cluster_size)); a fixed count is only
    reachable by passing an int EXPLICITLY (the bitext round-8
    anti-lesson, now applied here too)."""
    import inspect

    import pytest as _pytest

    from gcp_data_pipeline_fyp_spark.operators.dedup import semdedup

    assert (
        inspect.signature(semdedup).parameters["n_centroids"].default
        == "auto"
    )
    rows = [
        (i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 30 vectors / target 10 -> 3 clusters under auto
    auto = semdedup(
        df, "vec_id", "embedding", threshold_micro=999_999,
        target_cluster_size=10,
    )
    n_clusters = auto.select("centroid_id").distinct().count()
    assert n_clusters == 3
    # explicit int still pins the fit (the certified-probe path)
    fixed = semdedup(
        df, "vec_id", "embedding", n_centroids=2, threshold_micro=999_999
    )
    assert fixed.select("centroid_id").distinct().count() == 2
    # anything else is a loud config error, not a silent fallback
    with _pytest.raises(ValueError, match="auto"):
        semdedup(df, "vec_id", "embedding", n_centroids="sixteen")
    with _pytest.raises(ValueError, match="target_cluster_size"):
        semdedup(df, "vec_id", "embedding", target_cluster_size=0)


def test_semdedup_zero_vector_ranks_last_and_passes_through(spark):
    """A zero-norm vector has NULL centroid cosine and NULL pairwise
    cosines: it must rank LAST in its cluster (explicit NULLS LAST —
    Spark's bare asc would put it first and silently shift every rank
    in the cluster vs the SQL oracle) and pass through kept (NULL
    similarity never reaches a threshold)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import semdedup

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 0.0]),  # zero vector
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["sem_rank"], r["keep"], r["cent_cos_micro"])
        for r in semdedup(
            df, "vec_id", "embedding", n_centroids=1,
            threshold_micro=950_000,
        ).collect()
    }
    assert got[2][2] is None          # NULL centroid cosine
    assert got[2][0] == 3             # ranks last, not first
    assert got[2][1] is True          # passes through kept
    # the near-dup pair still resolves: one of 0/1 drops
    assert {got[0][1], got[1][1]} == {True, False}


def test_semdedup_multiassign_monotone_and_reduces_to_single(spark):
    """n_assign only ADDS drop edges: the n_assign=2 keep set is a
    subset of the n_assign=1 keep set, and ranks/clusters (primary
    assignment) are identical between the two."""
    import random

    from gcp_data_pipeline_fyp_spark.operators.dedup import semdedup

    rnd = random.Random(29)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(4)]) for i in range(40)
    ]
    # plant near-dups as tiny perturbations of existing vectors so
    # some pairs straddle a centroid boundary
    rows += [
        (100 + i, [x + 0.05 for x in v]) for i, v in rows[:10]
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(n_assign):
        return {
            r["vec_id"]: (r["centroid_id"], r["sem_rank"], r["keep"])
            for r in semdedup(
                df, "vec_id", "embedding", n_centroids=4,
                threshold_micro=900_000, n_assign=n_assign,
            ).collect()
        }

    one, two = run(1), run(2)
    assert set(one) == set(two)
    for vid in one:
        assert one[vid][:2] == two[vid][:2], vid  # primary rank stable
        if one[vid][2] is False:
            assert two[vid][2] is False, vid  # drops are monotone
    # and the widened probe actually catches something extra or equal
    kept1 = sum(1 for v in one.values() if v[2])
    kept2 = sum(1 for v in two.values() if v[2])
    assert kept2 <= kept1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        semdedup(df, "vec_id", "embedding", n_assign=0)


def _unimax_spec(caps: dict, budget: int) -> dict:
    """Python replay of the documented water-fill algebra (flag +
    single integer tau), independent of the Spark implementation."""
    order = sorted(caps.items(), key=lambda kv: (kv[1], str(kv[0])))
    n = len(order)
    cum = 0
    capped = {}
    for i, (k, c) in enumerate(order):
        capped[k] = c * (n - i) <= budget - cum
        cum += c
    csum = sum(c for k, c in caps.items() if capped[k])
    nun = sum(1 for k in caps if not capped[k])
    tau = (budget - csum) // nun if nun else None
    return {k: (c if capped[k] else tau) for k, c in caps.items()}


def test_unimax_alloc_matches_spec_randomized(spark):
    import random

    from gcp_data_pipeline_fyp_spark.operators.sampling import unimax_alloc

    rng = random.Random(0)
    for trial in range(6):
        n_strata = rng.randint(1, 8)
        rows = []
        for s in range(n_strata):
            for _ in range(rng.randint(1, 5)):
                rows.append((f"s{s}", rng.randint(0, 40)))
        budget = rng.randint(1, 300)
        epochs = rng.randint(1, 3)
        df = spark.createDataFrame(rows, "lang string, w long")
        got = {
            r["lang"]: (r["capacity"], r["alloc"])
            for r in unimax_alloc(df, "lang", "w", budget, epochs).collect()
        }
        caps = {}
        for s, w in rows:
            caps[s] = caps.get(s, 0) + w
        caps = {k: epochs * v for k, v in caps.items()}
        want = _unimax_spec(caps, budget)
        assert {k: v[0] for k, v in got.items()} == caps, trial
        assert {k: v[1] for k, v in got.items()} == want, trial
        # invariants: never past capacity, never past budget
        assert all(v[1] <= v[0] for v in got.values())
        assert sum(v[1] for v in got.values()) <= budget


def test_unimax_alloc_null_stratum_and_weights(spark):
    from gcp_data_pipeline_fyp_spark.operators.sampling import unimax_alloc

    df = spark.createDataFrame(
        [(None, 10), (None, None), ("a", 30)], "lang string, w long"
    )
    got = {
        r["lang"]: r["alloc"]
        for r in unimax_alloc(df, "lang", "w", 20).collect()
    }
    # NULL stratum allocates like any other; NULL weight counts 0
    assert set(got) == {None, "a"} and got[None] == 10 and got["a"] == 10


def test_unimax_alloc_rejects_bad_config(spark):
    import pytest

    from gcp_data_pipeline_fyp_spark.operators.sampling import unimax_alloc

    df = spark.createDataFrame([("a", 1)], "lang string, w long")
    with pytest.raises(ValueError, match="must be > 0"):
        unimax_alloc(df, "lang", "w", 0)
    with pytest.raises(ValueError, match="must be > 0"):
        unimax_alloc(df, "lang", "w", 10, max_epochs=0)


def test_unimax_alloc_feeds_token_budget_mix(spark):
    """The composition site: alloc -> per-stratum budgets for
    token_budget_mix (strata with alloc 0 are dropped by the mix's
    own stated filter)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        token_budget_mix,
        unimax_alloc,
    )

    rows = [(i, "a" if i < 40 else "b", 5) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
    alloc = {
        r["lang"]: r["alloc"]
        for r in unimax_alloc(df, "lang", "w", 150, 2).collect()
    }
    # a: cap 400, b: cap 100 -> b capped? 100*1 <= 150-? order asc: b(100),a(400)
    # b: 100*2=200 > 150 -> uncapped; tau = 150//2 = 75 each
    assert alloc == {"a": 75, "b": 75}
    out = token_budget_mix(df, "doc_id", "w", "lang", alloc, seed=1)
    per = {
        r["lang"]: r["t"]
        for r in out.groupBy("lang").agg(F.sum("w").alias("t")).collect()
    }
    assert all(per[s] <= alloc[s] for s in per)


def test_unimax_alloc_output_name_collision_raises(spark):
    import pytest

    from gcp_data_pipeline_fyp_spark.operators.sampling import unimax_alloc

    df = spark.createDataFrame([("a", 1)], "capacity string, w long")
    with pytest.raises(ValueError, match="collides"):
        unimax_alloc(df, "capacity", "w", 10)


def test_unimax_alloc_clamps_negative_weights(spark):
    """A negative capacity would corrupt the water-fill (an early
    capped stratum with alloc < 0 inflates every later share past
    the budget) — negative per-row weights count 0."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import unimax_alloc

    df = spark.createDataFrame(
        [("a", -50), ("b", 100)], "lang string, w long"
    )
    got = {
        r["lang"]: (r["capacity"], r["alloc"])
        for r in unimax_alloc(df, "lang", "w", 60).collect()
    }
    assert got["a"] == (0, 0)
    assert got["b"] == (100, 60)
    assert sum(v[1] for v in got.values()) <= 60


def _naive_epoch_mix(rows, allocs, seed):
    """Python replay of the documented epoch-expansion contract:
    n_epochs = ceil(alloc/W), epoch e budget = min(W, alloc-(e-1)W),
    per-epoch order by (md5(seed_epoch_id) 60-bit, id), cum of
    clamped weights, keep cum <= budget."""
    import hashlib

    W: dict = {}
    for _i, s, w in rows:
        W[s] = W.get(s, 0) + max(w or 0, 0)
    out = []
    for s, alloc in allocs.items():
        ws = W.get(s, 0)
        if alloc <= 0 or ws <= 0:
            continue
        ne = -(-alloc // ws)
        for e in range(1, ne + 1):
            bud = min(ws, alloc - (e - 1) * ws)

            def key(i, _e=e):
                h = hashlib.md5(f"{seed}_{_e}_{i}".encode()).hexdigest()
                return int(h[:15], 16)

            ordered = sorted(
                (r for r in rows if r[1] == s),
                key=lambda r: (key(r[0]), r[0]),
            )
            cum = 0
            for i, _s, w in ordered:
                cum += max(w or 0, 0)
                if cum <= bud:
                    out.append((i, s, w, e, cum))
    return sorted(out)


def test_unimax_epoch_mix_matches_naive(spark):
    """Differential: the two-level distributed epoch expansion ==
    the naive per-stratum replay — full second epoch (alloc = 2W),
    partial second epoch (W < alloc < 2W), single partial epoch
    (alloc < W), and a NULL-weight row counting 0."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        unimax_epoch_mix,
    )

    rows = (
        [(i, "a", 5) for i in range(6)]  # W_a = 30
        + [(100 + i, "b", 7) for i in range(4)]  # W_b = 28
        + [(200 + i, "c", 3) for i in range(10)]  # W_c = 30
        + [(300, "a", None)]  # NULL weight: counts 0, selectable
    )
    allocs = {"a": 60, "b": 45, "c": 10}  # 2 full / partial 2nd / <1
    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
    adf = spark.createDataFrame(
        list(allocs.items()), "lang string, alloc long"
    )
    got = sorted(
        (r["doc_id"], r["lang"], r["w"], r["epoch"], r["cum_weight"])
        for r in unimax_epoch_mix(
            df, "doc_id", "w", "lang", adf, seed=3
        ).collect()
    )
    assert got == _naive_epoch_mix(rows, allocs, 3)
    # stratum a repeats: both epochs complete (alloc = 2W exactly)
    by_epoch: dict = {}
    for i, s, _w, e, _c in got:
        by_epoch.setdefault((s, e), set()).add(i)
    assert by_epoch[("a", 1)] == by_epoch[("a", 2)] == {
        0, 1, 2, 3, 4, 5, 300
    }
    # stratum b epoch 2 is a strict prefix (45 - 28 = 17 budget)
    assert by_epoch[("b", 2)] < by_epoch[("b", 1)]
    assert ("c", 2) not in by_epoch and len(by_epoch[("c", 1)]) < 10


def test_unimax_epoch_mix_from_alloc_chain(spark):
    """The certified chain shape: unimax_alloc(max_epochs=2) over a
    corpus with a dominant head feeds unimax_epoch_mix; the tail
    stratum's alloc exceeds its W so it EMITS REPEATED DOCS — the
    point of the epoch cap (Chung et al. 2023 §3)."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        unimax_alloc,
        unimax_epoch_mix,
    )

    rows = [(i, "tail", 10) for i in range(5)] + [
        (100 + i, "head", 10) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
    alloc = unimax_alloc(df, "lang", "w", 300, max_epochs=2)
    a = {r["lang"]: r["alloc"] for r in alloc.collect()}
    # tail capacity 100 <= 300 - 0 over 2 strata -> capped at 2W = 100;
    # head gets the rest: tau = 200
    assert a == {"tail": 100, "head": 200}
    out = unimax_epoch_mix(df, "doc_id", "w", "lang", alloc, seed=0)
    rows_out = [(r["doc_id"], r["epoch"]) for r in out.collect()]
    tail_ids = [i for i, e in rows_out if i < 100]
    assert sorted(tail_ids) == sorted(list(range(5)) * 2)  # repeated!
    head_ids = [i for i, e in rows_out if i >= 100]
    assert len(head_ids) == len(set(head_ids)) == 20  # 200/10, one pass
    # epoch totals never exceed the alloc
    assert sum(10 for _ in rows_out) <= 300


@pytest.mark.slow
def test_unimax_epoch_mix_nested_in_alloc(spark):
    """Raising a stratum's alloc only APPENDS (doc_id, epoch) rows —
    the nesting contract the whole sampling family carries."""
    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        unimax_epoch_mix,
    )

    rows = [(i, "x", 4) for i in range(7)]  # W = 28
    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")

    def run(alloc):
        adf = spark.createDataFrame(
            [("x", alloc)], "lang string, alloc long"
        )
        return {
            (r["doc_id"], r["epoch"])
            for r in unimax_epoch_mix(
                df, "doc_id", "w", "lang", adf, seed=1
            ).collect()
        }

    prev: set = set()
    for alloc in (6, 14, 28, 30, 41, 56):
        cur = run(alloc)
        assert prev <= cur, alloc
        prev = cur
    assert len(prev) == 14  # alloc 56 = 2W: both epochs complete


def test_unimax_epoch_mix_guards(spark):
    import pytest

    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        unimax_epoch_mix,
    )

    df = spark.createDataFrame(
        [(1, "a", 5)], "doc_id long, lang string, w long"
    )
    bad = spark.createDataFrame([("a", 5)], "lang string, budget long")
    with pytest.raises(ValueError, match="alloc"):
        unimax_epoch_mix(df, "doc_id", "w", "lang", bad)
    clash = df.withColumn("epoch", df.w)
    adf = spark.createDataFrame([("a", 5)], "lang string, alloc long")
    with pytest.raises(ValueError, match="already exist"):
        unimax_epoch_mix(clash, "doc_id", "w", "lang", adf)
    # zero-weight stratum with a (hand-built) positive alloc has no
    # finite epoch count: dropped, not an infinite loop
    zdf = spark.createDataFrame(
        [(1, "z", 0), (2, "a", 5)], "doc_id long, lang string, w long"
    )
    zadf = spark.createDataFrame(
        [("z", 10), ("a", 5)], "lang string, alloc long"
    )
    got = {
        r["doc_id"]
        for r in unimax_epoch_mix(zdf, "doc_id", "w", "lang", zadf).collect()
    }
    assert got == {2}


def test_token_budget_mix_rejects_null_stratum_key(spark):
    import pytest

    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        token_budget_mix,
    )

    df = spark.createDataFrame([(1, None, 5)], "doc_id long, lang string, w long")
    with pytest.raises(ValueError, match="NULL stratum"):
        token_budget_mix(df, "doc_id", "w", "lang", {None: 10, "a": 5})
