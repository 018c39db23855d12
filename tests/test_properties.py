"""Property-based tests (hypothesis) for pure helpers and a
cross-engine fuzz of merge semantics against DuckDB."""

from __future__ import annotations

import datetime

import duckdb
import pandas as pd
from hypothesis import example, given, settings, strategies as st

from gcp_data_pipeline_fyp_spark.functions.text import minhash_params
from gcp_data_pipeline_fyp_spark.operators.similarity import make_hyperplanes
from gcp_data_pipeline_fyp_spark.sources.files import (
    archive_date_from_filename,
    feed_request_for,
)
from gcp_data_pipeline_fyp_spark.plans.pipeline import branch_for_filename
import pytest


@given(st.integers(min_value=1, max_value=64))
def test_minhash_params_properties(n):
    params = minhash_params(n)
    assert len(params) == n
    assert len(set(params)) == n  # distinct permutations
    for a, b in params:
        assert a % 2 == 1  # odd multiplier (bijective mod 2^k concerns)
        assert 0 < a < 2**31
        assert 0 <= b < 2**31


@given(st.integers(min_value=1, max_value=16), st.integers(min_value=1, max_value=128))
def test_hyperplanes_deterministic(planes, dim):
    a = make_hyperplanes(dim, planes, seed=7)
    b = make_hyperplanes(dim, planes, seed=7)
    assert a == b
    assert len(a) == planes and len(a[0]) == dim


@given(st.dates(min_value=datetime.date(2000, 1, 2), max_value=datetime.date(2030, 12, 31)))
def test_feed_request_mode_total(d):
    _url, name, mode = feed_request_for(datetime.datetime.combine(d, datetime.time(12)))
    assert mode == ("full" if d.day == 1 else "delta")
    # branch_for_filename routes the file the ingest lands to the same mode
    assert branch_for_filename(name) == mode


@given(st.text(alphabet="abcdefghij_0123456789.", max_size=30))
def test_archive_date_never_raises(name):
    # total function over arbitrary filenames
    out = archive_date_from_filename(name)
    assert out is None or isinstance(out, str)


@settings(max_examples=15, deadline=None)
@given(
    base=st.lists(
        st.tuples(st.integers(0, 6) | st.none(), st.integers(0, 100)),
        max_size=8,
        unique_by=lambda t: t[0],
    ),
    upd=st.lists(
        st.tuples(st.integers(0, 6) | st.none(), st.integers(0, 100)),
        max_size=8,
        unique_by=lambda t: t[0],
    ),
)
def test_merge_upsert_fuzz_vs_duckdb(spark, base, upd):
    """merge_upsert == dict-update semantics (NULL keys included),
    cross-checked against a DuckDB full-outer rendering."""
    from gcp_data_pipeline_fyp_spark.operators.merge import merge_upsert

    schema = "k int, v int"
    bdf = spark.createDataFrame(base, schema) if base else spark.createDataFrame([], schema)
    udf = spark.createDataFrame(upd, schema) if upd else spark.createDataFrame([], schema)
    got = {r["k"]: r["v"] for r in merge_upsert(bdf, udf, ["k"]).collect()}
    expected = dict(base)
    expected.update(dict(upd))
    assert got == expected
    # duckdb oracle of the same shape
    con = duckdb.connect()
    con.register("b", pd.DataFrame(base, columns=["k", "v"]))
    con.register("u", pd.DataFrame(upd, columns=["k", "v"]))
    odf = con.execute(
        """
        SELECT coalesce(u.k, b.k) AS k,
               CASE WHEN u.present THEN u.v ELSE b.v END AS v
        FROM (SELECT *, true AS present FROM b) b
        FULL OUTER JOIN (SELECT *, true AS present FROM u) u
          ON b.k IS NOT DISTINCT FROM u.k
        """
    ).df()
    oracle = {
        (None if pd.isna(r.k) else int(r.k)): (None if pd.isna(r.v) else int(r.v))
        for r in odf.itertuples()
    }
    assert got == oracle


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(1, 1000), st.sampled_from("IUD")),
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),  # one op per (key, ts): total order
    )
)
def test_cdc_snapshot_fuzz(spark, rows):
    """cdc_snapshot == per-key last-writer-wins dict semantics."""
    import datetime as dt

    from gcp_data_pipeline_fyp_spark.operators.frequent import cdc_snapshot

    data = [
        (k, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=ts), op, float(i))
        for i, (k, ts, op) in enumerate(rows)
    ]
    schema = "k int, ts timestamp, op string, v double"
    df = spark.createDataFrame(data, schema) if data else spark.createDataFrame([], schema)
    got = {r["k"]: r["v"] for r in cdc_snapshot(df, ["k"], "ts", "op").collect()}
    expected = {}
    for k, ts, op, v in sorted(data, key=lambda r: (r[0], r[1])):
        expected[k] = None if op == "D" else v
    expected = {k: v for k, v in expected.items() if v is not None}
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(-50, 50), st.integers(0, 2)),
        max_size=20,
    )
)
@pytest.mark.slow
def test_rollup_merge_fuzz_equals_rebuild(spark, rows):
    """merge_states over ANY split of the data == one-shot rollup."""
    from gcp_data_pipeline_fyp_spark.operators.rollup import (
        finalize_state,
        merge_states,
        rollup_state,
    )

    schema = "k int, v double, part int"
    data = [(k, float(v) + 0.5, p) for k, v, p in rows]
    df = spark.createDataFrame(data, schema) if data else spark.createDataFrame([], schema)
    direct = finalize_state(rollup_state(df, ["k"], ["v"]), ["v"], ["v"])
    parts = [
        rollup_state(df.filter(f"part = {i}"), ["k"], ["v"]) for i in range(3)
    ]
    merged = finalize_state(merge_states(parts, ["k"]), ["v"], ["v"])
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, merged.collect())
    )


@settings(max_examples=12, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        max_size=14,
    )
)
@pytest.mark.slow
def test_connected_components_fuzz_vs_union_find(spark, edges):
    """Star-contraction CC == classic union-find on arbitrary small
    graphs — self-loops INCLUDED (a node whose only edge is a self-loop
    is a singleton component and must appear in the output)."""
    from gcp_data_pipeline_fyp_spark.operators.components import (
        connected_components,
    )

    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    # default path (driver union-find below the size gate) AND the
    # distributed star contraction (forced with driver_threshold=0)
    # must both match the oracle
    got = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    got_dist = {
        r["node"]: r["component"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    # union-find oracle over every endpoint (self-loops register the node)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert got == want
    assert got_dist == want


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=24), max_size=6
    ),
    n_tokens=st.integers(2, 3),
)
def test_substring_dup_stats_fuzz_invariants(spark, texts, n_tokens):
    """Corpus-wide: sum(n_dup_windows) == total windows - distinct
    windows; per-doc window count == max(token_count - n + 1, 0)."""
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        substring_dup_stats,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    if not docs:
        return
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = substring_dup_stats(df, "doc_id", "text", n_tokens).collect()
    # python-side window model (whitespace split of trimmed text)
    wins = {}
    for i, t in docs:
        toks = t.strip().split()
        for p in range(max(len(toks) - n_tokens + 1, 0)):
            wins.setdefault(i, []).append(tuple(toks[p : p + n_tokens]))
    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"]) for r in rows}
    assert set(got) == set(wins)
    all_w = [w for ws in wins.values() for w in ws]
    assert sum(n for n, _ in got.values()) == len(all_w)
    assert sum(d for _, d in got.values()) == len(all_w) - len(set(all_w))
    for i, ws in wins.items():
        assert got[i][0] == len(ws)


@settings(max_examples=10, deadline=None)
@given(
    base=st.lists(st.text(alphabet="xy", min_size=1, max_size=3), max_size=6),
    batch=st.lists(st.text(alphabet="xy", min_size=1, max_size=3), max_size=6),
)
def test_incremental_dedup_fuzz_vs_set_semantics(spark, base, batch):
    from gcp_data_pipeline_fyp_spark.operators.dedup import (
        incremental_exact_dedup,
    )

    bdf = (
        spark.createDataFrame(list(enumerate(base)), "doc_id long, text string")
        if base
        else spark.createDataFrame([], "doc_id long, text string")
    )
    udf = (
        spark.createDataFrame(
            [(i + 100, t) for i, t in enumerate(batch)],
            "doc_id long, text string",
        )
        if batch
        else spark.createDataFrame([], "doc_id long, text string")
    )
    out = incremental_exact_dedup(udf, bdf, ["text"], id_col="doc_id")
    got = sorted((r["doc_id"], r["text"]) for r in out.collect())
    seen, want = set(base), []
    for i, t in enumerate(batch):
        if t not in seen:
            want.append((i + 100, t))
            seen.add(t)
    assert got == sorted(want)


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 5)),
            st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
        ),
        max_size=12,
    )
)
def test_expectations_fuzz_vs_pandas(spark, rows):
    """Rule counts match a plain-Python evaluation on arbitrary data —
    including all-NULL columns and the empty frame (coalesced to 0)."""
    from gcp_data_pipeline_fyp_spark.operators.expectations import (
        expectations_report,
        in_range,
        not_null,
        unique,
    )

    df = spark.createDataFrame(rows, "k long, v double") if rows else (
        spark.createDataFrame([], "k long, v double")
    )
    got = {
        r["rule"]: r["n_violations"]
        for r in expectations_report(
            df, [not_null("k"), in_range("v", -10, 10), unique("k")]
        ).collect()
    }
    ks = [k for k, _ in rows]
    vs = [v for _, v in rows]
    assert got["k_not_null"] == sum(1 for k in ks if k is None)
    assert got["v_in_range"] == sum(
        1 for v in vs if v is not None and not (-10 <= v <= 10)
    )
    non_null_keys = [k for k in ks if k is not None]
    assert got["k_unique"] == len(non_null_keys) - len(set(non_null_keys))


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=20), max_size=6
    )
)
def test_bpe_pair_counts_fuzz_vs_counter(spark, texts):
    from collections import Counter

    from gcp_data_pipeline_fyp_spark.operators.tokenizer import bpe_pair_counts

    if not texts:
        return
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["left"], r["right"]): r["pair_count"]
        for r in bpe_pair_counts(df, "text").collect()
    }
    want = Counter()
    vocab = Counter(w for t in texts for w in t.split() if w)
    for word, n in vocab.items():
        for a, b in zip(word, word[1:]):
            want[(a, b)] += n
    assert got == dict(want)


@settings(max_examples=10, deadline=None)
@given(
    texts=st.lists(
        # U+2028 / U+2029 / U+0085 inside words: Java's non-Unicode \s does
        # NOT split them, and before the r13 (?s) fix the string
        # rendering's `.` skipped them — the divergence class ADVICE
        # r12 flagged. The reference below splits with Java's \s
        # semantics so the engine's word boundaries are reproduced.
        st.text(alphabet="ab c\u2028\u2029\u0085\u00a0", min_size=0, max_size=20),
        max_size=5,
    ),
    merges=st.lists(
        st.tuples(
            st.text(alphabet="ab", min_size=1, max_size=2),
            st.text(alphabet="ab", min_size=1, max_size=2),
        ),
        max_size=4,
    ),
)
def test_bpe_segment_fuzz_vs_greedy_fold(spark, texts, merges):
    """Segmentation must equal the pure-Python greedy left-to-right
    fold for ANY merge table — including self-overlapping pairs like
    (a, a) and chained products like (a, b) then (ab, a) — the exact
    semantics the DuckDB replace-chain oracle also reproduces."""
    import re as _re

    from gcp_data_pipeline_fyp_spark.operators.tokenizer import bpe_segment

    if not texts:
        return
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_segment(df, "text", merges).collect()
    }

    def fold(word: str) -> list[str]:
        syms = list(word)
        for left, right in merges:
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            syms = out
        return syms

    for i, t in enumerate(texts):
        # mirror the engine's tokens(): Spark trim strips ' ' only;
        # Java \s is [ \t\n\x0B\f\r] — NOT the Unicode terminators
        words = _re.split("[ \t\n\x0b\f\r]+", t.strip(" "))
        want = [s for w in words if w for s in fold(w)]
        assert got[i] == want, (t, merges, got[i], want)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.text(alphabet="abc xyz", max_size=25), st.booleans()),
        min_size=1,
        max_size=8,
    )
)
@pytest.mark.slow
def test_classifier_fuzz_vs_python_reference(spark, rows):
    """Trained weights and scores must match a from-scratch Python
    reimplementation (hashlib md5 buckets, Counter training, integer
    milli-weight sums) on arbitrary labeled corpora."""
    import hashlib
    from collections import Counter
    from decimal import Decimal, ROUND_HALF_UP

    from gcp_data_pipeline_fyp_spark.operators.classifier import (
        bucketed_features,
        score_from_buckets,
        train_from_buckets,
    )

    B, SEED = 64, 0
    df = spark.createDataFrame(
        [(i, t, l) for i, (t, l) in enumerate(rows)],
        "doc_id long, text string, lbl boolean",
    )
    feats = bucketed_features(df, ["doc_id", "lbl"], "text", n_buckets=B)
    w = train_from_buckets(feats, "lbl", n_buckets=B)
    got = {
        r["doc_id"]: (r["n_features"], r["score_micro"], r["label"])
        for r in score_from_buckets(
            feats.select("doc_id", "__b"), "doc_id", w, df.select("doc_id")
        ).collect()
    }

    def feats(t: str) -> list[str]:
        toks = [x for x in t.split() if x]
        return toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]

    def bucket(f: str) -> int:
        return int(hashlib.md5(f"{SEED}|{f}".encode()).hexdigest()[:12], 16) % B

    pos, neg = Counter(), Counter()
    for t, l in rows:
        for f in feats(t):
            (pos if l else neg)[bucket(f)] += 1
    tp, tn = sum(pos.values()), sum(neg.values())
    w_milli = {}
    for b in set(pos) | set(neg):
        rp = (pos[b] + 1.0) / (tp + float(B))
        rn = (neg[b] + 1.0) / (tn + float(B))
        val = (rp - rn) / (rp + rn)
        # engine: F.round(w * 1000.0, 0) — HALF_UP on the product
        # double's shortest repr; an inner Python round(val, 3) here
        # banker's-rounds exact half-millis the other way
        w_milli[b] = int(
            Decimal(repr(val * 1000.0)).to_integral_value(ROUND_HALF_UP)
        )
    for i, (t, _l) in enumerate(rows):
        fs = feats(t)
        if not fs:
            assert got[i] == (0, None, "empty")
            continue
        s = sum(w_milli.get(bucket(f), 0) for f in fs)
        # engine: F.round(sum_w * 1000.0 / n_features) — same HALF_UP
        # discipline, no banker's round() on a micro surface
        micro = int(
            Decimal(repr(s * 1000.0 / len(fs))).to_integral_value(
                ROUND_HALF_UP
            )
        )
        assert got[i][0] == len(fs)
        assert got[i][1] == micro, (t, got[i], micro)
        assert got[i][2] == ("keep" if micro > 0 else "drop")


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.text(alphabet="pq r", max_size=30),
            st.sampled_from(["train", "val", "test"]),
        ),
        min_size=1,
        max_size=10,
    ),
    n=st.integers(min_value=1, max_value=3),
)
def test_split_leakage_fuzz_vs_set_semantics(spark, rows, n):
    """Leak counts must equal plain Python set intersection semantics
    for any split layout and shingle width."""
    from gcp_data_pipeline_fyp_spark.operators.decontaminate import (
        split_leakage_report,
    )

    df = spark.createDataFrame(
        [(i, t, s) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, split string",
    )
    got = {
        r["split"]: (r["n_docs"], r["n_leaked"])
        for r in split_leakage_report(df, "doc_id", "text", "split", n=n).collect()
    }

    def grams(t: str) -> set:
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    train = set()
    for t, s in rows:
        if s == "train":
            train |= grams(t)
    for split in ("val", "test"):
        docs = [(i, t) for i, (t, s) in enumerate(rows) if s == split]
        if not docs:
            assert split not in got
            continue
        leaked = sum(1 for _i, t in docs if grams(t) & train)
        assert got[split] == (len(docs), leaked), (rows, n, got)


# -------------------- micro6 cross-engine emission fuzz
_micro6_vals = st.lists(
    st.one_of(
        # the working range of every certified measure emission
        st.floats(
            min_value=-1e9, max_value=1e9,
            allow_nan=False, allow_infinity=False,
        ),
        # sub-micro magnitudes (JVM scientific-notation zone pre-fix)
        st.floats(min_value=-1e-3, max_value=1e-3, allow_nan=False),
        # tie-adjacent: nearest doubles to exact half-micro boundaries,
        # the HALF_UP-vs-double-round divergence zone
        st.integers(min_value=-10**9, max_value=10**9).map(
            lambda n: (n + 0.5) / 1e6
        ),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None)
@given(vals=_micro6_vals)
def test_micro6_matches_duckdb_cell_exact(spark, vals):
    """micro6 (Spark) and micro6_sql (DuckDB) are THE numeric emission
    under every certified measure — a latent rounding-tie divergence
    between Spark's decimal HALF_UP and DuckDB's double round would
    surface as an unexplainable hash red on fresh driver data. Fuzz the
    chain across engines cell-exactly, ties and sub-micro magnitudes
    included, plus NULL passthrough."""
    from gcp_data_pipeline_fyp_spark.queries_util import micro6, micro6_sql

    rows = [(i, float(v)) for i, v in enumerate(vals)] + [(len(vals), None)]
    df = spark.createDataFrame(rows, "i long, v double")
    got = {
        r["i"]: r["m"]
        for r in df.select("i", micro6("v").alias("m")).collect()
    }
    con = duckdb.connect()
    pdf = pd.DataFrame(
        {"i": [r[0] for r in rows], "v": [r[1] for r in rows]}
    ).astype({"v": "float64"})
    con.register("t", pdf)
    want = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT i, {micro6_sql('v')} AS m FROM t"
        ).fetchall()
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(vals=_micro6_vals, n=st.sampled_from([2, 6]))
def test_roundn_matches_duckdb_cell_exact(spark, vals, n):
    """roundn/roundn_sql — the double-emission twin of micro6 — must be
    cell-exact across engines at every certified scale (2 and 6 dp),
    ties and sub-micro magnitudes included. (Raw F.round(x, n) vs
    DuckDB round(x, n) fails this: shortest-repr HALF_UP vs true-binary
    rounding, e.g. 0.0159085 at n=6.)"""
    from gcp_data_pipeline_fyp_spark.queries_util import roundn, roundn_sql

    rows = [(i, float(v)) for i, v in enumerate(vals)] + [(len(vals), None)]
    df = spark.createDataFrame(rows, "i long, v double")
    got = {
        r["i"]: r["m"]
        for r in df.select("i", roundn("v", n).alias("m")).collect()
    }
    con = duckdb.connect()
    pdf = pd.DataFrame(
        {"i": [r[0] for r in rows], "v": [r[1] for r in rows]}
    ).astype({"v": "float64"})
    con.register("t", pdf)
    want = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT i, {roundn_sql('v', n)} AS m FROM t"
        ).fetchall()
    }
    # REPR equality (or both-NULL), not ==: the certification hash
    # canonicalizes cells by repr, where -0.0 != 0.0 even though
    # -0.0 == 0.0 — a plain == compare can never catch the
    # negative-zero asymmetry roundn_sql's trailing `+ 0.0` closes
    assert set(got) == set(want)
    for i in got:
        g, w = got[i], want[i]
        assert (g is None and w is None) or repr(g) == repr(w), (i, g, w)


def test_roundn_negative_zero_sign_normalized(spark):
    """Pin the reachable -0.0 case (ADVICE r5): for v in (-0.5/10^n, 0)
    Spark's BigDecimal HALF_UP yields +0.0 while raw DuckDB round()
    yields -0.0; roundn_sql's `+ 0.0` must normalize the sign so both
    engines emit repr '0.0' (e.g. numeric_profile means ~ -3e-7)."""
    from gcp_data_pipeline_fyp_spark.queries_util import roundn, roundn_sql

    vals = [-4e-7, -3e-7, -0.0, 0.0, -0.004, 4e-7]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, v double"
    )
    got = {
        r["i"]: r["m"]
        for r in df.select("i", roundn("v", 6).alias("m")).collect()
    }
    con = duckdb.connect()
    pdf = pd.DataFrame({"i": range(len(vals)), "v": vals}).astype(
        {"v": "float64"}
    )
    con.register("t", pdf)
    want = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT i, {roundn_sql('v', 6)} AS m FROM t"
        ).fetchall()
    }
    for i in got:
        assert repr(got[i]) == repr(want[i]), (i, got[i], want[i])
    # the sub-half-micro negatives land on POSITIVE zero in both engines
    assert repr(got[0]) == "0.0" and repr(got[1]) == "0.0"


# ----------------------------------------------- r6-tail operator fuzz
@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),    # entity
            st.sampled_from(["a", "b", None]),         # attr (incl NULL)
            st.integers(min_value=0, max_value=20),    # order
        ),
        min_size=1,
        max_size=25,
    )
)
def test_scd2_snapshot_fuzz_vs_reference(spark, rows):
    """scd2_snapshot vs a pure-Python reference: run-collapse, interval
    chaining, NULL attr states, duplicate order values (unique eid
    tiebreak)."""
    from gcp_data_pipeline_fyp_spark.operators.scd import scd2_snapshot

    feed = [(uid, attr, t, i) for i, (uid, attr, t) in enumerate(rows)]
    df = spark.createDataFrame(feed, "uid int, attr string, t int, eid int")
    key = lambda r: (r[0], r[2], (r[1] is None, r[1] or ""))  # noqa: E731
    got = sorted(
        (
            (r.uid, r.attr, r.valid_from, r.valid_to, r.is_current)
            for r in scd2_snapshot(
                df, ["uid"], ["attr"], "t", ["eid"]
            ).collect()
        ),
        key=key,
    )
    expect = []
    by_uid: dict = {}
    for uid, attr, t, eid in sorted(feed, key=lambda r: (r[0], r[2], r[3])):
        by_uid.setdefault(uid, []).append((attr, t))
    for uid, seq in by_uid.items():
        opens = [
            (attr, t)
            for i, (attr, t) in enumerate(seq)
            if i == 0 or attr != seq[i - 1][0]
        ]
        for i, (attr, t) in enumerate(opens):
            vt = opens[i + 1][1] if i + 1 < len(opens) else None
            expect.append((uid, attr, t, vt, vt is None))
    assert got == sorted(expect, key=key)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=5),
        min_size=2,
        max_size=12,
    )
)
@pytest.mark.slow
def test_fuzzy_pairs_fuzz_complete_vs_bruteforce(spark, texts):
    """Deletion-1 blocking completeness fuzz: on random short strings
    (tiny alphabet -> dense distance-1 neighborhoods, duplicates
    likely) the blocked operator must emit EXACTLY the exhaustive
    O(n²) levenshtein pair set."""
    from gcp_data_pipeline_fyp_spark.operators.linkage import fuzzy_pairs

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id int, name string")
    got = sorted(
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_pairs(df, "id", "name").collect()
    )
    expect = sorted(
        (i, j, lev(texts[i], texts[j]))
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if lev(texts[i], texts[j]) <= 1
    )
    assert got == expect


@given(
    st.lists(
        st.integers(min_value=-(10 ** 12), max_value=10 ** 12),
        min_size=1, max_size=60, unique=True,
    ),
    st.integers(min_value=0, max_value=5),
)
@settings(max_examples=12, deadline=None)
def test_epoch_shuffle_is_bijection_for_any_id_set(spark, ids, epoch):
    """For ANY distinct id set (negative, huge, sparse) and any epoch,
    epoch_shuffle_order emits a bijection onto 0..n-1 and matches the
    plain sorted-by-keyed-hash rank computed independently."""
    import hashlib

    from gcp_data_pipeline_fyp_spark.operators.packing import (
        epoch_shuffle_order,
    )

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r["id"]: r["global_pos"]
        for r in epoch_shuffle_order(df, "id", epoch=epoch).collect()
    }
    assert sorted(got.values()) == list(range(len(ids)))

    def key(i):
        return int(
            hashlib.md5(f"{epoch}_{i}".encode()).hexdigest()[:15], 16
        )

    expect = {
        i: pos
        for pos, i in enumerate(sorted(ids, key=lambda i: (key(i), i)))
    }
    assert got == expect


@given(
    st.lists(
        st.floats(min_value=0.0, max_value=1e6, allow_nan=False),
        min_size=2, max_size=40,
    )
)
@settings(max_examples=10, deadline=None)
def test_gini_ungrouped_matches_naive_for_any_values(spark, vals):
    """Distributed ungrouped Gini == the naive sorted-rank formula for
    arbitrary non-negative value multisets (ties, zeros, extremes) —
    at the decimal(18,4) input grain the engine pins."""
    from gcp_data_pipeline_fyp_spark.operators.profile import (
        gini_coefficient,
    )

    qvals = [round(v, 4) for v in vals]
    if sum(qvals) == 0:
        return  # zero total mass: G undefined (0/0), out of domain
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(qvals)], "id long, v double"
    )
    got = gini_coefficient(df, "v").collect()[0]
    s = sorted(qvals)
    n, s0 = len(s), sum(s)
    s1 = sum((i + 1) * x for i, x in enumerate(s))
    expect = round((2.0 * s1 / (n * s0) - (n + 1.0) / n) * 1e6)
    assert got["n"] == n
    assert abs(got["gini_micro"] - expect) <= 1


@settings(max_examples=15, deadline=None)
@given(
    keys=st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=40, unique=True),
    probes=st.lists(st.integers(-(2**40), 2**40), max_size=30),
    k=st.integers(1, 9),
)
@pytest.mark.slow
def test_bloom_never_false_negative_fuzz(spark, keys, probes, k):
    """Every inserted key passes the bloom regardless of key values,
    bit width, or probe count — the zero-false-negative guarantee the
    semi/anti join exactness rests on."""
    from pyspark.sql import functions as SF

    from gcp_data_pipeline_fyp_spark.operators.bloomfilter import (
        bloom_build,
        bloom_flag,
    )

    build = spark.createDataFrame([(x,) for x in keys], "k: bigint")
    bloom = bloom_build(build, "k", 640, k)
    flagged = bloom_flag(build, "k", bloom, m_bits=640, k=k)
    assert flagged.filter(~SF.col("__bloom_hit")).count() == 0


@settings(max_examples=10, deadline=None)
@example(
    # Pinned regression: AUC = 85/128 = 0.6640625 exactly, so the
    # micro product is exactly 664062.5 — the engine's HALF_UP
    # (micro6, queries_util.py) emits 664063 while Python's banker's
    # round() says 664062. 4 pos / 16 neg, wins=42 ties=1.
    rows=(
        [(15, True)] * 3
        + [(10, True)]
        + [(0, False)] * 9
        + [(12, False)]
        + [(20, False)] * 5
        + [(10, False)]
    ),
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1000), st.booleans()),
        min_size=2,
        max_size=60,
    ),
)
@pytest.mark.slow
def test_roc_auc_fuzz_vs_pair_counting(spark, rows):
    """Distributed rank-sum AUC == naive pair counting with half-credit
    ties, on arbitrary integer score multisets.

    The expectation mirrors the engine's emission exactly: the same
    IEEE quotient-then-product double, then HALF_UP (half away from
    zero) on its shortest repr — NEVER Python's banker's round(),
    which diverges at exact half-micro values (the pinned 85/128
    example)."""
    from decimal import ROUND_HALF_UP, Decimal

    from gcp_data_pipeline_fyp_spark.operators import prefix
    from gcp_data_pipeline_fyp_spark.operators.evalmetrics import roc_auc

    df = spark.createDataFrame(
        [(float(s), y) for s, y in rows], "score: double, label: boolean"
    )
    # 8 buckets put several distinct scores in each one
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(prefix, "N_BUCKETS", 8)
        r = roc_auc(df, "score", "label").first()
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    if not pos or not neg:
        assert r["auc_micro"] is None
    else:
        wins = sum(1 for p in pos for n in neg if p > n)
        ties = sum(1 for p in pos for n in neg if p == n)
        # engine: num = 2*S_pos - P(P+1) = 2*wins + ties (exact int
        # as double), den = 2PN (exact), one correctly-rounded
        # division, *1e6 product, HALF_UP — replay the identical ops
        num = 2 * wins + ties
        den = 2 * len(pos) * len(neg)
        prod = (num / den) * 1_000_000.0
        want_micro = int(
            Decimal(repr(prod)).to_integral_value(rounding=ROUND_HALF_UP)
        )
        assert r["auc_micro"] == want_micro


@settings(max_examples=10, deadline=None)
@given(
    a=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 100)),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    ),
    b=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 100)),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    ),
    k0=st.integers(1, 100),
)
def test_rrf_fuse_fuzz_vs_naive(spark, a, b, k0):
    """Distributed RRF == a naive Python re-implementation (rank by
    score desc with id-asc ties, sum of exact integer contributions)
    for arbitrary two-system score tables."""
    from gcp_data_pipeline_fyp_spark.operators.rerank import rrf_fuse

    fa = spark.createDataFrame(
        [(i, float(s)) for i, s in a], "doc_id long, score double"
    )
    fb = spark.createDataFrame(
        [(i, float(s)) for i, s in b], "doc_id long, score double"
    )
    got = {
        r["doc_id"]: (r["n_systems"], r["rrf_nano"])
        for r in rrf_fuse(
            [("a", fa, "score"), ("b", fb, "score")], ["doc_id"], k0=k0
        ).collect()
    }

    def naive_ranks(rows):
        order = sorted(rows, key=lambda t: (-t[1], t[0]))
        return {i: r + 1 for r, (i, _) in enumerate(order)}

    want: dict[int, list[int]] = {}
    for rows in (a, b):
        for i, rank in naive_ranks(rows).items():
            want.setdefault(i, []).append(10**9 // (k0 + rank))
    assert got == {i: (len(cs), sum(cs)) for i, cs in want.items()}


@settings(max_examples=10, deadline=None)
@given(
    src=st.lists(st.integers(0, 5), min_size=1, max_size=120),
    ref=st.lists(st.integers(0, 5), min_size=1, max_size=60),
)
@pytest.mark.slow
def test_distribution_match_rates_fuzz_vs_fractions(spark, src, ref):
    """Rate table == the exact rational formula floor(1e6*s_m*r_b /
    (r_m*s_b)) computed with Python integers, for arbitrary bucket
    multisets; the argmin bucket (ties -> smallest bucket) keeps rate
    exactly 1e6 whenever source and reference overlap."""
    from collections import Counter

    from gcp_data_pipeline_fyp_spark.operators.sampling import (
        distribution_match_rates,
    )

    sdf = spark.createDataFrame(
        [(i, b) for i, b in enumerate(src)], "doc_id long, bucket long"
    )
    rdf = spark.createDataFrame(
        [(i, b) for i, b in enumerate(ref)], "rid long, bucket long"
    )
    got = {
        r["bucket"]: (r["n_src"], r["n_ref"], r["rate_micro"])
        for r in distribution_match_rates(sdf, "bucket", rdf).collect()
    }
    s_c, r_c = Counter(src), Counter(ref)
    overlap = [b for b in s_c if r_c.get(b, 0) > 0]
    if not overlap:
        assert all(rate == 0 for _, _, rate in got.values())
        return
    m = min(overlap, key=lambda b: (s_c[b] / r_c[b], b))
    for b, n in s_c.items():
        r_b = r_c.get(b, 0)
        want = (
            0
            if r_b == 0
            else min(1_000_000, (1_000_000 * s_c[m] * r_b) // (r_c[m] * n))
        )
        assert got[b] == (n, r_b, want), b
    assert got[m][2] == 1_000_000
