"""Unit tests for the scalar surface — the reference's quirk cases.

Each case is cited to the reference behavior it pins down (SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_data_pipeline_fyp_spark.functions.banding import (
    depth_band,
    mag_band,
    null_fallback_adjust,
)
from gcp_data_pipeline_fyp_spark.functions.cleaning import (
    null_coerce,
    safe_double,
    safe_long,
)
from gcp_data_pipeline_fyp_spark.functions.ids import stable_event_id
from gcp_data_pipeline_fyp_spark.functions.timeops import (
    date_dim_columns,
    utc_to_local_string,
)


def _vals(spark, expr, rows, schema="v string"):
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(expr).collect()]


def test_null_coerce_zero_and_empty(spark):
    # stg_full_load.py:78-83 — '' and '0' (even a legit zero) -> NULL
    out = _vals(spark, null_coerce("v"), [("0",), ("",), (" 0 ",), ("0.0",), ("x",)])
    assert out == [None, None, None, "0.0", "x"]


def test_safe_casts(spark):
    # ods_full_load2.py:51-64 — 'null'/''/garbage -> NULL; int(float(v))
    assert _vals(spark, safe_double("v"), [("1.5",), ("null",), ("",), ("abc",)]) == [
        1.5, None, None, None,
    ]
    assert _vals(spark, safe_long("v"), [("3.9",), ("-2.7",), ("7",), ("x",)]) == [
        3, -2, 7, None,
    ]  # truncation toward zero, like Python int(float(v))


def test_null_fallback_adjust(spark):
    # ods_full_load2.py:75-76 — a + 0.5*b ONLY when both non-null, else a
    df = spark.createDataFrame(
        [(10.0, 2.0), (10.0, None), (None, 2.0), (None, None)], "a double, b double"
    )
    out = [r[0] for r in df.select(null_fallback_adjust("a", "b")).collect()]
    assert out == [11.0, 10.0, None, None]


def test_depth_band_boundaries(spark):
    # ods_full_load2.py:79-86 — <=70 Shallow, (70,300] Intermediate, >300 Deep
    df = spark.createDataFrame(
        [(0.0,), (70.0,), (70.0001,), (300.0,), (300.1,), (None,)], "v double"
    )
    out = [r[0] for r in df.select(depth_band("v")).collect()]
    assert out == ["Shallow", "Shallow", "Intermediate", "Intermediate", "Deep", None]


def test_mag_band_boundaries(spark):
    # ods_full_load2.py:88-103 — half-open bands at 3,4,5,6,7,8
    df = spark.createDataFrame(
        [(2.9,), (3.0,), (4.0,), (5.0,), (6.0,), (7.0,), (8.0,), (9.5,), (None,)],
        "v double",
    )
    out = [r[0] for r in df.select(mag_band("v")).collect()]
    assert out == [
        "Not Felt", "Minor", "Light", "Moderate", "Strong", "Major", "Great",
        "Great", None,
    ]


def test_stable_event_id_deterministic(spark):
    # P12 — same key -> same 60-bit id, across DataFrames and runs
    df = spark.createDataFrame([("2024-01-01 10:00:00", 1.5, 2.5)], "t string, a double, b double")
    id1 = df.select(stable_event_id("t", "a", "b").alias("i")).first()["i"]
    id2 = df.select(stable_event_id("t", "a", "b").alias("i")).first()["i"]
    assert id1 == id2
    assert 0 <= id1 < 2**60


def test_utc_to_local_dst(spark):
    # P11 — Europe/Bucharest is EET (+2) in winter, EEST (+3) in summer;
    # the reference's fixed +3h full-load variant is intentionally NOT
    # replicated (SURVEY.md §7 timezones)
    df = spark.createDataFrame(
        [("2024-01-15T12:00:00Z",), ("2024-07-15T12:00:00.000Z",)], "t string"
    )
    out = [r[0] for r in df.select(utc_to_local_string("t")).collect()]
    assert out == ["2024-01-15 14:00:00", "2024-07-15 15:00:00"]


def test_date_dim_iso_fields(spark):
    # P16 — ISO weekday (Mon=1, Sun=7) and ISO week (2024-01-01 is week 1)
    df = spark.createDataFrame([("2024-01-01",), ("2023-01-01",)], "d string")
    cols = date_dim_columns("d")
    rows = df.select(
        cols["ID_date_ID"].alias("id"),
        cols["ID_DayOfWeekNb"].alias("dow"),
        cols["ID_WeekNb"].alias("week"),
        cols["LB_DayOfWeek"].alias("day"),
        cols["ID_Quarter"].alias("q"),
    ).collect()
    assert rows[0].asDict() == {"id": 20240101, "dow": 1, "week": 1, "day": "Monday", "q": 1}
    # 2023-01-01 was a Sunday -> ISO week 52 of 2022
    assert rows[1].asDict() == {"id": 20230101, "dow": 7, "week": 52, "day": "Sunday", "q": 1}


def test_strip_html_and_entities(spark):
    from gcp_data_pipeline_fyp_spark.functions.text import strip_html

    df = spark.createDataFrame(
        [("<p>a&amp;b</p>  <br/>c &lt;d&gt;",), (None,)], ["t"]
    )
    got = [r[0] for r in df.select(strip_html("t")).collect()]
    assert got == ["a&b c <d>", None]


def test_extract_and_normalize_urls(spark):
    from pyspark.sql import functions as F

    from gcp_data_pipeline_fyp_spark.functions.text import (
        extract_urls,
        normalize_url,
    )

    df = spark.createDataFrame(
        [("see HTTPS://Ex.COM/A/B/?x=1#f and http://a.org plus ftp://skip",)],
        ["t"],
    )
    urls = df.select(extract_urls("t").alias("u")).collect()[0]["u"]
    assert urls == ["HTTPS://Ex.COM/A/B/?x=1#f", "http://a.org"]
    norm = [
        r[0]
        for r in spark.createDataFrame([(u,) for u in urls], ["u"])
        .select(normalize_url("u"))
        .collect()
    ]
    # scheme+host lowered, fragment gone, trailing path slash gone,
    # query kept; path case preserved
    assert norm == ["https://ex.com/A/B?x=1", "http://a.org"]


def test_fix_mojibake_repairs_cp1252_sequences(spark):
    from gcp_data_pipeline_fyp_spark.functions.text import fix_mojibake
    from gcp_data_pipeline_fyp_spark.queries_text import _mojibake

    clean = "It’s école “quote” — done… señor"
    df = spark.createDataFrame([(_mojibake(clean),)], ["t"])
    assert df.select(fix_mojibake("t")).collect()[0][0] == clean


def test_clean_text_normalizes_whitespace_and_controls(spark):
    from gcp_data_pipeline_fyp_spark.functions.text import clean_text

    dirty = "a\tb  c\x07\x00d\r\ne\r f\n\n\n\n\ng \n h"
    df = spark.createDataFrame([(dirty,)], ["t"])
    got = df.select(clean_text("t")).collect()[0][0]
    # tabs/spaces collapse, controls vanish, CR/CRLF -> LF, newline runs
    # cap at one blank line, spaces hugging newlines stripped
    assert got == "a b cd\ne\nf\n\ng\nh"


def test_registered_domain_collapses_subdomains_and_ports(spark):
    from gcp_data_pipeline_fyp_spark.functions.text import (
        registered_domain,
        url_host,
    )
    from pyspark.sql import functions as F

    rows = [
        ("https://a.b.news.example.org/x", "example.org"),
        ("http://Example.COM:8080/", "example.com"),
        ("https://localhost/x", ""),  # single label: no registered domain
        ("not a url", ""),
    ]
    df = spark.createDataFrame(rows, ["u", "want"])
    got = df.select(registered_domain(url_host(F.col("u"))).alias("d"), "want").collect()
    for r in got:
        assert r["d"] == r["want"], r


def test_dedup_normalize_canonicalizes_variants(spark):
    from gcp_data_pipeline_fyp_spark.functions.text import dedup_normalize

    df = spark.createDataFrame(
        [
            ("Hello,   World!",),
            ("hello world",),
            ("HELLO-WORLD",),
            ("naïve café",),   # unicode letters survive
            (None,),
        ],
        "t string",
    )
    got = [r["k"] for r in df.select(dedup_normalize("t").alias("k")).collect()]
    assert got[0] == got[1] == got[2] == "hello world"
    assert got[3] == "naïve café"
    assert got[4] is None


def test_ngram_repetition_frac_flags_loops(spark):
    """Gopher repetition filters: looping text scores high, prose
    near 0, docs shorter than n tokens emit NULL — and the expression
    is pure column algebra (one select, no shuffle)."""
    from gcp_data_pipeline_fyp_spark.functions.text import (
        ngram_repetition_frac,
        tokens,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "go go go go go"),
            (3, "one two"),
            (4, "a"),
            (5, "stop me stop me stop me"),
        ],
        "id long, text string",
    )
    toks = tokens("text")
    got = {
        r["id"]: (r["r2"], r["r3"])
        for r in df.select(
            "id",
            ngram_repetition_frac(toks, 2).alias("r2"),
            ngram_repetition_frac(toks, 3).alias("r3"),
        ).collect()
    }
    assert got[1] == (0.0, 0.0)
    assert abs(got[2][0] - 0.75) < 1e-9          # 4 bigrams, 1 distinct
    assert abs(got[2][1] - 2.0 / 3.0) < 1e-9     # 3 trigrams, 1 distinct
    assert got[3] == (0.0, None)                 # 1 bigram, no trigram
    assert got[4] == (None, None)
    assert got[5][0] > 0.5                       # the loop is caught


def test_canonicalize_url_rules(spark):
    """Tracking params dropped, survivors sorted; default port dropped,
    explicit non-default kept; www./case/fragment/trailing-slash
    normalization — one pin per rule."""
    from gcp_data_pipeline_fyp_spark.functions.text import (
        _url_port,
        canonical_host,
        canonicalize_url,
    )

    cases = {
        # case + www + default port + tracking + sort + fragment
        "HTTP://WWW.Ex.COM:80/A/?utm_source=x&b=2&a=1#f": "http://ex.com/A?a=1&b=2",
        # https default port; double trailing slash
        "https://Sub.Ex.com:443/p//": "https://sub.ex.com/p",
        # non-default port survives; bare click-id param dropped
        "https://ex.com:8443/p?fbclid=1": "https://ex.com:8443/p",
        # ref + gclid dropped, bare key param kept and sorted
        "http://ex.com/a?keyonly&z=1&ref=tw&gclid=2": "http://ex.com/a?keyonly&z=1",
        # root slash trims to bare authority
        "https://ex.com/": "https://ex.com",
        # non-http scheme: port never default-dropped
        "ftp://Files.Ex.org:21/pub/": "ftp://files.ex.org:21/pub",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["c"]
        for r in df.select("url", canonicalize_url("url").alias("c")).collect()
    }
    assert got == cases
    one = spark.range(1).select(
        canonical_host(F.lit("https://WWW.A.example.com:8080/x")).alias("h"),
        _url_port(F.lit("https://WWW.A.example.com:8080/x")).alias("p"),
    ).first()
    assert (one["h"], one["p"]) == ("a.example.com", "8080")


def test_canonicalize_url_fragment_query_is_fragment(spark):
    """RFC 3986: everything after '#' is fragment — a '?' inside it
    (SPA routes) must not leak into the canonical query."""
    from gcp_data_pipeline_fyp_spark.functions.text import canonicalize_url

    cases = {
        "https://ex.com/p#sec?a=1": "https://ex.com/p",
        "https://ex.com/p#/route?tab=1&utm_source=x": "https://ex.com/p",
        "https://ex.com/p?a=1#frag?b=2": "https://ex.com/p?a=1",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {
        r["url"]: r["c"]
        for r in df.select("url", canonicalize_url("url").alias("c")).collect()
    }
    assert got == cases


def test_chunk_documents_windows_and_edges(spark):
    """Token-window chunking: overlap windows, remainder tail, the
    single-chunk short doc, NULL text emitting zero rows, and the
    empty-string one-empty-chunk contract."""
    import pytest as _pytest

    from gcp_data_pipeline_fyp_spark.functions.text import chunk_documents

    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks
        (2, "a b c"),                               # short: 1 chunk
        (3, None),                                  # NULL: 0 rows
        (4, "   "),                                 # empty: 1 empty chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_ix"]): (r["chunk_n_tokens"], r["chunk_text"])
        for r in chunk_documents(
            df, "doc_id", "text", chunk_tokens=4, overlap_tokens=1
        ).collect()
    }
    # doc 1: stride 3, windows at 0,3,6 over 10 tokens — the last
    # window reaches the final token, so 3 chunks cover everything
    assert got[(1, 0)] == (4, "t0 t1 t2 t3")
    assert got[(1, 1)] == (4, "t3 t4 t5 t6")
    assert got[(1, 2)] == (4, "t6 t7 t8 t9")
    assert (1, 3) not in got
    assert got[(2, 0)] == (3, "a b c")
    assert (2, 1) not in got
    assert not any(k[0] == 3 for k in got)  # NULL -> zero rows
    assert got[(4, 0)] == (1, "")
    # coverage invariant: every token appears in some chunk, in order
    alltoks = []
    for ix in range(3):
        toks = got[(1, ix)][1].split()
        alltoks.extend(toks if ix == 0 else toks[1:])  # drop overlap
    assert alltoks == [f"t{i}" for i in range(10)]
    with _pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=0)
    with _pytest.raises(ValueError, match="overlap_tokens"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap_tokens=4)


def test_chunk_documents_no_overlap_and_stability(spark):
    from gcp_data_pipeline_fyp_spark.functions.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(str(i) for i in range(7)))], "doc_id long, text string"
    )
    got = {
        r["chunk_ix"]: r["chunk_text"]
        for r in chunk_documents(
            df, "doc_id", "text", chunk_tokens=3, overlap_tokens=0
        ).collect()
    }
    assert got == {0: "0 1 2", 1: "3 4 5", 2: "6"}
    # stable keys: a repartitioned rebuild reproduces identical chunks
    got2 = {
        r["chunk_ix"]: r["chunk_text"]
        for r in chunk_documents(
            df.repartition(8), "doc_id", "text", chunk_tokens=3,
            overlap_tokens=0,
        ).collect()
    }
    assert got2 == got
