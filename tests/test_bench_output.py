"""The driver machine-reads bench.py's FINAL stdout line from a
2000-char tail capture — the r5 round shipped a line that overflowed
it and the driver recorded `parsed: null`. These tests pin the
emission contract without starting Spark.

r13 re-pin (VERDICT r12 item 2): the RAW per-query map is the
driver's per-query regression signal, so it is the LAST field demoted
off the final line (the normalized map demotes first). At the real
current leg count the named map cannot fit the window at all (names
alone ~1800 chars), so the final line carries `qv` — the raw seconds
as a values-only array in the map's exact key order — and the full
named map rides the line immediately before it."""

from __future__ import annotations

import json

import bench


def _parse_final(lines):
    return json.loads(lines[-1])


def _recover_map(lines, prefix, final_key):
    """The map must be recoverable: inline on the final line, or on
    its own earlier `prefix` line — wherever the cascade put it."""
    d = _parse_final(lines)
    if final_key in d:
        return d[final_key]
    for ln in lines[:-1]:
        if ln.startswith(prefix):
            return json.loads(ln[len(prefix):])
    raise AssertionError(f"{final_key} not recoverable from any line")


def test_aux_legs_constant_matches_mains_emission():
    """AUX_LEGS documents the qv order; keep it in sync, in ORDER, with
    the timings keys main() writes: the HEADLINE loop first, then each
    _bench_* helper in main()'s call order, each helper's legs in its
    source order (greppable — each helper assigns timings[...] literally,
    once per leg, with no reordering branches)."""
    import inspect
    import re

    main_src = inspect.getsource(bench.main)
    calls = re.findall(r"^\s*(_bench_\w+)\(spark, sf_dir, timings\)", main_src, re.M)
    assert calls, "main() no longer calls the _bench_* helpers"
    # the HEADLINE legs are timed before any helper runs
    assert main_src.index("timings[name] =") < main_src.index(calls[0] + "(")
    emitted = [
        leg
        for name in calls
        for leg in re.findall(r'timings\["([^"]+)"\]', inspect.getsource(getattr(bench, name)))
    ]
    assert emitted == list(bench.AUX_LEGS)


def test_final_line_carries_qv_at_current_headline_size():
    """At the REAL current emission size the final line stays inside
    the tail window, carries the values-only `qv` array in map key
    order, and the named raw map rides the IMMEDIATELY preceding line
    (longest possible suffix visible in the window)."""
    names = list(bench.HEADLINE) + list(bench.AUX_LEGS)
    timings = {n: round(0.31 + (i % 40) * 0.77, 3) for i, n in enumerate(names)}
    lines = bench.format_output_lines(timings, 999.999, 0.1, 1.234, 810.5)
    final = lines[-1]
    assert len(final) <= 1900, len(final)
    d = _parse_final(lines)
    assert d["n_queries"] == len(names)
    assert d["drift_median"] == 1.234 and d["value_normalized"] == 810.5
    assert d["detail_file"] == "BENCH_DETAIL.json"
    assert d["qv"] == [round(v, 2) for v in timings.values()]
    # the named map is the line immediately before the final line
    assert lines[-2].startswith("BENCH_QUERIES: ")
    assert _recover_map(lines, "BENCH_QUERIES: ", "queries") == timings


def test_raw_map_outlives_normalized_map_in_the_cascade():
    """Priority inversion (r13): with both maps present and the line
    oversized, the NORMALIZED map demotes first; the raw map demotes
    only if the line is still too long, and then qv appears. Both
    maps stay recoverable from stdout."""
    names = list(bench.HEADLINE) + list(bench.AUX_LEGS)
    timings = {n: 123.456 for n in names}
    qn = {n: 100.046 for n in names}
    lines = bench.format_output_lines(timings, 999.999, 0.1, 1.234, 810.5, qn)
    final = lines[-1]
    assert len(final) <= 1900, len(final)
    d = _parse_final(lines)
    assert d["drift_median"] == 1.234
    # normalized demoted FIRST: its line precedes the raw map's line
    i_norm = next(
        i for i, ln in enumerate(lines)
        if ln.startswith("BENCH_QUERIES_NORMALIZED: ")
    )
    assert _recover_map(
        lines, "BENCH_QUERIES_NORMALIZED: ", "queries_normalized"
    ) == qn
    assert _recover_map(lines, "BENCH_QUERIES: ", "queries") == timings
    if "queries" not in d:
        i_raw = next(
            i for i, ln in enumerate(lines)
            if ln.startswith("BENCH_QUERIES: ")
        )
        assert i_norm < i_raw, "raw map must sit closer to the final line"
        assert d["qv"] == [round(v, 2) for v in timings.values()]


def test_small_leg_count_keeps_inline_map_and_no_qv():
    """When everything fits (small SFs, unit tests), the final line
    keeps the inline named map and qv never appears."""
    timings = {"q1": 1.0, "q2": 2.5}
    lines = bench.format_output_lines(timings, 3.5, 0.01, None, None)
    assert len(lines) == 1
    d = _parse_final(lines)
    assert d["queries"] == timings
    assert "qv" not in d and "detail_file" not in d
    assert "drift_median" not in d and "value_normalized" not in d
    assert d["sf"] == 0.01


def test_backstop_demotes_qv_for_extreme_leg_counts():
    """A far larger future leg set: qv itself moves to a BENCH_QV
    line; the final line stays small and parseable."""
    timings = {
        f"query_with_a_rather_long_name_{i:03d}": 123.456 for i in range(400)
    }
    lines = bench.format_output_lines(timings, 999.999, 0.1, 1.0, 999.9)
    final = lines[-1]
    assert len(final) <= 1900
    d = _parse_final(lines)
    assert "queries" not in d and "qv" not in d
    assert d["n_queries"] == 400
    assert any(ln.startswith("BENCH_QV: ") for ln in lines[:-1])
    assert _recover_map(lines, "BENCH_QUERIES: ", "queries") == timings
