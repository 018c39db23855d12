"""Surrogate keys for dimension upkeep (reference A1-A5, J4).

The reference numbers every dimension the same way: the sorted distinct
natural keys are enumerated from 1 on a full load (`beam.Distinct() |
ToList`, `Full Load Scripts/dw_full_load2.py:37-39,104-105`) and from
MAX(id)+1 on a delta load, after a MAX snapshot and an anti-join
against the stored rows (`Delta Load Scripts/dw2_delta_load2.py:32-34,
70-73,139-143`).

`new_dimension_rows` is that rule, once, for any number of dimensions:
the full load (no stored rows), the delta load and the key probes all
call it. One query melts the input's natural keys into (dimension,
key) rows, unions every stored dimension's (key, id) rows and groups
by (dimension, key): a key only the input has is new — the anti-join,
null-safe because grouping treats NULL as an ordinary key. A second
grouping per dimension gives its MAX(id) snapshot beside its new keys.
One collect brings the new keys to the driver (like the reference's
`ToList`, they are post-distinct dimension values: dozens to thousands
even when the input is huge), plain Python numbers them from max+1 in
asc_nulls_first key order (SURVEY.md §7; Python's str order is Spark's
binary UTF-8 order), and each dimension's rows come back as one JSON
literal parsed and inlined on the JVM — one partition, no Python-side
RDD. Ids are dense and rerun-stable, so the DuckDB oracle agrees.
"""

from __future__ import annotations

import json
from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType


def new_dimension_rows(
    df: DataFrame,
    dims: Mapping[str, tuple[Sequence[str], str | None]],
    stored: Mapping[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Each dimension's rows for the natural keys of `df` it lacks.

    `dims`: name -> (natural-key columns of `df`, surrogate id column).
    The keys must be strings: they are numbered in string order. An id
    column of None marks a dimension keyed by its own id (a yyyymmdd
    date): its new keys come back unnumbered, and a NULL key is no row.

    `stored`: name -> the dimension's stored rows, carrying the same key
    columns (cast to string to match) and id column. A dimension with
    stored rows gets (id, *keys) rows for the keys they lack, ids from
    their MAX(id)+1, and is left out when it gains none. A dimension
    without stored rows always comes back — its whole key set, ids from
    1, possibly empty — so writing it replaces the dimension.

    One query and one collect per call, whatever the number of
    dimensions.
    """
    stored = stored or {}
    types = dict(df.dtypes)
    for name, (keys, _id) in dims.items():
        for k in keys:
            if types.get(k) != "string":
                raise ValueError(
                    f"new_dimension_rows needs string keys; {name}.{k} is {types.get(k)!r}"
                )
    slots = [f"__k{i}" for i in range(max(len(keys) for keys, _id in dims.values()))]

    def melt_keys(keys: Sequence[str]) -> list:
        padded = [F.col(k) for k in keys] + [F.lit(None)] * (len(slots) - len(keys))
        return [c.cast("string").alias(s) for c, s in zip(padded, slots)]

    melt = [F.struct(F.lit(n).alias("__dim"), *melt_keys(keys)) for n, (keys, _id) in dims.items()]
    found = df.select(F.explode(F.array(*melt)).alias("__e")).select(
        "__e.*", F.lit(None).cast("long").alias("__id"), F.lit(False).alias("__old")
    )
    self_keyed = [n for n, (_keys, id_col) in dims.items() if id_col is None]
    if self_keyed:
        found = found.where(~F.col("__dim").isin(*self_keyed) | F.col("__k0").isNotNull())
    known = [
        rows.select(
            F.lit(n).alias("__dim"), *melt_keys(dims[n][0]),
            (F.col(dims[n][1]) if dims[n][1] else F.lit(None)).cast("long").alias("__id"),
            F.lit(True).alias("__old"),
        )
        for n, rows in stored.items()
    ]
    per_key = (
        reduce(DataFrame.unionByName, known, found)
        .groupBy("__dim", *slots)
        .agg(F.max("__old").alias("__old"), F.max("__id").alias("__id"))
    )
    per_dim = per_key.groupBy("__dim").agg(
        F.max("__id").alias("__max_id"),
        F.collect_list(F.when(~F.col("__old"), F.struct(*slots))).alias("__new"),
    )
    new = {r["__dim"]: (r["__max_id"] or 0, r["__new"]) for r in per_dim.collect()}

    out = {}
    for name, (keys, id_col) in dims.items():
        max_id, found_keys = new.get(name, (0, []))
        if name in stored and not found_keys:
            continue
        ordered = sorted(
            (tuple(k)[: len(keys)] for k in found_keys),
            key=lambda k: [(v is not None, v or "") for v in k],
        )
        fields = [StructField(k, StringType()) for k in keys]
        records = [dict(zip(keys, k)) for k in ordered]
        if id_col is not None:
            fields.insert(0, StructField(id_col, LongType()))
            records = [{id_col: max_id + i, **r} for i, r in enumerate(records, 1)]
        literal = F.from_json(F.lit(json.dumps(records)), ArrayType(StructType(fields)))
        out[name] = df.sparkSession.range(0, 1, 1, 1).select(F.inline(literal))
    return out
