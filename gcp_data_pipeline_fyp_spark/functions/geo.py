"""Place-string -> (Region, Country) parsing (reference P14, P15, J1).

Reference semantics (`Full Load
Scripts/parse_country_ods_full_load2.py:36-76` and delta twin):

- place with no comma: the whole string is the Region, Country NULL;
- else rsplit(',', 1): if the right token matches a US state (by full
  name OR abbreviation): Region = the state's full name, Country='USA';
- else Region = the case-insensitive `of\\s+(.+)$` capture of the left
  part (fallback: the whole left part), Country = the right token.

The Beam version does this with an `AsDict` side-input lookup; here the
states lookup is a **broadcast left join** (the Spark-native rendering
of a side input) plus pure column expressions — no UDF. The lookup
build (P15: one row per state name AND per abbreviation) is one inline
VALUES table, so building and collecting it runs no job; broadcasting
it into the join still runs one small job (the broadcast exchange
collects even a local table through a job).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def string_table(
    spark: SparkSession, rows: Sequence[Sequence[str | None]], names: Sequence[str]
) -> DataFrame:
    """`rows` (at least one) as one inline VALUES table of string
    columns `names`.

    It plans as a LocalRelation: the driver holds the rows, so reading
    it runs no job and no Python worker, unlike `createDataFrame(list)`
    (a `Scan ExistingRDD` over a Python RDD). Broadcasting it into a
    join still runs one job.
    """

    def lit(v: str | None) -> str:
        if v is None:
            return "CAST(NULL AS STRING)"
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    cols = ", ".join(f"`{n}`" for n in names)
    values = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({cols})")


def build_states_lookup(
    states: DataFrame, name_col: str = "State", abbrev_col: str = "Abbreviation"
) -> DataFrame:
    """(State->State) ∪ (Abbreviation->State), columns (__state_key, __state_name).

    Mirrors parse_country_ods_full_load2.py:92-101 where each states row
    emits two KV pairs for the side-input dict. The pairs are built on
    the driver from the states' rows (collecting an inline table such as
    `sources/states.states_df` runs no job) into one inline table.
    """
    pairs = states.select(name_col, abbrev_col).collect()
    return string_table(
        states.sparkSession,
        [(n, n) for n, _a in pairs] + [(a, n) for n, a in pairs],
        ["__state_key", "__state_name"],
    )


def place_parts(place: Column | str) -> tuple[Column, Column, Column]:
    """(has_comma, left, right) of rsplit(place, ',', 1), trimmed."""
    p = F.col(place) if isinstance(place, str) else place
    has_comma = p.contains(",")
    left = F.trim(F.regexp_extract(p, r"^(.*),[^,]*$", 1))
    right = F.trim(F.regexp_extract(p, r",([^,]*)$", 1))
    return has_comma, left, right


def region_of_left(left: Column) -> Column:
    """`of\\s+(.+)$` capture (case-insensitive), fallback: whole left part."""
    captured = F.regexp_extract(left, r"(?i)of\s+(.+)$", 1)
    return F.when(captured != "", captured).otherwise(left)


def parse_place(
    df: DataFrame,
    states_lookup: DataFrame,
    place_col: str = "LB_place",
    region_col: str = "LB_Region",
    country_col: str = "LB_Country",
) -> DataFrame:
    """Add (region_col, country_col) parsed from place_col.

    `states_lookup` is the output of `build_states_lookup`; it is tiny
    (<=100 rows) and always broadcast — this join never shuffles the
    fact-sized side, which is the property that survives a 100 TB scan.
    """
    p = F.col(place_col)
    has_comma, left, right = place_parts(place_col)
    out = df.withColumn("__right_token", F.when(has_comma, right))
    out = out.join(
        F.broadcast(states_lookup),
        out["__right_token"] == states_lookup["__state_key"],
        "left",
    )
    region = (
        F.when(p.isNull(), F.lit(None).cast("string"))
        .when(~has_comma, F.trim(p))
        .when(F.col("__state_name").isNotNull(), F.col("__state_name"))
        .otherwise(region_of_left(left))
    )
    country = (
        F.when(p.isNull() | ~has_comma, F.lit(None).cast("string"))
        .when(F.col("__state_name").isNotNull(), F.lit("USA"))
        .otherwise(right)
    )
    return (
        out.withColumn(region_col, region)
        .withColumn(country_col, country)
        .drop("__right_token", "__state_key", "__state_name")
    )
