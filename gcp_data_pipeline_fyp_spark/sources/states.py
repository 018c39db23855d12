"""The 50-US-states lookup (reference table `ODS_ds.50-US-States`).

The reference reads this from a pre-loaded BigQuery table
(`Full Load Scripts/parse_country_ods_full_load2.py:92-96`); the data
itself is public knowledge, embedded here so the engine is
self-contained. `states_df` returns the same (State, Abbreviation)
shape (FIXTURES.md §2), as an inline VALUES table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gcp_data_pipeline_fyp_spark.functions.geo import string_table

US_STATES: list[tuple[str, str]] = [
    ("Alabama", "AL"), ("Alaska", "AK"), ("Arizona", "AZ"), ("Arkansas", "AR"),
    ("California", "CA"), ("Colorado", "CO"), ("Connecticut", "CT"),
    ("Delaware", "DE"), ("Florida", "FL"), ("Georgia", "GA"), ("Hawaii", "HI"),
    ("Idaho", "ID"), ("Illinois", "IL"), ("Indiana", "IN"), ("Iowa", "IA"),
    ("Kansas", "KS"), ("Kentucky", "KY"), ("Louisiana", "LA"), ("Maine", "ME"),
    ("Maryland", "MD"), ("Massachusetts", "MA"), ("Michigan", "MI"),
    ("Minnesota", "MN"), ("Mississippi", "MS"), ("Missouri", "MO"),
    ("Montana", "MT"), ("Nebraska", "NE"), ("Nevada", "NV"),
    ("New Hampshire", "NH"), ("New Jersey", "NJ"), ("New Mexico", "NM"),
    ("New York", "NY"), ("North Carolina", "NC"), ("North Dakota", "ND"),
    ("Ohio", "OH"), ("Oklahoma", "OK"), ("Oregon", "OR"),
    ("Pennsylvania", "PA"), ("Rhode Island", "RI"), ("South Carolina", "SC"),
    ("South Dakota", "SD"), ("Tennessee", "TN"), ("Texas", "TX"),
    ("Utah", "UT"), ("Vermont", "VT"), ("Virginia", "VA"),
    ("Washington", "WA"), ("West Virginia", "WV"), ("Wisconsin", "WI"),
    ("Wyoming", "WY"),
]


def states_df(spark: SparkSession) -> DataFrame:
    return string_table(spark, US_STATES, ["State", "Abbreviation"])
