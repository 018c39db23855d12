"""PySpark-native ELT + star-schema analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
HsenZ/GCP-Data-Pipeline-FYP (an Apache Beam/Dataflow earthquake ELT
pipeline on GCP: raw CSV -> staging -> ODS -> star-schema DW -> DAX
measures), re-expressed Spark-first:

- every Beam ParDo/Map becomes a native Catalyst column expression
  (zero row-at-a-time Python UDFs in the batch surface);
- every Beam side-input lookup becomes a broadcast hash join;
- the BigQuery MERGE becomes a pure-Spark upsert behind a single
  interface: an append when no update key is stored yet, otherwise a
  full-outer rewrite (of the touched partitions only, on a partitioned
  table);
- Beam Distinct+ToList surrogate-key assignment becomes one key query
  whose (tiny) distinct dimension values are numbered on the driver;
- the delta/full dual-cadence becomes incremental batch plus an
  optional Structured Streaming `Trigger.AvailableNow` ingest.

Beyond the reference surface, the package adds the operators a
large-scale training-data pipeline needs (dedup families, similarity
search, text analysis, multimodal column plumbing) — all designed for
a 1000-executor / 100 TB deployment even though tests run local.
"""

__version__ = "0.1.0"

from gcp_data_pipeline_fyp_spark.session import get_spark  # noqa: F401
