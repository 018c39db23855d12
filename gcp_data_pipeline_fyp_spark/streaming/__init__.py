"""Structured Streaming surface.

The reference has no true streaming — its "delta" path is incremental
batch on a daily calendar trigger (`cloud_function.py:20-31`,
SURVEY.md §2.5). This package is the Spark-native generalization: the
same stages driven by a file-source stream with
`Trigger.AvailableNow`, watermarked dedup/windowing for late data, and
`foreachBatch` feeding the existing merge-upsert.
"""

from gcp_data_pipeline_fyp_spark.streaming.ingest import (  # noqa: F401
    windowed_event_counts,
)
