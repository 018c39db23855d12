"""Relational + data-pipeline operators built on DataFrame primitives."""

from gcp_data_pipeline_fyp_spark.operators.keys import new_dimension_rows  # noqa: F401
from gcp_data_pipeline_fyp_spark.operators.merge import merge_upsert  # noqa: F401
from gcp_data_pipeline_fyp_spark.operators.quality import quality_split  # noqa: F401
