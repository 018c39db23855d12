"""Multimodal (binary) column support."""

from gcp_data_pipeline_fyp_spark.multimodal.binary_ops import (  # noqa: F401
    byte_features,
    with_media_column,
)
