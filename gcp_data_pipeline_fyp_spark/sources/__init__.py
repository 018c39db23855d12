"""Sources & sinks (reference S1-S12) against local or object-store paths."""

from gcp_data_pipeline_fyp_spark.sources.files import (  # noqa: F401
    archive_file,
    read_raw_csv,
    write_rejected,
)
from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse  # noqa: F401
