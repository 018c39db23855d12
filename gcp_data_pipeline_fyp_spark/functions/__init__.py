"""Column-expression builders (the engine's scalar-function surface).

Everything the reference computes per-row in Beam DoFns
(SURVEY.md §2.2 P2-P19) is re-expressed here as pure Catalyst column
expressions so the whole scalar surface stays inside whole-stage
codegen — zero Python row UDFs.
"""

from gcp_data_pipeline_fyp_spark.functions.cleaning import (  # noqa: F401
    audit_columns,
    null_coerce,
    safe_double,
    safe_long,
)
from gcp_data_pipeline_fyp_spark.functions.banding import (  # noqa: F401
    depth_band,
    depth_band_description,
    mag_band,
    mag_band_description,
    null_fallback_adjust,
)
from gcp_data_pipeline_fyp_spark.functions.ids import stable_event_id  # noqa: F401
from gcp_data_pipeline_fyp_spark.functions.timeops import (  # noqa: F401
    date_dim_columns,
    utc_to_local_string,
)
