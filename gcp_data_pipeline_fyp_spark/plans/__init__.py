"""Pipeline stages (the reference's five Dataflow jobs as DataFrame fns).

stg -> ods -> geo -> dw -> archive, full and delta branches
(`load_controller_DAG.py:187-188`), each stage a DataFrame->DataFrame
function sharing one SparkSession — the inter-stage state that the
reference bounces through BigQuery lives in a parquet `Warehouse`.
"""

from gcp_data_pipeline_fyp_spark.plans.staging import stage_staging  # noqa: F401
from gcp_data_pipeline_fyp_spark.plans.ods import stage_ods  # noqa: F401
from gcp_data_pipeline_fyp_spark.plans.geo_stage import stage_geo  # noqa: F401
from gcp_data_pipeline_fyp_spark.plans.dw import stage_dw_full  # noqa: F401
from gcp_data_pipeline_fyp_spark.plans.delta import stage_dw_delta  # noqa: F401
from gcp_data_pipeline_fyp_spark.plans.pipeline import run_pipeline  # noqa: F401
