from electricity_forecast_pipeline_airflow_k8s_spark.plans.inspect import (  # noqa: F401
    explain_str,
    has_broadcast_join,
    plan_shape,
    pushed_filters,
    read_schema_columns,
)
from electricity_forecast_pipeline_airflow_k8s_spark.plans.skew import salt_keys, unsalt  # noqa: F401
