from electricity_forecast_pipeline_airflow_k8s_spark.sources.tables import (  # noqa: F401
    TABLES,
    load_table,
)
from electricity_forecast_pipeline_airflow_k8s_spark.sources.normalize import (  # noqa: F401
    READINGS_SCHEMA,
    normalize_readings,
)
