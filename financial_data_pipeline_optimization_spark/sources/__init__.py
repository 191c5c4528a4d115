"""Sources and sinks: schema-checked readers and partition-aware writers."""

from financial_data_pipeline_optimization_spark.sources.bucketing import (
    bucketed_join,
    write_bucketed_table,
)
from financial_data_pipeline_optimization_spark.sources.layout import (
    write_zordered,
    zorder_value,
)
from financial_data_pipeline_optimization_spark.sources.readers import (
    load_table,
    load_tables,
    local_table,
    register_views,
    read_csv,
    read_jdbc,
    read_json,
    read_orc,
    read_parquet,
    read_parquet_if_exists,
)
from financial_data_pipeline_optimization_spark.sources.sinks import (
    write_csv,
    write_jdbc,
    write_json,
    write_orc,
    write_parquet,
)

__all__ = [
    "bucketed_join",
    "load_table",
    "load_tables",
    "local_table",
    "register_views",
    "read_csv",
    "read_jdbc",
    "read_json",
    "read_orc",
    "read_parquet",
    "read_parquet_if_exists",
    "write_bucketed_table",
    "write_csv",
    "write_jdbc",
    "write_json",
    "write_orc",
    "write_parquet",
    "write_zordered",
    "zorder_value",
]
