from fifa_data_pipeline_spark.sources.io import (
    TABLES,
    read_csv_typed,
    read_table,
    register_views,
    write_clustered,
    write_table,
)

__all__ = [
    "TABLES",
    "read_csv_typed",
    "read_table",
    "register_views",
    "write_clustered",
    "write_table",
]
