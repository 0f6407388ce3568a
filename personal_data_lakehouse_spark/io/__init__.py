"""Sources & sinks (SURVEY.md §2.1)."""

from personal_data_lakehouse_spark.io.readers import local_frame, read_csv, read_json, read_parquet
from personal_data_lakehouse_spark.io.sanitize import sanitize_column_name, sanitize_columns

__all__ = [
    "local_frame",
    "read_csv",
    "read_json",
    "read_parquet",
    "sanitize_column_name",
    "sanitize_columns",
]
