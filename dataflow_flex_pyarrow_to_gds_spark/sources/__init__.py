from .parquet import read_parquet_tagged
from .bigquery import BigQuerySource, ParquetBackedBigQuerySource

__all__ = [
    "read_parquet_tagged",
    "BigQuerySource",
    "ParquetBackedBigQuerySource",
]
