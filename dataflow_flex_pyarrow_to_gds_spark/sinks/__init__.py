from .base import GraphSink, WriteResult, sum_results
from .parquet_sink import ParquetGraphSink
from .flight_sink import FlightGraphSink

__all__ = [
    "GraphSink",
    "WriteResult",
    "sum_results",
    "ParquetGraphSink",
    "FlightGraphSink",
]
