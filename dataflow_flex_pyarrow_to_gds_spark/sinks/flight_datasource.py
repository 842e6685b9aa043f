"""``df.write.format("gds_flight")`` / ``spark.read.format("gds_flight")``
— Arrow Flight as a PySpark 4 Python DataSource (V2 writer + reader).

Same wire behavior as :class:`~.flight_sink.FlightGraphSink` (coalesced
Arrow batches → ``do_put`` per partition, per-partition connections), but
exposed through the idiomatic writer API so any Spark job can target a
GDS Flight endpoint without importing this package's pipeline classes:

    spark.dataSource.register(GDSFlightDataSource)
    (df.write.format("gds_flight")
       .option("location", "grpc://host:8491")
       .option("path", "node/customer")     # Flight descriptor path
       .option("chunk_rows", "50000")
       .mode("append").save())

Scale notes: the writer is an ``DataSourceArrowWriter`` — Spark hands each
partition to ``write`` as Arrow record batches with zero row-level Python
cost; batches are coalesced to ≥chunk_rows before each PUT (GDS ingest
throughput depends on batch size). Connections are created inside
``write`` on the executor: the writer instance is pickled to executors and
must never capture a live client (reference ``_dofn.py:58`` discipline).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

from .base import DEFAULT_CHUNK_ROWS, write_tables
from .flight_sink import flight_put


@dataclass
class FlightCommit(WriterCommitMessage):
    rows: int
    nbytes: int
    puts: int


class GDSFlightWriter(DataSourceArrowWriter):
    def __init__(self, options: dict):
        self.location = options.get("location", "grpc://localhost:8491")
        self.path = options.get("path", "data")
        self.chunk_rows = int(options.get("chunk_rows", DEFAULT_CHUNK_ROWS))

    def write(self, iterator: Iterator[pa.RecordBatch]) -> FlightCommit:
        with flight_put(self.location, self.path) as put:
            t = write_tables(iterator, self.chunk_rows, put)
        return FlightCommit(rows=t["count"], nbytes=t["nbytes"], puts=t["writes"])


@dataclass
class FlightTicketPartition(InputPartition):
    """One Spark input partition per Flight endpoint ticket — the server's
    own sharding becomes Spark's read parallelism."""

    index: int
    ticket: bytes
    location: str


class GDSFlightReader(DataSourceReader):
    def __init__(self, options: dict):
        self.location = options.get("location", "grpc://localhost:8491")
        self.path = options.get("path", "data")

    def partitions(self) -> list[FlightTicketPartition]:
        import pyarrow.flight as flight

        client = flight.connect(self.location)
        try:
            info = client.get_flight_info(
                flight.FlightDescriptor.for_path(self.path)
            )
            parts = []
            for i, ep in enumerate(info.endpoints):
                loc = ep.locations[0].uri if ep.locations else self.location
                if isinstance(loc, bytes):
                    loc = loc.decode()
                parts.append(
                    FlightTicketPartition(i, ep.ticket.ticket, loc)
                )
            return parts
        finally:
            client.close()

    def read(self, partition: FlightTicketPartition) -> Iterator[pa.RecordBatch]:
        import pyarrow.flight as flight

        client = flight.connect(partition.location)
        try:
            reader = client.do_get(flight.Ticket(partition.ticket))
            for chunk in reader:
                yield chunk.data  # Arrow record batches, zero row-level Python
        finally:
            client.close()


class GDSFlightDataSource(DataSource):
    """Register with ``spark.dataSource.register(GDSFlightDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "gds_flight"

    def schema(self):
        # Driver-side: the Flight server owns the schema (get_flight_info)
        import pyarrow.flight as flight
        from pyspark.sql.pandas.types import from_arrow_schema

        client = flight.connect(
            self.options.get("location", "grpc://localhost:8491")
        )
        try:
            info = client.get_flight_info(
                flight.FlightDescriptor.for_path(self.options.get("path", "data"))
            )
            return from_arrow_schema(info.schema)
        finally:
            client.close()

    def reader(self, schema) -> GDSFlightReader:
        return GDSFlightReader(self.options)

    def writer(self, schema, overwrite: bool) -> GDSFlightWriter:
        if overwrite:
            raise ValueError(
                "gds_flight supports append only (GDS import streams are "
                "not truncatable); use mode('append')"
            )
        return GDSFlightWriter(self.options)

