"""BigQuery source abstraction (+ a Parquet-backed fake for offline tests).

The reference enumerates BigQuery Storage API read streams on the driver
with server-side column projection (``neo4j_bigquery/_client.py:46-63``),
then reads each stream's Arrow pages on workers, coalescing tiny record
batches to ≥50k-row tables (``neo4j_beam/_dofn.py:171-202``).

Spark-first translation: the public ``spark-bigquery-connector`` shards a
table via the same Storage Read API and honors column pruning from
Catalyst, so the whole S3-S6 operator family collapses to
``spark.read.format("bigquery")`` + ``.select(fields)``. The connector jar
is not in this environment, so the real source is gated behind a runtime
check and tests run against :class:`ParquetBackedBigQuerySource`, which
reproduces the *semantics* (table name → projected DataFrame tagged with
its origin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .footer import FooterSchemas
from .parquet import SOURCE_COL


class BigQuerySource:
    """Table-name → DataFrame source via the spark-bigquery-connector.

    ≙ reference ``BigQuerySource.table`` + ``consume_stream``
    (``_client.py:46-73``): stream sharding, Arrow transport, and batch
    coalescing are all internal to the connector. Column projection is
    expressed as ``.select`` and pushed into the read session by Catalyst —
    the reference computes `selected_fields` by hand (``pipeline.py:106-127``).
    """

    def __init__(self, spark: SparkSession, dataset: str, source_col: str = SOURCE_COL):
        self.spark = spark
        self.dataset = dataset
        self.source_col = source_col

    def table(self, name: str, fields: list[str] | None = None) -> DataFrame:
        reader = self.spark.read.format("bigquery").option(
            "table", f"{self.dataset}.{name}"
        )
        try:
            df = reader.load()
        except Exception as exc:  # connector jar absent in this environment
            raise RuntimeError(
                "spark-bigquery-connector not on the classpath; use "
                "ParquetBackedBigQuerySource for offline runs"
            ) from exc
        if fields:
            df = df.select(*fields)
        return df.withColumn(self.source_col, F.lit(name))


class ParquetBackedBigQuerySource:
    """Offline stand-in: maps table names to Parquet paths.

    Keeps the same contract (projection + origin tagging) so the graph-load
    plan is source-agnostic; used by tests and the local CLI. Like a
    BigQuery read session, it learns the table's schema without a compute
    job: from the Parquet footer, where that settles it.
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, str],
        source_col: str = SOURCE_COL,
    ):
        self.spark = spark
        self.tables = dict(tables)
        self.source_col = source_col

    def table(self, name: str, fields: list[str] | None = None) -> DataFrame:
        path = self.tables[name]
        if fields:
            reader = FooterSchemas(self.spark).apply(self.spark.read, [path], fields)
            df = reader.parquet(path).select(*fields)
        else:
            df = self.spark.read.parquet(path)
        return df.withColumn(self.source_col, F.lit(name))

    def table_names(self) -> list[str]:
        return sorted(self.tables)
