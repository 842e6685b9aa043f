"""Parquet sources with origin tagging.

The reference reads GCS Parquet globs as Arrow batches keyed by filename
(``beam.io.ReadAllFromParquetBatched(with_filename=True)``, reference
``pipeline.py:61-62``) and then copies that key into the Arrow schema
metadata (``neo4j_beam/_dofn.py:80-93``) because downstream sinks need to
know each batch's origin.

Spark-first translation: DataFrames carry no per-batch metadata, so the
origin is a regular column populated by ``F.input_file_name()`` — simpler,
and Catalyst still prunes/pushes down around it. Scans split per file /
row-group automatically (no Reshuffle needed, reference ``pipeline.py:148``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Default name of the origin column (the reference's schema-metadata key,
#: ``pipeline.py:65,150``).
SOURCE_COL = "src"


def read_parquet_tagged(
    spark: SparkSession, pattern: str | list[str], source_col: str = SOURCE_COL
) -> DataFrame:
    """Read a Parquet glob (or list of paths), tagging each row's origin file.

    ≙ reference S2 scan + ``CopyKeyToMetadata`` (``_dofn.py:80-93``) in one
    declarative step. ``input_file_name()`` is evaluated inside the scan —
    no extra pass over the data.
    """
    paths = pattern if isinstance(pattern, list) else [pattern]
    return spark.read.parquet(*paths).withColumn(source_col, F.input_file_name())

