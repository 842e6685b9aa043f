"""Parquet source schemas from file footers, read on the driver.

The reference never runs a compute job to learn a schema: the BigQuery
read session hands back the Arrow schema along with the streams
(``neo4j_bigquery/_client.py:51-54``). Spark, given no schema, infers a
Parquet source's with a job of its own, one per read. A local Parquet
file carries its schema in its footer, so the driver can read it there
and pass it through ``DataFrameReader.schema``; the scan then starts no
job until it is written.

The footer schema is used only where it is certain to equal Spark's own
inference; everywhere else :meth:`FooterSchemas.schema` returns ``None``
and :meth:`FooterSchemas.apply` leaves inference to Spark.
"""

from __future__ import annotations

import os
import re
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrameReader, SparkSession
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import StructField, StructType

#: Hadoop glob metacharacters: a path holding one may name many files.
_GLOB = re.compile(r"[*?\[\]{}\\]")


def _plain(t: pa.DataType, binary_as_string: bool) -> bool:
    """Whether Spark infers the Parquet column that pyarrow reads as ``t``
    as ``from_arrow_type(t)``, whatever the session conf. Timestamps are
    not (NTZ inference depends on a conf), nor unsigned, nested or
    dictionary types; binary is not under
    ``spark.sql.parquet.binaryAsString``."""
    return (
        pa.types.is_signed_integer(t)
        or pa.types.is_float32(t)
        or pa.types.is_float64(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or (pa.types.is_binary(t) and not binary_as_string)
        or pa.types.is_date32(t)
        or pa.types.is_decimal128(t)
    )


def _read_footer(path: str) -> pa.Schema | None:
    if _GLOB.search(path) or not os.path.isfile(path):
        return None  # a glob, a directory, a URI or a missing path
    try:
        return pq.read_schema(path)
    except (OSError, pa.ArrowException):
        return None


class FooterSchemas:
    """The footer schemas of one load; each path's footer is read at most
    once, whichever thread asks first.

    Only local regular files qualify, and only when schemeless paths
    resolve to the local filesystem (``fs.defaultFS`` is ``file:``).
    """

    def __init__(self, spark: SparkSession):
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        self._local = conf.get("fs.defaultFS", "file:///").startswith("file:")
        self._binary_as_string = (
            spark.conf.get("spark.sql.parquet.binaryAsString", "false").lower()
            == "true"
        )
        self._lock = threading.Lock()
        self._footers: dict[str, pa.Schema | None] = {}

    def _footer(self, path: str) -> pa.Schema | None:
        with self._lock:
            if path not in self._footers:
                self._footers[path] = _read_footer(path) if self._local else None
            return self._footers[path]

    def schema(self, paths: list[str], fields: list[str]) -> StructType | None:
        """The Spark schema of the Parquet files ``paths``, restricted to
        ``fields``, or ``None`` unless it certainly equals Spark's
        inference: every path is a local file and every footer gives the
        same schema for the fields."""
        structs = [self._struct(self._footer(p), fields) for p in paths]
        if not structs or any(s is None or s != structs[0] for s in structs):
            return None
        return structs[0]

    def apply(
        self, reader: DataFrameReader, paths: list[str], fields: list[str]
    ) -> DataFrameReader:
        """``reader`` with the footer :meth:`schema` of ``paths``, if it
        settles one; else ``reader`` unchanged, left to infer."""
        schema = self.schema(paths, fields)
        return reader if schema is None else reader.schema(schema)

    def _struct(self, footer: pa.Schema | None, fields: list[str]) -> StructType | None:
        """``footer`` restricted to ``fields``, provided each field appears
        in it exactly once, under its exact name, with a :func:`_plain`
        type. A footer holding names that differ only in case does not
        qualify: Spark rejects those itself."""
        if footer is None:
            return None
        names = footer.names
        if len({n.lower() for n in names}) != len(names):
            return None
        wanted = list(dict.fromkeys(fields))
        if not set(wanted) <= set(names):
            return None
        types = [footer.field(f).type for f in wanted]
        if not all(_plain(t, self._binary_as_string) for t in types):
            return None
        return StructType(
            [StructField(f, from_arrow_type(t), True) for f, t in zip(wanted, types)]
        )
