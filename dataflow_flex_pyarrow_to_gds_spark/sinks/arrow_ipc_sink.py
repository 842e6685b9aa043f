"""Arrow IPC (Feather v2) graph export — columnar end-to-end like the
reference.

The reference never leaves Arrow format (Parquet → RecordBatch → Flight);
this sink preserves that property for offline exports: each partition
writes its batches straight to an ``.arrows`` IPC stream file through the
shared Arrow write path (:func:`~.base.write_arrow_partitions`) — no row
conversion, no driver collect, telemetry as a side-output.

Files land under ``{out_dir}/{nodes|edges}/element_XXX/part-*.arrows``;
consumers memory-map them (``pyarrow.ipc.open_stream``) or hand them to
anything Arrow-native. Paths must be on a filesystem all executors share
(local dir here; NFS/object-store mount on a cluster).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Iterator
from contextlib import ExitStack, contextmanager
from functools import partial
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame

from .base import (
    DEFAULT_CHUNK_ROWS,
    KEYS,
    PhasedGraphSink,
    write_arrow_partitions,
    write_model,
)


@contextmanager
def _ipc_stream(out_dir: str) -> Iterator[Callable[[pa.Table], None]]:
    """Yield ``write(table)`` appending to one new ``.arrows`` file; the
    file is created on the first table, whose schema the stream takes."""
    path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.arrows")
    with ExitStack() as stack:
        writer = None

        def write(table: pa.Table) -> None:
            nonlocal writer
            if writer is None:
                sink = stack.enter_context(pa.OSFile(path, "wb"))
                writer = stack.enter_context(pa.ipc.new_stream(sink, table.schema))
            writer.write_table(table)

        yield write


class ArrowIPCGraphSink(PhasedGraphSink):
    """GraphSink writing Arrow IPC stream files per element."""

    def __init__(self, out_dir: str, chunk_rows: int = DEFAULT_CHUNK_ROWS):
        super().__init__()
        self.out_dir = out_dir
        self.chunk_rows = chunk_rows

    def _on_start(self) -> None:
        write_model(self.out_dir, self.graph)

    def _write(self, df: DataFrame, kind: str, element: Any, sub: str):
        path = os.path.join(self.out_dir, sub)
        os.makedirs(path, exist_ok=True)
        return write_arrow_partitions(
            df, KEYS[kind], self.chunk_rows, partial(_ipc_stream, path)
        )
