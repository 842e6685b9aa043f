"""Sink protocol, the phase-ordered load core, and the Flight sink's
Arrow write path.

Mirrors the reference's sink lifecycle and result model:

- lifecycle ``start → write nodes → nodes_done → write edges → edges_done``
  (reference ``pipeline.py:56-95``). As in the reference, the element
  writes of a phase run concurrently and only the phase barrier orders
  them: Beam's is ``Signal`` (``neo4j_beam/_dofn.py:50-77``), ours is
  ``nodes_done``/``edges_done``, which join every write of the phase;
- per-write ``(count, nbytes, kind)`` telemetry summed globally
  (``Neo4jResult`` + ``sum_results``, ``neo4j_beam/_dofn.py:21,34-47``).

:class:`PhasedGraphSink` owns everything the sinks share: the phase
checks, the ``{nodes,edges}/element_NNN`` naming, the write executor and
the numeric-key check (reference ``README.md:169-170``). A concrete sink
supplies only its lifecycle hooks and one ``_write``. There are two:
:class:`~.parquet_sink.ParquetGraphSink`, the offline export, and
:class:`~.flight_sink.FlightGraphSink`, which streams through
:func:`write_arrow_partitions`.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import AbstractContextManager, contextmanager
from typing import Any, Protocol

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.util import inheritable_thread_target

from ..model import Edge, Graph, Node
from ..operators.graph import NODE_ID, SOURCE_ID, TARGET_ID

#: GDS ingest wants chunky batches (reference ``_dofn.py:172``).
DEFAULT_CHUNK_ROWS = 50_000

#: key columns per element kind; ``project_nodes``/``project_edges``
#: ``try_cast`` them to long, so a non-numeric key arrives as a null.
KEYS = {"node": (NODE_ID,), "edge": (SOURCE_ID, TARGET_ID)}

#: one telemetry row per partition of the Arrow write path: rows, Arrow
#: bytes, and the null count of each key column.
RESULT_COLUMNS = ("count", "nbytes", NODE_ID, SOURCE_ID, TARGET_ID)
RESULT_SCHEMA = ", ".join(f"{c} long" for c in RESULT_COLUMNS)


class WriteResult:
    """≙ reference ``Neo4jResult`` (``neo4j_beam/_dofn.py:21``).

    A sink returns one per element write as soon as the write is
    submitted: ``count`` and ``nbytes`` block until the write is done and
    raise its error, if any. ``done()`` tells without blocking.
    """

    def __init__(
        self,
        count: int = 0,
        nbytes: int = 0,
        kind: str = "",
        *,
        totals: Future | None = None,
    ):
        """``totals``, when given, is the future of a submitted write that
        yields its ``(count, nbytes)``."""
        self.kind = kind  # "node" | "edge" | "final"
        if totals is None:
            totals = Future()
            totals.set_result((count, nbytes))
        self._totals = totals

    @property
    def count(self) -> int:
        return self._totals.result()[0]

    @property
    def nbytes(self) -> int:
        return self._totals.result()[1]

    def done(self) -> bool:
        return self._totals.done()

    def _key(self) -> tuple[int, int, str]:
        return self.count, self.nbytes, self.kind

    def __eq__(self, other: object) -> bool:
        return isinstance(other, WriteResult) and self._key() == other._key()

    def __repr__(self) -> str:
        return (
            f"WriteResult(count={self.count}, nbytes={self.nbytes}, "
            f"kind={self.kind!r})"
        )


def sum_results(results: list[WriteResult], kind: str | None = None) -> WriteResult:
    """Fold write results: sum counts/bytes, keep first kind unless
    overridden (≙ ``sum_results`` + the ``kind="final"`` relabel,
    reference ``neo4j_beam/_dofn.py:34-47``, ``pipeline.py:92-93``)."""
    counts = sum(r.count for r in results)
    nbytes = sum(r.nbytes for r in results)
    k = kind or (results[0].kind if results else "")
    return WriteResult(counts, nbytes, k)


class GraphSink(Protocol):
    """Pluggable sink: Parquet graph export (offline) or Arrow Flight.

    ``write_nodes``/``write_edges`` may return before their write is done;
    ``nodes_done``/``edges_done`` return only once every write of their
    phase is, and raise if one failed.
    """

    def start(self, graph: Graph) -> None:
        """≙ ``client.start()`` — create the server-side import
        (reference ``pipeline.py:56,143``)."""
        ...

    def write_nodes(self, df: DataFrame, node: Node) -> WriteResult: ...

    def nodes_done(self) -> None: ...

    def write_edges(self, df: DataFrame, edge: Edge) -> WriteResult: ...

    def edges_done(self) -> None: ...


class PhasedGraphSink:
    """The GDS load protocol, enforced once for every sink.

    ``start``, ``nodes_done`` and ``edges_done`` move the phase
    ``init → nodes → edges → done`` and raise ``RuntimeError`` when called
    out of order. ``write_nodes``/``write_edges`` claim the next
    ``{nodes,edges}/element_NNN`` name under the lock, in call order, hand
    the write and its key check to the sink's executor (created on the
    first write; its threads keep the caller's Spark local properties,
    such as the job group) and return a pending :class:`WriteResult`.

    ``nodes_done``/``edges_done`` are the join point: each waits for every
    write of its phase, raises the first failure in claim order, and only
    then runs its hook. A write whose key columns hold nulls fails with
    ``ValueError``. A failed write or a hook that raises leaves the phase
    where it was, and calling the barrier again raises the same failure.
    Every barrier, failed or not, shuts the executor down.

    Subclasses implement ``_write(df, kind, element, sub)``, returning
    ``(count, nbytes, nulls)`` with ``nulls`` mapping each of
    ``KEYS[kind]`` to its null count, and may override the ``_on_start``,
    ``_on_nodes_done`` and ``_on_edges_done`` hooks (``self.graph`` is set
    before ``_on_start`` runs).
    """

    def __init__(self) -> None:
        self._phase = "init"
        self._element_idx = 0
        self._lock = threading.Lock()
        self._pool: ThreadPoolExecutor | None = None
        self._pending: list[Future] = []  # the phase's writes, in claim order

    def _require(self, call: str, phase: str) -> None:
        if self._phase != phase:
            raise RuntimeError(f"{call}() in phase {self._phase}")

    @contextmanager
    def _step(self, call: str, phase: str, then: str) -> Iterator[None]:
        with self._lock:
            self._require(call, phase)
            try:
                wait(self._pending)
                for write in self._pending:
                    write.result()
                yield
            finally:
                self._close_pool()
            self._phase, self._element_idx, self._pending = then, 0, []

    def _close_pool(self) -> None:
        """Stop the write threads once a barrier has joined every write;
        the next write starts a new pool."""
        if self._pool is not None:
            self._pool.shutdown()
            self._pool = None

    def start(self, graph: Graph) -> None:
        with self._step("start", "init", "nodes"):
            self.graph = graph
            self._on_start()

    def nodes_done(self) -> None:
        with self._step("nodes_done", "nodes", "edges"):
            self._on_nodes_done()

    def edges_done(self) -> None:
        with self._step("edges_done", "edges", "done"):
            self._on_edges_done()

    def _on_start(self) -> None:
        pass

    def _on_nodes_done(self) -> None:
        pass

    def _on_edges_done(self) -> None:
        pass

    def write_nodes(self, df: DataFrame, node: Node) -> WriteResult:
        return self._write_element(df, "node", node)

    def write_edges(self, df: DataFrame, edge: Edge) -> WriteResult:
        return self._write_element(df, "edge", edge)

    def _write_element(self, df: DataFrame, kind: str, element: Any) -> WriteResult:
        with self._lock:
            self._require(f"write_{kind}s", f"{kind}s")
            sub = f"{kind}s/element_{self._element_idx:03d}"
            self._element_idx += 1
            if self._pool is None:
                self._pool = ThreadPoolExecutor(thread_name_prefix="graph-sink")
            write = inheritable_thread_target(df.sparkSession)(self._write_checked)
            totals = self._pool.submit(write, df, kind, element, sub)
            self._pending.append(totals)
        return WriteResult(kind=kind, totals=totals)

    def _write_checked(
        self, df: DataFrame, kind: str, element: Any, sub: str
    ) -> tuple[int, int]:
        count, nbytes, nulls = self._write(df, kind, element, sub)
        for key in KEYS[kind]:
            if nulls[key]:
                raise ValueError(
                    f"{nulls[key]} non-numeric/null {key} values in {sub} "
                    "(GDS graph keys must be numeric)"
                )
        return int(count), int(nbytes)

    def _write(
        self, df: DataFrame, kind: str, element: Any, sub: str
    ) -> tuple[int, int, dict[str, int]]:
        raise NotImplementedError


def coalesce_batches(
    batches: Iterator[pa.RecordBatch], chunk_rows: int = DEFAULT_CHUNK_ROWS
) -> Iterator[pa.Table]:
    """Buffer small record batches into ≥chunk_rows tables.

    ≙ reference ``ReadBQStream.process`` buffering (``_dofn.py:184-202``),
    as a reusable generator: never holds more than one chunk in memory.
    """
    buf: list[pa.RecordBatch] = []
    buffered = 0
    for b in batches:
        buf.append(b)
        buffered += b.num_rows
        if buffered >= chunk_rows:
            yield pa.Table.from_batches(buf)
            buf, buffered = [], 0
    if buf:
        yield pa.Table.from_batches(buf)


def write_arrow_partitions(
    df: DataFrame,
    keys: tuple[str, ...],
    chunk_rows: int,
    open_writer: Callable[[], AbstractContextManager[Callable[[pa.Table], None]]],
) -> tuple[int, int, dict[str, int]]:
    """Write every partition of ``df`` as coalesced Arrow tables (the
    Flight sink's data path).

    ``open_writer`` runs on the executor, once per partition, and yields
    the ``write(table)`` callable; it must open its connection there,
    since closures must not capture live connections (reference
    ``_dofn.py:58``). Each partition returns one ``RESULT_SCHEMA`` row:
    its rows, Arrow bytes and the null count of each column in ``keys``,
    read from Arrow's ``null_count`` so the key check costs no extra
    pass. The rows are collected and summed on the driver
    (≙ ``CombineGlobally``), so the write and its telemetry take one Spark
    job. Returns ``(count, nbytes, nulls per key)``.
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tally = dict.fromkeys(RESULT_COLUMNS, 0)
        with open_writer() as write:
            for table in coalesce_batches(batches, chunk_rows):
                write(table)
                tally["count"] += table.num_rows
                tally["nbytes"] += table.nbytes
                for k in keys:
                    tally[k] += table.column(k).null_count
        yield pa.RecordBatch.from_pydict(
            {c: pa.array([n], pa.int64()) for c, n in tally.items()}
        )

    rows = df.mapInArrow(fn, RESULT_SCHEMA).collect()
    stats = {c: sum(r[c] for r in rows) for c in RESULT_COLUMNS}
    return stats["count"], stats["nbytes"], {k: stats[k] for k in keys}
