"""Arrow Flight sink for Neo4j GDS.

≙ reference ``WriteNodes``/``WriteEdges`` DoFns (``neo4j_beam/_dofn.py:
96-141``) + the client lifecycle (``pipeline.py:56,68-87``). No stock
Spark sink speaks the GDS Flight protocol, so this is the one genuinely
custom executor-side operator the reference surface requires (SURVEY §4):

- the driver sends the three GDS lifecycle actions (CREATE_GRAPH,
  NODE_LOAD_DONE, RELATIONSHIP_LOAD_DONE) as ``do_action`` RPCs;
- each element streams through the Arrow write path
  (:func:`~.base.write_arrow_partitions`): every partition opens its own
  Flight client on the executor (closures must not capture live
  connections — the same discipline as the reference's ``client.copy()``
  / ``__getstate__`` dance, ``_dofn.py:58,101,125``,
  ``neo4j_bigquery/_client.py:35-39``) and PUTs each coalesced table of
  ≥``chunk_rows`` rows (≙ ``ReadBQStream.chunk_size=50_000``,
  ``_dofn.py:171-202``) to descriptor path ``{kind}/{element.source}``.

By default the sink connects to ``grpc[+tls]://host:port``. Tests and
benchmarks may inject ``make_put_factory`` and ``action_fn`` instead.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager, nullcontext
from functools import partial
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame

from .base import (
    DEFAULT_CHUNK_ROWS,
    KEYS,
    PhasedGraphSink,
    write_arrow_partitions,
)

#: GDS Arrow server action types (public GDS Arrow protocol; the reference
#: drives them through ``Neo4jArrowClient.start`` / ``Signal`` at
#: ``pipeline.py:56,72,86``).
ACTION_CREATE_GRAPH = "v1/CREATE_GRAPH"
ACTION_NODES_DONE = "v1/NODE_LOAD_DONE"
ACTION_EDGES_DONE = "v1/RELATIONSHIP_LOAD_DONE"


@contextmanager
def flight_put(location: str, path: str) -> Iterator[Callable[[pa.Table], None]]:
    """Open one Flight connection and yield ``put(table)``, which sends
    the table to descriptor ``path`` as one ``do_put`` stream."""
    import pyarrow.flight as flight

    client = flight.connect(location)
    desc = flight.FlightDescriptor.for_path(path)

    def put(table: pa.Table) -> None:
        writer, _ = client.do_put(desc, table.schema)
        writer.write_table(table)
        writer.close()

    try:
        yield put
    finally:
        client.close()


class FlightGraphSink(PhasedGraphSink):
    """GraphSink streaming node/edge DataFrames over Arrow Flight.

    ``make_put_factory(kind, element)`` may replace the default PUT: it
    runs on the driver and returns a zero-arg opener, which runs on the
    executor and returns ``put(table)``.

    ``action_fn(action_type, body)`` may replace the default
    :func:`flight_action_fn` sender. Every action sent is also recorded,
    in order, in ``action_log``.
    """

    def __init__(
        self,
        host: str = "localhost",
        port: int = 8491,  # reference default, ``pipeline.py:209-213``
        tls: bool = True,
        database: str = "neo4j",
        chunk_rows: int = DEFAULT_CHUNK_ROWS,
        make_put_factory: Callable[..., Callable[[], Callable[[pa.Table], None]]]
        | None = None,
        action_fn: Callable[[str, dict], Any] | None = None,
    ):
        super().__init__()
        self.location = f"grpc{'+tls' if tls else ''}://{host}:{port}"
        self.database = database
        self.chunk_rows = chunk_rows
        self._make_put_factory = make_put_factory
        self._action_fn = action_fn or flight_action_fn(self.location)
        #: ordered driver-side record of lifecycle actions sent
        self.action_log: list[tuple[str, dict]] = []

    def _action(self, action_type: str, body: dict) -> None:
        self.action_log.append((action_type, body))
        self._action_fn(action_type, body)

    def _on_start(self) -> None:
        # ≙ client.start() → GDS CREATE_GRAPH action (pipeline.py:56).
        self._action(
            ACTION_CREATE_GRAPH,
            {"name": self.graph.name, "database_name": self.database},
        )

    def _on_nodes_done(self) -> None:
        # ≙ Signal("nodes_done") → server-side edge-import start
        # (pipeline.py:68-73).
        self._action(ACTION_NODES_DONE, {"name": self.graph.name})

    def _on_edges_done(self) -> None:
        # ≙ Signal("edges_done") (pipeline.py:86).
        self._action(ACTION_EDGES_DONE, {"name": self.graph.name})

    def _write(self, df: DataFrame, kind: str, element: Any, sub: str):
        if self._make_put_factory is None:
            path = f"{kind}/{element.source}"
            open_writer = partial(flight_put, self.location, path)
        else:
            open_put = self._make_put_factory(kind, element)
            open_writer = lambda: nullcontext(open_put())  # noqa: E731
        return write_arrow_partitions(df, KEYS[kind], self.chunk_rows, open_writer)


def flight_action_fn(
    location: str, *, timeout: float | None = 10.0
) -> Callable[[str, dict], list[bytes]]:
    """Driver-side GDS action sender over a real Flight connection.

    Each call opens a short-lived connection (lifecycle actions are rare —
    three per load), sends ``do_action(Action(type, json_body))`` and
    returns the raw response bodies.
    """
    import json

    import pyarrow.flight as flight

    def send(action_type: str, body: dict) -> list[bytes]:
        client = flight.connect(location)
        try:
            action = flight.Action(
                action_type, json.dumps(body).encode("utf-8")
            )
            opts = flight.FlightCallOptions(timeout=timeout)
            return [r.body.to_pybytes() for r in client.do_action(action, opts)]
        finally:
            client.close()

    return send
