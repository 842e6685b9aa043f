"""Counting stand-in for the GDS Arrow Flight server.

It accepts ``do_put`` streams and the GDS lifecycle ``do_action`` RPCs on
127.0.0.1, and keeps per-load counters: rows and bytes per descriptor, the
ordered event log (for the phase-barrier check), the number of PUTs and
the time spent inside ``do_put``.  It stores no data.
"""

from __future__ import annotations

import json
import threading
import time

import pyarrow as pa
import pyarrow.flight as flight


class CountingFlightServer(flight.FlightServerBase):
    def __init__(self):
        super().__init__("grpc://127.0.0.1:0")  # OS-assigned port
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self.serve, daemon=True)
        self._thread.start()
        self.reset()

    @property
    def location(self) -> str:
        return f"grpc://127.0.0.1:{self.port}"

    def reset(self) -> None:
        with self._lock:
            self.rows: dict[str, int] = {}
            self.events: list[tuple[str, str]] = []  # ("put"|"action", detail)
            self.puts = 0
            self.bytes_received = 0
            self.busy_s = 0.0

    def do_put(self, context, descriptor, reader, writer):
        t0 = time.perf_counter()
        key = "/".join(p.decode() for p in descriptor.path)
        n = nbytes = 0
        for chunk in reader:
            n += chunk.data.num_rows
            nbytes += chunk.data.nbytes
        with self._lock:
            self.rows[key] = self.rows.get(key, 0) + n
            self.events.append(("put", key))
            self.puts += 1
            self.bytes_received += nbytes
            self.busy_s += time.perf_counter() - t0

    def do_action(self, context, action):
        body = json.loads(action.body.to_pybytes() or b"{}")
        with self._lock:
            self.events.append(("action", action.type))
        return [json.dumps({"ok": True, "name": body.get("name")}).encode()]

    def stop(self) -> None:
        self.shutdown()
        self._thread.join()


def make_put_factory(location: str):
    """``FlightGraphSink`` put factory: the outer call runs on the driver,
    the returned opener runs on the executor and connects there."""

    def factory(kind, element):
        path = f"{kind}/{element.source}"

        def open_conn():
            client = flight.connect(location)
            desc = flight.FlightDescriptor.for_path(path)

            def put(table: pa.Table):
                writer, _ = client.do_put(desc, table.schema)
                writer.write_table(table)
                writer.close()

            return put

        return open_conn

    return factory
