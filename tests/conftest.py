import json
import os
import sys
import threading

import pyarrow.flight as flight
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataflow_flex_pyarrow_to_gds_spark import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_CORRECT = os.environ.get("SPARK_GRAFT_CORRECT_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


class CollectingFlightServer(flight.FlightServerBase):
    """Accepts do_put streams and do_action RPCs, recording a global
    ordered event log (the GDS protocol sequence under test)."""

    def __init__(self):
        super().__init__("grpc://127.0.0.1:0")  # OS-assigned port
        self.lock = threading.Lock()
        self.rows: dict[str, int] = {}
        self.events: list[tuple[str, str]] = []  # (kind, detail)

    def do_put(self, context, descriptor, reader, writer):
        key = "/".join(p.decode() for p in descriptor.path)
        n = 0
        for chunk in reader:
            n += chunk.data.num_rows
        with self.lock:
            self.rows[key] = self.rows.get(key, 0) + n
            self.events.append(("put", key))

    def do_action(self, context, action):
        body = json.loads(action.body.to_pybytes() or b"{}")
        with self.lock:
            self.events.append(("action", action.type))
        return [json.dumps({"ok": True, "name": body.get("name")}).encode()]

    def protocol(self) -> list[str]:
        """The event log as the GDS protocol sees it: action types, with
        each run of consecutive PUTs collapsed to its kind ("node" or
        "edge", the first segment of the descriptor path)."""
        seq = [d if k == "action" else d.split("/")[0] for k, d in self.events]
        return [x for i, x in enumerate(seq) if i == 0 or seq[i - 1] != x]


@pytest.fixture
def flight_server():
    """A fresh in-process CollectingFlightServer on 127.0.0.1."""
    server = CollectingFlightServer()
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    yield server
    server.shutdown()
    t.join(timeout=10)
    assert not t.is_alive()
