"""Layered benchmark of the graph-load pipeline and the iterative graph rows.

Usage::

    python3 perfbench/run.py --workload load --seed 1 --seconds 15 --trace 0

Each run is one closed loop in one driver process on ``local[<cpus>]``:

1. pin the environment (CPUs, driver heap, local dirs, PYTHONPATH);
2. write the workload's tables from ``--seed`` under ``perfbench/_work``;
3. set up ``SETUPS`` times (Spark session, stand-in Flight server, one
   trivial job); the first set-up starts the JVM, the later ones restart
   the Spark context inside it; then run the warm-up ops once at the
   small scale;
4. run passes of the workload's op list, in a seed-permuted order, until
   ``--seconds`` have passed (at least ``min_passes``); every op's output
   is checked outside its timer and a failed op or check counts in
   ``failed``;
5. print one JSON line: end-to-end metrics with ``--trace 0``, per-layer
   metrics (from alternating traced passes) with ``--trace 1``.

See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import random
import re
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "_work")
PACKAGE = "dataflow_flex_pyarrow_to_gds_spark"

SETUPS = 5
MIN_TRACED_PASSES = 3  # first, one untraced and one traced steady pass
HARD_STOP_S = 120.0  # stop starting passes this long after process start

GRAPH_SCALE, GRAPH_WARM_SCALE = 0.001, 0.0002
SMOKE_SCALE = 0.001

GRAPH_OPS = ("graph_betweenness", "graph_k1coloring")
GRAPH_WARM_OP = "graph_pagerank"
#: source tables each catalog op reads (for ``rows_per_s``)
OP_TABLES = {
    "graph_betweenness": ("lineitem",),
    "graph_k1coloring": ("lineitem",),
    "graph_pagerank": ("orders",),
}

#: op name → sink of a graph-load op
LOAD_OPS = {"load_flight": "flight", "load_parquet": "parquet"}

WORKLOADS = {
    # min_passes: the first pass plus steady ones, even past --seconds.
    # A graph pass holds one sample of ~170 job latencies, so it takes
    # two steady passes to damp a slow shared host.
    "load": {
        "ops": tuple(LOAD_OPS), "warm_ops": tuple(LOAD_OPS),
        "scale": 0.1, "warm_scale": 0.001, "min_passes": 2,
    },
    "graph_iterate": {
        "ops": GRAPH_OPS, "warm_ops": (GRAPH_WARM_OP,),
        "scale": GRAPH_SCALE, "warm_scale": GRAPH_WARM_SCALE, "min_passes": 3,
    },
}

#: per-layer metric (suffixed with the sink) ← key in a load op's statistics
LOAD_LAYER_STATS = (
    ("plans.graph_load.run_s", "run_s", "s"),
    ("plans.graph_load.driver_s", "driver_s", "s"),
    ("plans.graph_load.jobs", "jobs", "count"),
    ("plans.graph_load.stages", "stages", "count"),
    ("plans.graph_load.tasks", "tasks", "count"),
    ("sinks.write_nodes_s", "write_nodes_s", "s"),
    ("sinks.write_edges_s", "write_edges_s", "s"),
    ("sinks.write_s.contains", "write_s_contains", "s"),
    ("sinks.phase_barrier_s", "barrier_s", "s"),
    ("sinks.rows", "sink_rows", "rows"),
    ("sinks.bytes", "sink_bytes", "bytes"),
)
#: per-layer metrics of one sink only
SINK_LAYER_STATS = {
    "flight": (
        ("flight.puts", "puts", "count"),
        ("flight.rows_per_put", "rows_per_put", "rows"),
        ("flight.bytes_received", "bytes_received", "bytes"),
        ("flight.server_busy_s", "server_busy_s", "s"),
    ),
    "parquet": (
        ("sinks.parquet.files", "files", "count"),
        ("sinks.parquet.bytes_per_row", "bytes_per_row", "bytes"),
    ),
}

#: modules whose module-level ``materialize``/``materialize_count`` names
#: are the per-round choke point of the iterative operators
MATERIALIZE_USERS = (
    "graph_algo", "scc", "mst", "biconnect", "dedup", "sampling", "skyline",
)
#: the graph_algo entry points the catalog ops call (one span per call)
GRAPH_ALGO_ENTRY = (
    "landmark_betweenness", "k1_coloring", "pagerank_fixedpoint",
)


def catalog_scales() -> dict[float, set[str]]:
    """Scale → catalog queries the workloads (and the smoke run) check."""
    ops = set(GRAPH_OPS)
    return {
        GRAPH_SCALE: ops | {GRAPH_WARM_OP},
        GRAPH_WARM_SCALE: {GRAPH_WARM_OP},
        SMOKE_SCALE: ops | {GRAPH_WARM_OP},
    }


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- environment
def pin_environment(work: str) -> dict:
    """Pin what the program's speed depends on, before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    heap_mb = max(1024, min(3072, mem_mb // 5))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    pythonpath = [ROOT, HERE] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(pythonpath),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options {shlex.quote(java_opts)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {
        "cpus": cpus, "driver_heap_mb": heap_mb, "mem_total_mb": mem_mb,
        "spark_local_dirs": local, "pythonpath": os.environ["PYTHONPATH"],
        "python": sys.version.split()[0],
    }


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit, so the
    next session (or process exit) starts from nothing."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- sink proxy
class TimedSink:
    """``GraphSink`` proxy timing every call into the real sink."""

    def __init__(self, sink):
        self.sink = sink
        self.writes: list[tuple[str, object, object, float]] = []
        self.lifecycle_s = 0.0  # start + the two phase barriers
        self.barrier_s = 0.0

    def _timed(self, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        return out, time.perf_counter() - t0

    def start(self, graph):
        _, dt = self._timed(self.sink.start, graph)
        self.lifecycle_s += dt

    def _write(self, kind, fn, df, element):
        res, dt = self._timed(fn, df, element)
        self.writes.append((kind, element, res, dt))
        return res

    def write_nodes(self, df, node):
        return self._write("node", self.sink.write_nodes, df, node)

    def write_edges(self, df, edge):
        return self._write("edge", self.sink.write_edges, df, edge)

    def _barrier(self, fn):
        _, dt = self._timed(fn)
        self.lifecycle_s += dt
        self.barrier_s += dt

    def nodes_done(self):
        self._barrier(self.sink.nodes_done)

    def edges_done(self):
        self._barrier(self.sink.edges_done)

    @property
    def sink_s(self) -> float:
        return self.lifecycle_s + sum(w[3] for w in self.writes)


# ---------------------------------------------------------------- the bench
class Bench:
    def __init__(self, args, env: dict, work: str, t_process: float):
        self.args = args
        self.env = env
        self.work = work
        self.t_process = t_process
        self.spec = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.server = None
        self.tracer = None
        self.setups: list[float] = []
        self.passes: list[dict] = []

    # -- bookkeeping -------------------------------------------------------
    def attempt(self, what: str, fn):
        """Run one op and its checks.  ``fn`` returns ``(seconds, stats,
        problems)``; an exception or any problem counts the op as failed."""
        self.attempted += 1
        try:
            dt, stats, problems = fn()
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            self.failed += 1
            log(f"FAILED {what}: {exc!r}")
            traceback.print_exception(exc, file=sys.stderr)
            return None
        if problems:
            self.failed += 1
            log(f"FAILED {what}: " + "; ".join(problems))
        return dt, stats

    # -- data --------------------------------------------------------------
    def make_data(self) -> None:
        import datagen

        if self.args.smoke:
            self.scales = {"full": SMOKE_SCALE, "warm": SMOKE_SCALE}
        else:
            self.scales = {
                "full": self.spec["scale"], "warm": self.spec["warm_scale"]
            }
        self.data, self.table_rows = {}, {}
        for tag, scale in self.scales.items():
            self.data[tag] = os.path.join(self.work, f"data-{tag}")
            self.table_rows[tag] = datagen.write_tables(
                self.data[tag], scale, self.args.seed
            )
        if set(self.spec["ops"]) <= set(LOAD_OPS):
            from dataflow_flex_pyarrow_to_gds_spark.examples import (
                tpch_graph,
                tpch_graph_sources,
            )

            self.expected = {
                tag: self._expected_load(tpch_graph(), tpch_graph_sources(d))
                for tag, d in self.data.items()
            }
        else:
            import golden

            goldens = golden.load()
            self.goldens = {
                tag: goldens[golden.scale_key(scale)]
                for tag, scale in self.scales.items()
            }

    @staticmethod
    def _expected_load(graph, sources: list[str]) -> dict:
        """Row counts each element must deliver, from Parquet footers."""
        import datagen

        def rows_for(element) -> int:
            return sum(
                datagen.footer_rows(p) for p in sources
                if re.match(element.source, p)
            )

        node = {f"node/{n.source}": rows_for(n) for n in graph.nodes}
        edge = {f"edge/{e.source}": rows_for(e) for e in graph.edges}
        matched = [
            p for p in sources
            if any(re.match(x.source, p) for x in graph.nodes + graph.edges)
        ]
        return {
            "per_element": {**node, **edge},
            "nodes": sum(node.values()),
            "edges": sum(edge.values()),
            "unmatched": [p for p in sources if p not in matched],
        }

    # -- set-up --------------------------------------------------------------
    def setup(self, i: int) -> None:
        """One set-up: (re)start the Spark session and the stand-in server,
        and run one trivial job so the session is ready for work."""
        from dataflow_flex_pyarrow_to_gds_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        if self.server is not None:
            self.server.stop()
            self.server = None
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        if "load_flight" in self.spec["ops"]:
            from standin import CountingFlightServer

            self.server = CountingFlightServer()
        self.spark.range(1).count()
        self.setups.append(time.perf_counter() - t0)
        log(f"setup {i}: {self.setups[-1]:.3f}s")

    def warm_up(self) -> None:
        """The workload's warm-up ops at the small scale, once, after the
        last set-up; the JIT warmth they leave outlives context restarts."""
        t0 = time.perf_counter()
        for name in self.spec["warm_ops"]:
            self.run_op(name, "warm", timed_pass=None)
        self.warmup_s = time.perf_counter() - t0
        log(f"warm-up: {self.warmup_s:.2f}s")

    # -- ops -----------------------------------------------------------------
    def op_list(self) -> list[str]:
        ops = list(self.spec["ops"])
        self.rng.shuffle(ops)
        return ops

    def run_op(self, name: str, tag: str, timed_pass: dict | None):
        """Run, time and check one op.  Returns its latency or ``None``."""
        traced = timed_pass is not None and timed_pass["traced"]
        sc = self.spark.sparkContext
        group = f"op{self.attempted}"
        if traced:
            sc.setJobGroup(group, name)
            self.tracer.op_id = group
            self.tracer.active = True
        try:
            if name in LOAD_OPS:
                out = self.attempt(
                    f"{name}@{tag}", lambda: self.load_once(LOAD_OPS[name], tag)
                )
            else:
                out = self.attempt(
                    f"{name}@{tag}", lambda: self.query_once(name, tag)
                )
        finally:
            if traced:
                self.tracer.active = False
                sc.setJobGroup(None, None)
        if out is None:
            return None
        dt, stats = out
        if timed_pass is not None:
            if traced:
                from layers import job_census

                stats.update(job_census(sc, group))
                stats["group"] = group
            timed_pass["ops"].append({"name": name, "s": dt, **stats})
        return dt

    def query_once(self, name: str, tag: str):
        import __spark_entry__ as entry

        import golden

        fn = entry.queries()[name]
        t0 = time.perf_counter()
        if self.tracer is not None and self.tracer.active:
            table, _ = self.tracer.span(
                f"queries.{name}",
                lambda: fn(self.spark, self.data[tag]).toArrow(),
            )
        else:
            table = fn(self.spark, self.data[tag]).toArrow()
        dt = time.perf_counter() - t0
        got = golden.fingerprint(table.to_pandas())
        want = self.goldens[tag].get(name)
        problems = [] if got == want else [f"fingerprint {got} != golden {want}"]
        rows = sum(self.table_rows[tag][t] for t in OP_TABLES[name])
        return dt, {"rows": rows}, problems

    def load_once(self, sink_name: str, tag: str):
        from dataflow_flex_pyarrow_to_gds_spark.examples import (
            tpch_graph,
            tpch_graph_sources,
        )
        from dataflow_flex_pyarrow_to_gds_spark.plans.graph_load import (
            GraphLoadPipeline,
        )

        graph = tpch_graph()
        if sink_name == "flight":
            from dataflow_flex_pyarrow_to_gds_spark.sinks.flight_sink import (
                FlightGraphSink,
                flight_action_fn,
            )
            from standin import make_put_factory

            self.server.reset()
            real = FlightGraphSink(
                make_put_factory=make_put_factory(self.server.location),
                action_fn=flight_action_fn(self.server.location),
            )
            out_dir = None
        else:
            from dataflow_flex_pyarrow_to_gds_spark.sinks.parquet_sink import (
                ParquetGraphSink,
            )

            out_dir = os.path.join(self.work, f"graph-out-{tag}")
            real = ParquetGraphSink(out_dir)
        sink = TimedSink(real)
        pipeline = GraphLoadPipeline(self.spark, graph, sink)
        t0 = time.perf_counter()
        report = pipeline.run(tpch_graph_sources(self.data[tag]))
        dt = time.perf_counter() - t0
        stats, problems = self.check_load(tag, report, sink, out_dir)
        stats.update(sink=sink_name, run_s=dt, driver_s=dt - sink.sink_s)
        return dt, stats, problems

    def check_load(self, tag: str, report, sink: TimedSink, out_dir):
        """Row counts against Parquet footers, and (Flight) the protocol
        order at the server.  Returns the load's layer statistics and the
        problems found."""
        exp = self.expected[tag]
        problems = []
        if report.unmatched_sources != exp["unmatched"]:
            problems.append(f"unmatched {report.unmatched_sources}")
        got = {f"{k}/{el.source}": res.count for k, el, res, _ in sink.writes}
        if got != exp["per_element"]:
            problems.append(f"WriteResult rows {got} != {exp['per_element']}")
        if (report.nodes.count, report.edges.count) != (exp["nodes"], exp["edges"]):
            problems.append(
                f"report totals {report.nodes.count}/{report.edges.count}"
            )
        stats = {
            "rows": report.final.count,
            "sink_rows": report.final.count,
            "sink_bytes": report.final.nbytes,
            "write_nodes_s": sum(w[3] for w in sink.writes if w[0] == "node"),
            "write_edges_s": sum(w[3] for w in sink.writes if w[0] == "edge"),
            "write_s_contains": sum(
                w[3] for w in sink.writes
                if w[0] == "edge" and w[1].default_type == "CONTAINS"
            ),
            "barrier_s": sink.barrier_s,
            "sink_s": sink.sink_s,
        }
        if out_dir is None:
            problems += self._check_flight(exp)
            s = self.server
            stats.update(
                puts=s.puts, bytes_received=s.bytes_received,
                server_busy_s=s.busy_s,
                rows_per_put=sum(s.rows.values()) / max(1, s.puts),
            )
        else:
            files, nbytes, problems_pq = self._check_parquet(out_dir, sink)
            problems += problems_pq
            stats.update(files=files, bytes_per_row=nbytes / max(1, stats["rows"]))
        return stats, problems

    def _check_flight(self, exp: dict) -> list[str]:
        from dataflow_flex_pyarrow_to_gds_spark.sinks.flight_sink import (
            ACTION_CREATE_GRAPH,
            ACTION_EDGES_DONE,
            ACTION_NODES_DONE,
        )

        s = self.server
        problems = []
        if s.rows != exp["per_element"]:
            problems.append(f"server rows {s.rows} != {exp['per_element']}")
        actions = [(i, d) for i, (k, d) in enumerate(s.events) if k == "action"]
        order = [d for _, d in actions]
        want = [ACTION_CREATE_GRAPH, ACTION_NODES_DONE, ACTION_EDGES_DONE]
        if order != want:
            return problems + [f"action order {order}"]
        created, nodes_done, edges_done = (i for i, _ in actions)
        for i, (k, d) in enumerate(s.events):
            if k != "put":
                continue
            lo, hi = (created, nodes_done) if d.startswith("node/") else (
                nodes_done, edges_done
            )
            if not lo < i < hi:
                problems.append(f"PUT {d} at event {i} outside its phase")
        return problems

    def _check_parquet(self, out_dir: str, sink: TimedSink):
        import datagen

        problems = []
        files = nbytes = 0
        counters = {"node": 0, "edge": 0}
        for kind, element, res, _ in sink.writes:
            sub = os.path.join(
                out_dir, f"{kind}s", f"element_{counters[kind]:03d}"
            )
            counters[kind] += 1
            parts = [
                os.path.join(sub, f) for f in os.listdir(sub)
                if f.endswith(".parquet")
            ]
            rows = sum(datagen.footer_rows(p) for p in parts)
            if rows != res.count:
                problems.append(f"{sub}: {rows} rows on disk, {res.count} reported")
            files += len(parts)
            nbytes += sum(os.path.getsize(p) for p in parts)
        return files, nbytes, problems

    # -- passes --------------------------------------------------------------
    def measure(self) -> None:
        trace = self.args.trace
        deadline = time.perf_counter() + self.args.seconds
        min_passes = 1 if self.args.smoke else max(
            self.spec["min_passes"], MIN_TRACED_PASSES if trace else 0
        )
        i = 0
        while i < min_passes or time.perf_counter() < deadline:
            if time.perf_counter() - self.t_process > HARD_STOP_S and i >= 1:
                log("hard stop: no more passes")
                break
            p = {"traced": bool(trace) and i % 2 == 0, "ops": []}
            for name in self.op_list():
                self.run_op(name, "full", timed_pass=p)
            p["s"] = sum(o["s"] for o in p["ops"])
            if p["traced"]:
                from layers import checkpoint_state

                p["ckpt"] = checkpoint_state(self.spark.sparkContext)
            self.passes.append(p)
            log(f"pass {i} ({'traced' if p['traced'] else 'untraced'}): {p['s']:.3f}s")
            i += 1

    # -- results -------------------------------------------------------------
    def end_to_end(self) -> dict:
        steady = self.passes[1:] or self.passes
        pass_s = statistics.median(p["s"] for p in steady)
        rows = statistics.median(sum(o["rows"] for o in p["ops"]) for p in steady)
        return {
            "setup_s": (statistics.median(self.setups), "s"),
            "first_pass_s": (self.passes[0]["s"], "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (rows / pass_s, "rows/s"),
        }

    def per_layer(self) -> dict:
        traced = [p for p in self.passes if p["traced"]]
        steady = [p for p in traced if p is not self.passes[0]] or traced
        untraced = [p for p in self.passes[1:] if not p["traced"]]
        ops = [o for p in steady for o in p["ops"]]
        spans_of = collections.defaultdict(list)
        for s in self.tracer.spans:
            spans_of[s["op"]].append(s)

        def spans(op_stats: list[dict], *names: str) -> list[dict]:
            return [
                s for o in op_stats for s in spans_of[o["group"]]
                if s["name"] in names
            ]

        def dur(ss) -> float:
            return sum(s["end"] - s["start"] for s in ss)

        def med(values) -> float:
            values = list(values)
            return statistics.median(values) if values else 0

        materializes = ("materialize", "materialize_count")
        m: dict[str, tuple[float, str]] = {}
        m["session.cold_start_s"] = (self.setups[0], "s")
        m["session.start_s"] = (med(self.setups[1:] or self.setups), "s")
        m["session.warmup_s"] = (self.warmup_s, "s")
        m["session.heap_used_mb"] = (self.memory["heap_used_mb"], "MB")
        m["session.peak_rss_mb"] = (self.memory["peak_rss_mb"], "MB")
        route = spans(ops, "graph.route_paths")
        m["operators.graph.route_s"] = (med(dur([s]) for s in route), "s")
        m["operators.graph.unmatched"] = (med(s["unmatched"] for s in route), "count")
        for sink in SINK_LAYER_STATS:
            mine = [o for o in ops if o.get("sink") == sink]
            for name, key, unit in LOAD_LAYER_STATS:
                m[f"{name}.{sink}"] = (med(o[key] for o in mine), unit)
            for name, key, unit in SINK_LAYER_STATS[sink]:
                m[name] = (med(o[key] for o in mine), unit)
        for q in GRAPH_OPS:
            mine = [o for o in ops if o["name"] == q]
            m[f"row_s.{q}"] = (med(o["s"] for o in mine), "s")
            m[f"spark.jobs.{q}"] = (med(o["jobs"] for o in mine), "count")
            m[f"spark.tasks.{q}"] = (med(o["tasks"] for o in mine), "count")
            m[f"materialize.rounds.{q}"] = (
                med(len(spans([o], *materializes)) for o in mine), "count"
            )
        jobs = [sum(o["jobs"] for o in p["ops"]) for p in steady]
        m["spark.jobs_per_pass"] = (med(jobs), "count")
        m["spark.ms_per_job"] = (
            med(1000 * p["s"] / max(1, j) for p, j in zip(steady, jobs)), "ms"
        )
        m["materialize.s"] = (med(dur(spans(p["ops"], *materializes)) for p in steady), "s")
        counted = [s["rows"] for s in spans(ops, "materialize_count")]
        m["materialize.rows_per_round"] = (
            sum(counted) / len(counted) if counted else 0, "rows"
        )
        m["ckpt.live_rdds"] = (traced[-1]["ckpt"]["live_rdds"], "count")
        m["ckpt.storage_mb"] = (traced[-1]["ckpt"]["storage_mb"], "MB")
        base = med(p["s"] for p in untraced)
        m["trace.overhead_pct"] = (
            100 * (med(p["s"] for p in steady) - base) / base if base else 0, "%"
        )
        for key, unit in (
            ("load1", "load"), ("running_procs", "count"), ("contended", "flag"),
            ("cpu_probe_ms", "ms"),
        ):
            m[f"ambient.{key}"] = (self.env["ambient"][key], unit)
        m["env.cpus"] = (self.env["cpus"], "count")
        m["env.driver_heap_mb"] = (self.env["driver_heap_mb"], "MB")
        return m

    # -- tracing -------------------------------------------------------------
    def install_tracer(self) -> None:
        """Wrap the package's public entry points once; the wrappers record
        only while ``tracer.active`` is set (traced passes)."""
        import importlib

        from layers import Tracer

        t = self.tracer = Tracer()
        from dataflow_flex_pyarrow_to_gds_spark.operators import _materialize
        from dataflow_flex_pyarrow_to_gds_spark.operators import graph as graph_ops
        from dataflow_flex_pyarrow_to_gds_spark.operators import graph_algo
        from dataflow_flex_pyarrow_to_gds_spark.plans import graph_load

        def note_unmatched(rec, result):
            rec["unmatched"] = len(result[2])

        def note_rows(rec, result):
            rec["rows"] = result[1]

        hooks = [
            (graph_ops.route_paths, "graph.route_paths", note_unmatched),
            (graph_ops.project_nodes, "graph.project_nodes", None),
            (graph_ops.project_edges, "graph.project_edges", None),
            (_materialize.materialize, "materialize", None),
            (_materialize.materialize_count, "materialize_count", note_rows),
        ] + [
            (getattr(graph_algo, f), f"graph_algo.{f}", None) for f in GRAPH_ALGO_ENTRY
        ]
        mods = [
            importlib.import_module(f"{PACKAGE}.operators.{m}")
            for m in MATERIALIZE_USERS
        ] + [graph_ops, graph_load, _materialize]
        for fn, name, on_result in hooks:
            wrapper = t.wrap(name, fn, on_result)
            for mod in mods:
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapper)
        graph_load.GraphLoadPipeline.run = t.wrap(
            "plans.graph_load.run", graph_load.GraphLoadPipeline.run
        )


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--smoke", action="store_true",
        help="one short pass at the smallest scale with a single set-up",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE} package next to {HERE}; nothing to measure")
        return 2
    from layers import ambient_load

    ambient = ambient_load(exclude={os.getpid()})
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    env = pin_environment(work)
    env.update(workload=args.workload, seed=args.seed, ambient=ambient)
    print("env " + json.dumps(env, sort_keys=True), flush=True)
    bench = Bench(args, env, work, t_process)
    try:
        bench.make_data()
        if args.trace:
            bench.install_tracer()
        for i in range(1 if args.smoke else SETUPS):
            bench.setup(i)
        bench.warm_up()
        bench.measure()
        if args.trace:
            from layers import jvm_memory

            bench.memory = jvm_memory(bench.spark.sparkContext)
            metrics = bench.per_layer()
            spans = os.path.join(
                WORK_ROOT, "spans", f"{args.workload}-seed{args.seed}.json"
            )
            bench.tracer.dump(spans)
            log(f"spans written to {spans}")
        else:
            metrics = bench.end_to_end()
    finally:
        if bench.server is not None:
            bench.server.stop()
        if bench.spark is not None:
            bench.spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    log(f"fail_frac {bench.failed / max(1, bench.attempted):.4f} "
        f"({bench.failed}/{bench.attempted})")
    traced = sum(p["traced"] for p in bench.passes[1:])
    print("samples " + json.dumps({
        "setups": len(bench.setups),
        "passes": len(bench.passes),
        "steady_passes": max(0, len(bench.passes) - 1),
        "traced_steady_passes": traced,
    }))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
