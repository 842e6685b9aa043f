"""End-to-end graph load: route → project → phase-ordered sink → telemetry."""

import os
import time

import pytest
from pyspark.sql import functions as F

from dataflow_flex_pyarrow_to_gds_spark.examples import tpch_graph, tpch_graph_sources
from dataflow_flex_pyarrow_to_gds_spark.operators.graph import (
    project_edges,
    project_nodes,
    route_sources,
)
from dataflow_flex_pyarrow_to_gds_spark.operators.edge_resolution import (
    dangling_edges,
    resolve_edges,
)
from dataflow_flex_pyarrow_to_gds_spark.plans import GraphLoadPipeline
from dataflow_flex_pyarrow_to_gds_spark.sinks import FlightGraphSink, ParquetGraphSink
from dataflow_flex_pyarrow_to_gds_spark.sinks.base import WriteResult
from dataflow_flex_pyarrow_to_gds_spark.sinks.flight_sink import (
    ACTION_CREATE_GRAPH,
    ACTION_EDGES_DONE,
    ACTION_NODES_DONE,
)
from dataflow_flex_pyarrow_to_gds_spark.sources import read_parquet_tagged


def test_end_to_end_parquet_sink(spark, sf_dir, tmp_path):
    out = str(tmp_path / "graph")
    pipe = GraphLoadPipeline(spark, tpch_graph(), ParquetGraphSink(out))
    report = pipe.run(tpch_graph_sources(sf_dir))

    # counts match the raw tables
    n_customer = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    n_part = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    n_supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet").count()
    n_lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert report.nodes.count == n_customer + n_orders + n_part + n_supplier
    assert report.edges.count == n_orders + n_lineitem
    assert report.final.count == report.nodes.count + report.edges.count
    assert report.final.kind == "final"
    assert report.final.nbytes > 0
    # region.parquet matches no element → reported, not fatal
    assert any("region" in s for s in report.unmatched_sources)

    # written layout is GDS-shaped
    node_dirs = sorted(os.listdir(os.path.join(out, "nodes")))
    assert len(node_dirs) == 4
    nodes = spark.read.parquet(os.path.join(out, "nodes", node_dirs[0]))
    assert {"nodeId", "labels"} <= set(nodes.columns)
    edge_dirs = sorted(os.listdir(os.path.join(out, "edges")))
    assert len(edge_dirs) == 2
    edges = spark.read.parquet(os.path.join(out, "edges", edge_dirs[0]))
    assert {"sourceNodeId", "targetNodeId", "relationshipType"} <= set(edges.columns)
    # model.json persisted alongside the export
    assert os.path.exists(os.path.join(out, "model.json"))


def test_phase_ordering_enforced(spark, sf_dir, tmp_path):
    sink = ParquetGraphSink(str(tmp_path / "g2"))
    g = tpch_graph()
    sink.start(g)
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    edge = g.edge_for_src(f"{sf_dir}/orders.parquet")
    with pytest.raises(RuntimeError):  # edges before nodes_done → protocol error
        sink.write_edges(project_edges(df, edge), edge)


def test_projection_and_labels(spark, sf_dir):
    g = tpch_graph()
    src = f"{sf_dir}/customer.parquet"
    node = g.node_for_src(src)
    df = spark.read.parquet(src)
    out = project_nodes(df, node)
    assert out.columns == ["nodeId", "labels", "name", "acctbal"]
    row = out.first()
    assert isinstance(row["nodeId"], int)
    assert row["labels"] == []  # no label_field → stable empty array


def test_string_label_normalized_to_array(spark, tmp_path):
    from dataflow_flex_pyarrow_to_gds_spark.model import Node as N

    p = str(tmp_path / "labeled.parquet")
    spark.createDataFrame(
        [(1, "Paper", "a"), (2, "Paper", "b")], "id long, kind string, title string"
    ).write.parquet(p)
    node = N(source=".*", key_field="id", label_field="kind",
             properties={"title": "title"})
    out = project_nodes(spark.read.parquet(p), node)
    rows = {r["nodeId"]: r["labels"] for r in out.collect()}
    assert rows[1] == ["Paper"]  # string label → singleton array (README.md:168-169)


def test_route_sources_row_level(spark, sf_dir):
    g = tpch_graph()
    df = read_parquet_tagged(
        spark, [f"{sf_dir}/customer.parquet", f"{sf_dir}/orders.parquet"]
    )
    cust = g.nodes[0]
    routed = route_sources(df, cust)
    assert routed.count() == spark.read.parquet(f"{sf_dir}/customer.parquet").count()


def test_edge_resolution(spark):
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "nodeId long")
    edges = spark.createDataFrame(
        [(1, 2, "A"), (1, 9, "A"), (9, 2, "A"), (3, 1, "A")],
        "sourceNodeId long, targetNodeId long, relationshipType string",
    )
    ok = resolve_edges(edges, nodes)
    assert sorted((r[0], r[1]) for r in ok.collect()) == [(1, 2), (3, 1)]
    bad = dangling_edges(edges, nodes)
    assert sorted((r[0], r[1]) for r in bad.collect()) == [(1, 9), (9, 2)]
    assert ok.count() + bad.count() == edges.count()


def _dry_flight_sink(chunk_rows: int = 1000) -> FlightGraphSink:
    """A FlightGraphSink whose PUTs and actions go nowhere."""
    return FlightGraphSink(
        chunk_rows=chunk_rows,
        make_put_factory=lambda kind, element: lambda: lambda table: None,
        action_fn=lambda action_type, body: None,
    )


def test_flight_sink_dry_run_counts(spark, sf_dir):
    """FlightGraphSink's mapInArrow path: batching + telemetry without a server."""
    g = tpch_graph()
    sink = _dry_flight_sink()
    sink.start(g)
    src = f"{sf_dir}/customer.parquet"
    node = g.node_for_src(src)
    df = project_nodes(spark.read.parquet(src), node)
    res = sink.write_nodes(df, node)
    assert res.count == spark.read.parquet(src).count()
    assert res.nbytes > 0 and res.kind == "node"
    sink.nodes_done()
    sink.edges_done()


def test_coalesce_batches():
    import pyarrow as pa

    from dataflow_flex_pyarrow_to_gds_spark.sinks.base import coalesce_batches

    batches = [pa.RecordBatch.from_pydict({"x": list(range(10))}) for _ in range(25)]
    tables = list(coalesce_batches(iter(batches), chunk_rows=100))
    assert [t.num_rows for t in tables] == [100, 100, 50]
    assert sum(t.num_rows for t in tables) == 250


def _footer_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def test_element_dirs_follow_model_order(spark, sf_dir, tmp_path, flight_server):
    """The sink runs a phase's writes concurrently, but names them in call
    order: ``{nodes,edges}/element_NNN`` holds the NNN-th model element of
    its kind, and each Flight descriptor gets its element's rows."""
    import glob
    import re

    g = tpch_graph()
    sources = tpch_graph_sources(sf_dir)

    def want(element) -> int:
        return _footer_rows(p for p in sources if re.match(element.source, p))

    out = str(tmp_path / "graph")
    GraphLoadPipeline(spark, g, ParquetGraphSink(out)).run(sources)
    for kind, elements in (("nodes", g.nodes), ("edges", g.edges)):
        assert sorted(os.listdir(os.path.join(out, kind))) == [
            f"element_{i:03d}" for i in range(len(elements))
        ]
        for i, element in enumerate(elements):
            parts = glob.glob(f"{out}/{kind}/element_{i:03d}/*.parquet")
            assert _footer_rows(parts) == want(element), (kind, i)

    sink = FlightGraphSink(host="127.0.0.1", port=flight_server.port, tls=False)
    GraphLoadPipeline(spark, g, sink).run(sources)
    assert flight_server.rows == {
        **{f"node/{n.source}": want(n) for n in g.nodes},
        **{f"edge/{e.source}": want(e) for e in g.edges},
    }


def _jobs_started(spark, group: str, run) -> set[int]:
    """The ids of every Spark job started while ``run()`` ran in job group
    ``group``, whichever group the job ended up in."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def probe(group: str) -> list[int]:
        """Run a trivial action in ``group`` and return its job ids."""
        sc.setJobGroup(group, group)
        spark.range(1).count()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed async
        return tracker.getJobIdsForGroup(group)

    before = max(probe(f"{group}-before"))
    sc.setJobGroup(group, group)
    try:
        run()
        after = min(probe(f"{group}-after"))
    finally:
        sc.setJobGroup(None, None)
    return set(range(before + 1, after))


def test_flight_load_keeps_callers_job_group(spark, sf_dir, flight_server):
    """Planning and write threads inherit the caller's Spark local
    properties: every job a load starts belongs to the caller's job group."""
    sink = FlightGraphSink(host="127.0.0.1", port=flight_server.port, tls=False)
    started = _jobs_started(
        spark,
        "graph-load",
        lambda: GraphLoadPipeline(spark, tpch_graph(), sink).run(
            tpch_graph_sources(sf_dir)
        ),
    )
    assert started
    tracker = spark.sparkContext.statusTracker()
    assert set(tracker.getJobIdsForGroup("graph-load")) == started


@pytest.mark.parametrize("sink_kind", ["flight", "parquet"])
def test_load_runs_one_job_per_element(spark, sf_dir, tmp_path, flight_server, sink_kind):
    """A load's Spark jobs are its element writes and nothing else: the
    schemas come from the Parquet footers, and an Arrow write collects
    its tally with the write, not in a second job."""
    from dataflow_flex_pyarrow_to_gds_spark.sources.bigquery import (
        ParquetBackedBigQuerySource,
    )

    def make_sink(out: str):
        if sink_kind == "flight":
            return FlightGraphSink(host="127.0.0.1", port=flight_server.port, tls=False)
        return ParquetGraphSink(str(tmp_path / out))

    g = tpch_graph()
    started = _jobs_started(
        spark,
        f"census-{sink_kind}",
        lambda: GraphLoadPipeline(spark, g, make_sink("paths")).run(
            tpch_graph_sources(sf_dir)
        ),
    )
    assert len(started) == len(g.nodes) + len(g.edges) == 6

    source = ParquetBackedBigQuerySource(
        spark, {t: f"{sf_dir}/{t}.parquet" for t in ("customer", "orders")}
    )
    started = _jobs_started(
        spark,
        f"census-tables-{sink_kind}",
        lambda: GraphLoadPipeline(spark, _table_graph(), make_sink("tables")).run_tables(
            source, node_tables=["customer"], edge_tables=["orders"]
        ),
    )
    assert len(started) == 2


def test_footer_schemas_match_inference(spark, sf_dir, monkeypatch):
    """Every tpch_graph element's scan, planned from the Parquet footers,
    has the schema and rows of Spark's inferred read; a load reads each
    distinct source footer once, though orders backs two elements."""
    import pyarrow.parquet as pq

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph import route_paths
    from dataflow_flex_pyarrow_to_gds_spark.sources import footer
    from dataflow_flex_pyarrow_to_gds_spark.sources.footer import FooterSchemas

    g = tpch_graph()
    node_map, edge_map, _ = route_paths(tpch_graph_sources(sf_dir), g)
    pipe = GraphLoadPipeline(spark, g, _dry_flight_sink())
    footers = FooterSchemas(spark)
    for element, paths in [*node_map.items(), *edge_map.items()]:
        fields = element.fields()
        assert footers.schema(paths, fields) is not None, element.source
        planned = pipe._read_paths(paths, fields, footers)
        inferred = spark.read.parquet(*paths).select(*fields)
        assert planned.schema == inferred.schema, element.source
        assert sorted(planned.collect()) == sorted(inferred.collect())

    reads: list[str] = []
    real_read_schema = pq.read_schema

    def read_schema(path):
        reads.append(path)
        return real_read_schema(path)

    monkeypatch.setattr(footer.pq, "read_schema", read_schema)
    pipe.run(tpch_graph_sources(sf_dir))
    routed = {p for ps in [*node_map.values(), *edge_map.values()] for p in ps}
    assert sorted(reads) == sorted(routed)


def test_planning_error_raises_before_any_side_effect(spark, sf_dir, flight_server):
    """Every element is planned before ``start``: an edge naming a missing
    column fails the load before the server hears CREATE_GRAPH."""
    import dataclasses

    from pyspark.errors import AnalysisException

    g = tpch_graph()
    bad = dataclasses.replace(g.edges[-1], target_field="no_such_column")
    g = dataclasses.replace(g, edges=(*g.edges[:-1], bad))
    sink = FlightGraphSink(host="127.0.0.1", port=flight_server.port, tls=False)
    with pytest.raises(AnalysisException, match="no_such_column"):
        GraphLoadPipeline(spark, g, sink).run(tpch_graph_sources(sf_dir))
    assert flight_server.protocol() == []
    assert sink.action_log == []


def test_concurrent_writers_claim_distinct_elements(spark):
    """Writes submitted from more threads than cores, with a short switch
    interval, each claim a distinct ``element_NNN``, and the phase barrier
    joins every one of them."""
    import sys
    import threading

    from dataflow_flex_pyarrow_to_gds_spark.sinks.base import PhasedGraphSink

    class RecordingSink(PhasedGraphSink):
        """Records each write's element name; runs no Spark job."""

        def __init__(self):
            super().__init__()
            self.subs: list[str] = []

        def _write(self, df, kind, element, sub):
            self.subs.append(sub)
            return 1, 0, {"nodeId": 0}

    g = _bad_key_graph()
    sink = RecordingSink()
    sink.start(g)
    df = spark.range(1)
    n_threads, per_thread = 4 * (os.cpu_count() or 1), 5
    results = []

    def submit():
        for _ in range(per_thread):
            results.append(sink.write_nodes(df, g.nodes[0]))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=submit) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        sink.nodes_done()
    finally:
        sys.setswitchinterval(interval)
    n = n_threads * per_thread
    assert sorted(sink.subs) == [f"nodes/element_{i:03d}" for i in range(n)]
    assert all(r.done() for r in results)
    assert sum(r.count for r in results) == n


def _table_graph():
    """A one-node, one-edge model over table names (``--mode bigquery``)."""
    from dataflow_flex_pyarrow_to_gds_spark.model import Edge as E, Graph as G, Node as N

    return G(
        name="bqfake",
        db="neo4j",
        nodes=(
            N(source="customer", key_field="c_custkey",
              properties={"c_acctbal": "acctbal"}),
        ),
        edges=(
            E(source="orders", source_field="o_custkey",
              target_field="o_orderkey"),
        ),
    )


def test_run_tables_with_bq_fake_source(spark, sf_dir, tmp_path, flight_server):
    """Table-name mode (≙ --mode bigquery) through the FULL pipeline:
    ParquetBackedBigQuerySource → per-table model lookup + projection →
    phase-ordered sink writes; unmatched tables reported, not fatal. The
    same load through FlightGraphSink reaches a live server in protocol
    order."""
    from dataflow_flex_pyarrow_to_gds_spark.sources.bigquery import (
        ParquetBackedBigQuerySource,
    )

    g = _table_graph()
    src = ParquetBackedBigQuerySource(
        spark,
        {t: f"{sf_dir}/{t}.parquet" for t in ("customer", "orders", "nation")},
    )
    out = str(tmp_path / "bq_graph")
    pipe = GraphLoadPipeline(spark, g, ParquetGraphSink(out))
    report = pipe.run_tables(
        src, node_tables=["customer", "nation"], edge_tables=["orders"]
    )

    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r.count for r in report.node_results) == n_cust
    assert sum(r.count for r in report.edge_results) == n_orders
    assert report.unmatched_sources == ["nation"]  # reported, not fatal
    # written layout is GDS-shaped and projection pushed down to 2+key cols
    nodes = spark.read.parquet(f"{out}/nodes/*")
    assert {"nodeId", "acctbal"} <= set(nodes.columns)
    edges = spark.read.parquet(f"{out}/edges/*")
    assert {"sourceNodeId", "targetNodeId"} <= set(edges.columns)

    sink = FlightGraphSink(host="127.0.0.1", port=flight_server.port, tls=False)
    flight = GraphLoadPipeline(spark, g, sink).run_tables(
        src, node_tables=["customer", "nation"], edge_tables=["orders"]
    )
    assert [r.count for r in flight.node_results] == [n_cust]
    assert [r.count for r in flight.edge_results] == [n_orders]
    assert flight.unmatched_sources == ["nation"]
    assert flight_server.rows == {"node/customer": n_cust, "edge/orders": n_orders}
    assert flight_server.protocol() == [
        ACTION_CREATE_GRAPH, "node", ACTION_NODES_DONE, "edge", ACTION_EDGES_DONE,
    ]


def _bad_key_graph():
    from dataflow_flex_pyarrow_to_gds_spark.model import Edge as E, Graph as G, Node as N

    return G(
        name="badkeys",
        db="neo4j",
        nodes=(N(source="n", key_field="id"),),
        edges=(E(source="e", source_field="src", target_field="dst"),),
    )


@pytest.mark.parametrize(
    "make_sink",
    [
        lambda out, server: ParquetGraphSink(out),
        lambda out, server: FlightGraphSink(
            host="127.0.0.1", port=server.port, tls=False
        ),
    ],
    ids=["parquet", "flight"],
)
@pytest.mark.parametrize("kind", ["node", "edge_target"])
def test_sinks_reject_non_numeric_keys(spark, tmp_path, flight_server, make_sink, kind):
    """Every sink refuses a key that the projection's try_cast nulled —
    GDS graph keys must be numeric (reference README.md:169-170). Edges
    check both endpoints; the bad value here is in the target. The write
    fails in the background and the phase barrier raises, after the
    phase's slower healthy write has finished; the phase does not advance
    and the Flight sink sends no phase-end action."""
    g = _bad_key_graph()
    sink = make_sink(str(tmp_path / "out"), flight_server)
    sink.start(g)
    slow = F.udf(lambda v: time.sleep(1.5) or v, "string")
    node, edge = g.nodes[0], g.edges[0]
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "y"), ("3", "1")], "src string, dst string"
    )
    if kind == "node":
        bad = project_nodes(
            spark.createDataFrame([("1",), ("x",), ("3",)], "id string"), node
        )
        good = project_nodes(
            spark.createDataFrame([("4",)], "id string").select(slow("id").alias("id")),
            node,
        )
        write, barrier, element = sink.write_nodes, sink.nodes_done, node
        protocol = [ACTION_CREATE_GRAPH, "node"]
    else:
        sink.nodes_done()
        bad = project_edges(edges, edge)
        good = project_edges(
            spark.createDataFrame([("4", "5")], "src string, dst string").select(
                "src", slow("dst").alias("dst")
            ),
            edge,
        )
        write, barrier, element = sink.write_edges, sink.edges_done, edge
        protocol = [ACTION_CREATE_GRAPH, ACTION_NODES_DONE, "edge"]
    write(bad, element)
    sibling = write(good, element)
    with pytest.raises(ValueError, match="must be numeric"):
        barrier()
    assert sibling.done() and sibling.count == 1
    is_flight = isinstance(sink, FlightGraphSink)
    assert flight_server.protocol() == (protocol if is_flight else [])
    with pytest.raises(ValueError, match="must be numeric"):
        barrier()  # the phase stayed put, so the barrier fails the same way
    if kind == "node":
        with pytest.raises(RuntimeError):
            sink.write_edges(project_edges(edges, edge), edge)


def _sink_threads() -> set:
    import threading

    return {t for t in threading.enumerate() if t.name.startswith("graph-sink")}


@pytest.mark.parametrize("phase", ["nodes", "edges"])
def test_failed_barrier_stops_sink_threads(spark, sf_dir, flight_server, phase):
    """A load whose barrier fails leaves no sink write thread behind, and
    calling the barrier again raises the same failure."""
    import dataclasses

    g = tpch_graph()
    if phase == "nodes":  # a string key column: the node barrier fails
        g = dataclasses.replace(
            g, nodes=(dataclasses.replace(g.nodes[0], key_field="c_name"),
                      *g.nodes[1:]),
        )
    else:
        g = dataclasses.replace(
            g, edges=(dataclasses.replace(g.edges[0], source_field="o_orderstatus"),
                      *g.edges[1:]),
        )
    before = _sink_threads()
    sink = FlightGraphSink(host="127.0.0.1", port=flight_server.port, tls=False)
    with pytest.raises(ValueError, match="must be numeric") as failed:
        GraphLoadPipeline(spark, g, sink).run(tpch_graph_sources(sf_dir))
    assert _sink_threads() <= before
    barrier = sink.nodes_done if phase == "nodes" else sink.edges_done
    with pytest.raises(ValueError) as again:
        barrier()
    assert again.value is failed.value
    assert _sink_threads() <= before


@pytest.mark.parametrize("partitions", [0, 2])
def test_flight_sink_writes_zero_rows(spark, flight_server, partitions):
    """An empty element writes ``WriteResult(0, 0, kind)`` and passes its
    barrier, whether it has no partition (nothing to collect) or only
    empty ones; the server sees the actions and no PUT."""
    g = _bad_key_graph()
    sink = FlightGraphSink(host="127.0.0.1", port=flight_server.port, tls=False)
    if partitions:
        df = spark.range(0, 4, 1, partitions).where("id > 9").selectExpr(
            "cast(id as string) as id", "cast(id as string) as src",
            "cast(id as string) as dst",
        )
    else:
        df = spark.createDataFrame(
            spark.sparkContext.emptyRDD(), "id string, src string, dst string"
        )
    assert df.rdd.getNumPartitions() == partitions
    sink.start(g)
    nodes = sink.write_nodes(project_nodes(df, g.nodes[0]), g.nodes[0])
    sink.nodes_done()
    edges = sink.write_edges(project_edges(df, g.edges[0]), g.edges[0])
    sink.edges_done()
    assert nodes == WriteResult(0, 0, "node")
    assert edges == WriteResult(0, 0, "edge")
    assert flight_server.rows == {}
    assert flight_server.protocol() == [
        ACTION_CREATE_GRAPH, ACTION_NODES_DONE, ACTION_EDGES_DONE,
    ]
