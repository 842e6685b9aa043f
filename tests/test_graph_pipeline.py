"""End-to-end graph load: route → project → phase-ordered sink → telemetry."""

import os

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
from dataflow_flex_pyarrow_to_gds_spark.sinks import (
    ArrowIPCGraphSink,
    FlightGraphSink,
    ParquetGraphSink,
)
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


def test_parallel_element_load_matches_serial(spark, sf_dir, tmp_path):
    """Thread-submitted element jobs produce the same totals as serial."""
    serial = GraphLoadPipeline(
        spark, tpch_graph(), ParquetGraphSink(str(tmp_path / "ser"))
    ).run(tpch_graph_sources(sf_dir))
    parallel = GraphLoadPipeline(
        spark, tpch_graph(), ParquetGraphSink(str(tmp_path / "par")),
        max_parallel_elements=4,
    ).run(tpch_graph_sources(sf_dir))
    assert parallel.nodes.count == serial.nodes.count
    assert parallel.edges.count == serial.edges.count
    assert parallel.final.count == serial.final.count
    # all element dirs written exactly once
    import os
    assert sorted(os.listdir(tmp_path / "par" / "nodes")) == [
        f"element_{i:03d}" for i in range(4)
    ]


def test_arrow_ipc_sink_roundtrip(spark, sf_dir, tmp_path):
    """Arrow IPC export: batches stream to .arrows files on executors and
    read back with pyarrow, columnar end-to-end."""
    import glob

    import pyarrow as pa

    out = str(tmp_path / "ipc")
    report = GraphLoadPipeline(
        spark, tpch_graph(), ArrowIPCGraphSink(out, chunk_rows=500)
    ).run(tpch_graph_sources(sf_dir))
    n_customer = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert report.nodes.count > n_customer  # all 4 node elements written

    total = 0
    files = glob.glob(f"{out}/nodes/*/part-*.arrows")
    assert files
    for f in files:
        with pa.ipc.open_stream(f) as reader:
            t = reader.read_all()
            total += t.num_rows
            assert "nodeId" in t.schema.names
    assert total == report.nodes.count


def test_run_tables_with_bq_fake_source(spark, sf_dir, tmp_path, flight_server):
    """Table-name mode (≙ --mode bigquery) through the FULL pipeline:
    ParquetBackedBigQuerySource → per-table model lookup + projection →
    phase-ordered sink writes; unmatched tables reported, not fatal. The
    same load through FlightGraphSink reaches a live server in protocol
    order."""
    from dataflow_flex_pyarrow_to_gds_spark.model import Edge as E, Graph as G, Node as N
    from dataflow_flex_pyarrow_to_gds_spark.sources.bigquery import (
        ParquetBackedBigQuerySource,
    )

    g = G(
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
    [ParquetGraphSink, ArrowIPCGraphSink, lambda out: _dry_flight_sink()],
    ids=["parquet", "ipc", "flight"],
)
@pytest.mark.parametrize("kind", ["node", "edge_target"])
def test_sinks_reject_non_numeric_keys(spark, tmp_path, make_sink, kind):
    """Every sink refuses a key that the projection's try_cast nulled —
    GDS graph keys must be numeric (reference README.md:169-170). Edges
    check both endpoints; the bad value here is in the target."""
    g = _bad_key_graph()
    sink = make_sink(str(tmp_path / "out"))
    sink.start(g)
    if kind == "node":
        node = g.nodes[0]
        df = spark.createDataFrame([("1",), ("x",), ("3",)], "id string")
        with pytest.raises(ValueError, match="must be numeric"):
            sink.write_nodes(project_nodes(df, node), node)
    else:
        sink.nodes_done()
        edge = g.edges[0]
        df = spark.createDataFrame(
            [("1", "2"), ("2", "y"), ("3", "1")], "src string, dst string"
        )
        with pytest.raises(ValueError, match="must be numeric"):
            sink.write_edges(project_edges(df, edge), edge)
