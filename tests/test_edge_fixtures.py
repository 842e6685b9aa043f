"""FIXTURES.md §3 edge cases: tiny batches, empty inputs, string labels,
unmatched sources — through the full pipeline."""

import os

import pytest
from pyspark.sql import functions as F

from dataflow_flex_pyarrow_to_gds_spark.model import Edge, Graph, Node
from dataflow_flex_pyarrow_to_gds_spark.plans import GraphLoadPipeline
from dataflow_flex_pyarrow_to_gds_spark.sinks import ParquetGraphSink


def test_many_tiny_files_coalesce(spark, tmp_path):
    """Many small parquet files → one scan, correct totals (the reference
    needs explicit ≥50k-row coalescing, ``_dofn.py:184-202``; Spark's
    scan planner packs small files into shared tasks via
    maxPartitionBytes/openCostInBytes)."""
    src = str(tmp_path / "tiny")
    spark.range(0, 1000).select(
        F.col("id").alias("source"),
        (F.col("id") + 1).alias("target"),
        F.lit("CITES").alias("type"),
    ).repartition(50).write.parquet(src)  # 50 files of ~20 rows
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_files >= 40

    df = spark.read.parquet(src)
    assert df.count() == 1000
    # scan packs tiny files: far fewer partitions than files
    assert df.rdd.getNumPartitions() < n_files


def test_empty_input_through_pipeline(spark, tmp_path):
    """0-row input with a valid schema flows scan → project → sink."""
    src = str(tmp_path / "empty.parquet")
    spark.createDataFrame(
        [], "paper long, labels array<string>, title string"
    ).write.parquet(src)
    g = Graph(
        name="g",
        nodes=(Node(source=".*/empty.parquet", key_field="paper",
                    label_field="labels", properties={"title": "title"}),),
    )
    report = GraphLoadPipeline(
        spark, g, ParquetGraphSink(str(tmp_path / "out"))
    ).run([src])
    assert report.nodes.count == 0
    assert report.final.kind == "final"
    out = spark.read.parquet(str(tmp_path / "out/nodes/element_000"))
    assert out.columns == ["nodeId", "labels", "title"] and out.count() == 0


def test_dangling_edges_fixture(spark, tmp_path):
    """Edges referencing absent node ids are catchable pre-sink."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.edge_resolution import (
        dangling_edges,
    )

    nodes = spark.createDataFrame([(i,) for i in range(10)], "nodeId long")
    edges = spark.createDataFrame(
        [(1, 2, "CITES"), (3, 99, "CITES"), (98, 99, "CITES")],
        "sourceNodeId long, targetNodeId long, relationshipType string",
    )
    bad = dangling_edges(edges, nodes)
    assert bad.count() == 2


def test_mixed_label_models_one_graph(spark, tmp_path):
    """String-label and no-label node elements coexist with a stable
    array<string> labels column in the export."""
    p1 = str(tmp_path / "with_label.parquet")
    p2 = str(tmp_path / "no_label.parquet")
    spark.createDataFrame([(1, "Paper")], "id long, kind string").write.parquet(p1)
    spark.createDataFrame([(2,)], "id long").write.parquet(p2)
    g = Graph(
        name="g",
        nodes=(
            Node(source=".*/with_label.parquet", key_field="id", label_field="kind"),
            Node(source=".*/no_label.parquet", key_field="id"),
        ),
    )
    report = GraphLoadPipeline(
        spark, g, ParquetGraphSink(str(tmp_path / "out2"))
    ).run([p1, p2])
    assert report.nodes.count == 2
    both = spark.read.parquet(str(tmp_path / "out2/nodes/*"))
    got = {r["nodeId"]: r["labels"] for r in both.collect()}
    assert got[1] == ["Paper"] and got[2] == []


def test_salted_aggregate_equals_naive(spark, sf_dir):
    """Salting must not change results (associativity)."""
    from pyspark.sql import functions as F

    from dataflow_flex_pyarrow_to_gds_spark.operators.skew import salted_aggregate

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    salted = {
        r["l_returnflag"]: (round(r["q"], 2), r["n"])
        for r in salted_aggregate(
            df, ["l_returnflag"], sums={"l_quantity": "q"}, count_alias="n",
            salt_buckets=8,
        ).collect()
    }
    naive = {
        r["l_returnflag"]: (round(r["q"], 2), r["n"])
        for r in df.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == naive


def test_csv_source_through_pipeline(spark, tmp_path):
    """The graph pipeline reads any Spark batch source — CSV here."""
    src = str(tmp_path / "csv_nodes")
    spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0)], "id long, label string, score double"
    ).write.option("header", "true").csv(src)
    g = Graph(
        name="g",
        nodes=(Node(source=".*/csv_nodes.*", key_field="id",
                    label_field="label", properties={"score": "score"}),),
    )
    report = GraphLoadPipeline(
        spark, g, ParquetGraphSink(str(tmp_path / "csv_out")),
        source_format="csv",
        source_options={"header": "true", "inferSchema": "true"},
    ).run([src])
    assert report.nodes.count == 2
    out = spark.read.parquet(str(tmp_path / "csv_out/nodes/element_000"))
    got = {r["nodeId"]: (r["labels"], r["score"]) for r in out.collect()}
    assert got[1] == (["A"], 10.0)


def test_json_source_through_pipeline(spark, tmp_path):
    src = str(tmp_path / "json_edges")
    spark.createDataFrame(
        [(1, 2, "REL"), (2, 3, "REL")],
        "src long, dst long, kind string",
    ).write.json(src)
    g = Graph(
        name="g",
        edges=(Edge(source=".*/json_edges.*", source_field="src",
                    target_field="dst", type_field="kind"),),
    )
    report = GraphLoadPipeline(
        spark, g, ParquetGraphSink(str(tmp_path / "json_out")),
        source_format="json",
    ).run([src])
    assert report.edges.count == 2


def _plain_and_odd_table():
    """One row group holding every footer-schema type Spark infers the
    same whatever the session conf, plus a timestamp, an unsigned int and
    a mixed-case name."""
    import datetime
    import decimal

    import pyarrow as pa

    return pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "i8": pa.array([1, -2, None], pa.int8()),
        "i16": pa.array([300, None, -3], pa.int16()),
        "i32": pa.array([None, 7, 8], pa.int32()),
        "f32": pa.array([1.5, None, 2.5], pa.float32()),
        "flag": pa.array([True, False, None]),
        "name": pa.array(["a", None, "c"]),
        "big": pa.array(["x", "y", None], pa.large_string()),
        "raw": pa.array([b"\x00", None, b"\xff"]),
        "day": pa.array([datetime.date(2020, 1, 1), None, datetime.date(1999, 12, 31)]),
        "price": pa.array(
            [decimal.Decimal("1.25"), None, decimal.Decimal("-3.50")], pa.decimal128(9, 2)
        ),
        "ts": pa.array([datetime.datetime(2021, 5, 6, 7, 8, 9), None, None],
                       pa.timestamp("us")),
        "n": pa.array([1, 2**32 - 1, None], pa.uint32()),
        "Score": pa.array([0.5, 1.5, None], pa.float64()),
    })


PLAIN = {c: c for c in ("i8", "i16", "i32", "f32", "flag", "name", "big", "raw",
                        "day", "price", "Score")}


@pytest.mark.parametrize(
    "properties, footer",
    [
        (PLAIN, True),
        ({"ts": "ts"}, False),  # timestamp: NTZ inference depends on a conf
        ({"n": "n"}, False),  # unsigned
        ({"score": "score"}, False),  # the footer spells it "Score"
    ],
    ids=["plain", "timestamp", "uint32", "case_mismatch"],
)
def test_footer_schema_load_equals_inferred(spark, tmp_path, properties, footer):
    """A Parquet source loads the same rows and types whether its schema
    comes from the footer or, where the footer cannot settle it, from
    Spark's inference."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "typed.parquet")
    pq.write_table(_plain_and_odd_table(), src)
    _assert_load_equals_inferred(spark, tmp_path, [src], properties, footer)


@pytest.mark.parametrize("shape", ["glob", "directory"])
def test_glob_and_directory_sources_fall_back(spark, tmp_path, shape):
    """A glob or a directory names files the driver does not list: the
    load leaves the schema to Spark and still gets every row."""
    import pyarrow.parquet as pq

    src = tmp_path / "many"
    src.mkdir()
    table = _plain_and_odd_table()
    for i in range(2):
        pq.write_table(table, str(src / f"part-{i}.parquet"))
    path = str(src / "part-*.parquet") if shape == "glob" else str(src)
    _assert_load_equals_inferred(spark, tmp_path, [path], PLAIN, footer=False)


def _assert_load_equals_inferred(spark, tmp_path, sources, properties, footer):
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph import project_nodes
    from dataflow_flex_pyarrow_to_gds_spark.sources.footer import FooterSchemas

    node = Node(source=".*", key_field="id", properties=properties)
    fields = node.fields()
    out = str(tmp_path / "out")
    pipe = GraphLoadPipeline(
        spark, Graph(name="g", nodes=(node,)), ParquetGraphSink(out)
    )
    footers = FooterSchemas(spark)
    assert (footers.schema(sources, fields) is not None) == footer
    planned = pipe._read_paths(sources, fields, footers)
    inferred = spark.read.parquet(*sources).select(*fields)
    assert planned.schema == inferred.schema
    assert sorted(map(str, planned.collect())) == sorted(map(str, inferred.collect()))

    report = pipe.run(sources)
    want = project_nodes(inferred, node)
    assert report.nodes.count == want.count()
    got = spark.read.parquet(f"{out}/nodes/element_000")
    assert [f.dataType for f in got.schema] == [f.dataType for f in want.schema]
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def test_footer_schema_needs_agreeing_local_parquet(spark, tmp_path):
    """The footer settles a schema only when every path is a readable
    local Parquet file and all of them agree on the selected fields."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataflow_flex_pyarrow_to_gds_spark.sources.footer import FooterSchemas

    a, b, c = (str(tmp_path / f"{x}.parquet") for x in "abc")
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()), "x": ["s"]}), a)
    pq.write_table(pa.table({"id": pa.array([2], pa.int64()), "x": [1.5]}), b)
    pq.write_table(pa.table({"id": pa.array([3], pa.int32()), "x": ["t"]}), c)
    text = tmp_path / "not.parquet"
    text.write_text("id,x\n1,s\n")
    dup = str(tmp_path / "dup.parquet")
    pq.write_table(pa.table({"id": [1], "ID": [2]}), dup)

    footers = FooterSchemas(spark)
    assert footers.schema([a, b], ["id"]).simpleString() == "struct<id:bigint>"
    assert footers.schema([a, b], ["id", "x"]) is None  # x: string vs double
    assert footers.schema([a, c], ["id"]) is None  # id: bigint vs int
    assert footers.schema([a], ["x", "id"]).simpleString() == "struct<x:string,id:bigint>"
    assert footers.schema([str(tmp_path / "gone.parquet")], ["id"]) is None
    assert footers.schema([str(text)], ["id"]) is None  # pyarrow cannot read it
    assert footers.schema([dup], ["id"]) is None  # Spark rejects id vs ID
    assert footers.schema([], ["id"]) is None

    raw = str(tmp_path / "raw.parquet")
    pq.write_table(pa.table({"id": [1], "r": [b"x"]}), raw)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert FooterSchemas(spark).schema([raw], ["r"]) is None
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert FooterSchemas(spark).schema([raw], ["r"]).simpleString() == "struct<r:binary>"

    hadoop = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = hadoop.get("fs.defaultFS")
    hadoop.set("fs.defaultFS", "hdfs://namenode:8020")  # schemeless paths leave the host
    try:
        assert FooterSchemas(spark).schema([a], ["id"]) is None
    finally:
        hadoop.set("fs.defaultFS", default_fs)
