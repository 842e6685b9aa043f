"""CLI surface: both modes end-to-end against testdata."""

import json

import pytest

from dataflow_flex_pyarrow_to_gds_spark.cli import main
from dataflow_flex_pyarrow_to_gds_spark.examples import tpch_graph


@pytest.fixture(autouse=True)
def _restore_session_conf(spark):
    """cli.main() calls get_spark(), and since Spark 3.4 getOrCreate()
    rewrites runtime SQL confs on the EXISTING session from its builder
    defaults (cpus=32 → shuffle.partitions=32, vs the test session's 8).
    Snapshot and restore so the leak can't skew later tests."""
    keys = ("spark.sql.shuffle.partitions",)
    saved = {k: spark.conf.get(k, None) for k in keys}
    yield
    for k, v in saved.items():
        if v is not None:
            spark.conf.set(k, v)


def _model_file(tmp_path):
    p = tmp_path / "model.json"
    p.write_text(tpch_graph().to_json())
    return str(p)


def _table_model_file(tmp_path):
    model = {
        "name": "tbl",
        "db": "neo4j",
        "nodes": [{"source": "customer", "key_field": "c_custkey"}],
        "edges": [
            {
                "source": "orders",
                "source_field": "o_custkey",
                "target_field": "o_orderkey",
                "default_type": "PLACED",
            }
        ],
    }
    p = tmp_path / "tbl_model.json"
    p.write_text(json.dumps(model))
    return str(p)


def test_cli_gcs_mode(spark, sf_dir, tmp_path, capsys):
    rc = main(
        [
            "--mode", "gcs",
            "--graph_json", _model_file(tmp_path),
            "--node_pattern", f"{sf_dir}/customer.parquet",
            "--node_pattern", f"{sf_dir}/orders.parquet",
            "--edge_pattern", f"{sf_dir}/lineitem.parquet",
            "--sink", "parquet",
            "--output_dir", str(tmp_path / "out"),
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "final: WriteResult" in out and "kind='final'" in out


def test_cli_flight_sink_delivers_to_server(
    spark, sf_dir, tmp_path, capsys, flight_server
):
    """``--sink flight`` connects to --neo4j_host/--neo4j_port, PUTs every
    element and sends the GDS actions in protocol order."""
    from dataflow_flex_pyarrow_to_gds_spark.sinks.flight_sink import (
        ACTION_CREATE_GRAPH,
        ACTION_EDGES_DONE,
        ACTION_NODES_DONE,
    )

    rc = main(
        [
            "--mode", "gcs",
            "--graph_json", _model_file(tmp_path),
            "--node_pattern", f"{sf_dir}/customer.parquet",
            "--node_pattern", f"{sf_dir}/orders.parquet",
            "--edge_pattern", f"{sf_dir}/lineitem.parquet",
            "--sink", "flight",
            "--neo4j_host", "127.0.0.1",
            "--neo4j_port", str(flight_server.port),
            "--neo4j_use_tls", "False",
        ]
    )
    assert rc == 0
    assert "final: WriteResult" in capsys.readouterr().out

    g = tpch_graph()
    rows = {
        t: spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        for t in ("customer", "orders", "lineitem")
    }
    assert flight_server.rows == {
        f"node/{g.nodes[0].source}": rows["customer"],
        f"node/{g.nodes[1].source}": rows["orders"],
        f"edge/{g.edges[0].source}": rows["orders"],
        f"edge/{g.edges[1].source}": rows["lineitem"],
    }
    assert flight_server.protocol() == [
        ACTION_CREATE_GRAPH, "node", ACTION_NODES_DONE, "edge", ACTION_EDGES_DONE,
    ]


def test_cli_bigquery_fake_mode(spark, sf_dir, tmp_path, capsys):
    rc = main(
        [
            "--mode", "bigquery",
            "--graph_json", _table_model_file(tmp_path),
            "--node_tables", "customer",
            "--edge_tables", "orders",
            "--bq_fake_dataset", sf_dir,
            "--sink", "parquet",
            "--output_dir", str(tmp_path / "bqout"),
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "nodes: WriteResult(count=150" in out
    assert "edges: WriteResult(count=1500" in out


def test_cli_missing_patterns_is_usage_error(tmp_path, capsys):
    rc = main(["--mode", "gcs", "--graph_json", _model_file(tmp_path)])
    assert rc == 2
    assert "node_pattern" in capsys.readouterr().err


@pytest.mark.parametrize(
    "bad",
    [
        ["--source_option", "header"],
        ["--source_option", "=true"],
        ["--neo4j_user", "neo4j"],
        ["--neo4j_password", "secret"],
        ["--neo4j_concurrency", "4"],
    ],
    ids=["option_no_eq", "option_no_key", "neo4j_user", "neo4j_password",
         "neo4j_concurrency"],
)
def test_cli_bad_flag_is_usage_error_before_spark(
    sf_dir, tmp_path, capsys, monkeypatch, bad
):
    """A malformed ``--source_option`` or a removed flag exits 2 from
    argparse, before any Spark session is asked for."""
    from dataflow_flex_pyarrow_to_gds_spark import cli

    def no_spark(*args, **kwargs):
        raise AssertionError("get_spark() called for a bad command line")

    monkeypatch.setattr(cli, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exit_:
        main(
            [
                "--graph_json", _model_file(tmp_path),
                "--node_pattern", f"{sf_dir}/customer.parquet",
                "--output_dir", str(tmp_path / "out"),
                *bad,
            ]
        )
    assert exit_.value.code == 2
    err = capsys.readouterr().err
    assert bad[0] in err
