"""CLI — the reference's ``pipeline.py`` entry point, Spark-first.

Argparse surface mirrors reference ``pipeline.py:185-291`` (general /
Neo4j / GCS / BigQuery parameter groups, mode defaulting from the
``DEFAULT_PIPELINE_MODE`` env var set per Docker image at
``Dockerfile.gcs:10`` / ``Dockerfile.bigquery:10``). Differences are
deliberate:

- the sink is pluggable: ``--sink parquet --output_dir …`` (offline graph
  export, the correctness surface) or ``--sink flight`` (GDS Arrow Flight,
  reference S9/S10);
- ``--mode bigquery`` accepts ``--bq_fake_dataset DIR`` mapping table
  names to ``DIR/<table>.parquet`` so the BigQuery code path runs without
  GCP (the real connector path is the same call surface);
- Beam runner args have no analog — Spark config comes from spark-submit;
- the Flex-template parameter regexes (``metadata_*.json:4-82``) reduce to
  ``.+``/``[0-9]+``/``gs://.+`` — argparse's ``type=int``/``required``
  subsume the first two, and the gs:// restriction is deliberately NOT
  reproduced (local/any-FS paths are first-class here);
- ``--neo4j_user``, ``--neo4j_password`` and ``--neo4j_concurrency`` are
  not accepted: the Flight sink sends no credentials and sets no
  server-side concurrency, so the flags would be silently ignored.

Run: ``python -m dataflow_flex_pyarrow_to_gds_spark.cli --mode gcs
--graph_json model.json --node_pattern 'data/nodes*.parquet'
--edge_pattern 'data/edges*.parquet' --sink parquet --output_dir out/``
"""

from __future__ import annotations

import argparse
import logging
import sys

from .functions.scalar import strtobool
from .model import Graph
from .plans.graph_load import GraphLoadPipeline
from .session import get_spark
from .sinks.parquet_sink import ParquetGraphSink
from .sources.bigquery import ParquetBackedBigQuerySource


def _key_value(text: str) -> tuple[str, str]:
    """Parse one ``K=V`` option; a malformed one is a usage error."""
    key, sep, value = text.partition("=")
    if not sep or not key:
        raise argparse.ArgumentTypeError(f"expected K=V, got {text!r}")
    return key, value


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(description="Graph loader (PySpark)")
    # general params (≙ pipeline.py:186-207)
    parser.add_argument("--mode", choices=["gcs", "bigquery"], default="gcs")
    parser.add_argument("--graph_json", required=True,
                        help="path to the JSON graph model")
    # neo4j params (≙ pipeline.py:208-240) — used by the flight sink
    parser.add_argument("--neo4j_host", default="localhost")
    parser.add_argument("--neo4j_port", default=8491, type=int)
    parser.add_argument("--neo4j_use_tls", default="True", type=strtobool)
    parser.add_argument("--neo4j_database", default="neo4j")
    # gcs params (≙ pipeline.py:241-260): parquet globs
    parser.add_argument("--node_pattern", action="append", default=[])
    parser.add_argument("--edge_pattern", action="append", default=[])
    parser.add_argument("--source_format", default="parquet",
                        choices=["parquet", "orc", "csv", "json"])
    parser.add_argument("--source_option", action="append", default=[],
                        type=_key_value, metavar="K=V",
                        help="reader option, repeatable")
    # bigquery params (≙ pipeline.py:261-291)
    parser.add_argument("--bq_project", default="")
    parser.add_argument("--bq_dataset", default="")
    parser.add_argument("--node_tables", default="",
                        help="comma-separated node table names")
    parser.add_argument("--edge_tables", default="",
                        help="comma-separated edge table names")
    parser.add_argument("--bq_fake_dataset", default="",
                        help="dir of <table>.parquet files standing in for BQ")
    # sink selection (extension)
    parser.add_argument("--sink", choices=["parquet", "flight"], default="parquet")
    parser.add_argument("--output_dir", default="graph_out")
    return parser


def make_sink(args: argparse.Namespace):
    if args.sink == "parquet":
        return ParquetGraphSink(args.output_dir)
    from .sinks.flight_sink import FlightGraphSink

    return FlightGraphSink(
        host=args.neo4j_host,
        port=args.neo4j_port,
        tls=bool(args.neo4j_use_tls),
        database=args.neo4j_database,
    )


def main(argv: list[str] | None = None) -> int:
    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(message)s")
    args = build_parser().parse_args(argv)
    try:
        graph = Graph.from_path(args.graph_json)
    except FileNotFoundError:
        print(f"error: graph model not found: {args.graph_json}", file=sys.stderr)
        return 2
    except ValueError as exc:
        print(f"error: invalid graph model: {exc}", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"graph-load-{graph.name}")
    pipe = GraphLoadPipeline(
        spark, graph, make_sink(args),
        source_format=args.source_format,
        source_options=dict(args.source_option),
    )

    if args.mode == "gcs":
        sources = list(args.node_pattern) + list(args.edge_pattern)
        if not sources:
            print("error: --mode gcs needs --node_pattern/--edge_pattern",
                  file=sys.stderr)
            return 2
        report = pipe.run(sources)
    else:
        node_tables = [t for t in args.node_tables.split(",") if t]
        edge_tables = [t for t in args.edge_tables.split(",") if t]
        if not node_tables and not edge_tables:
            print("error: --mode bigquery needs --node_tables/--edge_tables",
                  file=sys.stderr)
            return 2
        if args.bq_fake_dataset:
            source = ParquetBackedBigQuerySource(
                spark,
                {t: f"{args.bq_fake_dataset}/{t}.parquet"
                 for t in node_tables + edge_tables},
            )
        else:
            from .sources.bigquery import BigQuerySource

            source = BigQuerySource(
                spark, f"{args.bq_project}.{args.bq_dataset}"
            )
        report = pipe.run_tables(source, node_tables, edge_tables)

    # ≙ the reference's final Echo of the summed result (pipeline.py:88-95)
    print(f"nodes: {report.nodes}")
    print(f"edges: {report.edges}")
    print(f"final: {report.final}")
    if report.unmatched_sources:
        print(f"unmatched sources (skipped): {report.unmatched_sources}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
