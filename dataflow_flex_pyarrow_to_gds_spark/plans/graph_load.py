"""The graph-load pipeline — the reference's flagship dataflow, Spark-first.

End-to-end lifecycle (≙ reference entry point A/B, ``pipeline.py:48-96,
130-182``):

1. load model (JSON → :class:`~..model.Graph`),
2. route concrete sources (file paths / table names) to model elements at
   **plan time** (driver-side regex, ≙ ``get_streams`` ``pipeline.py:
   99-127``) — unmatched sources are skipped but reported,
3. ``sink.start()`` (≙ ``client.start()``, ``pipeline.py:56``),
4. per node element: scan (projection pruned to the element's field list —
   Catalyst pushes it into the Parquet footer read) → project/rename →
   ``sink.write_nodes`` → telemetry,
5. ``sink.nodes_done()`` — the protocol's phase barrier. Beam needs a DAG
   trick for this (``Signal``, ``_dofn.py:50-77``); Spark actions are
   synchronous, so sequential driver code IS the barrier,
6. same for edges, ``sink.edges_done()``,
7. global telemetry fold (≙ ``Flatten`` + ``CombineGlobally`` +
   ``kind="final"`` relabel, ``pipeline.py:88-95``).

Scale notes: each element's scan reads only matching files (plan-time
routing = partition pruning at the file level; no rlike filter over rows)
and only the model's columns (``ReadSchema`` in explain). Elements are
independent Spark jobs — at 1000 executors they pipeline through the
scheduler; no shuffle exists anywhere in the node path (scan → narrow
project → write).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..model import Graph
from ..operators.graph import project_edges, project_nodes, route_paths
from ..sinks.base import GraphSink, WriteResult, sum_results

log = logging.getLogger(__name__)


@dataclass
class GraphLoadReport:
    node_results: list[WriteResult] = field(default_factory=list)
    edge_results: list[WriteResult] = field(default_factory=list)
    unmatched_sources: list[str] = field(default_factory=list)

    @property
    def nodes(self) -> WriteResult:
        return sum_results(self.node_results, kind="node")

    @property
    def edges(self) -> WriteResult:
        return sum_results(self.edge_results, kind="edge")

    @property
    def final(self) -> WriteResult:
        # ≙ Flatten + re-sum + kind="final" (pipeline.py:88-95).
        return sum_results(self.node_results + self.edge_results, kind="final")


class GraphLoadPipeline:
    def __init__(
        self,
        spark: SparkSession,
        graph: Graph,
        sink: GraphSink,
        *,
        max_parallel_elements: int = 1,
        source_format: str = "parquet",
        source_options: dict[str, str] | None = None,
    ):
        """``max_parallel_elements > 1`` submits the independent element
        jobs of a phase from driver threads — the Spark idiom for letting
        the scheduler interleave many small jobs (Beam gets this for free
        from a single DAG; Spark actions are blocking per thread). Phase
        ordering is untouched: all node jobs join before ``nodes_done``.
        Requires a thread-safe sink (every ``PhasedGraphSink`` is: its
        element counter is guarded by its phase lock).
        """
        self.spark = spark
        self.graph = graph
        self.sink = sink
        self.max_parallel_elements = max_parallel_elements
        #: any Spark batch source: parquet (default), orc, csv, json.
        #: Columnar formats carry their own schemas; csv/json callers
        #: should pass options (e.g. {"header": "true", "inferSchema":
        #: "true"}) or pre-declare schemas for production use.
        self.source_format = source_format
        self.source_options = dict(source_options or {})

    def _read_paths(self, paths: list[str], fields: list[str]) -> DataFrame:
        return (
            self.spark.read.format(self.source_format)
            .options(**self.source_options)
            .load(paths)
            .select(*fields)
        )

    def _run_phase(self, jobs: list, kind: str, project, write) -> list[WriteResult]:
        """Run one phase's ``[(element, read)]`` jobs, optionally in driver
        threads; ``read(fields)`` returns the element's source columns."""

        def job(element, read) -> WriteResult:
            res = write(project(read(element.fields()), element), element)
            log.info("%s %s: %s", kind, element.source, res)
            return res

        if self.max_parallel_elements <= 1 or len(jobs) <= 1:
            return [job(*j) for j in jobs]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=self.max_parallel_elements) as ex:
            return list(ex.map(lambda j: job(*j), jobs))

    def _load(self, node_jobs: list, edge_jobs: list, report: GraphLoadReport):
        """The one lifecycle driver: ``start`` → node phase →
        ``nodes_done`` → edge phase → ``edges_done``. Nodes come strictly
        first (GDS protocol, pipeline.py:68-87); every node job joins
        before ``nodes_done``."""
        self.sink.start(self.graph)
        report.node_results.extend(
            self._run_phase(node_jobs, "nodes", project_nodes, self.sink.write_nodes)
        )
        self.sink.nodes_done()
        report.edge_results.extend(
            self._run_phase(edge_jobs, "edges", project_edges, self.sink.write_edges)
        )
        self.sink.edges_done()
        log.info("final: %s", report.final)  # ≙ Echo sink, _dofn.py:144-155
        return report

    def run(self, sources: list[str]) -> GraphLoadReport:
        """Load the graph from concrete Parquet paths (mode ≙ ``--mode gcs``).

        ``sources`` may be files or globs; routing matches the model's
        ``source`` regexes against each entry.
        """
        node_map, edge_map, unmatched = route_paths(sources, self.graph)
        for src in unmatched:
            log.warning("source %s matched no model element — skipped", src)
        return self._load(
            [(n, partial(self._read_paths, p)) for n, p in node_map.items()],
            [(e, partial(self._read_paths, p)) for e, p in edge_map.items()],
            GraphLoadReport(unmatched_sources=unmatched),
        )

    def run_tables(
        self,
        source,  # BigQuerySource | ParquetBackedBigQuerySource
        node_tables: list[str],
        edge_tables: list[str],
    ) -> GraphLoadReport:
        """Load from a table-name source (mode ≙ ``--mode bigquery``).

        Mirrors ``get_streams``'s per-table model lookup + hand-rolled
        field projection (``pipeline.py:99-127``) — except the projection
        here is a ``.select`` the connector pushes down itself.
        """
        report = GraphLoadReport()

        def route(kind: str, tables: list[str], lookup) -> list:
            jobs = []
            for t in tables:
                element = lookup(t)
                if element is None:
                    log.warning("%s table %s matched no model element", kind, t)
                    report.unmatched_sources.append(t)
                else:
                    jobs.append((element, partial(source.table, t)))
            return jobs

        node_jobs = route("node", node_tables, self.graph.node_for_src)
        edge_jobs = route("edge", edge_tables, self.graph.edge_for_src)
        return self._load(node_jobs, edge_jobs, report)
