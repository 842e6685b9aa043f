"""The graph-load pipeline — the reference's flagship dataflow, Spark-first.

End-to-end lifecycle (≙ reference entry point A/B, ``pipeline.py:48-96,
130-182``):

1. load model (JSON → :class:`~..model.Graph`),
2. route concrete sources (file paths / table names) to model elements at
   **plan time** (driver-side regex, ≙ ``get_streams`` ``pipeline.py:
   99-127``) — unmatched sources are skipped but reported,
3. plan every element, nodes and edges, on driver threads: scan
   (projection pruned to the element's field list — Catalyst pushes it
   into the Parquet read) → project/rename. A local Parquet source takes
   its schema from the file footers, read once per path on the driver
   (:mod:`~..sources.footer`), so planning starts no Spark job; other
   sources fall back to Spark's inference. A planning error (say, a
   missing column) raises here, before the sink has sent anything,
4. ``sink.start()`` (≙ ``client.start()``, ``pipeline.py:56``), then
   ``sink.write_nodes`` for each node element in model order; the sink
   runs the writes concurrently, naming them ``element_NNN`` in call order,
5. ``sink.nodes_done()`` — the protocol's phase barrier (≙ ``Signal``,
   ``_dofn.py:50-77``): it joins every node write, and raises the first
   failure before the server hears of the phase's end; then each node
   element's telemetry is logged,
6. same for edges, ``sink.edges_done()``,
7. global telemetry fold (≙ ``Flatten`` + ``CombineGlobally`` +
   ``kind="final"`` relabel, ``pipeline.py:88-95``).

Scale notes: each element's scan reads only matching files (plan-time
routing = partition pruning at the file level; no rlike filter over rows)
and only the model's columns (``ReadSchema`` in explain). Each element is
exactly one Spark job, its write: footer schemas replace the per-element
inference job, and the Flight sink collects its per-partition tallies
with the write. Elements are submitted together so the scheduler
interleaves them; no shuffle exists anywhere in the node path (scan →
narrow project → write).
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ..model import Graph
from ..operators.graph import project_edges, project_nodes, route_paths
from ..sinks.base import GraphSink, WriteResult, sum_results
from ..sources.footer import FooterSchemas

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
        source_format: str = "parquet",
        source_options: dict[str, str] | None = None,
    ):
        self.spark = spark
        self.graph = graph
        self.sink = sink
        #: any Spark batch source: parquet (default), orc, csv, json.
        #: Columnar formats carry their own schemas; csv/json callers
        #: should pass options (e.g. {"header": "true", "inferSchema":
        #: "true"}) or pre-declare schemas for production use.
        self.source_format = source_format
        self.source_options = dict(source_options or {})

    def _read_paths(
        self, paths: list[str], fields: list[str], footers: FooterSchemas | None
    ) -> DataFrame:
        """Scan ``paths`` and select ``fields``. With ``footers`` the scan
        takes its schema from the Parquet footers where they settle it."""
        reader = self.spark.read.format(self.source_format).options(
            **self.source_options
        )
        if footers is not None:
            reader = footers.apply(reader, paths, fields)
        return reader.load(paths).select(*fields)

    def _plan(self, node_jobs: list, edge_jobs: list) -> tuple[list, list]:
        """Build every ``[(element, read)]`` job's projected frame, on
        driver threads that keep the caller's Spark local properties;
        ``read(fields)`` returns the element's source columns. Returns the
        ``[(element, frame)]`` lists of both phases, in job order."""
        jobs = [(project_nodes, *j) for j in node_jobs] + [
            (project_edges, *j) for j in edge_jobs
        ]

        def plan(job) -> tuple:
            project, element, read = job
            return element, project(read(element.fields()), element)

        with ThreadPoolExecutor(thread_name_prefix="graph-plan") as pool:
            planned = list(pool.map(inheritable_thread_target(self.spark)(plan), jobs))
        return planned[: len(node_jobs)], planned[len(node_jobs) :]

    @staticmethod
    def _write_phase(planned: list, write, done, kind: str) -> list[WriteResult]:
        """Submit every ``(element, frame)`` of one phase in order, then
        join them at the phase barrier ``done`` and log each result."""
        results = [write(df, element) for element, df in planned]
        done()
        for (element, _), res in zip(planned, results):
            log.info("%s %s: %s", kind, element.source, res)
        return results

    def _load(self, node_jobs: list, edge_jobs: list, report: GraphLoadReport):
        """The one lifecycle driver: plan every element, then ``start`` →
        node writes → ``nodes_done`` → edge writes → ``edges_done``. The
        sink is called synchronously in job order (model order for
        :meth:`run`), so ``element_NNN`` is the NNN-th job of its kind;
        the sink runs a phase's writes concurrently and joins them at the
        phase barrier (GDS protocol, pipeline.py:68-87)."""
        nodes, edges = self._plan(node_jobs, edge_jobs)
        sink = self.sink
        sink.start(self.graph)
        report.node_results.extend(
            self._write_phase(nodes, sink.write_nodes, sink.nodes_done, "nodes")
        )
        report.edge_results.extend(
            self._write_phase(edges, sink.write_edges, sink.edges_done, "edges")
        )
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
        footers = None
        if self.source_format == "parquet" and not self.source_options:
            footers = FooterSchemas(self.spark)
        read = partial(self._read_paths, footers=footers)
        return self._load(
            [(n, partial(read, node_map[n]))
             for n in self.graph.nodes if n in node_map],
            [(e, partial(read, edge_map[e]))
             for e in self.graph.edges if e in edge_map],
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
