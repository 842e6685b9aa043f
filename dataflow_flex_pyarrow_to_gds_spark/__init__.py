"""dataflow_flex_pyarrow_to_gds_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference ETL
pipeline ``neo4j-field/dataflow-flex-pyarrow-to-gds`` (a Beam/Dataflow
pipeline that routes Arrow batches through a declarative graph model into
Neo4j GDS — see ``/root/reference/pipeline.py``), rebuilt Spark-first:

- everything is a DataFrame; Catalyst handles projection pushdown, partial
  aggregation, and join strategy selection (the reference hand-rolls column
  pruning at ``pipeline.py:106-127`` — here ``df.select`` is enough);
- the declarative graph model (JSON nodes/edges matched by regex to source
  URIs, reference ``README.md:87-177``) is a small dependency-free module
  (:mod:`.model`);
- phase ordering (all nodes before any edges, reference
  ``pipeline.py:68-87``) is the sink's phase barrier: a phase's element
  writes run concurrently and ``nodes_done``/``edges_done`` join them;
- sinks are pluggable: GDS-ready Parquet graph export (offline-testable)
  and the Arrow Flight sink, which PUTs each element to GDS and sends the
  lifecycle actions in protocol order.

Beyond reference parity, the engine adds large-scale training-data pipeline
operators: deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding cosine), similarity search (brute-force + LSH-bucketed ANN), text
analysis (language id, quality scoring, token counts, fingerprinting), and
multimodal binary-column plumbing — all designed for 100 TB scale (shuffle-
light, broadcast-aware, AQE-friendly).
"""

from .model import Edge, Graph, Node
from .session import get_spark

__all__ = ["Edge", "Graph", "Node", "get_spark"]

__version__ = "0.1.0"
