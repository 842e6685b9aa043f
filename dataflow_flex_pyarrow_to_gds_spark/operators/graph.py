"""Model-driven projection and source routing — the reference's core ops.

Covers SURVEY §2 operators P1 (projection pushdown), P3 (regex source
routing), P4 (model-driven rename into the GDS column layout):

- nodes → ``nodeId`` (long), ``labels`` (array<string>), properties
- edges → ``sourceNodeId``, ``targetNodeId``, ``relationshipType``, properties

The reference performs the rename inside the external
``neo4j_arrow.write_nodes/write_edges`` (call sites
``neo4j_beam/_dofn.py:111,135``) and hand-computes the projected column
list (``pipeline.py:106-127``). Here both are a single ``select`` —
Catalyst pushes the pruning into the Parquet/BigQuery scan (check
``ReadSchema`` in ``.explain("formatted")``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import Edge, Graph, Node
from ..sources.parquet import SOURCE_COL

#: GDS-ready output column names (public Neo4j GDS Arrow protocol,
#: linked from reference ``README.md:287-289``).
NODE_ID = "nodeId"
LABELS = "labels"
SOURCE_ID = "sourceNodeId"
TARGET_ID = "targetNodeId"
REL_TYPE = "relationshipType"


def _labels_col(df: DataFrame, node: Node) -> Column:
    """Normalize the label column to ``array<string>``.

    ``label_field`` may hold "the node label or labels" (reference
    ``README.md:168-169``) — a plain string or a list. Models with no
    ``label_field`` (e.g. the stackoverflow model) get an empty array so
    the node schema is stable across elements.
    """
    if not node.label_field:
        return F.array().cast(T.ArrayType(T.StringType())).alias(LABELS)
    dt = df.schema[node.label_field].dataType
    col = F.col(node.label_field)
    if not isinstance(dt, T.ArrayType):
        col = F.array(col.cast("string"))
    return col.cast(T.ArrayType(T.StringType())).alias(LABELS)


def project_nodes(df: DataFrame, node: Node) -> DataFrame:
    """Project/rename one source into GDS node layout.

    Node keys must be numeric (reference ``README.md:169-170``). ``try_cast``
    turns non-numeric keys into nulls (ANSI ``cast`` would abort the whole
    job mid-task with a raw NumberFormatException); the sink's null-key
    validation then raises a clean domain error with a count.
    """
    cols = [
        F.col(node.key_field).try_cast(T.LongType()).alias(NODE_ID),
        _labels_col(df, node),
    ]
    cols += [F.col(src).alias(dst) for src, dst in node.properties.items()]
    return df.select(*cols)


def project_edges(df: DataFrame, edge: Edge) -> DataFrame:
    """Project/rename one source into GDS relationship layout."""
    if edge.type_field:
        type_col = F.col(edge.type_field).cast("string")
    else:
        # Models may omit type_field entirely (stackoverflow model,
        # reference ``example_models/so_model.json:33-40``).
        type_col = F.lit(edge.default_type or None).cast("string")
    cols = [
        F.col(edge.source_field).try_cast(T.LongType()).alias(SOURCE_ID),
        F.col(edge.target_field).try_cast(T.LongType()).alias(TARGET_ID),
        type_col.alias(REL_TYPE),
    ]
    cols += [F.col(src).alias(dst) for src, dst in edge.properties.items()]
    return df.select(*cols)


def _anchored(pattern: str) -> str:
    """Spark ``rlike`` is a search; the model's routing is ``re.match``
    (anchored at the start). Wrap to reproduce match semantics."""
    return f"^(?:{pattern})"


def route_sources(
    df: DataFrame, element: Node | Edge, source_col: str = SOURCE_COL
) -> DataFrame:
    """Row-level routing: keep rows whose origin matches the element regex.

    ≙ reference P3 (``node_for_src``/``edge_for_src``, ``pipeline.py:108,
    118``) expressed as a filter on the origin column. Use
    :func:`route_paths` instead when origins are file paths known at plan
    time — pruning unread files beats filtering read rows at 100 TB.
    """
    return df.filter(F.col(source_col).rlike(_anchored(element.source)))


def route_paths(paths: list[str], graph: Graph) -> tuple[
    dict[Node, list[str]], dict[Edge, list[str]], list[str]
]:
    """Plan-time routing: match concrete paths/table names to model elements.

    Driver-side (mirrors the reference's driver-side ``get_streams`` loop,
    ``pipeline.py:99-127``). Returns (node→paths, edge→paths, unmatched).
    Routing misses are legal — the reference emits nothing for them
    (``pipeline.py:108-113``); we surface them for observability.

    One source may legally feed BOTH a node and an edge element (the
    stackoverflow ``posts_answers`` table does, reference
    ``so_model.json:15-21,33-40``) — hence separate node/edge maps rather
    than exclusive routing.
    """
    node_map: dict[Node, list[str]] = {}
    edge_map: dict[Edge, list[str]] = {}
    unmatched: list[str] = []
    for p in paths:
        node = graph.node_for_src(p)
        edge = graph.edge_for_src(p)
        if node is not None:
            node_map.setdefault(node, []).append(p)
        if edge is not None:
            edge_map.setdefault(edge, []).append(p)
        if node is None and edge is None:
            unmatched.append(p)
    return node_map, edge_map, unmatched
