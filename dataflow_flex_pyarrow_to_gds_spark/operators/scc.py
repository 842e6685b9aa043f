"""Strongly connected components of a DIRECTED graph — the r12
non-goal revisited and shipped (VERDICT r12 #7).

GDS ``gds.scc`` parity: every node is assigned ``scc_id`` = the
smallest node id in its strongly connected component (GDS's
component-id convention for its deterministic configurations), so two
nodes share an scc_id iff they are MUTUALLY reachable. The reference
defers all graph compute to its GDS server (reference
``pipeline.py:56-95`` ships projections and never runs algorithms);
this module re-expresses, from scratch, the published semantics only.

Algorithm — coloring decomposition (Orzan 2004's distributed SCC
coloring, the same family as the FB-Trim of Fleischer, Hendrickson &
Pinar 2000), NOT Tarjan: Tarjan's single-DFS stack is inherently
sequential, while coloring is round-parallel joins — the Pregel shape
Spark executes well. Per outer round over the remaining subgraph:

1. **Color** (forward min-label fixpoint): ``color(u)`` = the minimum
   node id that can reach ``u`` (including ``u`` itself) — per round
   ONE edge-keyed equi-join of the skinny (node, color) state + one
   partial-aggregated min groupBy, exactly the
   :func:`~.graph_algo.dag_longest_path` relaxation shape; rounds =
   remaining-graph diameter.
2. **Mark** (backward reachability within a color class): starting
   from each root (``color(u) == u``), walk edges BACKWARD restricted
   to endpoints of the same color. The classic invariant makes the
   restriction lossless: any path u ⇒ root whose endpoints are in
   SCC(root) only traverses nodes that are themselves in SCC(root) —
   an intermediate y has root ⇒ y (via u) and y ⇒ root, so y is in
   the SCC and shares the color. Marked nodes are EXACTLY SCC(root):
   color(u) = root gives root ⇒ u, the mark gives u ⇒ root.
3. **Peel**: emit marked nodes as finished components, drop them from
   the graph, repeat. Unfound nodes are those whose color root lies in
   an upstream component — each outer round finishes at least every
   current root's component, so outer rounds ≤ the condensation DAG's
   depth (+1), never |V|.

A **Trim pre-pass** (r14, the FB-Trim of Fleischer-Hendrickson-Pinar)
runs first: a node with no in-edge or no out-edge inside the remaining
graph cannot sit on a cycle, so its SCC is {itself} — each trim round
peels that mass with two semi-joins before any fixpoint runs. Real
event/dependency graphs are mostly trivial components, so a couple of
trim rounds shrink both fixpoints' input AND the condensation depth
the outer loop pays for (measured: see ARCHITECTURE.md's deep-regime
numbers). Trim is correctness-neutral — ``trim_rounds=0`` disables it
and the coloring loop produces the identical assignment.

Both fixpoints and the outer loop carry LOUD guards (the
dag_longest_path contract: a truncated result would silently merge or
split components, so non-convergence raises instead of returning
garbage).

Scale shape: state is one 16-byte (node, color) row per node; every
round is one skinny equi-join + partial-agg min (map-side combined)
whose changed-row count rides the checkpoint job — no probe job,
never a cartesian; lineage is localCheckpoint-materialized per round (the
iterative-operator discipline everywhere in this repo). The backward
mark is frontier-based (only newly marked nodes join each round).
Rounds scale with component diameter and condensation depth, the
documented regime for the shallow-and-wide graphs data pipelines
have; million-deep pathological chains would compose the
pointer-doubling trade documented at
:func:`~.graph_algo.connected_components_star`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import NODE_ID, SOURCE_ID, TARGET_ID
from ._materialize import fixpoint, materialize, materialize_count

import threading
from functools import reduce

#: Thread-local holder for the most recent
#: :func:`strongly_connected_components` call's round counters (no
#: data). Thread-LOCAL (ADVICE r14): a process-global dict would let
#: concurrent driver threads clobber each other's diagnostics. Read via
#: :func:`last_run_stats`; written for the deep-regime measurement
#: harness (scripts/scc_deep_regime.py) and regression tests; NOT part
#: of the result contract.
_RUN_STATS_TLS = threading.local()


def last_run_stats() -> dict:
    """Round counters from the most recent
    :func:`strongly_connected_components` call ON THIS THREAD (a copy;
    empty dict if none has run here)."""
    return dict(getattr(_RUN_STATS_TLS, "stats", {}))


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def _color_round(e: DataFrame, color: DataFrame) -> DataFrame:
    """One forward min-label round over the remaining edges ``e``
    → ``(nodeId, _color, _chg)``.

    The change flag rides the same left join (labels only decrease, so
    changed ⟺ strictly smaller), and a label SHORTCUT through the
    previous round's checkpointed mapping doubles the reach per round
    — valid for DIRECTED reachability because "label reaches node" is
    transitive (color(v)=u means u→v; color(u)=w means w→u, hence
    w→v), so labels stay reacher-ids, stay monotone, and every fixpoint
    is still the min-reacher coloring; rounds O(depth) → O(log depth).
    """
    cand = (
        e.join(
            color.select(
                F.col(NODE_ID).alias("_s"), F.col("_color").alias("_cs")
            ),
            "_s",
        )
        .groupBy(F.col("_t").alias(NODE_ID))
        .agg(F.min("_cs").alias("_cin"))
    )
    return (
        color.join(cand, NODE_ID, "left_outer")
        .select(
            NODE_ID,
            F.least(
                F.col("_color"), F.coalesce("_cin", F.col("_color"))
            ).alias("_c1"),
            F.col("_color").alias("_old"),
        )
        .join(
            color.select(
                F.col(NODE_ID).alias("_c1"), F.col("_color").alias("_c2")
            ),
            "_c1",
        )
        .select(
            NODE_ID,
            F.least("_c1", "_c2").alias("_color"),
            (F.least("_c1", "_c2") < F.col("_old")).alias("_chg"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    *,
    max_outer: int = 16,
    max_rounds: int = 64,
    trim_rounds: int = 2,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """→ ``(nodeId, scc_id)`` for EVERY node appearing in ``edges``,
    ``scc_id`` = min node id of the node's strongly connected
    component. Deterministic, exact integers end to end — the oracle
    replays it as a recursive transitive closure plus a mutual-
    reachability min. Raises loudly if either fixpoint or the outer
    peel exceeds its round budget (see module docstring)."""
    if max_outer < 1:
        raise ValueError(
            f"strongly_connected_components: max_outer must be >= 1, "
            f"got {max_outer}"
        )
    if max_rounds < 1:
        raise ValueError(
            f"strongly_connected_components: max_rounds must be >= 1, "
            f"got {max_rounds}"
        )
    e_all = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
        .filter(F.col("_s").isNotNull() & F.col("_t").isNotNull())
        .distinct()
        .transform(materialize)
    )
    remaining, n_remaining = materialize_count(
        e_all.select(F.col("_s").alias(NODE_ID))
        .unionByName(e_all.select(F.col("_t").alias(NODE_ID)))
        .distinct()
    )
    spark = edges.sparkSession
    found_parts: list[DataFrame] = []
    stats = {
        "trim_rounds": 0,
        "outer_rounds": 0,
        "color_rounds": [],
        "mark_rounds": [],
    }
    # -- Trim pre-pass (r14): peel trivial SCCs before any fixpoint ----
    # A node missing an in-edge OR an out-edge in the remaining graph
    # cannot lie on a cycle → singleton component, scc_id = itself.
    # Bounded rounds, no guard needed: trim is an optimization, and the
    # coloring loop below is complete without it.
    # r15: every checkpoint in the trim loop carries its row count
    # (materialize_count), so the emptiness probes are arithmetic on
    # counts already paid for — zero extra probe jobs per round
    for _ in range(max(trim_rounds, 0)):
        if n_remaining == 0:
            break
        e_r = (
            e_all.join(
                remaining.withColumnRenamed(NODE_ID, "_s"), "_s", "semi"
            )
            .join(
                remaining.withColumnRenamed(NODE_ID, "_t"), "_t", "semi"
            )
            .transform(materialize)
        )
        nontrivial, n_nontrivial = materialize_count(
            remaining.join(
                e_r.select(F.col("_t").alias(NODE_ID)), NODE_ID, "semi"
            )
            .join(
                e_r.select(F.col("_s").alias(NODE_ID)), NODE_ID, "semi"
            )
        )
        if n_nontrivial == n_remaining:
            break  # nothing trivial this round
        trivial = remaining.join(nontrivial, NODE_ID, "anti")
        found_parts.append(
            trivial.select(
                NODE_ID, F.col(NODE_ID).cast("long").alias("scc_id")
            )
        )
        stats["trim_rounds"] += 1
        remaining, n_remaining = nontrivial, n_nontrivial
    for _outer in range(max_outer):
        if n_remaining == 0:
            break
        stats["outer_rounds"] += 1
        e = (
            e_all.join(
                remaining.withColumnRenamed(NODE_ID, "_s"), "_s", "semi"
            )
            .join(
                remaining.withColumnRenamed(NODE_ID, "_t"), "_t", "semi"
            )
            .transform(materialize)
        )
        # -- phase 1: forward min-label fixpoint ------------------------
        color, color_rounds = fixpoint(
            "strongly_connected_components",
            remaining.select(
                NODE_ID, F.col(NODE_ID).alias("_color")
            ).transform(materialize),
            lambda color: _color_round(e, color), F.col("_chg"), max_rounds,
            "color fixpoint still changing: raise max_rounds for a deeper "
            "graph; a truncated coloring would silently merge components",
        )
        color = color.drop("_chg")
        stats["color_rounds"].append(color_rounds)
        # -- phase 2: backward mark within each color class -------------
        # edges whose endpoints share a color, keyed for the backward walk
        ec = (
            e.join(
                color.select(
                    F.col(NODE_ID).alias("_s"), F.col("_color").alias("_c1")
                ),
                "_s",
            )
            .join(
                color.select(
                    F.col(NODE_ID).alias("_t"), F.col("_color").alias("_c2")
                ),
                "_t",
            )
            .filter(F.col("_c1") == F.col("_c2"))
            .select("_s", "_t")
            .transform(materialize)
        )
        # the mark set stays a LAZY union of checkpointed frontiers
        # (children are checkpoints — no recompute, no per-round copy);
        # a round's count is its frontier, so the walk stops on the
        # first round that marks nothing new
        marked: list[DataFrame] = []

        def expand(frontier: DataFrame) -> DataFrame:
            marked.append(frontier)
            preds = (
                ec.join(
                    frontier.select(F.col(NODE_ID).alias("_t")),
                    "_t",
                    "semi",
                )
                .select(F.col("_s").alias(NODE_ID))
                .distinct()
            )
            return (
                preds.join(_union(marked), NODE_ID, "anti")
                .join(color, NODE_ID)
                .select(NODE_ID, "_color")
            )

        _, mark_rounds = fixpoint(
            "strongly_connected_components",
            color.filter(F.col(NODE_ID) == F.col("_color")).transform(
                materialize
            ),
            expand, None, max_rounds,
            "backward mark still expanding: raise max_rounds; a "
            "truncated mark would silently split a component",
        )
        mark = _union(marked)
        stats["mark_rounds"].append(mark_rounds)
        found_parts.append(
            mark.select(
                NODE_ID, F.col("_color").cast("long").alias("scc_id")
            )
        )
        remaining, n_remaining = materialize_count(
            remaining.join(mark, NODE_ID, "anti")
        )
    else:
        if n_remaining > 0:
            raise RuntimeError(
                "strongly_connected_components: nodes still unassigned "
                f"after {max_outer} outer peels — the condensation DAG "
                "is deeper than max_outer; raise it (a partial result "
                "would silently drop components)"
            )
    _RUN_STATS_TLS.stats = dict(stats)
    if not found_parts:
        return spark.createDataFrame([], f"{NODE_ID} long, scc_id long")
    return _union(found_parts)


def scc_condensation(
    edges: DataFrame,
    scc: DataFrame,
    *,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """Condensation DAG of a directed graph given its SCC assignment
    (:func:`strongly_connected_components`'s output) →
    ``(source_scc, target_scc, cross_edges)``: one row per ordered
    pair of DISTINCT components connected by at least one original
    edge, with the cross-edge multiplicity. The contracted quotient
    graph is acyclic by construction — it is what dependency
    schedulers and cycle-breaking passes actually consume (GDS
    exposes the same contraction as component-level projections).

    Scale shape: two skinny equi-joins mapping each edge endpoint to
    its component + one partial-aggregated count — no iteration, no
    driver state; output is bounded by the number of component pairs,
    ≤ edges.
    """
    lab_s = scc.select(
        F.col(NODE_ID).alias("_s"), F.col("scc_id").alias("source_scc")
    )
    lab_t = scc.select(
        F.col(NODE_ID).alias("_t"), F.col("scc_id").alias("target_scc")
    )
    return (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
        .join(lab_s, "_s")
        .join(lab_t, "_t")
        .filter(F.col("source_scc") != F.col("target_scc"))
        .groupBy("source_scc", "target_scc")
        .agg(F.count(F.lit(1)).alias("cross_edges"))
    )
