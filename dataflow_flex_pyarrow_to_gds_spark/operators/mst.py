"""Minimum spanning forest of an undirected weighted graph — Borůvka's
algorithm as round-parallel DataFrame joins (r14, VERDICT r13 #4).

GDS ``gds.spanningTree`` parity (published semantics only — the
reference defers all graph compute to its GDS server, reference
``pipeline.py:56-95``): the set of edges forming a minimum-total-weight
spanning tree of each connected component. Kruskal's and Prim's
sequential edge/vertex scans don't distribute; Borůvka (1926) is the
member of the family built from round-parallel primitives — per round
every component selects its minimum outgoing edge and merges along it,
components at least halve, so rounds ≤ ⌈log₂ V⌉.

**Determinism / exactness.** Edge selection orders by the TOTAL order
``(weight, u, v)`` — ``min(struct(...))``, one partial-aggregated
map-side combine — which makes the spanning forest UNIQUE (the classic
distinct-weights argument applied to the lexicographic key), so the
result hash-matches any engine that replays the same total order: the
oracle is a fully UNROLLED Borůvka in plain SQL CTEs (log₂-bounded
round count, pointer-doubling contraction), and the property tests pin
it to a sequential Kruskal twin under the same order.

**Contraction.** Selected edges form, per round, a functional graph on
components (each component points at the component its min edge
reaches). Under a total order its only cycles are 2-cycles (around any
longer cycle the selected keys would have to strictly decrease — the
standard Borůvka argument), so contraction is: break 2-cycles by
letting the smaller id self-point, then pointer-double to the root —
``p ← p∘p`` per step, ≤ ⌈log₂ V⌉ steps, each ONE skinny equi-join (the
:func:`~.graph_algo.connected_components_star` scaffold).

Scale shape: state is one (node, comp) row per node plus one
(comp, parent) row per component; every round is two label equi-joins
of the edge list + one partial-agg ``min(struct)`` + the doubling
joins; lineage localCheckpoint-materialized per round (the iterative-
operator discipline repo-wide); no driver state beyond loud guards —
selected edges ACCUMULATE as a union of ≤ ⌈log₂ V⌉ skinny DataFrames,
never a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import SOURCE_ID, TARGET_ID
from ._materialize import fixpoint, materialize, materialize_count


def _double(parent: DataFrame) -> DataFrame:
    """One pointer-doubling jump ``p ← p(p)`` over ``(_c, _p)``. The
    doubling join already sees BOTH p and p(p), so the change flag
    ``_chg`` rides it."""
    rgt = parent.select(F.col("_c").alias("_rc"), F.col("_p").alias("_pp"))
    return parent.join(rgt, parent["_p"] == rgt["_rc"]).select(
        parent["_c"],
        rgt["_pp"].alias("_p"),
        (rgt["_pp"] != parent["_p"]).alias("_chg"),
    )


def minimum_spanning_forest(
    edges: DataFrame,
    *,
    weight_col: str = "weight",
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
    max_rounds: int = 40,
    max_jumps: int = 40,
    objective: str = "minimum",
) -> DataFrame:
    """→ ``(edge_u, edge_v, weight)``: the minimum (or, with
    ``objective="maximum"`` — GDS ``gds.spanningTree``'s other
    objective — maximum) spanning forest of the undirected graph, one
    row per tree edge (|V| − #components rows), unique under the
    ``(weight [negated for maximum], u, v)`` total order. Parallel
    edges collapse to their best weight for the objective; self-loops
    drop (never in a spanning tree); null endpoints/weights drop.
    Raises LOUDLY if merging or pointer-doubling exceeds its
    ⌈log₂ V⌉-scale budget — a truncated forest would silently
    disconnect components.
    """
    if objective not in ("minimum", "maximum"):
        raise ValueError(
            f"minimum_spanning_forest: objective must be 'minimum' or "
            f"'maximum', got {objective!r}"
        )
    if max_rounds < 1:
        raise ValueError(
            f"minimum_spanning_forest: max_rounds must be >= 1, "
            f"got {max_rounds}"
        )
    if max_jumps < 1:
        raise ValueError(
            f"minimum_spanning_forest: max_jumps must be >= 1, "
            f"got {max_jumps}"
        )
    spark = edges.sparkSession
    best = F.min if objective == "minimum" else F.max
    from pyspark.sql.types import IntegralType

    # maximum objective: the selection key is the NEGATED weight. For
    # INTEGRAL weights unary minus wraps silently at the type's minimum
    # value in non-ANSI mode (Long.MIN_VALUE negates to itself —
    # ADVICE r14), corrupting the (weight, u, v) total order, so those
    # go through try_multiply (NULL on overflow in EVERY SQL mode) plus
    # the loud guard below. Fractional/decimal negation is exact and
    # never overflows — and decimal must NOT take the try_multiply path
    # (the multiply widens precision, which can round at decimal(38,s)).
    integral_w = isinstance(
        edges.schema[weight_col].dataType, IntegralType
    )
    if objective == "minimum":
        key_expr = F.col("_w")
    elif integral_w:
        key_expr = F.try_multiply(F.col("_w"), F.lit(-1))
    else:
        key_expr = -F.col("_w")
    # canonicalize: undirected edge as (u < v), parallel edges keep the
    # objective-best weight (any worse parallel edge is never in the
    # forest); ``_kw`` is the SELECTION key — the weight itself for
    # minimum, its negation for maximum, so one min(struct) engine
    # serves both objectives with the tie order (u, v) ascending
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
            F.col(weight_col).alias("_w"),
        )
        .filter(
            F.col("_u").isNotNull()
            & F.col("_v").isNotNull()
            & F.col("_w").isNotNull()
            & (F.col("_u") != F.col("_v"))
        )
        .groupBy("_u", "_v")
        .agg(best("_w").alias("_w"))
        .withColumn("_kw", key_expr)
        .transform(materialize)
    )
    if objective == "maximum" and integral_w:
        # _w is non-null by the filter above, so a null key can only be
        # the try_multiply overflow sentinel
        if e.filter(F.col("_kw").isNull()).limit(1).count() > 0:
            raise ValueError(
                "minimum_spanning_forest: objective='maximum' cannot "
                "negate an integer weight at the type's minimum value "
                "(Long.MIN_VALUE-class overflow) — rescale or widen "
                "the weight column"
            )
    comp = (
        e.select(F.col("_u").alias("_n"))
        .unionByName(e.select(F.col("_v").alias("_n")))
        .distinct()
        .select("_n", F.col("_n").alias("_c"))
        .transform(materialize)
    )
    chosen_parts: list[DataFrame] = []
    # max_rounds bounds the MERGE rounds; the round that finds no
    # crossing edge only confirms (the fixpoint driver's budget rule)
    for _ in range(max_rounds + 1):
        # label endpoints with their component
        # r15: checkpoint + emptiness probe fused into ONE job
        ec, n_ec = materialize_count(
            e.join(
                comp.select(
                    F.col("_n").alias("_u"), F.col("_c").alias("_cu")
                ),
                "_u",
            )
            .join(
                comp.select(
                    F.col("_n").alias("_v"), F.col("_c").alias("_cv")
                ),
                "_v",
            )
            .filter(F.col("_cu") != F.col("_cv"))
        )
        if n_ec == 0:
            break  # forest complete (per component)
        # min outgoing edge per component under the (w, u, v) total
        # order; the far component rides in the struct for contraction
        half = ec.select(
            F.col("_cu").alias("_c"),
            F.struct(
                "_kw", "_u", "_v", F.col("_cv").alias("_o"), "_w"
            ).alias("_s"),
        ).unionByName(
            ec.select(
                F.col("_cv").alias("_c"),
                F.struct(
                    "_kw", "_u", "_v", F.col("_cu").alias("_o"), "_w"
                ).alias("_s"),
            )
        )
        sel = (
            half.groupBy("_c")
            .agg(F.min("_s").alias("_s"))
            .select(
                "_c",
                F.col("_s._w").alias("_w"),
                F.col("_s._u").alias("_u"),
                F.col("_s._v").alias("_v"),
                F.col("_s._o").alias("_o"),
            )
            .transform(materialize)
        )
        chosen_parts.append(
            sel.select("_u", "_v", "_w").distinct()
        )
        # contraction: parent pointer = the far component; components
        # with no outgoing edge (already spanning) self-point
        parent = (
            comp.select(F.col("_c")).distinct()
            .join(sel.select("_c", "_o"), "_c", "left_outer")
            .select(
                "_c", F.coalesce("_o", F.col("_c")).alias("_p")
            )
            .transform(materialize)
        )
        # 2-cycle break: mutual pairs keep the smaller id as root
        # (right side fully renamed — Spark flags same-lineage joins
        # whose column names collide as ambiguous self-joins)
        right = parent.select(
            F.col("_c").alias("_rc"), F.col("_p").alias("_pp")
        )
        parent = (
            parent.join(right, parent["_p"] == right["_rc"])
            .select(
                parent["_c"],
                F.when(
                    (right["_pp"] == parent["_c"])
                    & (parent["_c"] < parent["_p"]),
                    parent["_c"],
                )
                .otherwise(parent["_p"])
                .alias("_p"),
            )
            .transform(materialize)
        )
        # pointer doubling to the root: p ← p(p), ≤ ⌈log₂ V⌉ jumps
        parent, _ = fixpoint(
            "minimum_spanning_forest", parent, _double, F.col("_chg"),
            max_jumps,
            "pointer doubling still moving: raise max_jumps; a "
            "truncated contraction would mislabel components",
        )
        # relabel through freshly-aliased parent columns: parent's _c
        # descends from comp's _c (same exprId), so a direct
        # comp._c == parent._c join trips Spark's ambiguous-self-join
        # detection
        relabel = parent.select(
            F.col("_c").alias("_pc"), F.col("_p").alias("_np")
        )
        comp = (
            comp.join(relabel, comp["_c"] == relabel["_pc"])
            .select(comp["_n"], relabel["_np"].alias("_c"))
            .transform(materialize)
        )
    else:
        raise RuntimeError(
            "minimum_spanning_forest: components still merging after "
            f"{max_rounds} rounds — raise max_rounds (components halve "
            "per round, so this needs ~log2(V) rounds); a truncated "
            "forest would silently disconnect components"
        )
    wtype = e.schema["_w"].dataType.simpleString()
    utype = e.schema["_u"].dataType.simpleString()
    if not chosen_parts:
        return spark.createDataFrame(
            [],
            f"edge_u {utype}, edge_v {utype}, weight {wtype}",
        )
    out = chosen_parts[0]
    for part in chosen_parts[1:]:
        out = out.unionByName(part)
    return out.select(
        F.col("_u").alias("edge_u"),
        F.col("_v").alias("edge_v"),
        F.col("_w").alias("weight"),
    )
