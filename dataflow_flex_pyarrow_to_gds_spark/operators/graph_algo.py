"""Graph algorithms over the exported GDS-layout tables.

The reference streams data INTO Neo4j GDS and lets the server compute;
owning the materialization means basic graph analytics run right here on
the node/edge DataFrames:

- :func:`node_degrees` — in/out/total degree: two partial-aggregated
  groupBys + an outer merge; one shuffle per direction.
- :func:`connected_components` — iterative min-label propagation to a
  fixpoint (the DataFrame form of GraphX/Pregel CC). Each round is a
  join + groupBy on the component frontier; rounds = graph diameter
  (checkpointed every round to truncate lineage — without it the plan
  doubles per iteration). Diameter is small for the star-shaped graphs
  the loader produces; for web-scale graphs swap in the
  large-star/small-star variant with the same DataFrame skeleton.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .graph import NODE_ID, SOURCE_ID, TARGET_ID
from ._materialize import fixpoint, materialize, materialize_count


def node_degrees(edges: DataFrame) -> DataFrame:
    """Per node: out_degree, in_degree, degree (missing side = 0)."""
    out_d = edges.groupBy(F.col(SOURCE_ID).alias(NODE_ID)).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col(TARGET_ID).alias(NODE_ID)).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, NODE_ID, "full_outer")
        .na.fill(0, ["out_degree", "in_degree"])
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(nodeId, component) with component = min nodeId in the component.

    Undirected semantics: edges propagate labels both ways. Converges in
    O(diameter) rounds; raises if max_iter is hit without a fixpoint
    (silent truncation would mislabel components).
    """
    sym = (
        edges.select(F.col(SOURCE_ID).alias("a"), F.col(TARGET_ID).alias("b"))
        .unionByName(
            edges.select(
                F.col(TARGET_ID).alias("a"), F.col(SOURCE_ID).alias("b")
            )
        )
        .distinct()
    )
    # restrict to the node-induced subgraph ONCE (the pre-r15 round
    # dropped out-of-node endpoints every round via its left join; the
    # union-groupBy round below keeps every groupBy key, so the same
    # restriction must happen up front — two build-time semi-joins,
    # equivalent propagation)
    ns = nodes.select(F.col(NODE_ID).alias("a"))
    sym = (
        sym.join(ns, "a", "left_semi")
        .join(ns.withColumnRenamed("a", "b"), "b", "left_semi")
    )
    sym = sym.transform(materialize)  # reused every round — fix it once

    # r15 round shape (guide §2.4 — the old round spent 5 exchanges +
    # a separate join-probe job per round; this one spends 3 exchanges
    # and counts a change flag inside its checkpoint job): contributions
    # = own label (own=1) ∪ neighbor labels (own=0), ONE join + ONE
    # partial-agg groupBy taking min over the closed neighborhood —
    # identical to least(own, min(neighbors)) — while max(own-row
    # label) recovers the previous label so the change flag rides the
    # same aggregate.
    # ... plus a label-SHORTCUT per round (pointer doubling through the
    # previous round's checkpointed mapping: component ← prev[component]
    # after the neighborhood min) — labels stay component-member ids and
    # only decrease, so every fixpoint is still the min-id labeling, but
    # the reach radius doubles per round: O(log diameter) rounds instead
    # of O(diameter).
    def step(comp: DataFrame) -> DataFrame:
        contrib = (
            comp.join(sym, comp[NODE_ID] == sym["a"])
            .select(
                F.col("b").alias(NODE_ID),
                "component",
                F.lit(0).alias("_own"),
            )
            .unionByName(
                comp.select(NODE_ID, "component", F.lit(1).alias("_own"))
            )
        )
        nbr_min = contrib.groupBy(NODE_ID).agg(
            F.min("component").alias("_c1"),
            F.max(F.when(F.col("_own") == 1, F.col("component"))).alias(
                "_old"
            ),
        )
        return nbr_min.join(
            comp.select(
                F.col(NODE_ID).alias("_c1"),
                F.col("component").alias("_c2"),
            ),
            "_c1",
        ).select(
            NODE_ID,
            F.least("_c1", "_c2").alias("component"),
            (F.least("_c1", "_c2") < F.col("_old")).alias("_chg"),
        )

    comp, _ = fixpoint(
        "connected_components",
        nodes.select(NODE_ID, F.col(NODE_ID).alias("component")),
        step, F.col("_chg"), max_iter,
        "raise max_iter; a truncated labeling would split components",
    )
    return comp.select(NODE_ID, "component")


def _sym(pairs: DataFrame) -> DataFrame:
    """Both directions of a CANONICAL (u < v, distinct) pair set. The two
    directions cannot overlap for canonical input, so no distinct — a
    per-round shuffle saved."""
    return pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _neighborhood_mins(sym: DataFrame) -> DataFrame:
    """m(u) = min(N(u) ∪ {u}) per node of a symmetric edge list."""
    return sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """(nodeId, component) via alternating large-star/small-star rounds —
    the O(log n)-round CC for high-diameter graphs (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), where
    min-label propagation's O(diameter) rounds would be prohibitive.

    Each round is two aggregation+join passes over the current edge set:

    - large-star: every node points its LARGER neighbors at its
      neighborhood minimum — (v, m(u)) for v ∈ N(u), v > u;
    - small-star: every node points its smaller-or-equal neighbors (and
      itself) at the minimum — (v, m(u)) for v ∈ N(u), v ≤ u, plus
      (u, m(u)).

    Both emit canonical (min, max) pairs; convergence = the pair set
    reaches a fixpoint (a forest of depth-1 stars whose roots are the
    component minima). Same output contract as
    :func:`connected_components` — cross-checked in tests on identical
    fixtures.
    """
    def _sig(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    pairs = (
        edges.select(
            F.least(F.col(SOURCE_ID), F.col(TARGET_ID)).alias("u"),
            F.greatest(F.col(SOURCE_ID), F.col(TARGET_ID)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .transform(materialize)
    )
    prev_sig = _sig(pairs)

    for _ in range(max_iter):
        sym = _sym(pairs)
        # large-star: (v, m(u)) for v > u; m < v always, so (m, v) is
        # already canonical
        mins = _neighborhood_mins(sym)
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the large-star output
        sym2 = _sym(large)
        mins2 = _neighborhood_mins(sym2)
        small = (
            sym2.join(mins2, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("m").alias("u"), F.col("v"))
            .unionByName(
                mins2.select(F.col("m").alias("u"), F.col("u").alias("v"))
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(materialize)  # truncate lineage per round
        )
        # Convergence: a cheap order-independent signature (count +
        # bit_xor of pair hashes — ONE aggregate over the checkpointed
        # set, carried between rounds) gates the EXACT check. Only when
        # signatures match do we pay an exceptAll; with equal counts and
        # distinct sets, one-sided emptiness ⟺ set equality. Rounds that
        # are still moving cost one aggregate, not two exceptAll shuffles
        # (measured: the exact-check-every-round variant spent ~2/3 of
        # its wall on convergence checking).
        sig = _sig(small)
        converged = (
            sig == prev_sig
            and small.exceptAll(pairs).limit(1).count() == 0
        )
        pairs = small
        prev_sig = sig
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint in {max_iter} rounds"
        )

    # converged star forest: every pair is (root, member)
    membership = pairs.groupBy(F.col("v").alias(NODE_ID)).agg(
        F.min("u").alias("component")
    )
    return (
        nodes.select(NODE_ID)
        .join(membership, NODE_ID, "left_outer")
        .select(
            NODE_ID,
            F.coalesce("component", F.col(NODE_ID)).alias("component"),
        )
    )


def write_bucketed_edges(
    spark,
    edges: DataFrame,
    table: str,
    *,
    buckets: int = 8,
    src: str = SOURCE_ID,
) -> DataFrame:
    """Persist ``edges`` as a Hive-bucketed table on the source id and
    return the bucketed scan — the pay-the-shuffle-once layout for
    iterative algorithms: every later join or aggregation keyed on
    ``src`` reads the bucket partitioning off disk and needs NO
    Exchange (tests/test_bucketing.py proves the property on the
    physical plan; :func:`pagerank_fixedpoint` with
    ``merge_edge_joins=True`` is the consumer). At 100 TB the edge
    table is the only fat operand — bucketing it turns each PageRank
    iteration's edge-side shuffle (the dominant cost, paid ``iters``
    times) into a one-time write.

    Contract: ``table`` must be an UNQUALIFIED name in the default
    database (enforced below) — the crash-leftover cleanup derives the
    managed location as ``<warehouse.dir>/<lowercase name>``, which only
    holds for that case, and only applies when the warehouse is a plain
    local path (``file:`` URI); on any other catalog/filesystem the
    cleanup is skipped and a genuinely orphaned dir surfaces as the
    saveAsTable error it always was (ADVICE r6)."""
    import os
    import shutil

    if "." in table:
        raise ValueError(
            f"write_bucketed_edges requires an unqualified table name in "
            f"the default database, got {table!r}"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a crashed run can leave the managed dir behind without a catalog
    # entry — clear it so saveAsTable doesn't fail
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:") or "://" not in wh:
        leftover = os.path.join(wh.removeprefix("file:"), table.lower())
        shutil.rmtree(leftover, ignore_errors=True)
    # Repartition on the bucket key first: without it every writer task
    # emits a file per bucket (tasks × buckets small files — measured
    # 2× slower iteration reads at 32 buckets); with it each bucket is
    # one file and the scan's per-bucket sort order survives.
    edges.repartition(buckets, F.col(src)).write.bucketBy(
        buckets, src
    ).sortBy(src).mode("overwrite").saveAsTable(table)
    return spark.table(table)


#: The rank family's damping factor — 0.85, GDS's default — as the exact
#: fraction the int64 floor arithmetic (and the DuckDB twins) unroll.
_DAMP_NUM, _DAMP_DEN = 85, 100


def _out_degree(edges: DataFrame) -> DataFrame:
    """``(nodeId, _od)``: the out-degree divisor table of the unweighted
    rank family (one partial-aggregated groupBy on the source id)."""
    return edges.groupBy(F.col(SOURCE_ID).alias(NODE_ID)).agg(
        F.count(F.lit(1)).alias("_od")
    )


def _teleport_base(scale: int, n: int) -> int:
    """``(15 · scale div 100) div n``: the teleport mass each of ``n``
    nodes receives per round (15/100 = 1 − the damping fraction)."""
    return (_DAMP_DEN - _DAMP_NUM) * scale // _DAMP_DEN // n


def _uniform_start(
    nodes: DataFrame, scale: int
) -> tuple[DataFrame, int, DataFrame, Column]:
    """The node universe of a global rank (PageRank, weighted PageRank,
    ArticleRank), checkpointed once with its count N riding the same
    job, and the start of the recurrence on it → ``(nodes, N, ranks,
    teleport)``: every node starts at ``scale div N`` and teleports
    ``base = (15 · scale div 100) div N`` per round. The checkpoint
    keeps every round's job from re-deriving the node list from the
    source plan."""
    nodes, n = materialize_count(nodes.select(NODE_ID))
    n = max(n, 1)  # an empty universe has no rows to rank whatever N is
    ranks = nodes.select(
        NODE_ID, F.lit(scale // n).cast("long").alias("rank_fp")
    )
    return nodes, n, ranks, F.lit(_teleport_base(scale, n))


def _rank_round(
    nodes: DataFrame,
    edges: DataFrame,
    norm: DataFrame,
    ranks: DataFrame,
    contrib: Column,
    teleport: Column,
) -> DataFrame:
    """One superstep of the exact-integer rank family → the next
    ``(nodeId, rank_fp)``::

        r(v) ← teleport(v) + (85 · Σ_{u→v} contrib(u, v)) div 100

    ``edges`` (source, target, any edge columns) ⋈ ``ranks`` ⋈ the
    per-source divisor table ``norm`` (keyed ``nodeId``) on the source
    id; ``contrib`` is the per-edge floor-division contribution over
    those columns (``rank_fp``, the divisor, the edge's own), summed by
    target; ``nodes`` ⟕ the sums carries every node, and ``teleport``
    is a Column over ``nodes``. Every step is int64 (or DECIMAL, cast
    back) floor arithmetic — no float sum anywhere — so the ranks are
    bit-exact on any engine, partitioning and aggregation order.

    Scale shape (a Pregel superstep — one vertex ⋈ message dataflow):
    ONE edge-keyed join of the skinny rank table, one partial-
    aggregated groupBy on the target id, one join back onto the node
    table. The edge table is the only big operand; it moves at most
    in its join shuffle, and not at all when it is a bucketed scan
    hinted ``merge`` (:func:`write_bucketed_edges`)."""
    sums = (
        edges.join(ranks.withColumnRenamed(NODE_ID, SOURCE_ID), SOURCE_ID)
        .join(norm.withColumnRenamed(NODE_ID, SOURCE_ID), SOURCE_ID)
        .select(F.col(TARGET_ID).alias(NODE_ID), contrib.alias("_c"))
        .groupBy(NODE_ID)
        .agg(F.sum("_c").alias("_s"))
    )
    damped = F.expr(f"({_DAMP_NUM} * coalesce(_s, 0L)) div {_DAMP_DEN}")
    return nodes.join(sums, NODE_ID, "left_outer").select(
        NODE_ID, (teleport + damped).cast("long").alias("rank_fp")
    )


def _rank_rounds(
    iters: int,
    nodes: DataFrame,
    edges: DataFrame,
    norm: DataFrame,
    ranks: DataFrame,
    contrib: Column,
    teleport: Column,
) -> DataFrame:
    """``iters`` :func:`_rank_round` supersteps, each checkpointed to
    truncate lineage — the loop every rank operator ends in."""
    if iters < 1:
        raise ValueError(f"rank operators: iters must be >= 1, got {iters}")
    for _ in range(iters):
        ranks = _rank_round(
            nodes, edges, norm, ranks, contrib, teleport
        ).transform(materialize)
    return ranks


def pagerank_fixedpoint(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 4,
    scale: int = 10**12,
    merge_edge_joins: bool = False,
) -> DataFrame:
    """PageRank in integer micro-units → ``(nodeId, rank_fp)`` where
    ``rank_fp`` ≈ rank · ``scale`` as a BIGINT.

    Every step is int64 arithmetic with FLOOR division — no float
    summation anywhere — so the result is bit-exact on any engine, any
    partitioning, any aggregation order (float PageRank can't be
    hash-checked across engines because Σ contributions picks up
    order-dependent rounding dust). Per iteration (damping 0.85, GDS's
    default, as the exact fraction 85/100)::

        r(v) ← base + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100
        base  = (15 · scale div 100) div N

    Fixed ``iters`` ≥ 1 (power-iteration truncation is part of the
    operator contract — the oracle unrolls the same count); dangling
    nodes leak their mass (the simplified variant; the floor divisions
    leak < N · iters micro-units more, negligible at scale 10¹²).

    Scale shape: per iteration ONE edge-keyed join of the skinny rank
    table + one partially-aggregated groupBy on the target id
    (:func:`_rank_round`), checkpointed per round. The node list, edge
    pairs and out-degrees are fixed once, so no round re-derives them
    from the source plan. Degrees and ranks never exceed 8-byte rows;
    the edge table is the only big operand and it never moves beyond
    its join shuffle (bucket it by source id to delete even that —
    tests/test_bucketing.py pattern).

    ``merge_edge_joins=True`` is the bucketed-edge mode: pass edges
    read from a :func:`write_bucketed_edges` table and the per-
    iteration rank join is pinned to sort-merge (a broadcast of the
    rank table would hide the layout win at test scale and is the
    wrong strategy at 100 TB, where ranks are one row per node). The
    edge scan then satisfies the join's distribution straight off its
    disk buckets — NO Exchange on the edge side in any iteration, and
    the out-degree aggregate reuses the same bucketing shuffle-free;
    only the skinny rank/contribution streams move per round
    (asserted on the physical plan by scripts/explain_audit.py).
    """
    nodes, _, ranks, teleport = _uniform_start(nodes, scale)
    edge_pairs = edges.select(SOURCE_ID, TARGET_ID)
    if merge_edge_joins:
        # bucketed mode: edge_pairs MUST stay the bucketed scan (a
        # checkpoint would orphan the on-disk bucket distribution and
        # re-introduce the per-iteration edge Exchange this mode
        # deletes); the hint pins the per-iteration join to sort-merge
        outdeg = _out_degree(edge_pairs)
        edge_pairs = edge_pairs.hint("merge")
    else:
        edge_pairs = edge_pairs.transform(materialize)
        outdeg = _out_degree(edge_pairs).transform(materialize)
    return _rank_rounds(
        iters, nodes, edge_pairs, outdeg, ranks,
        F.expr("rank_fp div _od"), teleport,
    )


def pagerank_weighted(
    nodes: DataFrame,
    edges: DataFrame,
    weight_col: str,
    *,
    iters: int = 4,
    scale: int = 10**12,
) -> DataFrame:
    """Weighted PageRank — GDS ``gds.pageRank`` with
    ``relationshipWeightProperty`` parity (r12) in the
    :func:`pagerank_fixedpoint` exact-integer contract →
    ``(nodeId, rank_fp)``: rank mass leaves each node ∝ edge weight
    instead of 1/outdeg. Per iteration::

        r(v) ← base + (85 · Σ_{u→v} ((r(u) · w_uv) div W_u)) div 100
        W_u   = Σ_{u→x} w_ux      (per-source out-weight total)

    Weights must be POSITIVE int64 (GDS casts float weights; integer
    weights — co-occurrence counts, interaction tallies, capped
    affinities — are the cross-engine-exact form: the per-edge floor
    division makes every contribution an order-independent integer, so
    the ranks hash-match an ANSI oracle bit-for-bit where float
    weighted PageRank never could). ``r · w`` rides DECIMAL(25,0)
    (10¹² scale × 10¹² aggregate weight headroom) before the div back
    to int64. Same contract edges as the unweighted form: fixed
    ``iters`` truncation, dangling nodes leak their mass, floor dust
    < N · iters micro-units.

    Scale shape: identical to :func:`pagerank_fixedpoint` — the
    weight column rides the SAME edge join that carries the rank (no
    extra shuffle vs unweighted), W_u is one partial-aggregated
    groupBy computed once, per round one skinny join + one
    partial-agg groupBy, lineage checkpointed. The derived weighted
    edge list is fixed once (for the co-order catalog row it is a
    lineitem self-join that every round would otherwise re-run).
    """
    nodes, _, ranks, teleport = _uniform_start(nodes, scale)
    e = edges.select(
        SOURCE_ID, TARGET_ID, F.col(weight_col).cast("long").alias("_w")
    ).transform(materialize)
    wsum = (
        e.groupBy(F.col(SOURCE_ID).alias(NODE_ID))
        .agg(F.sum("_w").alias("_wt"))
        .transform(materialize)
    )
    contrib = F.expr("(CAST(rank_fp AS DECIMAL(25,0)) * _w) div _wt")
    return _rank_rounds(
        iters, nodes, e, wsum, ranks, contrib.cast("long"), teleport
    )


def dag_longest_path(
    edges: DataFrame,
    *,
    max_iter: int = 64,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.dag.longestPath`` parity (r12) → ``(nodeId, level)``
    where ``level`` = the number of edges on the LONGEST path ending at
    the node (0 for sources) — topological depth, the scheduling /
    lineage-depth / curriculum-stage measure over any DAG (order
    chains, derivation graphs, build graphs).

    Bellman-Ford-style max-relaxation to a fixpoint::

        level(v) = max(level(v), 1 + max_{u→v} level(u))

    iterated until NO level changes (early exit; rounds = DAG depth).
    Exact small integers end to end — trivially engine-independent.
    LOUD failure at ``max_iter``: levels on a DAG converge within
    depth ≤ |V| rounds, so non-convergence proves a CYCLE — the same
    contract as GDS's topological-sort family, which errors on cyclic
    input rather than returning garbage (a silent cap would return
    levels that look plausible and mean nothing).

    Scale shape: state is one 16-byte (node, level) row per node; per
    round ONE edge-keyed equi-join of the skinny state + one
    partial-aggregated max groupBy, lineage checkpointed; the changed-
    row count is observed inside the checkpoint job.
    Rounds = depth: the right regime for the shallow-and-wide DAGs
    data pipelines actually have. A frontier/delta variant was
    MEASURED WORSE here (327 s vs 18 s at sf0.1): longest-path levels
    keep rising until the deepest predecessor settles, so on chain-
    heavy DAGs the "frontier" stays ≈ the whole unsettled suffix every
    round and the extra per-round delta checkpoint only adds floor
    cost. For pathological million-deep chains compose pointer-
    doubling instead (the :func:`connected_components_star` trade,
    documented not built).
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
    nodes = (
        e.select(F.col("_s").alias(NODE_ID))
        .unionByName(e.select(F.col("_t").alias(NODE_ID)))
        .distinct()
        .transform(materialize)
    )
    e = e.transform(materialize)

    def step(levels: DataFrame) -> DataFrame:
        cand = (
            e.join(
                levels.withColumnRenamed(NODE_ID, "_s"), "_s"
            )
            .groupBy(F.col("_t").alias(NODE_ID))
            .agg((F.max("level") + F.lit(1)).alias("_nl"))
        )
        # r15: the change flag rides the SAME left join that builds the
        # next level table (levels grow monotonically, so changed ⟺
        # strictly greater) — the old probe re-joined the two level
        # tables in a separate job per round
        level = F.greatest(F.col("level"), F.coalesce("_nl", F.lit(0)))
        return levels.join(cand, NODE_ID, "left_outer").select(
            NODE_ID,
            level.cast("long").alias("level"),
            (level > F.col("level")).alias("_chg"),
        )

    levels, _ = fixpoint(
        "dag_longest_path",
        nodes.select(NODE_ID, F.lit(0).cast("long").alias("level")),
        step, F.col("_chg"), max_iter,
        "levels still changing: the input has a cycle (or raise max_iter "
        "for a deeper DAG); a truncated result would silently understate "
        "depths",
    )
    return levels.select(NODE_ID, "level")


def personalized_pagerank_fixedpoint(
    seeds: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 4,
    scale: int = 10**12,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to ``seeds``) in
    the same exact-integer fixed-point contract as
    :func:`pagerank_fixedpoint` → ``(nodeId, rank_fp)``: the teleport
    mass returns to the SEED set instead of everywhere, so ranks
    measure proximity to the seeds — the standard graph feature for
    recommendation, trust propagation, and seed-expansion curation
    ("grow the whitelist toward everything the trusted nodes point
    at", the weighted cousin of :func:`bfs_hop_distance`)::

        r(v) ← is_seed(v) · base
               + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100
        base  = (15 · scale div 100) div |seeds|

    Every step is int64 floor arithmetic — hash-exact on any engine,
    any partitioning (the oracle unrolls the same iterations).
    Dangling mass leaks as in the simplified global variant. Node
    universe = edge endpoints ∪ seeds; non-seed nodes start (and may
    stay) at 0. Seeding every node is :func:`pagerank_fixedpoint`
    bit-for-bit.

    Scale shape: identical to :func:`pagerank_fixedpoint` — per
    iteration one edge-keyed join of the skinny rank table + one
    partial-aggregated groupBy; the node table carries the seed flag
    and the out-degree (one groupBy, checkpointed once — it is also
    the round's divisor table), and the hubs-only checkpoint rule
    (:func:`hits_fixedpoint`) does not apply — there is one table, so
    it checkpoints each round.
    """
    # Fix the edge list once: unlike pagerank_fixedpoint's catalog graph
    # (a cheap column projection), PPR inputs are often DERIVED edge
    # sets (the catalog row's co-order self-join) that would otherwise
    # recompute inside every iteration's join.
    e = edges.select(SOURCE_ID, TARGET_ID).transform(materialize)
    seed = F.col("_seed")

    def rows(node: Column, od: int, is_seed: int) -> list[Column]:
        return [node.alias(NODE_ID), F.lit(od).alias("_od"),
                F.lit(is_seed).alias("_seed")]

    # ONE groupBy builds the node table (endpoints ∪ seeds, with the
    # seed flag) and the out-degree divisor together; the table is
    # checkpointed once and the seed count rides that job
    nodes, n_seeds = materialize_count(
        e.select(*rows(F.col(SOURCE_ID), 1, 0))
        .unionByName(e.select(*rows(F.col(TARGET_ID), 0, 0)))
        .unionByName(seeds.select(*rows(F.col(NODE_ID), 0, 1)))
        .groupBy(NODE_ID)
        .agg(F.sum("_od").alias("_od"), F.max("_seed").alias("_seed")),
        where=seed == 1,
    )
    if n_seeds == 0:
        raise ValueError("personalized_pagerank_fixedpoint: empty seeds")
    ranks = nodes.select(
        NODE_ID,
        (seed * F.lit(scale // n_seeds)).cast("long").alias("rank_fp"),
    )
    teleport = seed * F.lit(_teleport_base(scale, n_seeds))
    return _rank_rounds(
        iters, nodes, e, nodes, ranks, F.expr("rank_fp div _od"), teleport
    )


def triangle_count(edges: DataFrame, src: str = SOURCE_ID, dst: str = TARGET_ID) -> DataFrame:
    """Global triangle count of the UNDIRECTED graph given by ``edges``
    (direction and duplicates ignored; self-loops dropped) — the
    compact-forward / degree-orientation algorithm (Latapy 2008; the
    standard distributed formulation, cf. Suri & Vassilvitskii WWW'11):

    1. canonicalize to distinct undirected edges;
    2. orient every edge from its (degree, id)-SMALLER endpoint to the
       larger — an acyclic orientation in which each triangle has
       exactly one "wedge apex", so it is found exactly once;
    3. wedge join (a→b)⋈(b→c) + closing-edge semi join (a→c).

    Why orientation matters at 100 TB: wedge volume is Σᵥ outdeg(v)²,
    and degree-orientation bounds every outdeg by O(√m) on any graph —
    a raw id-ordering instead leaves hub nodes with outdeg ≈ deg, and
    one celebrity node turns the wedge join into a cartesian blowup.
    All three joins are equi-joins on node ids (skinny 16-B rows); the
    closing check is a LEFT SEMI join so wedges never materialize the
    third edge's payload. Returns a 1-row DataFrame ``(n_triangles)``.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )
    deg = (
        e.select(F.col("_u").alias("_n"))
        .unionByName(e.select(F.col("_v").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    ranked = (
        e.join(deg.withColumnRenamed("_n", "_u").withColumnRenamed("_d", "_du"), "_u")
        .join(deg.withColumnRenamed("_n", "_v").withColumnRenamed("_d", "_dv"), "_v")
        .select(
            F.when(
                (F.col("_du") < F.col("_dv"))
                | ((F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))),
                F.struct(F.col("_u").alias("s"), F.col("_v").alias("t")),
            )
            .otherwise(
                F.struct(F.col("_v").alias("s"), F.col("_u").alias("t"))
            )
            .alias("_o")
        )
        .select(F.col("_o.s").alias("_s"), F.col("_o.t").alias("_t"))
    )
    wedges = (
        ranked.alias("e1")
        .join(
            ranked.alias("e2"),
            F.col("e1._t") == F.col("e2._s"),
        )
        .select(
            F.col("e1._s").alias("_a"),
            F.col("e1._t").alias("_b"),
            F.col("e2._t").alias("_c"),
        )
    )
    closed = wedges.join(
        ranked.select(F.col("_s").alias("_a"), F.col("_t").alias("_c")),
        ["_a", "_c"],
        "left_semi",
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def link_prediction_scores(
    edges: DataFrame,
    node_col: str,
    via_col: str,
    *,
    k: int = 50,
    max_via_degree: int | None = None,
) -> DataFrame:
    """Link-prediction scores for pairs of ``node_col`` entities that
    share ``via_col`` neighbors — the bipartite-projection form of the
    classic neighborhood indices: ``common_neighbors`` is the shared
    count, ``ra_micro`` the Resource Allocation index (Zhou, Lü & Zhang
    2009, Σ 1/deg(w) over shared neighbors w) in exact integer
    micro-units (``1_000_000 div deg(w)`` summed — integer arithmetic
    end to end so the score hash-matches any engine; float 1/deg would
    not). For a unipartite graph pass the symmetrized adjacency as
    (node, neighbor). Returns the top ``k`` pairs ordered by
    (ra_micro desc, common_neighbors desc, node_a, node_b) — a total
    order, so the cut is deterministic.

    Scale shape: one distinct on the (node, via) incidence (the only
    wide shuffle of input-sized data), a map-side-combined degree
    aggregate joined back on ``via``, the wedge self-join on ``via``
    (output streams straight into the partial aggregation — pair rows
    never shuffle; only the post-combine (a, b) partials do), and a
    TakeOrdered cut. Wedge volume is Σ_w C(deg(w), 2); at 100 TB the
    hub guard is ``max_via_degree``: DROP via-nodes above the cap — a
    documented recall trade that loses only pairs whose every witness
    is a hub, each contributing ≤ 1e6/cap micro-units, the vanishing
    tail of the RA score by construction (this is why RA, not raw
    common-neighbor counting, is the index that survives capping).

    Reference has no graph analytics (it ships rows to GDS,
    ``_dofn.py``); this follows triangle_count's owned-materialization
    stance.
    """
    e = (
        edges.select(F.col(node_col).alias("_n"), F.col(via_col).alias("_w"))
        .filter(F.col("_n").isNotNull() & F.col("_w").isNotNull())
        .distinct()
    )
    deg = e.groupBy("_w").agg(F.count(F.lit(1)).alias("_d"))
    if max_via_degree is not None:
        deg = deg.filter(F.col("_d") <= max_via_degree)
    # weight per witness, computed once before the wedge join fans out;
    # cached because BOTH wedge sides reference it — uncached, the scan,
    # distinct, and degree join all run twice (measured 3.7 → 2.3 s at
    # sf0.1)
    weighted = (
        e.join(deg, "_w")
        .select("_n", "_w", F.expr("1000000 div _d").alias("_ra"))
        .cache()
    )
    pairs = (
        weighted.alias("a")
        .join(
            weighted.select("_w", F.col("_n").alias("_m"), "_ra").alias("b"),
            (F.col("a._w") == F.col("b._w")) & (F.col("a._n") < F.col("b._m")),
        )
        .groupBy(
            F.col("a._n").alias("node_a"), F.col("b._m").alias("node_b")
        )
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("a._ra").alias("ra_micro"),
        )
    )
    return pairs.orderBy(
        F.desc("ra_micro"), F.desc("common_neighbors"), "node_a", "node_b"
    ).limit(k)


def label_propagation(
    nodes: DataFrame, edges: DataFrame, *, iters: int = 3,
    checkpoint: bool = True, assume_canonical: bool = False,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for ``iters``
    rounds over the UNDIRECTED graph: every node starts as its own
    label, then each round adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label — a total order per
    node, so the fixed-round result is deterministic and engine-
    independent (asynchronous/random-tie LPA is neither, which is why
    this is the checkable formulation). Isolated nodes keep their label.
    Returns (nodeId, label).

    Each round is: one broadcast of the skinny (node, label) table into
    the edge join (the |E|-row side never re-shuffles), one map-side-
    combined (node, label) count whose argmax compiles to a
    WindowGroupLimit (map-side pre-limit, never a global sort), and a
    left join back for isolated-node fallback. Edges are fixed once
    (localCheckpoint) and reused every round, the same pay-once pattern
    as :func:`connected_components`; label lineage is checkpointed per
    round too — linear for small ``iters``, but each un-checkpointed
    round makes every later broadcast re-execute the rounds before it.
    ``assume_canonical=True`` skips the symmetrization distinct when
    the caller guarantees deduplicated ``u < v`` edges (the two union
    directions are then disjoint by construction — one |E|-row shuffle
    saved).
    """
    sym = edges.select(
        F.col(SOURCE_ID).alias("a"), F.col(TARGET_ID).alias("b")
    ).unionByName(
        edges.select(F.col(TARGET_ID).alias("a"), F.col(SOURCE_ID).alias("b"))
    )
    if not assume_canonical:
        sym = sym.filter(F.col("a") != F.col("b")).distinct()
    if checkpoint:
        sym = sym.transform(materialize)
    labels = nodes.select(NODE_ID, F.col(NODE_ID).alias("label"))
    from pyspark.sql import Window

    for _ in range(iters):
        # label table is |V| skinny rows vs |E| sym rows — broadcast it
        # so the big checkpointed edge list never re-shuffles per round
        counts = (
            F.broadcast(labels)
            .join(sym, labels[NODE_ID] == sym["a"])
            .groupBy(F.col("b").alias(NODE_ID), "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        w = Window.partitionBy(NODE_ID).orderBy(F.desc("_c"), "label")
        best = (
            counts.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(NODE_ID, F.col("label").alias("_new"))
        )
        labels = labels.join(best, NODE_ID, "left_outer").select(
            NODE_ID,
            F.coalesce("_new", "label").alias("label"),
        )
        if checkpoint:
            labels = labels.transform(materialize)  # truncate lineage
    return labels


def bfs_hop_distance(
    seeds: DataFrame,
    edges: DataFrame,
    *,
    max_hops: int,
    directed: bool = False,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """Multi-source BFS: ``(nodeId, hop)`` for every node reachable from
    ``seeds`` within ``max_hops`` edges, with ``hop`` = the MINIMUM edge
    count from any seed (seeds themselves at hop 0).

    The k-hop reachability pass graph curation keeps needing — "every
    page within 3 clicks of the seed whitelist", "all entities ≤2 hops
    from a trusted node" — and the frontier-expansion skeleton GNN
    sampling builds on. The reference defers all graph compute to the
    GDS server; owning the materialization makes this a first-class,
    oracle-checkable operator (the DuckDB twin is a recursive CTE over
    the same edge set).

    Scale shape: the textbook frontier loop, which is also the right
    distributed one — per round ONE equi-join of the current frontier
    (skinny 8-byte ids) against the adjacency list and one anti-join
    against the visited set; the adjacency table is fixed once
    (checkpointed) and only frontier/visited rows — never edge payloads
    — move per round. Early exit when a frontier drains; lineage is
    truncated per round (the CC pattern). ``hop`` needs no min-combine:
    a node is claimed by the FIRST round that reaches it, which is the
    minimum by construction.
    """
    if max_hops < 0:
        raise ValueError("bfs_hop_distance: max_hops must be >= 0")
    adj = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        adj = adj.unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    adj = (
        adj.filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )
    dist = (
        seeds.select(F.col(NODE_ID))
        .distinct()
        .select(NODE_ID, F.lit(0).cast("long").alias("hop"))
        .transform(materialize)
    )
    frontier = dist.select(NODE_ID)
    for h in range(1, max_hops + 1):
        reached = (
            frontier.join(adj, frontier[NODE_ID] == adj["a"])
            .select(F.col("b").alias(NODE_ID))
            .distinct()
        )
        # r15: checkpoint + drain probe in ONE job; dist stays a lazy
        # union of checkpointed hop levels (children are checkpoints —
        # no recompute, no per-round copy job)
        fresh, n_fresh = materialize_count(
            reached.join(dist, NODE_ID, "left_anti")
            .select(NODE_ID, F.lit(h).cast("long").alias("hop"))
        )
        if n_fresh == 0:
            break
        dist = dist.unionByName(fresh)
        frontier = fresh.select(NODE_ID)
    return dist


def sample_neighbors(
    edges: DataFrame,
    *,
    k: int,
    seed: int = 0,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """Deterministic per-node neighbor sampling — the GraphSAGE-style
    fan-out cap (Hamilton et al. 2017) that turns a power-law graph into
    a bounded-degree one before neighborhood aggregation: for every
    source node keep at most ``k`` distinct out-neighbors, chosen by
    ``(portable_hash(src # dst # seed), dst)`` order.

    Hash-ordered, not random: the sample is a pure function of the edge
    and the seed, so a re-run, a different partitioning, or another
    engine re-derives the SAME minibatch neighborhoods (the
    :func:`~.sampling.stratified_split` contract), and each epoch's
    ``seed`` re-draws a fresh uniform sample. Output ``(src, dst,
    sample_rank)`` with ``sample_rank`` 1-based in hash order.

    Scale shape: one shuffle on the source key; the rank-≤-k filter
    compiles to WindowGroupLimit, so each partition keeps a k-row heap
    per node — never the full neighbor list — and hub nodes cost
    O(deg) scan, O(k) state (plan-audited). No global sort, no
    collect.
    """
    if k < 1:
        raise ValueError("sample_neighbors: k must be >= 1")
    from .dedup import portable_hash64_col

    e = edges.select(F.col(src), F.col(dst)).distinct()
    hv = portable_hash64_col(
        F.concat_ws(
            "#",
            F.col(src).cast("string"),
            F.col(dst).cast("string"),
            F.lit(str(seed)),
        )
    )
    w = Window.partitionBy(src).orderBy(hv.asc(), F.col(dst).asc())
    return (
        e.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= k)
    )


def local_clustering_coefficient(
    edges: DataFrame, src: str = SOURCE_ID, dst: str = TARGET_ID
) -> DataFrame:
    """Per-node triangle count and local clustering coefficient of the
    undirected graph: ``(nodeId, degree, n_triangles, clustering_ppm)``
    with ``clustering_ppm = (2·10⁶·triangles) div (deg·(deg−1))`` —
    exact integer parts-per-million (Watts & Strogatz 1998), 0 for
    degree < 2, so every value hash-matches any ANSI engine (a float
    ratio could not).

    Triangle discovery reuses :func:`triangle_count`'s degree
    orientation — each triangle survives the wedge join exactly once as
    ``(a, b, c)`` — with the closing-edge check as a LEFT SEMI join
    (valid because the oriented edge set is distinct, so a semi join
    can neither drop nor multiply a wedge; the plan audit asserts the
    LeftSemi), after which each triangle credits all three corners via
    one 3-element explode. Per-corner counts partial-aggregate before their
    shuffle; the ppm arithmetic runs in DECIMAL(25,0) headroom (a
    10⁶-degree hub's deg·(deg−1) alone is 10¹², and ×2·10⁶ would wrap
    int64 — the :func:`~.profile.contract_violations` lesson).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
        .transform(materialize)  # degrees + orientation + closing join
    )
    deg = (
        e.select(F.col("_u").alias("_n"))
        .unionByName(e.select(F.col("_v").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    ranked = (
        e.join(deg.withColumnRenamed("_n", "_u").withColumnRenamed("_d", "_du"), "_u")
        .join(deg.withColumnRenamed("_n", "_v").withColumnRenamed("_d", "_dv"), "_v")
        .select(
            F.when(
                (F.col("_du") < F.col("_dv"))
                | ((F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))),
                F.struct(F.col("_u").alias("s"), F.col("_v").alias("t")),
            )
            .otherwise(F.struct(F.col("_v").alias("s"), F.col("_u").alias("t")))
            .alias("_o")
        )
        .select(F.col("_o.s").alias("_s"), F.col("_o.t").alias("_t"))
    )
    triangles = (
        ranked.alias("e1")
        .join(ranked.alias("e2"), F.col("e1._t") == F.col("e2._s"))
        .select(
            F.col("e1._s").alias("_a"),
            F.col("e1._t").alias("_b"),
            F.col("e2._t").alias("_c"),
        )
        .join(
            ranked.select(F.col("_s").alias("_a"), F.col("_t").alias("_c")),
            ["_a", "_c"],
            "left_semi",
        )
    )
    per_node = (
        triangles.select(
            F.explode(F.array("_a", "_b", "_c")).alias("_n")
        )
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_tri"))
    )
    return (
        deg.join(per_node, "_n", "left_outer")
        .select(
            F.col("_n").alias(NODE_ID),
            F.col("_d").cast("long").alias("degree"),
            F.coalesce(F.col("_tri"), F.lit(0)).cast("long").alias("n_triangles"),
            F.when(F.col("_d") < 2, F.lit(0))
            .otherwise(
                F.expr(
                    "(CAST(coalesce(_tri, 0) AS DECIMAL(25,0)) * 2000000)"
                    " div (CAST(_d AS DECIMAL(25,0)) * (_d - 1))"
                )
            )
            .cast("long")
            .alias("clustering_ppm"),
        )
    )


def kcore(
    edges: DataFrame,
    *,
    k: int,
    max_iter: int = 50,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """The k-core of the undirected graph: iteratively peel nodes of
    degree < ``k`` until a fixpoint (Seidman 1983; the standard graph
    cleanup before community/centrality passes — spam rings and
    scrape noise live in the low-degree shell, the dense core is where
    structure is). Returns ``(nodeId, core_degree)`` for surviving
    nodes, ``core_degree`` = degree WITHIN the core.

    Each round: one partial-aggregated degree count over surviving
    edges + two semi joins filtering edges to surviving endpoints —
    all on skinny 8-byte ids, lineage checkpointed per round (the CC
    pattern), early exit when no node is removed. Rounds are
    data-dependent (≤ peel depth); raises at ``max_iter`` rather than
    silently returning a non-core. Peeling is monotone and idempotent
    at the fixpoint, so an oracle that unrolls MORE rounds than the
    fixpoint needs computes the identical set — the catalog oracle
    unrolls a fixed count with margin.
    """
    if k < 1:
        raise ValueError("kcore: k must be >= 1")
    e, n_edges = materialize_count(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    for _ in range(max_iter):
        deg = (
            e.select(F.col("u").alias("n"))
            .unionByName(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        # checkpoint + size probe fused into ONE job (r15)
        e2, n2 = materialize_count(
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
        )
        removed = n_edges - n2
        e, n_edges = e2, n2
        if removed == 0:
            return (
                e.select(F.col("u").alias(NODE_ID))
                .unionByName(e.select(F.col("v").alias(NODE_ID)))
                .groupBy(NODE_ID)
                .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
                .filter(F.col("core_degree") >= k)
            )
    raise RuntimeError(f"kcore: no fixpoint in {max_iter} rounds")


def _l1_normalize_fp(raw: DataFrame, scale: int) -> DataFrame:
    """``(nodeId, _score)`` with ``_score = (raw · scale) div Σ raw`` —
    the integer L1 normalization both HITS half-steps share. The 1-row
    total rides a broadcast cross join; the product is computed in
    DECIMAL(38,0) headroom (raw ≤ 10²⁵ covers 10¹² edges at 10¹²
    scale) so no int64 overflow anywhere, and ``div`` on decimals
    returns BIGINT with the same floor semantics as ANSI ``//`` —
    bit-exact on any engine, any aggregation order.
    """
    tot = raw.agg(F.sum("_raw").alias("_tot"))
    return raw.crossJoin(F.broadcast(tot)).select(
        NODE_ID,
        F.expr(
            f"(CAST(_raw AS DECIMAL(25,0))"
            f" * CAST({scale} AS DECIMAL(13,0))) div _tot"
        )
        .cast("long")
        .alias("_score"),
    )


def hits_fixedpoint(
    edges: DataFrame,
    *,
    iters: int = 3,
    scale: int = 10**12,
    checkpoint: bool = True,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) in integer
    micro-units → ``(nodeId, kind, score_fp)`` with ``kind`` ∈
    {'hub', 'authority'} and ``score_fp`` ≈ score · ``scale``.

    Same cross-engine contract as :func:`pagerank_fixedpoint`: every
    step is exact integer arithmetic (int64/decimal sums, floor
    division), so the scores hash-match an ANSI oracle bit-for-bit —
    float HITS cannot be checked that way because Σ picks up
    order-dependent rounding dust. Per half-iteration::

        auth_raw(v) = Σ_{u→v} hub(u);   auth = L1-normalize to scale
        hub_raw(u)  = Σ_{u→v} auth(v);  hub  = L1-normalize to scale

    L1 (sum) normalization replaces the textbook L2 — no integer sqrt,
    and the eigenvector direction (the ranking) is the same; fixed
    ``iters`` truncation is part of the operator contract (the oracle
    unrolls the same count).

    Scale shape: per half-iteration ONE edge-keyed join of the skinny
    8-byte score table + one partially-aggregated groupBy + a 1-row
    broadcast total — the edge table never moves beyond its join
    shuffle (bucket it by the join key to delete even that, the
    :func:`write_bucketed_edges` pattern). Hub scores exist for source
    endpoints, authority scores for target endpoints (a bipartite
    citation layout is the canonical input); lineage is checkpointed
    per round, CC-style.
    """
    if iters < 1:
        raise ValueError("hits_fixedpoint: iters must be >= 1")
    e = edges.select(SOURCE_ID, TARGET_ID).distinct()
    if checkpoint:
        # r15: the deduped edge list feeds TWO joins per iteration —
        # fix it once instead of re-deriving it from the source plan
        # in every half-step's job (guide §2.4/§5)
        e = e.transform(materialize)
    hubs = (
        e.select(F.col(SOURCE_ID).alias(NODE_ID))
        .distinct()
        .select(NODE_ID, F.lit(scale).cast("long").alias("_score"))
    )
    auth = None
    for _ in range(iters):
        a_raw = (
            e.join(hubs.withColumnRenamed(NODE_ID, SOURCE_ID), SOURCE_ID)
            .groupBy(F.col(TARGET_ID).alias(NODE_ID))
            .agg(
                F.sum(F.col("_score").cast("decimal(25,0)")).alias("_raw")
            )
        )
        auth = _l1_normalize_fp(a_raw, scale)
        h_raw = (
            e.join(auth.withColumnRenamed(NODE_ID, TARGET_ID), TARGET_ID)
            .groupBy(F.col(SOURCE_ID).alias(NODE_ID))
            .agg(
                F.sum(F.col("_score").cast("decimal(25,0)")).alias("_raw")
            )
        )
        hubs = _l1_normalize_fp(h_raw, scale)
        if checkpoint:
            # Only the hubs checkpoint is needed to truncate lineage:
            # each round's auth hangs exactly one join+agg+normalize off
            # the PREVIOUS round's hubs checkpoint, so the chain never
            # grows, and the final union re-derives the last auth from
            # the last checkpoint (exact integer arithmetic — identical
            # values). Checkpointing auth too measured 7.3 s vs 4.4 s
            # for 3 iterations at sf0.1 — half the eager
            # materializations for the same contract.
            hubs = hubs.transform(materialize)
    return hubs.select(
        NODE_ID,
        F.lit("hub").alias("kind"),
        F.col("_score").alias("score_fp"),
    ).unionByName(
        auth.select(
            NODE_ID,
            F.lit("authority").alias("kind"),
            F.col("_score").alias("score_fp"),
        )
    )


def eigenvector_centrality(
    edges: DataFrame,
    *,
    iters: int = 4,
    scale: int = 10**12,
    directed: bool = True,
    checkpoint: bool = True,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.eigenvector`` parity in integer micro-units →
    ``(nodeId, score_fp)`` with ``score_fp`` ≈ centrality · ``scale``:
    the un-damped cousin of PageRank (influence = sum of in-neighbors'
    influence, no teleport), the classic "important because important
    nodes point at you" measure. Power iteration::

        raw(v)   = Σ_{u→v} score(u)        (decimal(25,0) sums)
        score(v) = (raw · scale) div Σ raw (integer L1 normalization)

    L1 replaces GDS's L2 normalization — no integer sqrt, identical
    ranking (normalization only fixes the eigenvector's length, never
    its direction), and every step stays exact integer arithmetic so
    the scores hash-match an ANSI oracle bit-for-bit (the
    :func:`pagerank_fixedpoint` contract). Fixed ``iters`` truncation
    is part of the operator contract (the oracle unrolls the same
    count). Nodes with no in-edges (no in-edges at any round) converge
    to exact 0 — on a directed graph mass drains from pure sources,
    which is eigenvector centrality's documented behavior, not a bug
    (run ``directed=False`` for the symmetric variant).

    Scale shape: per iteration ONE edge-keyed join of the skinny
    8-byte score table + one partially-aggregated groupBy + a 1-row
    broadcast total (:func:`_l1_normalize_fp`) — the edge table never
    moves beyond its join shuffle (bucket it by source id to delete
    even that, the :func:`write_bucketed_edges` pattern); lineage
    checkpointed per round, CC-style.
    """
    if iters < 1:
        raise ValueError("eigenvector_centrality: iters must be >= 1")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("_s"), F.col(src).alias("_t"))
        )
    e = e.filter(F.col("_s") != F.col("_t")).distinct()
    if checkpoint:
        # r15: fix the deduped edge list once — it feeds every
        # iteration's join (guide §2.4/§5)
        e = e.transform(materialize)
    nodes = (
        e.select(F.col("_s").alias(NODE_ID))
        .unionByName(e.select(F.col("_t").alias(NODE_ID)))
        .distinct()
        .transform(materialize)
    )
    scores = nodes.select(NODE_ID, F.lit(scale).cast("long").alias("_score"))
    for _ in range(iters):
        raw = (
            e.join(scores.withColumnRenamed(NODE_ID, "_s"), "_s")
            .groupBy(F.col("_t").alias(NODE_ID))
            .agg(F.sum(F.col("_score").cast("decimal(25,0)")).alias("_raw"))
        )
        scores = _l1_normalize_fp(raw, scale)
        if checkpoint:
            scores = scores.transform(materialize)
    return nodes.join(scores, NODE_ID, "left_outer").select(
        NODE_ID,
        F.coalesce(F.col("_score"), F.lit(0)).cast("long").alias("score_fp"),
    )


def node_similarity(
    edges: DataFrame,
    *,
    threshold: float = 0.5,
    broadcast_verify: bool | None = None,
    broadcast_max_nodes: int = 200_000,
) -> DataFrame:
    """GDS ``nodeSimilarity`` parity (the algorithm the reference's
    downstream server runs over exactly these exported tables —
    Neo4j GDS node similarity is pairwise jaccard of out-neighbor
    sets): every unordered pair of SOURCE nodes whose out-neighbor
    sets overlap at jaccard ≥ ``threshold``, emitted as
    ``(node_a, node_b, n_common, n_total, jaccard_ppm)`` — the counts
    are exact integers and ``jaccard_ppm = (10⁶·|∩|) div |∪|``, so the
    output hash-matches any ANSI engine (GDS returns a float score;
    the ppm is the same number at fixed precision).

    Implementation: node similarity IS set similarity over neighbor
    sets, so this delegates to the shared prefix-filter core
    (:func:`~.dedup._ppjoin_pairs_core` — AllPairs/PPJoin, no false
    negatives): neighbors are ordered rarest-first by in-degree
    (document frequency ≡ in-degree here), only each node's
    ``(1−t)·deg + 1`` rarest neighbors probe the index, and the exact
    verify joins the cached neighbor arrays back, broadcast under the
    node-count gate. The hub problem maps exactly: a celebrity node
    followed by everyone is a "the"-class token, and the rare-first
    prefix keeps its postings out of the candidate join — the reason
    this beats the textbook wedge join (adjacency self-join on the
    shared neighbor), which shuffles every (a, b) wedge THROUGH the
    hub's partition.
    """
    from .dedup import _ppjoin_pairs_core

    adj = edges.select(SOURCE_ID, TARGET_ID).distinct()
    base = (
        adj.groupBy(F.col(SOURCE_ID).alias("_id"))
        .agg(F.collect_set(F.col(TARGET_ID)).alias("_tk"))
        .filter(F.size("_tk") > 0)
    )
    base = base.cache()
    if broadcast_verify is None:
        broadcast_verify = base.count() <= broadcast_max_nodes
    pairs = _ppjoin_pairs_core(
        base, threshold=threshold, broadcast_verify=broadcast_verify
    )
    union = F.col("n_a") + F.col("n_b") - F.col("_inter")
    return pairs.select(
        F.col("id_a").alias("node_a"),
        F.col("id_b").alias("node_b"),
        F.col("_inter").cast("long").alias("n_common"),
        union.cast("long").alias("n_total"),
        # integer `div`, not floor(float /): double division of two
        # exact longs is correctly rounded but floor() of a quotient
        # that rounds UP to an integer would disagree with the oracle's
        # true integer division
        F.expr(
            "(1000000 * cast(_inter as bigint))"
            " div cast(n_a + n_b - _inter as bigint)"
        ).alias("jaccard_ppm"),
    )


def rwr_sample(
    seeds: DataFrame,
    edges: DataFrame,
    *,
    walks_per_seed: int = 3,
    walk_length: int = 6,
    restart_ppt: int = 200,
    seed: int = 7,
    hash_fn=None,
    rank_buckets: int = 32,
) -> DataFrame:
    """GDS ``gds.graph.sample.rwr`` parity (r12): random-walk-with-
    restart subgraph sampling — the standard GNN-training sampler
    (Leskovec-Faloutsos 2006 "Sampling from Large Graphs" found RWR the
    best-performing family): from each seed, ``walks_per_seed`` walkers
    take ``walk_length`` steps, each step restarting back to the seed
    with probability ``restart_ppt``/1000 (GDS's ``restartProbability``
    quantized to exact parts-per-thousand), else stepping to a uniform
    out-neighbor. Returns the sampled node set with visit counts —
    ``(nodeId, visits)`` over all walker positions including step 0;
    induce the subgraph's edges with one semi-join per endpoint (the
    composition GDS performs internally).

    DETERMINISTIC by construction (the :func:`random_walks` contract):
    the step-i restart coin is ``pmod(H(start#wn#i#seed#r), 1000) <
    restart_ppt`` and the neighbor pick ``pmod(H(start#wn#i#seed#n),
    deg)`` over ascending-id neighbor ranks — same walks from any
    engine/partitioning/retry, every position replayed bit-for-bit by
    the DuckDB oracle. Walkers at SINKS restart to their seed (GDS
    semantics — walkers never die, so an isolated seed samples just
    itself).

    Scale shape: :func:`_ranked_adjacency` + degree table checkpoint
    once; per step the walker state (4×8-byte rows, ∝ seeds ×
    walks_per_seed — NOT graph size) takes one left deg join + one
    left (node, rank) equi-join; the final visit count is one
    partial-aggregated groupBy. Sample size is the seeds × walks ×
    length knob, the whole point of sampling at 100 TB.
    """
    from .dedup import portable_hash64_col

    if walk_length < 1:
        raise ValueError("rwr_sample: walk_length must be >= 1")
    if walks_per_seed < 1:
        raise ValueError("rwr_sample: walks_per_seed must be >= 1")
    if not 0 <= restart_ppt <= 1000:
        raise ValueError("rwr_sample: restart_ppt must be in [0, 1000]")
    hash_fn = hash_fn or portable_hash64_col

    adj = edges.select(SOURCE_ID, TARGET_ID).distinct()
    ranked = _ranked_adjacency(adj, n_buckets=rank_buckets).transform(materialize)
    deg = (
        adj.groupBy(F.col(SOURCE_ID).alias("_s"))
        .agg(F.count(F.lit(1)).alias("_d"))
        .transform(materialize)
    )
    # r15 second pass: same path-array carry as :func:`random_walks` —
    # the per-step position branches forced either O(L²) lazy re-joins
    # (r14) or L checkpoints (first r15 fix); carrying all visited
    # positions as one ARRAY column makes the loop a single linear
    # lineage (L steps × 2 left joins, zero per-step driver jobs) with
    # ONE explode feeding the visit count. Walkers never die here
    # (sink/restart → seed), so the append is unconditional.
    state = seeds.select(F.col(NODE_ID).alias("_start")).distinct().select(
        "_start",
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_seed - 1))
        ).alias("_wn"),
        F.col("_start").alias("_node"),
        F.array(F.col("_start")).alias("_pos"),
    )
    for step in range(1, walk_length + 1):
        tag = F.concat_ws(
            "#", F.col("_start"), F.col("_wn"), F.lit(step), F.lit(seed)
        )
        restart = (
            F.pmod(hash_fn(F.concat_ws("#", tag, F.lit("r"))), F.lit(1000))
            < restart_ppt
        )
        pick = F.when(
            restart | F.col("_d").isNull(), F.lit(None)
        ).otherwise(
            F.pmod(hash_fn(F.concat_ws("#", tag, F.lit("n"))), F.col("_d"))
        )
        state = (
            state.join(deg, state["_node"] == deg["_s"], "left_outer")
            .select(
                "_start",
                "_wn",
                "_pos",
                F.col("_node").alias("_cur"),
                pick.alias("_pick"),
            )
            .join(
                ranked,
                (F.col("_cur") == ranked["_s"])
                & (F.col("_pick") == ranked["_r"]),
                "left_outer",
            )
            .select(
                "_start",
                "_wn",
                F.coalesce(F.col("_t"), F.col("_start")).alias("_node"),
                F.array_append(
                    "_pos", F.coalesce(F.col("_t"), F.col("_start"))
                ).alias("_pos"),
            )
        )
    return (
        state.select(F.explode("_pos").alias("_node"))
        .groupBy(F.col("_node").alias(NODE_ID))
        .agg(F.count(F.lit(1)).cast("long").alias("visits"))
    )


def community_modularity(
    edges: DataFrame,
    labels: DataFrame,
    *,
    scale: int = 10**9,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.modularity`` parity (r12): per-community Newman
    modularity of an UNDIRECTED graph under a given community
    assignment → ``(community, n_nodes, intra_edges, degree_sum,
    modularity_fp)`` where::

        Q_c  = L_c/m − (d_c / 2m)²
        Q_fp = (L_c · scale) div m − (d_c² · scale) div (4m²)

    (m = undirected edge count, L_c = intra-community edges, d_c = Σ
    member degrees; Σ_c Q_c is the graph's modularity). Both terms are
    non-negative integer floor divisions — order-independent, so the
    per-community rows hash-match an ANSI oracle bit-for-bit; the
    float textbook form is neither. d_c² rides DECIMAL(38,0): d_c ≤ 2m
    ≤ ~2·10¹² edges and scale 10⁹ stay inside 38 digits. Floor dust is
    < 1 micro-unit per term per community — quantified, identical in
    the oracle. Self-loops are dropped, edges deduped canonically
    (u < v), exactly like the rest of the undirected family.

    Composes with any labeler — :func:`label_propagation` communities,
    :func:`connected_components`, an external assignment column — the
    GDS shape (``communityProperty``). Scale: three partial-aggregated
    groupBys (degrees, d_c, L_c) + two skinny label joins + a 1-row
    broadcast m; nothing wider than the edge list ever moves, no
    windows, no driver state.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )
    m = e.agg(F.count(F.lit(1)).cast("long").alias("_m"))
    deg = (
        e.select(F.col("_u").alias("_n"))
        .unionByName(e.select(F.col("_v").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    lab = labels.select(
        F.col(NODE_ID).alias("_n"), F.col("label").alias("_lbl")
    )
    dc = (
        lab.join(deg, "_n", "left_outer")
        .groupBy("_lbl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.coalesce("_d", F.lit(0))).cast("long").alias(
                "degree_sum"
            ),
        )
    )
    lc = (
        e.join(lab.withColumnRenamed("_n", "_u"), "_u")
        .withColumnRenamed("_lbl", "_la")
        .join(lab.withColumnRenamed("_n", "_v"), "_v")
        .filter(F.col("_la") == F.col("_lbl"))
        .groupBy(F.col("_la").alias("_lbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    return (
        dc.join(lc, "_lbl", "left_outer")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("_lbl").alias("community"),
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias(
                "intra_edges"
            ),
            "degree_sum",
            F.expr(
                f"(CAST(coalesce(intra_edges, 0L) AS DECIMAL(38,0))"
                f" * {scale}) div _m"
                f" - (CAST(degree_sum AS DECIMAL(38,0)) * degree_sum"
                f"    * {scale}) div (4 * CAST(_m AS DECIMAL(38,0)) * _m)"
            ).cast("long").alias("modularity_fp"),
        )
    )


def _neighbor_sets(edges: DataFrame) -> DataFrame:
    """``(_id, _tk)`` — each source node's distinct out-neighbor set,
    the slim projection the containment/PPJoin cores consume."""
    return (
        edges.select(SOURCE_ID, TARGET_ID)
        .distinct()
        .groupBy(F.col(SOURCE_ID).alias("_id"))
        .agg(F.collect_set(F.col(TARGET_ID)).alias("_tk"))
        .filter(F.size("_tk") > 0)
    )


def node_similarity_overlap(
    edges: DataFrame,
    *,
    threshold: float = 0.5,
    broadcast_verify: bool | None = None,
    broadcast_max_nodes: int = 200_000,
) -> DataFrame:
    """GDS ``nodeSimilarity(similarityMetric: OVERLAP)`` parity:
    unordered source-node pairs with overlap coefficient
    ``|∩| / min(|A|, |B|) ≥ threshold`` over out-neighbor sets —
    the metric for "is the smaller node's neighborhood (mostly) inside
    the bigger one's", which jaccard structurally caps at
    min/max size ratio. Output ``(node_a, node_b, n_common, n_min,
    overlap_ppm)`` with ``overlap_ppm = (10⁶·|∩|) div min`` — exact
    integers, hash-checkable.

    Implementation: overlap ≡ CONTAINMENT FROM THE SMALLER SIDE
    (``|∩|/|A| ≥ |∩|/|B|`` when ``|A| ≤ |B|``), so this is the shared
    one-sided prefix-filter core
    (:func:`~.dedup._containment_pairs_core`, r11 factoring) over
    neighbor sets with the smaller-side orderings kept — no false
    negatives, candidates ∝ rare-neighbor postings, never the
    hub-funnelled wedge join."""
    from .dedup import _containment_pairs_core

    core = _containment_pairs_core(
        _neighbor_sets(edges),
        threshold=threshold,
        broadcast_verify=broadcast_verify,
        broadcast_max_docs=broadcast_max_nodes,
    )
    return (
        core.filter(F.col("_na") <= F.col("_nb"))
        .select(
            F.least("_ia", "_ib").alias("node_a"),
            F.greatest("_ia", "_ib").alias("node_b"),
            F.col("_inter").alias("n_common"),
            F.col("_na").alias("n_min"),
            F.expr("(1000000 * _inter) div _na").alias("overlap_ppm"),
        )
        .distinct()  # equal-size mutual pairs verify in both orders
    )


def node_similarity_cosine(
    edges: DataFrame,
    *,
    threshold: float = 0.5,
    broadcast_verify: bool | None = None,
    broadcast_max_nodes: int = 200_000,
) -> DataFrame:
    """GDS ``nodeSimilarity(similarityMetric: COSINE)`` parity over
    UNWEIGHTED neighbor sets: unordered source-node pairs with
    ``|∩| / √(|A|·|B|) ≥ threshold`` — the size-ratio-damped middle
    ground between jaccard and overlap. ``threshold`` is quantized to
    3 decimals (ppt) so the comparison is EXACT integer arithmetic:
    ``(1000·|∩|)² ≥ t_ppt²·|A|·|B|`` — no float sqrt anywhere near the
    gate. Output ``(node_a, node_b, n_common, n_ab, cosine_sq_ppm)``
    with ``cosine_sq_ppm = (10⁶·|∩|²) div (|A|·|B|)`` (monotone in
    cosine; cos = √(ppm/10⁶)) — exact integers, hash-checkable.

    Candidates are sound from the containment core at the SAME
    threshold: cos = |∩|/√(|A||B|) ≤ |∩|/min(|A|,|B|), so every
    cosine-t pair's smaller-side containment is ≥ t and survives the
    core's prefix filter + verify; the cosine gate then tightens
    exactly. (The core's verify compares doubles — the oracle mirrors
    both predicates verbatim, so boundary pairs agree bit-for-bit.)"""
    from .dedup import _containment_pairs_core

    t_ppt = round(float(threshold) * 1000)
    if not 0 < t_ppt <= 1000:
        raise ValueError(
            "node_similarity_cosine: threshold must be in (0, 1]"
        )
    core = _containment_pairs_core(
        _neighbor_sets(edges),
        threshold=threshold,
        broadcast_verify=broadcast_verify,
        broadcast_max_docs=broadcast_max_nodes,
    )
    gate = (1000 * F.col("_inter")) * (1000 * F.col("_inter")) >= F.lit(
        t_ppt * t_ppt
    ) * F.col("_na") * F.col("_nb")
    return (
        core.filter(F.col("_na") <= F.col("_nb"))
        .filter(gate)
        .select(
            F.least("_ia", "_ib").alias("node_a"),
            F.greatest("_ia", "_ib").alias("node_b"),
            F.col("_inter").alias("n_common"),
            (F.col("_na") * F.col("_nb")).alias("n_ab"),
            F.expr(
                "(1000000 * _inter * _inter) div (_na * _nb)"
            ).alias("cosine_sq_ppm"),
        )
        .distinct()
    )


def landmark_harmonic_closeness(
    edges: DataFrame,
    *,
    k_landmarks: int = 8,
    max_hops: int = 20,
    directed: bool = False,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.closeness.harmonic`` parity, landmark-sampled: for
    every node reached by at least one landmark,
    ``harmonic_ppm = Σ_{s ∈ landmarks, d(s,v) ≥ 1} 1 000 000 div
    d(s, v)`` — the centrality that, unlike classic closeness, stays
    meaningful on disconnected graphs (unreachable pairs contribute 0,
    not ∞). Landmarks are the ``k_landmarks`` SMALLEST node ids — a
    deterministic, engine-independent sample (the standard landmark
    estimator: exact when ``k_landmarks`` ≥ node count, an unbiased-
    per-landmark sketch otherwise; id-order beats hash-order for the
    oracle, and centrality sampling theory cares about count, not
    which). Exact integer ``div`` keeps the score hash-checkable.

    Scale shape: :func:`bfs_hop_distance`'s frontier loop carried PER
    LANDMARK — state rows are (seed, node, hop) triples, per round ONE
    equi-join of the frontier against the once-checkpointed adjacency
    plus one anti-join against the visited set; rounds = eccentricity
    of the farthest landmark (≤ diameter), early exit when the frontier
    drains, LOUD failure at ``max_hops`` (a truncated BFS would bias
    scores silently). Cost ∝ landmarks × reachable set; landmark count
    is the precision/cost knob at 100 TB, never an all-pairs pass.
    """
    if k_landmarks < 1:
        raise ValueError("landmark_harmonic_closeness: k_landmarks >= 1")
    adj = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        adj = adj.unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    adj = (
        adj.filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )
    nodes = (
        adj.select(F.col("a").alias(NODE_ID))
        .unionByName(adj.select(F.col("b").alias(NODE_ID)))
        .distinct()
    )
    landmarks = nodes.orderBy(NODE_ID).limit(k_landmarks)  # TakeOrdered
    visited = landmarks.select(
        F.col(NODE_ID).alias("_seed"),
        F.col(NODE_ID).alias("_node"),
        F.lit(0).cast("long").alias("_hop"),
    ).transform(materialize)
    frontier = visited.select("_seed", "_node")
    for h in range(1, max_hops + 1):
        reached = (
            frontier.join(adj, frontier["_node"] == adj["a"])
            .select("_seed", F.col("b").alias("_node"))
            .distinct()
        )
        # r15: frontier checkpoint + drain probe in ONE job, and the
        # visited set stays a LAZY union of already-checkpointed hop
        # levels (no recompute — every child is a checkpoint; unioning
        # K levels costs a linear plan, not a per-round copy job)
        new, n_new = materialize_count(
            reached.join(visited, ["_seed", "_node"], "left_anti")
            .withColumn("_hop", F.lit(h).cast("long"))
        )
        if n_new == 0:
            return (
                visited.filter(F.col("_hop") > 0)
                .groupBy(F.col("_node").alias(NODE_ID))
                .agg(
                    F.sum(
                        F.expr("1000000 div _hop")
                    ).cast("long").alias("harmonic_ppm")
                )
            )
        visited = visited.unionByName(new)
        frontier = new.select("_seed", "_node")
    raise RuntimeError(
        f"landmark_harmonic_closeness: frontier alive after {max_hops} "
        "hops — raise max_hops (a truncated BFS would bias scores)"
    )


def landmark_betweenness(
    edges: DataFrame,
    *,
    k_landmarks: int = 4,
    max_hops: int = 20,
    scale: int = 10**6,
    directed: bool = False,
    checkpoint: bool = True,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.betweenness`` parity, landmark-sampled (the GDS
    ``samplingSize`` mode), in EXACT integer micro-units →
    ``(nodeId, betweenness_fp)`` where ``betweenness_fp`` ≈ scale ·
    Σ_{s ∈ landmarks} δ_s(v) — Brandes' dependency accumulation
    (Brandes 2001), the standard sampled estimator (Riondato-Kornaropoulos
    pick sources randomly; id-order landmarks keep the sample
    engine-independent and oracle-checkable, and sampling theory cares
    about count, not which).

    Two passes, both exact integers so the result hash-matches an ANSI
    oracle bit-for-bit where float Brandes never could (Σ of divided
    dependencies picks up order-dependent rounding dust):

    - **Forward** (per landmark s, carried as (seed, node) state in ONE
      multi-source loop — the :func:`landmark_harmonic_closeness`
      shape): hop-h frontier reached by one adjacency equi-join; path
      counts ``σ_s(v) = Σ_{u ∈ preds} σ_s(u)`` fall out of the SAME
      join via a partial-aggregated sum (decimal(25,0) — path counts
      grow fast on dense graphs); one anti-join against visited.
    - **Backward** (hop H−1 down to 1): Brandes' recursion with a
      per-edge FLOOR division making each term exact::

          δ(v) = Σ_{v→w, d(w)=d(v)+1} (σ(v) · (scale + δ(w))) div σ(w)

      Terms are integers, so the Σ is order/partitioning-independent;
      truncation loses < outdeg(v) micro-units per node per level —
      quantified, deterministic, and identical in the oracle (which
      unrolls the same levels). Endpoints excluded per Brandes (hop-0
      rows never accumulate into the output).

    LOUD failure if any frontier is alive after ``max_hops`` (a
    truncated BFS would silently bias δ toward 0); oracles pin their
    unroll depth to ``max_hops`` so a deeper-than-unroll eccentricity
    raises rather than mismatching. ``max_hops`` equal to the landmark
    eccentricity is sufficient (ADVICE r11): one extra probe round
    observes the empty frontier without extending the visited set, so
    callers need ``max_hops >= ecc``, not ``ecc + 1``.

    Scale shape: state rows are (seed, node) pairs — cost ∝ landmarks ×
    reachable set, never all-pairs; per round one equi-join of the
    skinny frontier against the once-checkpointed adjacency + one
    partial-aggregated groupBy + one anti-join; backward adds one
    hop-filtered self-join per level over the same checkpointed visited
    table. Landmark count is the precision/cost knob at 100 TB; rounds
    = 2 × eccentricity, each lineage-truncated.
    """
    if k_landmarks < 1:
        raise ValueError("landmark_betweenness: k_landmarks >= 1")
    adj = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not directed:
        adj = adj.unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    adj = (
        adj.filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)
    )
    nodes = (
        adj.select(F.col("a").alias(NODE_ID))
        .unionByName(adj.select(F.col("b").alias(NODE_ID)))
        .distinct()
        .transform(materialize)
    )
    landmarks = nodes.orderBy(NODE_ID).limit(k_landmarks)  # TakeOrdered
    visited = landmarks.select(
        F.col(NODE_ID).alias("_seed"),
        F.col(NODE_ID).alias("_node"),
        F.lit(0).cast("long").alias("_hop"),
        F.lit(1).cast("decimal(25,0)").alias("_sig"),
    )
    if checkpoint:
        visited = visited.transform(materialize)
    frontier = visited.select("_seed", "_node", "_sig")
    h_max = None
    # range stops at max_hops + 1: the EXTRA probe round (ADVICE r11)
    # exists only to observe the empty frontier when a landmark's
    # eccentricity equals max_hops exactly — without it the loop would
    # discover the deepest nodes at hop max_hops, exit without seeing
    # emptiness, and raise despite a complete BFS. The probe round never
    # extends `visited`: a non-empty frontier there means genuinely
    # unexplored nodes beyond max_hops, which is the truncation error.
    for h in range(1, max_hops + 2):
        reached = (
            frontier.join(adj, frontier["_node"] == adj["a"])
            .groupBy("_seed", F.col("b").alias("_node"))
            .agg(F.sum("_sig").alias("_sig"))
        )
        new = (
            reached.join(
                visited.select("_seed", "_node"),
                ["_seed", "_node"],
                "left_anti",
            )
            .withColumn("_hop", F.lit(h).cast("long"))
            .select("_seed", "_node", "_hop", "_sig")
        )
        # r15: checkpoint + drain probe fused; visited stays a LAZY
        # union of checkpointed hop levels (children are checkpoints —
        # no recompute, no per-round copy job; the backward pass's
        # per-level filters read the same checkpointed partitions)
        if checkpoint:
            new, n_new = materialize_count(new)
        else:
            n_new = new.limit(1).count()
        if n_new == 0:
            h_max = h - 1
            break
        if h == max_hops + 1:
            break  # alive past max_hops: truncated — fall through to raise
        visited = visited.unionByName(new)
        frontier = new.select("_seed", "_node", "_sig")
    if h_max is None:
        raise RuntimeError(
            f"landmark_betweenness: frontier alive after {max_hops} hops "
            "— raise max_hops (a truncated BFS would bias δ toward 0)"
        )
    # Backward accumulation, hop H-1 .. 1 (hop 0 = the seed itself:
    # Brandes excludes endpoints, so seeds take no δ and contribute none
    # to the output row of their own seed).
    delta = None  # (_seed, _node, _delta) for hops > current level
    out = None  # accumulated δ rows across levels (hop >= 1)
    for h in range(h_max - 1, 0, -1):
        level = visited.filter(F.col("_hop") == h).select(
            "_seed", F.col("_node").alias("_v"), F.col("_sig").alias("_sv")
        )
        nxt = visited.filter(F.col("_hop") == h + 1).select(
            "_seed", F.col("_node").alias("_w"), F.col("_sig").alias("_sw")
        )
        if delta is not None:
            nxt = nxt.join(
                delta.withColumnRenamed("_node", "_w"),
                ["_seed", "_w"],
                "left_outer",
            )
        else:
            nxt = nxt.withColumn("_delta", F.lit(None).cast("long"))
        succ = (
            level.join(adj, level["_v"] == adj["a"])
            .select("_seed", "_v", "_sv", F.col("b").alias("_w"))
            .join(nxt, ["_seed", "_w"])
        )
        lvl_delta = (
            succ.select(
                "_seed",
                F.col("_v").alias("_node"),
                F.expr(
                    f"(_sv * ({scale} + coalesce(_delta, 0L))) div _sw"
                ).cast("long").alias("_d"),
            )
            .groupBy("_seed", "_node")
            .agg(F.sum("_d").cast("long").alias("_delta"))
        )
        if checkpoint:
            lvl_delta = lvl_delta.transform(materialize)
        delta = lvl_delta
        out = lvl_delta if out is None else out.unionByName(lvl_delta)
    result = nodes
    if out is not None:
        totals = out.groupBy(F.col("_node").alias(NODE_ID)).agg(
            F.sum("_delta").cast("long").alias("_b")
        )
        result = nodes.join(totals, NODE_ID, "left_outer")
    else:
        result = nodes.withColumn("_b", F.lit(None).cast("long"))
    return result.select(
        NODE_ID,
        F.coalesce(F.col("_b"), F.lit(0)).cast("long").alias(
            "betweenness_fp"
        ),
    )


def _ranked_adjacency(adj: DataFrame, *, n_buckets: int = 32) -> DataFrame:
    """``(_s, _t, _r)`` — 0-based rank of each target among its source's
    out-neighbors in ascending ``_t`` order, computed HUB-SAFELY.

    The naive form is ``row_number().over(partitionBy(source))`` — the
    exact window shape this repo's scale rule bans (VERDICT r10 #1): a
    celebrity hub's whole adjacency funnels through ONE window
    partition, no map-side combine, and AQE cannot split a window. The
    fix decomposes the per-source rank the same way
    :func:`~.packing.global_prefix_sum` decomposes a global scan:

    1. range-bucket targets into ``n_buckets`` contiguous id ranges
       (:func:`~.packing.range_bucketed` — one ``percentile_approx``
       sketch; boundary quality affects BALANCE only, never ranks,
       because ranges stay contiguous in ``_t``);
    2. rank within ``(source, bucket)`` — a hub's adjacency now splits
       across ``n_buckets`` window partitions;
    3. per-(source, bucket) counts via partial-aggregated groupBy,
       cumulated into exclusive offsets with a window whose partitions
       are ≤ ``n_buckets`` rows BY CONSTRUCTION (one row per bucket a
       source touches);
    4. global rank = local rank + bucket offset (exact: buckets are
       contiguous ``_t`` ranges, so all lower-bucket neighbors precede
       all same-bucket ones in ascending-id order).

    Bit-exact with the naive window — the walk oracles replay the same
    sequences (asserted in tests against the naive shape on a hub
    fixture). Node ids must be numeric (the GDS int64 contract;
    ``percentile_approx`` needs a numeric order key).
    """
    from .packing import range_bucketed

    slim = adj.select(
        F.col(SOURCE_ID).alias("_s"), F.col(TARGET_ID).alias("_t")
    )
    b = range_bucketed(slim, F.col("_t"), n_buckets=n_buckets, bucket_col="_b")
    local = (
        F.row_number().over(Window.partitionBy("_s", "_b").orderBy("_t")) - 1
    )
    cnts = b.groupBy("_s", "_b").agg(F.count(F.lit(1)).alias("_c"))
    w_off = (
        Window.partitionBy("_s")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cnts.select(
        "_s",
        "_b",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
    )
    return (
        b.withColumn("_lr", local)
        .join(offs, ["_s", "_b"])
        .select("_s", "_t", (F.col("_lr") + F.col("_off")).alias("_r"))
    )


def random_walks(
    edges: DataFrame,
    *,
    walks_per_node: int = 1,
    walk_length: int = 3,
    seed: int = 7,
    hash_fn=None,
    rank_buckets: int = 32,
) -> DataFrame:
    """GDS ``randomWalk`` / DeepWalk parity (Perozzi et al. KDD'14 —
    the walk-corpus generator feeding skip-gram node embeddings, and
    the other famous GDS primitive next to nodeSimilarity): for every
    distinct source node, ``walks_per_node`` walkers each take
    ``walk_length`` uniform steps over the out-edges. Output is one row
    per visited position — ``(start_node, walk_no, step, node_id)``
    with step 0 the start itself; a walker at a sink node simply ends
    (directed semantics — symmetrize the edges first for the undirected
    DeepWalk shape).

    DETERMINISTIC by construction, not by RNG discipline: the step-i
    choice for walker (start, walk_no) is neighbor index
    ``pmod(H(start#walk_no#step#seed), deg(u))`` over the neighbors in
    ascending-id order, with ``H`` the md5-derived portable 64-bit hash
    — so the exact same walks come out of any engine, any partitioning,
    any retry (the sample_neighbors contract, extended to sequences),
    and the DuckDB oracle replays every step bit-for-bit. Pass
    ``hash_fn=F.xxhash64``-style callables for ~3× cheaper production
    walks when nothing external must reproduce them.

    Scale shape: neighbor ranks come from :func:`_ranked_adjacency`
    (bucketed rank + broadcast offsets — hub-safe, no unbounded window;
    ``rank_buckets`` tunes the split) and degrees from a
    partial-aggregated groupBy; both checkpoint once and every step is
    then ONE two-key equi-join ``(node = src, chosen_rank = rank)`` of
    the skinny walker state — no row multiplication anywhere. Walker
    rows carry the walk-so-far as an ARRAY column (≤ 8·(L+1) bytes)
    through a single linear lineage and posexplode once at the end
    (r15): zero per-step driver actions, nothing recomputed, cost ∝
    walkers × steps.
    """
    from .dedup import portable_hash64_col

    if walk_length < 1:
        raise ValueError("random_walks: walk_length must be >= 1")
    if walks_per_node < 1:
        raise ValueError("random_walks: walks_per_node must be >= 1")
    hash_fn = hash_fn or portable_hash64_col

    adj = edges.select(SOURCE_ID, TARGET_ID).distinct()
    ranked = _ranked_adjacency(adj, n_buckets=rank_buckets).transform(materialize)  # probed every step — fix it once
    deg = (
        adj.groupBy(F.col(SOURCE_ID).alias("_s"))
        .agg(F.count(F.lit(1)).alias("_d"))
        .transform(materialize)
    )

    # r15 second pass: carry the whole walk as an ARRAY column and
    # posexplode ONCE at the end. The r14 shape unioned one output
    # branch per step, so the lazy plan re-ran step i's joins once per
    # later branch (O(L²) joins per action); the first r15 fix
    # checkpointed every step, which traded the recompute for L driver
    # jobs + eager row copies and measured ~1 s SLOWER at sf0.1
    # (walk steps here are two cheap skinny joins). The array carry is
    # a single linear lineage: L steps × 2 joins executed exactly once
    # per action, ZERO per-step driver jobs, ≤ 8·(L+1) bytes of path
    # per walker through the joins. Dead-end walkers (no out-edge)
    # keep their emitted prefix via LEFT joins that leave _node/_path
    # untouched once _d is null — same rows the union emitted.
    state = adj.select(F.col(SOURCE_ID).alias("_start")).distinct().select(
        "_start",
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_node - 1))
        ).alias("_wn"),
        F.col("_start").alias("_node"),
        F.array(F.col("_start")).alias("_path"),
    )
    for step in range(1, walk_length + 1):
        h = hash_fn(
            F.concat_ws(
                "#",
                F.col("_start"),
                F.col("_wn"),
                F.lit(step),
                F.lit(seed),
            )
        )
        state = (
            state.join(deg, state["_node"] == deg["_s"], "left")
            .select(
                "_start",
                "_wn",
                "_path",
                F.col("_node").alias("_cur"),
                F.pmod(h, F.col("_d")).alias("_pick"),
            )
            .join(
                ranked,
                (F.col("_cur") == ranked["_s"])
                & (F.col("_pick") == ranked["_r"]),
                "left",
            )
            .select(
                "_start",
                "_wn",
                F.coalesce(F.col("_t"), F.col("_cur")).alias("_node"),
                F.when(F.col("_t").isNull(), F.col("_path"))
                .otherwise(F.array_append("_path", F.col("_t")))
                .alias("_path"),
            )
        )
    return state.select(
        "_start",
        "_wn",
        F.posexplode("_path").alias("step", "node_id"),
    ).select(
        F.col("_start").alias("start_node"),
        F.col("_wn").cast("int").alias("walk_no"),
        F.col("step").cast("int").alias("step"),
        "node_id",
    )


def skipgram_pairs(
    walks: DataFrame, *, window: int = 2
) -> DataFrame:
    """Skip-gram training pairs from a walk corpus (the second half of
    DeepWalk: walks → (center, context) co-occurrence counts that
    word2vec-style embedding training consumes): for every walk, every
    ordered pair of positions at distance 1..``window``, aggregated to
    ``(center_id, context_id, n_pairs)``.

    Input is :func:`random_walks` output (start_node, walk_no, step,
    node_id). The self-join keys on the WALK identity (start_node,
    walk_no) — each join group is one walk of ≤ walk_length+1 rows, so
    the join fans out by at most 2·window per row and partitions are
    walker-bounded (no hub effect: a hot NODE appears in many walks but
    each walk is its own tiny join group); the count then partial-
    aggregates on the (center, context) key before its one exchange.
    """
    if window < 1:
        raise ValueError("skipgram_pairs: window must be >= 1")
    a, b = walks.alias("a"), walks.alias("b")
    step_d = F.col("b.step") - F.col("a.step")
    return (
        a.join(
            b,
            (F.col("a.start_node") == F.col("b.start_node"))
            & (F.col("a.walk_no") == F.col("b.walk_no"))
            & (step_d != 0)
            & (F.abs(step_d) <= window),
        )
        .groupBy(
            F.col("a.node_id").alias("center_id"),
            F.col("b.node_id").alias("context_id"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def node2vec_walks(
    edges: DataFrame,
    *,
    walks_per_node: int = 1,
    walk_length: int = 3,
    w_return: int = 1,
    w_near: int = 4,
    w_far: int = 2,
    seed: int = 7,
    hash_fn=None,
    rank_buckets: int = 32,
) -> DataFrame:
    """node2vec second-order biased walks (Grover & Leskovec KDD'16;
    GDS ``node2vec``'s walk stage): like :func:`random_walks` but the
    step-i choice at node v (having arrived from u) weights each
    neighbor t by its RELATION TO u — ``w_return`` if t = u (the 1/p
    "return" bias), ``w_near`` if t is adjacent to u (the BFS-ish
    in-neighborhood bias), ``w_far`` otherwise (the 1/q DFS-ish
    out-bias). Integer weights instead of the paper's 1/p, 1/q floats
    — same expressiveness (weights are only ever compared as ratios)
    and the pick becomes EXACT integer arithmetic: neighbor chosen
    where ``pmod(H(start#walk#step#seed), Σw)`` lands in its cumulative
    weight interval over the ascending-id neighbor order, so the walks
    replay bit-for-bit in any engine (the :func:`random_walks`
    determinism contract carried to the biased case). Weights are
    normalized by their gcd before intervals are built — ratios are all
    that matter, and the normalization makes ANY equal triple collapse
    to the unit case, so ``w_return == w_near == w_far`` reproduces
    :func:`random_walks` exactly (``pmod(h, Σ1·d) div 1 ≡ pmod(h, d)``;
    asserted in tests for both (1,1,1) and (2,2,2), ADVICE r10). Step 1
    has no previous node and is uniform.

    Output: ``(start_node, walk_no, step, node_id)``, step 0 = start.

    Scale shape: per step, ONE equi-join of walker state against the
    checkpointed ranked adjacency (fan-out = degree, walker-bounded
    groups), ONE left semi-style join against the edge set to classify
    t~u adjacency (equi on (prev, t) — skinny 16-byte probes), and ONE
    per-walker window pair (cumsum + total) whose partitions are
    degree-bounded. Everything else matches random_walks: state rows
    are 4×8 B, adjacency checkpoints once, sinks end walks.
    """
    from .dedup import portable_hash64_col

    if walk_length < 1:
        raise ValueError("node2vec_walks: walk_length must be >= 1")
    if walks_per_node < 1:
        raise ValueError("node2vec_walks: walks_per_node must be >= 1")
    if min(w_return, w_near, w_far) < 0 or max(w_return, w_near, w_far) == 0:
        raise ValueError("node2vec_walks: weights must be >= 0, not all 0")
    g = math.gcd(math.gcd(w_return, w_near), w_far)
    w_return, w_near, w_far = w_return // g, w_near // g, w_far // g
    hash_fn = hash_fn or portable_hash64_col

    adj = edges.select(SOURCE_ID, TARGET_ID).distinct()
    ranked = _ranked_adjacency(adj, n_buckets=rank_buckets).transform(materialize)
    epair = ranked.select(
        F.col("_s").alias("_eu"), F.col("_t").alias("_ev"), F.lit(1).alias("_adj")
    )
    deg = (
        ranked.groupBy(F.col("_s"))
        .agg(F.count(F.lit(1)).alias("_d"))
        .transform(materialize)
    )

    starts = adj.select(F.col(SOURCE_ID).alias("_start")).distinct()
    state = starts.select(
        "_start",
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_node - 1))
        ).alias("_wn"),
        F.lit(None).cast(adj.schema[SOURCE_ID].dataType).alias("_prev"),
        F.col("_start").alias("_node"),
    )
    out = state.select(
        F.col("_start").alias("start_node"),
        F.col("_wn").cast("int").alias("walk_no"),
        F.lit(0).cast("int").alias("step"),
        F.col("_node").alias("node_id"),
    )
    for step in range(1, walk_length + 1):
        h = hash_fn(
            F.concat_ws(
                "#",
                F.col("_start"),
                F.col("_wn"),
                F.lit(step),
                F.lit(seed),
            )
        )
        if step == 1:
            # uniform first hop — identical to random_walks step 1
            state = (
                state.join(deg, state["_node"] == deg["_s"])
                .select(
                    "_start",
                    "_wn",
                    F.col("_node").alias("_cur"),
                    F.pmod(h, F.col("_d")).alias("_pick"),
                )
                .join(
                    ranked,
                    (F.col("_cur") == ranked["_s"])
                    & (F.col("_pick") == ranked["_r"]),
                )
                .select(
                    "_start",
                    "_wn",
                    F.col("_cur").alias("_prev"),
                    F.col("_t").alias("_node"),
                )
            )
        else:
            cand = (
                state.join(ranked, state["_node"] == ranked["_s"])
                .join(
                    epair,
                    (F.col("_prev") == F.col("_eu"))
                    & (F.col("_t") == F.col("_ev")),
                    "left_outer",
                )
                .select(
                    "_start",
                    "_wn",
                    F.col("_node").alias("_cur"),
                    "_prev",
                    "_t",
                    "_r",
                    F.when(F.col("_t") == F.col("_prev"), F.lit(w_return))
                    .when(F.col("_adj").isNotNull(), F.lit(w_near))
                    .otherwise(F.lit(w_far))
                    .cast("long")
                    .alias("_w"),
                )
            )
            wk = Window.partitionBy("_start", "_wn")
            cum = F.sum("_w").over(wk.orderBy("_r"))
            tot = F.sum("_w").over(wk)
            state = (
                cand.select(
                    "_start",
                    "_wn",
                    "_cur",
                    "_t",
                    "_w",
                    cum.alias("_cum"),
                    # tot > 0 guard (r15): an all-zero-weight candidate
                    # set (possible under zero weight params — e.g.
                    # w_return=0 on a degree-1 cycle) made pmod raise
                    # ANSI divide-by-zero; CASE branches evaluate
                    # lazily, so the NULL pick now fails the interval
                    # filter and the walker dies with its prefix kept —
                    # the same ending a sink gives it
                    F.when(tot > F.lit(0), F.pmod(h, tot)).alias("_pick"),
                )
                .filter(
                    (F.col("_pick") >= F.col("_cum") - F.col("_w"))
                    & (F.col("_pick") < F.col("_cum"))
                )
                .select(
                    "_start",
                    "_wn",
                    F.col("_cur").alias("_prev"),
                    F.col("_t").alias("_node"),
                )
            )
        # r15: same per-step materialization as random_walks — the
        # biased step is two joins + two windows, and the final union
        # re-ran all of it once per later step (guide §2.4)
        state = state.transform(materialize)
        out = out.unionByName(
            state.select(
                F.col("_start").alias("start_node"),
                F.col("_wn").cast("int").alias("walk_no"),
                F.lit(step).cast("int").alias("step"),
                F.col("_node").alias("node_id"),
            )
        )
    return out


def fastrp_embeddings(
    edges: DataFrame,
    *,
    dims: int = 8,
    iter_weights: tuple[int, ...] = (1, 2, 1),
    seed: int = 7,
    directed: bool = False,
    sparsity: int = 3,
    checkpoint: bool = True,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.fastRP`` parity (Chen et al. CIKM 2019 — the GDS
    flagship node embedding) in EXACT integer arithmetic →
    ``(nodeId, dim, emb_fp)``: very-sparse signed random projection
    propagated through the adjacency, iterations combined by weight::

        h₀(v, d) ∈ {+1, 0, −1}   (probability 1/2s, 1−1/s, 1/2s)
        hₖ(v, d) = Σ_{u→v} hₖ₋₁(u, d)
        emb(v,d) = Σₖ iter_weights[k] · hₖ(v, d)

    Deterministic by construction — the projection sign is
    ``pmod(portable_hash(node # dim # seed), 2s)`` (0 → +1, 1 → −1,
    else 0), so any engine/partitioning/retry derives the SAME
    embedding and the DuckDB oracle replays it bit-for-bit. Two
    documented deviations from the float original, both
    direction-preserving: the √s magnitude on nonzero entries is
    dropped (a global constant scales every coordinate equally) and
    per-iteration normalization is omitted (``iter_weights`` absorbs
    the relative magnitudes; hₖ grows like Δᵏ, so past 4 propagation
    steps the running sums AUTOMATICALLY widen to DECIMAL(38,0) —
    ADVICE r11 — and the final int64 cast raises under ANSI mode
    instead of wrapping if the exact value still exceeds int64; the
    float original normalizes precisely because it cannot make this
    bound exact).

    Scale shape: state is (node, dim, value) rows — dims is a row
    multiplier that buys parallelism, not a per-row array the
    aggregator must zip; per propagation step ONE edge-keyed equi-join
    of the skinny state against the once-checkpointed adjacency + one
    partially-aggregated groupBy on (target, dim) — map-side combine
    live, AQE-splittable, no windows anywhere; lineage checkpointed
    per step. Embedding tables at 100 TB are nodes × dims rows of 24
    bytes — pivot to array<float> at the consumer if needed.
    """
    from .dedup import portable_hash64_col

    if dims < 1:
        raise ValueError("fastrp_embeddings: dims must be >= 1")
    if len(iter_weights) < 1:
        raise ValueError("fastrp_embeddings: iter_weights must be non-empty")
    if sparsity < 1:
        raise ValueError("fastrp_embeddings: sparsity must be >= 1")
    # hₖ grows like (max degree)^k, so long iter_weights would silently
    # wrap int64 sums in non-ANSI mode (ADVICE r11): past 4 propagation
    # steps the running state widens to DECIMAL(38,0) — exact up to
    # Δ¹² on hub-degree-10³ graphs — and the final long cast raises
    # (ANSI) rather than wrapping if the true value exceeds int64.
    state_t = "decimal(38,0)" if len(iter_weights) > 4 else "long"
    adj = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
    if not directed:
        adj = adj.unionByName(
            edges.select(F.col(dst).alias("_u"), F.col(src).alias("_v"))
        )
    adj = (
        adj.filter(F.col("_u") != F.col("_v"))
        .distinct()
        .transform(materialize)
    )
    nodes = (
        adj.select(F.col("_u").alias(NODE_ID))
        .unionByName(adj.select(F.col("_v").alias(NODE_ID)))
        .distinct()
    )
    hv = portable_hash64_col(
        F.concat_ws(
            "#",
            F.col(NODE_ID).cast("string"),
            F.col("dim").cast("string"),
            F.lit(str(seed)),
        )
    )
    pick = F.pmod(hv, F.lit(2 * sparsity))
    state = (
        nodes.select(
            NODE_ID,
            F.explode(
                F.array(*[F.lit(d) for d in range(dims)])
            ).alias("dim"),
        )
        .select(
            NODE_ID,
            "dim",
            F.when(pick == 0, F.lit(1))
            .when(pick == 1, F.lit(-1))
            .otherwise(F.lit(0))
            .cast(state_t)
            .alias("_h"),
        )
    )
    if checkpoint:
        state = state.transform(materialize)
    emb = state.select(
        NODE_ID, "dim", (F.col("_h") * F.lit(iter_weights[0])).alias("_e")
    )
    for w in iter_weights[1:]:
        state = (
            adj.join(
                state.withColumnRenamed(NODE_ID, "_u"), ["_u"]
            )
            .groupBy(F.col("_v").alias(NODE_ID), "dim")
            .agg(F.sum("_h").cast(state_t).alias("_h"))
        )
        if checkpoint:
            state = state.transform(materialize)
        emb = emb.join(state, [NODE_ID, "dim"], "left_outer").select(
            NODE_ID,
            "dim",
            (
                F.col("_e") + F.lit(w) * F.coalesce(F.col("_h"), F.lit(0))
            ).alias("_e"),
        )
    return emb.select(
        NODE_ID,
        F.col("dim").cast("long").alias("dim"),
        F.col("_e").cast("long").alias("emb_fp"),
    )


def _relaxation_operands(
    op: str, seeds: DataFrame, edges: DataFrame, weight_col: str, directed: bool
) -> tuple[DataFrame, DataFrame]:
    """The static operands of the relaxation loops (:func:`shortest_paths`,
    :func:`k_shortest_path_lengths`) → ``(sym, start)``: the checkpointed
    ``(_u, _v, _w)`` edge list (both directions unless ``directed``) and
    the checkpointed seed state ``(nodeId, dist = 0)``.

    Weights must be non-negative integers (ADVICE r10): int64 costs stay
    exact and hash-checkable, where a fractional weight would be silently
    truncated by the long cast — a non-integer type raises ``TypeError``
    at plan time. A negative weight raises ``ValueError`` after one cheap
    ``min`` agg on the checkpointed edges: relaxation toward a negative
    cycle never reaches a fixpoint, and failing fast names the contract
    violation instead of a late budget error."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    wtype = edges.schema[weight_col].dataType
    if not isinstance(wtype, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"{op}: weight column {weight_col!r} must be an integer type, "
            f"got {wtype.simpleString()} (int64 costs stay exact and "
            "hash-checkable)"
        )
    sym = edges.select(
        F.col(SOURCE_ID).alias("_u"),
        F.col(TARGET_ID).alias("_v"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    if not directed:
        sym = sym.unionByName(
            sym.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"), "_w")
        )
    sym = sym.transform(materialize)
    min_w = sym.agg(F.min("_w").alias("m")).first()["m"]
    if min_w is not None and min_w < 0:
        raise ValueError(
            f"{op}: negative weight {min_w} — weights must be non-negative "
            "(relaxation toward a negative cycle never reaches a fixpoint)"
        )
    start = seeds.select(F.col(NODE_ID), F.lit(0).cast("long").alias("dist"))
    return sym, start.distinct().transform(materialize)


def _relax(state: DataFrame, sym: DataFrame) -> DataFrame:
    """Every ``(nodeId, dist)`` state row carried across every edge."""
    return state.join(sym, state[NODE_ID] == sym["_u"]).select(
        F.col("_v").alias(NODE_ID), (F.col("dist") + F.col("_w")).alias("dist")
    )


def shortest_paths(
    seeds: DataFrame,
    edges: DataFrame,
    weight_col: str,
    *,
    max_iter: int = 20,
    directed: bool = True,
) -> DataFrame:
    """Weighted multi-source shortest paths — GDS Dijkstra/Δ-stepping
    parity in the DataFrame execution model: ``(nodeId, dist)`` =
    cheapest path cost from ANY seed, for every reached node. Weights
    must be non-negative integers (int64 distances stay exact and
    hash-checkable; float costs would accumulate ulp dust per hop) —
    ENFORCED, not just documented (ADVICE r10): a non-integer weight
    type raises ``TypeError`` at plan time, a negative weight raises
    ``ValueError`` after one cheap ``min`` agg on the checkpointed
    edge set.

    Shape: Bellman-Ford relaxation to a fixpoint — Dijkstra's priority
    queue is inherently sequential, but relaxation is a join: per round
    ONE equi-join of the current distance table (8+8-byte rows) against
    the edge list, a partial-aggregated ``min`` merge, and a
    changed-row count for early exit; lineage checkpoints per round.
    Rounds = longest shortest-path HOP count (≤ diameter), the same
    iterative floor as BFS/CC; raises loudly at ``max_iter`` instead of
    returning partially-relaxed distances. Relaxation is idempotent
    past the fixpoint — the property the unrolled SQL oracle leans on.
    """
    sym, start = _relaxation_operands(
        "shortest_paths", seeds, edges, weight_col, directed
    )

    def step(dist: DataFrame) -> DataFrame:
        # r15: the improvement flag rides the SAME union+min aggregate
        # (own rows marked; improved ⟺ newly reached, or strictly
        # smaller than the own-row minimum) — the old probe re-joined
        # the two distance tables in a separate job per round
        return (
            dist.select(NODE_ID, "dist", F.lit(1).alias("_own"))
            .unionByName(_relax(dist, sym).withColumn("_own", F.lit(0)))
            .groupBy(NODE_ID)
            .agg(
                F.min("dist").alias("dist"),
                F.min(F.when(F.col("_own") == 1, F.col("dist"))).alias(
                    "_old"
                ),
            )
            .select(
                NODE_ID,
                "dist",
                (
                    F.col("_old").isNull()
                    | (F.col("dist") < F.col("_old"))
                ).alias("_chg"),
            )
        )

    dist, _ = fixpoint(
        "shortest_paths", start, step, F.col("_chg"), max_iter,
        "raise max_iter; partially relaxed distances would overstate costs",
    )
    return dist.select(NODE_ID, "dist")


def k_shortest_path_lengths(
    seeds: DataFrame,
    edges: DataFrame,
    weight_col: str,
    k: int,
    *,
    max_iter: int = 30,
    directed: bool = True,
) -> DataFrame:
    """k smallest DISTINCT walk costs from the seed set to every
    reached node — ``(nodeId, k_rank, dist)``, ``k_rank`` = 1..k in
    ascending ``dist`` order (r15; the data-parallel relative of GDS
    Yen's k-shortest-paths, whose SIMPLE-path spur loop is inherently
    sequential — each spur iteration removes edges discovered by the
    previous one, ARCHITECTURE.md exclusion list).

    **Semantics.** Paths here are WALKS (vertices may repeat) and ties
    collapse: the result is the k smallest distinct costs over all
    seed→node walks. That is exactly the (min,+) semiring of plain
    Bellman-Ford lifted to k-element sorted distinct-cost sets, and the
    lift preserves Bellman optimality: if cost ``d`` is among the k
    smallest distinct costs to ``v`` via last edge ``(u,v,w)``, then
    ``d−w`` is among the k smallest distinct costs to ``u`` (otherwise
    k distinct costs < d−w at ``u`` would give k distinct costs < d at
    ``v``, evicting ``d``). So the round operator — relax every state
    row across every edge, merge, keep the k smallest distinct per
    node — has the true answer as its unique fixpoint reachable from
    the seed state, and is idempotent past it (the property the
    unrolled SQL oracle leans on).

    Shape per round: ONE equi-join of the ≤ k·|V|-row state against
    the edge list, one repartition-by-node, a hash-dedup on
    (node, dist) and a node-partitioned ``row_number`` top-k (sort-
    based, no per-group memory blowup — hub in-degrees never build a
    ``collect_set``); the count of new costs rides the round's
    checkpoint job. Rounds = hop count of the
    longest walk REALIZING a kept cost; raises loudly at ``max_iter``
    instead of returning partially-relaxed sets. Weights must be
    non-negative integers, enforced exactly like :func:`shortest_paths`
    (int64 costs stay exact and hash-checkable; a negative weight
    makes "k smallest walk costs" −∞-divergent).
    """
    if k < 1:
        raise ValueError(
            f"k_shortest_path_lengths: k must be >= 1, got {k}"
        )
    if max_iter < 1:
        raise ValueError(
            f"k_shortest_path_lengths: max_iter must be >= 1, "
            f"got {max_iter}"
        )
    sym, start = _relaxation_operands(
        "k_shortest_path_lengths", seeds, edges, weight_col, directed
    )
    topk = Window.partitionBy(NODE_ID).orderBy("dist")

    def step(state: DataFrame) -> DataFrame:
        # repartition by node ONCE: hash(node) satisfies the clustered
        # distribution of BOTH the (node, dist) dedup and the window,
        # so the dedup + top-k pipeline runs in a single exchange
        # r15: provenance rides the dedup — collapsing (node, dist)
        # duplicates with max(_own) both dedups AND marks whether the
        # cost existed in the previous state, so the fixpoint probe is
        # a flag count inside the checkpoint job instead of a separate
        # anti-join job per round
        return (
            state.select(NODE_ID, "dist", F.lit(1).alias("_own"))
            .unionByName(_relax(state, sym).withColumn("_own", F.lit(0)))
            .repartition(NODE_ID)
            .groupBy(NODE_ID, "dist")
            .agg(F.max("_own").alias("_own"))
            .withColumn("_rn", F.row_number().over(topk))
            .filter(F.col("_rn") <= k)
            .drop("_rn")
        )

    # monotone under the sorted-set order: a row leaves the state only
    # when a strictly smaller candidate evicts it, so new \ old = ∅  ⟺
    # new = old (fixpoint) — and new \ old is exactly the surviving
    # rows whose cost no prior state row had
    state, _ = fixpoint(
        "k_shortest_path_lengths", start, step, F.col("_own") == 0,
        max_iter,
        "sets still improving: raise max_iter; truncated sets would "
        "silently under-report the k-th cost",
    )
    return state.select(
        NODE_ID,
        F.row_number().over(topk).alias("k_rank"),
        "dist",
    )


def _oriented_edges(e: DataFrame) -> DataFrame:
    """``(_u, _v, _src, _dst, _dd)`` — each canonical undirected edge
    of ``e`` (columns ``_u < _v``) additionally oriented FROM its
    lower-``(degree, id)`` endpoint, with ``_dd`` the (degree, id)-order
    rank proxy of the head: the head's degree (ties broken by id
    downstream). The degree-ordered orientation makes the edge set a
    DAG in which every triangle has exactly ONE node with two
    out-edges, and out-degree is bounded by O(√m) (Chiba–Nishizeki) —
    the :func:`local_clustering_coefficient` orientation, promoted into
    the truss peel (VERDICT r10 #2). Computed ONCE per graph, not per
    peel round: ANY fixed total vertex order enumerates each triangle
    exactly once, and peeling only REMOVES edges, so a node's
    out-degree under the initial-degree order can only shrink — the
    O(√m_initial) bound holds in every round while the peel loop stays
    at the r10 join count (measured: per-round re-orientation cost
    ~2× wall at sf0.1 for zero benefit)."""
    deg = (
        e.select(F.col("_u").alias("_n"))
        .unionByName(e.select(F.col("_v").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    j = (
        e.join(deg.select(F.col("_n").alias("_u"), F.col("_d").alias("_a")), "_u")
        .join(deg.select(F.col("_n").alias("_v"), F.col("_d").alias("_b")), "_v")
    )
    fwd = (F.col("_a") < F.col("_b")) | (
        (F.col("_a") == F.col("_b")) & (F.col("_u") < F.col("_v"))
    )
    return j.select(
        "_u",
        "_v",
        F.when(fwd, F.col("_u")).otherwise(F.col("_v")).alias("_src"),
        F.when(fwd, F.col("_v")).otherwise(F.col("_u")).alias("_dst"),
        F.when(fwd, F.col("_b")).otherwise(F.col("_a")).alias("_dd"),
    )


def _oriented_wedges(o: DataFrame) -> DataFrame:
    """Ordered out-neighbor pairs ``(_p, _q, _r)`` of the oriented edge
    set: for every node ``_p``, each unordered pair of out-neighbors
    exactly once, ordered by ``(degree, id)`` so the closing edge — if
    it exists — is oriented ``_q → _r``. Wedge count per node is
    C(out-degree, 2) with out-degree O(√m)-bounded by the orientation:
    a pure star hub (degree d, leaves degree 1) contributes ZERO wedges
    (every leaf has out-degree 1, the hub has out-degree 0), where the
    shared-vertex enumeration contributed C(d, 2)."""
    a, b = o.alias("a"), o.alias("b")
    lt = (F.col("a._dd") < F.col("b._dd")) | (
        (F.col("a._dd") == F.col("b._dd"))
        & (F.col("a._dst") < F.col("b._dst"))
    )
    return a.join(
        b, (F.col("a._src") == F.col("b._src")) & lt
    ).select(
        F.col("a._src").alias("_p"),
        F.col("a._dst").alias("_q"),
        F.col("b._dst").alias("_r"),
    )


def _triangles_deg_oriented(o: DataFrame) -> DataFrame:
    """All triangles of the ORIENTED canonical edge set ``o``
    (:func:`_oriented_edges` columns), each exactly once, as
    ``(_p, _q, _r)`` node triples — wedges from the degree-oriented DAG
    closed by one two-key equi-join."""
    closing = o.select(F.col("_src").alias("_q"), F.col("_dst").alias("_r"))
    return _oriented_wedges(o).join(closing, ["_q", "_r"])


def ktruss(edges: DataFrame, k: int, *, max_iter: int = 30) -> DataFrame:
    """k-truss decomposition (Cohen 2008; the GDS triangle-family
    cousin of :func:`kcore`): the maximal subgraph in which EVERY edge
    sits in ≥ k−2 triangles — a stricter cohesion filter than k-core
    (degree can be faked by a hub; triangle support cannot), the
    standard community-backbone/spam-ring cleanup. Returns the
    surviving canonical edges ``(sourceNodeId, targetNodeId, support)``
    with their fixpoint support, undirected semantics.

    Shape: iterative peel — per round ONE DEGREE-ORIENTED wedge join
    (:func:`_triangles_deg_oriented`: edges oriented ONCE from the
    lower-(INITIAL degree, id) endpoint — any fixed total order
    enumerates each triangle exactly once, and peeling only shrinks
    out-degrees, so the bound survives every round at zero per-round
    cost — wedges enumerated as out-neighbor pairs, closed by a
    two-key equi-join; wedge count per node C(out-degree, 2) with
    out-degree O(√m) by Chiba–Nishizeki, so a surviving web-scale hub
    contributes O(m) wedges, not O(deg²); VERDICT r10 #2, upgraded
    from the shared-vertex enumeration), a 3-edge explode into a
    partial-aggregated support count, and a semi filter; edge set
    checkpoints per round, early exit at the fixpoint, loud failure at
    ``max_iter`` (sf0.01 co-order fixture: 20 653 → 10 317 edges over
    7 rounds at k=4 — a real cascade, identical under both
    enumerations). Peeling is monotone and idempotent past the fixpoint
    — the property the unrolled SQL oracle leans on; the catalog query
    pins ``max_iter`` to the oracle's unroll depth so a deeper cascade
    fails LOUDLY instead of hash-mismatching (ADVICE r10).
    """
    if k < 3:
        raise ValueError("ktruss: k must be >= 3 (k=2 keeps every edge)")
    e = (
        edges.select(
            F.least(F.col(SOURCE_ID), F.col(TARGET_ID)).alias("_u"),
            F.greatest(F.col(SOURCE_ID), F.col(TARGET_ID)).alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
        .transform(materialize)
    )
    n = e.count()
    o = _oriented_edges(e).transform(materialize)
    for _ in range(max_iter):
        tri = _triangles_deg_oriented(o)
        # the triple is in (degree, id) orientation order, NOT id order
        # — canonicalize each of the 3 edges back to (_u < _v) for the
        # support count
        t3 = (
            tri.select(
                F.least("_p", "_q").alias("_u"),
                F.greatest("_p", "_q").alias("_v"),
            )
            .unionByName(
                tri.select(
                    F.least("_q", "_r").alias("_u"),
                    F.greatest("_q", "_r").alias("_v"),
                )
            )
            .unionByName(
                tri.select(
                    F.least("_p", "_r").alias("_u"),
                    F.greatest("_p", "_r").alias("_v"),
                )
            )
        )
        sup = t3.groupBy("_u", "_v").agg(
            F.count(F.lit(1)).cast("long").alias("_s")
        )
        # r15: checkpoint + size probe fused; the next round's oriented
        # view is a projection of the SAME checkpoint (the second
        # per-round materialize was a redundant copy job)
        kept, m = materialize_count(
            o.join(sup, ["_u", "_v"]).filter(F.col("_s") >= k - 2)
        )
        o = kept.select("_u", "_v", "_src", "_dst", "_dd")
        if m == n:
            return kept.select(
                F.col("_u").alias(SOURCE_ID),
                F.col("_v").alias(TARGET_ID),
                F.col("_s").alias("support"),
            )
        n = m
        if m == 0:
            return kept.select(
                F.col("_u").alias(SOURCE_ID),
                F.col("_v").alias(TARGET_ID),
                F.col("_s").alias("support"),
            )
    raise RuntimeError(f"ktruss: no fixpoint in {max_iter} rounds")


def community_conductance(
    edges: DataFrame,
    labels: DataFrame,
    *,
    scale: int = 10**9,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.conductance`` parity (r12): per-community conductance
    of an UNDIRECTED graph under a given community assignment →
    ``(community, n_nodes, cut_edges, degree_sum, conductance_fp)``
    where::

        φ_c  = cut_c / min(vol_c, 2m − vol_c)
        φ_fp = (cut_c · scale) div min(vol_c, 2m − vol_c)

    (m = undirected edge count, cut_c = edges with exactly ONE endpoint
    in c, vol_c = Σ member degrees = 2·L_c + cut_c). The min-volume
    normalization is the standard (Kannan–Vempala–Vetta) form: a
    "community" that is most of the graph is judged by its complement's
    volume, so φ stays in [0, 1]. φ_fp = 0 when the min volume is 0
    (edgeless community, or one community covering every edge — GDS
    skips these; a zero is the honest fixed-point encoding). One
    non-negative integer floor division — order-independent, so rows
    hash-match an ANSI oracle bit-for-bit where the float form never
    would. Self-loops dropped, edges deduped canonically (u < v),
    exactly like :func:`community_modularity`, and composes with the
    same labelers (LPA, CC, external assignment — the GDS
    ``communityProperty`` shape).

    Scale: two skinny label joins (8-byte ids) + three
    partial-aggregated groupBys (degrees, per-community volume,
    per-community cut) + a 1-row broadcast m; nothing wider than the
    edge list moves, no windows, no driver state — the
    :func:`community_modularity` plan with the intra-filter flipped.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )
    m = e.agg(F.count(F.lit(1)).cast("long").alias("_m"))
    deg = (
        e.select(F.col("_u").alias("_n"))
        .unionByName(e.select(F.col("_v").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    lab = labels.select(
        F.col(NODE_ID).alias("_n"), F.col("label").alias("_lbl")
    )
    dc = (
        lab.join(deg, "_n", "left_outer")
        .groupBy("_lbl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.coalesce("_d", F.lit(0))).cast("long").alias(
                "degree_sum"
            ),
        )
    )
    labeled = (
        e.join(lab.withColumnRenamed("_n", "_u"), "_u")
        .withColumnRenamed("_lbl", "_la")
        .join(lab.withColumnRenamed("_n", "_v"), "_v")
        .withColumnRenamed("_lbl", "_lb")
        .filter(F.col("_la") != F.col("_lb"))
    )
    cut = (
        labeled.select(F.col("_la").alias("_lbl"))
        .unionByName(labeled.select(F.col("_lb").alias("_lbl")))
        .groupBy("_lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("cut_edges"))
    )
    return (
        dc.join(cut, "_lbl", "left_outer")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("_lbl").alias("community"),
            "n_nodes",
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias(
                "cut_edges"
            ),
            "degree_sum",
            F.expr(
                f"CASE WHEN least(degree_sum, 2 * _m - degree_sum) = 0 "
                f"THEN 0L ELSE "
                f"(CAST(coalesce(cut_edges, 0L) AS DECIMAL(38,0))"
                f" * {scale})"
                f" div least(degree_sum, 2 * _m - degree_sum) END"
            ).cast("long").alias("conductance_fp"),
        )
    )


def topological_order(
    edges: DataFrame | None = None,
    *,
    levels: DataFrame | None = None,
    max_iter: int = 64,
    n_buckets: int = 32,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.dag.topologicalSort`` parity (r12) → ``(nodeId,
    level, topo_rank)``: a total topological order of a DAG, 1-based.
    Rank order is ``(level, nodeId)`` — level from
    :func:`dag_longest_path` (every predecessor has a strictly smaller
    level, so any level-ascending order IS topological; GDS's own
    ``maxDepth`` mode exposes the same pairing), with the node id as
    the deterministic intra-level tie-break. Cyclic input fails LOUD
    via the level pass's cycle guard — the GDS error contract.

    Scale shape: the level fixpoint (depth rounds, skinny state) plus
    ONE :func:`~.packing.global_prefix_sum` rank assignment over the
    composite key ``level · 2⁴⁰ + nodeId`` — the range-bucket
    prefix-sum scaffold, NEVER a single-task global ``row_number``
    window (the shared ordering discipline of training_order /
    pack_sequences). Node ids must fit 40 bits (asserted) so the
    composite key stays collision-free in int64.

    Pass ``levels`` (a :func:`dag_longest_path` result) to skip the
    level fixpoint — the build-once split for callers that already
    hold the levels table (the catalog memoizes it per session: the
    relaxation loop is the expensive half, the rank stage the cheap
    one).
    """
    from .packing import global_prefix_sum

    if (edges is None) == (levels is None):
        raise ValueError(
            "topological_order: pass exactly one of edges / levels"
        )
    if levels is None:
        levels = dag_longest_path(
            edges, max_iter=max_iter, src=src, dst=dst
        ).transform(materialize)
    bad = levels.filter(
        (F.col(NODE_ID) < 0) | (F.col(NODE_ID) >= F.lit(1 << 40))
    )
    if bad.limit(1).count() > 0:
        raise ValueError(
            "topological_order: node ids must be in [0, 2^40) so the "
            "(level, id) composite rank key stays exact in int64"
        )
    keyed = levels.select(
        NODE_ID,
        "level",
        (F.col("level") * F.lit(1 << 40) + F.col(NODE_ID)).alias("_ok"),
        F.lit(1).cast("long").alias("_one"),
    )
    ranked = global_prefix_sum(
        keyed, "_one", "_ok", out_col="_pre", n_buckets=n_buckets
    )
    return ranked.select(
        NODE_ID,
        "level",
        (F.col("_pre") + F.lit(1)).cast("long").alias("topo_rank"),
    )


def k1_coloring(
    edges: DataFrame,
    *,
    seed: int = 0,
    max_iter: int = 40,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.k1coloring`` parity (r12): a proper vertex coloring of
    the UNDIRECTED graph → ``(nodeId, color)`` with no edge
    monochromatic and colors drawn greedily from ``0, 1, 2, …`` —
    ≤ Δ+1 colors total (the K-1 guarantee). Deterministic
    Jones–Plassmann (1993): priorities are ``(portable_hash64(node #
    seed), node)`` — a strict total order, so unlike GDS's
    random-permutation rounds every engine replays the SAME rounds and
    the full coloring hash-matches an ANSI oracle bit-for-bit. Per
    round, every uncolored node whose priority beats ALL its uncolored
    neighbors takes the smallest color unused by its already-colored
    neighbors (the mex); two adjacent nodes can never win the same
    round, so properness is structural. Rounds = O(log n) expected
    with hash priorities; LOUD NoFixpointError past ``max_iter`` (the
    fixed-unroll oracle contract — a silent partial coloring would
    look proper and mean nothing). Self-loops are dropped (a
    self-adjacent node is uncolorable), edges deduped canonically.

    Scale shape, per round (a Pregel superstep — one vertex ⋈ message
    join plus one group-by): the checkpointed adjacency carries one
    self row ``(n, n)`` per node, so ONE join of the adjacency with the
    state on the neighbor side feeds ONE partial-aggregated groupBy per
    node that yields the node's own ``(h, color)``, its strongest
    uncolored rival ``max(struct(h, id))`` and its colored-neighbor
    palette ``collect_set(color)`` together — no join back to the
    state, never a per-source window. The mex is computed WINDOWLESS:
    ``aggregate(array_sort(palette), 0, acc,x -> if(x=acc, acc+1,
    acc))`` folds the sorted palette to the first gap in one codegen
    HOF (state bounded by colors-so-far ≤ Δ+1, not by degree). The
    round's Columns are built once per call, and the "anyone left
    uncolored?" probe is a ``count_if`` observed inside the round's
    checkpoint job (:func:`materialize_count` ``where=``) — no
    separate probe job.
    """
    from .dedup import portable_hash64_col

    sym = _k1_adjacency(edges, src, dst).transform(materialize)
    # ONE carried frame ``st = (n, h, color-or-NULL)``, checkpointed per
    # round; the initial state reads the self rows (no extra shuffle)
    st = sym.filter(F.col("_u") == F.col("_v")).select(
        F.col("_u").alias("_n"),
        portable_hash64_col(
            F.concat_ws("#", F.col("_u").cast("string"), F.lit(str(seed)))
        ).alias("_h"),
        F.lit(None).cast("long").alias("color"),
    )
    cols = _k1_round_columns()
    st, _ = fixpoint(
        "k1_coloring", st, lambda st: _k1_round_state(sym, st, cols),
        F.col("color").isNull(), max_iter,
        "nodes still uncolored: raise max_iter (rounds are O(log n) "
        "expected; a silent partial coloring would look proper and mean "
        "nothing)",
        open_rows=True,
    )
    return st.select(F.col("_n").alias(NODE_ID), "color")


def _k1_adjacency(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The :func:`k1_coloring` adjacency ``(_u, _v)``: every undirected
    edge in both directions plus one self row ``(n, n)`` per node, which
    carries the node's own state through the round's single neighbor
    join. Self-loops are dropped and duplicates collapse in one
    distinct (one shuffle)."""
    a, b = F.col(src), F.col(dst)

    def row(u: Column, v: Column) -> Column:
        return F.struct(u.alias("_u"), v.alias("_v"))

    return (
        edges.filter(a != b)
        .select(F.inline(F.array(row(a, b), row(b, a), row(a, a), row(b, b))))
        .distinct()
    )


def _k1_round_columns() -> tuple[list[Column], list[Column], list[Column]]:
    """The Columns of one :func:`_k1_round_state` round — the neighbor
    view of the state, the per-node aggregates and the output select —
    built once per :func:`k1_coloring` call instead of once per round."""
    own_row = F.col("_u") == F.col("_v")
    nbr = [
        F.col("_n").alias("_v"),
        F.col("_h").alias("_hv"),
        F.col("color").alias("_cv"),
    ]
    aggs = [
        F.max(F.when(own_row, F.col("_hv"))).alias("_h"),
        F.max(F.when(own_row, F.col("_cv"))).alias("color"),
        F.max(
            F.when(
                ~own_row & F.col("_cv").isNull(),
                F.struct(F.col("_hv").alias("h"), F.col("_v").alias("n")),
            )
        ).alias("_rival"),
        F.collect_set(F.when(~own_row, F.col("_cv"))).alias("_palette"),
    ]
    own = F.struct(F.col("_h").alias("h"), F.col("_n").alias("n"))
    win = F.col("color").isNull() & (
        F.col("_rival").isNull() | (own > F.col("_rival"))
    )
    mex = F.aggregate(
        F.array_sort("_palette"),
        F.lit(0).cast("long"),
        lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
    )
    out = [
        "_n",
        "_h",
        F.coalesce(F.col("color"), F.when(win, mex)).alias("color"),
    ]
    return nbr, aggs, out


def _k1_round_state(
    sym: DataFrame,
    st: DataFrame,
    cols: tuple[list[Column], list[Column], list[Column]] | None = None,
) -> DataFrame:
    """One Jones–Plassmann round over the single carried state
    ``st = (_n, _h, color-or-NULL)`` (the :func:`k1_coloring` loop
    body, factored out so the plan audit can pin its shape) → the next
    state. ``sym`` is the :func:`_k1_adjacency` with its self rows.

    Scale shape: ONE join attaches each neighbor's (hash, color) state
    to the adjacency — the self row attaches the node's own — and ONE
    partial-aggregated groupBy per node reads, in one pass, the node's
    own ``(h, color)``, the strongest uncolored rival ``max(struct(h,
    n))`` and the distinct colored-neighbor palette ``collect_set``
    (bounded by colors-so-far ≤ Δ+1, never by degree). Winners —
    uncolored, own ``(h, n)`` beats every uncolored neighbor — take the
    mex of the palette (first gap of the sorted palette, folded in one
    codegen HOF) in the select on top of the aggregate: there is no
    join back to the state. ``cols`` are :func:`_k1_round_columns`,
    built here when not passed."""
    nbr, aggs, out = cols or _k1_round_columns()
    # shuffle_hash: a hash table of the state's partition per task. Left
    # to itself, AQE turns a small state into a broadcast join after
    # both shuffles ran — one more job per round to collect it
    return (
        sym.join(st.select(*nbr).hint("shuffle_hash"), "_v")
        .groupBy(F.col("_u").alias("_n"))
        .agg(*aggs)
        .select(*out)
    )


def articlerank_fixedpoint(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 4,
    scale: int = 10**12,
) -> DataFrame:
    """GDS ``gds.articleRank`` parity (r12) in the
    :func:`pagerank_fixedpoint` exact-integer contract →
    ``(nodeId, rank_fp)``. ArticleRank dampens low-degree influence by
    adding the graph's MEAN out-degree to every divisor::

        r(v) ← base + (85 · Σ_{u→v} r(u)·N div (od_u·N + m)) div 100

    — the textbook ``r(u)/(od_u + m/N)`` cleared of its rational
    denominator (multiply through by N), so every step stays integer
    floor division and the ranks hash-match an ANSI oracle bit-for-bit
    where the float form never would. ``m`` counts directed edges, N
    all nodes (the GDS averageOutDegree semantics, dangling included);
    the r(u)·N product rides DECIMAL(38,0) — scale 10¹² times 10¹²
    nodes stays inside 38 digits where int64 would wrap at ~10⁷ nodes.
    Same simplified dangling treatment, fixed-iteration contract, and
    per-round shape as pagerank: ONE edge-keyed join + one
    partial-aggregated sum, checkpointed — the weight/divisor change
    adds ZERO exchanges (the pagerank_weighted precedent). N and m
    ride the checkpoint jobs that fix the node and edge lists once.
    """
    nodes, n, ranks, teleport = _uniform_start(nodes, scale)
    edge_pairs, m = materialize_count(edges.select(SOURCE_ID, TARGET_ID))
    outdeg = _out_degree(edge_pairs).transform(materialize)
    contrib = F.expr(
        f"CAST((CAST(rank_fp AS DECIMAL(38,0)) * {n})"
        f" div (CAST(_od AS DECIMAL(38,0)) * {n} + {m}) AS LONG)"
    )
    return _rank_rounds(
        iters, nodes, edge_pairs, outdeg, ranks, contrib, teleport
    )


def louvain_local_move(
    edges: DataFrame,
    *,
    rounds: int = 4,
    seed: int = 0,
    checkpoint: bool = True,
    src: str = SOURCE_ID,
    dst: str = TARGET_ID,
) -> DataFrame:
    """GDS ``gds.louvain`` phase-1 parity (r12), made checkable:
    ``rounds`` ALTERNATING-CLASS modularity local-move sweeps over the
    UNDIRECTED graph → ``(nodeId, label)``. Each sweep, the active
    nodes evaluate every neighbor community c (plus staying put) by
    the modularity gain of joining it, cleared of its rational
    denominators (×2m² > 0, order-preserving)::

        score(i, c) = 2m · k_{i,c} − deg_i · tot'_c
        tot'_c      = Σ_{j∈c, j≠i} deg_j

    and take the argmax with the total tie order (score DESC, stay
    DESC, c ASC) — ties prefer NOT moving (the Louvain "strictly
    positive gain" rule), then the smallest community id. Sweep t
    activates only the nodes with ``pmod(portable_hash(n#seed#t), 2)
    == 0`` — fully synchronous sweeps 2-cycle on symmetric structures
    (two mutually-preferring nodes swap labels forever; measured on
    the two-triangle fixture, where a FIXED split also fails whenever
    the pair lands in one class). GDS breaks the same tie with
    color-partitioned parallel sweeps; the per-sweep RESEEDED random
    half is the cheap probabilistic instance — any swapping pair
    separates with probability 1/2 per sweep, so symmetric cycles die
    in O(log) sweeps expected, while staying deterministic and
    engine-replayable where GDS's async queue order is not. All score
    terms are integers in DECIMAL(38,0) (2m·k and deg·tot both ≤ 4m²
    — inside 38 digits at 10¹² edges), so the fixed-round labels
    hash-match an ANSI oracle bit-for-bit. Compose with
    :func:`community_modularity` / :func:`community_conductance` to
    SCORE the assignment (phase-2 graph aggregation composes as
    label-contracted edges when needed).

    Scale shape, per sweep: k_{i,c} is ONE partial-aggregated groupBy
    over the label-joined adjacency, tot_c one over the skinny
    (node, label, degree) table, the argmax ONE ``max(struct(...))``
    groupBy (never a per-node window), and the candidate union adds a
    zero-count stay row per node. Nothing wider than the edge list
    moves; labels checkpoint per sweep.
    """
    from .dedup import portable_hash64_col
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )
    sym, two_m = materialize_count(
        e.unionByName(
            e.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
        )
    )
    m = two_m // 2
    # r15 single-state sweeps (guide §1.2/§2.4): carry ONE checkpointed
    # ``st = (_n, _d, _l)`` frame — the pre-r15 loop carried labels and
    # degrees separately and paid two extra joins per sweep to re-glue
    # them (tot's lab⋈deg and scored's active⋈lab pair collapse into
    # direct reads of the state).
    st = (
        sym.groupBy(F.col("_u").alias("_n"))
        .agg(F.count(F.lit(1)).cast("long").alias("_d"))
        .select("_n", "_d", F.col("_n").cast("long").alias("_l"))
        .transform(materialize)
    )
    for t in range(rounds):
        nbr_lab = sym.join(
            st.select(F.col("_n").alias("_v"), "_l"), "_v"
        ).select(F.col("_u").alias("_n"), F.col("_l").alias("_c"))
        kic = nbr_lab.groupBy("_n", "_c").agg(
            F.count(F.lit(1)).cast("long").alias("_k")
        )
        tot = st.groupBy(F.col("_l").alias("_c")).agg(
            F.sum("_d").cast("long").alias("_tot")
        )
        cand = (
            kic.unionByName(
                st.select(
                    "_n",
                    F.col("_l").alias("_c"),
                    F.lit(0).cast("long").alias("_k"),
                )
            )
            .groupBy("_n", "_c")
            .agg(F.sum("_k").alias("_k"))
        )
        active = st.filter(
            F.pmod(
                portable_hash64_col(
                    F.concat_ws(
                        "#",
                        F.col("_n").cast("string"),
                        F.lit(str(seed)),
                        F.lit(str(t)),
                    )
                ),
                F.lit(2),
            )
            == 0
        ).select("_n", "_d", F.col("_l").alias("_cur"))
        scored = (
            cand.join(tot, "_c")
            # only this sweep's active half scores — the inactive
            # half's candidate rows are dropped before any arithmetic,
            # not computed-then-ignored
            .join(active, "_n")
            .select(
                "_n",
                "_c",
                F.expr(
                    f"2 * CAST({m} AS DECIMAL(38,0)) * _k"
                    f" - CAST(_d AS DECIMAL(38,0))"
                    f"   * (_tot - CASE WHEN _c = _cur THEN _d"
                    f"             ELSE 0L END)"
                ).alias("_score"),
                (F.col("_c") == F.col("_cur")).cast("int").alias("_stay"),
            )
        )
        moved = (
            scored.groupBy("_n")
            .agg(
                F.max(
                    F.struct(
                        F.col("_score").alias("s"),
                        F.col("_stay").alias("st"),
                        (-F.col("_c")).alias("nc"),
                    )
                ).alias("_best")
            )
            .select("_n", (-F.col("_best.nc")).cast("long").alias("_new"))
        )
        st_next = st.join(moved, "_n", "left_outer").select(
            "_n",
            "_d",
            F.coalesce("_new", "_l").cast("long").alias("_l"),
        )
        st = st_next.transform(materialize) if checkpoint else st_next
    return st.select(F.col("_n").alias(NODE_ID), F.col("_l").alias("label"))


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Newman 2002, Phys. Rev. Lett. 89) of an
    undirected graph given canonical ``u < v`` edges → ONE row of exact
    integer sufficient statistics plus the coefficient:

    - ``m2``   — ordered endpoint pairs (= 2·|edges|)
    - ``sx``   — Σ degree over ordered pairs (x and y marginals are
      identical by symmetry, so one sum serves both)
    - ``sxy``  — Σ dx·dy, ``sx2`` — Σ dx²
    - ``assort_ppm`` — the Pearson degree-degree correlation
      ``(m2·sxy − sx²) / (m2·sx2 − sx²)`` in integer parts-per-million,
      computed as sign · (|num|·10⁶ div den) so truncation is
      engine-independent for NEGATIVE correlations too (Spark's ``div``
      truncates toward zero, DuckDB's ``//`` floors — they agree only
      on non-negative operands, hence the explicit sign split). NULL
      when den = 0 (a degree-regular graph has no degree variance —
      correlation undefined, not 0).

    Positive = hubs link hubs (social nets), negative = hubs link
    leaves (the internet AS graph, dependency graphs) — the one-number
    screen for whether hub-cap / salting knobs will matter downstream.

    All sums run in DECIMAL(38,0): dx·dy ≤ Δ² ~ 10¹² per term at
    Δ = 10⁶, and 2m such terms overflow int64 at ~10⁷ edges already —
    the headroom discipline of the eigenvector/ArticleRank family.
    Scale shape: one groupBy for degrees, two skinny broadcast-eligible
    equi-joins to attach (dx, dy) to the 2m incidence rows, ONE
    partial-agg global sum — no windows, no iteration, no driver state.
    """
    dec = "DECIMAL(38,0)"
    und = edges.select(
        F.col(SOURCE_ID).alias("_a"), F.col(TARGET_ID).alias("_b")
    ).unionAll(
        edges.select(
            F.col(TARGET_ID).alias("_a"), F.col(SOURCE_ID).alias("_b")
        )
    )
    # joined twice (dx and dy sides) — materialize the n-row degree
    # table once instead of re-running its groupBy shuffle per side
    deg = und.groupBy("_a").agg(
        F.count(F.lit(1)).alias("_d")
    ).localCheckpoint(eager=False)
    pairs = (
        und.join(deg.select(F.col("_a"), F.col("_d").alias("_dx")), "_a")
        .join(
            deg.select(
                F.col("_a").alias("_b"), F.col("_d").alias("_dy")
            ),
            "_b",
        )
        .select(
            F.col("_dx").cast(dec).alias("_dx"),
            F.col("_dy").cast(dec).alias("_dy"),
        )
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum("_dx").cast(dec).alias("_sx"),
        F.sum(F.col("_dx") * F.col("_dy")).cast(dec).alias("_sxy"),
        F.sum(F.col("_dx") * F.col("_dx")).cast(dec).alias("_sx2"),
    )
    num = f"(CAST(m2 AS {dec}) * _sxy - _sx * _sx)"
    den = f"(CAST(m2 AS {dec}) * _sx2 - _sx * _sx)"
    # outputs are BIGINT (the eigenvector/ArticleRank contract: decimal
    # headroom INTERNAL, int64 at the boundary) — _sx2 dominates the
    # three sums (Cauchy-Schwarz gives _sxy ≤ _sx2; degrees ≥ 1 give
    # _sx ≤ _sx2), and the ×10⁶ ppm step needs |num| ≤ 10³¹ to stay
    # inside DECIMAL(38,0), so both limits guard LOUD instead of
    # Spark's silent non-ANSI wrap/NULL (the FastRP widen-or-raise
    # discipline, ADVICE r11)
    guard = (
        f"CASE WHEN _sx2 > {(1 << 63) - 1} OR "
        f"abs({num}) > CAST('{10**31}' AS {dec}) "
        f"THEN CAST(raise_error('degree_assortativity: statistics "
        f"exceed int64/ppm headroom — rescale degrees first') AS BIGINT) "
    )
    ppm = (
        guard
        + f"WHEN {den} = 0 THEN NULL "
        f"ELSE CAST(CASE WHEN {num} < 0 THEN -1 ELSE 1 END "
        f"     * (abs({num}) * 1000000 div {den}) AS BIGINT) END"
    )
    return agg.select(
        "m2",
        F.col("_sx").cast("long").alias("sx"),
        F.col("_sxy").cast("long").alias("sxy"),
        F.col("_sx2").cast("long").alias("sx2"),
        F.expr(ppm).alias("assort_ppm"),
    )


def connected_components_incremental(
    old_labels: DataFrame,
    new_edges: DataFrame,
    *,
    max_iter: int = 20,
) -> DataFrame:
    """Incremental connected components: fold a DELTA edge batch into an
    existing labeling WITHOUT re-traversing the old graph → the full
    updated ``(nodeId, component)`` table, BIT-IDENTICAL to re-running
    :func:`connected_components` on old ∪ delta (labels are min node
    ids, and a min of mins is the global min — the invariant that makes
    the shortcut exact, asserted against the full recompute in tests
    and by the driver oracle).

    The two-level contraction (the classic incremental-CC construction;
    the same shape GDS's in-memory graph uses for union-on-write):

    1. endpoints of delta edges look up their old label (new nodes
       seed ``label = own id``);
    2. delta edges PROJECT INTO LABEL SPACE — ``(label(u), label(v))``
       super-edges, self-loops dropped (a delta edge inside one old
       component costs nothing);
    3. full CC runs on the SUPER-graph only — its size is bounded by
       the delta batch, never the corpus, so the iterative fixpoint
       pays O(delta diameter-in-label-space) rounds over O(|delta|)
       rows;
    4. every row of the old labeling (plus the new-node seeds) remaps
       through the super-components with one broadcast-sized join.

    The maintenance sibling of the incremental dedup/index family:
    per-batch cost ∝ batch, never history. The one full-corpus-sized
    stage is step 4's relabel scan — unavoidable, since merged
    components must rewrite their members' rows; callers maintaining a
    label STORE can defer it by composing the remap lazily.
    """
    la = old_labels.select(
        F.col(NODE_ID).alias("_n"), F.col("component").alias("_l")
    )
    ends = (
        new_edges.select(F.col(SOURCE_ID).alias("_n"))
        .unionByName(new_edges.select(F.col(TARGET_ID).alias("_n")))
        .distinct()
    )
    seeds = (
        ends.join(la, "_n", "left_outer")
        .select(
            "_n", F.coalesce("_l", F.col("_n")).alias("_l")
        )
        .localCheckpoint(eager=False)  # consumed by both endpoint joins
    )
    su = seeds.withColumnRenamed("_n", "_sn").withColumnRenamed(
        "_l", "_sl"
    )
    sv = seeds.withColumnRenamed("_n", "_tn").withColumnRenamed(
        "_l", "_tl"
    )
    super_edges = (
        new_edges.select(
            F.col(SOURCE_ID).alias("_sn"), F.col(TARGET_ID).alias("_tn")
        )
        .join(su, "_sn")
        .join(sv, "_tn")
        .filter(F.col("_sl") != F.col("_tl"))
        .select(
            F.least("_sl", "_tl").alias(SOURCE_ID),
            F.greatest("_sl", "_tl").alias(TARGET_ID),
        )
        .distinct()
    )
    super_nodes = (
        super_edges.select(F.col(SOURCE_ID).alias(NODE_ID))
        .unionByName(super_edges.select(F.col(TARGET_ID).alias(NODE_ID)))
        .distinct()
    )
    sup = connected_components(
        super_nodes, super_edges, max_iter=max_iter
    ).select(
        F.col(NODE_ID).alias("_l"), F.col("component").alias("_c")
    )
    new_only = seeds.join(la.select("_n"), "_n", "left_anti")
    all_labels = la.unionByName(new_only)
    return all_labels.join(F.broadcast(sup), "_l", "left_outer").select(
        F.col("_n").alias(NODE_ID),
        F.coalesce("_c", F.col("_l")).alias("component"),
    )
