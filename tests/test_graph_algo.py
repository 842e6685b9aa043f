"""Graph analytics over exported node/edge layouts."""

import pytest
from pyspark.sql import functions as F

from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
    connected_components,
    node_degrees,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b, "E") for a, b in pairs],
        "sourceNodeId long, targetNodeId long, relationshipType string",
    )


def test_node_degrees(spark):
    edges = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 1)])
    got = {r["nodeId"]: (r["out_degree"], r["in_degree"], r["degree"])
           for r in node_degrees(edges).collect()}
    assert got[1] == (2, 1, 3)
    assert got[3] == (0, 2, 2)
    assert got[4] == (1, 0, 1)


def test_connected_components_two_islands(spark):
    edges = _edges(spark, [(1, 2), (2, 3), (10, 11), (12, 11)])
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 12, 99]], "nodeId long"
    )  # 99 is isolated
    comp = {r["nodeId"]: r["component"]
            for r in connected_components(nodes, edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[99] == 99


def test_connected_components_chain_diameter(spark):
    """A path graph stresses the iteration count (diameter = n-1)."""
    n = 12
    edges = _edges(spark, [(i, i + 1) for i in range(1, n)])
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "nodeId long")
    comp = {r["nodeId"]: r["component"]
            for r in connected_components(nodes, edges, max_iter=20).collect()}
    assert set(comp.values()) == {1}


def test_cc_on_tpch_graph(spark, sf_dir):
    """Every order connects to its customer → component count equals the
    number of customers with ≥1 order plus isolated nodes (none here)."""
    from dataflow_flex_pyarrow_to_gds_spark import queries as C

    out = C.queries()["graph_connected_components"](spark, sf_dir)
    n_components = out.select("component").distinct().count()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_customers_with_orders = orders.select("o_custkey").distinct().count()
    assert n_components == n_customers_with_orders


def test_star_cc_matches_label_propagation(spark):
    """large-star/small-star and min-label propagation agree on a graph
    with islands, a chain, and an isolated node."""
    import random

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        connected_components_star,
    )

    rng = random.Random(7)
    pairs = [(1, 2), (2, 3), (10, 11), (12, 11)]
    pairs += [(i, i + 1) for i in range(20, 30)]  # chain
    pairs += [(rng.randrange(100, 140), rng.randrange(100, 140)) for _ in range(30)]
    node_ids = sorted({x for p in pairs for x in p} | {99})
    edges = _edges(spark, pairs)
    nodes = spark.createDataFrame([(i,) for i in node_ids], "nodeId long")

    lp = {r["nodeId"]: r["component"]
          for r in connected_components(nodes, edges).collect()}
    star = {r["nodeId"]: r["component"]
            for r in connected_components_star(nodes, edges).collect()}
    assert star == lp
    assert star[99] == 99


def test_star_cc_chain_in_log_rounds(spark):
    """A 200-node path graph (diameter 199) must converge in ≈log₂ n
    alternating rounds (measured: 7/9/11 rounds for n=50/200/1000) —
    max_iter=10 would be impossible for O(diameter) label propagation."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        connected_components_star,
    )

    n = 200
    edges = _edges(spark, [(i, i + 1) for i in range(1, n)])
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "nodeId long")
    comp = {r["nodeId"]: r["component"]
            for r in connected_components_star(nodes, edges, max_iter=10).collect()}
    assert set(comp.values()) == {1}
    assert len(comp) == n


def test_star_cc_empty_edges_all_isolated(spark):
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        connected_components_star,
    )

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3)], "nodeId long")
    edges = spark.createDataFrame([], "sourceNodeId long, targetNodeId long")
    comp = {r["nodeId"]: r["component"]
            for r in connected_components_star(nodes, edges).collect()}
    assert comp == {1: 1, 2: 2, 3: 3}


def test_pagerank_fixedpoint_reference(spark):
    """4-node graph checked against a pure-Python replica of the exact
    integer recurrence, plus structural sanity (sinks with equal
    in-profiles tie exactly; more in-mass => strictly higher rank)."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        pagerank_fixedpoint,
    )

    pairs = [(1, 2), (1, 3), (2, 3), (4, 3)]
    edges = _edges(spark, pairs)
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "nodeId long")
    got = {
        r["nodeId"]: r["rank_fp"]
        for r in pagerank_fixedpoint(nodes, edges, iters=4).collect()
    }

    scale, num, den, n = 10**12, 85, 100, 4
    base = ((den - num) * scale // den) // n
    outdeg = {1: 2, 2: 1, 4: 1}
    r = {v: scale // n for v in (1, 2, 3, 4)}
    for _ in range(4):
        sums = {}
        for a, b in pairs:
            sums[b] = sums.get(b, 0) + r[a] // outdeg[a]
        r = {v: base + (num * sums.get(v, 0)) // den for v in r}
    assert got == r
    assert got[3] > got[2] > got[1] == got[4]


def test_pagerank_partitioning_invariance(spark):
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        pagerank_fixedpoint,
    )

    pairs = [(i, (i * 3) % 50 + 1) for i in range(1, 51)]
    edges = _edges(spark, pairs)
    nodes = spark.createDataFrame([(i,) for i in range(1, 52)], "nodeId long")
    a = sorted(
        (r["nodeId"], r["rank_fp"])
        for r in pagerank_fixedpoint(nodes, edges, iters=3).collect()
    )
    b = sorted(
        (r["nodeId"], r["rank_fp"])
        for r in pagerank_fixedpoint(
            nodes.repartition(7), edges.repartition(5), iters=3
        ).collect()
    )
    assert a == b


def test_triangle_count_known_graph(spark):
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        triangle_count,
    )

    # K4 on {1,2,3,4} (4 triangles) + pendant edge + duplicate/reversed
    # edges + a self-loop; expected count 4.
    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
            (4, 5),           # pendant — no new triangle
            (2, 1), (3, 1),   # reversed duplicates
            (5, 5),           # self-loop — dropped
        ],
        "src long, dst long",
    )
    [row] = triangle_count(edges, "src", "dst").collect()
    assert row["n_triangles"] == 4


def test_triangle_count_random_vs_python(spark):
    import itertools
    import random

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        triangle_count,
    )

    rng = random.Random(7)
    nodes = list(range(40))
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(300)
            )
            if a != b
        }
    )
    eset = set(edges)
    expect = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    [row] = triangle_count(df, "src", "dst").collect()
    assert row["n_triangles"] == expect


def test_pagerank_bucketed_matches_and_skips_edge_shuffle(spark, sf_dir):
    """write_bucketed_edges + merge_edge_joins: identical ranks to the
    plain path, and the physical plan reads the bucket layout with no
    Exchange between the edge scan and the rank SortMergeJoin (the
    control plan over raw parquet shuffles the edge side)."""
    import io
    import sys
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        _out_degree,
        pagerank_fixedpoint,
        write_bucketed_edges,
    )

    sys.path.insert(0, "/root/repo/scripts")
    from explain_audit import (
        _no_exchange_between_scan_and_smj,
        _rank_round_plan,
    )

    edges = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            F.col("o_custkey").alias("sourceNodeId"),
            (F.col("o_orderkey") + F.lit(1_000_000_000)).alias(
                "targetNodeId"
            ),
        )
    )
    # buckets >= shuffle.partitions/4: below that ratio Spark declines
    # the bucketed scan and re-shuffles the edge side anyway
    b = write_bucketed_edges(spark, edges, "test_pr_edges_b", buckets=8)
    nodes = (
        edges.select(F.col("sourceNodeId").alias("nodeId"))
        .unionByName(edges.select(F.col("targetNodeId").alias("nodeId")))
        .distinct()
    )
    plain = {
        r["nodeId"]: r["rank_fp"]
        for r in pagerank_fixedpoint(nodes, edges, iters=3).collect()
    }
    bucketed = {
        r["nodeId"]: r["rank_fp"]
        for r in pagerank_fixedpoint(
            nodes, b, iters=3, merge_edge_joins=True
        ).collect()
    }
    assert bucketed == plain  # the layout changes the plan, not the ranks

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def round_of(e):
        # one un-checkpointed superstep over the merge_edge_joins=True
        # inputs (a checkpointed round explains as an opaque RDD scan)
        return _rank_round_plan(
            nodes, e.hint("merge"), _out_degree(e), F.expr("rank_fp div _od")
        )

    p_bucketed = plan_of(round_of(b))
    assert "Bucketed: true" in p_bucketed
    assert _no_exchange_between_scan_and_smj(p_bucketed)

    # control: same SMJ-pinned iteration over raw parquet DOES exchange
    # the edge side
    p_raw = plan_of(round_of(edges))
    assert not _no_exchange_between_scan_and_smj(p_raw)
    spark.sql("DROP TABLE IF EXISTS test_pr_edges_b")


def test_link_prediction_scores_hand_computed(spark):
    """RA micro-units and common-neighbor counts on a hand graph:
    containers w1={1,2,3} (deg 3 → 333333 each), w2={1,2} (deg 2 →
    500000), w3={9} (deg 1 — no pairs)."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        link_prediction_scores,
    )

    e = spark.createDataFrame(
        [(1, "w1"), (2, "w1"), (3, "w1"), (1, "w2"), (2, "w2"), (9, "w3"),
         (1, "w2")],  # duplicate incidence must not double-count
        "n long, w string",
    )
    rows = {
        (r["node_a"], r["node_b"]): (r["common_neighbors"], r["ra_micro"])
        for r in link_prediction_scores(e, "n", "w", k=10).collect()
    }
    assert rows == {
        (1, 2): (2, 333333 + 500000),
        (1, 3): (1, 333333),
        (2, 3): (1, 333333),
    }
    # hub guard: capping at deg ≤ 2 drops every pair whose only witness
    # is the w1 hub, and removes w1's contribution elsewhere
    capped = {
        (r["node_a"], r["node_b"]): (r["common_neighbors"], r["ra_micro"])
        for r in link_prediction_scores(
            e, "n", "w", k=10, max_via_degree=2
        ).collect()
    }
    assert capped == {(1, 2): (1, 500000)}


def test_link_prediction_topk_is_deterministic_total_order(spark):
    """The k-cut orders by (ra desc, cn desc, a, b) — ties at the
    boundary resolve by id, so two runs agree."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        link_prediction_scores,
    )

    e = spark.createDataFrame(
        [(i, f"w{i % 4}") for i in range(12)], "n long, w string"
    )
    a = link_prediction_scores(e, "n", "w", k=5).collect()
    b = link_prediction_scores(e, "n", "w", k=5).collect()
    assert a == b and len(a) == 5


def test_label_propagation_two_cliques(spark):
    """Two triangles bridged by one edge: every node adopts its clique's
    min label; the bridge does not merge the communities in 3 rounds."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "sourceNodeId long, targetNodeId long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 99)], "nodeId long"
    )  # 99 is isolated — must keep its own label
    got = {
        r["nodeId"]: r["label"]
        for r in label_propagation(nodes, edges, iters=3).collect()
    }
    assert got[99] == 99
    assert got[1] == got[2] == got[3] == 1
    assert got[10] == got[11] == got[12]
    assert got[10] != got[1]


def test_label_propagation_deterministic_ties(spark):
    """A node whose neighbors all carry distinct labels takes the MIN
    (count ties broken by smallest label) — the rule that makes the
    fixed-round result engine-independent."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(5, 7), (5, 9), (5, 3)], "sourceNodeId long, targetNodeId long"
    )
    nodes = spark.createDataFrame([(i,) for i in (3, 5, 7, 9)], "nodeId long")
    got = {
        r["nodeId"]: r["label"]
        for r in label_propagation(nodes, edges, iters=1).collect()
    }
    assert got[5] == 3  # min of {7, 9, 3}
    assert got[3] == got[7] == got[9] == 5  # their only neighbor


def test_label_propagation_canonical_fast_path(spark):
    """assume_canonical=True must agree with the general path on
    deduplicated u<v input (the shuffle it skips is provably empty)."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 10), (10, 11), (11, 12), (10, 12)],
        "sourceNodeId long, targetNodeId long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12)], "nodeId long"
    )
    a = sorted(map(tuple, label_propagation(nodes, edges, iters=3).collect()))
    b = sorted(map(tuple, label_propagation(
        nodes, edges, iters=3, assume_canonical=True).collect()))
    assert a == b


def test_hits_matches_integer_recurrence(spark):
    """hits_fixedpoint must reproduce the exact integer recurrence
    (L1-normalized half-steps, floor division) — the same contract the
    DuckDB oracle unrolls as CTEs, replicated here in plain Python."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        hits_fixedpoint,
    )

    edges = [(1, 10), (1, 11), (2, 10), (3, 11), (3, 12), (4, 12)]
    scale = 10**12
    srcs = sorted({u for u, _ in edges})
    tgts = sorted({v for _, v in edges})
    hubs = {u: scale for u in srcs}
    auth: dict = {}
    for _ in range(3):
        raw_a = {
            v: sum(hubs[u] for u, vv in edges if vv == v) for v in tgts
        }
        tot_a = sum(raw_a.values())
        auth = {v: raw_a[v] * scale // tot_a for v in tgts}
        raw_h = {
            u: sum(auth[v] for uu, v in edges if uu == u) for u in srcs
        }
        tot_h = sum(raw_h.values())
        hubs = {u: raw_h[u] * scale // tot_h for u in srcs}
    df = spark.createDataFrame(
        edges, "sourceNodeId long, targetNodeId long"
    )
    got = {
        (r["nodeId"], r["kind"]): r["score_fp"]
        for r in hits_fixedpoint(df, iters=3).collect()
    }
    assert got == {
        **{(u, "hub"): hubs[u] for u in srcs},
        **{(v, "authority"): auth[v] for v in tgts},
    }


def test_hits_rejects_zero_iterations(spark):
    """iters=0 would leave auth undefined — the contract is iters >= 1
    (ADVICE r08)."""
    import pytest as _pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        hits_fixedpoint,
    )

    df = spark.createDataFrame(
        [(1, 2)], "sourceNodeId long, targetNodeId long"
    )
    with _pytest.raises(ValueError, match="iters"):
        hits_fixedpoint(df, iters=0)


# ---------------------------------------------------------------------------
# BFS hop distance
# ---------------------------------------------------------------------------


def test_bfs_hand_graph(spark):
    """Path 1-2-3-4-5 plus branch 2-10; seeds {1}: textbook hops, the
    unreachable island {100-101} absent, max_hops cuts the tail."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        bfs_hop_distance,
    )

    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (2, 10), (100, 101)])
    seeds = spark.createDataFrame([(1,)], "nodeId long")
    got = {
        r["nodeId"]: r["hop"]
        for r in bfs_hop_distance(seeds, edges, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 10: 2, 4: 3}


def test_bfs_multi_seed_min_hop(spark):
    """Two seeds: every node gets the MINIMUM hop over all seeds, and a
    seed reached by another seed still reports 0."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        bfs_hop_distance,
    )

    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,), (4,)], "nodeId long")
    got = {
        r["nodeId"]: r["hop"]
        for r in bfs_hop_distance(seeds, edges, max_hops=5).collect()
    }
    assert got == {1: 0, 4: 0, 2: 1, 3: 1, 5: 1}


def test_bfs_directed_vs_undirected(spark):
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        bfs_hop_distance,
    )

    edges = _edges(spark, [(2, 1), (2, 3)])  # arrows out of 2
    seeds = spark.createDataFrame([(1,)], "nodeId long")
    directed = {
        r["nodeId"]: r["hop"]
        for r in bfs_hop_distance(
            seeds, edges, max_hops=3, directed=True
        ).collect()
    }
    undirected = {
        r["nodeId"]: r["hop"]
        for r in bfs_hop_distance(seeds, edges, max_hops=3).collect()
    }
    assert directed == {1: 0}  # 2→1 gives 1 no out-neighbors
    assert undirected == {1: 0, 2: 1, 3: 2}


def test_bfs_isolated_seed_and_guard(spark):
    import pytest as _pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        bfs_hop_distance,
    )

    edges = _edges(spark, [(1, 2)])
    seeds = spark.createDataFrame([(99,)], "nodeId long")
    got = bfs_hop_distance(seeds, edges, max_hops=2).collect()
    assert [(r["nodeId"], r["hop"]) for r in got] == [(99, 0)]
    with _pytest.raises(ValueError, match="max_hops"):
        bfs_hop_distance(seeds, edges, max_hops=-1)


# ---------------------------------------------------------------------------
# Deterministic neighbor sampling
# ---------------------------------------------------------------------------


def test_sample_neighbors_caps_and_ranks(spark):
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        sample_neighbors,
    )

    edges = _edges(
        spark, [(1, d) for d in range(10, 22)] + [(2, 10), (3, 10), (3, 11)]
    )
    out = sample_neighbors(edges, k=4, seed=1).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["sourceNodeId"], []).append(r["sample_rank"])
    assert sorted(by_src[1]) == [1, 2, 3, 4]  # hub capped at k
    assert sorted(by_src[2]) == [1]  # degree < k keeps all
    assert sorted(by_src[3]) == [1, 2]


def test_sample_neighbors_partitioning_invariant_and_seeded(spark):
    """Same edges, different physical partitioning → identical sample;
    a different seed redraws it."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        sample_neighbors,
    )

    edges = _edges(spark, [(s, d) for s in range(5) for d in range(30)])
    a = {
        (r["sourceNodeId"], r["targetNodeId"])
        for r in sample_neighbors(edges, k=3, seed=9).collect()
    }
    b = {
        (r["sourceNodeId"], r["targetNodeId"])
        for r in sample_neighbors(
            edges.repartition(7), k=3, seed=9
        ).collect()
    }
    c = {
        (r["sourceNodeId"], r["targetNodeId"])
        for r in sample_neighbors(edges, k=3, seed=10).collect()
    }
    assert a == b
    assert a != c  # 5 nodes × C(30,3) choices — collision ≈ 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        sample_neighbors(edges, k=0)


# ---------------------------------------------------------------------------
# Local clustering coefficient
# ---------------------------------------------------------------------------


def test_local_clustering_hand_graph(spark):
    """Triangle 1-2-3 with pendant 4 on node 1: c(1) = 1/(3·2/2)·1e6
    rounded down, c(2)=c(3)=1e6, c(4)=0 (deg<2)."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        local_clustering_coefficient,
    )

    edges = _edges(spark, [(1, 2), (2, 3), (1, 3), (1, 4)])
    got = {
        r["nodeId"]: (r["degree"], r["n_triangles"], r["clustering_ppm"])
        for r in local_clustering_coefficient(edges).collect()
    }
    assert got[1] == (3, 1, 333333)  # 2·1e6·1 div 3·2
    assert got[2] == (2, 1, 1000000)
    assert got[3] == (2, 1, 1000000)
    assert got[4] == (1, 0, 0)


def test_local_clustering_vs_python_bruteforce(spark):
    """Seeded random graph vs a pure-Python recount (direction and
    duplicate edges must not matter)."""
    import itertools
    import random

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        local_clustering_coefficient,
    )

    rng = random.Random(42)
    pairs = {
        (min(a, b), max(a, b))
        for a, b in (
            (rng.randrange(20), rng.randrange(20)) for _ in range(80)
        )
        if a != b
    }
    # feed the operator noisy input: both directions + dups
    noisy = list(pairs) + [(b, a) for a, b in pairs][:10] + list(pairs)[:5]
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect = {}
    for n, nbrs in adj.items():
        tri = sum(
            1 for x, y in itertools.combinations(sorted(nbrs), 2)
            if (min(x, y), max(x, y)) in pairs
        )
        d = len(nbrs)
        ppm = 0 if d < 2 else (2 * 10**6 * tri) // (d * (d - 1))
        expect[n] = (d, tri, ppm)
    got = {
        r["nodeId"]: (r["degree"], r["n_triangles"], r["clustering_ppm"])
        for r in local_clustering_coefficient(
            _edges(spark, noisy)
        ).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# k-core decomposition
# ---------------------------------------------------------------------------


def test_kcore_cascading_peel(spark):
    """Triangle 1-2-3 with a pendant chain 3-4-5: the 2-core peels 5,
    THEN 4 (a cascade, not one filter) and keeps the triangle with
    in-core degrees 2."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import kcore

    edges = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    got = {
        r["nodeId"]: r["core_degree"] for r in kcore(edges, k=2).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_empty_and_full(spark):
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import kcore

    # a 4-clique is its own 3-core; its 4-core is empty
    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = _edges(spark, clique)
    assert {
        r["nodeId"]: r["core_degree"] for r in kcore(edges, k=3).collect()
    } == {1: 3, 2: 3, 3: 3, 4: 3}
    assert kcore(edges, k=4).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        kcore(edges, k=0)


def test_kcore_vs_python_bruteforce(spark):
    """Seeded random graph vs a pure-Python peel (duplicates and both
    directions in the input must not matter)."""
    import random

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import kcore

    rng = random.Random(7)
    pairs = {
        (min(a, b), max(a, b))
        for a, b in ((rng.randrange(30), rng.randrange(30)) for _ in range(70))
        if a != b
    }
    noisy = list(pairs) + [(b, a) for a, b in pairs][:15]
    live = set(pairs)
    while True:
        deg = {}
        for a, b in live:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= 3}
        nxt = {(a, b) for a, b in live if a in keep and b in keep}
        if nxt == live:
            break
        live = nxt
    expect = {}
    for a, b in live:
        expect[a] = expect.get(a, 0) + 1
        expect[b] = expect.get(b, 0) + 1
    got = {
        r["nodeId"]: r["core_degree"]
        for r in kcore(_edges(spark, noisy), k=3).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# Personalized PageRank
# ---------------------------------------------------------------------------


def test_ppr_matches_integer_recurrence(spark):
    """Seeded random-walk-with-restart vs a pure-Python replica of the
    exact integer recurrence on a small directed graph."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        personalized_pagerank_fixedpoint,
    )

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2)]
    seeds = [1]
    scale, num, den, iters = 10**12, 85, 100, 4
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges} | set(seeds))
    od = {}
    for a, _ in edges:
        od[a] = od.get(a, 0) + 1
    base = ((den - num) * scale // den) // len(seeds)
    r = {v: (scale // len(seeds) if v in seeds else 0) for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for a, b in edges:
            inc[b] += r[a] // od[a]
        r = {
            v: (base if v in seeds else 0) + num * inc[v] // den
            for v in nodes
        }
    df = _edges(spark, edges)
    sd = spark.createDataFrame([(s,) for s in seeds], "nodeId long")
    got = {
        row["nodeId"]: row["rank_fp"]
        for row in personalized_pagerank_fixedpoint(
            sd, df, iters=iters
        ).collect()
    }
    assert got == r
    # proximity ordering: the seed's direct successor outranks the
    # farthest node
    assert got[2] > got[4]


def test_ppr_isolated_seed_and_guards(spark):
    import pytest as _pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        personalized_pagerank_fixedpoint,
    )

    edges = _edges(spark, [(1, 2)])
    lone = spark.createDataFrame([(99,)], "nodeId long")
    got = {
        r["nodeId"]: r["rank_fp"]
        for r in personalized_pagerank_fixedpoint(
            lone, edges, iters=2
        ).collect()
    }
    # the isolated seed keeps only its teleport mass; non-seeds get 0
    scale, num, den = 10**12, 85, 100
    assert got[99] == ((den - num) * scale // den)
    assert got[1] == 0 and got[2] == 0
    empty = spark.createDataFrame([], "nodeId long")
    with _pytest.raises(ValueError, match="empty seeds"):
        personalized_pagerank_fixedpoint(empty, edges)
    with _pytest.raises(ValueError, match="iters"):
        personalized_pagerank_fixedpoint(lone, edges, iters=0)


def test_node_similarity_vs_bruteforce(spark):
    """Seeded random bipartite adjacency vs exhaustive python jaccard —
    the shared PPJoin core must lose no pair (no false negatives), and
    the exact-integer output columns must match recomputation."""
    import random

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        node_similarity,
    )

    rng = random.Random(13)
    adj = set()
    for node in range(40):
        for _ in range(rng.randint(1, 12)):
            adj.add((node, rng.randint(0, 25)))
    df = spark.createDataFrame(
        list(adj), "sourceNodeId long, targetNodeId long"
    )
    t = 0.4
    nbrs = {}
    for s, d in adj:
        nbrs.setdefault(s, set()).add(d)
    expect = {}
    for a in nbrs:
        for b in nbrs:
            if a < b:
                i = len(nbrs[a] & nbrs[b])
                u = len(nbrs[a] | nbrs[b])
                if u and i / u >= t:
                    expect[(a, b)] = (i, u, (1_000_000 * i) // u)
    got = {
        (r["node_a"], r["node_b"]): (
            r["n_common"], r["n_total"], r["jaccard_ppm"]
        )
        for r in node_similarity(df, threshold=t).collect()
    }
    assert got == expect, set(got) ^ set(expect)


def test_node_similarity_hub_neighbor_flood(spark):
    """A hub neighbor shared by EVERY node (the celebrity case) must
    neither flood the candidate join into wrong results nor create
    spurious pairs: nodes whose only overlap is the hub stay below the
    threshold; true near-duplicate neighborhoods are found."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        node_similarity,
    )

    rows = []
    for n in range(200):
        rows.append((n, 9999))              # the hub: in everyone's set
        rows.append((n, 10_000 + n))        # plus a unique neighbor
    # nodes 500/501: identical 3-neighbor sets
    for d in (9999, 7, 8):
        rows.append((500, d))
        rows.append((501, d))
    df = spark.createDataFrame(rows, "sourceNodeId long, targetNodeId long")
    got = {
        (r["node_a"], r["node_b"]): r["jaccard_ppm"]
        for r in node_similarity(df, threshold=0.9).collect()
    }
    assert got == {(500, 501): 1_000_000}, got


def test_random_walks_python_replay(spark):
    """Walks replayed step-for-step in python from the same portable
    hash: identical picks, identical sequences — the determinism
    contract the DuckDB oracle depends on. Also: a walker reaching a
    sink node ends (directed semantics), and positions count down
    accordingly."""
    import hashlib

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        random_walks,
    )

    def h(t: str) -> int:
        hx = hashlib.md5(t.encode()).hexdigest()
        hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
        if hi >= 1 << 31:
            hi -= 1 << 32
        return hi * (1 << 32) + lo

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (4, 5)]  # 5 = sink
    df = spark.createDataFrame(edges, "sourceNodeId long, targetNodeId long")
    wl, seed, wpn = 4, 7, 2
    got = {
        (r["start_node"], r["walk_no"], r["step"]): r["node_id"]
        for r in random_walks(
            df, walks_per_node=wpn, walk_length=wl, seed=seed
        ).collect()
    }

    nbrs = {}
    for s, t in edges:
        nbrs.setdefault(s, []).append(t)
    for s in nbrs:
        nbrs[s] = sorted(set(nbrs[s]))
    expect = {}
    for start in sorted(nbrs):          # walkers start at source nodes
        for wn in range(wpn):
            node = start
            expect[(start, wn, 0)] = node
            for step in range(1, wl + 1):
                if node not in nbrs:
                    break               # sink: walk ends
                pick = h(f"{start}#{wn}#{step}#{seed}") % len(nbrs[node])
                node = nbrs[node][pick]
                expect[(start, wn, step)] = node
    assert got == expect, (got, expect)


def test_random_walks_guards(spark):
    import pytest as _pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        random_walks,
    )

    df = spark.createDataFrame([(1, 2)], "sourceNodeId long, targetNodeId long")
    with _pytest.raises(ValueError, match="walk_length"):
        random_walks(df, walk_length=0)
    with _pytest.raises(ValueError, match="walks_per_node"):
        random_walks(df, walks_per_node=0)


def test_skipgram_pairs_hand_recount(spark):
    """Window-2 pairs from two tiny walks, recounted by hand —
    including cross-walk isolation (positions never pair across
    different walkers) and the aggregated multiplicity."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        skipgram_pairs,
    )

    rows = [
        # walk A (start 1, wn 0): 1 -> 2 -> 1
        (1, 0, 0, 1), (1, 0, 1, 2), (1, 0, 2, 1),
        # walk B (start 9, wn 0): 9 -> 2
        (9, 0, 0, 9), (9, 0, 1, 2),
    ]
    df = spark.createDataFrame(
        rows, "start_node long, walk_no int, step int, node_id long"
    )
    got = {
        (r["center_id"], r["context_id"]): r["n_pairs"]
        for r in skipgram_pairs(df, window=2).collect()
    }
    expect = {
        (1, 2): 2,  # A: (0,1) and (2,1)
        (2, 1): 2,
        (1, 1): 2,  # A: (0,2) and (2,0)
        (9, 2): 1,  # B
        (2, 9): 1,
    }
    assert got == expect, (got, expect)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        skipgram_pairs(df, window=0)


def test_node2vec_walks_python_replay(spark):
    """Biased walks replayed step-for-step in python: candidate
    classification (return / near / far vs the previous node),
    cumulative-weight interval pick, ascending-id order."""
    import hashlib

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        node2vec_walks,
    )

    def h(t: str) -> int:
        hx = hashlib.md5(t.encode()).hexdigest()
        hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
        if hi >= 1 << 31:
            hi -= 1 << 32
        return hi * (1 << 32) + lo

    # triangle + tail, symmetrized
    und = [(1, 2), (2, 3), (1, 3), (3, 4)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "sourceNodeId long, targetNodeId long")
    wl, seed, wpn = 4, 7, 2
    wr, wn_, wf = 1, 4, 2
    got = {
        (r["start_node"], r["walk_no"], r["step"]): r["node_id"]
        for r in node2vec_walks(
            df, walks_per_node=wpn, walk_length=wl,
            w_return=wr, w_near=wn_, w_far=wf, seed=seed,
        ).collect()
    }

    nbrs = {}
    eset = set(edges)
    for s, t in edges:
        nbrs.setdefault(s, []).append(t)
    for s in nbrs:
        nbrs[s] = sorted(set(nbrs[s]))
    expect = {}
    for start in sorted(nbrs):
        for wn in range(wpn):
            prev, node = None, start
            expect[(start, wn, 0)] = node
            for step in range(1, wl + 1):
                cands = nbrs.get(node)
                if not cands:
                    break
                hv = h(f"{start}#{wn}#{step}#{seed}")
                if prev is None:
                    node, prev = cands[hv % len(cands)], node
                else:
                    ws = [
                        wr if t == prev
                        else (wn_ if (prev, t) in eset else wf)
                        for t in cands
                    ]
                    pick = hv % sum(ws)
                    cum = 0
                    for t, w in zip(cands, ws):
                        cum += w
                        if pick < cum:
                            node, prev = t, node
                            break
                expect[(start, wn, step)] = node
    assert got == expect, {k: (got.get(k), expect.get(k))
                           for k in set(got) ^ set(expect) or got}


def test_node2vec_uniform_weights_equal_random_walks(spark):
    """With w_return == w_near == w_far the bias vanishes and node2vec
    must emit EXACTLY random_walks' sequences (weight-1 intervals ≡
    index pick)."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        node2vec_walks,
        random_walks,
    )

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "sourceNodeId long, targetNodeId long")
    a = {
        (r["start_node"], r["walk_no"], r["step"]): r["node_id"]
        for r in node2vec_walks(
            df, walks_per_node=2, walk_length=3,
            w_return=1, w_near=1, w_far=1, seed=7,
        ).collect()
    }
    b = {
        (r["start_node"], r["walk_no"], r["step"]): r["node_id"]
        for r in random_walks(
            df, walks_per_node=2, walk_length=3, seed=7
        ).collect()
    }
    assert a == b


def test_shortest_paths_weighted_vs_hops(spark):
    """Hand graph where the cheapest WEIGHTED path is not the fewest-hop
    path; unreachable nodes are absent; directed vs undirected differ."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        shortest_paths,
    )

    edges = spark.createDataFrame(
        [
            (1, 2, 10),           # direct hop, heavy
            (1, 3, 1), (3, 4, 1), (4, 2, 1),   # 3 hops, cheap (=3)
            (2, 5, 2),
            (9, 1, 1),            # into the seed — only matters undirected
            (7, 8, 1),            # disconnected
        ],
        "sourceNodeId long, targetNodeId long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "nodeId long")
    got = {
        r["nodeId"]: r["dist"]
        for r in shortest_paths(seeds, edges, "w", directed=True).collect()
    }
    assert got == {1: 0, 3: 1, 4: 2, 2: 3, 5: 5}, got

    und = {
        r["nodeId"]: r["dist"]
        for r in shortest_paths(seeds, edges, "w", directed=False).collect()
    }
    assert und[9] == 1 and und[2] == 3, und

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="fixpoint"):
        shortest_paths(seeds, edges, "w", max_iter=2, directed=True)


def test_shortest_paths_multi_source_min(spark):
    """Multi-source: each node gets the cheapest cost from ANY seed."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        shortest_paths,
    )

    edges = spark.createDataFrame(
        [(1, 2, 5), (10, 2, 1)],
        "sourceNodeId long, targetNodeId long, w long",
    )
    seeds = spark.createDataFrame([(1,), (10,)], "nodeId long")
    got = {
        r["nodeId"]: r["dist"]
        for r in shortest_paths(seeds, edges, "w", directed=True).collect()
    }
    assert got == {1: 0, 10: 0, 2: 1}, got


def test_ktruss_hand_graph(spark):
    """Two 4-cliques sharing one vertex plus a pendant chain: the
    4-truss keeps exactly the clique edges (support 2 each), drops the
    chain and the lone bridging triangle; k=5 empties everything; the
    cascade property — removing an edge lowers its neighbors' support
    below threshold in a LATER round — is exercised by a triangle fan."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        ktruss,
    )

    k4a = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    k4b = [(4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7)]
    chain = [(7, 8), (8, 9)]
    tri = [(1, 5), (1, 9), (5, 9)]  # lone triangle off the cliques
    df = spark.createDataFrame(
        k4a + k4b + chain + tri, "sourceNodeId long, targetNodeId long"
    )
    got = {
        (r["sourceNodeId"], r["targetNodeId"]): r["support"]
        for r in ktruss(df, k=4).collect()
    }
    assert set(got) == set(k4a) | set(k4b), got
    assert all(v == 2 for v in got.values()), got

    assert ktruss(df, k=5).count() == 0

    # cascade: a fan of triangles sharing edge (1,2) — at k=4 the outer
    # edges have support 1 and peel first, which then drops (1,2) too
    fan = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (1, 5), (2, 5)]
    fdf = spark.createDataFrame(fan, "sourceNodeId long, targetNodeId long")
    assert ktruss(fdf, k=4).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        ktruss(df, k=2)


def test_ranked_adjacency_matches_naive_window_on_hub(spark):
    """VERDICT r10 #1 done-criterion: the bucketed hub-safe ranking is
    BIT-EXACT with the naive per-source row_number window on a
    celebrity-hub graph (one node with 500 out-neighbors, ids
    deliberately non-contiguous so bucket boundaries land mid-
    adjacency), so the walk oracles replay unchanged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        _ranked_adjacency,
    )

    hub = [(1, 7 * t + 13) for t in range(500)]          # celebrity
    rest = [(2, 5), (2, 9), (3, 9), (4, 2), (4, 3), (4, 5)]
    df = spark.createDataFrame(
        hub + rest, "sourceNodeId long, targetNodeId long"
    )
    got = {
        (r["_s"], r["_t"]): r["_r"]
        for r in _ranked_adjacency(df, n_buckets=8).collect()
    }
    naive = {
        (r["_s"], r["_t"]): r["_r"]
        for r in df.select(
            F.col("sourceNodeId").alias("_s"),
            F.col("targetNodeId").alias("_t"),
            (
                F.row_number().over(
                    Window.partitionBy("sourceNodeId").orderBy("targetNodeId")
                )
                - 1
            ).alias("_r"),
        ).collect()
    }
    assert got == naive
    # degenerate bucket counts still exact
    for nb in (1, 2, 1000):
        got_nb = {
            (r["_s"], r["_t"]): r["_r"]
            for r in _ranked_adjacency(df, n_buckets=nb).collect()
        }
        assert got_nb == naive, nb


def test_walks_hub_flood_replay(spark):
    """Celebrity-hub stress for the walk family: 400-leaf hub star plus
    a triangle, walks replayed in python — the bucketed ranking must
    not change a single pick (the r11 hub-safety change is a pure plan
    reshape)."""
    import hashlib

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        random_walks,
    )

    def h(t: str) -> int:
        hx = hashlib.md5(t.encode()).hexdigest()
        hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
        if hi >= 1 << 31:
            hi -= 1 << 32
        return hi * (1 << 32) + lo

    edges = [(1, 100 + i) for i in range(400)]   # hub 1
    edges += [(100, 1), (100, 101), (101, 1)]    # some return paths
    df = spark.createDataFrame(edges, "sourceNodeId long, targetNodeId long")
    wl, seed = 3, 11
    got = {
        (r["start_node"], r["walk_no"], r["step"]): r["node_id"]
        for r in random_walks(
            df, walk_length=wl, seed=seed, rank_buckets=16
        ).collect()
    }
    nbrs = {}
    for s, t in edges:
        nbrs.setdefault(s, []).append(t)
    for s in nbrs:
        nbrs[s] = sorted(set(nbrs[s]))
    expect = {}
    for start in sorted(nbrs):
        node = start
        expect[(start, 0, 0)] = node
        for step in range(1, wl + 1):
            if node not in nbrs:
                break
            pick = h(f"{start}#0#{step}#{seed}") % len(nbrs[node])
            node = nbrs[node][pick]
            expect[(start, 0, step)] = node
    assert got == expect


def test_node2vec_gcd_collapse_equal_weights(spark):
    """ADVICE r10: equal weights of ANY magnitude must reproduce
    random_walks exactly — the gcd normalization collapses (2,2,2) and
    (6,6,6) to the unit case."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        node2vec_walks,
        random_walks,
    )

    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "sourceNodeId long, targetNodeId long")
    base = {
        (r["start_node"], r["walk_no"], r["step"]): r["node_id"]
        for r in random_walks(
            df, walks_per_node=2, walk_length=3, seed=7
        ).collect()
    }
    for w in (2, 6):
        got = {
            (r["start_node"], r["walk_no"], r["step"]): r["node_id"]
            for r in node2vec_walks(
                df, walks_per_node=2, walk_length=3,
                w_return=w, w_near=w, w_far=w, seed=7,
            ).collect()
        }
        assert got == base, w
    # non-equal weights also normalize: (2,8,4) must equal (1,4,2)
    a = {
        (r["start_node"], r["walk_no"], r["step"]): r["node_id"]
        for r in node2vec_walks(
            df, walks_per_node=1, walk_length=3,
            w_return=2, w_near=8, w_far=4, seed=7,
        ).collect()
    }
    b = {
        (r["start_node"], r["walk_no"], r["step"]): r["node_id"]
        for r in node2vec_walks(
            df, walks_per_node=1, walk_length=3,
            w_return=1, w_near=4, w_far=2, seed=7,
        ).collect()
    }
    assert a == b


def test_node2vec_dead_walkers_keep_prefix(spark):
    """r15: a walker whose every candidate weight is 0 (zero weight
    params — previously an ANSI pmod-by-zero inside the window pick)
    dies at the interval filter exactly like a walker at a directed
    sink dies at the adjacency join: both emit their walked prefix,
    nothing more."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        node2vec_walks,
    )

    # 1 <-> 2 only: after the uniform first hop every walker's sole
    # candidate is its previous node, and w_return=0 makes tot=0
    df = spark.createDataFrame(
        [(1, 2), (2, 1)], "sourceNodeId long, targetNodeId long"
    )
    got = sorted(
        (r["start_node"], r["walk_no"], r["step"], r["node_id"])
        for r in node2vec_walks(
            df, walks_per_node=1, walk_length=3,
            w_return=0, w_near=0, w_far=1, seed=7,
        ).collect()
    )
    assert got == [(1, 0, 0, 1), (1, 0, 1, 2), (2, 0, 0, 2), (2, 0, 1, 1)]

    # directed edge into a sink: the walk ends after one step
    sink = spark.createDataFrame(
        [(1, 2)], "sourceNodeId long, targetNodeId long"
    )
    got2 = sorted(
        (r["start_node"], r["walk_no"], r["step"], r["node_id"])
        for r in node2vec_walks(
            sink, walks_per_node=1, walk_length=3, seed=7
        ).collect()
    )
    assert got2 == [(1, 0, 0, 1), (1, 0, 1, 2)]


def test_shortest_paths_fail_fast_validation(spark):
    """ADVICE r10: negative weights raise immediately (not a late
    max_iter RuntimeError), and non-integer weight types raise instead
    of silently truncating."""
    import pytest as _pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        shortest_paths,
    )

    seeds = spark.createDataFrame([(1,)], "nodeId long")
    neg = spark.createDataFrame(
        [(1, 2, 5), (2, 1, -3)], "sourceNodeId long, targetNodeId long, w long"
    )
    with _pytest.raises(ValueError, match="negative weight"):
        shortest_paths(seeds, neg, "w")

    dbl = spark.createDataFrame(
        [(1, 2, 1.5)], "sourceNodeId long, targetNodeId long, w double"
    )
    with _pytest.raises(TypeError, match="integer type"):
        shortest_paths(seeds, dbl, "w")


def test_ktruss_star_hub_wedge_bound(spark):
    """VERDICT r10 #2 done-criterion: degree-oriented wedges on a pure
    star are ZERO (leaves have out-degree 1, the hub 0) where the old
    shared-vertex enumeration produced C(400, 2) = 79 800; and the
    oriented triangle enumerator finds each triangle of a hand graph
    exactly once."""
    from pyspark.sql import functions as F

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        _oriented_edges,
        _oriented_wedges,
        _triangles_deg_oriented,
        ktruss,
    )

    star = [(1000, 1000 + i) for i in range(1, 401)]  # node-disjoint hub
    e = spark.createDataFrame(star, "_u long, _v long")
    assert _oriented_wedges(_oriented_edges(e)).count() == 0

    # hub star PLUS two (disjoint) 4-cliques — peel must still find
    # the truss and drop every star edge
    k4a = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    k4b = [(5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)]
    edges = spark.createDataFrame(
        star + k4a + k4b,
        "sourceNodeId long, targetNodeId long",
    )
    got = {
        (r["sourceNodeId"], r["targetNodeId"]): r["support"]
        for r in ktruss(edges, k=4).collect()
    }
    assert set(got) == set(k4a) | set(k4b), got
    assert all(v == 2 for v in got.values())

    # triangle multiset: each exactly once on overlapping cliques
    ecan = (
        edges.select(
            F.least("sourceNodeId", "targetNodeId").alias("_u"),
            F.greatest("sourceNodeId", "targetNodeId").alias("_v"),
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )
    ocan = _oriented_edges(ecan)
    tris = {
        tuple(sorted((r["_p"], r["_q"], r["_r"])))
        for r in _triangles_deg_oriented(ocan).collect()
    }
    assert _triangles_deg_oriented(ocan).count() == len(tris)  # no dups
    assert len(tris) == 8  # C(4,3) per clique


def test_landmark_harmonic_closeness_python_replay(spark):
    """Hand graph replayed with a python BFS from the k smallest ids:
    harmonic_ppm sums 1e6 div d per landmark; unreachable pairs
    contribute nothing; directed vs undirected differ; loud failure
    when max_hops truncates."""
    import pytest as _pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        landmark_harmonic_closeness,
    )

    und = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 6), (8, 9)]  # path+spur+island
    df = spark.createDataFrame(und, "sourceNodeId long, targetNodeId long")

    def python_bfs(edges, seeds, directed):
        nbrs = {}
        for a, b in edges:
            nbrs.setdefault(a, set()).add(b)
            if not directed:
                nbrs.setdefault(b, set()).add(a)
        out = {}
        for s in seeds:
            dist = {s: 0}
            frontier = [s]
            while frontier:
                nxt = []
                for u in frontier:
                    for v in nbrs.get(u, ()):
                        if v not in dist:
                            dist[v] = dist[u] + 1
                            nxt.append(v)
                frontier = nxt
            for v, d in dist.items():
                if d > 0:
                    out[v] = out.get(v, 0) + 1_000_000 // d
        return out

    nodes = sorted({x for e in und for x in e})
    for k, directed in ((3, False), (3, True), (len(nodes), False)):
        seeds = nodes[:k]
        got = {
            r["nodeId"]: r["harmonic_ppm"]
            for r in landmark_harmonic_closeness(
                df, k_landmarks=k, max_hops=10, directed=directed
            ).collect()
        }
        assert got == python_bfs(und, seeds, directed), (k, directed)

    with _pytest.raises(RuntimeError, match="max_hops"):
        landmark_harmonic_closeness(df, k_landmarks=2, max_hops=1)
    with _pytest.raises(ValueError, match="k_landmarks"):
        landmark_harmonic_closeness(df, k_landmarks=0)


def test_node_similarity_overlap_and_cosine_vs_python(spark):
    """Exhaustive python ground truth on a random adjacency: the
    prefix-filter-core variants must emit exactly the overlap-/cosine-
    qualified unordered pairs with exact integer scores."""
    import itertools
    import random

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        node_similarity_cosine,
        node_similarity_overlap,
    )

    rng = random.Random(13)
    edges = sorted(
        {
            (rng.randrange(1, 25), rng.randrange(100, 130))
            for _ in range(220)
        }
    )
    df = spark.createDataFrame(edges, "sourceNodeId long, targetNodeId long")
    nbrs: dict[int, set[int]] = {}
    for s, t in edges:
        nbrs.setdefault(s, set()).add(t)

    t_ov, t_cos = 0.5, 0.4
    exp_ov, exp_cos = {}, {}
    for a, b in itertools.combinations(sorted(nbrs), 2):
        i = len(nbrs[a] & nbrs[b])
        na, nb = len(nbrs[a]), len(nbrs[b])
        mn = min(na, nb)
        if i >= t_ov * mn and i > 0:
            exp_ov[(a, b)] = (i, mn, 1_000_000 * i // mn)
        if (1000 * i) ** 2 >= (400 ** 2) * na * nb and i > 0:
            exp_cos[(a, b)] = (i, na * nb, 1_000_000 * i * i // (na * nb))

    got_ov = {
        (r["node_a"], r["node_b"]): (
            r["n_common"], r["n_min"], r["overlap_ppm"]
        )
        for r in node_similarity_overlap(df, threshold=t_ov).collect()
    }
    assert got_ov == exp_ov

    got_cos = {
        (r["node_a"], r["node_b"]): (
            r["n_common"], r["n_ab"], r["cosine_sq_ppm"]
        )
        for r in node_similarity_cosine(df, threshold=t_cos).collect()
    }
    assert got_cos == exp_cos

    # metric ordering sanity: jaccard ⊆ cosine ⊆ overlap at one t
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        node_similarity,
    )

    jac = {
        (r["node_a"], r["node_b"])
        for r in node_similarity(df, threshold=0.5).collect()
    }
    cos = {
        (r["node_a"], r["node_b"])
        for r in node_similarity_cosine(df, threshold=0.5).collect()
    }
    ov = set(got_ov)
    assert jac <= cos <= ov

    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        node_similarity_cosine(df, threshold=0.0)


def _phash(t: str) -> int:
    """Python twin of operators.dedup.portable_hash64_col."""
    import hashlib

    hx = hashlib.md5(t.encode()).hexdigest()
    hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
    if hi >= 1 << 31:
        hi -= 1 << 32
    return hi * (1 << 32) + lo


def test_eigenvector_matches_integer_recurrence(spark):
    """Scores replayed with a python integer recurrence — identical raw
    sums, identical floor-div L1 normalization — plus the structural
    sanity that the most-pointed-at node scores highest."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        eigenvector_centrality,
    )

    pairs = [(1, 4), (2, 4), (3, 4), (4, 5), (5, 1), (2, 5), (3, 2)]
    df = _edges(spark, pairs)
    iters, scale = 3, 10**12
    got = {
        r["nodeId"]: r["score_fp"]
        for r in eigenvector_centrality(df, iters=iters, scale=scale).collect()
    }

    nodes = sorted({x for p in pairs for x in p})
    score = {v: scale for v in nodes}
    for _ in range(iters):
        raw = {}
        for u, v in set(pairs):
            if u != v:
                raw[v] = raw.get(v, 0) + score.get(u, 0)
        tot = sum(raw.values())
        score = {v: (r * scale) // tot for v, r in raw.items()}
    expect = {v: score.get(v, 0) for v in nodes}
    assert got == expect, (got, expect)
    # pure sources (3: no in-edges) and nodes fed only by them (2)
    # drain to exact zero on a directed graph — documented behavior
    assert got[3] == 0 and got[2] == 0
    assert sum(got.values()) <= scale  # L1 floor-normalized each round


def test_eigenvector_undirected_and_guards(spark):
    import pytest as _pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        eigenvector_centrality,
    )

    df = _edges(spark, [(1, 2), (2, 3)])
    got = {
        r["nodeId"]: r["score_fp"]
        for r in eigenvector_centrality(df, iters=3, directed=False).collect()
    }
    # path graph, ODD iteration count: the middle node is the center
    # (a path is bipartite, so undamped power iteration alternates
    # between the two partition classes; even counts land on the
    # uniform mixture — period-2 oscillation is inherent to the
    # algorithm, not this implementation)
    assert got[2] > got[1] and got[2] > got[3]
    assert got[1] == got[3]  # symmetry
    with _pytest.raises(ValueError, match="iters"):
        eigenvector_centrality(df, iters=0)


def _py_landmark_betweenness(pairs, k, scale=10**6, directed=False):
    """Python twin of the exact-integer landmark Brandes recursion."""
    adj = {}
    edges = set()
    for a, b in pairs:
        edges.add((a, b))
        if not directed:
            edges.add((b, a))
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
    nodes = sorted({x for e in edges for x in e})
    seeds = nodes[:k]
    delta_total = {v: 0 for v in nodes}
    for s in seeds:
        dist, sig = {s: 0}, {s: 1}
        frontier, h = [s], 0
        levels = {0: [s]}
        while frontier:
            h += 1
            reached = {}
            for u in frontier:
                for w in adj.get(u, ()):
                    if w not in dist:
                        reached[w] = reached.get(w, 0) + sig[u]
            for w, sg in reached.items():
                dist[w], sig[w] = h, sg
            frontier = sorted(reached)
            if frontier:
                levels[h] = frontier
        hmax = max(levels)
        delta = {}
        for lev in range(hmax - 1, 0, -1):
            for v in levels[lev]:
                d = 0
                for w in adj.get(v, ()):
                    if dist.get(w) == lev + 1:
                        d += (sig[v] * (scale + delta.get(w, 0))) // sig[w]
                delta[v] = d
        for v, d in delta.items():
            if v != s:
                delta_total[v] += d
    return delta_total


def test_landmark_betweenness_python_replay(spark):
    """Exact-integer Brandes replayed in python over a graph with a real
    bottleneck: two clusters bridged by one node — the bridge carries
    every cross-cluster shortest path."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        landmark_betweenness,
    )

    pairs = [
        (1, 2), (1, 3), (2, 3),          # left triangle
        (3, 50),                          # bridge in
        (50, 60),                         # bridge out
        (60, 61), (60, 62), (61, 62),     # right triangle
    ]
    df = _edges(spark, pairs)
    for k in (3, 8):  # sampled and exhaustive (k >= n) landmark sets
        got = {
            r["nodeId"]: r["betweenness_fp"]
            for r in landmark_betweenness(
                df, k_landmarks=k, max_hops=10
            ).collect()
        }
        expect = _py_landmark_betweenness(pairs, k)
        assert got == expect, (k, got, expect)
    # exhaustive run: the bridge endpoints dominate everything else
    assert got[50] == max(got.values())
    assert min(got[50], got[60], got[3]) > max(got[1], got[2], got[61])


def test_landmark_betweenness_guards(spark):
    import pytest as _pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        landmark_betweenness,
    )

    chain = _edges(spark, [(i, i + 1) for i in range(1, 8)])
    with _pytest.raises(RuntimeError, match="max_hops"):
        landmark_betweenness(chain, k_landmarks=1, max_hops=3)
    with _pytest.raises(ValueError, match="k_landmarks"):
        landmark_betweenness(chain, k_landmarks=0)
    # path graph, exhaustive landmarks: interior nodes beat endpoints
    got = {
        r["nodeId"]: r["betweenness_fp"]
        for r in landmark_betweenness(
            chain, k_landmarks=8, max_hops=10
        ).collect()
    }
    assert got[4] == max(got.values())
    assert got[1] == got[8] == 0


def test_fastrp_python_replay(spark):
    """Embeddings replayed coordinate-for-coordinate in python from the
    same portable hash — projection signs, propagation sums, iteration
    weights all exact."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        fastrp_embeddings,
    )

    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    df = _edges(spark, pairs)
    dims, weights, seed, s = 4, (1, 2, 1), 11, 3
    got = {
        (r["nodeId"], r["dim"]): r["emb_fp"]
        for r in fastrp_embeddings(
            df, dims=dims, iter_weights=weights, seed=seed, sparsity=s
        ).collect()
    }

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    h = {}
    for v in nodes:
        for d in range(dims):
            pick = _phash(f"{v}#{d}#{seed}") % (2 * s)
            h[(v, d)] = 1 if pick == 0 else (-1 if pick == 1 else 0)
    emb = {k: weights[0] * v for k, v in h.items()}
    for w in weights[1:]:
        nh = {}
        for v in nodes:
            for d in range(dims):
                nh[(v, d)] = sum(h[(u, d)] for u in adj[v])
        h = nh
        for k in emb:
            emb[k] += w * h[k]
    assert got == emb, (got, emb)
    assert len(got) == len(nodes) * dims


def test_fastrp_guards_and_directed(spark):
    import pytest as _pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        fastrp_embeddings,
    )

    df = _edges(spark, [(1, 2)])
    with _pytest.raises(ValueError, match="dims"):
        fastrp_embeddings(df, dims=0)
    with _pytest.raises(ValueError, match="iter_weights"):
        fastrp_embeddings(df, iter_weights=())
    with _pytest.raises(ValueError, match="sparsity"):
        fastrp_embeddings(df, sparsity=0)
    # directed: node 1 has no in-edges, so every propagated h is 0 and
    # its embedding is exactly weights[0] * its own projection
    got = {
        (r["nodeId"], r["dim"]): r["emb_fp"]
        for r in fastrp_embeddings(
            df, dims=2, iter_weights=(5, 3), seed=1, directed=True
        ).collect()
    }
    for d in range(2):
        pick = _phash(f"1#{d}#1") % 6
        proj = 1 if pick == 0 else (-1 if pick == 1 else 0)
        assert got[(1, d)] == 5 * proj


def test_landmark_betweenness_max_hops_at_eccentricity(spark):
    """ADVICE r11 off-by-one: max_hops EQUAL to the landmark
    eccentricity must complete (the extra probe round observes the
    empty frontier) and match the python replay exactly."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        landmark_betweenness,
    )

    pairs = [(i, i + 1) for i in range(1, 8)]  # path 1..8, ecc(1) = 7
    chain = _edges(spark, pairs)
    got = {
        r["nodeId"]: r["betweenness_fp"]
        for r in landmark_betweenness(
            chain, k_landmarks=1, max_hops=7
        ).collect()
    }
    assert got == _py_landmark_betweenness(pairs, 1)
    # one short of the eccentricity still raises: genuinely truncated
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="max_hops"):
        landmark_betweenness(chain, k_landmarks=1, max_hops=6)


def test_fastrp_long_iter_weights_widen(spark):
    """ADVICE r11 overflow guard: > 4 propagation steps switch the
    running sums to DECIMAL(38,0); values still match the python
    big-int replay exactly and the output stays int64."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        fastrp_embeddings,
    )

    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 5)]
    df = _edges(spark, pairs)
    dims, weights, seed, s = 3, (1, 1, 2, 1, 3, 1), 5, 2
    out = fastrp_embeddings(
        df, dims=dims, iter_weights=weights, seed=seed, sparsity=s
    )
    assert dict(out.dtypes)["emb_fp"] == "bigint"
    got = {(r["nodeId"], r["dim"]): r["emb_fp"] for r in out.collect()}

    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    nodes = sorted(adj)
    h = {}
    for v in nodes:
        for d in range(dims):
            pick = _phash(f"{v}#{d}#{seed}") % (2 * s)
            h[(v, d)] = 1 if pick == 0 else (-1 if pick == 1 else 0)
    emb = {k: weights[0] * v for k, v in h.items()}
    for w in weights[1:]:
        h = {
            (v, d): sum(h[(u, d)] for u in adj[v])
            for v in nodes
            for d in range(dims)
        }
        for k in emb:
            emb[k] += w * h[k]
    assert got == emb, (got, emb)


def test_pagerank_weighted_reference(spark):
    """Weighted PageRank vs a pure-Python replica of the per-edge
    floor-division recurrence; the heavier edge pulls strictly more
    mass than the light one from the same source."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        pagerank_weighted,
    )

    rows = [(1, 2, 3), (1, 3, 1), (2, 3, 2), (4, 3, 5)]
    edges = spark.createDataFrame(
        rows, "sourceNodeId long, targetNodeId long, w long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "nodeId long")
    got = {
        r["nodeId"]: r["rank_fp"]
        for r in pagerank_weighted(nodes, edges, "w", iters=4).collect()
    }

    scale, num, den, n = 10**12, 85, 100, 4
    base = ((den - num) * scale // den) // n
    wt = {}
    for a, _b, w in rows:
        wt[a] = wt.get(a, 0) + w
    r = {v: scale // n for v in (1, 2, 3, 4)}
    for _ in range(4):
        sums = {}
        for a, b, w in rows:
            sums[b] = sums.get(b, 0) + (r[a] * w) // wt[a]
        r = {v: base + (num * sums.get(v, 0)) // den for v in r}
    assert got == r
    assert got[2] > got[1]  # 1 sends 3/4 of its mass to 2


def _rank_graph(spark):
    """The 41-node, 40-edge directed graph of the rank-family tests."""
    pairs = [(i, (i * 7) % 23 + 1) for i in range(1, 41)]
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 42)], "nodeId long")
    return nodes, edges


def _rank_op(name):
    """``(nodes, edges, iters) → ranks`` for one rank-family operator;
    weighted PageRank gets constant weights, personalized PageRank
    seeds every node."""
    from dataflow_flex_pyarrow_to_gds_spark.operators import graph_algo as g

    return {
        "pagerank": g.pagerank_fixedpoint,
        "weighted": lambda n, e, iters: g.pagerank_weighted(
            n, e.withColumn("w", F.lit(9)), "w", iters=iters
        ),
        "personalized": g.personalized_pagerank_fixedpoint,
        "articlerank": g.articlerank_fixedpoint,
    }[name]


def test_pagerank_weighted_uniform_equals_unweighted(spark):
    """Constant weights are bit-identical to the unweighted form:
    floor(r·c / (c·d)) == floor(r/d) — the quotient is the same
    rational, so the floor can't differ."""
    nodes, edges = _rank_graph(spark)
    weighted = _rank_op("weighted")(nodes, edges, iters=3)
    plain = _rank_op("pagerank")(nodes, edges, iters=3)
    assert sorted(map(tuple, weighted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_ppr_seeded_everywhere_equals_pagerank(spark):
    """With every node a seed, personalized PageRank's start ranks and
    teleport mass are PageRank's ``scale div N`` and ``base``: the two
    operators agree bit-for-bit."""
    nodes, edges = _rank_graph(spark)
    ppr = _rank_op("personalized")(nodes, edges, iters=3)
    plain = _rank_op("pagerank")(nodes, edges, iters=3)
    assert sorted(map(tuple, ppr.collect())) == sorted(
        map(tuple, plain.collect())
    )


@pytest.mark.parametrize(
    "op", ["pagerank", "weighted", "personalized", "articlerank"]
)
def test_rank_operators_reject_zero_iters(spark, op):
    """GDS requires maxIterations >= 1. With iters=0 a rank operator
    would hand back its start ranks as if they were a result."""
    nodes, edges = _rank_graph(spark)
    with pytest.raises(ValueError, match="iters"):
        _rank_op(op)(nodes, edges, iters=0)


@pytest.mark.parametrize("op", ["pagerank", "personalized"])
def test_rank_job_census(spark, op):
    """A rank round is one Pregel superstep — the edge ⋈ rank ⋈ divisor
    join, the contribution sum by target, the join back onto the nodes
    and the round's checkpoint — measured at 9 Spark jobs (AQE books
    each shuffle stage as its own job). Two more rounds may add at most
    18 jobs; a per-round count, probe or re-derived operand breaks the
    bound. Personalized PageRank's setup (seed count, out-degrees) costs
    no more jobs than PageRank's."""
    nodes, edges = _rank_graph(spark)
    sc = spark.sparkContext

    def jobs(op, iters):
        group = f"rank-census-{op}-{iters}"
        sc.setJobGroup(group, "rank job census")
        try:
            _rank_op(op)(nodes, edges, iters=iters).collect()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # fed async
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one, three = jobs(op, 1), jobs(op, 3)
    assert three - one <= 18, (one, three)
    if op == "personalized":
        assert one <= jobs("pagerank", 1), one


def test_dag_longest_path_reference(spark):
    """Chain + diamond + isolated-in-DAG shapes vs hand levels: level =
    longest path ending at the node, sources at 0, diamond's sink takes
    the LONGER arm."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        dag_longest_path,
    )

    # chain 1→2→3→4; diamond 10→{11,12}, 11→13, 12→14→13
    pairs = [(1, 2), (2, 3), (3, 4),
             (10, 11), (10, 12), (11, 13), (12, 14), (14, 13)]
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    got = {
        r["nodeId"]: r["level"]
        for r in dag_longest_path(edges).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3,
                   10: 0, 11: 1, 12: 1, 13: 3, 14: 2}


def test_dag_longest_path_cycle_raises(spark):
    """Non-convergence proves a cycle — loud failure, never a silently
    truncated depth (the GDS topological-sort contract)."""
    import pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        dag_longest_path,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "sourceNodeId long, targetNodeId long"
    )
    with pytest.raises(RuntimeError, match="cycle"):
        dag_longest_path(edges, max_iter=10)


def test_community_modularity_reference(spark):
    """Two triangles joined by one bridge, perfect 2-community split —
    checked against the hand-computed integer formula; the merged
    single community scores strictly worse (modularity's defining
    property on this fixture)."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        community_modularity,
    )

    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    labels = spark.createDataFrame(
        [(n, 1 if n <= 3 else 2) for n in range(1, 7)],
        "nodeId long, label long",
    )
    got = {
        r["community"]: (
            r["n_nodes"], r["intra_edges"], r["degree_sum"],
            r["modularity_fp"],
        )
        for r in community_modularity(edges, labels).collect()
    }
    scale, m = 10**9, 7
    deg = {1: 2, 2: 2, 3: 3, 4: 3, 5: 2, 6: 2}
    for c, members in ((1, (1, 2, 3)), (2, (4, 5, 6))):
        dc = sum(deg[n] for n in members)
        lc = 3  # each triangle
        q = (lc * scale) // m - (dc * dc * scale) // (4 * m * m)
        assert got[c] == (3, 3, dc, q), (c, got[c])

    one = spark.createDataFrame(
        [(n, 9) for n in range(1, 7)], "nodeId long, label long"
    )
    merged = community_modularity(edges, one).collect()[0]
    # all 7 edges intra, but Q = 7/7 − 1 = 0 < the split's total
    assert merged["modularity_fp"] == 0
    assert sum(v[3] for v in got.values()) > 0


def test_community_modularity_dedup_and_selfloops(spark):
    """Duplicate/reversed/self-loop edges collapse to the canonical
    undirected edge set before any counting."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        community_modularity,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (1, 1), (2, 3)],
        "sourceNodeId long, targetNodeId long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "nodeId long, label long"
    )
    r = community_modularity(edges, labels).collect()[0]
    assert (r["n_nodes"], r["intra_edges"], r["degree_sum"]) == (3, 2, 4)


def test_rwr_sample_python_replay(spark):
    """RWR sampling replayed walker-for-walker in python from the same
    portable hashes: restart coin, neighbor pick over ascending-id
    ranks, sink-restart — visit counts must match exactly."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        rwr_sample,
    )

    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (2, 5)]  # 5 is a sink
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    seeds = spark.createDataFrame([(1,), (2,)], "nodeId long")
    wps, wl, ppt, sd = 3, 5, 250, 7
    got = {
        r["nodeId"]: r["visits"]
        for r in rwr_sample(
            seeds, edges,
            walks_per_seed=wps, walk_length=wl, restart_ppt=ppt, seed=sd,
        ).collect()
    }

    nbrs = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
    for a in nbrs:
        nbrs[a].sort()
    visits: dict[int, int] = {}
    for start in (1, 2):
        for wn in range(wps):
            node = start
            visits[node] = visits.get(node, 0) + 1
            for step in range(1, wl + 1):
                tag = f"{start}#{wn}#{step}#{sd}"
                if _phash(tag + "#r") % 1000 < ppt or node not in nbrs:
                    node = start
                else:
                    ns = nbrs[node]
                    node = ns[_phash(tag + "#n") % len(ns)]
                visits[node] = visits.get(node, 0) + 1
    assert got == visits
    # sink restart actually exercised: node 5 has no out-edges but a
    # walker that lands there must continue (back at its seed)
    assert 5 in got or all(v > 0 for v in got.values())


def test_rwr_sample_isolated_seed(spark):
    """A seed absent from the edge list samples exactly itself — one
    walker position per step per walk, never a dropped walker."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        rwr_sample,
    )

    edges = spark.createDataFrame(
        [(1, 2)], "sourceNodeId long, targetNodeId long"
    )
    seeds = spark.createDataFrame([(99,)], "nodeId long")
    rows = rwr_sample(
        seeds, edges, walks_per_seed=2, walk_length=3
    ).collect()
    assert len(rows) == 1
    assert rows[0]["nodeId"] == 99
    assert rows[0]["visits"] == 2 * (3 + 1)


def test_r12_ops_partitioning_invariance(spark):
    """Weighted PageRank and RWR sampling are partitioning-invariant —
    the exact-integer / portable-hash contracts mean a repartitioned
    input must produce byte-identical results (the pagerank invariance
    test extended to the r12 ops)."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        pagerank_weighted,
        rwr_sample,
    )

    rows = [(i, (i * 3) % 40 + 1, i % 5 + 1) for i in range(1, 41)]
    edges = spark.createDataFrame(
        rows, "sourceNodeId long, targetNodeId long, w long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 42)], "nodeId long")
    a = sorted(map(tuple, pagerank_weighted(nodes, edges, "w", iters=3).collect()))
    b = sorted(map(tuple, pagerank_weighted(
        nodes.repartition(7), edges.repartition(5), "w", iters=3
    ).collect()))
    assert a == b

    seeds = spark.createDataFrame([(1,), (2,), (3,)], "nodeId long")
    c = sorted(map(tuple, rwr_sample(
        seeds, edges, walks_per_seed=2, walk_length=4
    ).collect()))
    d = sorted(map(tuple, rwr_sample(
        seeds.repartition(3), edges.repartition(6),
        walks_per_seed=2, walk_length=4,
    ).collect()))
    assert c == d


def test_community_conductance_reference(spark):
    """Two triangles joined by one bridge: each triangle community has
    cut 1, volume 7 (2·3 intra + 1 bridge end), 2m − vol = 7 → φ_fp =
    1e9 // 7, hand-computed; the whole-graph community and an edgeless
    community both hit the min-volume-0 guard and score exactly 0."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        community_conductance,
    )

    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    labels = spark.createDataFrame(
        [(n, 1 if n <= 3 else 2) for n in range(1, 7)],
        "nodeId long, label long",
    )
    got = {
        r["community"]: (
            r["n_nodes"], r["cut_edges"], r["degree_sum"],
            r["conductance_fp"],
        )
        for r in community_conductance(edges, labels).collect()
    }
    assert got == {
        1: (3, 1, 7, 10**9 // 7),
        2: (3, 1, 7, 10**9 // 7),
    }, got

    # one community holding every edge: cut 0 AND 2m − vol = 0 —
    # the guard must return 0, not divide by zero
    one = spark.createDataFrame(
        [(n, 9) for n in range(1, 7)], "nodeId long, label long"
    )
    whole = community_conductance(edges, one).collect()[0]
    assert whole["cut_edges"] == 0 and whole["conductance_fp"] == 0
    # an isolated labeled node (degree 0): volume 0 → φ 0 via the guard
    iso = spark.createDataFrame(
        [(n, 1 if n <= 3 else 2) for n in range(1, 7)] + [(99, 3)],
        "nodeId long, label long",
    )
    got_iso = {
        r["community"]: r["conductance_fp"]
        for r in community_conductance(edges, iso).collect()
    }
    assert got_iso[3] == 0


def test_community_conductance_unbalanced_min_volume(spark):
    """A 1-node community hanging off a clique: φ is normalized by the
    SMALLER side's volume (the Kannan–Vempala–Vetta form) — here the
    singleton's own volume, so φ = cut/vol = 1 exactly (scale units);
    the big side divides the same cut by the same min, so both rows
    carry the same φ_fp with different volumes."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        community_conductance,
    )

    # K4 on 1-4 plus pendant 5 attached to 4
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    labels = spark.createDataFrame(
        [(n, 1) for n in range(1, 5)] + [(5, 2)],
        "nodeId long, label long",
    )
    got = {
        r["community"]: (r["cut_edges"], r["degree_sum"], r["conductance_fp"])
        for r in community_conductance(edges, labels).collect()
    }
    # m=7, 2m=14; clique side vol=13, pendant vol=1; min is 1 for BOTH
    assert got[2] == (1, 1, 10**9), got
    assert got[1] == (1, 13, 10**9), got


def test_topological_order_chain_diamond_and_ties(spark):
    """Chain: rank = position. Diamond: every edge goes rank-upward and
    same-level nodes break ties by ascending id. Ranks are 1..n dense."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        topological_order,
    )

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "sourceNodeId long, targetNodeId long"
    )
    got = {
        r["nodeId"]: (r["level"], r["topo_rank"])
        for r in topological_order(chain).collect()
    }
    assert got == {1: (0, 1), 2: (1, 2), 3: (2, 3), 4: (3, 4)}

    # diamond 1→{2,3}→4 plus an independent source 9→4:
    # levels: 1:0, 9:0, 2:1, 3:1, 4:2 — ties (1,9) and (2,3) by id
    diamond = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (9, 4)],
        "sourceNodeId long, targetNodeId long",
    )
    got = {
        r["nodeId"]: (r["level"], r["topo_rank"])
        for r in topological_order(diamond).collect()
    }
    assert got == {
        1: (0, 1), 9: (0, 2), 2: (1, 3), 3: (1, 4), 4: (2, 5)
    }, got
    # topological property holds edge-by-edge
    for s, t in [(1, 2), (1, 3), (2, 4), (3, 4), (9, 4)]:
        assert got[s][1] < got[t][1], (s, t, got)


def test_topological_order_cycle_and_id_range_guards(spark):
    """A cycle fails loud through the level pass; an id past 2^40 would
    overflow the composite rank key and must raise, not wrap."""
    import pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        topological_order,
    )

    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "sourceNodeId long, targetNodeId long"
    )
    with pytest.raises(RuntimeError, match="cycle"):
        topological_order(cyc, max_iter=8)
    big = spark.createDataFrame(
        [(1, 1 << 40)], "sourceNodeId long, targetNodeId long"
    )
    with pytest.raises(ValueError, match="2\\^40"):
        topological_order(big)


def test_topological_order_matches_python_on_random_dag(spark):
    """Random DAG (edges only low-id → high-id, so acyclic by
    construction): ranks equal python's sort by (longest-path level,
    id) exactly — partitioning cannot perturb the total order."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        topological_order,
    )

    rng = __import__("random").Random(7)
    pairs = sorted(
        {
            (a, b)
            for _ in range(120)
            for a, b in [sorted(rng.sample(range(1, 41), 2))]
        }
    )
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    # python twin: longest-path levels by relaxation, then (level, id)
    nodes = sorted({n for p in pairs for n in p})
    lvl = {n: 0 for n in nodes}
    for _ in range(len(nodes)):
        changed = False
        for a, b in pairs:
            if lvl[a] + 1 > lvl[b]:
                lvl[b] = lvl[a] + 1
                changed = True
        if not changed:
            break
    order = sorted(nodes, key=lambda n: (lvl[n], n))
    expect = {
        n: (lvl[n], i + 1) for i, n in enumerate(order)
    }
    got = {
        r["nodeId"]: (r["level"], r["topo_rank"])
        for r in topological_order(edges, n_buckets=8).collect()
    }
    assert got == expect


def _k1_py(pairs, seed=0):
    """Python twin of k1_coloring: deterministic Jones–Plassmann with
    (md5-hash, id) priorities and mex color assignment."""
    return _k1_py_rounds(pairs, seed)[0]


def _k1_py_rounds(pairs, seed=0):
    """:func:`_k1_py` → (colors, number of Jones–Plassmann rounds)."""
    import hashlib

    def h(n):
        hx = hashlib.md5(f"{n}#{seed}".encode()).hexdigest()
        hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
        if hi >= 1 << 31:
            hi -= 1 << 32
        return hi * (1 << 32) + lo

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    uncolored = set(adj)
    colors: dict[int, int] = {}
    rounds = 0
    while uncolored:
        rounds += 1
        winners = [
            v
            for v in uncolored
            if all(
                (h(v), v) > (h(u), u)
                for u in adj[v]
                if u in uncolored
            )
        ]
        assert winners, "JP must make progress"
        for v in winners:
            used = sorted({colors[u] for u in adj[v] if u in colors})
            mex = 0
            for c in used:
                if c == mex:
                    mex += 1
            colors[v] = mex
        uncolored -= set(winners)
    return colors, rounds


def test_k1_coloring_proper_and_python_replay(spark):
    """Random graph: the coloring equals the python Jones–Plassmann
    twin node-for-node, no edge is monochromatic, and the palette
    respects the Δ+1 bound."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        k1_coloring,
    )

    rng = __import__("random").Random(11)
    pairs = sorted(
        {
            tuple(sorted(rng.sample(range(1, 31), 2)))
            for _ in range(70)
        }
    )
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    got = {
        r["nodeId"]: r["color"] for r in k1_coloring(edges).collect()
    }
    assert got == _k1_py(pairs)
    for a, b in pairs:
        assert got[a] != got[b], (a, b, got[a])
    deg: dict[int, int] = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert max(got.values()) <= max(deg.values())  # ≤ Δ+1 colors


def test_k1_coloring_structures(spark):
    """Hand fixtures: a triangle needs exactly 3 colors, a star 2, a
    path 2; self-loops and duplicate/reversed edges are canonicalized
    away; max_iter exhaustion raises loud."""
    import pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        k1_coloring,
    )

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (2, 1), (2, 2)],
        "sourceNodeId long, targetNodeId long",
    )
    got = {r["nodeId"]: r["color"] for r in k1_coloring(tri).collect()}
    assert sorted(got.values()) == [0, 1, 2]
    star = spark.createDataFrame(
        [(9, i) for i in range(1, 6)],
        "sourceNodeId long, targetNodeId long",
    )
    got = {r["nodeId"]: r["color"] for r in k1_coloring(star).collect()}
    assert len({got[i] for i in range(1, 6)}) == 1  # leaves share
    assert got[9] != got[1]
    # a path is 2-colorable but GREEDY JP may legitimately spend 3
    # (mex over neighbors colored 0 and 1) — assert the replay, the
    # properness, and the Δ+1 bound, not the optimum
    path_pairs = [(i, i + 1) for i in range(1, 6)]
    path = spark.createDataFrame(
        path_pairs, "sourceNodeId long, targetNodeId long"
    )
    got = {r["nodeId"]: r["color"] for r in k1_coloring(path).collect()}
    assert got == _k1_py(path_pairs)
    for a, b in path_pairs:
        assert got[a] != got[b]
    assert max(got.values()) <= 2  # Δ + 1
    with pytest.raises(RuntimeError, match="max_iter|uncolored"):
        k1_coloring(tri, max_iter=1)


def test_k1_coloring_job_census(spark):
    """A Jones–Plassmann round is one Pregel superstep: the adjacency and
    state shuffles, the one group-by and the checkpoint job that also
    counts the nodes left uncolored — at most 4 Spark jobs per round
    (AQE books each shuffle stage as its own job). On top: the
    adjacency checkpoint (2), the initial state (1) and the collect (1).
    A join back to the state or a separate emptiness probe per round
    breaks the bound."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        k1_coloring,
    )

    rng = __import__("random").Random(11)
    pairs = sorted(
        {
            tuple(sorted(rng.sample(range(1, 31), 2)))
            for _ in range(70)
        }
    )
    want, rounds = _k1_py_rounds(pairs)
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    sc = spark.sparkContext
    sc.setJobGroup("k1-census", "k1 job census")
    try:
        got = {
            r["nodeId"]: r["color"] for r in k1_coloring(edges).collect()
        }
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed async
    jobs = len(sc.statusTracker().getJobIdsForGroup("k1-census"))
    assert got == want
    assert jobs <= 4 + 4 * rounds, (jobs, rounds)


def test_articlerank_python_replay_and_degree_damping(spark):
    """Exact python replay of the cleared-denominator recurrence on a
    hand graph, plus the defining property: relative to PageRank, a
    low-out-degree endorser's contribution is dampened MORE than a
    high-out-degree one's (the mean-degree additive divisor)."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        articlerank_fixedpoint,
        pagerank_fixedpoint,
    )

    pairs = [(1, 3), (2, 3), (2, 4), (2, 5), (5, 3)]
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 6)], "nodeId long"
    )
    iters, scale, num, den = 3, 10**12, 85, 100
    got = {
        r["nodeId"]: r["rank_fp"]
        for r in articlerank_fixedpoint(
            nodes, edges, iters=iters, scale=scale
        ).collect()
    }
    N, m = 5, len(pairs)
    od = {1: 1, 2: 3, 5: 1}
    base = ((den - num) * scale // den) // N
    r = {i: scale // N for i in range(1, 6)}
    for _ in range(iters):
        s = {i: 0 for i in range(1, 6)}
        for u, v in pairs:
            s[v] += (r[u] * N) // (od[u] * N + m)
        r = {i: base + (num * s[i]) // den for i in range(1, 6)}
    assert got == r, (got, r)

    pr = {
        x["nodeId"]: x["rank_fp"]
        for x in pagerank_fixedpoint(
            nodes, edges, iters=iters, scale=scale
        ).collect()
    }
    # node 1 (outdeg 1) endorses 3; node 2 (outdeg 3) endorses 4. The
    # additive m/N divisor hits outdeg-1 node 1 proportionally harder:
    # AR shrinks a degree-1 contribution by 1/(1+1) vs PR, a degree-3
    # one only by 3/(3+1) — so 4's AR/PR ratio exceeds 3's
    assert got[4] * pr[3] > got[3] * pr[4]


def _louvain_py(pairs, rounds=4, seed=0):
    """Python twin of louvain_local_move: per-sweep-reseeded active
    halves, integer scores, (score desc, stay desc, c asc) tie order."""
    import hashlib

    def active(n, t):
        hx = hashlib.md5(f"{n}#{seed}#{t}".encode()).hexdigest()
        hi, lo = int(hx[:8], 16), int(hx[8:16], 16)
        if hi >= 1 << 31:
            hi -= 1 << 32
        return (hi * (1 << 32) + lo) % 2 == 0

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(v) for n, v in adj.items()}
    m = sum(deg.values()) // 2
    lab = {n: n for n in adj}
    for t in range(rounds):
        tot: dict[int, int] = {}
        for n, l in lab.items():
            tot[l] = tot.get(l, 0) + deg[n]
        new = dict(lab)
        for i in adj:
            if not active(i, t):
                continue
            kic: dict[int, int] = {lab[i]: 0}
            for j in adj[i]:
                kic[lab[j]] = kic.get(lab[j], 0) + 1
            best = None
            for c, k in kic.items():
                tp = tot.get(c, 0) - (deg[i] if lab[i] == c else 0)
                score = 2 * m * k - deg[i] * tp
                key = (score, 1 if c == lab[i] else 0, -c)
                if best is None or key > best:
                    best = key
            new[i] = -best[2]
        lab = new
    return lab


def test_louvain_local_move_triangles_and_replay(spark):
    """Two triangles + bridge: six reseeded-half sweeps settle on the
    two triangle communities (the Louvain phase-1 answer — a fully
    synchronous variant 2-cycles on this fixture forever, the reason
    for the per-sweep active halves); a random graph replays the
    python twin label-for-label."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        louvain_local_move,
    )

    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    got = {
        r["nodeId"]: r["label"]
        for r in louvain_local_move(edges, rounds=6).collect()
    }
    assert got == _louvain_py(pairs, 6)
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]

    rng = __import__("random").Random(23)
    rpairs = sorted(
        {
            tuple(sorted(rng.sample(range(1, 41), 2)))
            for _ in range(90)
        }
    )
    redges = spark.createDataFrame(
        rpairs, "sourceNodeId long, targetNodeId long"
    )
    got = {
        r["nodeId"]: r["label"]
        for r in louvain_local_move(redges, rounds=3).collect()
    }
    assert got == _louvain_py(rpairs, 3)


def test_louvain_local_move_merge_beats_singletons(spark):
    """Composition sanity: the swept assignment's total modularity
    strictly beats the all-singletons start (singletons score
    −Σ(d_c/2m)² < 0), and duplicate/reversed/self-loop edges
    canonicalize away (replay equality on the cleaned pair list)."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        community_modularity,
        louvain_local_move,
    )

    pairs = [(7, 9), (9, 7), (7, 7), (7, 8), (8, 9)]
    edges = spark.createDataFrame(
        pairs, "sourceNodeId long, targetNodeId long"
    )
    labels = louvain_local_move(edges, rounds=4)
    got = {r["nodeId"]: r["label"] for r in labels.collect()}
    assert got == _louvain_py([(7, 9), (7, 8), (8, 9)], 4)
    q_final = sum(
        r["modularity_fp"]
        for r in community_modularity(edges, labels).collect()
    )
    singles = spark.createDataFrame(
        [(n, n) for n in (7, 8, 9)], "nodeId long, label long"
    )
    q_single = sum(
        r["modularity_fp"]
        for r in community_modularity(edges, singles).collect()
    )
    assert q_final > q_single


def test_topological_order_levels_injection(spark):
    """The precomputed-levels path returns exactly what the edges path
    returns, and passing both/neither fails loud."""
    import pytest

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        dag_longest_path,
        topological_order,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)],
        "sourceNodeId long, targetNodeId long",
    )
    via_edges = {
        r["nodeId"]: (r["level"], r["topo_rank"])
        for r in topological_order(edges).collect()
    }
    lv = dag_longest_path(edges)
    via_levels = {
        r["nodeId"]: (r["level"], r["topo_rank"])
        for r in topological_order(levels=lv).collect()
    }
    assert via_edges == via_levels
    with pytest.raises(ValueError, match="exactly one"):
        topological_order(edges, levels=lv)
    with pytest.raises(ValueError, match="exactly one"):
        topological_order()


def test_degree_assortativity_star_path_and_regular(spark):
    """Closed forms: a star is maximally disassortative (r = −1 →
    ppm = −1000000 via the sign-split division), a triangle is
    degree-regular (no degree variance → NULL, not 0), and a 4-path's
    statistics replay by hand."""
    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        degree_assortativity,
    )

    def edges(pairs):
        return spark.createDataFrame(
            pairs, "sourceNodeId long, targetNodeId long"
        )

    star = degree_assortativity(
        edges([(0, 1), (0, 2), (0, 3)])
    ).collect()[0]
    assert star["m2"] == 6
    assert star["assort_ppm"] == -1_000_000

    tri = degree_assortativity(
        edges([(1, 2), (1, 3), (2, 3)])
    ).collect()[0]
    assert tri["assort_ppm"] is None  # regular: undefined, never 0

    # path 1-2-3-4: degrees 1,2,2,1; ordered pairs (dx,dy):
    # (1,2),(2,1),(2,2),(2,2),(2,1),(1,2)
    path = degree_assortativity(
        edges([(1, 2), (2, 3), (3, 4)])
    ).collect()[0]
    m2, sx = 6, 1 + 2 + 2 + 2 + 2 + 1
    sxy = 2 + 2 + 4 + 4 + 2 + 2
    sx2 = 1 + 4 + 4 + 4 + 4 + 1
    num, den = m2 * sxy - sx * sx, m2 * sx2 - sx * sx
    assert (path["m2"], int(path["sx"]), int(path["sxy"]),
            int(path["sx2"])) == (m2, sx, sxy, sx2)
    want = (-1 if num < 0 else 1) * (abs(num) * 1_000_000 // den)
    assert path["assort_ppm"] == want == -500_000


def test_connected_components_incremental_matches_full(spark):
    """The label-space contraction is exact: on a hand graph whose
    delta (a) merges two old components, (b) attaches brand-new nodes,
    and (c) adds an edge internal to one old component (a label-space
    no-op), the incremental result equals the full recompute row for
    row — and the super-graph the increment actually traversed is
    delta-sized, not corpus-sized."""
    from pyspark.sql import functions as F

    from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
        connected_components,
        connected_components_incremental,
    )

    def edges(pairs):
        return spark.createDataFrame(
            pairs, "sourceNodeId long, targetNodeId long"
        )

    def nodes_of(e):
        return (
            e.select(F.col("sourceNodeId").alias("nodeId"))
            .unionByName(e.select(F.col("targetNodeId").alias("nodeId")))
            .distinct()
        )

    old = edges([(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)])
    delta = edges(
        [
            (3, 10),    # merges {1,2,3} with {10,11}
            (40, 41),   # brand-new component
            (21, 40),   # attaches it to {20,21}
            (1, 3),     # internal to an old component: label no-op
        ]
    )
    old_labels = connected_components(nodes_of(old), old)
    got = {
        r["nodeId"]: r["component"]
        for r in connected_components_incremental(
            old_labels, delta
        ).collect()
    }
    full = old.unionByName(delta)
    want = {
        r["nodeId"]: r["component"]
        for r in connected_components(nodes_of(full), full).collect()
    }
    assert got == want
    assert want == {
        1: 1, 2: 1, 3: 1, 10: 1, 11: 1,
        20: 20, 21: 20, 40: 20, 41: 20,
        30: 30, 31: 30,
    }

    # empty delta: the labeling passes through untouched
    empty = edges([]).limit(0)
    same = {
        r["nodeId"]: r["component"]
        for r in connected_components_incremental(
            old_labels, empty
        ).collect()
    }
    assert same == {
        r["nodeId"]: r["component"] for r in old_labels.collect()
    }


def test_node_similarity_topk_per_node_and_symmetry(spark):
    """topK per-node output mode: every pair feeds BOTH endpoints'
    lists, ranks are dense per node cut at K, ties break (sim desc,
    peer asc), and a node with fewer than K qualifying peers keeps
    them all."""
    from dataflow_flex_pyarrow_to_gds_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    rows = Q.q_graph_node_similarity_topk(spark, sf).collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r["node"], []).append(
            (r["rk"], r["jaccard_ppm"], r["peer"])
        )
    assert by_node, "fixture produced no similar pairs"
    for node, lst in by_node.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= Q._NODESIM_TOPK
        sims = [-x[1] for x in lst]
        assert sims == sorted(sims), (node, lst)  # non-increasing sim
    # symmetry of the underlying pair stream: if (a, b) is somewhere
    # in a's list with sim s, then (b, a) exists in the symmetrized
    # stream — it may fall out of b's top-K, but when b has spare
    # capacity it MUST be there
    for node, lst in by_node.items():
        for rk, ppm, peer in lst:
            plist = by_node.get(peer, [])
            if len(plist) < Q._NODESIM_TOPK:
                assert any(p == node for _, _, p in plist), (node, peer)
