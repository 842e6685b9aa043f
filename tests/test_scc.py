"""Strongly-connected-components operator (operators/scc.py)."""

import itertools

import pytest

from dataflow_flex_pyarrow_to_gds_spark.operators.scc import (
    scc_condensation,
    strongly_connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(s), int(t)) for s, t in pairs],
        "sourceNodeId long, targetNodeId long",
    )


def _brute_scc(pairs):
    """Reference SCC by brute-force transitive closure."""
    nodes = sorted({n for p in pairs for n in p})
    reach = {n: {n} for n in nodes}
    changed = True
    while changed:
        changed = False
        for s, t in pairs:
            for n in nodes:
                if s in reach[n] and t not in reach[n]:
                    reach[n].add(t)
                    changed = True
    out = {}
    for n in nodes:
        comp = [m for m in nodes if m in reach[n] and n in reach[m]]
        out[n] = min(comp)
    return out


def test_scc_hand_graph_and_condensation(spark):
    # cycle {1,2,3} -> cycle {4,5} -> tail 6: three components, a
    # 3-deep condensation chain (exercises the outer peel loop)
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6)]
    scc = strongly_connected_components(_edges(spark, pairs))
    got = {r["nodeId"]: r["scc_id"] for r in scc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    cond = {
        (r["source_scc"], r["target_scc"]): r["cross_edges"]
        for r in scc_condensation(_edges(spark, pairs), scc).collect()
    }
    assert cond == {(1, 4): 1, (4, 6): 1}


def test_scc_matches_brute_force_on_random_digraphs(spark):
    import random

    rng = random.Random(13)
    for trial in range(3):
        n = 12
        pairs = sorted(
            {
                (rng.randrange(n), rng.randrange(n))
                for _ in range(24)
            }
        )
        pairs = [(s, t) for s, t in pairs if s != t]
        if not pairs:
            continue
        expect = _brute_scc(pairs)
        got = {
            r["nodeId"]: r["scc_id"]
            for r in strongly_connected_components(
                _edges(spark, pairs)
            ).collect()
        }
        assert got == expect, (trial, pairs)


def test_scc_guards(spark):
    e = _edges(spark, [(1, 2), (2, 1)])
    with pytest.raises(ValueError, match="max_outer"):
        strongly_connected_components(e, max_outer=0)
    with pytest.raises(ValueError, match="max_rounds"):
        strongly_connected_components(e, max_rounds=0)
    # max_rounds bounds the rounds that change the state: a 2-cycle's
    # coloring changes in one round (its mark marks in one), so
    # max_rounds=1 finishes; 1→2→3→4→1 needs two changing color rounds,
    # so max_rounds=1 must raise loudly, not return a truncated coloring
    got = {
        r["nodeId"]: r["scc_id"]
        for r in strongly_connected_components(e, max_rounds=1).collect()
    }
    assert got == {1: 1, 2: 1}
    ring = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    with pytest.raises(RuntimeError, match="color fixpoint"):
        strongly_connected_components(ring, max_rounds=1)
    # condensation-deeper-than-max_outer raises loudly: 2 chained SCCs
    deep = _edges(spark, [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)])
    with pytest.raises(RuntimeError, match="outer peels"):
        strongly_connected_components(deep, max_outer=1)


def test_scc_self_loops_and_nulls(spark):
    # self-loop = singleton component; null endpoints dropped
    df = spark.createDataFrame(
        [(7, 7), (8, 9), (None, 8), (9, None)],
        "sourceNodeId long, targetNodeId long",
    )
    got = {
        r["nodeId"]: r["scc_id"]
        for r in strongly_connected_components(df).collect()
    }
    assert got == {7: 7, 8: 8, 9: 9}


def test_scc_backward_mark_exact_budget_regression(spark):
    # ADVICE r13: a 3-cycle's backward mark converges in EXACTLY 3
    # expansions (2 productive + 1 empty); the old top-of-loop-only
    # emptiness check exhausted range(3) and spuriously raised.
    # trim_rounds=0 so the cycle actually reaches the mark loop.
    pairs = [(1, 2), (2, 3), (3, 1)]
    got = {
        r["nodeId"]: r["scc_id"]
        for r in strongly_connected_components(
            _edges(spark, pairs), max_rounds=3, trim_rounds=0
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_scc_trim_is_correctness_neutral(spark):
    import random

    rng = random.Random(29)
    pairs = sorted(
        {(rng.randrange(14), rng.randrange(14)) for _ in range(26)}
    )
    pairs = [(s, t) for s, t in pairs if s != t]
    trimmed = {
        r["nodeId"]: r["scc_id"]
        for r in strongly_connected_components(
            _edges(spark, pairs), trim_rounds=2
        ).collect()
    }
    untrimmed = {
        r["nodeId"]: r["scc_id"]
        for r in strongly_connected_components(
            _edges(spark, pairs), trim_rounds=0
        ).collect()
    }
    assert trimmed == untrimmed == _brute_scc(pairs)


def test_scc_trim_cuts_condensation_depth(spark):
    # all-trivial DAG chain: condensation depth 3 > max_outer=1 raises
    # without trim, while two trim rounds peel the whole graph before
    # the outer loop ever runs
    chain = [(1, 2), (2, 3)]
    with pytest.raises(RuntimeError, match="outer peels"):
        strongly_connected_components(
            _edges(spark, chain), max_outer=1, trim_rounds=0
        )
    got = {
        r["nodeId"]: r["scc_id"]
        for r in strongly_connected_components(
            _edges(spark, chain), max_outer=1, trim_rounds=2
        ).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3}
