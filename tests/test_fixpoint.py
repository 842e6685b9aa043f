"""The fixpoint driver (``operators/_materialize.fixpoint``) and its one
budget rule: ``budget`` bounds the rounds that change the state, so a
loop whose answer needs exactly R changing rounds returns it at budget R
and raises :class:`NoFixpointError` at budget R − 1.

Each case below is a tiny graph whose R comes from a Python replay of
the loop's own round, so the table pins the rule for every loop that
runs on the fixpoint driver, not only the ones that used to get it right.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from dataflow_flex_pyarrow_to_gds_spark.operators import _materialize
from dataflow_flex_pyarrow_to_gds_spark.operators._materialize import (
    NoFixpointError,
    fixpoint,
)
from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
    connected_components,
    dag_longest_path,
    k1_coloring,
    k_shortest_path_lengths,
    shortest_paths,
)
from dataflow_flex_pyarrow_to_gds_spark.operators.mst import (
    minimum_spanning_forest,
)
from dataflow_flex_pyarrow_to_gds_spark.operators.scc import (
    strongly_connected_components,
)
from test_graph_algo import _k1_py_rounds

PAIRS = "sourceNodeId long, targetNodeId long"
WEIGHTED = "sourceNodeId long, targetNodeId long, w long"


# -- Python replays: (answer, changing rounds) ----------------------------


def _cc_replay(pairs):
    """connected_components: closed-neighborhood min, then the label
    shortcut ``c ← prev[c]``."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    comp = {v: v for v in adj}
    rounds = 0
    while True:
        c1 = {v: min([comp[v]] + [comp[u] for u in adj[v]]) for v in comp}
        new = {v: min(c1[v], comp[c1[v]]) for v in comp}
        if new == comp:
            return comp, rounds
        comp, rounds = new, rounds + 1


def _sp_replay(seeds, triples):
    """shortest_paths: synchronous Bellman-Ford from the seeds."""
    dist = {s: 0 for s in seeds}
    rounds = 0
    while True:
        new = dict(dist)
        for u, v, w in triples:
            if u in dist and dist[u] + w < new.get(v, float("inf")):
                new[v] = dist[u] + w
        if new == dist:
            return dist, rounds
        dist, rounds = new, rounds + 1


def _ksp_replay(seeds, triples, k):
    """k_shortest_path_lengths: the k smallest distinct walk costs."""
    state = {s: [0] for s in seeds}
    rounds = 0
    while True:
        cand = {v: set(c) for v, c in state.items()}
        for u, v, w in triples:
            for d in state.get(u, ()):
                cand.setdefault(v, set()).add(d + w)
        new = {v: sorted(c)[:k] for v, c in cand.items()}
        if new == state:
            return state, rounds
        state, rounds = new, rounds + 1


def _dag_replay(pairs):
    """dag_longest_path: synchronous max-relaxation of the levels."""
    level = {v: 0 for p in pairs for v in p}
    rounds = 0
    while True:
        new = dict(level)
        for s, t in pairs:
            new[t] = max(new[t], level[s] + 1)
        if new == level:
            return level, rounds
        level, rounds = new, rounds + 1


def _mst_replay(triples):
    """minimum_spanning_forest: Borůvka under the (w, u, v) order →
    (forest, the most changing pointer-doubling jumps of any merge)."""
    edges = {}
    for a, b, w in triples:
        u, v = min(a, b), max(a, b)
        edges[(u, v)] = min(w, edges.get((u, v), w))
    comp = {n: n for e in edges for n in e}
    forest, jumps = set(), 0
    while True:
        best = {}
        for (u, v), w in edges.items():
            cu, cv = comp[u], comp[v]
            if cu != cv:
                for c, o in ((cu, cv), (cv, cu)):
                    best[c] = min(best.get(c, (w, u, v, o)), (w, u, v, o))
        if not best:
            return sorted(forest), jumps
        forest |= {(u, v, w) for w, u, v, _ in best.values()}
        parent = {c: best.get(c, (0, 0, 0, c))[3] for c in set(comp.values())}
        parent = {
            c: c if parent[p] == c and c < p else p for c, p in parent.items()
        }
        j = 0
        while any(parent[parent[c]] != parent[c] for c in parent):
            parent = {c: parent[p] for c, p in parent.items()}
            j += 1
        jumps = max(jumps, j)
        comp = {n: parent[c] for n, c in comp.items()}


def _scc_replay(pairs):
    """strongly_connected_components (trim_rounds=0): per outer peel the
    forward color rounds (with the label shortcut), then the backward
    mark → (scc ids, most changing color rounds, most marking rounds)."""
    remaining = {v for p in pairs for v in p}
    out, color_max, mark_max = {}, 0, 0
    while remaining:
        e = [(s, t) for s, t in pairs if s in remaining and t in remaining]
        color = {v: v for v in remaining}
        r = 0
        while True:
            c1 = dict(color)
            for s, t in e:
                c1[t] = min(c1[t], color[s])
            new = {v: min(c1[v], color[c1[v]]) for v in color}
            if new == color:
                break
            color, r = new, r + 1
        mark = {v for v in remaining if color[v] == v}
        frontier, m = set(mark), 0
        while True:
            frontier = {
                s for s, t in e if t in frontier and color[s] == color[t]
            } - mark
            if not frontier:
                break
            mark, m = mark | frontier, m + 1
        out.update({v: color[v] for v in mark})
        remaining -= mark
        color_max, mark_max = max(color_max, r), max(mark_max, m)
    return out, color_max, mark_max


# -- the table ------------------------------------------------------------


@dataclass
class Case:
    name: str
    run: Callable  # (spark, budget) → the answer, shaped like the replay
    replay: Callable  # () → (answer, changing rounds)
    operator: str
    reason: str


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, PAIRS)


def _triples(spark, triples):
    return spark.createDataFrame(triples, WEIGHTED)


def _seeds(spark, seeds):
    return spark.createDataFrame([(s,) for s in seeds], "nodeId long")


PATH = [(i, i + 1) for i in range(1, 7)]  # 1-2-…-7
WPATH = [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 5)]
# 1→2→…→6 and every node back to 1: one component, found in one peel
FAN = [(i, i + 1) for i in range(1, 6)] + [(i, 1) for i in range(2, 7)]
MST_PATH = [(i, i + 1, i) for i in range(1, 9)]  # rising weights
RING = [(i, i % 5 + 1) for i in range(1, 6)]  # 1→2→3→4→5→1

CASES = [
    Case(
        "cc",
        lambda spark, b: {
            r["nodeId"]: r["component"]
            for r in connected_components(
                _seeds(spark, {v for p in PATH for v in p}),
                _pairs(spark, PATH),
                max_iter=b,
            ).collect()
        },
        lambda: _cc_replay(PATH),
        "connected_components",
        "max_iter",
    ),
    Case(
        "shortest_paths",
        lambda spark, b: {
            r["nodeId"]: r["dist"]
            for r in shortest_paths(
                _seeds(spark, [0]), _triples(spark, WPATH), "w", max_iter=b
            ).collect()
        },
        lambda: _sp_replay([0], WPATH),
        "shortest_paths",
        "max_iter",
    ),
    Case(
        "k_shortest_path_lengths",
        lambda spark, b: _ksp_answer(
            k_shortest_path_lengths(
                _seeds(spark, [0]), _triples(spark, WPATH), "w", 2,
                max_iter=b,
            )
        ),
        lambda: _ksp_replay([0], WPATH, 2),
        "k_shortest_path_lengths",
        "still improving",
    ),
    Case(
        "dag_longest_path",
        lambda spark, b: {
            r["nodeId"]: r["level"]
            for r in dag_longest_path(
                _pairs(spark, PATH[:3]), max_iter=b
            ).collect()
        },
        lambda: _dag_replay(PATH[:3]),
        "dag_longest_path",
        "cycle",
    ),
    Case(
        "k1_coloring",
        lambda spark, b: {
            r["nodeId"]: r["color"]
            for r in k1_coloring(_pairs(spark, PATH), max_iter=b).collect()
        },
        lambda: _k1_py_rounds(PATH),
        "k1_coloring",
        "uncolored",
    ),
    Case(
        "mst_pointer_doubling",
        lambda spark, b: sorted(
            tuple(r)
            for r in minimum_spanning_forest(
                _triples(spark, MST_PATH), weight_col="w", max_jumps=b
            ).collect()
        ),
        lambda: _mst_replay(MST_PATH),
        "minimum_spanning_forest",
        "pointer doubling",
    ),
    Case(
        "scc_color",
        lambda spark, b: _scc_answer(spark, FAN, b),
        lambda: _scc_replay(FAN)[:2],
        "strongly_connected_components",
        "color fixpoint",
    ),
    Case(
        "scc_backward_mark",
        lambda spark, b: _scc_answer(spark, RING, b),
        lambda: (_scc_replay(RING)[0], _scc_replay(RING)[2]),
        "strongly_connected_components",
        "backward mark",
    ),
]


def _ksp_answer(df):
    got: dict[int, list[int]] = {}
    for r in df.orderBy("nodeId", "k_rank").collect():
        got.setdefault(r["nodeId"], []).append(r["dist"])
    return got


def _scc_answer(spark, pairs, budget):
    return {
        r["nodeId"]: r["scc_id"]
        for r in strongly_connected_components(
            _pairs(spark, pairs), max_rounds=budget, trim_rounds=0
        ).collect()
    }


def test_table_cases_bind_where_they_claim():
    # each SCC case binds on its own loop: the fan's color rounds
    # outnumber its mark rounds, the ring's mark rounds its color rounds
    _, fan_color, fan_mark = _scc_replay(FAN)
    _, ring_color, ring_mark = _scc_replay(RING)
    assert fan_color > fan_mark and ring_mark > ring_color
    for case in CASES:
        assert case.replay()[1] >= 2, case.name  # R − 1 is a real budget


@pytest.mark.parametrize("case", CASES, ids=[c.name for c in CASES])
def test_exact_at_budget(spark, case):
    want, rounds = case.replay()
    assert case.run(spark, rounds) == want
    with pytest.raises(NoFixpointError, match=case.reason) as err:
        case.run(spark, rounds - 1)
    assert isinstance(err.value, RuntimeError)
    assert err.value.operator == case.operator
    assert err.value.budget == rounds - 1
    assert err.value.still_changing > 0
    assert str(err.value).startswith(f"{case.operator}: ")


# -- the fixpoint driver itself -------------------------------------------


def _countdown(spark, start):
    return spark.createDataFrame([(start,)], "n long")


def _tick(df):
    """n ← max(n − 1, 0), flagging the rows it changed."""
    return df.select(
        F.greatest(F.col("n") - 1, F.lit(0)).alias("n"),
        (F.col("n") > 0).alias("_chg"),
    )


def test_driver_change_flag_runs_one_confirming_round(spark):
    # 3 → 2 → 1 → 0 changes the state in 3 rounds; a 4th confirms
    state, rounds = fixpoint(
        "countdown", _countdown(spark, 3), _tick, F.col("_chg"), 3, "r"
    )
    assert rounds == 4 and state.first()["n"] == 0
    with pytest.raises(NoFixpointError, match="countdown: no fixpoint in 2"):
        fixpoint("countdown", _countdown(spark, 3), _tick, F.col("_chg"), 2, "r")


def test_driver_open_rows_counts_first_and_never_confirms(spark):
    open_ = F.col("n") > 0
    state, rounds = fixpoint(
        "countdown", _countdown(spark, 3), _tick, open_, 3, "r",
        open_rows=True,
    )
    assert rounds == 3 and state.first()["n"] == 0
    _, rounds = fixpoint(
        "countdown", _countdown(spark, 0), _tick, open_, 0, "r",
        open_rows=True,
    )
    assert rounds == 0
    with pytest.raises(NoFixpointError) as err:
        fixpoint(
            "countdown", _countdown(spark, 3), _tick, open_, 2, "r",
            open_rows=True,
        )
    assert (err.value.budget, err.value.still_changing) == (2, 1)
    with pytest.raises(ValueError, match="budget"):
        fixpoint("countdown", _countdown(spark, 3), _tick, open_, -1, "r")


def test_driver_calls_materialize_count_by_module_name(spark, monkeypatch):
    # perfbench counts rounds by rebinding the module-level name; the
    # driver must look it up at call time, once per round
    calls = []
    real = _materialize.materialize_count

    def spy(df, where=None):
        calls.append(where)
        return real(df, where=where)

    monkeypatch.setattr(_materialize, "materialize_count", spy)
    _, rounds = fixpoint(
        "countdown", _countdown(spark, 2), _tick, F.col("_chg"), 5, "r"
    )
    assert len(calls) == rounds == 3
