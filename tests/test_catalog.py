"""Catalog registry invariants — the driver contract's structural health."""

import dataflow_flex_pyarrow_to_gds_spark.queries as C

#: round 2: every catalog query is oracled — the approximate family got
#: structural/exhaustive oracles (portable-hash simhash, recall-1.0-tuned
#: ANN vs exact top-k, sketch-vs-exact tolerance booleans)
ALLOWED_ROWS_ONLY: set[str] = set()


def test_no_orphan_oracles():
    """Every oracle string must belong to a registered query (an orphan
    means a rename silently downgraded a query to rows-only)."""
    specs = C._specs()
    all_oracles = {
        **C._GRAPH_ORACLES,
        **C._RELATIONAL_ORACLES,
        **C._extension_oracles(),
    }
    assert set(all_oracles) <= set(specs), set(all_oracles) - set(specs)


def test_rows_only_set_is_intentional():
    specs = C._specs()
    rows_only = {n for n, s in specs.items() if not s.oracle}
    assert rows_only == ALLOWED_ROWS_ONLY, rows_only ^ ALLOWED_ROWS_ONLY


def test_every_query_documented():
    for name, spec in C._specs().items():
        assert spec.doc.strip(), f"{name} has no docstring"


def test_driver_window_covers_unverified_queries():
    """The driver's correctness gate only checks the first DRIVER_WINDOW
    entries of queries() (dict order). Every query WITHOUT a prior
    driver-green row must sit inside that window; only queries frozen in
    PREVIOUSLY_DRIVER_VERIFIED may sit beyond it."""
    names = list(C.queries())
    window = set(names[: C.DRIVER_WINDOW])
    beyond = set(names[C.DRIVER_WINDOW :])
    assert beyond <= C.PREVIOUSLY_DRIVER_VERIFIED, (
        beyond - C.PREVIOUSLY_DRIVER_VERIFIED
    )
    # a frozen name missing entirely means a rename broke the
    # union-coverage claim
    assert C.PREVIOUSLY_DRIVER_VERIFIED <= set(names)
    # r12 (VERDICT r11 #3): PV means "verified ONLY in a prior round" —
    # a name in both the window and PV is bookkeeping drift (the r11
    # rotated-in block was never pruned), so the sets must be disjoint
    # and their union must be the whole catalog
    assert not (window & C.PREVIOUSLY_DRIVER_VERIFIED), (
        window & C.PREVIOUSLY_DRIVER_VERIFIED
    )
    assert window | C.PREVIOUSLY_DRIVER_VERIFIED == set(names)


def test_entry_module_contract():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 50
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in oracles.values())


def test_clear_co_order_memo(spark):
    """ADVICE r10: the co-order fixture can be evicted in long-lived
    multi-corpus sessions — entries drop (per-corpus or all) and
    re-derive on next use."""
    sf = "/root/testdata/sf0.001"

    def held(sf_dir=None):
        return [
            k for k in C._FIXTURES
            if k[0] == "co_order_edges" and sf_dir in (None, k[2])
        ]

    C._co_order_edges(spark, sf)            # populate
    assert held(sf)
    sc = spark.sparkContext
    sc.setJobGroup("fixture-hit", "a cache hit")
    try:
        C._co_order_edges(spark, sf)
    finally:
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup("fixture-hit")
    n = C.clear_fixtures("co_order_edges", sf_dir=sf)
    assert n >= 1
    assert not held(sf)
    e = C._co_order_edges(spark, sf)        # re-derives cleanly
    assert e.count() > 0
    assert C.clear_fixtures() >= 1          # full clear
    assert not held()


def test_clear_fixtures_releases_exactly_the_builds_blocks(spark):
    """Clearing a fixture unpersists the RDDs its build persisted — a
    localCheckpoint frame's blocks are not released by df.unpersist — and
    leaves every other fixture's blocks alone."""
    sf = "/root/testdata/sf0.001"
    jsc = spark.sparkContext._jsc

    def live():
        return set(jsc.getPersistentRDDs().keySet())

    C.clear_fixtures()
    before = live()
    C._co_order_edges(spark, sf)
    assert live() - before
    assert C.clear_fixtures("co_order_edges") == 1
    assert not live() - before

    C._dag_levels(spark, sf)
    co = C._co_order_edges(spark, sf)
    assert C.clear_fixtures("dag_levels") == 1
    assert co.count() > 0                   # its checkpoint still reads
    C.clear_fixtures()
    assert not live() - before


def test_every_fixture_owner_reaches_its_helper():
    """Each declared session fixture is built by exactly one catalog
    function, and its owner row reaches that function through
    check_window's dependency walk — bench charges the build to the
    owner, so the declaration cannot drift from the code (no Spark)."""
    import importlib.util
    import inspect
    import os
    import types

    spec = importlib.util.spec_from_file_location(
        "check_window",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "check_window.py"),
    )
    cw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cw)
    closure, _ = cw.module_closures()

    builders: dict[str, list] = {n: [] for n in C.FIXTURE_OWNERS}
    for fn in vars(C).values():
        if (
            isinstance(fn, types.FunctionType)
            and fn.__module__ == C.__name__
            and "_fixture" in fn.__code__.co_names
        ):
            for name in set(C.FIXTURE_OWNERS) & set(fn.__code__.co_consts):
                builders[name].append(fn)
    assert all(len(b) == 1 for b in builders.values()), builders
    owners = list(C.FIXTURE_OWNERS.values())
    assert len(set(owners)) == len(owners)  # bench charges one per row

    specs = C._specs()
    for name, owner in C.FIXTURE_OWNERS.items():
        (helper,) = builders[name]
        owner_fn = specs[owner].fn
        _deps, helper_src = cw.query_deps(owner_fn, closure)
        assert owner_fn is helper or inspect.getsource(helper) in helper_src, (
            name, owner, helper.__name__
        )


def test_tripwire_v2_flags_operator_edits():
    """VERDICT r10 #4 done-criterion: a synthetic edit to an operator
    module flips the v2 hash of EVERY consuming catalog query (so a
    changed operator can no longer ride a stale driver-green claim from
    beyond the window), and of NO non-consuming query."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "check_window",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "check_window.py"),
    )
    cw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cw)

    import dataflow_flex_pyarrow_to_gds_spark.queries as C

    closure, real_hashes = cw.module_closures()
    base = cw.current_hashes(real_hashes)

    poked = dict(real_hashes)
    poked["operators.dedup"] = "synthetic-edit"
    after = cw.current_hashes(poked)

    specs = C._specs()
    flagged = {q for q in base if base[q] != after[q]}
    consumers = {
        q for q, s in specs.items()
        if "operators.dedup" in cw.query_deps(s.fn, closure)[0]
    }
    assert flagged == consumers, flagged ^ consumers
    # the edit reaches PV queries beyond the window — the exact gap the
    # v1 fn-source hash had
    beyond = set(list(C.queries())[C.DRIVER_WINDOW:])
    assert flagged & beyond & C.PREVIOUSLY_DRIVER_VERIFIED
    # known consumers, sanity-pinned
    assert {"dedup_minhash_pairs", "dedup_near_groups",
            "curation_admission"} <= flagged
    # and a pure-SQL query is untouched
    assert "q1_pricing_summary" not in flagged

    # helper-closure coverage: co-order graph queries hash the shared
    # _co_order_edges helper source, not just their own body
    _deps, helpers = cw.query_deps(specs["graph_bfs"].fn, closure)
    assert "_co_order_edges" in helpers


def test_scc_memo_config_matches_operator_defaults():
    """VERDICT r14 #7: the memoized SCC fixture (`_SCC_FIXTURE_KW`,
    shared by graph_scc AND graph_scc_condensation) must be built with
    exactly the operator's signature defaults — a memo built under a
    different trim/budget config would be correctness-neutral but would
    silently decouple the two rows' measured costs. If the operator's
    defaults move, this trips loudly and the fixture dict must be
    re-pinned deliberately."""
    import inspect

    import dataflow_flex_pyarrow_to_gds_spark.queries as C
    from dataflow_flex_pyarrow_to_gds_spark.operators.scc import (
        strongly_connected_components,
    )

    sig = inspect.signature(strongly_connected_components)
    for k, v in C._SCC_FIXTURE_KW.items():
        assert sig.parameters[k].default == v, (k, v)
