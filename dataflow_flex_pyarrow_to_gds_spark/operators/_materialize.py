"""Lineage-AND-stats truncation for iterative DataFrame loops (r15).

``localCheckpoint(eager=True)`` truncates *lineage* but Spark 4's
``LogicalRDD.fromDataset`` (``sql/execution/ExistingRDD.scala``,
``rewriteStatsAndConstraints``) deliberately CARRIES the optimized
plan's estimated ``Statistics`` onto the checkpoint node, so the next
round's size estimate builds on the previous round's — and
``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` estimates a join as the
PRODUCT of its children's ``sizeInBytes``. Any round-iterated
SELF-join therefore roughly SQUARES the carried estimate per round:
after K checkpointed self-join rounds the carried BigInt is
``S^(2^K)`` — 2^K·digits(S) decimal digits. Harmless at unit-test
round counts; at scale-dependent round counts (the biconnectivity
sparse table runs ⌈log₂ V⌉ levels) the driver ends up spending HOURS
inside ``BigInteger.multiplyToomCook3`` during stats estimation
(``InjectRuntimeFilter``/``canBroadcastBySize``), single-threaded,
before ``java.math.BigInteger`` finally throws
``ArithmeticException: BigInteger would overflow supported range``.
Observed live on the 25× bridges replica (500k nodes → 19 sparse
levels); jstack pinned the spin to exactly this path.

:func:`materialize` is the repo-wide fix: eager localCheckpoint (pay
the materialization, truncate lineage) followed by re-wrapping the
checkpointed ``RDD[InternalRow]`` in a FRESH ``LogicalRDD`` via
``SparkSession.internalCreateDataFrame`` — which carries NO stats, so
the node reads as ``spark.sql.defaultSizeInBytes`` and every round's
stats estimation stays constant-size (measured: 19 digits forever vs
968 digits after just 8 self-join rounds). Estimation-quality
trade-off: none in practice — the compounded estimate it replaces was
astronomically WORSE (products of products), and both it and the
default disable auto-broadcast equally; every deliberate broadcast in
this repo is an explicit ``F.broadcast`` hint, which stats never
override.

:func:`materialize_count` makes the materializing action a ``count()``
and returns it; with ``where=`` it returns instead the number of rows
matching a predicate, read from a ``df.observe`` metric of that same
job (``queryExecution().observedMetrics()``). That is how a fixpoint
loop learns how many rows changed (or are still open) without a probe
job of its own.

:func:`fixpoint` is the one round loop over :func:`materialize_count`
for the graph loops that stop on such a count, and
:class:`NoFixpointError` is what every one of them raises when its
round budget runs out.

``internalCreateDataFrame`` is ``private[sql]`` in Scala, which
compiles to a public JVM method — reachable from py4j, but a Spark
upgrade could move it, so the helper degrades LOUDLY-BUT-SOFTLY: one
``warnings.warn`` per process and plain localCheckpoint behavior
(correct, just re-exposed to the compounding pathology; a ``where=``
count then costs a ``filter(where).count()`` job).
"""

from __future__ import annotations

import uuid
import warnings
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WARNED = False


def _checkpoint(
    df: DataFrame, count: bool, where: Column | None = None
) -> tuple[DataFrame, int | None]:
    """The one private-API block behind :func:`materialize` and
    :func:`materialize_count`: localCheckpoint ``df`` (eagerly, unless a
    ``count()`` is to be the materializing action) and re-wrap the
    checkpointed RDD in a fresh, stats-free ``LogicalRDD``. Returns the
    frame and the row count (None unless ``count``) — or, given
    ``where``, the count of rows matching it, observed inside the same
    job."""
    global _WARNED
    name = None
    if where is not None:
        name = f"materialize_count_{uuid.uuid4().hex}"  # unique per plan
        df = df.observe(name, F.count_if(where))
    # eager=False: Dataset.localCheckpoint row-COPIES the internal RDD
    # (UnsafeRows are buffer-reused per partition — caching them
    # un-copied aliases every row in a partition to the last one) and
    # MARKS it for local checkpointing without running the materializing
    # count; the count below is that action.
    ck = df.localCheckpoint(eager=not count)
    try:
        jdf = ck._jdf
        spark = ck.sparkSession
        jrdd = jdf.queryExecution().toRdd()
        n = int(jrdd.count()) if count else None  # count for free
        if name is not None:
            # the count job ran the observed plan, so its CollectMetrics
            # accumulator holds the final count_if(where)
            metrics = df._jdf.queryExecution().observedMetrics()
            n = int(metrics.apply(name).getLong(0))
        fresh = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        return _CDF(fresh, spark), n
    except Exception as exc:  # noqa: BLE001 — private-API drift guard
        if not _WARNED:
            _WARNED = True
            warnings.warn(
                "materialize: stats truncation unavailable "
                f"({exc!r}); falling back to plain localCheckpoint — "
                "iterative self-join loops regain the compounding "
                "size-estimate pathology (see operators/_materialize.py)",
                RuntimeWarning,
                stacklevel=3,
            )
        if not count:
            return ck, None
        ck = df.localCheckpoint(eager=True)
        return ck, (ck if where is None else ck.filter(where)).count()


def materialize_count(
    df: DataFrame, where: Column | None = None
) -> tuple[DataFrame, int]:
    """:func:`materialize`, but the action that materializes the
    checkpoint IS a ``count()`` whose value is returned — ONE Spark job
    for checkpoint + row count instead of the two an iterative loop
    pays when it probes emptiness/size after checkpointing (r15, guide
    §1.2/§2.4: the probe was a whole extra driver-coordinated job per
    round, and in local mode per-job overhead is the floor cost of
    every iterative operator).

    Given ``where`` (a boolean Column over ``df``), the returned count
    is the number of rows matching it instead — ``count_if(where)``
    observed (``df.observe``) inside that same job, so a fixpoint loop
    learns "how many rows changed / are still open" from its checkpoint
    job rather than from a ``filter(flag).limit(1).count()`` probe of
    one or two more jobs per round.

    Same stats/lineage truncation contract as :func:`materialize`; the
    loud-but-soft fallback pays the extra count job but stays correct.
    """
    return _checkpoint(df, count=True, where=where)


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` (localCheckpoint) and return a frame
    whose logical plan carries neither lineage NOR compounded size
    statistics. Drop-in for ``.localCheckpoint(eager=True)`` in
    iterative loops — chain as ``.transform(materialize)``."""
    return _checkpoint(df, count=False)[0]


class NoFixpointError(RuntimeError):
    """A :func:`fixpoint` loop ran out of its round budget: ``budget``
    state-changing rounds ran and ``still_changing`` rows were still
    changing (or still open) after them. A truncated state would look
    like an answer, so the loop raises instead."""

    def __init__(
        self, operator: str, budget: int, still_changing: int, reason: str
    ):
        super().__init__(
            f"{operator}: no fixpoint in {budget} rounds "
            f"({still_changing} rows unsettled) — {reason}"
        )
        self.operator = operator
        self.budget = budget
        self.still_changing = still_changing


def fixpoint(
    operator: str,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    flag: Column | None,
    budget: int,
    reason: str,
    *,
    open_rows: bool = False,
) -> tuple[DataFrame, int]:
    """Run ``state = materialize_count(step(state), where=flag)`` until
    the count is zero → ``(state, rounds run)``. Each round is one
    checkpoint job that also counts ``flag`` (every row when ``flag``
    is None); the state a round hands on is that checkpoint, flag
    columns included.

    ``budget`` bounds the rounds that change the state: a loop whose
    answer needs exactly ``budget`` such rounds returns it, one that
    needs ``budget + 1`` raises :class:`NoFixpointError`. What a zero
    count means sets the rest:

    - a change flag (the default): the round changed nothing, so the
      round that proves the fixpoint is one past the last change and
      may run beyond the budget;
    - ``open_rows=True``: nothing is left open (k1's uncolored
      nodes), so ``state`` is counted first and no confirming round
      runs.
    """
    if budget < 0:
        raise ValueError(f"{operator}: round budget must be >= 0, got {budget}")
    n, rounds = None, 0
    if open_rows:
        state, n = materialize_count(state, where=flag)
    while n != 0:
        if rounds == budget + (not open_rows):
            raise NoFixpointError(operator, budget, n, reason)
        state, n = materialize_count(step(state), where=flag)
        rounds += 1
    return state, rounds
