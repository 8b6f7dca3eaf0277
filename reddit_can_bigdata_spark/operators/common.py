"""Shared helpers for query builders."""

from __future__ import annotations

from collections.abc import Callable, Hashable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, field
from typing import Any, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from reddit_can_bigdata_spark.tables import load_tables

T = TypeVar("T")


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir)


ITER_CHECKPOINT_DIR_CONF = "spark.redditCan.iterCheckpointDir"


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """The engine's one materialization policy: every intermediate that
    is read more than once is pinned here, in one of two forms.

    ``materialize`` (this function) is for frames that outlive the
    call that builds them: shared edge lists, scalar barriers,
    snapshots returned to a caller, and loop state, which goes through
    the round driver :func:`fixpoint` (one call per round there). It
    cuts the lineage of this one instance: nothing is keyed on the
    plan, so no later call, bench rep or session can reuse the blocks,
    and they are freed by the ContextCleaner once the frame is
    garbage-collected. ``eager=False`` defers the write to the first
    action over the frame.

    :func:`materialized` is the scoped form for frames consumed
    entirely inside one function (a gate probe plus its collect, the
    featurized splits of a model fit): it persists the frame for the
    ``with`` block and always releases it on exit, exceptions
    included. A persisted frame keeps its lineage, so a lost block is
    recomputed and the reliable conf below does not apply to it.

    Fault tolerance: by default the cut is ``localCheckpoint`` —
    executor-local blocks, no distributed filesystem needed, right for
    local mode and the bench. Executor-local blocks die with their
    executor, so at cluster scale one lost executor fails the query.
    Setting the runtime conf ``spark.redditCan.iterCheckpointDir`` to
    an HDFS/S3 path swaps every materialization to reliable
    ``checkpoint()``: files survive executor loss and recovery
    restarts from the checkpoint, not from the scan. One conf, no
    per-operator plumbing:

        spark.conf.set("spark.redditCan.iterCheckpointDir", "s3://...")

    Retention: reliable checkpoint files are NOT auto-deleted when a
    frame goes out of scope unless the session was built with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``;
    long-running services should point the conf at a scratch/TTL'd
    path or enable that cleaner. When neither is the case this helper
    warns ONCE per session (a 40-round loop otherwise grows the dir
    silently and unboundedly). Eager deletion is deliberately NOT done
    here: loops like Brandes hold several checkpointed frames live at
    once, and deleting a checkpoint still referenced by a live plan
    breaks recovery — exactly what reliable mode exists for."""
    spark = df.sparkSession
    ckdir = spark.conf.get(ITER_CHECKPOINT_DIR_CONF, None)
    if ckdir:
        sc = spark.sparkContext
        # dedup marker: getCheckpointDir() returns a scheme-qualified
        # UUID SUBDIRECTORY of what was set, so comparing it against
        # the conf value would re-run setCheckpointDir (one fs.mkdirs
        # round-trip + a fresh UUID dir) on EVERY loop round
        if getattr(sc, "_reddit_can_iter_ckdir", None) != ckdir:
            sc.setCheckpointDir(ckdir)
            sc._reddit_can_iter_ckdir = ckdir
            cleaner = spark.conf.get(
                "spark.cleaner.referenceTracking.cleanCheckpoints", "false"
            )
            if str(cleaner).lower() != "true":
                import warnings

                warnings.warn(
                    f"{ITER_CHECKPOINT_DIR_CONF}={ckdir}: checkpoint files "
                    "accumulate per materialization because "
                    "spark.cleaner.referenceTracking.cleanCheckpoints is not "
                    "'true' (it is session-build-time only). Point the dir at "
                    "a TTL'd scratch path or enable the cleaner when building "
                    "the session.",
                    stacklevel=2,
                )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


#: ``until_converged`` ceiling. The fixed round bounds (``CC_ITERS``,
#: ``LP_ITERS``, ``BW_LEVELS``, ``CLOSENESS_HOPS``) exist for oracle
#: parity with the unrolled DuckDB CTE chains and are sized >= the TEST
#: graph's diameter; on a sparser graph they silently truncate, so
#: every driven graph loop accepts ``until_converged``: iterate to the
#: fixed point. This cap is a runaway backstop only.
UNTIL_CONVERGED_MAX_ROUNDS = 100_000


def round_budget(
    rounds: int, until_converged: bool, cap: int = UNTIL_CONVERGED_MAX_ROUNDS
) -> int:
    """A loop's fixed ``rounds``, or up to the ceiling with
    ``until_converged``; never above the loop's own ``cap``."""
    return min(cap, UNTIL_CONVERGED_MAX_ROUNDS if until_converged else rounds)


def must_converge(budget: int, until_converged: bool, require_converged: bool = False) -> bool:
    """Whether a loop short of its fixed point after ``budget`` rounds
    raises :func:`unconverged` (on both graph tiers): it requires the
    fixed point, or the ``until_converged`` ceiling stopped it."""
    return require_converged or (until_converged and budget == UNTIL_CONVERGED_MAX_ROUNDS)


def unconverged(budget: int, **aids: bool) -> RuntimeError:
    """The error of a loop that must reach its fixed point and spent
    its ``budget``. ``aids`` are its convergence options and whether
    they are on; it suggests only those not on."""
    on = [name for name, set_ in aids.items() if set_]
    off = [f"{name}=True" for name, set_ in aids.items() if not set_]
    already = f" (already set: {', '.join(on)})" if on else ""
    hint = (
        f"rerun with {' or '.join(off)}" if off else "raise UNTIL_CONVERGED_MAX_ROUNDS"
    )
    return RuntimeError(
        f"no fixed point within {budget} rounds — the result may be"
        f" truncated (diameter > budget){already}; {hint}"
    )


@dataclass
class Rounds:
    """A driven loop's record, read by its step and returned by
    :func:`fixpoint`: the last round's ``state`` (the initial one before
    any round) and the ``prev`` state it started from, the ``acc`` fold,
    the per-round row ``counts`` of a loop that counts rows."""

    state: DataFrame
    acc: Any = None
    prev: DataFrame | None = None
    rounds: int = 0
    counts: list[int] = field(default_factory=list)
    converged: bool = False


def fixpoint(
    state: DataFrame,
    step: Callable[[Rounds], DataFrame | None],
    rounds: int,
    *,
    until_converged: bool = False,
    cap: int = UNTIL_CONVERGED_MAX_ROUNDS,
    rows: bool = False,
    changed: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    acc: Any = None,
    fold: Callable[[Any, DataFrame], DataFrame] | None = None,
    require_converged: bool = False,
    aids: dict[str, bool] | None = None,
) -> Rounds:
    """The round driver of every distributed fixpoint loop, which
    passes only its ``step``. Each round, within :func:`round_budget`:

    - ``step(record)`` plans the next state, or returns None when the
      record alone proves the fixed point (no job then);
    - the plan is materialized: a step reads the previous state more
      than once (a join and a change test, a norm and the next vector)
      and a broadcast executes its plan, so without a cut each round
      the plan doubles per round and every broadcast re-runs all
      earlier rounds (PageRank cut every 3rd round: 1.7x slower);
    - one progress action: with ``rows`` the state's row count (kept
      in ``record.counts``), with ``changed`` a ``limit(1)`` count of
      ``changed(new, previous)``. Zero is the fixed point, after which
      every round is a no-op, so stopping keeps fixed-round oracles
      exact;
    - ``fold(acc, new)`` adds a round that made progress to the
      accumulated result, materialized as well.

    Spending the budget short of the fixed point raises
    :func:`unconverged`, naming the loop's ``aids``, where
    :func:`must_converge` says so."""
    budget = round_budget(rounds, until_converged, cap)
    run = Rounds(state, acc)
    while run.rounds < budget:
        nxt = step(run)
        if nxt is None:
            run.converged = True
            break
        run.prev, run.state = run.state, materialize(nxt)
        run.rounds += 1
        if rows:
            run.counts.append(run.state.count())
            progress = run.counts[-1]
        elif changed is not None:
            progress = changed(run.state, run.prev).limit(1).count()
        else:
            progress = None
        if progress == 0:
            run.converged = True
            break
        if fold is not None:
            run.acc = materialize(fold(run.acc, run.state))
    if not run.converged and must_converge(budget, until_converged, require_converged):
        raise unconverged(budget, until_converged=until_converged, **(aids or {}))
    return run


@contextmanager
def materialized(df: DataFrame) -> Iterator[DataFrame]:
    """Scoped form of :func:`materialize`: ``df`` persisted for the
    ``with`` block and released on exit, exceptions included."""
    pinned = df.persist()
    try:
        yield pinned
    finally:
        pinned.unpersist()


_SHARED: ContextVar[dict | None] = ContextVar("shared_inputs", default=None)


@contextmanager
def shared_inputs() -> Iterator[None]:
    """One scope in which :func:`shared` builds each key once.

    It holds driver-side values and lazy plan handles only, never a
    persisted RDD, and is dropped on exit, so nothing is shared across
    scopes. The scope lives in a ``ContextVar``: each thread sees only
    the scope it opened, and a thread started inside one (a pool
    worker) sees none and builds in full."""
    token = _SHARED.set({})
    try:
        yield
    finally:
        _SHARED.reset(token)


def shared(key: Hashable, build: Callable[[], T], *anchors: object) -> T:
    """``build()``, run once per ``key`` inside a :func:`shared_inputs`
    scope and on every call outside one. ``anchors`` are objects whose
    ``id`` is part of ``key``: the scope holds them, so no other object
    takes over that ``id`` while it lives."""
    memo = _SHARED.get()
    if memo is None:
        return build()
    if key not in memo:
        memo[key] = (build(), anchors)
    return memo[key][0]


#: conf knob: input bytes (plan-statistics estimate) each spread
#: partition should carry BEFORE the downstream explode fans it out
#: 30-100x. Sizing the fan-out stage from its input keeps the task
#: count proportional to the data instead of pinned to the core count.
SPREAD_TARGET_BYTES_CONF = "spark.redditCan.spreadTargetBytes"
#: measured sweep at sf0.1 over the 10 heaviest fan-out queries
#: (wall / executor-cpu totals): flat 32-way 19.5s / 89; 256 KiB
#: 21.9 / 23.5; 96 KiB 17.7 / 35.2; 48 KiB 15.7 / 43.8 — 48 KiB is
#: the wall optimum and still halves CPU vs the flat form.
SPREAD_TARGET_BYTES = 48 << 10


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition, sized by input statistics.

    The testdata files are single-row-group parquet, so Spark plans a
    1-task scan; that's correct for a 500 KB file but serializes any
    downstream explode (shingles, tokens, bit fan-outs) that grows the
    data 30-100x in flight. Repartitioning right before the explode
    spreads that work; results are unaffected (every aggregate here is
    order-independent).

    SIZE-ADAPTIVE (optimization round 11, guide §2.5/§2.2): a flat
    ``repartition(defaultParallelism)`` pins the fan-out stage to the
    core count — ``repartition(n)`` is a user partitioning AQE must
    respect, so a 1.5 MB corpus ran 32 tasks each carrying ~30-100 ms
    of fixed per-task CPU (hash-aggregate page zeroing, shuffle-writer
    setup) for milliseconds of real work: measured 2.7-3.9 executor-CPU
    seconds for a token groupBy whose 1-partition form costs 0.07-0.1.
    The partition count now comes from the optimizer's size estimate
    (parquet footer bytes at the leaves — a driver-side lookup, no
    job): one partition per ``spark.redditCan.spreadTargetBytes``
    (default ``SPREAD_TARGET_BYTES`` = 48 KiB pre-fan-out, from the
    sweep above), capped at ``defaultParallelism``.
    Unknown/absurd estimates fall back to the full core count, the old
    behavior. At 100 TB the cap always wins and this stays the full
    cluster-wide rebalance."""
    return df.repartition(spread_parts(df))


def spread_parts(df: DataFrame, scale: float = 1.0) -> int:
    """:func:`spread`'s size-adaptive partition count, reusable by
    callers that need a KEYED repartition (e.g. establishing a window's
    hash partitioning while parallelizing the map that feeds it).

    ``scale`` multiplies the per-partition byte target for maps whose
    per-TASK fixed cost is far above the fan-out tier's (e.g. building
    a multi-thousand-node interpreted expression tree per task): fewer,
    larger partitions amortize the setup. At cluster scale the
    ``defaultParallelism`` cap dominates either way."""
    sc = df.sparkSession.sparkContext
    maxp = sc.defaultParallelism
    parts = maxp
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if 0 < size < (1 << 50):  # unknown stats show up as huge defaults
            try:
                target = int(
                    df.sparkSession.conf.get(
                        SPREAD_TARGET_BYTES_CONF, str(SPREAD_TARGET_BYTES)
                    )
                )
            except ValueError:
                target = SPREAD_TARGET_BYTES
            target = int(target * scale)
            if target > 0:
                parts = max(1, min(maxp, -(-size // target)))
    except Exception:  # stats unavailable: keep the full-parallelism form
        pass
    return parts


def dsum(col: Column | str) -> Column:
    """Exact money-ish sum: accumulate as DECIMAL(18,4), emit double.

    Double summation is order-dependent, so a plain ``sum(double)``
    can differ in the last ulp between Spark and the DuckDB oracle
    (and between runs at different parallelism). Decimal accumulation
    is exact and associative — identical at any partitioning, which is
    also the right call on a 1000-executor cluster where partial
    aggregates combine in arbitrary order.

    DuckDB twin: ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,4)")).cast("double")


DSUM_SQL = "CAST(SUM(CAST({x} AS DECIMAL(18,4))) AS DOUBLE)"


def standard_grand_total(
    result: DataFrame, source: DataFrame, fallback: list[Column]
) -> DataFrame:
    """SQL-standard grand-total row for ROLLUP/CUBE on EMPTY input.

    Spark's ``rollup``/``cube`` emit ZERO rows when the input has zero
    rows, but the SQL standard (and DuckDB/Postgres) still evaluate the
    ``()`` grouping set — one grand-total row with ``COUNT(*) = 0`` and
    NULL sums. Those values are fully determined by the aggregate
    expressions, so the repair is scan-free: build the one-row literal
    ``fallback`` and anti-join it against ``source LIMIT 1`` — it
    survives only when the source (hence the rollup output) is empty.
    The probe costs one first-row peek at the scan, never a second
    aggregate pass, so it is free at any scale.

    ``fallback`` columns must match ``result``'s schema (name + type).
    """
    probe = source.select(F.lit(1).alias("__probe")).limit(1)
    grand = (
        result.sparkSession.range(1)
        .join(probe, F.lit(True), "left_anti")
        .select(*fallback)
    )
    return result.unionByName(grand)


def davg(col: Column | str) -> Column:
    """Exact-numerator average: decimal sum cast to double, one double
    division by the count. DuckDB twin:
    ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,4)")).cast("double") / F.count(c)


DAVG_SQL = "(CAST(SUM(CAST({x} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({x}))"


def budgeted_sample_mod(
    n_nodes: int,
    e_sym: int,
    levels: int,
    slots: int,
    base_mod: int,
    rows_per_slot: int = 100_000_000,
    min_samples: int = 16,
) -> int:
    """The deterministic-sampling modulus a work budget affords for a
    level-synchronous multi-source graph sweep (sampled closeness /
    sampled Brandes).

    A fixed 1-in-``base_mod`` sample makes the source count k scale
    with the GRAPH (k = n/base_mod), so total frontier-relaxation work
    k·e_sym·levels grows superquadratically when the graph densifies —
    exactly what the round-11 honest 10× probe measured (the sf1
    co-order graph has 23.5× the edges for 10× the data; mod-7 sampled
    closeness inside the pipeline burned 73× the cpu). The pivot
    estimators this feeds (Eppstein–Wang closeness, Brandes-pivot
    betweenness) have error governed by the ABSOLUTE sample count
    (~sqrt(log n / k)), not the sampled fraction — so the scale-correct
    policy is: keep 1-in-``base_mod`` while it fits the budget, else
    clamp k to what the budget affords. Sample size then scales with
    the CLUSTER (slots), not the data — on a 1000-executor cluster the
    budget affords thousands of sources; on local[32] at sf1 it
    affords ~19, with the variance cost documented instead of the job
    dying on a 700 GB spill.

    Never returns less than ``base_mod`` (registered oracle queries pin
    ``base_mod`` and the driver's scale factors stay under budget, so
    parity never drifts); ``min_samples`` floors k so a pathological
    budget can't degenerate the estimator to 1-2 sources."""
    work_base = (n_nodes // base_mod) * e_sym * levels
    budget = rows_per_slot * max(slots, 1)
    if work_base <= budget or n_nodes <= 0 or e_sym <= 0:
        return base_mod
    k_afford = max(min_samples, budget // (e_sym * levels))
    import math

    return max(base_mod, math.ceil(n_nodes / k_afford))
