"""Shared helpers for operator modules."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import io, memo
from ..exprcache import cached_exprs  # noqa: F401  (re-exported)


def tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Load fixture tables (events.ts gets its TIMESTAMP_NTZ → session timestamp cast)."""
    return tuple(io.load(spark, sf_dir, n) for n in names)


#: Handle: (probe_key, target) -> planned scan partition count; emptied
#: when the SparkContext changes. A layout property of the input path, not
#: data: probing a fresh Dataset costs a full analyze+plan round (~0.15-0.2 s
#: steady, measured r15), so repeat invocations against one table path
#: reuse the first probe.
_SPREAD_PROBE_CACHE: dict = memo.register({}, memo.HANDLE)


def spread_small_input(df: DataFrame, probe_key=None) -> DataFrame:
    """Round-robin ``repartition(defaultParallelism)`` ONLY when the scan
    would otherwise produce fewer partitions than cores.

    The dedup family spreads its (locally single-file) document scan across
    every core before the per-word MD5 work; unconditionally repartitioning
    was a full-corpus shuffle at scale, where the input already has orders
    of magnitude more splits than cores (r14 verdict #1 — it was the only
    exchange left in q53 and sat under the whole SimHash/MinHash family).
    Row placement does not affect any consumer (they are all key
    aggregates/joins), so output is identical with or without the spread.
    ``probe_key`` (recommended: the table path) memoizes the partition
    probe per session — see :data:`_SPREAD_PROBE_CACHE`."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if probe_key is None:
        n = df.rdd.getNumPartitions()
    else:
        n = memo.get_or_build(
            _SPREAD_PROBE_CACHE, (probe_key, target), lambda: df.rdd.getNumPartitions()
        )
    if n >= target:
        return df
    return df.repartition(target)


def checkpoint_clean(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` that also RESETS the plan's size statistics —
    mandatory inside iterative join loops.

    Root cause (r8, measured): ``Dataset.localCheckpoint`` truncates
    lineage but the resulting ``LogicalRDD`` PRESERVES the origin plan's
    estimated statistics, and Catalyst's size-only estimator computes a
    join's ``sizeInBytes`` as the unbounded ``BigInt`` PRODUCT of its
    children's. An iterative algorithm that checkpoints each round's
    k-join output therefore compounds the estimate geometrically — the
    BigInt's bit-length multiplies by ~k per round (measured: 35 → 101 →
    233 → 499 → 1029 → 2089 bits over six CC rounds), until planning time
    is dominated by Toom-Cook BigInteger multiplication inside
    ``SizeInBytesOnlyStatsPlanVisitor`` and rounds blow up from ~1.5 s to
    minutes (observed at a 44M-edge graph: round 10 took 180 s with every
    executor thread idle and one driver thread at 100% in
    ``BigInteger.multiply``).

    Fix: after checkpointing, re-bind the materialized InternalRow RDD as
    a FRESH ``LogicalRDD`` carrying no origin stats (falls back to
    ``spark.sql.defaultSizeInBytes``) — one py4j call, zero data
    movement, plan-identical execution. If the private-API re-bind ever
    fails on a Spark upgrade, the checkpointed frame is returned as-is
    (correct, possibly slow again) and a warning is logged once.
    """
    ckpt = df.localCheckpoint()
    try:
        jdf = ckpt._jdf
        spark = df.sparkSession
        clean_j = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        clean = DataFrame(clean_j, spark)
        # keep the checkpointed frame reachable so callers can release
        # its blocks when the round is superseded (release_checkpoint)
        clean._stats_clean_origin = ckpt
        return clean
    except Exception:
        global _ckpt_clean_warned
        if not _ckpt_clean_warned:
            _ckpt_clean_warned = True
            import logging

            logging.getLogger(__name__).warning(
                "stats-clean checkpoint re-bind failed; iterative plans "
                "may hit the compounding-BigInt stats slowdown",
                exc_info=True,
            )
        return ckpt


_ckpt_clean_warned = False

import threading as _threading

#: serializes the session-scoped AQE toggle inside checkpoint_partitioned
_aqe_toggle_lock = _threading.Lock()


def _layout_partition_count(spark: SparkSession, df: DataFrame) -> int:
    """Partition count for a layout-preserving checkpoint: the session's
    shuffle parallelism, falling back to the frame's actual partition
    count (then ``defaultParallelism``) when the conf is non-numeric —
    AQE-managed platforms report values like "auto" (r9 ADVICE)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return df.rdd.getNumPartitions() or spark.sparkContext.defaultParallelism


def checkpoint_partitioned(df: DataFrame, *cols: str, sort: bool = True) -> DataFrame:
    """``localCheckpoint`` that PRESERVES a hash partitioning (and
    optionally the intra-partition sort order) on ``cols`` — the one-time
    exchange that makes every round of an iterative join loop
    exchange-free on the big side.

    ``Dataset.localCheckpoint`` records the *executed* plan's output
    partitioning in the resulting ``LogicalRDD`` — but under AQE the
    executed plan is an ``AdaptiveSparkPlanExec`` that reports
    ``UnknownPartitioning`` before its final plan materializes, so the
    checkpoint loses the layout (measured on this Spark: partitioning
    ``UnknownPartitioning(0)``, and every round re-exchanges AND re-sorts
    the full edge list). Disabling AQE for just this statement makes the
    checkpoint record ``hashpartitioning(cols, N)`` + the sort order, and
    subsequent joins on ``cols`` leave this side exchange-free (verified
    by plan inspection in tests/test_checkpoint_stats.py).

    Use OUTSIDE iterative loops only: like plain ``localCheckpoint`` the
    frame keeps its origin-plan size statistics (see
    :func:`checkpoint_clean` for why per-round checkpoints must not).

    The AQE toggle mutates session-scoped conf for the duration of the
    checkpoint statement. Concurrent ``checkpoint_partitioned`` calls are
    serialized by a module lock, but OTHER planner threads in the same
    session could still plan a statement without AQE during the window —
    this engine drives Spark from a single driver thread; a fully
    multi-threaded driver should clone the session
    (``spark.newSession()``) for the checkpoint.
    """
    spark = df.sparkSession
    nparts = _layout_partition_count(spark, df)
    laid_out = df.repartition(nparts, *[F.col(c) for c in cols])
    if sort:
        laid_out = laid_out.sortWithinPartitions(*cols)
    with _aqe_toggle_lock:
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return laid_out.localCheckpoint()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)


_release_ckpt_warned = False


def release_checkpoint(df: DataFrame) -> str:
    """Best-effort release of a superseded round's localCheckpoint blocks
    (iterative loops otherwise accumulate one orphaned label RDD per round
    in the block manager until driver GC). Accepts frames produced by
    :func:`checkpoint_clean` (releases the underlying checkpoint) or plain
    checkpointed frames; non-checkpointed frames are a tolerated no-op.

    Returns a status so callers (memo.clear_all) can act on the outcome
    without re-doing the private-API probe: ``"released"``,
    ``"skipped:<PlanClass>"`` (not a checkpointed frame — nothing to
    release), or ``"error"``.

    A *failure* of the private-API plan access is logged once (same policy
    as :func:`checkpoint_clean`'s fallback): a silent ``pass`` here would
    quietly reintroduce the per-round orphaned-label-RDD accumulation in
    the CC/PageRank loops after a PySpark plan-shape change (r8 ADVICE
    finding #2)."""
    target = getattr(df, "_stats_clean_origin", df)
    try:
        plan = target._jdf.queryExecution().analyzed()
        plan_name = plan.getClass().getSimpleName()
        if plan_name == "LogicalRDD":
            plan.rdd().unpersist(False)
            return "released"
        return f"skipped:{plan_name}"
    except Exception:
        global _release_ckpt_warned
        if not _release_ckpt_warned:
            _release_ckpt_warned = True
            import logging

            logging.getLogger(__name__).warning(
                "checkpoint block release via private plan access failed; "
                "iterative loops will leave superseded round RDDs to "
                "driver GC (PySpark plan-shape change?)",
                exc_info=True,
            )
        return "error"


def distributed_row_number(
    df: DataFrame,
    bucket: Column,
    order_by: list[Column],
    partition_by: list[str] | None = None,
    out: str = "rn",
) -> DataFrame:
    """Exact global ROW_NUMBER() under ``order_by`` WITHOUT a
    single-partition WindowExec — the scale swap for every corpus-sized
    ``NTILE/row_number OVER (ORDER BY ...)``.

    ``bucket`` must be a coarse integer column MONOTONE NON-DECREASING in
    the ``order_by`` order (e.g. ``floor(score * 1000)`` for an ascending
    score sort, ``floor(-score * 1000)`` for a descending one). The rank
    decomposes into:

    1. per-bucket counts — one grouped agg with map-side combine;
    2. each bucket's base rank = rows in strictly-earlier buckets — a
       running sum over the COLLAPSED (bucket-cardinality) count table,
       broadcast back;
    3. a row_number partitioned BY BUCKET — parallelism = bucket count,
       the per-task sort is one bucket's worth of rows.

    ``rank == base + within-bucket row_number`` is exact because the
    bucket function is monotone: the global order never interleaves two
    buckets. NTILE/decile labels then derive from the rank and total count
    with pure integer arithmetic (see :func:`ntile_from_rank`).
    """
    part = list(partition_by or [])
    b = df.withColumn("_rk_bucket", bucket)
    counts = b.groupBy(*part, "_rk_bucket").agg(F.count(F.lit(1)).alias("_rk_n"))
    w_base = (
        Window.partitionBy(*part).orderBy("_rk_bucket")
        if part
        else Window.orderBy("_rk_bucket")
    ).rowsBetween(Window.unboundedPreceding, -1)
    base = counts.select(
        *part,
        "_rk_bucket",
        F.coalesce(F.sum("_rk_n").over(w_base), F.lit(0)).alias("_rk_base"),
    )
    w_in = Window.partitionBy(*part, "_rk_bucket").orderBy(*order_by)
    return (
        b.join(F.broadcast(base), part + ["_rk_bucket"])
        .withColumn(out, (F.row_number().over(w_in) + F.col("_rk_base")).cast("bigint"))
        .drop("_rk_bucket", "_rk_base")
    )


def ntile_from_rank(rank: Column, total: Column, n: int) -> Column:
    """SQL-standard NTILE(n) label from a 1-based rank and the partition's
    total row count: the first ``total % n`` tiles hold ``total DIV n + 1``
    rows, the rest ``total DIV n`` — pure integer arithmetic, bit-identical
    to the window function on every engine."""
    q = total.cast("bigint") / F.lit(n)
    qq = F.floor(q).cast("bigint")
    rem = (total.cast("bigint") % F.lit(n)).cast("bigint")
    big = rem * (qq + 1)  # rows covered by the (q+1)-sized tiles
    return (
        F.when(rank <= big, F.floor((rank - 1) / (qq + 1)) + 1)
        .otherwise(rem + F.floor((rank - big - 1) / F.greatest(qq, F.lit(1))) + 1)
        .cast("int")
    )
