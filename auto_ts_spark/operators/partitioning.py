"""Partitioning helpers.

At 100 TB the parquet scan naturally yields thousands of input splits
and every downstream stage is parallel. With small single-row-group
files (the local test fixtures — Spark cannot split a parquet file
below row-group granularity) a CPU-heavy projection chain (md5
shingling, per-element array lambdas, cosine scoring) runs on ONE core
unless we repartition first. ``ensure_parallelism`` is the explicit,
scale-safe version of that: it only ever repartitions *up* to the
cluster's parallelism, so on a real cluster with ample input splits it
is a no-op, while on local fixtures it unlocks all cores for the
compute-bound stage that follows.

This module also holds the engine's materialization policy, and is the
only library module that persists, caches or checkpoints a frame
(``auto.py``'s fitted-model state aside): ``cache_if_costly`` (the
size-gated cache), :func:`checkpoint` (an eager checkpoint whose
blocks belong to the caller's result) and :class:`MaterializeScope`
(frames held for reuse inside one call, released when it returns or
raises).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating runtimes
    where the conf is a non-numeric sentinel (e.g. "auto" under
    auto-optimized shuffle) by falling back to the cluster's default
    parallelism."""
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:
        n = spark.sparkContext.defaultParallelism or 32
    return max(n, 1)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition up (never down) to ``min_partitions``
    (default: ``sparkContext.defaultParallelism``).

    Use immediately before a CPU-bound narrow stage whose input may be
    under-partitioned. The shuffle it introduces is proportional to the
    *input* (cheap) and is skipped entirely when the input already has
    enough partitions — so it never hurts the large-scale plan.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Below this compile-time estimate of the INPUT a bounded derived
# frame is cheaper to recompute per consumer branch than to cache:
# materializing an InMemoryRelation costs a query-stage barrier plus
# columnar build/read overhead that a quiet-machine A/B measured at
# ~+0.5 s per consumer query on a ~3 MB scan (r13), while above it the
# cache replaces whole re-scans of the source per extra plan branch.
# Same zero-job sizeInBytes gate as textops.SPAN_REPARTITION_MIN_BYTES.
CACHE_INPUT_MIN_BYTES = 256 * 1024 * 1024


def cache_if_costly(df: DataFrame, input_df: DataFrame) -> DataFrame:
    """``df.cache()`` only when recomputing ``df`` would re-read a
    large input (compile-time ``sizeInBytes`` estimate of
    ``input_df``, no job). Use for small derived frames (bounded
    aggregates) consumed through several plan branches: on a big
    source every extra branch is a full re-scan — cache; on a small
    source the recompute is cheaper than the InMemoryRelation
    round-trip — don't. Stats unavailable → cache (the scale-safe
    default), logged so a broken probe is visible."""
    try:
        raw = (
            input_df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        size = int(raw if isinstance(raw, int) else raw.toString())
        if size < CACHE_INPUT_MIN_BYTES:
            return df
    except Exception as exc:
        # a silently-broken size probe (e.g. a PySpark internal-API
        # change) would invisibly re-introduce the unconditional-cache
        # small-scan regression the gate was built to prevent
        log.warning(
            "cache_if_costly: optimizedPlan().stats() size probe failed "
            "(%s); falling back to unconditional cache",
            exc,
        )
    return df.cache()


def checkpoint(df: DataFrame, level=None) -> DataFrame:
    """Eager ``localCheckpoint``: materialize ``df`` now and cut its
    lineage. For frames whose blocks belong to the frame the caller
    returns: nothing releases them explicitly, the ContextCleaner
    frees them once the returned frame is garbage. ``level`` (a
    ``StorageLevel``; default the deserialized localCheckpoint level)
    — pass ``MEMORY_AND_DISK`` for large frames, whose serialized
    blocks spill instead of filling the heap."""
    return df.localCheckpoint(eager=True, storageLevel=level)


def _release(df: DataFrame, checkpointed: bool) -> None:
    if checkpointed:
        # DataFrame.unpersist() is a no-op for a checkpoint: it goes
        # through the CacheManager, which never registered it. The
        # blocks belong to the RDD inside the plan's LogicalRDD.
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    else:
        df.unpersist()


class MaterializeScope:
    """Owns the frames a call materializes for its own reuse and
    releases them when the ``with`` block exits, whether it returns or
    raises::

        with MaterializeScope() as scope:
            feat = scope.hold(build(df))
            ...  # every action reading feat

    ``hold`` persists lazily and is always released on exit: a frame
    the caller's result still references afterwards recomputes from
    its lineage (correct, just slower). ``checkpoint`` is eager
    (:func:`checkpoint`); its blocks are released on exit only when
    the block raises — on a normal exit they belong to the result and
    the ContextCleaner frees them. Checkpointing a frame this scope
    already checkpointed returns it unchanged. ``release`` frees one
    held frame early.
    """

    def __init__(self) -> None:
        self._held: list[tuple[DataFrame, bool]] = []

    def __enter__(self) -> "MaterializeScope":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        held, self._held = self._held, []
        for df, checkpointed in reversed(held):
            if exc_type is not None or not checkpointed:
                _release(df, checkpointed)
        return False

    def hold(self, df: DataFrame, level=None) -> DataFrame:
        """Lazily persist ``df`` (``level``: a ``StorageLevel``;
        default that of ``DataFrame.cache()``)."""
        out = df.cache() if level is None else df.persist(level)
        self._held.append((out, False))
        return out

    def checkpoint(self, df: DataFrame, level=None) -> DataFrame:
        if any(df is h and c for h, c in self._held):
            return df
        out = checkpoint(df, level)
        self._held.append((out, True))
        return out

    def release(self, df: DataFrame) -> None:
        for i, (h, checkpointed) in enumerate(self._held):
            if h is df:
                del self._held[i]
                _release(h, checkpointed)
                return


def bounded_window_key(col: str):
    """A constant-per-frame, data-dependent partition key for windows
    over frames that genuinely need ONE global ordering (leaderboard
    rank over ≤ #models rows, a 3-row viz frame).

    ``Window.partitionBy(F.lit(1))`` does NOT silence Spark's
    "No Partition Defined" WindowExec warning: the optimizer
    constant-folds the foldable key out of the partitionSpec, leaving
    an empty spec at runtime. This expression —
    ``substring(coalesce(col, ''), 1, 0)`` — evaluates to ``''`` for
    every row (including NULLs, which the coalesce pins so a NULL key
    can't split the frame in two) but references a real column, so the
    optimizer keeps it and WindowExec sees a non-empty spec. The
    execution is the same single partition the bounded frame requires;
    the point is that the single-task sort is now *declared*, visible
    in the plan, and lintable, instead of a warning that drowns real
    unpartitioned-window regressions.
    """
    return F.substring(F.coalesce(F.col(col).cast("string"), F.lit("")), 1, 0)


def opaque_lit(value: str, col: str = "ts"):
    """A string literal the optimizer cannot constant-fold:
    ``concat(value, bounded_window_key(col))`` ≡ ``value`` for every
    row. Single-series fixtures tag rows with
    ``withColumn("series_id", lit("0"))``; every downstream
    ``Window.partitionBy("series_id")`` then loses its key to constant
    folding and runs as an undeclared whole-data single task (the
    WindowExec no-partition warning). With the opaque literal the
    fixture keeps the exact same values AND the same plan shape real
    multi-series data gets — the partitionSpec survives, so the local
    plan is honest about what the 100 TB plan does."""
    return F.concat(F.lit(value), bounded_window_key(col))


def with_global_row_number(
    df: DataFrame,
    *,
    order_col: str = "ts",
    series_col: str = "series_id",
    name: str = "_grn",
) -> DataFrame:
    """Per-series global row number WITHOUT a per-series single-task
    window — the enabler for sharding one giant series across cores.

    Two-pass distributed sort-rank (same shape as
    encoders.distributed_rank): range-repartition on (series, ts) so
    each task holds a contiguous time slice, rank locally, collect one
    (partition, series) count row per slice, prefix-sum on the driver,
    broadcast the offsets back. Driver state is O(partitions × giant
    series) — this path is for a handful of huge series; millions of
    small series should use the ordinary per-series window, which
    already distributes.

    The result is lazy: a cheap join of the internally checkpointed
    rank frame with broadcast offsets, so every consumer recomputes the
    same numbering; callers reading it several times hold it in their
    own :class:`MaterializeScope`.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n_part = shuffle_partitions(spark)
    parted = df.repartitionByRange(
        n_part, F.col(series_col), F.col(order_col)
    ).withColumn("_pid", F.spark_partition_id())
    # eager checkpoint (not cache) before the counts collect: the
    # offsets and the final join must see the SAME range-partition
    # assignment, and boundary sampling / spark_partition_id are not
    # recompute-stable — a cached block lost after the collect could
    # silently recompute under shifted _pid; the checkpoint truncates
    # lineage (lost block = loud failure, never a wrong answer)
    local = checkpoint(
        parted.withColumn(
            "_lrank",
            F.row_number().over(
                Window.partitionBy("_pid", series_col).orderBy(order_col)
            ),
        )
    )
    counts = (
        local.groupBy("_pid", series_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    offsets: dict[tuple, int] = {}
    acc: dict[str, int] = {}
    for row in sorted(counts, key=lambda r: (r[series_col], r["_pid"])):
        sid = row[series_col]
        offsets[(row["_pid"], sid)] = acc.get(sid, 0)
        acc[sid] = acc.get(sid, 0) + row["c"]
    off_df = spark.createDataFrame(
        [(pid, sid, off) for (pid, sid), off in offsets.items()],
        f"_pid int, {series_col} string, _off long",
    )
    return (
        local.join(F.broadcast(off_df), ["_pid", series_col])
        .withColumn(name, F.col("_off") + F.col("_lrank"))
        .drop("_pid", "_lrank", "_off")
    )


def shard_series(
    df: DataFrame,
    *,
    context_rows: int,
    shard_rows: int = 1 << 20,
    order_col: str = "ts",
    series_col: str = "series_id",
) -> DataFrame:
    """Split each series into ``shard_rows``-row time shards, and
    duplicate each shard's last ``context_rows`` rows into the NEXT
    shard as context (flag ``_ctx``) — so any trailing window of up to
    ``context_rows`` lookback computed per (series, _shard) equals the
    global per-series result. Callers compute their windows over
    ``partitionBy(series_col, "_shard")`` and then drop ``_ctx`` rows.

    This is the time-bucket shard + boundary splice promised in
    lags.py's scale notes: one giant series becomes
    ceil(n / shard_rows) independent tasks instead of one. Both
    branches read the row numbering lazily; it recomputes from the
    numbering's internal checkpoint, so nothing stays held.
    """
    if context_rows >= shard_rows:
        raise ValueError("shard_rows must exceed context_rows")
    out = with_global_row_number(
        df, order_col=order_col, series_col=series_col, name="_grn"
    )
    idx = F.col("_grn") - 1
    own = out.withColumn("_shard", (idx / shard_rows).cast("int")).withColumn(
        "_ctx", F.lit(False)
    )
    carried = (
        out.filter(
            ((idx / shard_rows).cast("int"))
            != (((idx + context_rows) / shard_rows).cast("int"))
        )
        .withColumn("_shard", ((idx / shard_rows).cast("int") + 1))
        .withColumn("_ctx", F.lit(True))
    )
    return own.unionByName(carried).drop("_grn")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    *,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the big side gets a random salt in
    [0, n_salts); the small side is replicated once per salt value; the
    join key becomes (key, salt), splitting each hot key's rows across
    ``n_salts`` tasks.

    AQE's skew-join split (enabled in the session factory) handles most
    skew automatically — use this for the residual cases AQE can't
    split (e.g. a single key too hot for one task even after split, or
    deliberately partitioned sinks). Result set is identical to a plain
    join (tested); the salt never leaves this function.
    """
    from pyspark.sql import functions as F

    salted_big = big.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_big.join(salted_small, [key, "_salt"], how).drop("_salt")
