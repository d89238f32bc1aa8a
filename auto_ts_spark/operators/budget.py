"""Token-budget corpus selection — "take the best documents until the
budget is spent", the step that turns a scored corpus into a training
set of a target size (every published data recipe ends with one:
N tokens per source at some mixing ratio).

Selection is deterministic: documents are ranked by a priority column
(quality score, length, …) with the document id as the tie-break, and
kept while the running token total stays within the budget. Two
execution shapes:

- ``by=<key>`` (per-source budgets): an ordinary partitioned window
  cumsum — fully distributed, one shuffle on the key.
- ``by=None`` (one global budget): a global ordered cumsum. A naive
  ``Window.orderBy`` with no partition is a single-task sort (the
  exact anti-pattern ``tests/test_plan_hygiene.py`` lints against), so
  the global path uses the two-pass distributed shape from
  ``partitioning.with_global_row_number``: range-partition on the
  priority order, cumsum locally per slice, collect ONE scalar per
  slice, prefix-sum those on the driver, broadcast the offsets back.
  Driver state is O(partitions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from auto_ts_spark.functions import text as TX


def _ordered_cumsum_global(
    df: DataFrame,
    value_col: str,
    order: list[Column],
    name: str,
    *,
    assert_unique_order: bool = False,
    assert_msg: str = "duplicate order keys in global ordered cumsum",
) -> DataFrame:
    """Global ordered prefix sum without a single-task sort — the same
    two-pass shape as ``encoders.distributed_rank`` and
    ``partitioning.with_global_row_number`` (range-partition on the
    order, local window per slice, driver prefix over one scalar per
    slice, broadcast the offsets back), specialized to a sum.

    Totals are carried in the value column's own numeric family:
    integral token columns prefix-sum as longs end to end (Python ints
    on the driver — cumulative corpus totals past 2^53 would lose
    exactness as doubles, and the greedy boundary document with it),
    while fractional token-estimate columns stay doubles (they must
    not truncate). NULL slice totals count 0 (a slice whose values are
    all NULL contributes nothing).

    ``assert_unique_order=True`` makes tied order keys a loud runtime
    error instead of a silent arbitrary ordering: ties co-locate under
    ``repartitionByRange`` (equal keys hash to the same range slice),
    so ``rank() != row_number()`` over the SAME per-slice window the
    cumsum already sorts detects every tie with no extra shuffle; the
    check is woven into the cumsum column itself (``assert_true``
    guarding the projection) so column pruning cannot elide it.

    The slice-cumsum intermediate is checkpointed, not cached:
    range-boundary sampling and ``spark_partition_id`` are not
    recompute-stable, so a cached block lost after the offsets were
    collected could recompute under SHIFTED slice ids and silently
    corrupt the prefix sums. A checkpoint truncates lineage — a lost
    block is a loud job failure, never a silent wrong answer — and its
    storage is released by the ContextCleaner once the result frame is
    unreferenced, so repeated calls do not pin corpora for the session
    lifetime the way an explicit never-unpersisted cache would."""
    from auto_ts_spark.operators.partitioning import checkpoint, shuffle_partitions

    spark = df.sparkSession
    n_part = shuffle_partitions(spark)
    integral = dict(df.dtypes)[value_col] in ("tinyint", "smallint", "int", "bigint")
    num = int if integral else float
    parted = df.repartitionByRange(n_part, *order).withColumn(
        "_pid", F.spark_partition_id()
    )
    wspec = Window.partitionBy("_pid").orderBy(*order)
    lcum = F.sum(value_col).over(
        wspec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if assert_unique_order:
        check = F.assert_true(
            F.rank().over(wspec) == F.row_number().over(wspec),
            F.lit(assert_msg),
        )
        # assert_true is NULL whenever it does not throw, so the
        # otherwise-branch is unreachable; wrapping keeps the check
        # inside the one column every consumer reads
        lcum = F.when(check.isNull(), lcum).otherwise(lcum)
    local = checkpoint(parted.withColumn("_lcum", lcum))
    totals = {
        r["_pid"]: num(r["t"] if r["t"] is not None else 0)
        for r in local.groupBy("_pid").agg(F.sum(value_col).alias("t")).collect()
    }
    offsets, acc = {}, num(0)
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_df = spark.createDataFrame(
        [(int(p), num(o)) for p, o in offsets.items()],
        f"_pid int, _off {'bigint' if integral else 'double'}",
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(name, F.col("_lcum") + F.col("_off"))
        .drop("_pid", "_lcum", "_off")
    )


def budget_select(
    df: DataFrame,
    token_budget: int,
    *,
    by: str | None = None,
    priority_col: str | None = None,
    token_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cum_col: str | None = None,
    extra_tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Keep the highest-priority documents whose running token total
    stays within ``token_budget`` (per ``by`` key, or globally when
    ``by`` is None). A document that would push the total past the
    budget is dropped, as is everything ranked after it that doesn't
    fit — the greedy prefix rule every budgeted-corpus recipe uses.

    ``priority_col`` orders descending (ties broken by ascending
    ``id_col``, then ``extra_tiebreak`` columns — pass the mixture
    copy counter here when budgeting an upsampled corpus, where copies
    share ``id_col`` and would otherwise tie). ``token_col`` supplies
    pre-computed counts; NULL values count 0 tokens (whether supplied
    or derived — a NULL must not poison the running sum for everything
    ranked after it). ``keep_cum_col`` optionally exposes the running
    total, always as a double so the two execution shapes agree on
    schema."""
    work = df
    derived_tokens = token_col is None
    if derived_tokens:
        # suffix avoids clobbering a caller column of the same name
        token_col = "_n_tokens_derived"
        while token_col in df.columns:
            token_col += "_"
        work = work.withColumn(
            token_col, TX.token_count(F.col(text_col)).cast("long")
        )
    # normalize once: NULL-token rows cost 0 in BOTH execution shapes
    tok = "_tok_norm"
    while tok in df.columns:
        tok += "_"
    work = work.withColumn(tok, F.coalesce(F.col(token_col), F.lit(0)))
    order = [F.col(priority_col).desc()] if priority_col else []
    order += [F.col(id_col).asc()] + [F.col(c).asc() for c in extra_tiebreak]
    cum = "_cum_tokens"
    while cum in df.columns:
        cum += "_"
    if by is not None:
        w = (
            Window.partitionBy(by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        work = work.withColumn(cum, F.sum(tok).over(w))
    else:
        work = _ordered_cumsum_global(work, tok, order, cum)
    # filter on the UNCAST cum (exact long comparison on the per-key
    # path); the double cast applies only to the exposed column so the
    # two execution shapes agree on output schema
    out = work.filter(F.col(cum) <= token_budget)
    if keep_cum_col:
        out = out.withColumn(cum, F.col(cum).cast("double")).withColumnRenamed(
            cum, keep_cum_col
        )
    else:
        out = out.drop(cum)
    out = out.drop(tok)
    if derived_tokens:
        out = out.drop(token_col)
    return out
