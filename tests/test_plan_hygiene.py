"""Physical-plan lint over the whole query surface: the properties that
keep plans scalable must hold for EVERY queries() entry, not just the
ones we eyeballed with .explain().

- no accidental cartesian products (brute-force ANN is the one
  intentional crossJoin — its query side is a bounded broadcast);
- dimension-table joins broadcast (no sort-merge join against nation/
  supplier-sized inputs at these cardinalities);
- scans prune columns: no query may read every column of lineitem
  (ReadSchema must be narrower than the table).
"""

import re

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"

# queries whose plan legitimately contains a cartesian/broadcast nested
# loop:
# - embedding_topk: exact brute-force scoring over a broadcast query set
# - class_weights: crossJoin against a broadcast 1-ROW scalar aggregate
#   (n, k totals) — constant cost at any scale
# - seasonal_decompose: the per-series grand-mean equi-join degenerates
#   to a broadcast NLJ on the single-series fixture because series_id
#   is a literal and constant-folding erases the join key; with real
#   multi-series keys it plans as a hash join (covered by the
#   multi-series leakage test)
# - lsh_ann_recall / ivf_ann_recall: contain the brute-force exact
#   reference (same broadcast crossJoin as embedding_topk) plus a
#   1-row × 1-row scalar-aggregate crossJoin for the recall ratio
# - snaive_forecast_intervals: like seasonal_decompose, the joins to
#   the 1-row last-ts and residual-quantile aggregates degenerate to
#   broadcast NLJs on the single-series fixture (series_id literal is
#   constant-folded out of the key); both sides are single-row
#   broadcast aggregates, constant cost at any scale
CROSS_OK = {
    "embedding_topk",
    "class_weights",
    "seasonal_decompose",
    "lsh_ann_recall",
    "ivf_ann_recall",
    "snaive_forecast_intervals",
}


def _plan(spark, name: str) -> str:
    df = E.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_no_accidental_cartesian(spark, name):
    plan = _plan(spark, name)
    if name in CROSS_OK:
        return
    assert "CartesianProduct" not in plan, f"{name} has a cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} has a nested-loop join (non-equi or missing key)"
    )


def _window_lines(plan: str) -> list[str]:
    return [
        ln
        for ln in plan.splitlines()
        if re.search(r"(?:^|\s|\+\- )Window(?:Exec)? \[", ln)
    ]


def _window_groups(line: str) -> list[str]:
    """Top-level ``[...]`` groups on a plan node line. A Window node
    prints ``Window [funcs], [partitionSpec], [orderSpec]``; either
    spec is omitted entirely when empty, so an unpartitioned-but-
    ordered window (the runtime-warning case) shows 2 groups whose
    LAST group is an order spec (``ASC``/``DESC`` tokens), while a
    partitioned-unordered window shows 2 groups without them."""
    rest = line.split("Window ", 1)[1]
    groups, depth, buf = [], 0, []
    for ch in rest:
        if ch == "[":
            if depth == 0:
                buf = []
            depth += 1
            if depth == 1:
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(buf))
                continue
        if depth >= 1:
            buf.append(ch)
    return groups


def _has_empty_partition_spec(line: str) -> bool:
    groups = _window_groups(line)
    if len(groups) >= 3:
        return False
    if len(groups) < 2:
        return True  # funcs only — no partition, no order
    last = groups[-1]
    return " ASC" in last or " DESC" in last


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_no_unpartitioned_window(spark, name):
    """Every ordered WindowExec must carry a non-empty partitionSpec —
    the 'No Partition Defined … single partition' warning must never
    fire. Bounded frames that genuinely need one global ordering
    declare it via operators.partitioning.bounded_window_key (a
    non-foldable constant key the optimizer keeps), so any empty spec
    here is an accidental whole-data single-task sort."""
    plan = _plan(spark, name)
    for ln in _window_lines(plan):
        assert not _has_empty_partition_spec(ln), (
            f"{name}: Window with empty partitionSpec: {ln.strip()[:200]}"
        )


def test_lineitem_scans_prune_columns(spark):
    full_width = len(E.load_table(spark, SF, "lineitem").columns)
    for name in ("tpch_pricing_summary", "topk_suppliers"):
        plan = _plan(spark, name)
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            cols = [c for c in m.group(1).split(",") if c]
            assert len(cols) < full_width, f"{name} scans all columns: {m.group(1)}"


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "topk_suppliers")
    assert "BroadcastHashJoin" in plan
    plan = _plan(spark, "revenue_rollup")
    assert "BroadcastHashJoin" in plan


def test_quality_gate_single_tokenizer_after_pushdown(spark):
    """The keep predicate must stay ONE self-contained let-bound
    expression: predicate pushdown substitutes projection aliases with
    no cheapness guard, so a gate built over staged metric columns
    re-tokenizes once per referenced metric (sf1 sweep measured the
    O(n^2) variant of this class of bug at >40 min for winnowing).
    The pruned count plan must contain exactly one tokenizer split."""
    from pyspark.sql import functions as F

    from auto_ts_spark.operators.textops import quality_filter

    docs = E.load_table(spark, SF, "documents")
    plan = (
        quality_filter(docs)
        .filter("keep")
        .groupBy()
        .count()
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_winnow_fingerprints_single_hash_chain(spark):
    """winnow's window-min lambda must reference a LambdaVariable, not
    re-evaluate the tokenize->shingle->md5 chain per window position:
    exactly one md5 call in the optimized plan."""
    from auto_ts_spark.operators.dedup import winnow_fingerprints

    docs = E.load_table(spark, SF, "documents")
    plan = (
        winnow_fingerprints(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("md5(") == 1, plan
    assert plan.count("split(") == 1, plan


def test_lm_scoring_single_corpus_scan(spark):
    """perplexity_score must scan (and therefore tokenize) the scored
    corpus ONCE — the pair explode is zip_with-built from one staged
    token array, never a posexplode over a kept array or a self-join.

    Raw split() counts are useless here: a cached LM table's
    InMemoryRelation.toString() dumps its build plan verbatim, so the
    plan STRING can contain the reference-side tokenizers even though
    they never re-execute. The corpus-side scan is the only FileScan
    that reads ``doc_id`` (the LM tables only read text+lang), so pin
    on that."""
    from pyspark.sql import functions as F

    from auto_ts_spark.operators import lm_quality as LQ

    docs = E.load_table(spark, SF, "documents")
    lm = LQ.train_ngram_lm(docs.filter(F.col("lang") == "en"))
    plan = (
        LQ.perplexity_score(docs, lm)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    corpus_scans = [
        ln
        for ln in plan.splitlines()
        if "Relation" in ln and "parquet" in ln and "doc_id" in ln
    ]
    assert len(corpus_scans) == 1, plan


def test_classifier_features_single_scan(spark):
    """hashed_features must scan+tokenize the corpus ONCE: per-doc
    totals re-aggregate the bucket counts (not the raw gram stream),
    so the optimized plan has one tokenizer split and one md5."""
    from auto_ts_spark.operators.quality_classifier import hashed_features

    docs = E.load_table(spark, SF, "documents")
    plan = (
        hashed_features(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan
    assert plan.count("md5(") == 1, plan


def test_scoring_join_never_broadcasts_actuals(spark):
    """r9 probe finding: compile-time stats for generated inputs
    (range -> sequence/explode) keep the tiny pre-explode estimate, so
    Spark chose a broadcast build over a 100M-row actuals panel and
    OOM'd the driver. score_predictions must plan a NON-broadcast join
    for the panel even when the estimate says 'small'."""
    from pyspark.sql import functions as F

    from auto_ts_spark.models.registry import score_predictions

    panel = (
        spark.range(50)
        .select(
            F.concat(F.lit("s"), F.col("id")).alias("series_id"),
            F.explode(F.sequence(F.lit(0), F.lit(39))).alias("_t"),
        )
        .select(
            "series_id",
            F.expr("date_add(date '2023-01-01', _t)").cast("timestamp").alias("ts"),
            (F.col("_t") * 1.0).alias("y"),
        )
    )
    preds = panel.select(
        "series_id", "ts", F.lit(0).alias("fold"), F.col("y").alias("yhat"),
        F.lit("m").alias("model"),
    )
    plan = (
        score_predictions(preds, panel)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the preds<->actuals equi-join must not build a broadcast side
    # (AQE may still convert at RUNTIME from exact stats - this pins
    # the compile-time plan, which is what the misestimate corrupted)
    head = plan.split("HashAggregate")[0]
    assert "BroadcastHashJoin" not in head, head


def test_cache_if_costly_gates_on_input_size(spark):
    """The size-gated cache helper: a small input estimate must NOT
    cache (recompute beats the InMemoryRelation round-trip — the r13
    quiet-machine A/B), a large one must. Zero jobs either way: the
    decision reads the compile-time sizeInBytes estimate only."""
    from auto_ts_spark.operators.partitioning import cache_if_costly

    small_in = spark.range(100)
    small = cache_if_costly(small_in.groupBy().count(), small_in)
    assert small.storageLevel.useMemory is False

    # range's estimate is 8 bytes/row: 2e9 rows ≈ 16 GB >> the gate
    big_in = spark.range(2_000_000_000)
    big = cache_if_costly(big_in.groupBy().count(), big_in)
    try:
        assert big.storageLevel.useMemory is True
    finally:
        big.unpersist()
