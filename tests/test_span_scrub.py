"""ExactSubstr-approximation repeated-span scrubbing
(textops.scrub_repeated_spans). Engine parity for the registered query
is in tests/parity.py; these tests pin the removal semantics on
planted spans."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SHARED = "one two three four five six seven eight"  # exactly window=8 tokens


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (1, f"intro words here {SHARED} tail a"),
        (2, f"other leading text {SHARED} different end"),
        (3, "completely unrelated document with enough words to count"),
        (4, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shared_window_removed_from_every_carrier(spark, planted):
    from auto_ts_spark.operators.textops import scrub_repeated_spans

    out = (
        scrub_repeated_spans(planted, window=8)
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "clean_text"] == "intro words here tail a"
    assert out.loc[2, "clean_text"] == "other leading text different end"
    assert out.loc[1, "n_tokens_removed"] == 8
    # untouched doc keeps everything
    assert out.loc[3, "n_tokens_removed"] == 0
    assert out.loc[3, "clean_text"].startswith("completely unrelated")
    # NULL text survives with NULL clean_text and zero counts
    assert out.loc[4, ["n_tokens_kept", "n_tokens_removed"]].tolist() == [0, 0]
    assert out.loc[4, "clean_text"] is None


def test_longer_shared_run_fully_covered(spark):
    """A 10-token shared run with window=8 covers all 10 positions
    (three overlapping duplicated windows union to the full run)."""
    from auto_ts_spark.operators.textops import scrub_repeated_spans

    run = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(1, f"x {run} y"), (2, f"p q {run} r")],
        "doc_id long, text string",
    )
    out = scrub_repeated_spans(df, window=8).toPandas().set_index("doc_id")
    assert out.loc[1, "clean_text"] == "x y"
    assert out.loc[1, "n_tokens_removed"] == 10
    assert out.loc[2, "clean_text"] == "p q r"


def test_within_doc_repeat_alone_is_not_cross_doc(spark):
    """min_dup_docs counts DISTINCT documents: a span repeated twice
    inside one doc is kept (the Gopher repetition gate owns that)."""
    from auto_ts_spark.operators.textops import scrub_repeated_spans

    df = spark.createDataFrame(
        [(1, f"{SHARED} junk {SHARED}"), (2, "nothing shared here at all")],
        "doc_id long, text string",
    )
    out = scrub_repeated_spans(df, window=8).toPandas().set_index("doc_id")
    assert out.loc[1, "n_tokens_removed"] == 0


def test_no_partial_agg_below_fingerprint_exchange(spark, planted, monkeypatch):
    """Plan-shape pin for the r11 scale fix: past the compile-time
    size gate the dup aggregation must sit entirely ABOVE the explicit
    fingerprint exchange — the pre-exchange partial-agg maps over
    mostly-unique fingerprints were the r10 in-chain spill source
    (and a measured 172 s vs ~100 s at 5M docs). Physical plans print
    top-down, so every partial_min/partial_max must appear BEFORE
    (shallower than) its REPARTITION_BY_COL exchange in the string.
    Below the gate the fused plan has NO such exchange (bench-scale
    inputs keep the cheaper shape), with results identical either way
    (the planted-fixture tests run the small path)."""
    from auto_ts_spark.operators import textops

    # small path needs real compile-time stats — parquet-backed (an
    # in-memory ExistingRDD reports the unknown-size default, which
    # correctly routes to the scale-safe repartition)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        planted.write.mode("overwrite").parquet(td + "/p")
        small = spark.read.parquet(td + "/p")
        small_plan = (
            textops.scrub_repeated_spans(small, window=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "REPARTITION_BY_COL" not in small_plan, small_plan

    monkeypatch.setattr(textops, "SPAN_REPARTITION_MIN_BYTES", 0)
    plan = (
        textops.scrub_repeated_spans(planted, window=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "REPARTITION_BY_COL" in plan, plan
    for m in re.finditer(r"partial_min\(_doc", plan):
        rest = plan[m.end():]
        assert "REPARTITION_BY_COL" in rest, plan

    # forced-big path returns the same rows as the small path
    big = (
        textops.scrub_repeated_spans(planted, window=8)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    monkeypatch.undo()
    small = (
        textops.scrub_repeated_spans(planted, window=8)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert big.equals(small)

    # and the degenerate no-duplication frame still keeps every token
    out = (
        textops.scrub_repeated_spans(
            planted.filter(F.col("doc_id") >= 3), window=8
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert int(out.loc[3, "n_tokens_removed"]) == 0


def test_apply_mode_preserves_other_columns(spark, planted):
    from auto_ts_spark.operators.textops import scrub_repeated_spans

    df = planted.withColumn("src", F.lit("web"))
    out = scrub_repeated_spans(df, window=8, mode="apply")
    assert set(out.columns) == {"doc_id", "text", "src"}
    pdf = out.toPandas().set_index("doc_id")
    assert pdf.loc[1, "text"] == "intro words here tail a"
    assert pdf.loc[4, "text"] is None  # NULL text passes through


def test_curate_scrub_spans_stage(spark, planted):
    from auto_ts_spark.corpus import curate

    out, counts = curate(
        planted.filter(F.col("text").isNotNull()),
        scrub_spans=True,
        quality=False,
        redact=False,
        dedup_exact=False,
        near_dedup=False,
        stage_counts=True,
    )
    assert counts["scrub_spans"] == 3
    texts = {r.doc_id: r.text for r in out.collect()}
    assert texts[1] == "intro words here tail a"


def test_empty_and_whitespace_only_docs_do_not_crash(spark):
    """Regression: sequence(1, size) is DESCENDING [1, 0] on a
    zero-token doc and element_at(empty, 0) raised
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT on Spark 4.1.2. Empty and
    whitespace-only texts (reachable after boilerplate removal) must
    come back with empty clean_text and zero counts."""
    from auto_ts_spark.operators.textops import scrub_repeated_spans

    rows = [
        (1, ""),
        (2, "   \t \n  "),
        (3, f"pad pad pad {SHARED} trailing bits"),
        (4, f"lead in words {SHARED} more padding here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = scrub_repeated_spans(df, window=8).toPandas().set_index("doc_id")
    assert out.loc[1, "clean_text"] == ""
    assert out.loc[2, "clean_text"] == ""
    assert out.loc[1, ["n_tokens_kept", "n_tokens_removed"]].tolist() == [0, 0]
    assert out.loc[2, ["n_tokens_kept", "n_tokens_removed"]].tolist() == [0, 0]
    # the planted shared window is still scrubbed alongside
    assert out.loc[3, "n_tokens_removed"] == 8

    # apply mode over the same frame must also survive
    applied = (
        scrub_repeated_spans(df, window=8, mode="apply")
        .toPandas()
        .set_index("doc_id")
    )
    assert applied.loc[1, "text"] == ""
    assert applied.loc[2, "text"] == ""


def test_token_persist_gate_and_release_contract(spark):
    """r14: above the compile-time input-size gate the operator may
    persist the token frame (one tokenize pass instead of two) — but
    ONLY in a caller's MaterializeScope, which releases it on exit;
    without a scope nothing is ever pinned. The gate reads the
    optimizer estimate (zero jobs), so a tiny filtered range with a
    huge pre-filter estimate exercises the big branch with 4 real
    rows."""
    from auto_ts_spark.operators.partitioning import MaterializeScope
    from auto_ts_spark.operators.textops import scrub_repeated_spans

    big_est = (
        spark.range(2_000_000_000)  # ~16 GB estimate, no CBO filter stats
        .filter("id < 4")
        .select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") < 2, F.lit(f"lead {SHARED} tail")
            ).otherwise(F.lit("plain unrelated words only")).alias("text"),
        )
    )
    sc = spark.sparkContext

    def stored() -> dict:
        # by RDD id: other suites' dead checkpoint blocks get cleaned
        # asynchronously, so only entries new to this test count
        return {i.id(): i.storageLevel() for i in sc._jsc.sc().getRDDStorageInfo()}

    # a caller scope -> DISK_ONLY token persist, released on exit
    base = stored()
    with MaterializeScope() as scope:
        out = (
            scrub_repeated_spans(big_est, window=8, scope=scope)
            .toPandas()
            .set_index("doc_id")
        )
        new = {k: v for k, v in stored().items() if k not in base}
        assert len(new) == 1
        lvl = next(iter(new.values()))
        assert lvl.useDisk() and not lvl.useMemory()  # DISK_ONLY
    assert not (set(stored()) & set(new))
    # semantics unchanged by the persist: docs 0 and 1 are fully
    # identical 10-token texts, so every window is duplicated and all
    # 10 tokens are scrubbed
    assert out.loc[0, "n_tokens_removed"] == 10
    assert out.loc[1, "n_tokens_removed"] == 10
    assert out.loc[2, "n_tokens_removed"] == 0

    # no scope -> nothing pinned, even above the gate
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    out2 = scrub_repeated_spans(big_est, window=8).toPandas().set_index("doc_id")
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(after) == len(before)
    assert out2.loc[0, "n_tokens_removed"] == 10

    # small input (tiny KNOWN estimate — range stats; a createDataFrame
    # LogicalRDD has unknown stats and takes the scale-safe big branch)
    # -> gate off, nothing persisted
    small = spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit(f"a {SHARED} b").alias("text")
    )
    base = stored()
    with MaterializeScope() as scope:
        scrub_repeated_spans(small, window=8, scope=scope).collect()
        assert not (set(stored()) - set(base))
