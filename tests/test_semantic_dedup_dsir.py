"""SemDeDup semantic dedup + DSIR importance-weight selection.

Engine parity for the registered queries lives in tests/parity.py;
these tests cover the parts the oracle can't see: the IVF-quantizer
blocking path (non-deterministic centroids w.r.t. SQL, deterministic
w.r.t. seed) and the DSIR weight semantics (target-lookalike docs rank
above off-target docs; identical corpora weigh zero).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _planted_vectors(spark):
    """Three well-separated directions in R^4; ids 0-2 are near-dups of
    direction A (cosine ~1), 10-11 near-dups of B, 20 a singleton."""
    rows = [
        (0, [1.0, 0.01, 0.0, 0.0]),
        (1, [1.0, 0.02, 0.0, 0.0]),
        (2, [0.99, 0.0, 0.01, 0.0]),
        (10, [0.0, 1.0, 0.01, 0.0]),
        (11, [0.0, 1.0, 0.0, 0.02]),
        (20, [0.0, 0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_ivf_blocking_matches_planted_groups(spark):
    from auto_ts_spark.operators.similarity import semantic_dedup

    df = _planted_vectors(spark)
    stats: dict = {}
    out = semantic_dedup(
        df, threshold=0.95, n_centroids=3, sample_size=10, cc_stats=stats
    ).toPandas()
    by_id = out.set_index("vec_id")
    # group A: {0,1,2} one cluster, keeper = 0
    assert set(by_id.index) == {0, 1, 2, 10, 11}
    assert len(set(by_id.loc[[0, 1, 2], "cluster_id"])) == 1
    assert bool(by_id.loc[0, "is_keep"]) and not bool(by_id.loc[1, "is_keep"])
    assert (by_id.loc[[0, 1, 2], "cluster_size"] == 3).all()
    # group B: {10,11}, keeper = 10; singleton 20 never appears
    assert len(set(by_id.loc[[10, 11], "cluster_id"])) == 1
    assert bool(by_id.loc[10, "is_keep"]) and not bool(by_id.loc[11, "is_keep"])
    assert stats["rounds"] >= 1


def test_semantic_dedup_block_col_equals_ivf_on_separated_data(spark):
    """When blocks are well separated, quantizer blocking and an exact
    precomputed block column produce the same dedup decisions."""
    from auto_ts_spark.operators.similarity import semantic_dedup

    df = _planted_vectors(spark).withColumn(
        "grp", (F.col("vec_id") / 10).cast("int")
    )
    via_col = (
        semantic_dedup(df.select("vec_id", "embedding", "grp"),
                       threshold=0.95, block_col="grp")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    via_ivf = (
        semantic_dedup(df.select("vec_id", "embedding"),
                       threshold=0.95, n_centroids=3, sample_size=10)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert via_col.equals(via_ivf)


def test_dsir_identical_corpora_weighs_zero(spark):
    from auto_ts_spark.operators.dsir import dsir_log_weights

    docs = spark.createDataFrame(
        [(1, "spark joins shuffle data"), (2, "filter scan parquet")],
        "doc_id long, text string",
    )
    out = dsir_log_weights(docs, docs, n_buckets=64).toPandas()
    assert (out["log_weight"] == 0.0).all()
    # n_grams = unigrams + bigrams = (4+3) and (3+2)
    assert sorted(out["n_grams"]) == [5, 7]


def test_dsir_upweights_target_lookalikes(spark):
    from auto_ts_spark.operators.dsir import dsir_log_weights, select_top_weighted

    raw = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "stochastic gradient descent converges on convex losses"),
            (3, "gradient descent with momentum converges faster"),
            (4, "pack my box with five dozen liquor jugs"),
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [
            (100, "gradient descent optimizes convex objectives"),
            (101, "stochastic optimization with gradient methods"),
        ],
        "doc_id long, text string",
    )
    w = dsir_log_weights(raw, target, n_buckets=128)
    pdf = w.toPandas().set_index("doc_id")
    assert pdf.loc[2, "log_weight"] > pdf.loc[1, "log_weight"]
    assert pdf.loc[3, "log_weight"] > pdf.loc[4, "log_weight"]
    top = select_top_weighted(w, 2).toPandas()
    assert set(top["doc_id"]) == {2, 3}


def test_dsir_weight_is_order_independent(spark):
    """Repartitioning the corpus cannot change a weight: the decimal
    accumulation is exact, so any aggregation order agrees."""
    from auto_ts_spark.operators.dsir import dsir_log_weights

    raw = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("token"),
            (F.col("id") % 7).cast("string"),
            (F.col("id") % 3).cast("string"),
            F.lit("tail words here"),
        ).alias("text"),
    )
    target = raw.filter(F.col("doc_id") % 2 == 0)
    a = dsir_log_weights(raw, target, n_buckets=32).toPandas()
    b = dsir_log_weights(raw.repartition(7), target, n_buckets=32).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_curate_semantic_method_drops_meaning_duplicates(spark):
    """curate(near_dedup_method='semantic') keeps one doc per
    embedding near-dup group while lexical stages stay off."""
    from auto_ts_spark.corpus import curate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta words one"),
            (2, "totally different phrasing same idea"),
            (3, "an unrelated document about parquet files"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.01, 0.0]),
            (2, [1.0, 0.02, 0.0]),  # same meaning as 1, no shared words
            (3, [0.0, 0.0, 1.0]),
        ],
        "doc_id long, embedding array<double>",
    )
    out = curate(
        docs,
        quality=False,
        redact=False,
        dedup_exact=False,
        near_dedup_method="semantic",
        embeddings=emb,
        semantic_threshold=0.95,
        semantic_centroids=2,
    )
    kept = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert kept == [1, 3]


def test_curate_semantic_without_embeddings_raises(spark):
    from auto_ts_spark.corpus import curate

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="embeddings"):
        curate(
            docs,
            quality=False,
            redact=False,
            dedup_exact=False,
            near_dedup_method="semantic",
        )


def test_dsir_gumbel_select_is_seed_deterministic(spark):
    from auto_ts_spark.operators.dsir import (
        dsir_log_weights,
        gumbel_select,
        select_top_weighted,
    )

    raw = spark.range(0, 40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("word"), (F.col("id") % 5).cast("string"), F.lit("x y z")
        ).alias("text"),
    )
    target = raw.filter(F.col("doc_id") % 5 < 2)
    w = dsir_log_weights(raw, target, n_buckets=64)
    a = sorted(r.doc_id for r in gumbel_select(w, 10, seed=7).collect())
    b = sorted(r.doc_id for r in gumbel_select(w, 10, seed=7).collect())
    c = sorted(r.doc_id for r in gumbel_select(w, 10, seed=8).collect())
    assert a == b and len(a) == 10
    assert a != c  # a different seed perturbs differently
    # temperature -> 0 recovers the deterministic top slice up to
    # tie order (equal weights break by noise vs id): the multiset of
    # selected weights must agree exactly
    cold = sorted(
        r.log_weight for r in gumbel_select(w, 10, temperature=1e-9).collect()
    )
    det = sorted(r.log_weight for r in select_top_weighted(w, 10).collect())
    assert cold == det


# ----------------------------------------------------- r8 cell bounding


def _spread_vectors(spark, n=120, dim=4):
    """n deterministic distinct vectors spread over R^dim."""
    rows = [
        (i, [float((i * 31 + d * 7) % 97) / 97.0 + (0.001 * i) for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_assign_bounded_caps_cells_and_keeps_rows(spark):
    """Cells must never exceed max_cell_size for distinct vectors
    (recursive sub-quantization), and splitting must never drop rows —
    the r8 fix for the k=1024 quantizer cap that made SemDeDup pair
    work quadratic past ~524k vectors."""
    from auto_ts_spark.operators.similarity import ivf_assign_bounded

    df = _spread_vectors(spark, n=120)
    out = ivf_assign_bounded(
        df, n_centroids=2, max_cell_size=10, max_levels=3
    )
    sizes = [r["n"] for r in out.groupBy("cell").agg(F.count("*").alias("n")).collect()]
    assert max(sizes) <= 10, sizes
    assert out.count() == 120
    assert sorted(r.id for r in out.select("id").collect()) == list(range(120))


def test_ivf_assign_bounded_fallback_keeps_identical_vectors_together(spark):
    """Near-identical vectors force the vector-hash split fallback
    (the sub-quantizer can't separate them) — rows survive, and
    SAME-VALUED vectors always share a cell (exact copies are never
    separated by the split: hash of equal values is equal)."""
    from auto_ts_spark.operators.similarity import ivf_assign_bounded

    base = [1.0, 2.0, 3.0, 4.0]
    rows = [(i, base) for i in range(30)] + [
        (100 + i, [1.0 + 1e-12 * i, 2.0, 3.0, 4.0]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ivf_assign_bounded(df, n_centroids=2, max_cell_size=8, max_levels=2)
    assert out.count() == 60
    # all 30 exact copies of `base` landed in ONE cell
    cells = (
        out.filter(F.col("id") < 100).select("cell").distinct().count()
    )
    assert cells == 1


def test_ivf_assign_bounded_scope_releases_persists(spark):
    """The per-level persists live in the caller's MaterializeScope:
    ZERO storage entries survive the scope's exit — including when the
    body raises — so a direct consumer can't leak them for the
    session."""
    from auto_ts_spark.operators.partitioning import MaterializeScope
    from auto_ts_spark.operators.similarity import ivf_assign_bounded

    sc = spark.sparkContext

    def stored_ids() -> set:
        # id SET, not count: other suites' dead checkpoint blocks get
        # cleaned asynchronously, so a raw count races the cleaner
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    base = stored_ids()
    df = _spread_vectors(spark, n=120)
    with MaterializeScope() as scope:
        out = ivf_assign_bounded(df, n_centroids=2, max_cell_size=10, scope=scope)
        assert out.count() == 120
        new = stored_ids() - base
        assert new  # the final level IS persisted inside the block
    assert not (stored_ids() & new)
    # exception path: the exit must still release
    with pytest.raises(RuntimeError):
        with MaterializeScope() as scope:
            out = ivf_assign_bounded(
                df, n_centroids=2, max_cell_size=10, scope=scope
            )
            out.count()
            new = stored_ids() - base
            raise RuntimeError("boom")
    assert not (stored_ids() & new)


def test_ivf_assign_bounded_none_handles_self_contained(spark):
    """Without a caller scope nothing may stay in the cache manager:
    the result is checkpointed and self-contained, correct after an
    explicit clearCache, and adds no cache entries."""
    from auto_ts_spark.operators.similarity import ivf_assign_bounded

    sc = spark.sparkContext

    def stored_ids() -> set:
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    df = _spread_vectors(spark, n=120)
    base = stored_ids()
    out = ivf_assign_bounded(df, n_centroids=2, max_cell_size=10)
    # at most the eager localCheckpoint block remains — owned by `out`
    # (ContextCleaner drops it on GC), NOT a cache entry that survives
    # the frame; every internal per-level persist must already be gone
    assert len(stored_ids() - base) <= 1
    spark.catalog.clearCache()  # must not invalidate the result
    assert out.count() == 120
    sizes = [
        r["n"] for r in out.groupBy("cell").agg(F.count("*").alias("n")).collect()
    ]
    assert max(sizes) <= 10
    # dropping the frame releases the checkpoint block too (bounded
    # wait: the ContextCleaner is asynchronous)
    import gc
    import time

    del out
    for _ in range(20):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if not (stored_ids() - base):
            break
        time.sleep(0.25)
    assert not (stored_ids() - base)


def test_semantic_dedup_exact_collapse_component_equivalence(spark):
    """A large same-valued group plus near-dup satellites: the r8
    star-pair collapse must produce the same components/keepers as
    naive pairwise — one cluster, min id keeps, correct size."""
    from auto_ts_spark.operators.similarity import semantic_dedup

    group = [(i, [5.0, 0.0, 0.0, 0.0]) for i in range(3, 23)]  # 20 copies
    sats = [(1, [5.0, 0.05, 0.0, 0.0]), (2, [5.0, 0.0, 0.04, 0.0])]
    lone = [(90, [0.0, 0.0, 0.0, 9.0])]
    df = spark.createDataFrame(
        group + sats + lone, "vec_id long, embedding array<double>"
    )
    # n_centroids=1: one cell, so the test isolates the collapse/star
    # machinery (at 4 distinct vectors the auto-sized quantizer gives
    # every vector its own cell and nothing would ever pair)
    out = semantic_dedup(df, threshold=0.99, n_centroids=1).collect()
    got = {r.vec_id: (r.cluster_id, r.cluster_size, r.is_keep) for r in out}
    # satellites 1,2 pair with every copy (cos > 0.99); 90 pairs with
    # nothing -> one 22-member component, keeper = min id = 1
    assert set(got) == set(range(1, 23))
    assert all(cid == 1 and size == 22 for cid, size, _ in got.values())
    assert [i for i, (_, _, keep) in got.items() if keep] == [1]


def test_semantic_dedup_zero_vectors_never_pair(spark):
    """Zero-norm vectors have NULL cosine with everything — they must
    appear in no cluster, including against other zero vectors (the
    collapse stage must not star-pair them)."""
    from auto_ts_spark.operators.similarity import semantic_dedup

    rows = [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(5)] + [
        (10, [1.0, 0.0, 0.0, 0.0]),
        (11, [1.0, 0.001, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.9, n_centroids=1).collect()
    assert sorted(r.vec_id for r in out) == [10, 11]


def test_curate_rejects_bad_integer_dsir_keep(spark):
    from auto_ts_spark.corpus import curate

    docs = spark.createDataFrame(
        [(i, f"some words here {i}") for i in range(10)],
        "doc_id long, text string",
    )
    for bad in (0, -3, True):
        with pytest.raises(ValueError, match="dsir_keep"):
            curate(
                docs,
                dsir_target=docs.limit(3),
                dsir_keep=bad,
                quality=False,
                redact=False,
                dedup_exact=False,
                near_dedup=False,
            )
