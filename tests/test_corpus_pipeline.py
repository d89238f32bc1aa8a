"""End-to-end corpus curation chain (auto_ts_spark/corpus.py)."""

from pyspark.sql import functions as F

from auto_ts_spark.corpus import curate
from auto_ts_spark.io.sources import load_table


def test_curate_full_chain_on_testdata(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter("doc_id % 53 = 0")
    corpus = docs.filter("doc_id % 53 != 0")
    out, counts = curate(
        corpus,
        benchmark=bench,
        mixture={f"src{i}": 1.0 for i in range(10)},
        token_budget=400,
        budget_by="source",
        stage_counts=True,
    )
    # monotone shrinkage through the filter stages (mixture at rate 1.0
    # and the budget can only keep or drop)
    order = [
        "input", "quality", "redact", "dedup_exact", "near_dedup",
        "decontaminate", "mixture", "budget",
    ]
    assert list(counts) == order
    for a, b in zip(order, order[1:]):
        if b == "redact":
            assert counts[b] == counts[a]  # redaction never drops rows
        else:
            assert counts[b] <= counts[a], (a, b, counts)
    assert counts["budget"] > 0
    # schema passes through plus the mixture copy counter, and the
    # result is deterministic
    assert out.columns == corpus.columns + ["copy_n"]
    again = curate(
        corpus,
        benchmark=bench,
        mixture={f"src{i}": 1.0 for i in range(10)},
        token_budget=400,
        budget_by="source",
    )
    assert out.exceptAll(again).count() == 0
    assert again.exceptAll(out).count() == 0


def test_curate_stream_rejects_batch_only_stage_kwargs(spark):
    """r9 pin (r7 verdict #7): a batch curate() recipe ported to
    curate_stream must fail LOUDLY on corpus-wide stages (near-dup,
    perplexity/classifier gates, DSIR, mixture, budget, span scrub)
    instead of silently running the weaker streaming subset — the
    error names the stream -> land -> batch-curate handoff."""
    import pytest as _pytest

    from auto_ts_spark.corpus import curate_stream

    docs = spark.createDataFrame(
        [(1, "some words here")], "doc_id long, text string"
    )
    for kw in (
        {"near_dedup": True},
        {"near_dedup_method": "semantic"},
        {"perplexity_ref": docs},
        {"classifier_ref": docs},
        {"dsir_target": docs},
        {"mixture": {"a": 1.0}},
        {"token_budget": 100},
        {"scrub_spans": True},
        {"benchmark": docs},
    ):
        with _pytest.raises(TypeError, match="batch-only|curate\\(\\)"):
            curate_stream(docs, **kw)


def test_curate_stream_equals_batch(spark, tmp_path):
    """The streaming ingestion chain (inline quality gate → PII scrub
    → watermarked fingerprint dedup) must produce the same surviving
    document set as the batch form on identical input."""
    import pandas as pd

    from auto_ts_spark.corpus import curate_stream
    from auto_ts_spark.streaming.ops import run_to_completion

    good = (
        "the quick brown fox jumps over the lazy dog and runs for the hills "
        "while it keeps a steady pace in the warm morning light of a clear day "
    ) * 2
    rows = []
    base = pd.Timestamp("2024-01-01")
    for i in range(6):
        text = {
            0: good + " contact a@b.io today",
            1: good + " contact a@b.io today",  # exact dup of 0
            2: good,
            3: "too short",  # fails the gate
            4: good + " call 555-123-4567 now",
            5: None,  # fails the gate (null_text)
        }[i]
        rows.append((i, base + pd.Timedelta(minutes=i), text))
    pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "text"]).astype(
        {"doc_id": "int64"}
    )
    src = tmp_path / "stream_src"
    spark.createDataFrame(pdf).write.parquet(str(src))

    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(
        str(src)
    )
    out = curate_stream(stream, ts_col="ts")
    run_to_completion(
        out, sink_table="t_curate_stream", checkpoint_dir=str(tmp_path / "ck")
    )
    got = spark.table("t_curate_stream").toPandas()
    want = curate_stream(spark.read.parquet(str(src))).toPandas()
    # dedup keeps ONE row per distinct redacted text; compare the
    # surviving text multisets (kept ids may differ between modes)
    assert sorted(got["text"]) == sorted(want["text"])
    assert len(got) == 3  # one of {0,1}, plus 2, plus 4
    assert any("<EMAIL>" in t for t in got["text"])
    assert any("<PHONE>" in t for t in got["text"])
    assert not any("555-123" in t or "a@b.io" in t for t in got["text"])


def test_curate_stream_html_input_equals_batch(spark, tmp_path):
    """The r13 markup-extraction head is per-row stateless, so it runs
    in the streaming chain too — and streaming ≡ batch on identical
    raw-HTML input."""
    import pandas as pd

    from auto_ts_spark.corpus import curate, curate_stream
    from auto_ts_spark.streaming.ops import run_to_completion

    body = (
        "the quick brown fox jumps over the lazy dog and runs for the "
        "hills while it keeps a steady pace in the warm morning light "
    ) * 2
    base = pd.Timestamp("2024-01-01")
    rows = [
        (i, base + pd.Timedelta(minutes=i),
         f"<html><body><script>x()</script><p>{body} tag {i % 2}.</p>"
         "</body></html>")
        for i in range(4)  # i%2 duplicates after extraction
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "html"]).astype(
        {"doc_id": "int64"}
    )
    src = tmp_path / "html_src"
    spark.createDataFrame(pdf).write.parquet(str(src))
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, html string"
    ).parquet(str(src))
    out = curate_stream(stream, ts_col="ts", html_input="html")
    run_to_completion(
        out, sink_table="t_html_stream", checkpoint_dir=str(tmp_path / "ck2")
    )
    got = spark.table("t_html_stream").toPandas()
    want = curate_stream(
        spark.read.parquet(str(src)), html_input="html"
    ).toPandas()
    assert sorted(got["text"]) == sorted(want["text"])
    assert len(got) == 2  # two distinct extracted texts survive dedup
    assert all("script" not in t and "<p>" not in t for t in got["text"])
    assert "html" not in got.columns
    # and ≡ the batch curate() head on the same input
    batch = curate(
        spark.read.parquet(str(src)).drop("ts"),
        html_input="html",
        dedup_exact=True,
        near_dedup=False,
        redact=True,
    ).toPandas()
    assert sorted(batch["text"]) == sorted(got["text"])


def test_curate_stages_optional(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    out = curate(
        docs,
        quality=False,
        redact=False,
        dedup_exact=False,
        near_dedup=False,
    )
    assert out.count() == 50  # no enabled stage -> identity


def test_curate_perplexity_gate(spark, sf_dir):
    """The CCNet LM-perplexity stage keeps exactly the head+middle
    terciles of the surviving corpus and matches the standalone
    operator's assignment."""
    from auto_ts_spark.operators.lm_quality import (
        perplexity_score,
        perplexity_tercile_assign,
        train_ngram_lm,
    )

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("lang") == "en")
    out, counts = curate(
        docs,
        quality=False,
        redact=False,
        dedup_exact=False,
        near_dedup=False,
        perplexity_ref=ref,
        stage_counts=True,
    )
    assert list(counts) == ["input", "perplexity"]
    # standalone replica: head+middle of the tercile assignment
    lm = train_ngram_lm(ref)
    assigned = perplexity_tercile_assign(perplexity_score(docs, lm))
    want = {
        r["doc_id"]
        for r in assigned.filter(F.col("bucket") != "tail").collect()
    }
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert got == want
    assert counts["perplexity"] == len(want) > 0
    # head-only keeps strictly fewer
    head_only = curate(
        docs,
        quality=False,
        redact=False,
        dedup_exact=False,
        near_dedup=False,
        perplexity_ref=ref,
        perplexity_keep=("head",),
    )
    assert head_only.count() < len(want)


def test_curate_classifier_gate(spark):
    """GPT-3-style classifier gate: reference-like documents survive,
    junk documents are dropped, and an id-overlapping reference can't
    double-label (ids are remapped to a disjoint negative range)."""
    from auto_ts_spark.corpus import curate

    pos_text = "good clean prose writing style"
    neg_text = "spam junk click buy pills"
    docs = spark.createDataFrame(
        [(i, pos_text, "w") for i in range(6)]
        + [(i, neg_text, "w") for i in range(6, 12)],
        "doc_id long, text string, source string",
    )
    # reference overlaps the corpus ids on purpose; it must be large
    # enough to balance its own copies inside the negative sample
    # (GPT-3's negatives are raw CommonCrawl, which contains
    # reference-like text too)
    ref = docs.filter("doc_id < 6").select("doc_id", "text")
    out, counts = curate(
        docs,
        quality=False,
        redact=False,
        dedup_exact=False,
        near_dedup=False,
        classifier_ref=ref,
        # sample half the corpus as negatives: with the full corpus
        # the good text would be labeled exactly 50/50 (6 reference
        # positives vs its own 6 copies in the negatives) and the
        # calibrated probability sits on the 0.5 threshold boundary
        classifier_neg_fraction=0.5,
        classifier_iters=3,
        classifier_lr=4.0,
        stage_counts=True,
    )
    assert list(counts) == ["input", "classifier"]
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert kept == set(range(6))


def test_curate_stream_line_clean_equals_batch(spark, tmp_path):
    """The C4 line-cleaning head stage is a pure per-row map, so the
    streaming form must match the batch apply mode exactly."""
    import pandas as pd

    from auto_ts_spark.corpus import curate_stream
    from auto_ts_spark.operators.textops import c4_line_clean
    from auto_ts_spark.streaming.ops import run_to_completion

    rows = [
        (0, pd.Timestamp("2024-01-01"), "A good long first sentence here.\nshort\nAnother keeper line stands now."),
        (1, pd.Timestamp("2024-01-01"), "no terminal punctuation on this lonely line"),
        (2, pd.Timestamp("2024-01-01"), "lorem ipsum dolor sit amet today."),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "text"]).astype(
        {"doc_id": "int64"}
    )
    src = tmp_path / "lc_src"
    spark.createDataFrame(pdf).write.parquet(str(src))
    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(
        str(src)
    )
    out = curate_stream(
        stream, ts_col="ts", line_clean=True, quality=False, redact=False, dedup=False
    )
    run_to_completion(
        out, sink_table="t_lc_stream", checkpoint_dir=str(tmp_path / "lc_ck")
    )
    got = spark.table("t_lc_stream").toPandas().sort_values("doc_id")
    want = (
        c4_line_clean(spark.read.parquet(str(src)), mode="apply")
        .toPandas()
        .sort_values("doc_id")
    )
    assert list(got["doc_id"]) == list(want["doc_id"]) == [0]
    assert list(got["text"]) == list(want["text"])
    assert got["text"].iloc[0].splitlines() == [
        "A good long first sentence here.",
        "Another keeper line stands now.",
    ]


def test_curate_simhash_near_dedup_method(spark):
    """The simhash near-dup method must collapse planted
    near-identical documents through the same cluster-retention shape
    as the minhash default (keep ONE canonical member per cluster)."""
    import pytest

    base = (
        "the quick brown fox jumps over the lazy dog while evening light "
        "settles across a quiet field of tall dry summer grass nearby "
    ) * 3
    df = spark.createDataFrame(
        [
            (0, "src0", base),
            (1, "src0", base + "tiny tail difference"),  # near-dup of 0
            (2, "src0", base.replace("fox", "hare") + "still close variant"),
            (
                3,
                "src0",
                "entirely different content about databases, query planners "
                "and distributed shuffles across a large analytics cluster "
                * 3,
            ),
        ],
        "doc_id long, source string, text string",
    )
    out, counts = curate(
        df,
        quality=False,
        redact=False,
        dedup_exact=False,
        near_dedup=True,
        near_dedup_method="simhash",
        stage_counts=True,
    )
    kept = sorted(r.doc_id for r in out.collect())
    # the planted near-dup cluster {0,1,2} keeps exactly its min id
    assert 0 in kept and 3 in kept
    assert counts["near_dedup"] < 4
    with pytest.raises(ValueError):
        curate(df, near_dedup_method="bogus")


def test_stream_land_curate_pack_end_to_end(spark, tmp_path):
    """The full production handoff: a live feed is cleaned as it lands
    (curate_stream -> parquet sink), the landed corpus then runs the
    corpus-wide batch stages (near-dup clustering), and the survivor
    set is packed into a training manifest. Validates the wiring the
    README documents: landed output IS the input of the batch side,
    and the manifest covers exactly the curated survivors with gapless
    in-sequence spans."""
    import pandas as pd

    from auto_ts_spark.corpus import curate, curate_stream
    from auto_ts_spark.operators.packing import pack_sequences

    good = (
        "the quick brown fox jumps over the lazy dog and runs for the hills "
        "while it keeps a steady pace in the warm morning light of a clear day "
    )
    base = pd.Timestamp("2024-01-01")
    rows = []
    for i in range(12):
        text = good * (1 + i % 3) + f"tail variant {i % 4}"
        if i == 7:
            text = rows[3][2]  # exact dup, dropped in-stream
        if i == 9:
            text = "way too short"  # fails the inline gate
        rows.append((i, base + pd.Timedelta(minutes=i), text))
    pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "text"]).astype(
        {"doc_id": "int64"}
    )
    src = tmp_path / "raw_feed"
    spark.createDataFrame(pdf).write.parquet(str(src))

    # 1) stream-side: clean + dedup as the feed lands, to a REAL
    # parquet sink (the landed corpus), not a memory table
    stream = spark.readStream.schema(
        "doc_id long, ts timestamp, text string"
    ).parquet(str(src))
    landed = tmp_path / "landed"
    q = (
        curate_stream(stream, ts_col="ts")
        .writeStream.format("parquet")
        .option("path", str(landed))
        .option("checkpointLocation", str(tmp_path / "ck_land"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # 2) batch-side: corpus-wide stages on the landed output (the
    # in-stream stages are already applied, so they're off here)
    corpus = spark.read.parquet(str(landed))
    curated = curate(
        corpus, quality=False, redact=False, dedup_exact=False, near_dedup=True
    )
    survivors = {r.doc_id for r in curated.select("doc_id").collect()}
    assert 7 not in {r.doc_id for r in corpus.select("doc_id").collect()}
    assert 9 not in survivors  # gate dropped it in-stream
    assert len(survivors) < 10  # near-dup clustering collapsed variants

    # 3) pack the survivors; manifest must cover exactly their tokens
    man = pack_sequences(curated, 64).cache()
    per_doc = {
        r.doc_id: r.total
        for r in man.groupBy("doc_id")
        .agg(F.sum("n_toks").alias("total"))
        .collect()
    }
    tok_counts = {
        r.doc_id: r.n
        for r in curated.select(
            "doc_id", F.size(F.split("text", r"\s+")).alias("n")
        ).collect()
    }
    assert set(per_doc) == survivors
    assert per_doc == {d: tok_counts[d] for d in per_doc}
    # gapless fill: every sequence except the last is exactly full
    fills = man.groupBy("seq_id").agg(F.sum("n_toks").alias("fill")).collect()
    last = max(r.seq_id for r in fills)
    assert all(r.fill == 64 for r in fills if r.seq_id != last)


def test_curate_dsir_stage(spark, sf_dir):
    """The DSIR stage keeps exactly the standalone operator's top-k
    selection (fraction form), between classifier and decontamination
    in the chain order."""
    from auto_ts_spark.operators.dsir import (
        dsir_log_weights,
        select_top_weighted,
    )

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    out, counts = curate(
        docs,
        quality=False,
        redact=False,
        dedup_exact=False,
        near_dedup=False,
        dsir_target=target,
        dsir_keep=0.4,
        stage_counts=True,
    )
    assert list(counts) == ["input", "dsir"]
    expected_n = max(1, int(0.4 * dsir_log_weights(docs, target).count()))
    assert counts["dsir"] == expected_n
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    manual = {
        r["doc_id"]
        for r in select_top_weighted(
            dsir_log_weights(docs, target), expected_n
        ).collect()
    }
    assert kept == manual

    # int form + stochastic form both land exactly n documents
    out2, c2 = curate(
        docs,
        quality=False,
        redact=False,
        dedup_exact=False,
        near_dedup=False,
        dsir_target=target,
        dsir_keep=25,
        dsir_stochastic=True,
        stage_counts=True,
    )
    assert c2["dsir"] == 25


def test_dsir_top_n_matches_order_by_limit(spark):
    """_top_n_by (distributed rank) must equal the orderBy().limit()
    reference on both the deterministic and the Gumbel key."""
    import numpy as np

    from auto_ts_spark.operators.dsir import select_top_weighted

    rng = np.random.RandomState(5)
    rows = [(i, int(10 + rng.randint(20)), round(float(rng.randn()), 6))
            for i in range(500)]
    wts = spark.createDataFrame(
        rows, "doc_id long, n_grams int, log_weight double"
    )
    got = {
        r["doc_id"] for r in select_top_weighted(wts, 100).collect()
    }
    ref = {
        r["doc_id"]
        for r in wts.orderBy(
            F.col("log_weight").desc(), F.col("doc_id")
        ).limit(100).collect()
    }
    assert got == ref


# ------------------------------------------------- prepare_rag_corpus


def _rag_docs(spark):
    """Six 16-token docs chunked at 8/8 → 2 chunks each; docs 1-3
    share chunk 0 verbatim (the planted cross-document near-dup
    cluster), every other chunk is unique."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for d in range(1, 7):
        head = shared if d <= 3 else f"solo{d} " * 8
        tail = " ".join(f"tail{d}w{i}" for i in range(8))
        rows.append((d, f"{head.strip()} {tail}"))
    return spark.createDataFrame(rows, "doc_id int, text string")


def _planted_embeddings(spark):
    """(doc_id, chunk_id, embedding): the three shared chunks get
    near-identical vectors on axis 0 (pairwise cosine > 0.999),
    every other chunk its own orthogonal axis (pairwise cosine 0)."""
    import math

    rows, axis = [], 1
    for d in range(1, 7):
        for c in range(2):
            v = [0.0] * 16
            if d <= 3 and c == 0:
                # tiny per-doc perturbation: near-dup, not bit-equal
                v[0] = 1.0
                v[15] = 0.01 * d
            else:
                v[axis] = 1.0
                axis += 1
            n = math.sqrt(sum(x * x for x in v))
            rows.append((d, c, [x / n for x in v]))
    return spark.createDataFrame(
        rows, "doc_id int, chunk_id long, embedding array<double>"
    )


def test_prepare_rag_corpus_retains_one_per_planted_cluster(spark):
    from auto_ts_spark.corpus import prepare_rag_corpus

    out = prepare_rag_corpus(
        _rag_docs(spark),
        chunk_tokens=8,
        stride=8,
        embeddings=_planted_embeddings(spark),
        dedup_threshold=0.95,
        # auto-k (ceil(n/512) clamped to >=16) gives every vector of a
        # 12-row corpus its own cell; pin a coarse quantizer so the
        # planted trio shares a cell — at real corpus sizes auto-k
        # keeps ~512 vectors/cell and near-identical vectors co-locate
        n_centroids=2,
    ).collect()
    by_key = {(r.doc_id, r.chunk_id): r for r in out}
    # the planted cluster collapsed to its min-uid representative
    planted = {k for k in by_key if k in {(1, 0), (2, 0), (3, 0)}}
    assert planted == {(1, 0)}, planted
    keeper = by_key[(1, 0)]
    assert keeper.cluster_size == 3 and keeper.cluster_id is not None
    # every unique chunk survives, in no cluster
    others = [k for k in by_key if k not in {(1, 0)}]
    assert len(others) == 9  # 12 chunks - 3 planted + 1 keeper - 1
    assert all(by_key[k].cluster_id is None for k in others)
    # chunk text and embeddings ride through
    assert keeper.chunk_text.startswith("alpha beta gamma")
    assert len(keeper.embedding) == 16


def test_prepare_rag_corpus_embed_callable_and_chunk_only(spark):
    from auto_ts_spark.corpus import prepare_rag_corpus

    docs = _rag_docs(spark)

    # chunk-only mode: no embeddings needed, plain chunk frame out
    plain = prepare_rag_corpus(
        docs, chunk_tokens=8, stride=8, dedup_threshold=None
    )
    assert plain.columns == ["doc_id", "chunk_id", "n_tokens", "chunk_text"]
    assert plain.count() == 12

    # embed-callable path: deterministic text-derived vectors — the
    # three verbatim-shared chunks become exact embedding duplicates
    def embed(chunks):
        return chunks.withColumn(
            "embedding",
            F.array(
                *[
                    (F.conv(F.substring(F.md5("chunk_text"), i * 4 + 1, 4), 16, 10)
                     .cast("double") / 65535.0)
                    for i in range(4)
                ]
            ),
        )

    out = prepare_rag_corpus(
        docs, chunk_tokens=8, stride=8, embed=embed, dedup_threshold=0.999999
    )
    rows = {(r.doc_id, r.chunk_id) for r in out.collect()}
    assert (1, 0) in rows and (2, 0) not in rows and (3, 0) not in rows
    assert len(rows) == 10  # 12 - 2 dropped exact copies


def test_prepare_rag_corpus_argument_errors(spark):
    import pytest

    from auto_ts_spark.corpus import prepare_rag_corpus

    docs = _rag_docs(spark)
    emb = _planted_embeddings(spark)
    with pytest.raises(ValueError, match="not both"):
        prepare_rag_corpus(docs, embeddings=emb, embed=lambda c: c)
    with pytest.raises(ValueError, match="dedup needs"):
        prepare_rag_corpus(docs)
    with pytest.raises(ValueError, match="did not add"):
        prepare_rag_corpus(docs, embed=lambda c: c)


def test_curate_raise_after_scrub_releases_everything(spark):
    """A curate() call that raises after the span-scrub stage must leave
    no persisted block behind: neither a CacheManager entry nor a
    persistent RDD (the scrub's token frame above its size gate, the
    stage checkpoints). The input's huge pre-filter estimate drives the
    scrub above its 256 MB gate with 4 real rows."""
    import pytest

    shared = "one two three four five six seven eight"
    big_est = (
        spark.range(2_000_000_000)  # ~16 GB estimate, no CBO filter stats
        .filter("id < 4")
        .select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") < 2, F.lit(f"lead {shared} tail")
            ).otherwise(F.lit("plain unrelated words only")).alias("text"),
        )
    )
    cm = spark._jsparkSession.sharedState().cacheManager()
    sc = spark.sparkContext
    spark.catalog.clearCache()
    before = set(dict(sc._jsc.getPersistentRDDs()))
    with pytest.raises(ValueError, match="near_dedup_method"):
        curate(big_est, scrub_spans=True, near_dedup_method="bogus")
    assert cm.isEmpty()
    assert not (set(dict(sc._jsc.getPersistentRDDs())) - before)


def test_curate_full_leaves_cache_manager_empty(spark, sf_dir):
    """Two curate_full-shaped calls (bench.py's full recipe), each
    collected and then dropped, must leave the CacheManager empty:
    every intermediate a stage holds is released inside the call, and
    the checkpoints the result reads never enter the CacheManager."""
    import bench

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cm.isEmpty()
    digests = []
    for _ in range(2):
        out = bench.q_curate_full(spark, sf_dir)
        digests.append(sorted(map(tuple, out.select("doc_id", "copy_n").collect())))
        del out
        assert cm.isEmpty()
    assert digests[0] == digests[1] and digests[0]
