"""Deduplication operators for the training-data pipeline.

Five families (BASELINE.json north star):
- exact: hash-groupBy on the content fingerprint
- n-gram Jaccard: exact pairwise similarity within deterministic
  candidate buckets
- MinHash + LSH: shingle → minhash → band → bucket-join — the scale
  path (avoids the O(n²) pair explosion)
- SimHash: near-dup by fingerprint hamming distance
- embedding cosine: near-dup by vector similarity (see similarity.py)

Scale notes: every candidate-generation step is an equi-join on a
bucket key (band hash, length bucket), so the shuffle is proportional
to candidate pairs, not n². The exact-verify step runs only on
candidates. AQE skew-join handles hot buckets (e.g. empty-ish docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from auto_ts_spark.functions import text as TX
from auto_ts_spark.operators.partitioning import ensure_parallelism


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.

    Returns ``(fingerprint, n_dups, keep_id, dup_ids)`` for groups with
    >1 member. One shuffle on the 60-bit fingerprint.
    """
    fp = ensure_parallelism(df).select(
        F.col(id_col), TX.fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id document per identical normalized content."""
    ranked = ensure_parallelism(df).select(
        "*", TX.fingerprint(F.col(text_col)).alias("_fp")
    ).withColumn(
        "_keep", F.col(id_col) == F.min(id_col).over(Window.partitionBy("_fp"))
    )
    return ranked.filter(F.col("_keep")).drop("_fp", "_keep")


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    length_bucket: int = 16,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs, inverted-index shape.

    Candidate generation is a self-join on the SHINGLE (the classic
    distributed set-similarity join: explode each document's distinct
    shingles, equi-join on the shingle, count shared shingles per
    pair), NOT an all-pairs comparison — a pair with zero shared
    shingles has Jaccard 0 and can never reach any positive threshold,
    so skipping it is exact. The per-pair intersection size falls out
    of the join's group-count; |union| = |a| + |b| − |∩|. Length-bucket
    adjacency (token counts within one bucket of each other — a true
    near-dup at threshold t has comparable lengths) is kept as a
    post-join filter, preserving the original candidate contract.

    Scale shape: one shuffle on the shingle + one on the pair, both
    linear in the number of shingle-sharing pairs — sparse in any real
    corpus (vocabulary grows with corpus size). The earlier form
    compared every same-bucket pair: quadratic per length bucket, which
    a 50k-doc fixture already made intractable on BOTH engines.

    Returns ``(id_a, id_b, jaccard)`` with id_a < id_b, jaccard ≥
    threshold. ``threshold`` must be positive: the inverted index can
    only surface pairs that share at least one shingle, so a
    zero/negative threshold (which would have to emit Jaccard-0 pairs)
    is rejected rather than silently under-reported.
    """
    if threshold <= 0:
        raise ValueError(
            "ngram_jaccard_pairs requires threshold > 0; the shingle "
            "inverted index cannot enumerate zero-overlap pairs "
            f"(got {threshold!r})"
        )
    # the inverted index explodes and equi-joins on the shingle: hash
    # it to the shared 60-bit md5 integer first (r13, guide §2.3 —
    # narrower join key and shuffle payload than a 3-token string; the
    # DuckDB oracle hashes identically, so pairs and jaccard are
    # engine-identical. Vs TRUE string Jaccard the bound is: unchanged
    # short of a 60-bit collision within the union of any candidate
    # pair's shingle sets — a cross-document collision can inflate an
    # intersection too, not just an in-document one)
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(
                TX.shingles(F.col(text_col), shingle_n),
                lambda s: TX.hash60(s),
            )
        ).alias("sh"),
        (TX.token_count(F.col(text_col)) / length_bucket).cast("int").alias("lb"),
    )
    inv = sh.select(
        "id", F.size("sh").alias("n_sh"), "lb", F.explode("sh").alias("shingle")
    )
    a = inv.select(
        F.col("id").alias("id_a"),
        F.col("n_sh").alias("n_a"),
        F.col("lb").alias("lb_a"),
        "shingle",
    )
    b = inv.select(
        F.col("id").alias("id_b"),
        F.col("n_sh").alias("n_b"),
        F.col("lb").alias("lb_b"),
        "shingle",
    )
    inter = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("lb_b") >= F.col("lb_a") - 1)
            & (F.col("lb_b") <= F.col("lb_a") + 1)
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    union = F.col("n_a") + F.col("n_b") - F.col("c")
    return inter.select(
        "id_a",
        "id_b",
        F.round(F.col("c") / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs — the 100 TB dedup path.

    shingle → minhash signature (one projection) → split into
    ``bands`` bands of ``num_hashes/bands`` rows → hash each band →
    explode to (band_id, band_hash) → self-join on band equality →
    exact-Jaccard verify on the candidates only.

    Candidate volume scales with true-duplicate density, not n².
    Returns ``(id_a, id_b, jaccard)`` verified against ``threshold``.

    Plan shape (why not a self-join): a self-join on the band key would
    re-execute the whole tokenize→shingle→md5→minhash pipeline for each
    side. Instead we group by (band, band_hash) and generate the pairs
    *inside* each bucket with higher-order array functions — the
    signature pipeline runs exactly once and the only shuffle carries
    (band_hash → members). Skew note: a pathological hot bucket (e.g.
    millions of empty documents) concentrates O(k²) pairs in one task;
    at that point the documents are all mutual near-dups and a
    production pipeline should exact-dedup (``dedup_exact``) first —
    documented trade-off vs. the join-based plan AQE could skew-split.

    ``max_bucket_size`` is the hard guard for that skew mode: buckets
    with more members are DROPPED before any member list is
    materialized (a window count over the same shuffle key filters
    the rows in place — the signature pipeline still runs once and
    the executor never builds the giant array). Members of an
    over-cap bucket are, by construction, massively duplicated text —
    the exact-dedup pass handles them at hash-groupBy cost. This is
    the standard production policy (SlimPajama/BigCode-style dedup
    caps LSH bucket size the same way); None keeps every bucket."""
    rows_per_band = num_hashes // bands
    # staged projections so Catalyst computes tokenize→shingle→md5
    # exactly once per document, then 16 cheap permutations over it;
    # repartition first: the md5 chain is the CPU hot spot.
    # The Jaccard-verify set `sh` is the DISTINCT 60-bit shingle
    # hashes, not the shingle strings (r13, guide §2.3 — shuffle
    # narrower types): the band explode ships each document's verify
    # set `bands` times, and a hash long is ~2.5× narrower than a
    # 3-token shingle string (and compares as one integer instead of a
    # string walk in array_intersect). Vs TRUE string Jaccard, set
    # sizes and intersections — and with them every jaccard — are
    # unchanged short of a 60-bit md5 collision within the union of a
    # candidate pair's shingle sets (cross-document collisions count
    # too, not just in-document ones); the DuckDB oracle applies the
    # same md5-derived hash, so the candidate set and scores stay
    # engine-identical regardless.
    shingled = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        TX.shingles(F.col(text_col), shingle_n).alias("sh_all"),
    )
    based = shingled.select(
        "id",
        F.transform(F.col("sh_all"), lambda s: TX.hash60(s)).alias("base"),
    )
    sig = based.select(
        "id",
        F.array_distinct(F.col("base")).alias("sh"),
        TX.minhash_from_base(F.col("base"), num_hashes).alias("mh"),
    )
    banded = sig.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    # band key = the signature slice itself (stringified):
                    # engine-agnostic + deterministic, so the DuckDB
                    # oracle reproduces the exact candidate set. (A real
                    # cluster would hash this to 8 bytes; correctness is
                    # identical.)
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            F.slice(F.col("mh"), b * rows_per_band + 1, rows_per_band),
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    if max_bucket_size is not None:
        # bucket-size guard as a WINDOW count over the same (band, bh)
        # key the aggregate below shuffles on — one extra pass over the
        # shuffled rows, NO second execution of the shingle/md5
        # pipeline (a count-prepass + self-join would re-run the whole
        # signature computation for the join's build side). The
        # collect_list below then never sees an over-cap bucket,
        # bounding per-task memory regardless of skew; the window and
        # the groupBy share hash partitioning, so no added shuffle.
        w = Window.partitionBy("band", "bh")
        banded = (
            banded.withColumn("_n", F.count(F.lit(1)).over(w))
            .filter((F.col("_n") > 1) & (F.col("_n") <= max_bucket_size))
            .drop("_n")
        )
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.collect_list(F.struct("id", "sh")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = buckets.select(F.explode("ms").alias("a"), "ms").select(
        "a",
        F.explode(
            F.filter(F.col("ms"), lambda m: m["id"] > F.col("a.id"))
        ).alias("b"),
    )
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    scored = pairs.select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.round(inter / F.greatest(union, F.lit(1)), 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    # same pair may surface from several bands with identical jaccard;
    # dedup AFTER scoring so the shuffle carries 3 scalars, not arrays
    return scored.dropDuplicates(["id_a", "id_b"])


def _driver_union_find(rows, id_type, spark, stats):
    """Union-find with min-id roots over a collected edge list —
    labels identical to the distributed propagation (component label =
    min member id), one pass, no per-round jobs."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # min id becomes the root, so root == component label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = [(x, find(x)) for x in parent]
    if stats is not None:
        stats["rounds"] = 1
        stats["strategy"] = "driver_union_find"
    schema = T.StructType(
        [
            T.StructField("id", id_type, True),
            T.StructField("cluster_id", id_type, True),
        ]
    )
    return spark.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = 500_000,
    stats: dict | None = None,
) -> DataFrame:
    """Component labels for an undirected pair graph: iterative
    min-label propagation (converged label = min node id reachable,
    so labels are deterministic — oracle-reproducible via a recursive
    CTE).

    Scale shape: every round is two hash-shuffles (edges ⋈ labels →
    groupBy-min, plus the pointer-jump self-join below) — fully
    distributed, no driver-side graph. Each round takes the min of the
    neighbor labels AND the label's own label (ℓ(ℓ(v)) — pointer
    jumping / path halving, the standard PRAM trick), so the distance
    every label still has to travel toward its component's min id
    HALVES each round: convergence is O(log diameter), not
    O(diameter). Near-dup components from LSH candidate generation are
    quasi-cliques (1-3 rounds); threshold graphs from semantic dedup
    can be chain-shaped (diameter 20+ was measured on the sf0.1
    embeddings — 21 rounds under pure min-propagation, 6 with
    jumping), and at 100 TB every saved round is a full shuffle of the
    label frame. ``localCheckpoint`` truncates lineage each round so
    the plan stays flat; the loop exits on the first round with zero
    label changes.

    Two round-count savers keep the per-round job overhead (the
    dominant cost when components are small cliques) low: the FIRST
    propagation needs no join — labels start as ids, so the
    min-over-neighbors is a plain edge aggregation folded into the
    initialization — and change detection reads the previous label
    carried inside the checkpointed round output instead of re-joining
    the two label generations.

    Adaptive small-graph path: every propagation round is a full
    multi-job barrier (join + agg + localCheckpoint) whose FIXED
    scheduling cost dominates when the graph is small — 10-20 rounds
    of sub-second jobs on a few thousand edges is pure overhead. So,
    AQE-style, the strategy adapts to the measured size: if the edge
    list (already materialized into the cache for the loop) is within
    ``driver_max_edges`` (default 500k edges ≈ tens of MB collected —
    far under driver memory), one collect + union-find produces the
    identical min-id labeling in a single job. Larger graphs — the
    100 TB regime, where near-dup graphs carry billions of edges —
    always take the distributed propagation below.

    ``stats`` (optional dict) receives ``{"rounds": n}`` — the number
    of propagation rounds actually run (the init-folded first round
    counts as 1; the union-find path reports 1 plus a ``strategy``
    key) — so scale probes can confirm convergence stays flat as the
    corpus grows.
    """
    from pyspark import StorageLevel

    from auto_ts_spark.operators.partitioning import MaterializeScope

    half = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    with MaterializeScope() as scope:
        # persist (not checkpoint): edges are a pure map of the input,
        # so a lost block recomputes deterministically; released when
        # the scope exits
        edges = scope.hold(
            half.unionByName(
                half.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
        )
        # ONE probe job decides the strategy AND, when small, already
        # IS the collect (r13 — the previous count-then-collect pair
        # cost an extra full job barrier per CC call): limit past the
        # doubled cap returns every row iff the graph is within the
        # union-find budget. On a big graph the incremental take stops
        # after a few partitions and the work is not wasted — the
        # computed partitions land in the edge cache the propagation
        # loop reads anyway. Doubled directions are harmless to
        # union-find. Driver-cost note (r13 advisor): on the BIG-graph
        # path this probe transiently collects up to
        # 2*driver_max_edges+2 slim (a, b) rows (~tens of MB at the
        # 500k default) that the old count-based probe did not; that
        # is inside the same documented driver budget the union-find
        # path already commits to, and it is released as soon as the
        # length check fails. If driver pressure ever shows up at
        # 100TB-regime edge counts, probe with a count + LocalLimit
        # instead.
        cap_rows = 2 * driver_max_edges
        probe = edges.limit(cap_rows + 2).collect()
        if len(probe) <= cap_rows:
            rows = [(r["a"], r["b"]) for r in probe]
            id_type = pairs.schema[src].dataType
            return _driver_union_find(rows, id_type, pairs.sparkSession, stats)
        # round 1 folded into init: label = min(id, neighbors) — the
        # edge list carries both directions so every node appears as
        # "a". SERIALIZED checkpoint blocks (PySpark's MEMORY_AND_DISK
        # level): the localCheckpoint default builds DESERIALIZED heap
        # rows, and a 40M-node label generation as Java objects is
        # several GB — the r13 50M-edge probe OOMed an 8g heap
        # mid-round even with the generation release below (same class
        # as the r7 quality-classifier fix); serialized blocks unroll
        # incrementally and spill to disk.
        level = StorageLevel.MEMORY_AND_DISK
        ckpt = scope.checkpoint(
            edges.groupBy(F.col("a").alias("id"))
            .agg(F.min("b").alias("nbr"))
            .select("id", F.least("id", "nbr").alias("label")),
            level,
        )
        labels = ckpt
        rounds = 1  # the init-folded first propagation
        for _ in range(max_iter - 1):
            nbr_min = (
                edges.join(
                    labels.select(F.col("id").alias("a"), F.col("label").alias("al")),
                    "a",
                )
                .groupBy(F.col("b").alias("id"))
                .agg(F.min("al").alias("nbr"))
            )
            # pointer jump: ℓ(ℓ(v)). ℓ(v) is always the id of a node in
            # v's component with ℓ(w) ≤ w, so taking the min with the
            # label's own label is safe (stays in-component, monotone
            # non-increasing) and halves the remaining path to the
            # component min each round — O(log diameter) convergence.
            jump = labels.select(
                F.col("id").alias("_jid"), F.col("label").alias("_jl")
            )
            new_labels = scope.checkpoint(
                labels.join(nbr_min, "id", "left")
                .join(jump, F.col("label") == F.col("_jid"), "left")
                .select(
                    "id",
                    F.col("label").alias("prev"),
                    F.least(
                        F.col("label"),
                        F.coalesce("nbr", F.col("label")),
                        F.coalesce("_jl", F.col("label")),
                    ).alias("label"),
                ),
                level,
            )
            # change probe scans the just-checkpointed frame — no join job
            changed = (
                new_labels.filter(F.col("label") != F.col("prev")).limit(1).count()
            )
            # Release the PREVIOUS generation's checkpoint blocks now
            # that the new one is materialized (the checkpoint is
            # eager, and the change probe above already scanned it).
            # Without this every round's full label frame stays held
            # in storage memory for the life of the loop — rounds × |V|
            # rows, which the r13 50M-edge decade probe measured as an
            # 8g heap OOM mid-loop, while true peak state is only ever
            # TWO generations + the edge cache. The last generation is
            # the result's: the scope leaves it to the ContextCleaner.
            scope.release(ckpt)
            ckpt = new_labels
            labels = new_labels.select("id", "label")
            rounds += 1
            if changed == 0:
                break
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_clusters(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    cc_stats: dict | None = None,
) -> DataFrame:
    """Near-dup cluster assignment — the step a production dedup
    pipeline runs after pair generation: pairs alone can't drive
    document retention (a∼b, b∼c must keep ONE of {a,b,c}, not two).

    MinHash+LSH pairs → connected components → per-doc
    ``(doc_id, cluster_id, cluster_size, is_keep)`` where cluster_id
    is the min doc id in the component and ``is_keep`` marks the
    canonical member. Only documents that appear in at least one pair
    are returned (everything else is trivially kept).
    """
    pairs = minhash_lsh_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )
    return clusters_from_pairs(pairs, id_col=id_col, cc_stats=cc_stats)


def clusters_from_pairs(
    pairs: DataFrame, *, id_col: str = "doc_id", cc_stats: dict | None = None
) -> DataFrame:
    """Cluster labels + retention flags from ANY near-dup pair frame
    (``id_a``/``id_b`` columns — MinHash-LSH, SimHash, n-gram Jaccard,
    winnowing all emit this shape): connected components → per-doc
    ``(id, cluster_id, cluster_size, is_keep)`` with the min member id
    as the deterministic canonical keeper."""
    cc = connected_components(pairs, stats=cc_stats)
    w = Window.partitionBy("cluster_id")
    return (
        cc.select(F.col("id").alias(id_col), "cluster_id")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("is_keep", F.col(id_col) == F.col("cluster_id"))
    )


def simhash_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    block_bits: int = 8,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ ``max_hamming``.

    Blocking: split the fingerprint into ``bits/block_bits`` blocks; by
    pigeonhole, any pair within distance ``max_hamming`` shares at
    least one exact block when blocks > max_hamming. Equi-join per
    block → verify with popcount. No O(n²) scan.
    """
    n_blocks = bits // block_bits
    assert n_blocks > max_hamming, "need more blocks than max_hamming (pigeonhole)"
    # stage the token md5 hashes once, then vote — the inlined
    # convenience form re-runs the md5 chain once per output bit
    fp = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            F.expr(TX.simhash_token_hashes_sql(text_col)).alias("_th"),
        )
        .select("id", F.expr(TX.simhash_from_hashes_sql("_th", bits)).alias("sh"))
    )
    blocked = fp.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.expr(
                            f"(sh div shiftleft(cast(1 as bigint), {i * block_bits})) % {1 << block_bits}"
                        ).alias("bv"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", F.col("bb.blk").alias("blk"), F.col("bb.bv").alias("bv"))
    # bucket-group pair generation (not a self-join): the simhash
    # expression tree is computed once, and the block shuffle carries
    # only (id, fingerprint)
    buckets = (
        blocked.groupBy("blk", "bv")
        .agg(F.collect_list(F.struct("id", "sh")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = buckets.select(F.explode("ms").alias("a"), "ms").select(
        "a",
        F.explode(F.filter(F.col("ms"), lambda m: m["id"] > F.col("a.id"))).alias("b"),
    )
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def winnow_fingerprints(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (the MOSS local-minimum scheme): hash
    every word ``k``-gram, then keep the minimum hash of each sliding
    window of ``window`` consecutive k-gram hashes. Guarantees any
    shared run of ``k + window - 1`` tokens between two documents
    yields at least one shared fingerprint — substring-granularity
    near-dup detection that whole-document MinHash misses.

    All per-document work is one array projection (shingles →
    transform(md5) → windowed array_min → distinct) — no explode until
    the (doc, fp) output rows, so the only shuffle is whatever the
    caller does with them. Tail windows shorter than ``window`` are
    kept (deterministic; the ``winnow_overlap_pairs`` DuckDB oracle in
    ``__spark_entry__`` replays the same truncating slice); docs
    shorter than ``k`` tokens fall back to one whole-text shingle like
    functions.text.shingles.

    Returns ``(id_col, fp)`` — one row per distinct selected
    fingerprint per document.
    """
    sh = TX.shingles(F.col(text_col), k)
    hashes = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
    )
    # let-bind the hash array: slice() inside the window lambda would
    # otherwise re-evaluate the whole tokenize→shingle→md5 chain per
    # window position — O(n²) md5/regex per document (the sf1 sweep
    # measured winnow_overlap_pairs at >40 min before this; seconds
    # after)
    fps = TX.let_bind(
        hashes,
        lambda h: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(h)),
                lambda i: F.array_min(F.slice(h, i, window)),
            )
        ),
    )
    return ensure_parallelism(df).select(
        F.col(id_col), F.explode(fps).alias("fp")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints.

    Candidate generation is an equi-join on fingerprint — shuffle
    volume proportional to matching pairs, never n². Fingerprints in
    more than ``max_df`` documents are dropped first (boilerplate
    phrases otherwise create hot join keys — the same stop-key
    mitigation every inverted-index join uses).

    Returns ``(id_a, id_b, n_shared)`` with id_a < id_b.
    """
    fps = winnow_fingerprints(
        df, text_col=text_col, id_col=id_col, k=k, window=window
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    pruned = fps.join(rare, "fp")
    a = pruned.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = pruned.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.countDistinct("fp").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
