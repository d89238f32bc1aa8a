"""Byte-pair-encoding tokenizer training + tokenization over a corpus.

The missing piece between "BPE-ish regex token count" (functions/
text.py) and a real training-data pipeline: learn an actual merge
table from the corpus, then tokenize with it.

Scale shape (the 100 TB design):

- ``word_histogram`` is the ONLY corpus-scale pass — explode tokens,
  one shuffle on the word key with full map-side partial aggregation.
  At 100 TB of text the output is vocabulary-sized (tens of millions
  of rows), 4-6 orders of magnitude smaller than the input.
- ``train_bpe`` trains on that histogram. The merge loop itself runs
  on the driver over an explicitly bounded slice (``max_words`` top
  words by frequency, coverage-measured BEFORE collecting) — the same
  adaptive-bound pattern as connected components' union-find path
  (dedup.py) and ivf_assign_bounded. This is not a shortcut: BPE
  training is inherently a sequential argmax loop over a
  vocabulary-sized state (GPT-2's tokenizer was trained exactly this
  way), and a distributed variant would pay one full shuffle PER MERGE
  (32k merges = 32k jobs) to iterate state that fits in tens of MB.
  Distributed where the data is big, local where the state is small.
- ``bpe_tokenize`` is distributed and Arrow-batched (pandas UDF): the
  merge table broadcasts (n_merges entries), each worker encodes with
  a per-batch word cache — Zipf makes the cache hit rate very high.
- ``bpe_pair_counts`` (the first training iteration's pair statistics)
  is pure JVM expression work — explode + one shuffle — and serves as
  the SQL-replayable oracle surface for the training math.

Tokenizer conventions: words from ``TX.tokens`` (lowercase,
non-alphanumeric collapsed — the corpus-wide convention of this repo),
symbols = characters + a terminal ``</w>`` marker (Sennrich et al.
2016, the public BPE formulation), ties in pair counts broken by
lexicographic pair order so training is fully deterministic.
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auto_ts_spark.functions import text as TX
from auto_ts_spark.operators.partitioning import MaterializeScope

END = "</w>"


# --------------------------------------------------------------------------
# Corpus-scale passes (distributed)
# --------------------------------------------------------------------------


def word_histogram(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the whole corpus — one explode + one shuffle
    with map-side combine. Everything downstream of this is
    vocabulary-sized."""
    return (
        df.select(F.explode(TX.tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _symbols_col(word: F.Column) -> F.Column:
    """word → array of initial symbols: characters + terminal END
    marker, as a Catalyst expression (no UDF)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(END)))


def bpe_pair_counts(
    df: DataFrame, *, text_col: str = "text", top: int | None = None
) -> DataFrame:
    """Adjacent-symbol pair counts of the FIRST training iteration,
    weighted by word frequency: (left, right, pair_count). This is the
    exact statistic ``train_bpe`` takes its first argmax over, computed
    entirely JVM-side — the value-checked oracle surface for the
    training math. Two shuffles total (word histogram, then pair key),
    both vocabulary-sized after the first."""
    hist = word_histogram(df, text_col=text_col)
    syms = hist.select("cnt", _symbols_col(F.col("word")).alias("syms"))
    pairs = syms.select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("left"),
                    F.element_at("syms", i + 1).alias("right"),
                ),
            )
        ).alias("pair"),
    )
    out = (
        pairs.groupBy(F.col("pair.left").alias("left"), F.col("pair.right").alias("right"))
        .agg(F.sum("cnt").alias("pair_count"))
    )
    if top is not None:
        out = out.orderBy(F.desc("pair_count"), "left", "right").limit(top)
    return out


# --------------------------------------------------------------------------
# Training (bounded driver loop over the histogram)
# --------------------------------------------------------------------------


def _merge_word(syms: list[str], a: str, b: str, ab: str) -> list[str]:
    """Merge every adjacent (a, b) left-to-right, non-overlapping."""
    out: list[str] = []
    j = 0
    n = len(syms)
    while j < n:
        if j < n - 1 and syms[j] == a and syms[j + 1] == b:
            out.append(ab)
            j += 2
        else:
            out.append(syms[j])
            j += 1
    return out


def _driver_bpe(
    words: list[tuple[str, int]], n_merges: int, min_pair_count: int
) -> list[tuple[str, str]]:
    """The sequential merge loop, with incremental pair-count
    maintenance (only words containing the merged pair are reindexed —
    the standard efficient formulation).

    The argmax is a lazy-invalidation max-heap over (-count, pair):
    heapq pops the smallest tuple, i.e. the highest count with ties
    broken by the lexicographically smallest pair — the same
    deterministic order as a full scan. Entries go stale when a merge
    changes a pair's count; a popped entry counts only if it matches
    the live Counter. Each merge therefore costs O(touched-words ×
    word-len × log heap) instead of a full vocabulary-sized scan —
    the difference between minutes and hours at production depth
    (32k merges over a ~2M-word histogram has ~10^6 live pairs; a
    per-merge O(pairs) scan is ~10^10 comparisons)."""
    syms = [list(w) + [END] for w, _ in words]
    cnts = [c for _, c in words]
    pair_counts: Counter = Counter()
    where: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, s in enumerate(syms):
        c = cnts[i]
        for p in zip(s, s[1:]):
            pair_counts[p] += c
            where[p].add(i)
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p) == -negc:
                best = (p, -negc)
                break
        if best is None or best[1] < min_pair_count:
            break
        a, b = best[0]
        ab = a + b
        merges.append((a, b))
        touched = where.pop((a, b), set())
        changed: set[tuple[str, str]] = set()
        for i in touched:
            s = syms[i]
            c = cnts[i]
            # `where` entries can be stale (a prior merge rewrote the
            # word); subtract-then-re-add is a harmless no-op then
            for p in zip(s, s[1:]):
                pair_counts[p] -= c
                changed.add(p)
                if pair_counts[p] <= 0:
                    del pair_counts[p]
            ns = _merge_word(s, a, b, ab)
            syms[i] = ns
            for p in zip(ns, ns[1:]):
                pair_counts[p] += c
                changed.add(p)
                where[p].add(i)
        pair_counts.pop((a, b), None)
        changed.discard((a, b))
        for p in changed:
            c2 = pair_counts.get(p)
            if c2:
                heapq.heappush(heap, (-c2, p))
    return merges


def train_bpe(
    df: DataFrame,
    n_merges: int = 200,
    *,
    text_col: str = "text",
    max_words: int = 1_000_000,
    min_count: int = 1,
    min_pair_count: int = 2,
) -> tuple[list[tuple[str, str]], dict]:
    """Learn a BPE merge table from the corpus.

    Returns (merges, stats): ``merges`` is the ordered list of (left,
    right) symbol pairs; ``stats`` records the explicit training bound —
    how many distinct words were kept vs total, and what fraction of
    the corpus token MASS the kept slice covers (computed distributed,
    before anything is collected). At real corpus scale Zipf puts the
    coverage well above 0.99 for max_words=1M; a caller that sees less
    raises ``max_words``.

    Driver-memory floor: the merge loop holds the kept histogram's
    symbol lists plus the pair Counter/heap/index in driver memory —
    measured ~5.2 GB RSS at n_merges=32k over a 2M-word histogram
    (~650 s loop; BASELINE.md r11 BPE row). Size the driver for the
    histogram you keep — ``max_words`` is the lever: memory scales with
    kept words × average word length, NOT with corpus size (the corpus
    contributes exactly one distributed histogram pass)."""
    with MaterializeScope() as scope:
        hist = scope.hold(
            word_histogram(df, text_col=text_col).filter(F.col("cnt") >= min_count)
        )
        totals = hist.agg(
            F.count(F.lit(1)).alias("n_words"), F.sum("cnt").alias("mass")
        ).collect()[0]
        n_words, mass = int(totals["n_words"] or 0), int(totals["mass"] or 0)
        top = (
            hist.orderBy(F.desc("cnt"), "word")
            .limit(max_words)
            .collect()
        )
    words = [(r["word"], int(r["cnt"])) for r in top]
    kept_mass = sum(c for _, c in words)
    merges = _driver_bpe(words, n_merges, min_pair_count)
    stats = {
        "n_words_total": n_words,
        "n_words_kept": len(words),
        "mass_total": mass,
        "mass_kept": kept_mass,
        "coverage": (kept_mass / mass) if mass else 1.0,
        "n_merges": len(merges),
    }
    return merges, stats


# --------------------------------------------------------------------------
# Tokenization (distributed, Arrow-batched)
# --------------------------------------------------------------------------


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE encode: repeatedly merge the lowest-rank adjacent
    pair until none applies."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for p in zip(syms, syms[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, p
        if best_pair is None:
            break
        a, b = best_pair
        syms = _merge_word(syms, a, b, a + b)
    return syms


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col`` (array<string> of BPE tokens) and
    ``n_bpe_real`` (their count). The merge table rides as a broadcast
    of n_merges tuples; encoding runs in an Arrow-batched pandas UDF
    with a word→tokens cache per batch (Zipf ⇒ high hit rate). The
    whitespace pre-split is the same JVM tokenizer every other text op
    uses, so only per-WORD encoding crosses into Python."""
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast([tuple(m) for m in merges])

    @F.pandas_udf("array<string>")
    def encode(words_series: pd.Series) -> pd.Series:
        ranks = {p: i for i, p in enumerate(bc.value)}
        cache: dict[str, list[str]] = {}

        def enc_doc(words: list[str]) -> list[str]:
            out: list[str] = []
            for w in words:
                got = cache.get(w)
                if got is None:
                    got = _encode_word(w, ranks)
                    cache[w] = got
                out.extend(got)
            return out

        return words_series.apply(enc_doc)

    toks = F.filter(TX.tokens(F.col(text_col)), lambda t: t != "")
    return df.withColumn(out_col, encode(toks)).withColumn(
        "n_bpe_real", F.size(F.col(out_col))
    )
