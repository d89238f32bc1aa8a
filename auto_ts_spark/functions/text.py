"""Text-analysis expression builders for the documents pipeline.

These are the LLM-training-data operators (BASELINE.json north star):
language-ID, quality scoring, token counting, document fingerprinting,
shingling, MinHash, SimHash. Everything here is a *Catalyst expression
builder* — no Python UDFs — so the hot path stays in whole-stage
codegen at 100 TB.

Cross-engine determinism: every hash is derived from ``md5`` (present
in both Spark and DuckDB) via the first 15 hex chars cast to a 60-bit
integer, so DuckDB oracle queries can reproduce signatures bit-for-bit:
Spark ``conv(substr(md5(x),1,15),16,10)`` ≡ DuckDB
``cast('0x' || substr(md5(x),1,15) as ubigint)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword-ratio
# language heuristic. Real deployments swap in full profiles; the
# operator shape (explode → broadcast join → argmax) is what scales.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "es", "por"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "zh": ("de", "shi", "le", "bu", "wo", "you", "ta", "zhe", "men", "zai"),
}

STOPWORDS_EN = LANG_PROFILES["en"]


def let_bind(value: Column, body) -> Column:
    """Evaluate ``value`` once and pass it to ``body`` as a bound
    lambda variable: ``element_at(transform(array(value), body), 1)``.

    Higher-order-function lambdas re-evaluate any *captured* outer
    expression on every element — ``transform(sequence(1, n), i ->
    slice(expensive_expr, i, w))`` runs ``expensive_expr`` n times per
    row (O(n²) when the expression is itself O(n), e.g. a tokenizer).
    Binding it as the one element of a wrapping ``transform`` makes the
    inner references LambdaVariable lookups instead. This is the
    standard let-binding idiom for Catalyst expressions; the sf1 parity
    sweep caught ``winnow_fingerprints`` re-running the whole
    tokenize→shingle→md5 chain per window position without it.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse non-alphanumerics to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), r" ")


def token_count(col: Column, toks: Column | None = None) -> Column:
    """Whitespace token count (W-token counting).

    ``toks``: optionally a pre-tokenized array column — callers
    computing several token-derived metrics in one projection stage
    the array once (``withColumn``) and pass it here, so the
    tokenizer regex runs once per document instead of once per
    metric (CollapseProject keeps a non-cheap producer referenced
    more than once staged)."""
    return F.size(tokens(col) if toks is None else toks)


def bpe_ish_token_count(col: Column) -> Column:
    """A BPE-approximating token count: words + digits + punctuation
    runs, the common ``~4 chars/token`` regex heuristic."""
    return F.size(F.regexp_extract_all(col, F.lit(r"\w+|[^\w\s]"), 0))


def char_count(col: Column) -> Column:
    return F.length(col)


def punct_ratio(col: Column) -> Column:
    stripped = F.regexp_replace(col, r"[^\p{Punct}]", "")
    return F.length(stripped) / F.greatest(F.length(col), F.lit(1))


def digit_ratio(col: Column) -> Column:
    return F.length(F.regexp_replace(col, r"[^0-9]", "")) / F.greatest(
        F.length(col), F.lit(1)
    )


def stopword_ratio(
    col: Column,
    stopwords: tuple[str, ...] = STOPWORDS_EN,
    toks: Column | None = None,
) -> Column:
    t = tokens(col) if toks is None else toks
    sw = F.array(*[F.lit(s) for s in stopwords])

    def _ratio(tk: Column) -> Column:
        n_sw = F.size(F.filter(tk, lambda x: F.array_contains(sw, x)))
        return n_sw / F.greatest(F.size(tk), F.lit(1))

    # let-bound so the (possibly inline) tokenizer isn't evaluated
    # twice (filter + size)
    return let_bind(t, _ratio) if toks is None else _ratio(t)


def mean_word_length(col: Column, toks: Column | None = None) -> Column:
    """Mean token length. ``length(concat_ws('', toks))`` is exactly
    the sum of token lengths (tokens are never NULL) — an integer, so
    the double division is bit-identical to the oracle's
    ``list_sum(list_transform(toks, length))`` — and it stays in
    codegen instead of an interpreted per-token ``aggregate`` lambda
    (the profile's hottest expression before this)."""
    t = tokens(col) if toks is None else toks

    def _mean(tk: Column) -> Column:
        return F.length(F.concat_ws("", tk)) / F.greatest(
            F.size(tk), F.lit(1)
        )

    return let_bind(t, _mean) if toks is None else _mean(t)


def quality_score(col: Column, toks: Column | None = None) -> Column:
    """Composite [0,1] quality heuristic: penalize very short docs,
    high punctuation/digit density, low stopword incidence.

    Deterministic arithmetic over the component ratios — matches the
    oracle SQL expression term-for-term. ``toks``: see
    ``token_count``; without it the two token-derived terms share one
    let-bound tokenizer evaluation.
    """

    def _score(tk: Column) -> Column:
        length_term = F.least(F.size(tk) / F.lit(100.0), F.lit(1.0))
        sw_term = F.least(
            stopword_ratio(col, toks=tk) * 5.0, F.lit(1.0)
        )
        punct_pen = F.greatest(F.lit(1.0) - punct_ratio(col) * 4.0, F.lit(0.0))
        digit_pen = F.greatest(F.lit(1.0) - digit_ratio(col) * 4.0, F.lit(0.0))
        return (length_term + sw_term + punct_pen + digit_pen) / 4.0

    t = tokens(col) if toks is None else toks
    return let_bind(t, _score) if toks is None else _score(t)


def fingerprint(col: Column) -> Column:
    """Deterministic 60-bit content fingerprint of the normalized text."""
    return hash60(normalize_text(col))


def hash60(col: Column) -> Column:
    """md5-derived 60-bit integer hash — reproducible in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>) of the normalized text.

    ``transform(sequence(...))`` over the token array — JVM-side, no
    explode needed until the caller wants one row per shingle. The
    token array is let-bound so the tokenizer runs once per document,
    not once per shingle position (see ``let_bind``).
    """

    def _sh(toks: Column) -> Column:
        k = F.size(toks) - (n - 1)
        return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )

    return let_bind(tokens(col), _sh)


# Universal-hash family for MinHash: h_i(x) = (a_i·(x mod P) + b_i) mod P
# over the md5-derived base hash. ONE md5 per shingle (the 16-seeds-
# ×-md5 variant was 16× slower and dominated sf0.1 bench wall-clock);
# the linear permutations are integer arithmetic, reproducible in any
# SQL engine. P = 2^31 - 1 keeps every product within int64.
MINHASH_PRIME = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (2 * i + 1, (i * 2_654_435_761 + 987_654_321) % MINHASH_PRIME)
        for i in range(num_hashes)
    ]


def minhash_from_base(base_hashes: Column, num_hashes: int = 16) -> Column:
    """MinHash signature (array<bigint>) from an array of base hashes.

    Callers should materialize ``base_hashes`` as a real column first
    (one projection) so the md5 work isn't duplicated per hash fn.
    """
    def perm(a: int, b: int):
        # closure factory: pyspark introspects lambda arity, so the
        # coefficients must not appear as (defaulted) parameters
        return lambda h: (F.lit(a) * (h % MINHASH_PRIME) + F.lit(b)) % MINHASH_PRIME

    return F.array(
        *[
            F.array_min(F.transform(base_hashes, perm(a, b)))
            for a, b in minhash_coeffs(num_hashes)
        ]
    )


def minhash_signature(col: Column, num_hashes: int = 16, shingle_n: int = 3) -> Column:
    """MinHash signature straight from a text column — CONVENIENCE
    form for small ``num_hashes``/ad-hoc use only: the shingle+md5
    chain is inlined once PER hash function in a single expression, so
    whole-stage codegen compilation grows with num_hashes (~85 s at
    k=16 measured). Production paths (``minhash_lsh_pairs``,
    ``add_fingerprints``) stage the base hashes as their own
    projection and call ``minhash_from_base``."""
    base = F.transform(shingles(col, shingle_n), lambda s: hash60(s))
    return minhash_from_base(base, num_hashes)


def simhash_token_hashes_sql(text_col_name: str) -> str:
    """The per-token md5-derived hash array (array<bigint>) SimHash
    votes over — stage this as its OWN column, then apply
    ``simhash_from_hashes_sql`` to the staged name, so the
    tokenize+md5 chain runs once per document instead of once per
    output bit."""
    toks = (
        f"split(trim(regexp_replace(lower({text_col_name}), '[^a-z0-9]+', ' ')), ' ')"
    )
    return (
        f"transform({toks}, t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
    )


def simhash_from_hashes_sql(hash_col_name: str, bits: int = 32) -> str:
    """SimHash bit-voting over an already-computed token-hash column:
    bit b of the result is set when the majority of token hashes have
    bit b set. SQL form because ``shiftleft`` needs column-valued
    shift amounts, which the Python DSL doesn't expose."""
    return (
        "aggregate("
        f"  transform(sequence(0, {bits - 1}), b -> "
        f"    if(2 * size(filter({hash_col_name}, h -> (h div shiftleft(cast(1 as bigint), b)) % 2 = 1)) > size({hash_col_name}),"
        "      shiftleft(cast(1 as bigint), b), cast(0 as bigint))),"
        "  cast(0 as bigint), (acc, x) -> acc + x)"
    )
