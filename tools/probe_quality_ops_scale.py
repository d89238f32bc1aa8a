"""Scale probe for the r6 quality operators: CCNet LM-perplexity
scoring and the in-engine fastText-style classifier, measured on the
documents table at growing scale factors.

For each sf dir it times
  - lm: train_ngram_lm on the en slice + perplexity_score over the
    whole corpus + tercile summary (one action)
  - clf: train_quality_classifier (3 iterations, the default entry
    shape) + classify + a count action

and prints one JSON line per (sf, op) with docs/sec so super-linear
growth is visible at a glance.

Usage: python tools/probe_quality_ops_scale.py [sf_dir | n_docs ...]
  default: /root/testdata/sf0.1 .localdata/sf1 .localdata/sf10
  A bare integer argument (e.g. 5000000) names a documents-ONLY
  fixture generated on demand under .localdata/probe_docs/docs_{n}
  (chunked writes, vocabulary scaled like the sf generator) — the r7
  path for probing one decade past the largest star-schema fixture
  without generating 150M lineitem rows nobody reads.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_CHUNK = 250_000


def ensure_docs_fixture(n_doc: int) -> str:
    """Build (once) a documents-only fixture of ``n_doc`` rows in
    chunks of ``_CHUNK`` so driver memory stays bounded; vocab_mult
    follows the sf generator's n_doc/5000 rule so shingle/bigram
    sparsity matches what a real corpus that size would show."""
    import numpy as np
    import pyarrow.parquet as pq

    from gen_testdata import make_documents

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".localdata", "probe_docs", f"docs_{n_doc}",
    )
    if os.path.exists(os.path.join(root, "_DONE")) or os.path.exists(
        os.path.join(root, "part0.parquet")  # probe_curate_scale legacy form
    ):
        return root
    os.makedirs(root, exist_ok=True)
    for f in os.listdir(root):  # clear a partial chunked write
        if f.startswith("part"):
            os.remove(os.path.join(root, f))
    vocab_mult = max(1, round(n_doc / 5000))
    off = 0
    part = 0
    while off < n_doc:
        n = min(_CHUNK, n_doc - off)
        rng = np.random.default_rng(1234 + part)
        tbl = make_documents(rng, n, vocab_mult=vocab_mult)
        tbl = tbl.set_column(
            0, "doc_id", [np.arange(off, off + n, dtype=np.int64)]
        )
        pq.write_table(tbl, os.path.join(root, f"part{part:04d}.parquet"))
        off += n
        part += 1
        print(f"  fixture {root}: {off}/{n_doc}", file=sys.stderr, flush=True)
    with open(os.path.join(root, "_DONE"), "w") as fh:
        fh.write(str(n_doc))
    return root


def main(dirs: list[str]) -> None:
    from pyspark.sql import functions as F

    from auto_ts_spark import get_spark
    from auto_ts_spark.io.sources import load_table
    from auto_ts_spark.operators import lm_quality as LQ
    from auto_ts_spark.operators import quality_classifier as QC

    spark = get_spark("probe-quality-ops")
    for sf_dir in dirs:
        if sf_dir.isdigit():
            path = ensure_docs_fixture(int(sf_dir))
            from auto_ts_spark.operators.partitioning import ensure_parallelism

            docs = ensure_parallelism(spark.read.parquet(path))
            sf_dir = path
        else:
            docs = load_table(spark, sf_dir, "documents")
        n = docs.count()

        t0 = time.perf_counter()
        lm = LQ.train_ngram_lm(docs.filter(F.col("lang") == "en"))
        buckets = LQ.perplexity_terciles(LQ.perplexity_score(docs, lm))
        n_b = buckets.count()
        lm_wall = time.perf_counter() - t0
        print(json.dumps({
            "probe": "lm_perplexity", "sf_dir": sf_dir, "docs": n,
            "wall_sec": round(lm_wall, 2),
            "docs_per_sec": round(n / lm_wall),
            "tercile_rows": n_b,
        }), flush=True)

        t0 = time.perf_counter()
        w = QC.train_quality_classifier(
            docs, F.col("lang") == "en", n_buckets=128, iters=3, lr=1.0
        )
        kept = QC.classify(docs, w, n_buckets=128).count()
        clf_wall = time.perf_counter() - t0
        print(json.dumps({
            "probe": "quality_classifier", "sf_dir": sf_dir, "docs": n,
            "wall_sec": round(clf_wall, 2),
            "docs_per_sec": round(n / clf_wall),
            "scored": kept,
        }), flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:] or [
        "/root/testdata/sf0.1",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata/sf1"),
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata/sf10"),
    ])
