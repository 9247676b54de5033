"""10x data-scale probe for the dedup family (round-4 verdict item 6).

The LSH/Jaccard queries are the bench's most expensive, and their r4
speedup is a materialization trade (eager localCheckpoint `_pin`s of
the shingle/signature tables). This probe answers two questions the
sf0.1 bench can't:

1. does per-doc cost stay ~flat when the corpus grows 10x (the
   banded/capped pair-forming paths are designed to scale linearly in
   docs at fixed df caps — a superlinear blowup here would mean a cap
   isn't actually bounding the join)?
2. how much executor storage do the pinned tables take at 10x (the
   persist-the-index trade must not blow local storage at scale)?

Method: run minhash_lsh_pairs (production xxhash64 config),
ngram_jaccard_pairs, and jaccard_pairs_cross — the exact operator
configs of q_minhash_pairs_fast / q_ngram_jaccard / q_cross_dedup —
cold, once per scale, on (a) the sf0.1 documents table (5k docs) and
(b) a deterministically generated 10x corpus with the SAME vocabulary
distribution and doc-length profile (token frequencies and lengths
fitted from sf0.1; iid redraw, so duplicate-group structure does not
degenerate into 10x replicas of one group). Pinned bytes are the
RDD-storage delta captured right after each query's action (the
localCheckpoint blocks are alive exactly while the result DataFrame
is), and per-doc cost ratio = (wall_10x / docs_10x)/(wall_1x/docs_1x).

Writes BENCH/dedup_scale.json; one JSON line to stdout.
Usage: python tools/bench_dedup_scale.py [scale (default 10)]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _storage_bytes(spark) -> int:
    """Total bytes of cached/checkpointed RDD blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _drain_storage(spark, timeout_sec: float = 30.0) -> int:
    """Drop references and nudge both GCs until the RDD storage level
    stabilizes (ContextCleaner frees blocks asynchronously — reading a
    baseline while the previous query's blocks are still draining
    would corrupt the delta). Returns the stable baseline bytes."""
    gc.collect()
    last = None
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout_sec:
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.5)
        cur = _storage_bytes(spark)
        if cur == 0 or cur == last:
            return cur
        last = cur
    return _storage_bytes(spark)


def generate_corpus(
    base_pdf, n_docs: int, seed: int = 42, dup_frac: float = 0.06
):
    """Deterministic corpus with sf0.1's vocabulary distribution and
    doc-length profile. `dup_frac` of the docs are near-duplicate
    variants of an earlier doc (90% token overlap) so the corpus keeps
    PROPORTIONAL near-dup structure — without it the iid redraw has
    almost no qualifying pairs and the 10x run would skip the
    pair-verify work the probe is supposed to scale-test. Groups stay
    small (each variant picks an independent recent parent), so no
    replica hub-group forms."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    tokens: dict[str, int] = {}
    lengths = []
    for t in base_pdf.text:
        ws = t.split()
        lengths.append(len(ws))
        for w in ws:
            tokens[w] = tokens.get(w, 0) + 1
    vocab = sorted(tokens)
    freq = np.array([tokens[w] for w in vocab], dtype=np.float64)
    probs = freq / freq.sum()
    lengths = np.array(lengths)
    langs = base_pdf.lang.tolist()
    sources = sorted(set(base_pdf.source))
    rows = []
    texts: list[list[str]] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_frac:
            parent = texts[int(rng.integers(max(i - 1000, 0), i))]
            words = list(parent)
            n_mut = max(1, len(words) // 10)
            for _ in range(n_mut):
                words[int(rng.integers(len(words)))] = vocab[
                    int(rng.integers(len(vocab)))
                ]
        else:
            n = int(lengths[rng.integers(len(lengths))])
            words = list(rng.choice(vocab, size=max(n, 1), p=probs))
        text = " ".join(words)
        texts.append(words)
        rows.append(
            (
                i,
                text,
                langs[int(rng.integers(len(langs)))],
                sources[i % len(sources)],
                len(text),
            )
        )
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )


def _ops():
    from pyspark.sql import functions as F

    from cello_spark.operators.dedup import (
        jaccard_pairs_cross,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    def minhash_fast(docs):
        return minhash_lsh_pairs(
            docs, threshold=0.2, n=3, num_hashes=64, bands=32
        )

    def ngram_jaccard(docs):
        return ngram_jaccard_pairs(docs, threshold=0.3, n=3)

    def cross_dedup(docs):
        left = docs.where(F.col("doc_id") % 2 == 1)
        right = docs.where(F.col("doc_id") % 2 == 0)
        return jaccard_pairs_cross(
            left, right, threshold=0.2, n=3, max_shingle_df=1000
        )

    return {
        "q_minhash_pairs_fast": minhash_fast,
        "q_ngram_jaccard": ngram_jaccard,
        "q_cross_dedup": cross_dedup,
    }


def measure(spark, docs_path: str, n_docs: int) -> dict:
    out = {}
    for name, op in _ops().items():
        pre = _drain_storage(spark)
        docs = spark.read.parquet(docs_path)
        t0 = time.monotonic()
        res = op(docs)
        n_pairs = res.count()
        wall = time.monotonic() - t0
        pinned = max(_storage_bytes(spark) - pre, 0)
        out[name] = {
            "wall_sec": round(wall, 3),
            "n_pairs": int(n_pairs),
            "pinned_bytes": int(pinned),
            "per_doc_ms": round(1000.0 * wall / n_docs, 4),
        }
        del res, docs
    return out


def main() -> None:
    scale = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from cello_spark.session import get_spark

    # cores: SPARK_GRAFT_CPUS, else every local core (get_spark)
    spark = get_spark(app_name="bench_dedup_scale")
    base_pdf = spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")
    ).toPandas()
    n1 = len(base_pdf)
    n10 = n1 * scale

    tmp = tempfile.mkdtemp(prefix="dedup_scale_")
    big_path = os.path.join(tmp, "documents_10x.parquet")
    t0 = time.monotonic()
    big_pdf = generate_corpus(base_pdf, n10)
    spark.createDataFrame(big_pdf).repartition(32).write.parquet(big_path)
    gen_sec = time.monotonic() - t0

    r1 = measure(spark, os.path.join(SF_DIR, "documents.parquet"), n1)
    r10 = measure(spark, big_path, n10)

    report = {
        "sf_dir": SF_DIR,
        "docs_1x": n1,
        "docs_10x": n10,
        "corpus_gen_sec": round(gen_sec, 2),
        "queries": {},
    }
    for name in r1:
        ratio = r10[name]["per_doc_ms"] / r1[name]["per_doc_ms"]
        report["queries"][name] = {
            "1x": r1[name],
            "10x": r10[name],
            "per_doc_cost_ratio": round(ratio, 3),
        }
    report["max_per_doc_cost_ratio"] = max(
        q["per_doc_cost_ratio"] for q in report["queries"].values()
    )
    report["max_pinned_bytes_10x"] = max(
        q["10x"]["pinned_bytes"] for q in report["queries"].values()
    )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "dedup_scale.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
