"""Corpus quality operators for a training-data pipeline:
Gopher-style repetition statistics, a composite quality filter, and
benchmark decontamination.

None of these exist in the reference (CellO filters cells/genes by
expression QC, not documents by text quality), but they are table
stakes for the 100 TB documents use case this engine targets: every
published LLM pretraining pipeline (Gopher / MassiveText, Rae et al.
2021 §A1.1; GPT-3, Brown et al. 2020 §C; PaLM) runs (1) repetition
filters, (2) heuristic quality rules, and (3) n-gram decontamination
against evaluation benchmarks before training.

Scale design:
- repetition_stats: ONE explode pass builds every requested n-gram
  lambda-free (the arrays_zip/posexplode window pattern from the
  mention stage — nested higher-order-function lambdas evaluate
  interpreted per element and anti-scale on a shared heap, measured
  in BENCH/BASELINE.md "Lambda-free n-gram candidate builder"),
  `stack` unpivots the per-n grams in the same codegen span, then
  exactly TWO shuffles: a map-side combinable count on (doc, n, gram)
  and the per-doc conditional aggregate. Gram keys are doc-scoped so
  there is no hub-key skew. Line stats are pure per-row column
  expressions (no shuffle).
- gopher_quality_filter: repetition_stats + per-row signals, one
  doc_id equi-join (both sides already partitioned by doc_id from
  the aggregate; AQE handles the residual exchange).
- decontaminate: the benchmark side of the join is tiny relative to
  the corpus (eval suites are ~10^4-10^5 docs), so its DISTINCT
  shingle set is broadcast — the 100 TB corpus side never shuffles
  for the membership probe; the only corpus shuffles are the two
  map-side combinable per-doc counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cello_spark.functions.text import (
    stopword_ratio,
    token_count_ws,
    tokens as text_tokens,
)
from cello_spark.operators.dedup import shingles
from cello_spark.partitioning import ensure_min_partitions


def _gram_rows(
    docs: DataFrame, id_col: str, text_col: str, ns: tuple[int, ...]
) -> DataFrame:
    """(doc_id, n, gram) for every position and every n in `ns`, built
    lambda-free: posexplode over arrays_zip of shifted token slices
    ships each position's next max(ns)-1 tokens alongside it (O(max_n)
    bytes per row instead of retaining the whole token array through
    the explode), grams are top-level concat_ws, and `stack` unpivots
    the per-n gram columns inside the same WholeStageCodegen span."""
    max_n = max(ns)
    toks = ensure_min_partitions(docs).select(
        F.col(id_col).alias("doc_id"),
        text_tokens(text_col).alias("tokens"),
    )
    zip_expr = "arrays_zip(tokens" + "".join(
        f", slice(tokens, {k + 1}, size(tokens))" for k in range(1, max_n)
    ) + ")"
    tokpos = toks.select(
        "doc_id",
        F.size("tokens").alias("n_toks"),
        F.posexplode(F.expr(zip_expr)).alias("pos", "w"),
    ).select(
        "doc_id",
        "n_toks",
        "pos",
        F.col("w")["tokens"].alias("t0"),
        *[F.col("w")[str(k)].alias(f"t{k}") for k in range(1, max_n)],
    )
    # one gram column per n, null where the window runs off the span
    # (pos is 0-based: valid positions for an n-gram are 0..n_toks-n)
    gram_cols = [
        F.when(
            F.col("pos") <= F.col("n_toks") - n,
            F.concat_ws(" ", *[F.col(f"t{k}") for k in range(n)]),
        ).alias(f"g{n}")
        for n in ns
    ]
    stacked = tokpos.select("doc_id", *gram_cols).select(
        "doc_id",
        F.expr(
            "stack({}, {}) AS (n, gram)".format(
                len(ns), ", ".join(f"{n}, g{n}" for n in ns)
            )
        ),
    )
    return stacked.where(F.col("gram").isNotNull())


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Per-document repetition signals (Gopher/MassiveText §A1.1):

    - n_lines, dup_line_frac: fraction of lines that are repeats of an
      earlier line (1 - distinct/total over a '\\n' split) — a pure
      per-row expression via array_distinct, no shuffle, no lambda.
    - top{n}gram_frac: count of the single most frequent word n-gram
      over total n-gram occurrences (Gopher thresholds this at 0.20
      for n=2), per n in `ns`.
    - dup{n}gram_frac: fraction of n-gram occurrences whose gram
      occurs more than once in the document, per n in `ns`.

    Fractions are 0.0 for documents too short to form an n-gram.
    Exactly two shuffles regardless of len(ns): a map-side combinable
    count on (doc_id, n, gram) then a per-doc conditional aggregate;
    a doc_id equi-join attaches the (shuffle-free) line stats.
    """
    lines = F.split(F.col(text_col), "\n")
    line_stats = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).alias("n_lines"),
        F.when(
            F.size(lines) > 0,
            F.round(
                1.0
                - F.size(F.array_distinct(lines)).cast("double")
                / F.size(lines),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
    )
    counts = (
        _gram_rows(docs, id_col, text_col, ns)
        .groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    aggs = []
    for n in ns:
        is_n = F.col("n") == n
        aggs += [
            F.sum(F.when(is_n, F.col("c"))).alias(f"_tot{n}"),
            F.max(F.when(is_n, F.col("c"))).alias(f"_max{n}"),
            F.sum(F.when(is_n & (F.col("c") > 1), F.col("c")).otherwise(F.lit(0))).alias(
                f"_dup{n}"
            ),
        ]
    per_doc = counts.groupBy("doc_id").agg(*aggs)
    out = line_stats.join(per_doc, "doc_id", "left")
    for n in ns:
        tot = F.col(f"_tot{n}").cast("double")
        out = out.withColumn(
            f"top{n}gram_frac",
            F.coalesce(F.round(F.col(f"_max{n}") / tot, 6), F.lit(0.0)),
        ).withColumn(
            f"dup{n}gram_frac",
            F.coalesce(F.round(F.col(f"_dup{n}") / tot, 6), F.lit(0.0)),
        )
    return out.drop(*[c for n in ns for c in (f"_tot{n}", f"_max{n}", f"_dup{n}")])


def gopher_quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_char_ratio: float = 0.5,
    min_stopword_ratio: float = 0.01,
    max_dup_line_frac: float = 0.30,
    max_top2gram_frac: float = 0.20,
    max_dup3gram_frac: float = 0.60,
) -> DataFrame:
    """Composite heuristic quality rules in the spirit of Gopher
    (Rae et al. 2021 §A1.1): word-count bounds, mean word length
    bounds, an alphabetic-character floor, a stopword floor, and the
    repetition caps from `repetition_stats`. Returns every input doc
    with its signals and a `keep` boolean — filtering is the caller's
    `.where("keep")` so rejected docs stay auditable.

    Documented deviations from the paper (kept regex-free so the whole
    signal block stays in one codegen span): the alphabetic rule is a
    character-level ratio (letters / non-space chars) rather than
    "≥80% of words contain a letter", and the stopword rule is the
    engine's existing stopword_ratio floor rather than "≥2 distinct
    stopwords". mean word length is over whitespace tokens.
    """
    lower = F.lower(F.col(text_col))
    nonspace = F.length(F.translate(lower, " \t\n\r", ""))
    alpha = nonspace - F.length(
        F.translate(lower, "abcdefghijklmnopqrstuvwxyz \t\n\r", "")
    )
    signals = docs.select(
        F.col(id_col).alias("doc_id"),
        token_count_ws(text_col).alias("n_words"),
        F.when(
            token_count_ws(text_col) > 0,
            F.round(nonspace.cast("double") / token_count_ws(text_col), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        F.when(nonspace > 0, F.round(alpha.cast("double") / nonspace, 6))
        .otherwise(F.lit(0.0))
        .alias("alpha_char_ratio"),
        F.round(stopword_ratio(text_col), 6).alias("stopword_ratio"),
    )
    rep = repetition_stats(docs, id_col=id_col, text_col=text_col, ns=(2, 3))
    out = signals.join(rep, "doc_id")
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("alpha_char_ratio") >= min_alpha_char_ratio)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
        & (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("top2gram_frac") <= max_top2gram_frac)
        & (F.col("dup3gram_frac") <= max_dup3gram_frac)
    )
    return out.withColumn("keep", keep)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination by word n-gram overlap (the GPT-3 /
    PaLM recipe: drop training documents sharing too many n-grams with
    an evaluation set). For every corpus document:

        overlap_frac = |shingles(doc) ∩ shingles(benchmark)|
                       / |shingles(doc)|

    and `contaminated` = overlap_frac >= threshold. Documents with no
    shingles (empty text) report 0.0 / false.

    The benchmark's DISTINCT shingle set is broadcast by default
    (eval suites are ~10^4-10^5 documents — dict-sized next to a
    100 TB corpus), so the corpus side never shuffles for the
    membership probe; the remaining corpus shuffles are the two
    map-side combinable per-doc counts. Set
    broadcast_benchmark=False to fall back to a shuffle join when the
    "benchmark" is itself corpus-sized.
    """
    doc_sh = shingles(docs, id_col=id_col, text_col=text_col, n=n)
    bench_sh = (
        shingles(benchmark, id_col=id_col, text_col=text_col, n=n)
        .select("shingle")
        .distinct()
    )
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    sizes = doc_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    matched = (
        doc_sh.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    out = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(sizes, "doc_id", "left")
        .join(matched, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_matched"), F.lit(0)).alias("n_matched"),
            F.coalesce(
                F.round(
                    F.col("n_matched").cast("double") / F.col("n_shingles"), 6
                ),
                F.lit(0.0),
            ).alias("overlap_frac"),
        )
    )
    return out.withColumn("contaminated", F.col("overlap_frac") >= threshold)
