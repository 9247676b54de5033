"""Corpus-level text operators for a training-data pipeline:
TF-IDF term ranking, token-budget corpus packing, and deterministic
hash sampling (uniform + stratified).

None of these exist in the reference (CellO ranks genes by classifier
coefficients, not corpus statistics), but all are table stakes for
the 100 TB documents use case this engine targets: TF-IDF is the
classic inverted-index scoring pass (keyword extraction, lexical
retrieval, quality filtering), and token packing is how a corpus is
sharded into context-window-budget bins for LLM training.

Scale design:
- tfidf_top_terms: three shuffles, all map-side combinable — tf on
  (doc, term), df on term, and the per-doc top-k window on doc. The
  tf⋈df join is on term; the df side is vocab-sized (sublinear in
  corpus size), so AQE picks a broadcast when it fits. Hub terms
  (stopwords) concentrate tf rows but the join is 1:N from the df
  side — no row explosion, no salt needed.
- pack_token_bins: exactly ONE shuffle (by deterministic shard);
  within a shard the running token offset is a sequential window
  scan, so parallelism = n_shards — size it to the cluster
  (cores × a small factor). Sharding is a portable md5-prefix hash
  of doc_id so the layout is reproducible across engines and runs.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Window, functions as F

from cello_spark.functions.text import tokens as _tokens


def _portable_shard(col, n_shards: int):
    """Deterministic shard id in [0, n_shards): first 15 hex chars of
    md5 as a bigint, mod n_shards. Matches the DuckDB-expressible
    portable hash used by the dedup operators (dedup.portable_hash64_sql)
    so oracles can reproduce the layout exactly."""
    h = F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    return (h % n_shards).alias("shard")


def _tfidf_from_tf(tf: DataFrame, n_docs: int, k: int) -> DataFrame:
    """Score + per-doc top-k over an already-aggregated (doc_id, term,
    tf) table. Shared by the plain and the cached entry points."""
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    scored = tf.join(df, "term").withColumn(
        "tfidf", F.col("tf").cast("double") * idf
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def _tf_table(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        docs.select(F.col(id_col).alias("doc_id"), _tokens(text_col).alias("toks"))
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF.

    score(d, t) = tf(d, t) * (ln((N + 1) / (df(t) + 1)) + 1)

    with tf = raw term count in d, df = number of documents containing
    t, N = total documents (the sklearn-style smooth idf, expressible
    identically in ANSI SQL). Ties break by term ascending so the
    top-k set is deterministic. Returns
    (doc_id, term, tf, df, tfidf, rank), rank in 1..k.

    N is one scalar aggregate over the input (a count job, column
    pruned to nothing); tf/df are partial-aggregated map-side before
    their shuffles.

    tf is consumed twice (the df aggregate and the final scoring
    join), and Spark plans two full corpus scans for that self-join
    (no exchange reuse across the re-analyzed subtree — verified on
    the executed plan). This plain entry point pays the second scan
    and holds NO cache; for the single-scan path use
    `tfidf_top_terms_cached`, whose `with` block scopes the persisted
    tf table explicitly (no handle stashed on a DataFrame attribute —
    those are silently lost by the next transformation)."""
    n_docs = docs.count()
    return _tfidf_from_tf(_tf_table(docs, id_col, text_col), n_docs, k)


@contextmanager
def tfidf_top_terms_cached(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Single-corpus-scan TF-IDF: persists the aggregated (doc_id,
    term, tf) table (MEMORY_AND_DISK — spills instead of evicting, and
    keeps lineage intact for executor-loss recovery, unlike a
    localCheckpoint) so the scan + explode + aggregate runs ONCE for
    the df aggregate and the scoring join. Yields the top-k frame;
    unpersists the tf cache when the `with` block exits:

        with tfidf_top_terms_cached(docs, k=5) as top:
            top.write.parquet(...)   # materialize INSIDE the block

    Cache sizing: tf is one row per distinct (doc, term) — typically
    ~50-200 rows/doc, a fraction of the raw text bytes, but still
    corpus-proportional: at 100 TB budget executor storage memory for
    it or accept disk spill; the plain tfidf_top_terms trades the
    cache for a second scan."""
    from pyspark.storagelevel import StorageLevel

    n_docs = docs.count()
    tf = _tf_table(docs, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield _tfidf_from_tf(tf, n_docs, k)
    finally:
        tf.unpersist()


def pack_token_bins(
    docs: DataFrame,
    capacity: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into token-budget bins for LLM-training sharding.

    Documents are hashed into `n_shards` deterministic shards; within
    a shard, docs are laid out in doc_id order as one token stream and
    each doc's bin is the bin containing its START offset:

        start(d) = sum of token counts of preceding docs in the shard
        bin(d)   = floor(start(d) / capacity)

    (contiguous packing: a doc may straddle a boundary — it belongs to
    the bin it starts in, the greedy layout used when bins are files /
    sequence shards rather than hard context windows). Deterministic,
    one shuffle, and SQL-expressible, unlike first-fit bin packing,
    whose per-bin state is inherently sequential.

    Returns (doc_id, shard, bin_id, start_tok, n_tokens).
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        _portable_shard(F.col(id_col), n_shards),
        F.size(_tokens(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.select(
        "doc_id",
        "shard",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start_tok"),
        "n_tokens",
    ).select(
        "doc_id",
        "shard",
        F.floor(F.col("start_tok") / capacity).cast("bigint").alias("bin_id"),
        "start_tok",
        "n_tokens",
    )


def hash_sample(
    docs: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic hash sampling: keep a row iff
    hash64(salt || id) mod 1e6 < rate * 1e6.

    The reproducible alternative to rng-based sample(): membership is
    a pure function of the row id (and salt), so re-runs, resumed
    pipelines, and different engines agree row-for-row — exactly what
    a training-data pipeline needs for auditable corpus subsampling.
    Distinct salts give independent samples (e.g. train/holdout
    splits). Zero shuffle: a filter the scan absorbs."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return docs.filter((h % 1_000_000) < int(rate * 1_000_000))


def stratified_hash_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    default_rate: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling: each row's keep threshold
    comes from `rates[strata_col]` (broadcast map join; unmapped
    strata fall back to default_rate). The corpus-rebalancing
    primitive (e.g. downsample dominant languages/sources while
    keeping the tail) — same zero-shuffle membership rule as
    hash_sample."""
    spark = docs.sparkSession
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for {k!r} must be in [0, 1], got {v}")
    rate_df = spark.createDataFrame(
        [(k, int(v * 1_000_000)) for k, v in rates.items()],
        f"{strata_col} string, __keep_below bigint",
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return (
        docs.join(F.broadcast(rate_df), strata_col, "left")
        .withColumn(
            "__keep_below",
            F.coalesce(
                F.col("__keep_below"), F.lit(int(default_rate * 1_000_000))
            ),
        )
        .filter((h % 1_000_000) < F.col("__keep_below"))
        .drop("__keep_below")
    )


def length_quantiles(
    docs: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group distribution profile of a numeric column — the
    corpus-health dashboard query (doc-length percentiles per source /
    language drive truncation budgets and outlier cuts in every
    published pretraining pipeline).

    exact=False (the default, and the only sane option at 100 TB) uses
    approx_percentile: a mergeable Greenwald-Khanna sketch, map-side
    combinable, one tiny shuffle of sketches per group. exact=True
    computes true linear-interpolation percentiles (Spark collects the
    group's values into the aggregation buffer — fine at oracle scale,
    unbounded memory per group at corpus scale); it exists so the
    DuckDB quantile_cont oracle can hash-check the exact path and the
    approx path can be bounded against it in tests.

    Output: (group, n, mean, p25, p50, ... one column per prob)."""
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.avg(value_col).cast("double").alias("mean"),
    ]
    for p in probs:
        name = "p" + f"{p * 100:g}".replace(".", "_")
        col = (
            F.percentile(value_col, F.lit(float(p)))
            if exact
            else F.percentile_approx(value_col, F.lit(float(p)), F.lit(accuracy))
        )
        aggs.append(col.cast("double").alias(name))
    return docs.groupBy(group_col).agg(*aggs)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-token-length chunks with overlap
    — the context-window chunking step every LLM training / RAG
    indexing pipeline runs between cleaning and tokenization.

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk may be short; a
    doc with <= chunk_tokens tokens yields exactly one chunk; empty
    docs yield none. Output: (id, chunk_idx, chunk_text, n_tokens).

    Scale: tokenization + slice + posexplode all inside one
    WholeStageCodegen span, zero shuffle (the explode is pipelined
    with the scan); only O(chunk_tokens) bytes per output row are
    materialized. Chunk counts are derived with pure integer
    arithmetic on positive numerators, so the DuckDB oracle can
    replicate them exactly."""
    if overlap < 0 or overlap >= chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    stride = chunk_tokens - overlap
    toks = docs.select(
        F.col(id_col).alias(id_col),
        _tokens(text_col).alias("t"),
    ).filter(F.size("t") > 0)
    # extra full strides beyond the first chunk; numerator kept
    # positive so int division is floor in every engine
    n_expr = (
        f"1 + if(size(t) > {chunk_tokens}, "
        f"(size(t) - {chunk_tokens} + {stride} - 1) div {stride}, 0)"
    )
    return toks.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_expr} - 1), "
                f"i -> slice(t, i * {stride} + 1, {chunk_tokens}))"
            )
        ).alias("chunk_idx", "chunk"),
    ).select(
        id_col,
        "chunk_idx",
        F.array_join("chunk", " ").alias("chunk_text"),
        F.size("chunk").alias("n_tokens"),
    )


def temperature_mixture_rates(
    sizes: dict[str, int],
    alpha: float = 0.3,
    target_total: int | None = None,
) -> dict[str, float]:
    """Per-stratum keep rates that rebalance a corpus toward
    p_s ∝ n_s^alpha — the exponent-smoothed (temperature) sampling
    rule every multilingual pretraining pipeline uses to keep tail
    languages/sources from drowning (XLM-R, Conneau et al. 2020 §3.1,
    alpha=0.3; mBERT's exponent smoothing).

    With target_total=None the scale is the largest feasible corpus
    (the binding stratum keeps rate 1.0); otherwise expected kept rows
    total ~target_total. Rates cap at 1.0 (sampling never duplicates).
    Pure driver-side arithmetic over the per-stratum COUNTS (strata
    are few; the corpus itself never leaves the cluster) — feed the
    result to stratified_hash_sample for the deterministic membership
    rule."""
    if not sizes:
        return {}
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    w = {s: float(n) ** alpha for s, n in sizes.items()}
    z = sum(w.values())
    if target_total is None:
        c = min(n / (w[s] / z) for s, n in sizes.items())
    else:
        c = float(target_total)
    return {
        s: min(1.0, c * (w[s] / z) / n) for s, n in sizes.items()
    }


def temperature_sample(
    docs: DataFrame,
    strata_col: str = "source",
    alpha: float = 0.3,
    target_total: int | None = None,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic tempered rebalancing: ONE map-side-combinable
    count per stratum (collected — strata are dictionary-sized), rate
    derivation driver-side, then the zero-shuffle hash-membership
    filter of stratified_hash_sample."""
    sizes = {
        r[0]: r[1]
        for r in docs.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if None in sizes:
        # a NULL stratum would be counted in the rate normalization
        # (depressing every other rate) yet silently dropped by the
        # membership equi-join — refuse instead
        raise ValueError(
            f"temperature_sample: NULL values in {strata_col!r}; "
            "coalesce them to an explicit bucket first"
        )
    rates = temperature_mixture_rates(
        sizes, alpha=alpha, target_total=target_total
    )
    return stratified_hash_sample(
        docs, rates, strata_col, default_rate=0.0, id_col=id_col, salt=salt
    )


def cap_per_stratum(
    docs: DataFrame,
    n_max: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum cap: keep at most n_max rows per
    stratum — the "limit pages per domain" rule web-corpus pipelines
    apply so no single site dominates (C4 and RefinedWeb both cap
    per-domain contributions). Which rows survive is decided by
    md5-hash order (salt-keyed), NOT arrival order, so the kept set
    is a uniform, reproducible sample of each stratum — identical
    across re-runs, partitionings, and engines.

    Scale: one rank window through partitioning.capped_per_group.
    For n_max <= 1000 Spark's map-side WindowGroupLimit keeps at most
    n_max rows per stratum per map task before the stratum shuffle,
    so a giant stratum never reaches one task whole."""
    if n_max < 1:
        raise ValueError(f"n_max must be >= 1, got {n_max}")
    from cello_spark.partitioning import capped_per_group

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return (
        capped_per_group(
            docs.withColumn("__h", h),
            [strata_col],
            ["__h", id_col],
            n_max,
        )
        .drop("__h")
    )
