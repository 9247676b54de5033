"""Deduplication operator family for training-data pipelines.

All four families are expressed as DataFrame plans that scale: shuffles
only on bounded-cardinality keys (fingerprints, band buckets), explicit
common-shingle capping so self-joins can't quadratically blow up on
boilerplate, and map-side-combinable aggregations throughout.

- exact_duplicates / dedup_exact : md5-fingerprint groupBy (one shuffle)
- ngram_jaccard_pairs            : exact n-gram Jaccard via shingle
                                   inverted index self-join
- minhash_lsh_pairs              : MinHash signatures + banded LSH
                                   bucketing; candidates optionally
                                   verified with exact Jaccard
- simhash_pairs                  : 64-bit SimHash + hamming-band join

The shingle-based operators tokenize and shingle each input row
exactly once: `shingles` emits explode(array_distinct(n-grams)),
`_capped_shingles` pins that table and drops over-cap shingles with a
left-anti join against the small over-cap set, and the MinHash
operators pin one per-doc (doc_id, shingles, sig) table that feeds
both the band join and the array_intersect verify. On the
`corpus_dedup` benchmark (600 docs, 4-core / 15 GB box) this took the
Spark jobs per call from 16 / 11 / 15 to 10 / 8 / 10
(minhash_lsh_pairs / ngram_jaccard_pairs / jaccard_pairs_cross) and
the median latency of one pass of all three from 4.21 s to 2.38 s
over ten seeds; the plan it replaced re-shingled the input for the
cap's semi-join probe and verified candidates by exploding them
against both shingle tables.

Embedding near-dup lives in operators/similarity.py (cosine top-k).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window, functions as F

from cello_spark.functions.text import fingerprint_md5, tokens as text_tokens
from cello_spark.partitioning import ensure_min_partitions

_log = logging.getLogger(__name__)

# Default document-frequency cap for shingles entering a self-join.
# A shingle shared by df docs creates O(df²) candidate pairs; one
# boilerplate header shared by 10⁶ docs is the classic dedup
# scale-killer. 5000 keeps the worst bucket at ~25M pairs (one task's
# worth) and such shingles carry ~no similarity signal anyway. Pass
# max_shingle_df=None to disable (exact semantics, unsafe at scale);
# audit what a cap drops with `shingle_df_stats`.
DEFAULT_MAX_SHINGLE_DF = 5000


def _pin(df: DataFrame) -> DataFrame:
    """Materialize a multiply-consumed intermediate with an eager
    localCheckpoint. The uncapped shingle table feeds the df-cap count
    and its anti-join, then the pair join (twice, l/r) and the set-size
    aggregates; the MinHash per-doc table feeds the band join and both
    sides of the verify — without pinning, each consumer re-runs
    tokenize -> explode on the input. Pinning the shingle table BEFORE
    the cap is what makes each call read its input once: on the
    600-doc `corpus_dedup` workload (4 cores) the input is evaluated
    once per row instead of twice, and one minhash_lsh_pairs call runs
    10 Spark jobs instead of 16. At cluster scale this stores ONE copy
    of data the plan otherwise recomputes — the standard
    persist-the-index trade (10x scale probe: BENCH/dedup_scale.json)."""
    return df.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ids: int = 100,
) -> DataFrame:
    """Groups of byte-identical (normalized) docs: returns
    (fingerprint, n_dups, keep_id, dup_ids, n_ids_omitted) for groups
    of size > 1. dup_ids holds the id-order-first `max_ids` member ids
    — an explicit cap, never the whole group: a boilerplate page
    duplicated 10^8 times across a crawl would otherwise put 10^8 ids
    in ONE array/row (the unbounded-collect_list hazard). The cap is
    partitioning.capped_per_group over every fingerprint, applied
    before the restriction to duplicates: its map-side
    WindowGroupLimit keeps at most max_ids ids per fingerprint per map
    task ahead of the fingerprint shuffle, so no task receives a whole
    hub group. n_ids_omitted says what the cap dropped. Pass
    max_ids=None only on inputs known small.

    .. versionchanged:: round 4
       Output contract change: dup_ids used to hold the FULL group
       membership and there was no n_ids_omitted column. Callers that
       need the old unbounded behavior must pass ``max_ids=None``
       explicitly (and accept the hub-group hazard that motivated the
       cap); callers reading positionally must account for the new
       trailing ``n_ids_omitted`` column."""
    from cello_spark.partitioning import capped_per_group

    # pinned: the fingerprint projection (md5 over all text) feeds the
    # group aggregate and the cap — one scan instead of two
    fp = _pin(
        df.select(
            F.col(id_col).alias("doc_id"),
            fingerprint_md5(text_col).alias("fingerprint"),
        )
    )
    groups = (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )
    members = (
        fp
        if max_ids is None
        else capped_per_group(fp, ["fingerprint"], ["doc_id"], n_max=max_ids)
    )
    # the singletons (>99% of fingerprints on a typical corpus) leave
    # before the collect_list aggregate; the capped side is already
    # partitioned by fingerprint, so this semi-join adds no shuffle
    members = members.join(groups.select("fingerprint"), "fingerprint", "left_semi")
    ids = members.groupBy("fingerprint").agg(
        F.array_sort(F.collect_list("doc_id")).alias("dup_ids")
    )
    return groups.join(ids, "fingerprint").select(
        "fingerprint",
        "n_dups",
        "keep_id",
        "dup_ids",
        (F.col("n_dups") - F.size("dup_ids")).cast("int").alias("n_ids_omitted"),
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative of each fingerprint group.

    min-id per fingerprint as a map-side-combinable AGGREGATE + a
    semi-join on (fingerprint, id), NOT a row_number window over the
    fingerprint: a window sends every copy of one text to a single
    task's sort, and exact duplicates are precisely where a hub group
    is expected (a boilerplate page duplicated 10^8 times across a
    crawl). The aggregate reduces each fingerprint to one row map-side
    before any shuffle; the semi-join key (fingerprint, id) is unique
    per row — no skew.

    Precondition: id_col must be unique per row. With duplicate ids
    the semi-join keeps EVERY row matching (fingerprint, min_id),
    where the row_number formulation this replaces kept exactly one —
    dedupe ids upstream if the input can carry duplicates."""
    fp = df.withColumn("__fp", fingerprint_md5(text_col))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, ["__fp", id_col], "left_semi").drop("__fp")


# ---------------------------------------------------------------------------
# Shingles
# ---------------------------------------------------------------------------


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).
    JVM-side n-gram generation (same codegen pattern as mention
    candidate generation); `array_distinct` dedups within the doc's
    row, so no dropDuplicates shuffle. Precondition: id_col is unique
    per row (two rows with one id keep both rows' shingles)."""
    toks = ensure_min_partitions(df).select(
        F.col(id_col).alias("doc_id"),
        text_tokens(text_col).alias("tokens"),
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""
                array_distinct(if(size(tokens) >= {n},
                   transform(sequence(1, size(tokens) - {n} + 1),
                             i -> array_join(slice(tokens, i, {n}), ' ')),
                   if(size(tokens) > 0, array(array_join(tokens, ' ')), array())))
                """
            )
        ).alias("shingle"),
    )


def _over_cap(sh: DataFrame, max_df: int) -> DataFrame:
    """(shingle, df) for every shingle in more than max_df docs — at
    most rows / (max_df + 1) of them. A combinable count, NOT a
    whole-partition count window: the window form buffers every row of
    one shingle in a single task, and the boilerplate shingles the cap
    exists to drop are exactly the hub groups (10^8-doc shingles)."""
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
    )


def _capped_shingles(
    sh: DataFrame, max_df: int | None, op: str = "jaccard"
) -> DataFrame:
    """Pin the shingle table once (the input is tokenized exactly
    once), then drop shingles occurring in more than max_df docs before
    any self-join — boilerplate shingles otherwise create O(df²) pairs.
    The drop is a left-anti join against the small over-cap set (AQE
    broadcasts it), so the cap re-reads the pinned rows, never the
    input. Not silent: the cap is logged at plan time, and
    `shingle_df_stats` reports exactly which shingles a given cap
    drops."""
    sh = _pin(sh)
    if max_df is None:
        _log.warning(
            "%s: max_shingle_df=None — self-join is unbounded on "
            "boilerplate shingles; unsafe beyond small scale", op
        )
        return sh
    _log.info(
        "%s: dropping shingles with doc-frequency > %d before the "
        "self-join (audit with shingle_df_stats)", op, max_df
    )
    return sh.join(_over_cap(sh, max_df).select("shingle"), "shingle", "left_anti")


def shingle_df_stats(
    df: DataFrame,
    max_shingle_df: int = DEFAULT_MAX_SHINGLE_DF,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Audit the shingle cap: (shingle, df) for every shingle the cap
    would drop, most frequent first. Run this when tuning
    max_shingle_df on a new corpus."""
    return _over_cap(
        shingles(df, id_col, text_col, n), max_shingle_df
    ).orderBy(F.desc("df"))


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard
# ---------------------------------------------------------------------------


def _jaccard_tail(pairs: DataFrame, shl: DataFrame, shr: DataFrame,
                  threshold: float) -> DataFrame:
    """(a, b, jaccard) from (a, b, common) counts plus the capped
    shingle tables each side's set sizes come from. shl/shr may be the
    SAME DataFrame (the self-join family) or two corpora (the cross
    family) — shared so the two variants cannot diverge."""
    sizes_l = (
        shl.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_a"))
        .withColumnRenamed("doc_id", "a")
    )
    sizes_r = (
        shr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz_b"))
        .withColumnRenamed("doc_id", "b")
    )
    return (
        pairs.join(sizes_l, "a")
        .join(sizes_r, "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """All doc pairs (a < b) with shingle-set Jaccard ≥ threshold.
    Plan: inverted index self-join on shingle → common counts →
    |A∪B| = |A|+|B|-common. Shuffles on shingle (pair generation) and
    (a,b) (common count) only. Shingles with doc-frequency above
    max_shingle_df (finite by default — see DEFAULT_MAX_SHINGLE_DF) are
    dropped from BOTH the index and the set sizes, so the reported
    jaccard is over the capped shingle sets (consistent, auditable via
    shingle_df_stats)."""
    sh = _capped_shingles(
        shingles(df, id_col, text_col, n), max_shingle_df,
        op="ngram_jaccard_pairs",
    )
    pairs = (
        sh.alias("l")
        .join(sh.alias("r"), "shingle")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .groupBy(
            F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_tail(pairs, sh, sh, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# 2^31 - 1 (Mersenne prime): h, a, b < p keeps a*h + b < 2^62, so the
# universal-hash arithmetic never overflows a long under ANSI mode
_MERSENNE = (1 << 31) - 1


def portable_hash64_sql(col_sql: str) -> str:
    """Engine-portable 60-bit string hash: the top 15 hex digits of
    md5 parsed as a non-negative bigint. Spark (conv) and DuckDB
    (cast '0x…') compute the identical value, so operators built on it
    can be verified with a DuckDB SQL oracle. ~5x slower than
    xxhash64 — the default hash_strategy stays 'xxhash64'; pass
    hash_strategy='md5' where cross-engine verifiability matters."""
    return f"cast(conv(substr(md5({col_sql}), 1, 15), 16, 10) as bigint)"


def _hash64_sql(col_sql: str, hash_strategy: str) -> str:
    if hash_strategy == "xxhash64":
        return f"xxhash64({col_sql})"
    if hash_strategy == "md5":
        return portable_hash64_sql(col_sql)
    raise ValueError(f"unknown hash_strategy {hash_strategy!r}")


def minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """The (a, b) universal-hash coefficients for MinHash permutations
    — exposed so a SQL oracle can embed the exact same literals."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE), rnd.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    sh: DataFrame,
    num_hashes: int = 64,
    seed: int = 42,
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """(doc_id, shingles: array<string>, sig: array<long>) — one row
    per doc: its shingle set and its k-permutation MinHash over the
    shingle hash values, using (a*h + b) mod p universal hashing in
    GF(2^31-1). One groupBy(doc_id) collects the shingles and their
    hashes; the signature is then ONE array expression per doc,
    sig[i] = min over h of (a_i*h + b_i) mod p, all JVM-side.
    hash_strategy='md5' swaps xxhash64 for the portable md5-prefix
    hash (DuckDB-replicable, slower)."""
    coeffs = minhash_coeffs(num_hashes, seed)
    ca = ", ".join(str(a) for a, _ in coeffs)
    cb = ", ".join(str(b) for _, b in coeffs)
    h = F.pmod(F.expr(_hash64_sql("shingle", hash_strategy)), F.lit(_MERSENNE))
    return (
        sh.groupBy("doc_id")
        .agg(F.collect_list("shingle").alias("shingles"), F.collect_list(h).alias("h"))
        .select(
            "doc_id",
            "shingles",
            F.expr(
                f"zip_with(array({ca}), array({cb}), (a, b) -> "
                f"array_min(transform(h, x -> (x * a + b) % {_MERSENNE})))"
            ).alias("sig"),
        )
    )


def _band_candidates(
    sig_l: DataFrame,
    sig_r: DataFrame,
    num_hashes: int,
    bands: int,
    hash_strategy: str,
) -> DataFrame:
    """Distinct (a, b) doc pairs sharing any LSH band key; a < b when
    sig_l and sig_r are the same table. One posexplode per side, band
    keys are uniformly-distributed hashes (immune to content skew).
    Shared by the self-join and cross-corpus variants so their
    bucketing cannot diverge."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    band_key = _hash64_sql(f"array_join(slice(sig, b * {r} + 1, {r}), ',')", hash_strategy)

    def banded(sig: DataFrame) -> DataFrame:
        return sig.select(
            "doc_id",
            F.posexplode(
                F.expr(f"transform(sequence(0, {bands - 1}), b -> {band_key})")
            ).alias("band", "band_hash"),
        )

    self_join = sig_r is sig_l
    bl = banded(sig_l)
    pairs = ensure_min_partitions(bl).alias("l").join(
        (bl if self_join else banded(sig_r)).alias("r"), ["band", "band_hash"]
    )
    if self_join:
        pairs = pairs.filter(F.col("l.doc_id") < F.col("r.doc_id"))
    return pairs.select(
        F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b")
    ).dropDuplicates()


def _verify_candidates(
    cands: DataFrame,
    sig_l: DataFrame,
    sig_r: DataFrame,
    threshold: float,
    num_hashes: int,
) -> DataFrame:
    """(a, b, jaccard) for the candidates whose EXACT capped-shingle
    Jaccard is ≥ threshold. Each candidate row is joined to both docs'
    (shingles, sig) once; on that row a signature-estimate prefilter
    (fraction of agreeing MinHash components, std ~sqrt(J(1-J)/k); the
    3-sigma margin keeps it recall-safe) skips the set intersection
    for pairs that cannot qualify, and the survivors are verified with
    size(array_intersect) — no per-shingle explode, join or groupBy."""
    margin = 3.0 * (0.25 / num_hashes) ** 0.5

    def side(sig: DataFrame, k: str) -> DataFrame:
        return sig.select(
            F.col("doc_id").alias(k), F.col("shingles").alias(f"sh_{k}"),
            F.col("sig").alias(f"sig_{k}"),
        )

    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    # common > 0: a band-key or 31-bit shingle-hash collision can pair
    # two docs that share no shingle; like the count-common join,
    # report only pairs that share one
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(side(sig_l, "a"), "a")
        .join(side(sig_r, "b"), "b")
        .filter(agree / F.lit(float(num_hashes)) >= threshold - margin)
        .select("a", "b", common.alias("common"), F.size("sh_a").alias("sz_a"),
                F.size("sh_b").alias("sz_b"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter((F.col("common") > 0) & (F.col("jaccard") >= threshold))
        .select("a", "b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: bool = True,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    seed: int = 42,
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH. Candidate pairs = docs
    sharing any band hash; with verify=True candidates are checked with
    EXACT shingle Jaccard (the returned `jaccard` is exact, so output ⊆
    ngram_jaccard_pairs; LSH only bounds recall).

    Scale: one pinned per-doc table (shingle set + signature) feeds
    the banding and the verification; banding is an explode(bands) →
    join on (band, band_hash) — shuffle keys are uniformly-distributed
    hashes, immune to content skew."""
    sh = _capped_shingles(
        shingles(df, id_col, text_col, n), max_shingle_df,
        op="minhash_lsh_pairs",
    )
    sig = _pin(
        minhash_signatures(
            sh, num_hashes=num_hashes, seed=seed, hash_strategy=hash_strategy
        )
    )
    cands = _band_candidates(sig, sig, num_hashes, bands, hash_strategy)
    if not verify:
        return cands
    return _verify_candidates(cands, sig, sig, threshold, num_hashes)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash: long) — 64-bit SimHash over token hash
    values: bit b of the result is 1 iff more tokens have bit b set
    than unset. ONE aggregate with 64 vote columns (map-side
    combinable) — no per-bit row explosion (64x fewer shuffle rows
    than the naive explode(bit) formulation). hash_strategy='md5'
    uses the portable 60-bit hash (bits 60-63 are then always 0 —
    a 60-effective-bit SimHash, identical across engines)."""
    toks = ensure_min_partitions(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(text_tokens(text_col)).alias("tok"),
    ).withColumn("h", F.expr(_hash64_sql("tok", hash_strategy)))
    votes = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    bit_terms = " + ".join(
        f"if(v{b} > 0, shiftleft(1L, {b}), 0L)" for b in range(64)
    )
    return agg.select("doc_id", F.expr(bit_terms).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming. Pigeonhole banding:
    split 64 bits into n_bands chunks; any pair within distance
    max_hamming < n_bands shares at least one identical chunk → join on
    (band, chunk) then verify exact hamming via bit_count(xor).

    The simhash table (one row/doc) feeds both sides of the band join
    — pinned (see _pin) so the 64-vote token aggregate runs once, not
    per side (sf0.1: 4.1s -> 2.9s warm, 12.5s -> 4.0s cold)."""
    assert max_hamming < n_bands, "pigeonhole needs n_bands > max_hamming"
    sh = _pin(
        simhash(df, id_col, text_col, hash_strategy=hash_strategy)
    )
    width = 64 // n_bands
    banded = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> "
                f"(simhash >> (b * {width})) & {(1 << width) - 1})"
            )
        ).alias("band", "chunk"),
    )
    # hamming filter BEFORE the dedup shuffle: every duplicate of a
    # pair carries the same hamming, and the filter drops the vast
    # majority of the |bucket|² candidates — dropDuplicates then
    # shuffles only survivors
    return (
        ensure_min_partitions(banded).alias("l")
        .join(banded.alias("r"), ["band", "chunk"])
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )

# ---------------------------------------------------------------------------
# Cross-corpus dedup (new crawl vs existing training set)
# ---------------------------------------------------------------------------


def _cross_capped_shingles(
    left: DataFrame,
    right: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    max_shingle_df: int | None,
    op: str,
) -> tuple[DataFrame, DataFrame]:
    """Shingle both corpora and apply ONE document-frequency cap over
    their union, so a boilerplate shingle common to both sides is
    dropped from the index AND the set sizes on both sides
    consistently. Assumes doc ids are distinct across the two inputs
    (if an id appears on both sides its union df counts it twice —
    conservative, never under-caps)."""
    shl = shingles(left, id_col, text_col, n).withColumn("side", F.lit("l"))
    shr = shingles(right, id_col, text_col, n).withColumn("side", F.lit("r"))
    # one pinned table for the union: both side-slices and all their
    # downstream consumers read the same stored blocks instead of each
    # re-running both corpora's shingling
    both = _capped_shingles(shl.unionByName(shr), max_shingle_df, op=op)
    return (
        both.filter(F.col("side") == "l").drop("side"),
        both.filter(F.col("side") == "r").drop("side"),
    )


def jaccard_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact cross-corpus near-dup pairs: every (a ∈ left, b ∈ right)
    with shingle-set Jaccard ≥ threshold — the canonical "dedupe the
    new crawl against the existing training set" shape (GPT-3 §2.2 /
    MassiveText §A1.2 run exactly this between CommonCrawl snapshots
    and curated corpora).

    Plan: inverted-index JOIN (not self-join) on shingle; shuffles on
    shingle and (a, b) only, both map-side combinable. The union-df
    cap (see _cross_capped_shingles) bounds the worst bucket at
    O(cap_l x cap_r) pairs. At 100 TB the right ("reference") side's
    capped shingle index is the thing to persist/bucket once and reuse
    across crawl increments."""
    shl, shr = _cross_capped_shingles(
        left, right, n, id_col, text_col, max_shingle_df,
        "jaccard_pairs_cross",
    )
    pairs = (
        shl.alias("l")
        .join(shr.alias("r"), "shingle")
        .groupBy(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_tail(pairs, shl, shr, threshold)


def minhash_lsh_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    verify: bool = True,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    seed: int = 42,
    hash_strategy: str = "xxhash64",
) -> DataFrame:
    """Cross-corpus MinHash-LSH: banded signatures for both corpora
    (same coefficients/seed, so signatures are comparable), candidates
    = (left doc, right doc) sharing any band hash, then the same
    signature-estimate prefilter and exact-Jaccard verification as
    minhash_lsh_pairs — with verify=True the output is a recall-bounded
    subset of jaccard_pairs_cross.

    Scale: the right side's banded signature table is crawl-invariant —
    persist it bucketed by (band, band_hash) and each new crawl
    increment joins against it without re-shingling the reference
    corpus. Band keys are uniform hashes: no content skew."""
    shl, shr = _cross_capped_shingles(
        left, right, n, id_col, text_col, max_shingle_df,
        "minhash_lsh_pairs_cross",
    )
    sig_l = _pin(
        minhash_signatures(
            shl, num_hashes=num_hashes, seed=seed, hash_strategy=hash_strategy
        )
    )
    sig_r = _pin(
        minhash_signatures(
            shr, num_hashes=num_hashes, seed=seed, hash_strategy=hash_strategy
        )
    )
    cands = _band_candidates(sig_l, sig_r, num_hashes, bands, hash_strategy)
    if not verify:
        return cands
    return _verify_candidates(cands, sig_l, sig_r, threshold, num_hashes)


# ---------------------------------------------------------------------------
# Span-level exact dedup (C4-style duplicate-paragraph removal)
# ---------------------------------------------------------------------------


def dedup_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Remove exact-duplicate paragraphs corpus-wide, keeping only the
    FIRST occurrence (lexicographic min (doc_id, position)) — the
    span-granularity dedup between doc-level exact dedup and near-dup
    pairing (C4, Raffel et al. 2020 §2.2, discards repeated spans
    corpus-wide; MassiveText dedups at document AND paragraph level).

    Paragraph identity is the md5 of the normalized text (same
    whitespace/case fold as doc-level dedup). Output one row per input
    doc: (id, n_paragraphs, n_kept, text_deduped) where text_deduped
    re-joins the surviving paragraphs in original order ('' when every
    paragraph was removed or the doc was empty).

    Plan: ONE map-side-combinable groupBy(fingerprint) agg computing
    the min (doc_id, pos) struct (no window over the full explode),
    an equi-join of the exploded paragraphs against their winner, and
    the per-doc rebuild aggregate. Shuffle keys are fingerprints and
    doc ids — uniform, no hub skew; a boilerplate paragraph shared by
    10^6 docs costs ONE aggregate row (contrast the O(df^2) shingle
    self-join this family caps elsewhere)."""
    import re as _re

    parts = (
        ensure_min_partitions(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.split(F.col(text_col), _re.escape(sep))
            ).alias("pos", "para"),
        )
        .filter(F.trim("para") != "")
        .withColumn("fp", fingerprint_md5("para"))
    )
    first = parts.groupBy("fp").agg(
        F.min(F.struct("doc_id", "pos")).alias("w")
    )
    kept = (
        parts.join(first, "fp")
        .filter(
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("pos") == F.col("w.pos"))
        )
        .select("doc_id", "pos", "para")
    )
    stats = parts.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paragraphs")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda x: x["para"],
            ),
            sep,
        ).alias("text_deduped"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(stats, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce("n_paragraphs", F.lit(0)).alias("n_paragraphs"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        )
    )
