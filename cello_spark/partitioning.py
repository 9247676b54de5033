"""Partition-parallelism helpers.

The "tiny input, explosive operator" hazard: AQE coalesces a small
shuffle output (or a small parquet scan) down to one partition because
the *input* bytes are small — but a following explode / self-join can
multiply rows by orders of magnitude, and that work then runs in a
single task. Pair-enumeration joins (LSH bands, shingle inverted
index) are the canonical case: 5k docs → 6.7M candidate pairs
generated serially unless the probe side is spread first.

`ensure_min_partitions` is the targeted fix: a round-robin (or keyed)
repartition applied ONLY when the current partition count is below the
cluster's task slots. On a real 100 TB table the scan already has
thousands of splits and this is a no-op — the repartition shuffle is
never paid at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def ensure_min_partitions(
    df: DataFrame, factor: int = 2, key: str | None = None
) -> DataFrame:
    """Repartition `df` to factor * defaultParallelism iff it currently
    has fewer partitions than the cluster has task slots. `key` makes
    the repartition hash-keyed (for downstream co-partitioning) instead
    of round-robin. Explicit numPartitions are respected by AQE (never
    re-coalesced)."""
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= slots:
        return df
    n = factor * slots
    return df.repartition(n, key) if key else df.repartition(n)


def per_group_sorted_index(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    idx_col: str = "idx",
    num_partitions: int | None = None,
    probe_skew: bool = True,
    hub_rows: int = 262_144,
) -> DataFrame:
    """0-based rank of each row in its group's (order_cols)-sorted
    order, computed WITHOUT a per-group single-task window sort.

    `row_number().over(Window.partitionBy(group))` sends every row of
    a group to ONE task's sort — the hub-key hazard: a predicate with
    10^8 distinct objects, or a hub node's adjacency list, becomes a
    single straggler (or OOM) at scale. This helper computes the exact
    same global per-group rank via order-preserving range partitioning:

    1. `repartitionByRange(group_cols + order_cols)` — each partition
       holds a contiguous slice of the global sort order, bounded by
       ~|df|/num_partitions rows regardless of group sizes (a hub
       group simply spans several consecutive partitions);
    2. a local `row_number` windowed on (range-partition id, group) —
       every window partition is a subset of one range partition, so
       no task ever sorts more than a partition's worth of rows;
    3. per-(partition, group) counts (a tiny table: at most one row
       per group per partition it touches, and groups are contiguous,
       so its size is ~n_groups + num_partitions) prefix-summed over
       partition ids within each group give the offset of each
       partition's slice;
    4. offset + local rank - 1 = the exact global per-group rank —
       invariant to where the (sampled) range boundaries fall, so the
       output is deterministic even though the partitioning isn't.

    The offsets join key is (partition id, group) — bounded by the
    range-partition size, never a hub key. order_cols must be a total
    order within each group (callers dedupe first); ties across rows
    would make ranks partition-dependent.

    `part` (the ranged data + its partition ids) feeds BOTH the local
    ranks and the per-partition counts. __rpid comes from sampled
    range boundaries, so the two consumers MUST observe the same
    physical partitioning — relying on Catalyst exchange reuse for
    that is a silent-wrong-answer hazard (reuse can be disabled via
    spark.sql.exchange.reuse, or the subtrees can stop canonicalizing
    identically). It is therefore pinned with an eager
    localCheckpoint: __rpid is then a property of stored blocks, not
    of a re-runnable sample. The checkpoint also computes the ranged
    data ONCE for consumers that probe the result repeatedly
    (kg_random_walks probes it walk_len times). Cost: executor
    block-storage of one copy of df and loss of lineage-based
    recovery for those blocks (an executor loss fails-and-retries the
    job instead of recomputing the partition) — the right trade for a
    correctness dependency. The offsets join uses null-safe equality
    on the group columns so NULL group keys rank as their own group,
    exactly like the row_number window this replaces.
    With `probe_skew=True` (default) a one-pass map-side-combinable
    aggregate first measures the largest group; when no group exceeds
    `hub_rows` (an absolute single-task-sort bound — deliberately NOT
    relative to input size, which would re-admit giant groups on
    giant inputs) the plain `row_number` window is used instead — a
    single shuffle, no
    checkpoint, and a per-task sort bounded by the probed maximum.
    The de-hubbed machinery only engages when a hub group actually
    exists, so small/even inputs pay the cheap plan and skewed inputs
    the safe one. The probe is one count-aggregate job (rows = one
    per group, combined map-side); pass probe_skew=False to force the
    de-hubbed path (plan tests do).
    """
    spark = df.sparkSession
    n = num_partitions or max(spark.sparkContext.defaultParallelism, 1)
    cols = [*group_cols, *order_cols]
    if probe_skew:
        mx = (
            df.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n"))
            .first()[0]
        ) or 0
        if mx <= hub_rows:
            w = Window.partitionBy(*group_cols).orderBy(*order_cols)
            return df.withColumn(
                idx_col, (F.row_number().over(w) - 1).cast("int")
            )
    part = (
        df.repartitionByRange(n, *cols)
        .withColumn("__rpid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_local = Window.partitionBy("__rpid", *group_cols).orderBy(*order_cols)
    local = part.withColumn("__lrn", F.row_number().over(w_local))
    counts = part.groupBy("__rpid", *group_cols).agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("__rpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gals = [f"__g{i}" for i in range(len(group_cols))]
    offsets = counts.select(
        F.col("__rpid").alias("__orpid"),
        *[F.col(c).alias(g) for c, g in zip(group_cols, gals)],
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    cond = local["__rpid"] == offsets["__orpid"]
    for c, g in zip(group_cols, gals):
        cond = cond & local[c].eqNullSafe(offsets[g])
    return (
        local.join(offsets, cond)
        .withColumn(idx_col, (F.col("__off") + F.col("__lrn") - 1).cast("int"))
        .drop("__rpid", "__orpid", "__lrn", "__off", *gals)
    )


def capped_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    n_max: int,
    n_buckets: int = 64,
    bucket_key: str | None = None,
    probe_skew: bool = True,
    hub_rows: int = 262_144,
) -> DataFrame:
    """Keep the first n_max rows per group in (order_cols) order — the
    distributed two-phase top-k that replaces a single
    `row_number().over(partitionBy(group)) <= n_max` window.

    Phase 1 pre-caps within (group, hash-salt bucket): each bucket's
    window task sorts ~|group|/n_buckets rows, so a hub group is split
    across n_buckets tasks instead of one. Phase 2 ranks the survivors
    — at most n_buckets * n_max rows per group, a bound set by the
    PARAMETERS, not the data — and keeps the global first n_max.
    Output is identical to the single-window form because phase 1 can
    never evict a row that is within the global top n_max (each bucket
    keeps its own top n_max, a superset of its contribution to the
    global top n_max).

    bucket_key defaults to the first order column; pass an id column
    when order_cols start with a computed expression's column.

    As in per_group_sorted_index, `probe_skew=True` (default) first
    measures the largest group with one map-side-combinable
    aggregate; when no group exceeds hub_rows the single-window form
    runs directly (Spark's WindowGroupLimit pushes the rank filter
    below the sort, so the probed-bounded group never fully sorts in
    one task). Skewed inputs take the two-phase path.
    """
    if n_max < 1:
        raise ValueError(f"n_max must be >= 1, got {n_max}")
    if probe_skew:
        mx = (
            df.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n"))
            .first()[0]
        ) or 0
        if mx <= hub_rows:
            w = Window.partitionBy(*group_cols).orderBy(*order_cols)
            return (
                df.withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= n_max)
                .drop("__rk")
            )
    key = bucket_key or order_cols[0]
    bucketed = df.withColumn(
        "__bkt", F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets))
    )
    w1 = Window.partitionBy("__bkt", *group_cols).orderBy(*order_cols)
    pre = (
        bucketed.withColumn("__rk", F.row_number().over(w1))
        .filter(F.col("__rk") <= n_max)
        .drop("__bkt", "__rk")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        pre.withColumn("__rk", F.row_number().over(w2))
        .filter(F.col("__rk") <= n_max)
        .drop("__rk")
    )
