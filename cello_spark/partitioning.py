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


def planned_partitions(df: DataFrame) -> int | None:
    """The number of partitions `df` will have, read from its physical
    plan without running a job; None when AQE decides it at run time.

    `df.rdd.getNumPartitions()` would execute every shuffle in an
    adaptive plan to learn the coalesced count, and the caller's query
    then runs those shuffles again. Here an adaptive plan is walked
    down from its top to the node that fixes the partitioning: an
    explicit `repartition(n)` exchange or a coalesce gives its count,
    an exchange AQE may coalesce gives None. A plan without exchanges
    is not adaptive, and building its RDD (scan splits, local data)
    runs nothing."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() != "AdaptiveSparkPlan":
        return df.rdd.getNumPartitions()
    node = plan.executedPlan()
    while True:
        name = node.nodeName()
        n = node.outputPartitioning().numPartitions()
        if name == "Exchange":
            explicit = node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
            return n if explicit else None
        if name in ("Coalesce", "AQEShuffleRead") or node.children().size() != 1:
            return n or None
        node = node.children().head()


def ensure_min_partitions(
    df: DataFrame, factor: int = 2, key: str | None = None
) -> DataFrame:
    """Repartition `df` to factor * defaultParallelism unless its plan
    already gives it at least as many partitions as the cluster has
    task slots (`planned_partitions`; runs no job). A count AQE decides
    at run time counts as too few: AQE coalesces only small shuffles
    below the slot count, and those are cheap to spread again. `key`
    makes the repartition hash-keyed (for downstream co-partitioning)
    instead of round-robin. Explicit numPartitions are respected by AQE
    (never re-coalesced)."""
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    planned = planned_partitions(df)
    if planned is not None and planned >= slots:
        return df
    n = factor * slots
    return df.repartition(n, key) if key else df.repartition(n)


# Largest group a plain row_number window may sort in one task. An
# absolute bound, deliberately NOT relative to the input size (that
# would re-admit giant groups on giant inputs). Read at call time, so
# tests can lower it to force the range-partitioned rank.
HUB_ROWS = 262_144


def per_group_sorted_index(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    idx_col: str = "idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """0-based rank of each row in its group's (order_cols)-sorted
    order: exactly `row_number().over(partitionBy(group)) - 1`.

    One map-side-combinable aggregate measures the largest group, and
    `sized_sorted_index` picks the plan from that count. Callers that
    already hold the per-group counts call `sized_sorted_index`
    directly and skip this probe job."""
    largest = (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n"))
        .first()[0]
    ) or 0
    return sized_sorted_index(
        df, group_cols, order_cols, largest, idx_col, num_partitions
    )


def sized_sorted_index(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    largest: int,
    idx_col: str = "idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """The one hub rule: given the row count of `df`'s largest group,
    rank with the plain `row_number` window (one shuffle, each group
    sorted in one task) when that count is at most HUB_ROWS, and with
    `range_sorted_index` otherwise."""
    if largest <= HUB_ROWS:
        w = Window.partitionBy(*group_cols).orderBy(*order_cols)
        return df.withColumn(idx_col, (F.row_number().over(w) - 1).cast("int"))
    return range_sorted_index(df, group_cols, order_cols, idx_col, num_partitions)


def range_sorted_index(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    idx_col: str = "idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """The rank of `per_group_sorted_index`, computed without sorting
    any group in one task (a predicate's 10^8 objects or a hub node's
    adjacency list would otherwise be one straggler, or an OOM):

    1. `repartitionByRange(group_cols + order_cols)`: each partition
       holds a contiguous slice of the global sort order, ~|df| /
       num_partitions rows whatever the group sizes;
    2. a local `row_number` over (range-partition id, group), so no
       task sorts more than one partition;
    3. per-(partition, group) counts, ~n_groups + num_partitions rows,
       prefix-summed over partition ids within each group, give each
       slice's offset;
    4. offset + local rank - 1 is the global rank wherever the sampled
       range boundaries fall, so the output is deterministic.

    order_cols must be a total order within each group (callers
    dedupe first). The offsets join is keyed by (partition id, group),
    never a bare hub key, and is null-safe, so NULL group keys rank as
    their own group, as in the window.

    The ranged data is pinned with an eager localCheckpoint: its
    partition ids come from sampled boundaries, and the local ranks
    and the counts must see the same partitioning, which exchange
    reuse does not guarantee (spark.sql.exchange.reuse can be off).
    The pin also computes it once for callers that probe the result
    repeatedly (kg_random_walks, walk_len times). It costs one stored
    copy of df, and an executor loss fails the job instead of
    recomputing the lost blocks."""
    spark = df.sparkSession
    n = num_partitions or max(spark.sparkContext.defaultParallelism, 1)
    cols = [*group_cols, *order_cols]
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
) -> DataFrame:
    """Keep the first n_max rows per group in (order_cols) order: one
    `row_number` window plus a `rank <= n_max` filter.

    Spark plans this as a distributed top-k for
    n_max <= spark.sql.optimizer.windowGroupLimitThreshold (1000 by
    default): a `WindowGroupLimit ... Partial` in every map task keeps
    each task's first n_max rows per group before the shuffle, and a
    `Final` one after it, so a hub group reaches its reducer as at most
    n_max rows per map task. At n_max = 1001 Spark plans a plain window
    instead: each group is sorted in one task, which spills on a hub
    but still gives the right rows. A constant group key is planned as
    `TakeOrderedAndProject`."""
    if n_max < 1:
        raise ValueError(f"n_max must be >= 1, got {n_max}")
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_max)
        .drop("__rk")
    )
