"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the training-data operators: dedup, text analysis,
similarity search); `oracle_sql()` gives the DuckDB-equivalent SQL the
driver runs side-by-side at sf=0.01. Column names and float rounding
are aligned in BOTH so the order-insensitive value-hash comparison is
well-defined. Approximate/fixture operators (IVF top-k, bucketed
embedding near-dup, the fixture KG pipeline, the media-decode
plumbing) emit oracle-checkable INVARIANT rows: exact-side counts the
DuckDB oracle recomputes from the same parquet, recall/P-R bound
flags, or pinned deterministic fixture scalars. Only the two
xxhash64 LSH twins stay rows-only — and each is the engine-hash
variant of an md5 twin that IS hash-checked (q_minhash_pairs,
q_simhash_pairs), with the raw outputs pytest-verified against
python oracles (tests/test_dedup.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _r6(c):
    return F.round(c, 6)


# dictionary used by the mention-detection query (tokens present in the
# synthetic documents table)
MENTION_DICT = ["spark", "window", "join", "hash", "scan", "filter"]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: dictionary mention detection over sf0.001 documents
    (broadcast-join candidate n-grams vs term dictionary — the KG
    pipeline's stage-3 operator) aggregated to per-term doc/mention
    counts, joined against per-language doc totals."""
    sf_dir = "/root/testdata/sf0.001"
    return q_mention_counts(spark, sf_dir)


# ---------------------------------------------------------------------------
# relational / TPC-H-ish operator queries
# ---------------------------------------------------------------------------


def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-analog: multi-aggregate groupBy (TPC-H Q1 shape). The big
    money SUMS round to 2 decimals (matching the oracle): group sums
    reach ~1e9, where float64 summation-order noise is ~1e-6 — the
    same magnitude as a 6-decimal rounding quantum, so round-6 values
    sat on rounding boundaries and hashed unstably across engines at
    sf0.1. sum_qty (integer quantities) and sum_base_price (2-decimal
    terms) can never land ON a 2-decimal boundary, so round-2 is
    hazard-free for them; sum_disc_price's terms carry FOUR decimals
    (price × discount), whose exact sum CAN end in a half-cent — it is
    therefore summed in exact integer 1e-4-dollar units (BIGINT, no
    float in the aggregate) and converted once at the end, the same
    single IEEE division + rounding both engines apply to identical
    integers."""
    li = _t(spark, sf_dir, "lineitem")
    disc_e4 = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((1 - F.col("l_discount")) * 100).cast("long")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(disc_e4.cast("double") / 10000.0, 2).alias(
                "sum_disc_price"
            ),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            _r6(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-family: fact⋈fact⋈dim join + agg + top-10 (TPC-H Q3 shape)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_join_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim-chain join: orders per region (J1-analog)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # money sum over ~1/5 of all orders reaches ~1e10: round at
            # 2 decimals, like q_agg_pricing, so summation-order noise
            # (~1e-6) stays far from the rounding quantum
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("r_name")
    )


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (O2's row_number pattern)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_quantity"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            _r6(F.col("l_quantity")).alias("quantity"),
            "rn",
        )
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS): customers having at least one order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti (NOT EXISTS): customers with no orders (SO2-analog)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect/except/union composition (§2.5): parts that are both
    cheap and heavy-stocked, minus an exclusion set."""
    part = _t(spark, sf_dir, "part")
    cheap = part.filter(F.col("p_retailprice") < 1200).select("p_partkey")
    big = part.filter(F.col("p_size") >= 20).select("p_partkey")
    excl = part.filter(F.col("p_partkey") % 100 == 0).select("p_partkey")
    return cheap.intersect(big).exceptAll(excl).union(
        part.filter(F.col("p_partkey") == 1).select("p_partkey")
    ).distinct()


def q_group_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/M9-analog: group sizes → 1/|group| weights."""
    orders = _t(spark, sf_dir, "orders")
    sizes = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return sizes.select(
        "o_custkey", "n", _r6(F.lit(1.0) / F.col("n")).alias("weight")
    )


def q_distinct_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6-analog: sorted distinct."""
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_type").distinct().orderBy("event_type")


def q_mean_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5-analog: mean/variance per group (HVG dispersion shape)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            _r6(F.avg("value")).alias("mean_value"),
            _r6(F.var_samp("value")).alias("var_value"),
            _r6(F.var_samp("value") / (F.avg("value") + F.lit(1e-5))).alias(
                "dispersion"
            ),
        )
        .orderBy("event_type")
    )


def q_hvg_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P-HVG (new_cello/preprocess/__init__.py:244-266): top-N genes
    by dispersion over a sparse long matrix (samples = orders, genes =
    parts, value = quantity), re-sorted by gene id; dense-matrix
    moments (zeros counted via the full sample count)."""
    from cello_spark.sources.expression import select_hvg

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    long_df = (
        li.groupBy(
            F.col("l_orderkey").alias("sample_id"),
            F.col("l_partkey").alias("gene_id"),
        )
        .agg(F.sum("l_quantity").alias("value"))
    )
    out = select_hvg(long_df, n_top=50)
    return out.select(
        "gene_id",
        _r6(F.col("mean")).alias("mean_value"),
        _r6(F.col("var")).alias("var_value"),
        _r6(F.col("dispersion")).alias("dispersion"),
    ).orderBy("gene_id")


def q_pseudobulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 pseudo-bulk semantics on events: per user expm1 → sum →
    renormalize to 1e6 over the user's total → log1p (the reference's
    aggregate-then-renormalize chain, cello/cello.py:554-576)."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.expm1(F.col("value") / 100.0)).alias("s")
    )
    w = Window.partitionBy("user_id")
    return per.select(
        "user_id",
        "event_type",
        _r6(F.log1p(F.col("s") * F.lit(1e6) / F.sum("s").over(w))).alias("log_norm"),
    )


def q_cluster_mapback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/O3-analog: pre-aggregate per cluster then broadcast back to
    members (the reference's cluster→cell replication)."""
    ev = _t(spark, sf_dir, "events")
    clusters = ev.withColumn("cluster", F.pmod(F.col("user_id"), F.lit(7)))
    stats = clusters.groupBy("cluster").agg(_r6(F.avg("value")).alias("cluster_avg"))
    return (
        clusters.join(F.broadcast(stats), "cluster")
        .select("event_id", "cluster", "cluster_avg")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min cumulative session ids."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gapped = ev.withColumn(
        "gap",
        F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0),
    )
    sess = gapped.withColumn(
        "session_id", F.sum("gap").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_id")
    )


def q_event_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window aggregation (streaming-shape, run batch)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), _r6(F.sum("value")).alias("total"))
    )


# ---------------------------------------------------------------------------
# graph operator queries (derived DAG: part p → parent p/10)
# ---------------------------------------------------------------------------


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") >= 10)
        .select(
            F.col("p_partkey").alias("src"),
            F.floor(F.col("p_partkey") / 10).cast("long").alias("dst"),
        )
        .join(
            part.select(F.col("p_partkey").alias("dst")), "dst", "left_semi"
        )
        .dropDuplicates()
    )


def q_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1/G2: transitive closure by iterative self-join (oracle:
    recursive CTE)."""
    from cello_spark.operators.graph import transitive_closure

    edges = _part_edges(spark, sf_dir).withColumn("rel", F.lit("is_a"))
    return transitive_closure(edges, rels=("is_a",)).orderBy(
        "descendant", "ancestor"
    )


def q_most_specific(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 per group: for each order, the most-specific partkeys among
    its lineitems' parts under the division DAG (anti-join form)."""
    from cello_spark.operators.graph import (
        most_specific_per_group,
        transitive_closure,
    )

    li = _t(spark, sf_dir, "lineitem")
    edges = _part_edges(spark, sf_dir).withColumn("rel", F.lit("is_a"))
    closure = transitive_closure(edges, rels=("is_a",))
    grouped = (
        li.filter(F.col("l_orderkey") <= 2000)
        .select(F.col("l_orderkey").alias("gid"), F.col("l_partkey").alias("node"))
        .dropDuplicates()
    )
    return most_specific_per_group(closure, grouped).orderBy("gid", "node")


def q_most_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: most-general members of a node set under the division DAG —
    drop members that are a strict descendant of another member (dual
    of q_most_specific; reference graph.py:138-168)."""
    from cello_spark.operators.graph import most_general, transitive_closure

    li = _t(spark, sf_dir, "lineitem")
    edges = _part_edges(spark, sf_dir).withColumn("rel", F.lit("is_a"))
    closure = transitive_closure(edges, rels=("is_a",))
    nodes = (
        li.filter(F.col("l_orderkey") <= 2000)
        .select(F.col("l_partkey").alias("node"))
        .dropDuplicates()
    )
    return most_general(closure, nodes).orderBy("node")


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11: connected components over supplier↔nation co-membership
    (min-id label propagation)."""
    from cello_spark.operators.graph import connected_components

    supp = _t(spark, sf_dir, "supplier")
    pairs = supp.select(
        F.concat(F.lit("s"), F.format_string("%05d", F.col("s_suppkey"))).alias("a"),
        F.concat(F.lit("n"), F.format_string("%05d", F.col("s_nationkey"))).alias("b"),
    )
    return connected_components(pairs).orderBy("node")


def q_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11 (canonical-rule half): per-component canonical id — min
    member carrying the ontology prefix, else min member (reference
    xref merge semantics, ontology_graph.py:563-569; distributed rule
    in plans/kg.py:canonical_mapping, used past the driver cutover).
    Components here = customer names grouped by nation key, with a
    prefix that only some nodes carry so both coalesce arms fire."""
    from cello_spark.plans.kg import canonical_mapping

    cust = _t(spark, sf_dir, "customer")
    components = cust.select(
        F.col("c_name").alias("node"),
        F.col("c_nationkey").alias("component"),
    )
    return canonical_mapping(components, term_prefix="Customer#00000001").orderBy(
        "node"
    )


def _part_edges_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Division DAG plus direct grandparent edges — the grandparent
    edges are path-implied, giving transitive reduction real work."""
    part = _t(spark, sf_dir, "part")
    keys = part.select(F.col("p_partkey").alias("k"))
    e1 = part.filter(F.col("p_partkey") >= 10).select(
        F.col("p_partkey").alias("src"),
        F.floor(F.col("p_partkey") / 10).cast("long").alias("dst"),
    )
    e2 = part.filter(F.col("p_partkey") >= 100).select(
        F.col("p_partkey").alias("src"),
        F.floor(F.col("p_partkey") / 100).cast("long").alias("dst"),
    )
    return (
        e1.union(e2)
        .join(keys.withColumnRenamed("k", "dst"), "dst", "left_semi")
        .dropDuplicates()
    )


def q_transitive_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: drop edges implied by longer paths (the direct grandparent
    edges of the augmented division DAG)."""
    from cello_spark.operators.graph import transitive_reduction

    edges = _part_edges_multi(spark, sf_dir)
    return transitive_reduction(edges).orderBy("src", "dst")


def q_topo_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: Kahn layering of the division DAG — layer = longest distance
    from a root (node with no parent)."""
    from cello_spark.operators.graph import topological_layers

    edges = _part_edges(spark, sf_dir)
    return topological_layers(edges).orderBy("layer", "node")


def q_spanning_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: subgraph spanning a sparse node set of the division DAG —
    BFS-free relational form (most-general roots, upward-closed
    relevance, three semi-joins)."""
    from cello_spark.operators.graph import spanning_subgraph, transitive_closure

    edges = _part_edges(spark, sf_dir)
    closure = transitive_closure(
        edges.withColumn("rel", F.lit("is_a")), rels=("is_a",)
    )
    part = _t(spark, sf_dir, "part")
    span = part.filter(F.col("p_partkey") % 97 == 0).select(
        F.col("p_partkey").alias("node")
    )
    parent_child = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return spanning_subgraph(parent_child, closure, span).orderBy("src", "dst")


def q_clr_marginals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7/J6/A7: cascaded-classifier marginals — exp(Σ log p) over each
    label's ancestors∪self in the division DAG; conditional probs
    derived deterministically from lineitem quantities."""
    from cello_spark.operators.cascade import clr_marginals, closure_with_self
    from cello_spark.operators.graph import transitive_closure

    li = _t(spark, sf_dir, "lineitem")
    edges = _part_edges(spark, sf_dir).withColumn("rel", F.lit("is_a"))
    closure = transitive_closure(edges, rels=("is_a",))
    cond = (
        li.filter(F.col("l_orderkey") <= 500)
        .groupBy(
            F.col("l_orderkey").alias("item"), F.col("l_partkey").alias("label")
        )
        .agg((F.max("l_quantity") / F.lit(60.0)).alias("prob"))
    )
    out = clr_marginals(cond, closure_with_self(closure))
    return out.select("item", "label", _r6(F.col("marginal")).alias("marginal"))


def q_one_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8/J7: 1-nearest-neighbor (euclidean) of every embedding against
    a 5-vector reference set."""
    from cello_spark.operators.similarity import one_nn

    emb = _t(spark, sf_dir, "embeddings")
    ref_pdf = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("ref_id"), "embedding")
        .toPandas()
    )
    out = one_nn(emb, ref_pdf, metric="euclidean")
    return out.select(
        F.col("id").alias("vec_id"), "ref_id", _r6(F.col("distance")).alias("distance")
    )


def q_onn_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: the reference-shaped OneNN per-label confidence output
    (one_nn.py:60-152: -distance on the 1-NN's labels), driven through
    the registry onn variant's predict(confidence=True). The gate
    keeps the finite rows (the -inf complement is pure shape, pinned
    by pytest against a numpy oracle)."""
    from cello_spark.plans.registry import build_model

    emb = _t(spark, sf_dir, "embeddings")
    feats = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").cast("string").alias("item"),
        F.col("embedding").alias("features"),
    )
    labels_long = spark.createDataFrame(
        [(str(i), f"L{i % 3}") for i in range(5)], "item string, label string"
    )
    m = build_model("onn").fit(feats, labels_long, [])
    docs = emb.select(
        F.col("vec_id").cast("string").alias("doc_id"),
        F.col("embedding").alias("features"),
    )
    out = m.predict(docs, confidence=True)
    # `+ 0.0` normalizes IEEE negative zero (self-match distance 0 →
    # -0.0 after negation) so the value hash agrees with the DuckDB
    # oracle, which applies the same normalization.
    return out.filter(F.col("confidence") != F.lit(float("-inf"))).select(
        "doc_id",
        "label",
        (_r6(F.col("confidence")) + F.lit(0.0)).alias("confidence"),
    )


def q_group_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The de-hubbed distributed per-group sorted rank
    (partitioning.per_group_sorted_index): rank of every document
    within its source, doc_id order — exactly row_number() over
    (PARTITION BY source ORDER BY doc_id) - 1, computed without a
    single-task hub sort."""
    from cello_spark.partitioning import per_group_sorted_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return per_group_sorted_index(
        docs, ["source"], ["doc_id"], idx_col="rank_idx"
    ).select("doc_id", "source", "rank_idx")


def q_group_rank_dehub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_group_rank with the de-hubbed path FORCED (probe_skew=False):
    at sf0.01 the skew probe routes q_group_rank through the plain
    window, so this twin keeps the range-partitioned rank machinery
    (localCheckpoint-pinned __rpid, null-safe offsets join) under
    cross-engine verification too."""
    from cello_spark.partitioning import per_group_sorted_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return per_group_sorted_index(
        docs, ["source"], ["doc_id"], idx_col="rank_idx", probe_skew=False
    ).select("doc_id", "source", "rank_idx")


def q_positive_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO1: items positive for a label = carry it or any descendant
    (labels = partkeys under the division DAG, items = orders)."""
    from cello_spark.operators.graph import transitive_closure
    from cello_spark.operators.training import positive_examples

    li = _t(spark, sf_dir, "lineitem")
    edges = _part_edges(spark, sf_dir).withColumn("rel", F.lit("is_a"))
    closure = transitive_closure(edges, rels=("is_a",)).select(
        "descendant", "ancestor"
    )
    labels_long = (
        li.filter(F.col("l_orderkey") <= 500)
        .select(F.col("l_orderkey").alias("item"), F.col("l_partkey").alias("label"))
        .dropDuplicates()
    )
    return positive_examples(labels_long, closure).orderBy("item", "label")


def _doc_label_probs(spark: SparkSession, sf_dir: str):
    """Shared derivation for the linking cross-check queries: per-doc
    per-label probabilities (docs = orders, labels = partkeys under the
    division DAG) + label-dependent thresholds + the strict closure."""
    from cello_spark.operators.graph import transitive_closure

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    edges = _part_edges(spark, sf_dir).withColumn("rel", F.lit("is_a"))
    closure = transitive_closure(edges, rels=("is_a",))
    probs = (
        li.filter(F.col("l_orderkey") <= 500)
        .groupBy(
            F.col("l_orderkey").alias("doc_id"), F.col("l_partkey").alias("label")
        )
        .agg((F.max("l_quantity") / F.lit(60.0)).alias("prob"))
    )
    thresholds = part.select(
        F.col("p_partkey").alias("label"),
        (F.lit(0.2) + F.pmod(F.col("p_partkey"), F.lit(7)) / F.lit(10.0)).alias(
            "threshold"
        ),
    )
    return probs, thresholds, closure


def q_normalize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Units normalization, COUNTS path (reference
    cello_predict.py:231-237 / scanpy normalize_total+log1p): per-sample
    CPM scale then log1p. Samples = orders, genes = parts,
    counts = quantities."""
    from cello_spark.sources.expression import COUNTS_UNITS, normalize_units

    li = _t(spark, sf_dir, "lineitem")
    long_df = li.filter(F.col("l_orderkey") <= 300).select(
        F.col("l_orderkey").cast("string").alias("sample_id"),
        F.col("l_partkey").cast("string").alias("gene_id"),
        F.col("l_quantity").cast("double").alias("value"),
    )
    out = normalize_units(long_df, COUNTS_UNITS)
    return out.select(
        "sample_id", "gene_id", _r6(F.col("value")).alias("log_cpm")
    ).orderBy("sample_id", "gene_id", "log_cpm")


def q_binarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (relational face): hierarchy-consistent binarization —
    bin(doc, label) = min over ancestors∪self of int(prob > threshold).
    SQL-expressible cross-check of the vectorized linking kernel
    (reference cello/cello.py:736-797 descendant zeroing)."""
    from cello_spark.operators.cascade import closure_with_self
    from cello_spark.operators.linking import binarize_relational

    probs, thresholds, closure = _doc_label_probs(spark, sf_dir)
    bins = binarize_relational(probs, thresholds, closure_with_self(closure))
    return bins.orderBy("doc_id", "label")


def q_most_specific_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 (relational face): per-doc most-specific positive label with
    the fixed (prob desc, label asc) tie-break (reference
    cello/cello.py:865-873 via graph.py:105-135 semantics)."""
    from cello_spark.operators.cascade import closure_with_self
    from cello_spark.operators.linking import (
        binarize_relational,
        most_specific_relational,
    )

    probs, thresholds, closure = _doc_label_probs(spark, sf_dir)
    bins = binarize_relational(probs, thresholds, closure_with_self(closure))
    scored = probs.join(bins, ["doc_id", "label"])
    return most_specific_relational(scored, closure, []).orderBy("doc_id")


def q_typing_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational face of the pipeline's typing-triple emission:
    (doc, rdf:type, label) for the most-specific positive label AND
    all its ancestors (the reference's ancestor-filled final binary,
    cello/cello.py:875-891; engine path operators/linking.py
    typing_triples over the kernel's final_labels)."""
    from cello_spark.operators.cascade import closure_with_self
    from cello_spark.operators.linking import (
        binarize_relational,
        most_specific_relational,
    )

    probs, thresholds, closure = _doc_label_probs(spark, sf_dir)
    bins = binarize_relational(probs, thresholds, closure_with_self(closure))
    scored = probs.join(bins, ["doc_id", "label"])
    ms = most_specific_relational(scored, closure, [])
    cws = closure_with_self(closure)
    return (
        ms.join(cws, ms.most_specific == cws.descendant)
        .select(
            F.col("doc_id").cast("string").alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.col("ancestor").cast("string").alias("obj"),
        )
        .dropDuplicates()
        .orderBy("subj", "obj")
    )


def q_cdc_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SO3: CDC negative training examples — items carrying ALL direct
    parents of a label, minus that label's positives (reference
    cascaded_discriminative_classifiers.py:196-261)."""
    from cello_spark.operators.graph import transitive_closure
    from cello_spark.operators.training import cdc_training_sets

    li = _t(spark, sf_dir, "lineitem")
    edges = _part_edges(spark, sf_dir)
    closure = transitive_closure(
        edges.withColumn("rel", F.lit("is_a")), rels=("is_a",)
    )
    labels_long = (
        li.filter(F.col("l_orderkey") <= 500)
        .select(F.col("l_orderkey").alias("item"), F.col("l_partkey").alias("label"))
        .dropDuplicates()
    )
    parent_edges = edges.select(
        F.col("src").alias("child"), F.col("dst").alias("parent")
    )
    sets = cdc_training_sets(labels_long, closure, parent_edges)
    return (
        sets.filter(F.col("y") == 0).select("item", "label").orderBy("item", "label")
    )


def q_anatomical_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: drop scored rows whose label is a chosen term or any of its
    closure subterms (reference cello/cello.py:707-733)."""
    from cello_spark.operators.graph import anatomical_filter

    probs, _, closure = _doc_label_probs(spark, sf_dir)
    out = anatomical_filter(probs, closure, [1, 2])
    return out.select(
        "doc_id", "label", _r6(F.col("prob")).alias("prob")
    ).orderBy("doc_id", "label")


def q_study_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9/J4: per-item sample weight = 1/|study| (study = customer of
    the order)."""
    from cello_spark.operators.training import study_weights

    orders = _t(spark, sf_dir, "orders")
    item_study = orders.select(
        F.col("o_orderkey").alias("item"), F.col("o_custkey").alias("study")
    )
    return study_weights(item_study).select(
        "item", _r6(F.col("weight")).alias("weight")
    )


def q_scale_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 Scale (z-score) through the real fit/transform operators —
    one map-side moment pass + one broadcast-affine pass (oracle:
    stddev_pop z-score in SQL)."""
    from cello_spark.operators.preprocess import fit_scale, transform_features

    li = _t(spark, sf_dir, "lineitem")
    feats = li.filter(F.col("l_orderkey") <= 2000).select(
        F.concat_ws(
            "#", F.col("l_orderkey"), F.col("l_linenumber")
        ).alias("doc_id"),
        F.array(
            F.col("l_quantity").cast("double"),
            F.col("l_extendedprice").cast("double"),
            F.col("l_discount").cast("double"),
        ).alias("features"),
    )
    out = transform_features(feats, [fit_scale(feats)])
    return out.select(
        "doc_id",
        _r6(F.col("features")[0]).alias("z_quantity"),
        _r6(F.col("features")[1]).alias("z_price"),
        _r6(F.col("features")[2]).alias("z_discount"),
    )


def q_gene_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 gene matching (cello/cello.py:925-1004): HGNC-symbol dialect
    — 1:N biomart fan-out broadcast join restricted to the training
    gene universe (genes synthesized deterministically from part;
    symbols collide 4:1 to exercise the fan-out)."""
    from cello_spark.sources.expression import match_genes

    part = _t(spark, sf_dir, "part")
    meta = part.select(
        F.concat(
            F.lit("ENSG"), F.lpad(F.col("p_partkey").cast("string"), 11, "0")
        ).alias("gene_id"),
        F.concat(
            F.lit("SYM"), (F.col("p_partkey") % 500).cast("string")
        ).alias("symbol"),
    )
    train = part.filter(F.col("p_partkey") % 3 != 0).select(
        F.concat(
            F.lit("ENSG"), F.lpad(F.col("p_partkey").cast("string"), 11, "0")
        ).alias("gene_id")
    )
    inputs = (
        part.filter(F.col("p_partkey") % 2 == 0)
        .select(
            F.concat(
                F.lit("SYM"), (F.col("p_partkey") % 500).cast("string")
            ).alias("gene")
        )
        .dropDuplicates()
    )
    return match_genes(inputs, meta, train, dialect="HGNC_SYMBOL").orderBy(
        "gene", "gene_id"
    )


def q_triple_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: distributed triple P/R — compare the division-DAG triple set
    against a perturbed variant (every 7th edge dropped, one alien
    edge added)."""
    from cello_spark.operators.metrics import triple_pr

    edges = _part_edges(spark, sf_dir)
    want = edges.select(
        F.col("src").cast("string").alias("subj"),
        F.lit("is_a").alias("pred"),
        F.col("dst").cast("string").alias("obj"),
    )
    got = want.filter(F.col("subj").cast("long") % 7 != 0).union(
        spark.createDataFrame([("alien", "is_a", "node")], "subj string, pred string, obj string")
    )
    return triple_pr(got, want)


# ---------------------------------------------------------------------------
# text / dedup / mention queries (documents table)
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cello_spark.functions.text import (
        punct_ratio,
        stopword_ratio,
        token_count_ws,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws("text").alias("n_tokens_ws"),
        _r6(stopword_ratio("text", "en")).alias("stopword_ratio_en"),
        _r6(punct_ratio("text")).alias("punct_ratio"),
    )


def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cello_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs).select("fingerprint", "n_dups", "keep_id")


def q_dedup_exact_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact_duplicates with the bounded dup_ids sample (r4: the
    unbounded collect_list hazard fix): fingerprint over the SOURCE
    column so sf0.01 actually has duplicate groups, dup_ids capped at
    5 with the omitted count. The capped id list is emitted as a
    comma-joined string so the oracle hash compares a scalar."""
    from cello_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    g = exact_duplicates(docs, text_col="source", max_ids=5)
    return g.select(
        "fingerprint",
        "n_dups",
        "keep_id",
        F.concat_ws(
            ",", F.transform("dup_ids", lambda x: x.cast("string"))
        ).alias("dup_ids_capped"),
        "n_ids_omitted",
    )


def q_dedup_keep_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cello_spark.operators.dedup import dedup_exact

    docs = _t(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cello_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    # explicit finite shingle-DF cap (mirrored in the oracle SQL):
    # boilerplate shingles otherwise make the self-join O(df²)
    pairs = ngram_jaccard_pairs(docs, threshold=0.2, n=3, max_shingle_df=1000)
    return pairs.select("a", "b", _r6(F.col("jaccard")).alias("jaccard"))


def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite fuzzy-dedup chain — the canonical LLM-corpus dedup
    shape: n-gram Jaccard candidate pairs (inverted index, capped
    shingle DF) → undirected connected components over the similarity
    graph → keep-min canonical per duplicate cluster. One row per doc
    that belongs to a near-dup cluster, with the cluster's kept doc.
    All three stages are the operators the KG pipeline itself composes
    (operators/dedup.py ngram_jaccard_pairs, operators/graph.py
    connected_components)."""
    from cello_spark.operators.dedup import ngram_jaccard_pairs
    from cello_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.2, n=3, max_shingle_df=1000
    ).select("a", "b")
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("keep"),
        (F.col("node") == F.col("component")).alias("is_kept"),
    ).orderBy("doc_id")


def q_mention_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention detection (P2-analog): dictionary unigram join over
    documents; per-term distinct-doc and mention counts."""
    from cello_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    dict_df = spark.createDataFrame([(t,) for t in MENTION_DICT], "term string")
    return (
        toks.join(F.broadcast(dict_df), "term")
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
        .orderBy("term")
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (SURVEY §2.3 hub-term hazard): events fact
    keyed by a deliberately skewed 3-value key, dim exploded k ways,
    join on (key, salt) — same result as the plain join."""
    from cello_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    fact = ev.select(
        "event_id",
        F.col("user_id").alias("doc_id"),
        F.pmod(F.col("event_id"), F.lit(3)).alias("key"),
        "value",
    )
    dim = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "gamma")], "key long, bucket string"
    )
    return (
        salted_join(fact, dim, "key", k=8, salt_from="doc_id")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), _r6(F.sum("value")).alias("total"))
        .orderBy("bucket")
    )


def q_mention_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level salted per-term aggregation (hub-term skew path) —
    exact n_mentions must equal the plain groupBy."""
    from cello_spark.functions.text import tokens
    from cello_spark.operators.mentions import mention_counts_salted

    docs = _t(spark, sf_dir, "documents")
    mentions = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(tokens("text")).alias("term_id"),
    ).join(
        F.broadcast(
            spark.createDataFrame([(t,) for t in MENTION_DICT], "term_id string")
        ),
        "term_id",
    )
    return (
        mention_counts_salted(mentions, n_salts=8)
        .select("term_id", "n_mentions")
        .orderBy("term_id")
    )


# ---------------------------------------------------------------------------
# similarity queries (embeddings table)
# ---------------------------------------------------------------------------


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12 clustering analog, emitted as its INVARIANT row so the
    DuckDB oracle can check it: (n_points, k, sizes_ok,
    inertia_decreased). n_points is SQL-recomputed from the same
    parquet; sizes_ok asserts the assignment emits exactly one row
    per input point; inertia_decreased asserts Lloyd DESCENT — final
    centroids' within-cluster squared distance ≤ the seeded-k-means++
    init's (the algorithm's defining property, robust to the
    float-summation partitioning noise that makes the raw per-cluster
    sizes engine-specific — that part stays pytest-verified against
    the numpy oracle in tests/test_clustering.py)."""
    import numpy as np
    import pandas as pd

    from cello_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
        kmeanspp_init,
    )

    emb = _t(spark, sf_dir, "embeddings")
    feats = emb.select(
        F.col("vec_id").alias("item"), F.col("embedding").alias("features")
    )
    # re-derive the SAME deterministic init kmeans_fit uses (sorted
    # sample → seeded k-means++)
    init_rows = feats.orderBy("item").limit(4096).collect()
    S = np.stack(
        [np.asarray(r["features"], dtype=np.float64) for r in init_rows]
    )
    C0 = kmeanspp_init(S, 8, 42)
    C = kmeans_fit(feats, k=8, n_iter=10)

    def inertia(Cm: np.ndarray) -> float:
        bc = spark.sparkContext.broadcast(np.asarray(Cm, dtype=np.float64))

        def run(batches):
            C_ = bc.value
            tot, seen = 0.0, False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                seen = True
                X = np.stack(
                    [np.asarray(v, np.float64) for v in pdf["features"]]
                )
                d2 = ((X[:, None, :] - C_[None, :, :]) ** 2).sum(-1).min(1)
                tot += float(d2.sum())
            if seen:
                yield pd.DataFrame({"partial": [tot]})

        part = feats.select("features").mapInPandas(run, "partial double")
        return float(part.agg(F.sum("partial")).first()[0] or 0.0)

    n_points = feats.count()
    n_assigned = kmeans_assign(feats, C).count()
    # relative tolerance: inertia is a sum over every point, so its
    # float error grows with the data, not with an absolute epsilon
    decreased = inertia(C) <= inertia(C0) * (1 + 1e-9) + 1e-9
    return spark.createDataFrame(
        [
            (
                n_points,
                8,
                int(n_assigned == n_points),
                int(decreased),
            )
        ],
        "n_points long, k int, sizes_ok int, inertia_decreased int",
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cello_spark.operators.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    out = cosine_topk_bruteforce(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", _r6(F.col("cosine")).alias("cosine"), "rank"
    )


def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-ONLY cross-check: exact all-pairs cosine ≥ 0.5. The plan
    is a broadcast nested-loop self-join — quadratic, kept strictly as
    the small-SF ground truth for the bucketed operator. The scale
    path is q_embedding_near_dup_bucketed (pairs form only within IVF
    buckets; recall vs THIS query is pytest-gated)."""
    emb = _t(spark, sf_dir, "embeddings")
    l = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    r = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    from cello_spark.operators.similarity import cosine_similarity_col

    return (
        l.join(r, F.col("a") < F.col("b"))
        .withColumn("cosine", cosine_similarity_col(F.col("ea"), F.col("eb")))
        .filter(F.col("cosine") >= 0.5)
        .select("a", "b", _r6(F.col("cosine")).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# rows-only queries (engine-specific hashing / approximate paths):
# pytest-verified semantics, driver records row-count-only check
# ---------------------------------------------------------------------------


def q_embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for embedding near-dup: pairs form only inside
    IVF centroid buckets (self-join quadratic in bucket size, not
    corpus size) — emitted as its INVARIANT row so the DuckDB oracle
    can check it: (n_exact, n_outside_exact, recall_ok). n_exact is
    the exact all-pairs cosine ≥ 0.5 count (SQL-recomputable from the
    same parquet); n_outside_exact must be 0 (every bucketed pair is
    verified with the exact cosine before emission, so the bucketed
    set is a SUBSET of the exact set by construction); recall_ok
    asserts recall vs exact ≥ 0.5 (vacuously 1 when n_exact = 0;
    measured 1.0 / 1.0 / 0.64 at sf0.001/0.01/0.1 — the recall VALUE
    is centroid-dependent, hence a bound, not an equality). Raw-pair
    inspection stays available via the exact small-SF twin
    q_embedding_near_dup_exact; tests/test_similarity.py gates the
    operator's recall too.

    NOTE: this is a small-SF VERIFICATION artifact — its wall time is
    dominated by the exact all-pairs side it grades against, so it
    says nothing about the bucketed operator's own cost (which the
    bench and the operator's plan-shape docs cover); do not read its
    timing as the scale path's."""
    from cello_spark.operators.similarity import (
        cosine_similarity_col,
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.5, n_centroids=8)
    l = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    r = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    exact = (
        l.join(r, F.col("a") < F.col("b"))
        .withColumn("cosine", cosine_similarity_col(F.col("ea"), F.col("eb")))
        .filter(F.col("cosine") >= 0.5)
        .select("a", "b")
    )
    # one pass: classify each (a, b) of the full outer join
    flags = (
        pairs.select("a", "b").withColumn("__p", F.lit(1))
        .join(exact.withColumn("__e", F.lit(1)), ["a", "b"], "full_outer")
        .agg(
            F.count_if(F.col("__e").isNotNull()).alias("n_exact"),
            F.count_if(
                F.col("__p").isNotNull() & F.col("__e").isNull()
            ).alias("n_outside_exact"),
            F.count_if(
                F.col("__p").isNotNull() & F.col("__e").isNotNull()
            ).alias("n_found"),
        )
    )
    return flags.select(
        "n_exact",
        "n_outside_exact",
        F.when(
            (F.col("n_exact") == 0)
            | (F.col("n_found") / F.col("n_exact") >= 0.5),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("recall_ok"),
    )


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, run with the portable
    md5-prefix hash (hash_strategy='md5') so the ENTIRE chain —
    shingle hash, 64 universal-hash permutations, 32-band bucketing,
    signature-estimate prefilter, exact-Jaccard verify — is replicated
    bit-for-bit by the DuckDB oracle. Production default stays
    xxhash64 (faster; structurally identical plan)."""
    from cello_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, threshold=0.2, n=3, num_hashes=64, bands=32, hash_strategy="md5"
    )
    return pairs.select("a", "b", _r6(F.col("jaccard")).alias("jaccard"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash + pigeonhole hamming bands with the portable
    md5-prefix token hash — vote aggregation, bit assembly, band
    bucketing, and the hamming filter are all replicated by the
    DuckDB oracle (see q_minhash_pairs note on hash_strategy)."""
    from cello_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    out = simhash_pairs(docs, max_hamming=6, n_bands=8, hash_strategy="md5")
    return out.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def q_minhash_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_minhash_pairs on the PRODUCTION hash (xxhash64, the operator
    default) — the path a cluster deployment runs and the one the
    bench headline times. Rows-only by design: xxhash64 has no DuckDB
    twin, so cross-engine verification lives on the md5 variant
    (q_minhash_pairs), and tests/test_dedup.py pins this variant's
    output to a subset-of-exact-Jaccard invariant."""
    from cello_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.2, n=3, num_hashes=64, bands=32)
    return pairs.select("a", "b", _r6(F.col("jaccard")).alias("jaccard"))


def q_simhash_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_simhash_pairs on the production xxhash64 token hash (see
    q_minhash_pairs_fast note)."""
    from cello_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    out = simhash_pairs(docs, max_hamming=6, n_bands=8)
    return out.select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def q_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cello_spark.functions.text import detect_language, quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        detect_language("text").alias("lang_detected"),
        _r6(quality_score("text")).alias("quality"),
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k, emitted as its INVARIANT row so the DuckDB
    oracle can check it: (n_queries, n_exact, recall_ok). n_queries
    and n_exact (the exact brute-force top-k row count, window SQL
    over the same parquet — the exact side already hash-verified by
    q_cosine_topk) are SQL-recomputable; recall_ok asserts aggregate
    recall |ivf ∩ exact| / |exact| ≥ 0.6 over all queries (measured
    0.80 / 0.80 / 0.87 at sf0.001/0.01/0.1; the recall VALUE is
    centroid-dependent, hence a bound, not an equality — the per-query
    ≥ 0.5 gate lives in tests/test_similarity.py)."""
    from cello_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_build,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    assigned, C = ivf_build(emb, n_centroids=8, seed=42)
    approx = ivf_topk(assigned, C, queries, k=5, n_probe=4).select(
        "query_id", "vec_id"
    )
    exact = cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", "vec_id"
    )
    flags = (
        approx.withColumn("__a", F.lit(1))
        .join(exact.withColumn("__e", F.lit(1)), ["query_id", "vec_id"], "full_outer")
        .agg(
            F.count_distinct(
                F.when(F.col("__e").isNotNull(), F.col("query_id"))
            ).alias("n_queries"),
            F.count_if(F.col("__e").isNotNull()).alias("n_exact"),
            F.count_if(
                F.col("__a").isNotNull() & F.col("__e").isNotNull()
            ).alias("n_hits"),
        )
    )
    return flags.select(
        "n_queries",
        "n_exact",
        F.when(
            (F.col("n_exact") == 0)
            | (F.col("n_hits") / F.col("n_exact") >= 0.6),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("recall_ok"),
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing, emitted as its INVARIANT row: media spans
    → typed binary table → deterministic fake decode (hash-seeded
    shapes/pixels) → one aggregate row over the decoded table. The
    fixture world is fully deterministic (payloads are functions of
    media_ref; shapes/means are order-independent sums / a
    rounded avg verified stable across partitionings), so the DuckDB
    oracle pins the expected scalars as literals — the decode math
    itself can't run in SQL, but the hash now certifies the whole
    mapInPandas plumbing instead of recording only a row count."""
    from cello_spark.operators.multimodal import (
        attach_media,
        decode_media,
        fake_decoder,
    )
    from cello_spark.sources.fixtures import make_documents, make_ontology

    onto = make_ontology()
    docs, _, _ = make_documents(onto, n_docs=100)
    media = attach_media(spark.createDataFrame(docs))
    decoded = decode_media(media, decoder=fake_decoder)
    return decoded.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.count_distinct("kind").alias("n_kinds"),
        F.sum("width").alias("total_width"),
        F.sum("height").alias("total_height"),
        F.sum("channels").alias("total_channels"),
        F.round(F.avg("mean_intensity"), 6).alias("avg_mean_intensity"),
    )


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG pipeline (fixture world, deterministic) — the flagship
    end-to-end operator chain, emitted as its P/R INVARIANT row: the
    pipeline's triple table is compared (distributed triple_pr) against
    the frozen numpy oracle's golden triples
    (cello_spark.oracle.golden_fixture_triples — the SAME oracle the
    pytest ≥0.95 gate uses), and the query returns the one-row
    (tp, fp, fn, precision, recall, f1) summary. The fixture world is
    fully deterministic, so the oracle SQL pins the expected scalars
    (tp=1676, fp=fn=0, P=R=F1=1.0) as literals — a hash mismatch means
    the pipeline no longer reproduces the reference semantics."""
    import tempfile

    import pandas as pd

    from cello_spark import oracle as _oracle
    from cello_spark.operators.metrics import triple_pr
    from cello_spark.plans.kg import build_kg_pipeline
    from cello_spark.sources.fixtures import (
        make_documents,
        make_model_weights,
        make_ontology,
        make_thresholds,
    )

    onto = make_ontology()
    docs, feats, truth = make_documents(onto, n_docs=200)
    weights = make_model_weights(onto)
    thresholds = make_thresholds(onto)
    workdir = tempfile.mkdtemp(prefix="kg_entry_")
    pipe = build_kg_pipeline(
        spark,
        workdir,
        spark.createDataFrame(docs),
        spark.createDataFrame(feats),
        onto,
        weights,
        thresholds,
    )
    pipe.run()
    lab = set(onto.labels)
    all_edges = pd.concat([onto.edges, onto.patch_edges])
    label_edges = [
        (c, p)
        for c, p, r in all_edges[["src", "dst", "rel"]].itertuples(index=False)
        if r == "is_a" and c in lab and p in lab
    ]
    golden = _oracle.golden_fixture_triples(
        onto,
        {"features": feats, "weights": weights, "thresholds": thresholds},
        label_edges,
    )
    out = triple_pr(pipe.output("triples"), spark.createDataFrame(golden))
    # triple_pr materializes its counts eagerly (.first()), so the
    # returned one-row DataFrame is a literal localRelation — the
    # pipeline workdir is no longer referenced and can be removed
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    return out


# q_kg_chain constants: a small alias dictionary mapping document
# tokens to labels at different depths of the part-division DAG
# (1 is the root; 11/12 mid-level; 111/112/121 leaves — all present
# from sf0.001 up), one two-token alias to exercise n-gram matching,
# and xref pairs that merge label nodes across components so the
# canonical rewrite has real work (112→111, 121→12).
KG_CHAIN_ALIASES = [
    ("spark", "111"),
    ("window", "11"),
    ("hash join", "112"),
    ("scan", "12"),
    ("filter", "121"),
    ("table", "1"),
]
KG_CHAIN_XREFS = [
    ("111", "xref:a"),
    ("112", "xref:a"),
    ("12", "xref:b"),
    ("121", "xref:b"),
]


def q_kg_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end relational face of the KG-construction pipeline
    (plans/kg.py) over the SF tables, DuckDB-oracle-checked as ONE
    chain: span-structured dictionary mention detection
    (operators/mentions.py detect_mentions — first-token gate +
    n-gram broadcast join), mention-count scoring, hierarchy-consistent
    binarization (binarize_relational; reference cello/cello.py:736-797),
    most-specific selection with the fixed (prob desc, label asc)
    tie-break (:800-919), ancestor-filled typing triples (:875-891),
    ontology is_a triples, alias/xref connected-components
    canonicalization (operators/graph.py connected_components +
    plans/kg.canonical_mapping; reference ontology_graph.py:344-387,
    :563-569) and the canonical subj/obj rewrite. The only pipeline
    stage absent is the non-SQL model-scoring kernel, whose
    probabilities are replaced by deterministic mention-count scores
    cnt/(cnt+1); everything else is the literal operator composition
    the fixture pipeline (q_kg_triples) runs."""
    from cello_spark.operators.cascade import closure_with_self
    from cello_spark.operators.graph import connected_components, transitive_closure
    from cello_spark.operators.linking import (
        binarize_relational,
        most_specific_relational,
    )
    from cello_spark.operators.mentions import detect_mentions
    from cello_spark.plans.kg import canonical_mapping

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    alias_df = spark.createDataFrame(
        KG_CHAIN_ALIASES, "alias_norm string, term_id string"
    )
    mentions = detect_mentions(docs, alias_df, distinct=False)
    probs = (
        mentions.groupBy(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("term_id").cast("long").alias("label"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "doc_id",
            "label",
            (F.col("cnt") / (F.col("cnt") + F.lit(1.0))).alias("prob"),
        )
    )
    part = _t(spark, sf_dir, "part")
    thresholds = part.select(
        F.col("p_partkey").alias("label"),
        (F.lit(0.2) + F.pmod(F.col("p_partkey"), F.lit(7)) / F.lit(10.0)).alias(
            "threshold"
        ),
    )
    edges = _part_edges(spark, sf_dir).withColumn("rel", F.lit("is_a"))
    closure = transitive_closure(edges, rels=("is_a",))
    cws = closure_with_self(closure)
    bins = binarize_relational(probs, thresholds, cws)
    scored = probs.join(bins, ["doc_id", "label"])
    ms = most_specific_relational(scored, closure, [])
    typing = ms.join(cws, ms.most_specific == cws.descendant).select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.col("ancestor").cast("string").alias("obj"),
    )
    onto = edges.select(
        F.col("src").cast("string").alias("subj"),
        F.lit("is_a").alias("pred"),
        F.col("dst").cast("string").alias("obj"),
    )
    pairs = spark.createDataFrame(
        KG_CHAIN_XREFS, "a string, b string"
    ).unionByName(
        alias_df.select(
            F.col("term_id").alias("a"),
            F.concat(F.lit("alias:"), F.col("alias_norm")).alias("b"),
        )
    )
    # the term ids here are part keys (digit strings)
    cmap = canonical_mapping(connected_components(pairs), tuple("0123456789"))
    subj_map = F.broadcast(
        cmap.select(F.col("node").alias("subj"), F.col("canonical").alias("subj_c"))
    )
    obj_map = F.broadcast(
        cmap.select(F.col("node").alias("obj"), F.col("canonical").alias("obj_c"))
    )
    return (
        typing.unionByName(onto)
        .join(subj_map, "subj", "left")
        .join(obj_map, "obj", "left")
        .select(
            F.coalesce("subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_c", "obj").alias("obj"),
        )
        .dropDuplicates()
        .orderBy("subj", "pred", "obj")
    )


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF: top-3 terms per document by smoothed tf-idf
    (inverted-index scoring pass; operators/corpus.py). Three
    map-side-combinable shuffles; the df side of the tf⋈df join is
    vocab-sized (broadcast under AQE)."""
    from cello_spark.operators.corpus import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=3)
    return out.select(
        "doc_id", "term", "tf", "df", _r6(F.col("tfidf")).alias("tfidf"), "rank"
    ).orderBy("doc_id", "rank")


def q_pack_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus packing (LLM-training sharding;
    operators/corpus.py): deterministic md5 shards, per-shard running
    token offset, bin = floor(start / capacity). ONE shuffle; the
    portable hash makes the layout reproducible in ANSI SQL."""
    from cello_spark.operators.corpus import pack_token_bins

    docs = _t(spark, sf_dir, "documents")
    return pack_token_bins(docs, capacity=256, n_shards=8).orderBy(
        "shard", "doc_id"
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (operators/corpus.py hash_sample):
    reproducible ~20% corpus subsample — membership is a pure function
    of the portable md5 hash of doc_id, so DuckDB reproduces it
    row-for-row. Zero shuffle (a filter the scan absorbs)."""
    from cello_spark.operators.corpus import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, 0.2).select("doc_id", "lang", "source").orderBy(
        "doc_id"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (corpus rebalancing): keep
    all of one source, 25% of another, drop the rest — broadcast rate
    map + the same portable membership rule as q_hash_sample."""
    from cello_spark.operators.corpus import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs,
        {"src0": 0.25, "src1": 1.0, "src2": 0.5},
        strata_col="source",
        default_rate=0.05,
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-doc repetition signals (dup-line fraction,
    top/dup n-gram fractions for n=2,3) — ONE lambda-free gram
    explode, two map-side-combinable shuffles."""
    from cello_spark.operators.quality import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs).orderBy("doc_id")


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality filter (Gopher-style rules): word
    count / mean word length / alphabetic floor / stopword floor /
    repetition caps, emitted with every signal so rejections are
    auditable. `keep` is cast to int for the cross-engine hash."""
    from pyspark.sql import functions as F

    from cello_spark.operators.quality import gopher_quality_filter

    docs = _t(spark, sf_dir, "documents")
    out = gopher_quality_filter(docs, min_words=30)
    return out.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_char_ratio",
        "stopword_ratio",
        "dup_line_frac",
        "top2gram_frac",
        "dup3gram_frac",
        F.col("keep").cast("int").alias("keep"),
    ).orderBy("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 3-gram overlap of every corpus doc
    against a deterministic held-out 'benchmark' slice
    (doc_id % 50 = 0 — stands in for an eval suite). The benchmark's
    distinct shingle set is broadcast; the corpus side never shuffles
    for the membership probe."""
    from pyspark.sql import functions as F

    from cello_spark.operators.quality import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    out = decontaminate(docs, bench, n=3, threshold=0.3)
    return out.select(
        "doc_id",
        "n_shingles",
        "n_matched",
        "overlap_frac",
        F.col("contaminated").cast("int").alias("contaminated"),
    ).orderBy("doc_id")


def _interleaved_docs(docs: DataFrame) -> DataFrame:
    """Deterministic interleaved spans column over the sf documents
    (md5(doc_id)%3 picks the layout — media before any text / media
    after text / text only). Mirrored verbatim in the q_caption_pairs
    and q_media_triples DuckDB oracles, so the operators themselves
    are what those queries check."""
    h = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 3
    ).alias("h")
    txt = F.struct(
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(1).alias("offset"),
    )

    def med(kind: str, prefix: str, off: int):
        return F.struct(
            F.lit(kind).alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit(prefix), F.col("doc_id").cast("string")).alias("media_ref"),
            F.lit(off).alias("offset"),
        )

    return docs.select(
        "doc_id",
        F.when(h == 0, F.array(med("image", "img:", 0), txt, med("audio", "aud:", 2)))
        .when(h == 1, F.array(txt, med("image", "img:", 2)))
        .otherwise(F.array(txt))
        .alias("spans"),
    )


def q_caption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-span caption alignment (operators/multimodal.py
    caption_pairs): pair every media span with the nearest preceding
    text span over the deterministic interleaved world."""
    from cello_spark.operators.multimodal import caption_pairs

    docs = _t(spark, sf_dir, "documents")
    return caption_pairs(_interleaved_docs(docs)).orderBy("doc_id", "media_idx")


def q_media_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-grounding triples (operators/multimodal.py media_triples):
    (doc, has_media, ref) for every media span and (ref, depicts, term)
    for every alias-dictionary mention in the span's caption — the
    interleaved-payload face of the KG triple emission, reusing the
    q_kg_chain alias dictionary so the caption mention path runs the
    same detect_mentions gate as the main pipeline."""
    from cello_spark.operators.multimodal import media_triples

    docs = _t(spark, sf_dir, "documents")
    alias_df = spark.createDataFrame(
        KG_CHAIN_ALIASES, "alias_norm string, term_id string"
    )
    return media_triples(_interleaved_docs(docs), alias_df).orderBy(
        "subj", "pred", "obj"
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counts + redaction over documents with deterministic PII
    injected (the sf corpus is synthetic lorem text, so the injection
    — mirrored expression-for-expression in the DuckDB oracle — makes
    the regexes actually fire). Pure per-row codegen, zero shuffle."""
    from pyspark.sql import functions as F

    from cello_spark.operators.scrub import pii_redact

    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit(" call 555-867-5309")
        ).otherwise(F.lit("")),
    )
    return pii_redact(docs.withColumn("text", aug)).orderBy("doc_id")


def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-corpus Jaccard near-dup join: odd doc_ids are the
    'new crawl', even doc_ids the 'existing training set'. Shingle df
    cap computed over the union of both sides (jaccard_pairs_cross).
    The MinHash-LSH cross variant (minhash_lsh_pairs_cross) is the
    scale path; its verified output is a recall-bounded subset of this
    query (pytest-checked)."""
    from pyspark.sql import functions as F

    from cello_spark.operators.dedup import jaccard_pairs_cross

    docs = _t(spark, sf_dir, "documents")
    left = docs.where(F.col("doc_id") % 2 == 1)
    right = docs.where(F.col("doc_id") % 2 == 0)
    return (
        jaccard_pairs_cross(
            left, right, threshold=0.2, n=3, max_shingle_df=1000
        )
        .withColumn("jaccard", F.round("jaccard", 6))
        .orderBy("a", "b")
    )


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc-length distribution profile (count, mean, exact
    p25/p50/p75/p95). exact=True here so DuckDB quantile_cont can
    hash-check the interpolation; the 100 TB path is exact=False
    (mergeable Greenwald-Khanna sketch), bounded against the exact
    path in tests/test_corpus.py."""
    from cello_spark.operators.corpus import length_quantiles

    docs = _t(spark, sf_dir, "documents")
    return length_quantiles(
        docs,
        group_col="source",
        value_col="n_chars",
        probs=(0.25, 0.5, 0.75, 0.95),
        exact=True,
    ).orderBy("source")


def _entity_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (subj, pred, obj) triple table over the TPC-H
    entities: nation-in_region, customer-in_nation, supplier-
    supplies_in. Shared by the BGP / KG-maintenance queries; mirrored
    verbatim in their DuckDB oracles."""
    from pyspark.sql import functions as F

    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        nat.join(reg, nat.n_regionkey == reg.r_regionkey)
        .select(
            F.col("n_name").alias("subj"),
            F.lit("in_region").alias("pred"),
            F.col("r_name").alias("obj"),
        )
        .unionByName(
            cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
                F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("subj"),
                F.lit("in_nation").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
        .unionByName(
            supp.join(nat, supp.s_nationkey == nat.n_nationkey).select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("subj"),
                F.lit("supplies_in").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
    )


def q_bgp_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style basic-graph-pattern query over a triple table
    derived from TPC-H entities: customers and suppliers co-located in
    a European nation. Constant terms push down to the triple scan;
    the three templates chain on shared variables as Catalyst
    equi-joins (free to reorder)."""
    from cello_spark.operators.bgp import match_bgp

    return match_bgp(
        _entity_triples(spark, sf_dir),
        [
            ("?c", "in_nation", "?n"),
            ("?s", "supplies_in", "?n"),
            ("?n", "in_region", "EUROPE"),
        ],
    ).orderBy("c", "s")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token chunking with overlap (chunk 64, overlap 16) — the
    context-window splitting step of an LLM training / RAG pipeline.
    One WholeStageCodegen span, zero shuffle; chunk counts use pure
    positive-numerator integer arithmetic so the DuckDB oracle
    replicates them exactly."""
    from cello_spark.operators.corpus import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16).orderBy(
        "doc_id", "chunk_idx"
    )


def q_kg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two KG builds: 'old' drops customers with
    custkey % 3 = 0, 'new' drops custkey % 2 = 0 — per-predicate churn
    (added/removed/unchanged) via anti/semi joins on the triple key."""
    from pyspark.sql import functions as F

    from cello_spark.operators.kgops import kg_diff_summary

    t = _entity_triples(spark, sf_dir)
    ck = F.conv(F.substring(F.md5("subj"), 1, 15), 16, 10).cast("bigint")
    old = t.where(~((F.col("pred") == "in_nation") & (ck % 3 == 0)))
    new = t.where(~((F.col("pred") == "in_nation") & (ck % 2 == 0)))
    return kg_diff_summary(old, new).orderBy("pred")


def q_kg_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate degree profile of the entity KG — n_triples,
    distinct subjects/objects, max out/in degree, avg out degree. The
    max_in_degree column is the hub-term detector that picks the
    salting threshold for skewed aggregates (operators/skew.py)."""
    from cello_spark.operators.kgops import kg_degree_stats

    return kg_degree_stats(_entity_triples(spark, sf_dir)).orderBy("pred")


def q_kg_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TransE-style negative sampling over the entity
    KG: k=2 type-consistent object corruptions per positive, md5-keyed
    draws, anti-joined against the true triples (no false negatives).
    The whole plan is windows + joins on uniform keys — no driver-side
    domain collection."""
    from cello_spark.operators.kgops import kg_negative_samples

    return kg_negative_samples(
        _entity_triples(spark, sf_dir), k=2, seed=42, corrupt="obj"
    ).orderBy("pos_subj", "pred", "pos_obj", "draw")


def q_kg_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over a branching entity graph
    (part -> supplier -> nation -> region; parts have many suppliers,
    so the md5-keyed neighbor choice is actually exercised). walk_len=3
    fixed steps = 6 equi-joins, frontier never grows."""
    from pyspark.sql import functions as F

    from cello_spark.operators.kgops import kg_random_walks

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    edges = (
        li.select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("subj"),
            F.lit("supplied_by").alias("pred"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("obj"),
        )
        .dropDuplicates()
        .unionByName(
            supp.join(nat, supp.s_nationkey == nat.n_nationkey).select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("subj"),
                F.lit("in_nation").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
        .unionByName(
            nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
                F.col("n_name").alias("subj"),
                F.lit("in_region").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )
    return kg_random_walks(
        edges, walk_len=3, walks_per_node=1, seed=42
    ).orderBy("start", "walk")


def q_kg_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL-RL property-chain inference over the entity KG: the rules
    in_nation ∘ in_region → in_region and supplies_in ∘ in_region →
    in_region derive region membership for customers and suppliers
    (one-round fixpoint on this graph; multi-round convergence is
    pytest-covered on deeper graphs)."""
    from cello_spark.operators.kgops import infer_property_chains

    return infer_property_chains(
        _entity_triples(spark, sf_dir),
        chains=[
            ("in_nation", "in_region", "in_region"),
            ("supplies_in", "in_region", "in_region"),
        ],
    ).orderBy("subj", "pred", "obj")


def q_kg_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite validation of the entity KG with deterministic
    violations injected (mirrored in the oracle): md5-selected
    customers gain a second in_nation edge pointing at a REGION
    (range + functional violations), and one region node gains an
    in_nation edge (domain violation). Constraint table broadcast;
    violations found by anti-joins + one count-distinct aggregate."""
    from pyspark.sql import functions as F

    from cello_spark.operators.kgops import validate_kg

    t = _entity_triples(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    ck = F.conv(F.substring(F.md5("subj"), 1, 15), 16, 10).cast("bigint")
    bad_range = (
        t.where((F.col("pred") == "in_nation") & (ck % 13 == 0))
        .select("subj", "pred", F.lit("EUROPE").alias("obj"))
    )
    bad_domain = nat.agg(F.min("n_name").alias("obj")).select(
        F.lit("EUROPE").alias("subj"),
        F.lit("in_nation").alias("pred"),
        "obj",
    )
    triples = t.unionByName(bad_range).unionByName(bad_domain)
    types = (
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("node"),
            F.lit("customer").alias("type"),
        )
        .unionByName(
            supp.select(
                F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"),
                F.lit("supplier").alias("type"),
            )
        )
        .unionByName(
            nat.select(F.col("n_name").alias("node"), F.lit("nation").alias("type"))
        )
        .unionByName(
            reg.select(F.col("r_name").alias("node"), F.lit("region").alias("type"))
        )
    )
    constraints = spark.createDataFrame(
        [
            ("in_nation", "customer", "nation"),
            ("supplies_in", "supplier", "nation"),
            ("in_region", "nation", "region"),
        ],
        "pred string, domain_type string, range_type string",
    )
    return validate_kg(
        triples, types, constraints, functional_preds=("in_nation",)
    ).orderBy("violation", "subj", "pred")


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tempered corpus rebalancing (p_s ∝ n_s^0.5, ~200-doc target):
    per-stratum counts → driver-side rate derivation → deterministic
    hash membership. Rates are floored to 3 decimals on BOTH sides so
    the cross-engine comparison is immune to last-ulp float drift in
    the rate arithmetic (the membership rule itself is exact integer
    hashing)."""
    import math

    from pyspark.sql import functions as F

    from cello_spark.operators.corpus import (
        stratified_hash_sample,
        temperature_mixture_rates,
    )

    docs = _t(spark, sf_dir, "documents")
    sizes = {
        r[0]: r[1]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rates = temperature_mixture_rates(sizes, alpha=0.5, target_total=200)
    rates3 = {s: math.floor(r * 1000) / 1000 for s, r in rates.items()}
    return (
        stratified_hash_sample(docs, rates3, "source")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_cap_per_stratum_dehub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_cap_per_stratum with the two-phase salted top-k FORCED
    (hub_rows=1): at sf0.01 the skew probe routes the default query
    through the single window, so this twin keeps the bucketed
    pre-cap machinery under cross-engine verification."""
    from cello_spark.operators.corpus import cap_per_stratum

    docs = _t(spark, sf_dir, "documents")
    return (
        cap_per_stratum(docs, 20, strata_col="source", hub_rows=1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_cap_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the C4/RefinedWeb limit-pages-per-
    domain rule): at most 20 docs per source, survivors chosen by
    deterministic md5-hash order so the kept set is a uniform,
    engine-reproducible sample of each stratum."""
    from cello_spark.operators.corpus import cap_per_stratum

    docs = _t(spark, sf_dir, "documents")
    return (
        cap_per_stratum(docs, 20, strata_col="source")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span removal: the sf documents are re-shaped
    into 10-token paragraphs (deterministic, mirrored in the oracle),
    then every paragraph occurring anywhere earlier (min (doc_id,
    pos)) is removed and documents are rebuilt from the survivors.
    One map-side-combinable winner aggregate per fingerprint — a
    boilerplate paragraph costs one row, never a self-join blow-up."""
    from pyspark.sql import functions as F

    from cello_spark.operators.corpus import chunk_documents
    from cello_spark.operators.dedup import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents")
    ch = chunk_documents(docs, chunk_tokens=10, overlap=0)
    parad = ch.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda x: x["chunk_text"],
            ),
            "\n",
        ).alias("text")
    )
    parad = (
        docs.select("doc_id")
        .join(parad, "doc_id", "left")
        .fillna({"text": ""})
    )
    return dedup_paragraphs(parad).orderBy("doc_id")


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- first 50 = the driver-checked window this round
        # (r4 verdict item 1): the 35 queries whose last driver rows
        # are r3 lead, followed by 15 re-confirms of queries whose
        # code changed in r5 (oracle-ified invariants, the kgops
        # materialize pins, the canonical-mapping multi-prefix
        # generalization, the entry tokenizer-SQL refactor) ---
        "q_stratified_sample": q_stratified_sample,
        "q_temperature_sample": q_temperature_sample,
        "q_chunk_documents": q_chunk_documents,
        "q_hash_sample": q_hash_sample,
        "q_repetition_stats": q_repetition_stats,
        "q_gopher_filter": q_gopher_filter,
        "q_decontaminate": q_decontaminate,
        "q_length_quantiles": q_length_quantiles,
        "q_bgp_match": q_bgp_match,
        "q_dedup_paragraphs": q_dedup_paragraphs,
        "q_kg_diff": q_kg_diff,
        "q_kg_degree": q_kg_degree,
        "q_kg_chains": q_kg_chains,
        "q_kg_validate": q_kg_validate,
        "q_embedding_near_dup_bucketed": q_embedding_near_dup_bucketed,
        "q_simhash_pairs_fast": q_simhash_pairs_fast,
        "q_ivf_topk": q_ivf_topk,
        "q_kmeans_clusters": q_kmeans_clusters,
        "q_media_decode": q_media_decode,
        "q_kg_triples": q_kg_triples,
        "q_kg_chain": q_kg_chain,
        "q_topk_revenue": q_topk_revenue,
        "q_join_region_nation": q_join_region_nation,
        "q_window_topk_per_group": q_window_topk_per_group,
        "q_semi_join": q_semi_join,
        "q_anti_join": q_anti_join,
        "q_set_ops": q_set_ops,
        "q_group_weights": q_group_weights,
        "q_distinct_ordered": q_distinct_ordered,
        "q_mean_var": q_mean_var,
        "q_pseudobulk": q_pseudobulk,
        "q_cluster_mapback": q_cluster_mapback,
        "q_sessionize": q_sessionize,
        "q_event_hourly": q_event_hourly,
        "q_most_general": q_most_general,
        # r5 re-confirms (code touched this round or exact twin of a
        # rewritten invariant query)
        "q_kg_negatives": q_kg_negatives,
        "q_kg_walks": q_kg_walks,
        "q_dedup_exact_groups": q_dedup_exact_groups,
        "q_dedup_exact_capped": q_dedup_exact_capped,
        "q_dedup_keep_min": q_dedup_keep_min,
        "q_canonical_map": q_canonical_map,
        "q_connected_components": q_connected_components,
        "q_triple_pr": q_triple_pr,
        "q_cosine_topk": q_cosine_topk,
        "q_embedding_near_dup_exact": q_embedding_near_dup_exact,
        "q_minhash_pairs": q_minhash_pairs,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_cross_dedup": q_cross_dedup,
        "q_media_triples": q_media_triples,
        "q_agg_pricing": q_agg_pricing,
        # --- beyond the driver window (green in the r4 driver run
        # under the current engine, or unchanged since) ---
        "q_caption_pairs": q_caption_pairs,
        "q_onn_confidence": q_onn_confidence,
        "q_group_rank": q_group_rank,
        "q_group_rank_dehub": q_group_rank_dehub,
        "q_cap_per_stratum": q_cap_per_stratum,
        "q_cap_per_stratum_dehub": q_cap_per_stratum_dehub,
        "q_hvg_topn": q_hvg_topn,
        "q_transitive_reduction": q_transitive_reduction,
        "q_topo_layers": q_topo_layers,
        "q_spanning_subgraph": q_spanning_subgraph,
        "q_clr_marginals": q_clr_marginals,
        "q_one_nn": q_one_nn,
        "q_positive_examples": q_positive_examples,
        "q_normalize_counts": q_normalize_counts,
        "q_binarize": q_binarize,
        "q_most_specific_doc": q_most_specific_doc,
        "q_typing_triples": q_typing_triples,
        "q_cdc_negatives": q_cdc_negatives,
        "q_anatomical_filter": q_anatomical_filter,
        "q_study_weights": q_study_weights,
        "q_scale_transform": q_scale_transform,
        "q_gene_match": q_gene_match,
        "q_text_stats": q_text_stats,
        "q_dedup_fuzzy": q_dedup_fuzzy,
        "q_mention_counts": q_mention_counts,
        "q_salted_join": q_salted_join,
        "q_mention_counts_salted": q_mention_counts_salted,
        "q_tfidf_topk": q_tfidf_topk,
        "q_pack_token_bins": q_pack_token_bins,
        "q_closure": q_closure,
        "q_most_specific": q_most_specific,
        "q_simhash_pairs": q_simhash_pairs,
        "q_pii_scrub": q_pii_scrub,
        "q_lang_detect": q_lang_detect,
        "q_minhash_pairs_fast": q_minhash_pairs_fast,
    }


# normalized-text SQL fragments shared by several oracles (must mirror
# cello_spark.functions.text.tokens / normalize_text exactly:
# lowercase, fold tab/newline/CR to space, split on single space, drop
# empties — regex-free on the Spark side, see functions/text.py)
def _tokens_sql(col: str = "text") -> str:
    """DuckDB tokenizer over an arbitrary column — parameterized so
    per-column variants can't silently drift from each other (the old
    str.replace('lower(text)', ...) approach became a no-op whenever
    the fragment was reworded)."""
    return (
        f"list_filter(string_split(translate(lower({col}), "
        "chr(9)||chr(10)||chr(13), '   '), ' '), t -> t != '')"
    )


def _norm_sql(col: str = "text") -> str:
    return f"array_to_string({_tokens_sql(col)}, ' ')"


_TOKENS_SQL = _tokens_sql("text")
_NORM_SQL = _norm_sql("text")
# same normalization over the `source` column (q_dedup_exact_capped)
_NORM_SRC_SQL = _norm_sql("source")

# mention-path tokenizer (punctuation folded) — built from the SAME
# fold set the engine uses (functions/text.py mention_tokens) so the
# two sides cannot drift
from cello_spark.functions.text import _MENTION_FOLD as _MF  # noqa: E402

_MENTION_FOLD_SQL = "chr(9)||chr(10)||chr(13)||" + "||".join(
    f"chr({ord(c)})" for c in _MF
)
_MENTION_TOKENS_SQL = (
    f"list_filter(string_split(translate(lower(text), {_MENTION_FOLD_SQL}, "
    f"repeat(' ', {3 + len(_MF)})), ' '), t -> t != '')"
)

# q_kg_chain VALUES clauses generated from the same constants the
# Spark side uses (KG_CHAIN_ALIASES / KG_CHAIN_XREFS) — no drift
_KG_CHAIN_DICT_VALUES = ", ".join(
    f"('{a}', {t})" for a, t in KG_CHAIN_ALIASES
)
_KG_CHAIN_DICT_STR_VALUES = ", ".join(
    f"('{a}', '{t}')" for a, t in KG_CHAIN_ALIASES
)
_KG_CHAIN_PAIR_VALUES = ", ".join(
    [f"('{a}', '{b}')" for a, b in KG_CHAIN_XREFS]
    + [f"('{t}', 'alias:{a}')" for a, t in KG_CHAIN_ALIASES]
)

# q_lang_detect: stopword list literals from the SAME dict the engine
# uses (functions/text.py STOPWORDS) — no drift
from cello_spark.functions.text import STOPWORDS as _SW  # noqa: E402

_SW_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in _SW.items()
}
_STOP_EN = "['the','of','and','to','in','a','is','that','for','it','with','as','was','on','are']"

# Portable 60-bit hash (DuckDB side): top 15 md5 hex digits as a
# non-negative BIGINT — the exact value Spark computes with
# conv(substr(md5(x),1,15),16,10) (cello_spark.operators.dedup.
# portable_hash64_sql). Verified identical across engines.
_P31 = 2147483647  # 2^31 - 1, the universal-hash modulus


def _duck_h64(col_sql: str) -> str:
    return f"cast(('0x' || substr(md5({col_sql}), 1, 15)) AS BIGINT)"


# Shared shingle CTE prefix (3-gram shingles over the regex-free
# tokenizer, shingle-DF cap) — mirrors operators/dedup.shingles +
# _capped_shingles (the anti-join against the _over_cap set; a count
# window here gives the same capped rows); same fragment as the
# q_ngram_jaccard oracle.
def _duck_shingles(max_df: int) -> str:
    return f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(t) >= 3 THEN array_to_string(t[i:i+2], ' ')
                          ELSE array_to_string(t, ' ') END AS shingle
              FROM toks, LATERAL (
                SELECT unnest(range(1, greatest(len(t) - 1, CASE WHEN len(t) > 0 THEN 2 ELSE 1 END))) AS i
              )
              WHERE len(t) > 0
            ), capped AS (
              SELECT doc_id, shingle FROM sh
              QUALIFY count(*) OVER (PARTITION BY shingle) <= {max_df}
            )"""


def _minhash_oracle_sql() -> str:
    """Full DuckDB replica of q_minhash_pairs: portable shingle hash →
    64 (a*h+b) mod p min-aggregates → 32 two-row bands hashed with the
    same portable hash → distinct band-bucket pairs → signature-
    estimate prefilter (same float cutoff literal the engine plans) →
    exact-Jaccard verify. Coefficients come from the SAME
    minhash_coeffs(64, 42) the engine uses — no drift possible."""
    from cello_spark.operators.dedup import minhash_coeffs

    num_hashes, bands, threshold = 64, 32, 0.2
    coeffs = minhash_coeffs(num_hashes, 42)
    mins = ",\n                     ".join(
        f"min((h * {a} + {b}) % {_P31}) AS mh_{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    band_key = lambda b: _duck_h64(  # noqa: E731
        f"cast(mh_{2 * b} AS VARCHAR) || ',' || cast(mh_{2 * b + 1} AS VARCHAR)"
    )
    band_arms = "\n              UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {band_key(b)} AS band_hash FROM sig"
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    # the engine compares est_j to the Python-computed double
    # (threshold - 3*sqrt(0.25/k)); repr() round-trips the exact value
    cutoff = repr(threshold - 3.0 * (0.25 / num_hashes) ** 0.5)
    return f"""{_duck_shingles(5000)}, hashed AS (
              SELECT doc_id, {_duck_h64('shingle')} % {_P31} AS h FROM capped
            ), sig AS (
              SELECT doc_id,
                     {mins}
              FROM hashed GROUP BY doc_id
            ), banded AS (
              {band_arms}
            ), cand AS (
              SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
              FROM banded l JOIN banded r
                ON l.band = r.band AND l.band_hash = r.band_hash
               AND l.doc_id < r.doc_id
            ), est AS (
              SELECT c.a, c.b FROM cand c
              JOIN sig sa ON sa.doc_id = c.a
              JOIN sig sb ON sb.doc_id = c.b
              WHERE ({agree}) / 64.0 >= {cutoff}
            ), com AS (
              SELECT e.a, e.b, count(*) AS common
              FROM est e
              JOIN capped l ON l.doc_id = e.a
              JOIN capped r ON r.doc_id = e.b AND r.shingle = l.shingle
              GROUP BY 1, 2
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id
            )
            SELECT a, b,
                   round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6)
                     AS jaccard
            FROM com
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= {threshold}
    """


def _simhash_oracle_sql() -> str:
    """Full DuckDB replica of q_simhash_pairs (max_hamming=6,
    n_bands=8). The portable hash is 60-bit, so bits 60-63 of every
    token hash are 0 → their votes are all -1 → those simhash bits are
    always 0; the oracle therefore only materializes bits 0-59 (the
    engine computes all 64 with identical results)."""
    n_bits, n_bands, max_hamming = 60, 8, 6
    votes = ",\n                     ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(n_bits)
    )
    bit_sum = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(n_bits)
    )
    return f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
            ), hashed AS (
              SELECT doc_id, {_duck_h64('tok')} AS h FROM toks
            ), votes AS (
              SELECT doc_id,
                     {votes}
              FROM hashed GROUP BY doc_id
            ), sim AS (
              SELECT doc_id, {bit_sum} AS simhash FROM votes
            ), banded AS (
              SELECT doc_id, simhash, b AS band,
                     (simhash >> (b * {64 // n_bands})) & {(1 << (64 // n_bands)) - 1} AS chunk
              FROM sim, LATERAL (SELECT unnest(range(0, {n_bands})) AS b)
            )
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                   CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.chunk = r.chunk AND l.doc_id < r.doc_id
            WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
    """


def _pii_oracle_sql() -> str:
    """DuckDB mirror of q_pii_scrub built from the engine's own
    PII_RULES constants (identical pattern strings — the rules are
    restricted to the Java-regex/RE2 common subset precisely so this
    oracle checks real behavior), with the deterministic PII injection
    mirrored expression-for-expression."""
    from cello_spark.operators.scrub import PII_RULES

    aug = (
        "text"
        " || CASE WHEN doc_id % 7 = 0 THEN ' contact user'"
        " || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' host 10.'"
        " || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
        " || CAST(doc_id % 250 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 13 = 0 THEN ' call 555-867-5309'"
        " ELSE '' END"
    )
    counts = ",\n                   ".join(
        f"length(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_RULES
    )
    red = "text"
    for _, pat, token in PII_RULES:
        red = f"regexp_replace({red}, '{pat}', '{token}', 'g')"
    total = " + ".join(f"n_{name}" for name, _, _ in PII_RULES)
    return f"""
        WITH aug AS (
          SELECT doc_id, {aug} AS text FROM documents
        ), scored AS (
          SELECT doc_id,
                   {counts},
                   {red} AS redacted
          FROM aug
        )
        SELECT doc_id, {', '.join('n_' + n for n, _, _ in PII_RULES)},
               {total} AS n_pii, redacted
        FROM scored
    """


def oracle_sql() -> dict[str, str]:
    return {
        "q_agg_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2)                                AS sum_qty,
                   round(sum(l_extendedprice), 2)                           AS sum_base_price,
                   round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                                  * CAST(round((1 - l_discount) * 100) AS BIGINT))
                              AS DOUBLE) / 10000.0, 2)                      AS sum_disc_price,
                   round(avg(l_quantity), 6)                                AS avg_qty,
                   round(avg(l_discount), 6)                                AS avg_disc,
                   count(*)                                                 AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_topk_revenue": """
            SELECT l_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q_join_region_nation": """
            SELECT r_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name
        """,
        "q_window_topk_per_group": """
            SELECT l_suppkey, l_orderkey, l_linenumber,
                   round(l_quantity, 6) AS quantity, rn
            FROM (
              SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
                     row_number() OVER (
                       PARTITION BY l_suppkey
                       ORDER BY l_quantity DESC, l_orderkey ASC, l_linenumber ASC
                     ) AS rn
              FROM lineitem
            ) WHERE rn <= 3
        """,
        "q_semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "q_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "q_set_ops": """
            SELECT DISTINCT p_partkey FROM (
              SELECT p_partkey FROM (
                SELECT p_partkey FROM part WHERE p_retailprice < 1200
                INTERSECT
                SELECT p_partkey FROM part WHERE p_size >= 20
              ) EXCEPT ALL
              SELECT p_partkey FROM part WHERE p_partkey % 100 = 0
              UNION ALL
              SELECT p_partkey FROM part WHERE p_partkey = 1
            )
        """,
        "q_group_weights": """
            SELECT o_custkey, count(*) AS n,
                   round(1.0 / count(*), 6) AS weight
            FROM orders GROUP BY o_custkey
        """,
        "q_distinct_ordered": """
            SELECT DISTINCT event_type FROM events ORDER BY event_type
        """,
        "q_mean_var": """
            SELECT event_type,
                   round(avg(value), 6) AS mean_value,
                   round(var_samp(value), 6) AS var_value,
                   round(var_samp(value) / (avg(value) + 1e-5), 6) AS dispersion
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "q_hvg_topn": """
            WITH long_t AS (
              SELECT l_orderkey AS sample_id, l_partkey AS gene_id,
                     SUM(l_quantity) AS value
              FROM lineitem WHERE l_orderkey <= 2000
              GROUP BY l_orderkey, l_partkey
            ), n AS (
              SELECT CAST(COUNT(DISTINCT sample_id) AS DOUBLE) AS ns
              FROM long_t
            ), stats AS (
              SELECT gene_id,
                     SUM(value) / ns AS mean,
                     SUM(value * value) / ns
                       - (SUM(value) / ns) * (SUM(value) / ns) AS var
              FROM long_t, n GROUP BY gene_id, ns
            ), ranked AS (
              SELECT gene_id, mean, var,
                     var / (mean + 1e-5) AS dispersion,
                     row_number() OVER (
                       ORDER BY var / (mean + 1e-5) DESC, gene_id ASC
                     ) AS rk
              FROM stats
            )
            SELECT gene_id,
                   round(mean, 6) AS mean_value,
                   round(var, 6) AS var_value,
                   round(dispersion, 6) AS dispersion
            FROM ranked WHERE rk <= 50 ORDER BY gene_id
        """,
        "q_pseudobulk": """
            WITH per AS (
              SELECT user_id, event_type, sum(exp(value / 100.0) - 1) AS s
              FROM events GROUP BY user_id, event_type
            )
            SELECT user_id, event_type,
                   round(ln(1 + s * 1e6 / sum(s) OVER (PARTITION BY user_id)), 6)
                     AS log_norm
            FROM per
        """,
        "q_cluster_mapback": """
            WITH c AS (
              SELECT *, user_id % 7 AS cluster FROM events
            ), stats AS (
              SELECT cluster, round(avg(value), 6) AS cluster_avg
              FROM c GROUP BY cluster
            )
            SELECT event_id, c.cluster, cluster_avg
            FROM c JOIN stats ON c.cluster = stats.cluster
        """,
        "q_sessionize": """
            WITH g AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
                          THEN 1 ELSE 0 END AS gap
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id,
                     CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM g
            )
            SELECT user_id, session_id, count(*) AS n_events
            FROM s GROUP BY user_id, session_id
            ORDER BY user_id, session_id
        """,
        "q_event_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n, round(sum(value), 6) AS total
            FROM events GROUP BY 1, 2
        """,
        "q_closure": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            )
            SELECT descendant, ancestor FROM closure
            WHERE descendant != ancestor
            ORDER BY descendant, ancestor
        """,
        "q_most_specific": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), grouped AS (
              SELECT DISTINCT l_orderkey AS gid, l_partkey AS node
              FROM lineitem WHERE l_orderkey <= 2000
            )
            SELECT g.gid, g.node FROM grouped g
            WHERE NOT EXISTS (
              SELECT 1 FROM grouped m
              JOIN closure c ON m.node = c.descendant
              WHERE m.gid = g.gid AND c.ancestor = g.node
                AND c.descendant != c.ancestor
            )
            ORDER BY gid, node
        """,
        "q_most_general": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), nodes AS (
              SELECT DISTINCT l_partkey AS node
              FROM lineitem WHERE l_orderkey <= 2000
            )
            SELECT n.node FROM nodes n
            WHERE NOT EXISTS (
              SELECT 1 FROM nodes m
              JOIN closure c ON m.node = c.ancestor
              WHERE c.descendant = n.node
                AND c.descendant != c.ancestor
            )
            ORDER BY node
        """,
        "q_connected_components": """
            WITH RECURSIVE pairs AS (
              SELECT 's' || format('{:05d}', s_suppkey)  AS a,
                     'n' || format('{:05d}', s_nationkey) AS b
              FROM supplier
            ), sym AS (
              SELECT a AS x, b AS y FROM pairs
              UNION SELECT b, a FROM pairs
            ), reach AS (
              SELECT x, y FROM sym
              UNION
              SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x
            )
            SELECT x AS node, least(x, min(y)) AS component
            FROM reach GROUP BY x ORDER BY node
        """,
        "q_canonical_map": """
            WITH comp AS (
              SELECT c_name AS node, c_nationkey AS component FROM customer
            ), ranked AS (
              SELECT component,
                     min(CASE WHEN node LIKE 'Customer#00000001%' THEN node END)
                       AS canon_term,
                     min(node) AS canon_any
              FROM comp GROUP BY component
            )
            SELECT node, coalesce(canon_term, canon_any) AS canonical
            FROM comp JOIN ranked USING (component)
            ORDER BY node
        """,
        "q_transitive_reduction": """
            WITH RECURSIVE e AS (
              SELECT src, dst FROM (
                SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
                FROM part p WHERE p.p_partkey >= 10
                UNION
                SELECT p.p_partkey AS src, (p.p_partkey // 100) AS dst
                FROM part p WHERE p.p_partkey >= 100
              )
              WHERE EXISTS (SELECT 1 FROM part q WHERE q.p_partkey = dst)
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM e
              UNION
              SELECT c.descendant, e2.dst AS ancestor
              FROM closure c JOIN e e2 ON c.ancestor = e2.src
            )
            SELECT src, dst FROM e e1
            WHERE NOT EXISTS (
              SELECT 1 FROM e e2
              JOIN closure c ON e2.dst = c.descendant AND c.ancestor = e1.dst
              WHERE e2.src = e1.src AND e2.dst != e1.dst
            )
            ORDER BY src, dst
        """,
        "q_spanning_subgraph": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), span AS (
              SELECT p_partkey AS node FROM part WHERE p_partkey % 97 = 0
            ), roots AS (
              SELECT s.node FROM span s
              WHERE NOT EXISTS (
                SELECT 1 FROM closure c JOIN span m ON c.ancestor = m.node
                WHERE c.descendant = s.node AND m.node <> s.node
              )
            ), relevant AS (
              SELECT node FROM span
              UNION
              SELECT c.ancestor AS node
              FROM closure c JOIN span s ON c.descendant = s.node
            ), reach AS (
              SELECT node FROM roots
              UNION
              SELECT c.descendant AS node
              FROM closure c JOIN roots r ON c.ancestor = r.node
              WHERE c.descendant IN (SELECT node FROM relevant)
            )
            SELECT DISTINCT e.dst AS src, e.src AS dst
            FROM edges e
            WHERE e.dst IN (SELECT node FROM reach)
              AND e.src IN (SELECT node FROM relevant)
            ORDER BY src, dst
        """,
        "q_topo_layers": """
            WITH RECURSIVE e AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), nodes AS (
              SELECT src AS n FROM e UNION SELECT dst FROM e
            ), dist AS (
              SELECT n AS node, 0 AS d FROM nodes
              WHERE n NOT IN (SELECT src FROM e)
              UNION
              SELECT e.src AS node, d.d + 1 FROM dist d
              JOIN e ON e.dst = d.node
            )
            SELECT node, max(d) AS layer FROM dist
            GROUP BY node ORDER BY layer, node
        """,
        "q_clr_marginals": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), strict AS (
              SELECT descendant, ancestor FROM closure
              WHERE descendant != ancestor
            ), cws AS (
              SELECT descendant, ancestor FROM strict
              UNION
              SELECT n, n FROM (
                SELECT descendant AS n FROM strict
                UNION SELECT ancestor FROM strict
              )
            ), cond AS (
              SELECT l_orderkey AS item, l_partkey AS label,
                     max(l_quantity) / 60.0 AS prob
              FROM lineitem WHERE l_orderkey <= 500
              GROUP BY 1, 2
            )
            SELECT item, c.descendant AS label,
                   round(CASE WHEN min(prob) <= 0 THEN 0.0
                              ELSE exp(sum(ln(prob))) END, 6) AS marginal
            FROM cond JOIN cws c ON cond.label = c.ancestor
            GROUP BY item, c.descendant
        """,
        "q_one_nn": """
            WITH ref AS (
              SELECT vec_id AS ref_id, embedding FROM embeddings
              WHERE vec_id < 5
            ), scored AS (
              SELECT e.vec_id, r.ref_id,
                     list_distance(CAST(e.embedding AS DOUBLE[]),
                                   CAST(r.embedding AS DOUBLE[])) AS d
              FROM embeddings e CROSS JOIN ref r
            ), ranked AS (
              SELECT vec_id, ref_id, d,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d ASC, ref_id ASC) AS rn
              FROM scored
            )
            SELECT vec_id, ref_id, round(d, 6) AS distance
            FROM ranked WHERE rn = 1
        """,
        "q_onn_confidence": """
            WITH ref AS (
              SELECT vec_id AS ref_id, embedding,
                     'L' || CAST(vec_id % 3 AS VARCHAR) AS label
              FROM embeddings WHERE vec_id < 5
            ), scored AS (
              SELECT e.vec_id, r.ref_id, r.label,
                     list_distance(CAST(e.embedding AS DOUBLE[]),
                                   CAST(r.embedding AS DOUBLE[])) AS d
              FROM embeddings e CROSS JOIN ref r
            ), ranked AS (
              SELECT vec_id, ref_id, label, d,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d ASC,
                                          CAST(ref_id AS VARCHAR) ASC) AS rn
              FROM scored
            )
            SELECT CAST(vec_id AS VARCHAR) AS doc_id, label,
                   round(-d, 6) + 0 AS confidence
            FROM ranked WHERE rn = 1
        """,
        "q_group_rank": """
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                     PARTITION BY source ORDER BY doc_id) - 1 AS INT)
                   AS rank_idx
            FROM documents
        """,
        "q_group_rank_dehub": """
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                     PARTITION BY source ORDER BY doc_id) - 1 AS INT)
                   AS rank_idx
            FROM documents
        """,
        "q_positive_examples": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), labels AS (
              SELECT DISTINCT l_orderkey AS item, l_partkey AS label
              FROM lineitem WHERE l_orderkey <= 500
            )
            SELECT DISTINCT item, label FROM (
              SELECT item, label FROM labels
              UNION
              SELECT l.item, c.ancestor AS label
              FROM labels l JOIN closure c ON l.label = c.descendant
              WHERE c.descendant != c.ancestor
            ) ORDER BY item, label
        """,
        "q_normalize_counts": """
            SELECT CAST(l_orderkey AS VARCHAR) AS sample_id,
                   CAST(l_partkey AS VARCHAR) AS gene_id,
                   round(ln(1 + l_quantity /
                         sum(l_quantity) OVER (PARTITION BY l_orderkey)
                         * 1e6), 6) AS log_cpm
            FROM lineitem
            WHERE l_orderkey <= 300
            ORDER BY sample_id, gene_id, log_cpm
        """,
        "q_binarize": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), nodes AS (
              SELECT descendant AS n FROM closure
              UNION SELECT ancestor FROM closure
            ), cws AS (
              SELECT descendant, ancestor FROM closure
              WHERE descendant != ancestor
              UNION SELECT n AS descendant, n AS ancestor FROM nodes
            ), probs AS (
              SELECT l_orderkey AS doc_id, l_partkey AS label,
                     max(l_quantity) / 60.0 AS prob
              FROM lineitem WHERE l_orderkey <= 500 GROUP BY 1, 2
            ), thr AS (
              SELECT p_partkey AS label,
                     0.2 + (p_partkey % 7) / 10.0 AS threshold
              FROM part
            )
            SELECT p.doc_id, c.descendant AS label,
                   min(CASE WHEN p.prob > t.threshold THEN 1 ELSE 0 END) AS bin
            FROM probs p
            JOIN thr t ON p.label = t.label
            JOIN cws c ON p.label = c.ancestor
            GROUP BY p.doc_id, c.descendant
            ORDER BY doc_id, label
        """,
        "q_most_specific_doc": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), nodes AS (
              SELECT descendant AS n FROM closure
              UNION SELECT ancestor FROM closure
            ), cws AS (
              SELECT descendant, ancestor FROM closure
              WHERE descendant != ancestor
              UNION SELECT n AS descendant, n AS ancestor FROM nodes
            ), probs AS (
              SELECT l_orderkey AS doc_id, l_partkey AS label,
                     max(l_quantity) / 60.0 AS prob
              FROM lineitem WHERE l_orderkey <= 500 GROUP BY 1, 2
            ), thr AS (
              SELECT p_partkey AS label,
                     0.2 + (p_partkey % 7) / 10.0 AS threshold
              FROM part
            ), bins AS (
              SELECT p.doc_id, c.descendant AS label,
                     min(CASE WHEN p.prob > t.threshold THEN 1 ELSE 0 END) AS bin
              FROM probs p
              JOIN thr t ON p.label = t.label
              JOIN cws c ON p.label = c.ancestor
              GROUP BY p.doc_id, c.descendant
            ), pos AS (
              SELECT p.doc_id, p.label, p.prob
              FROM probs p JOIN bins b
                ON p.doc_id = b.doc_id AND p.label = b.label
              WHERE b.bin = 1
            )
            SELECT doc_id, label AS most_specific FROM (
              SELECT p.doc_id, p.label,
                     row_number() OVER (
                       PARTITION BY p.doc_id
                       ORDER BY p.prob DESC, p.label ASC
                     ) AS rn
              FROM pos p
              WHERE NOT EXISTS (
                SELECT 1 FROM pos m
                JOIN closure c ON m.label = c.descendant
                WHERE m.doc_id = p.doc_id AND c.ancestor = p.label
                  AND c.descendant != c.ancestor
              )
            ) WHERE rn = 1 ORDER BY doc_id
        """,
        "q_typing_triples": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), nodes AS (
              SELECT descendant AS n FROM closure
              UNION SELECT ancestor FROM closure
            ), cws AS (
              SELECT descendant, ancestor FROM closure
              WHERE descendant != ancestor
              UNION SELECT n AS descendant, n AS ancestor FROM nodes
            ), probs AS (
              SELECT l_orderkey AS doc_id, l_partkey AS label,
                     max(l_quantity) / 60.0 AS prob
              FROM lineitem WHERE l_orderkey <= 500 GROUP BY 1, 2
            ), thr AS (
              SELECT p_partkey AS label,
                     0.2 + (p_partkey % 7) / 10.0 AS threshold
              FROM part
            ), bins AS (
              SELECT p.doc_id, c.descendant AS label,
                     min(CASE WHEN p.prob > t.threshold THEN 1 ELSE 0 END) AS bin
              FROM probs p
              JOIN thr t ON p.label = t.label
              JOIN cws c ON p.label = c.ancestor
              GROUP BY p.doc_id, c.descendant
            ), pos AS (
              SELECT p.doc_id, p.label, p.prob
              FROM probs p JOIN bins b
                ON p.doc_id = b.doc_id AND p.label = b.label
              WHERE b.bin = 1
            ), ms AS (
              SELECT doc_id, label AS most_specific FROM (
                SELECT p.doc_id, p.label,
                       row_number() OVER (
                         PARTITION BY p.doc_id
                         ORDER BY p.prob DESC, p.label ASC
                       ) AS rn
                FROM pos p
                WHERE NOT EXISTS (
                  SELECT 1 FROM pos m
                  JOIN closure c ON m.label = c.descendant
                  WHERE m.doc_id = p.doc_id AND c.ancestor = p.label
                    AND c.descendant != c.ancestor
                )
              ) WHERE rn = 1
            )
            SELECT DISTINCT CAST(ms.doc_id AS VARCHAR) AS subj,
                   'rdf:type' AS pred,
                   CAST(c.ancestor AS VARCHAR) AS obj
            FROM ms JOIN cws c ON ms.most_specific = c.descendant
            ORDER BY subj, obj
        """,
        "q_kg_chain": f"""
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), nodes AS (
              SELECT descendant AS n FROM closure
              UNION SELECT ancestor FROM closure
            ), cws AS (
              SELECT descendant, ancestor FROM closure
              WHERE descendant != ancestor
              UNION SELECT n AS descendant, n AS ancestor FROM nodes
            ), dict(alias_norm, label) AS (
              VALUES {_KG_CHAIN_DICT_VALUES}
            ), toks AS (
              SELECT doc_id, {_MENTION_TOKENS_SQL} AS tk FROM documents
            ), grams AS (
              SELECT doc_id, tk[i] AS g FROM (
                SELECT doc_id, tk,
                       unnest(generate_series(1, len(tk))) AS i
                FROM toks)
              UNION ALL
              SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS g FROM (
                SELECT doc_id, tk,
                       unnest(generate_series(1, len(tk) - 1)) AS i
                FROM toks)
            ), probs AS (
              SELECT g.doc_id, d.label,
                     count(*) / (count(*) + 1.0) AS prob
              FROM grams g JOIN dict d ON g.g = d.alias_norm
              GROUP BY 1, 2
            ), thr AS (
              SELECT p_partkey AS label,
                     0.2 + (p_partkey % 7) / 10.0 AS threshold
              FROM part
            ), bins AS (
              SELECT p.doc_id, c.descendant AS label,
                     min(CASE WHEN p.prob > t.threshold THEN 1 ELSE 0 END) AS bin
              FROM probs p
              JOIN thr t ON p.label = t.label
              JOIN cws c ON p.label = c.ancestor
              GROUP BY p.doc_id, c.descendant
            ), pos AS (
              SELECT p.doc_id, p.label, p.prob
              FROM probs p JOIN bins b
                ON p.doc_id = b.doc_id AND p.label = b.label
              WHERE b.bin = 1
            ), ms AS (
              SELECT doc_id, label AS most_specific FROM (
                SELECT p.doc_id, p.label,
                       row_number() OVER (
                         PARTITION BY p.doc_id
                         ORDER BY p.prob DESC, p.label ASC
                       ) AS rn
                FROM pos p
                WHERE NOT EXISTS (
                  SELECT 1 FROM pos m
                  JOIN closure c ON m.label = c.descendant
                  WHERE m.doc_id = p.doc_id AND c.ancestor = p.label
                    AND c.descendant != c.ancestor
                )
              ) WHERE rn = 1
            ), typing AS (
              SELECT DISTINCT 'doc:' || CAST(ms.doc_id AS VARCHAR) AS subj,
                     'rdf:type' AS pred,
                     CAST(c.ancestor AS VARCHAR) AS obj
              FROM ms JOIN cws c ON ms.most_specific = c.descendant
            ), onto AS (
              SELECT CAST(src AS VARCHAR) AS subj, 'is_a' AS pred,
                     CAST(dst AS VARCHAR) AS obj
              FROM edges
            ), apairs(a, b) AS (
              VALUES {_KG_CHAIN_PAIR_VALUES}
            ), sym AS (
              SELECT a AS x, b AS y FROM apairs
              UNION SELECT b, a FROM apairs
            ), reach AS (
              SELECT x AS node, y AS peer FROM sym
              UNION
              SELECT r.node, s.y FROM reach r JOIN sym s ON r.peer = s.x
            ), cmap AS (
              SELECT node, least(node, min(peer)) AS canonical
              FROM reach GROUP BY node
            ), raw AS (
              SELECT * FROM typing UNION ALL SELECT * FROM onto
            )
            SELECT DISTINCT coalesce(cs.canonical, r.subj) AS subj,
                   r.pred,
                   coalesce(co.canonical, r.obj) AS obj
            FROM raw r
            LEFT JOIN cmap cs ON r.subj = cs.node
            LEFT JOIN cmap co ON r.obj = co.node
            ORDER BY subj, pred, obj
        """,
        "q_lang_detect": f"""
            WITH toks AS (
              SELECT doc_id, text, {_TOKENS_SQL} AS tk FROM documents
            ), ratios AS (
              SELECT doc_id, text, tk,
                CASE WHEN len(tk) > 0 THEN
                  len(list_filter(tk, t -> list_contains({_SW_SQL["en"]}, t)))
                    / CAST(len(tk) AS DOUBLE) ELSE 0.0 END AS r_en,
                CASE WHEN len(tk) > 0 THEN
                  len(list_filter(tk, t -> list_contains({_SW_SQL["de"]}, t)))
                    / CAST(len(tk) AS DOUBLE) ELSE 0.0 END AS r_de,
                CASE WHEN len(tk) > 0 THEN
                  len(list_filter(tk, t -> list_contains({_SW_SQL["fr"]}, t)))
                    / CAST(len(tk) AS DOUBLE) ELSE 0.0 END AS r_fr,
                CASE WHEN len(tk) > 0 THEN
                  len(list_filter(tk, t -> list_contains({_SW_SQL["es"]}, t)))
                    / CAST(len(tk) AS DOUBLE) ELSE 0.0 END AS r_es
              FROM toks
            ), feats AS (
              SELECT doc_id,
                greatest(r_en, r_de, r_fr, r_es) AS best,
                r_en, r_de, r_fr, r_es,
                least(length(text) / 500.0, 1.0) AS len_score,
                least(r_en / 0.3, 1.0) AS sw_score,
                CASE WHEN length(text) > 0 THEN
                  len(regexp_extract_all(text, '[^\\w\\s]'))
                    / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS p,
                CASE WHEN len(tk) > 0 THEN
                  list_sum(list_transform(tk, t -> length(t)))
                    / CAST(len(tk) AS DOUBLE) ELSE 0.0 END AS mwl
              FROM ratios
            )
            SELECT doc_id,
              CASE WHEN best > 0.0 THEN
                CASE WHEN r_fr = best THEN 'fr'
                     WHEN r_es = best THEN 'es'
                     WHEN r_en = best THEN 'en'
                     ELSE 'de' END
              ELSE 'und' END AS lang_detected,
              round((len_score + sw_score
                     + (CASE WHEN p < 0.2 THEN 1.0
                             ELSE greatest(0.0, 1.0 - (p - 0.2) * 2.0) END)
                     + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0
                             THEN 1.0 ELSE 0.4 END)) / 4.0, 6) AS quality
            FROM feats
        """,
        "q_cdc_negatives": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), labels AS (
              SELECT DISTINCT l_orderkey AS item, l_partkey AS label
              FROM lineitem WHERE l_orderkey <= 500
            ), ldim AS (
              SELECT DISTINCT label FROM labels
            ), pos AS (
              SELECT DISTINCT item, label FROM (
                SELECT item, label FROM labels
                UNION
                SELECT l.item, c.ancestor AS label
                FROM labels l JOIN closure c
                  ON l.label = c.descendant AND c.descendant != c.ancestor
              ) WHERE label IN (SELECT label FROM ldim)
            ), parents AS (
              SELECT DISTINCT e.src AS child, e.dst AS parent FROM edges e
              WHERE e.src IN (SELECT label FROM ldim)
            ), npar AS (
              SELECT child, count(*) AS n FROM parents GROUP BY child
            ), hits AS (
              SELECT p.child AS label, l.item,
                     count(DISTINCT p.parent) AS h
              FROM parents p JOIN labels l ON l.label = p.parent
              GROUP BY 1, 2
            ), negc AS (
              SELECT h.item, h.label FROM hits h
              JOIN npar n ON h.label = n.child WHERE h.h = n.n
            ), roots AS (
              SELECT label FROM ldim
              WHERE label NOT IN (SELECT child FROM parents)
            ), allneg AS (
              SELECT item, label FROM negc
              UNION
              SELECT i.item, r.label
              FROM (SELECT DISTINCT item FROM labels) i CROSS JOIN roots r
            )
            SELECT a.item, a.label FROM allneg a
            WHERE NOT EXISTS (
              SELECT 1 FROM pos p
              WHERE p.item = a.item AND p.label = a.label
            )
            ORDER BY item, label
        """,
        "q_anatomical_filter": """
            WITH RECURSIVE edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), closure AS (
              SELECT src AS descendant, dst AS ancestor FROM edges
              UNION
              SELECT c.descendant, e.dst AS ancestor
              FROM closure c JOIN edges e ON c.ancestor = e.src
            ), probs AS (
              SELECT l_orderkey AS doc_id, l_partkey AS label,
                     max(l_quantity) / 60.0 AS prob
              FROM lineitem WHERE l_orderkey <= 500 GROUP BY 1, 2
            )
            SELECT p.doc_id, p.label, round(p.prob, 6) AS prob
            FROM probs p
            WHERE p.label NOT IN (1, 2)
              AND NOT EXISTS (
                SELECT 1 FROM closure c
                WHERE c.descendant = p.label AND c.ancestor IN (1, 2)
                  AND c.descendant != c.ancestor
              )
            ORDER BY doc_id, label
        """,
        "q_study_weights": """
            SELECT o_orderkey AS item,
                   round(1.0 / count(*) OVER (PARTITION BY o_custkey), 6)
                     AS weight
            FROM orders
        """,
        "q_scale_transform": """
            WITH f AS (
              SELECT l_orderkey || '#' || l_linenumber AS doc_id,
                     CAST(l_quantity AS DOUBLE) AS a,
                     CAST(l_extendedprice AS DOUBLE) AS b,
                     CAST(l_discount AS DOUBLE) AS c
              FROM lineitem WHERE l_orderkey <= 2000
            ), s AS (
              SELECT avg(a) AS ma, stddev_pop(a) AS sa,
                     avg(b) AS mb, stddev_pop(b) AS sb,
                     avg(c) AS mc, stddev_pop(c) AS sc
              FROM f
            )
            SELECT doc_id,
                   round((a - ma) / (CASE WHEN sa = 0 THEN 1 ELSE sa END), 6)
                     AS z_quantity,
                   round((b - mb) / (CASE WHEN sb = 0 THEN 1 ELSE sb END), 6)
                     AS z_price,
                   round((c - mc) / (CASE WHEN sc = 0 THEN 1 ELSE sc END), 6)
                     AS z_discount
            FROM f, s
        """,
        "q_gene_match": """
            WITH meta AS (
              SELECT 'ENSG' || lpad(CAST(p_partkey AS VARCHAR), 11, '0')
                       AS gene_id,
                     'SYM' || CAST(p_partkey % 500 AS VARCHAR) AS symbol
              FROM part
            ), train AS (
              SELECT 'ENSG' || lpad(CAST(p_partkey AS VARCHAR), 11, '0')
                       AS gene_id
              FROM part WHERE p_partkey % 3 <> 0
            ), inputs AS (
              SELECT DISTINCT 'SYM' || CAST(p_partkey % 500 AS VARCHAR)
                       AS gene
              FROM part WHERE p_partkey % 2 = 0
            )
            SELECT DISTINCT i.gene AS gene, m.gene_id AS gene_id
            FROM inputs i
            JOIN meta m ON upper(i.gene) = upper(m.symbol)
            JOIN train t ON t.gene_id = m.gene_id
            ORDER BY gene, gene_id
        """,
        "q_triple_pr": """
            WITH edges AS (
              SELECT p.p_partkey AS src, (p.p_partkey // 10) AS dst
              FROM part p
              WHERE p.p_partkey >= 10
                AND EXISTS (SELECT 1 FROM part q
                            WHERE q.p_partkey = (p.p_partkey // 10))
            ), want AS (
              SELECT DISTINCT CAST(src AS VARCHAR) AS subj,
                     'is_a' AS pred, CAST(dst AS VARCHAR) AS obj
              FROM edges
            ), got AS (
              SELECT DISTINCT subj, pred, obj FROM (
                SELECT subj, pred, obj FROM want
                WHERE CAST(subj AS BIGINT) % 7 != 0
                UNION ALL SELECT 'alien', 'is_a', 'node'
              )
            ), counts AS (
              SELECT
                (SELECT count(*) FROM got g
                 JOIN want w ON g.subj = w.subj AND g.pred = w.pred
                            AND g.obj = w.obj) AS tp,
                (SELECT count(*) FROM got) AS n_g,
                (SELECT count(*) FROM want) AS n_w
            )
            SELECT tp, n_g - tp AS fp, n_w - tp AS fn,
                   CAST(tp AS DOUBLE) / n_g AS precision,
                   CAST(tp AS DOUBLE) / n_w AS recall,
                   2.0 * (CAST(tp AS DOUBLE) / n_g) * (CAST(tp AS DOUBLE) / n_w)
                     / (CAST(tp AS DOUBLE) / n_g + CAST(tp AS DOUBLE) / n_w) AS f1
            FROM counts
        """,
        "q_text_stats": f"""
            SELECT doc_id,
                   len({_TOKENS_SQL}) AS n_tokens_ws,
                   round(CASE WHEN len({_TOKENS_SQL}) > 0 THEN
                     CAST(len(list_filter({_TOKENS_SQL},
                          t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                     / len({_TOKENS_SQL}) ELSE 0.0 END, 6) AS stopword_ratio_en,
                   round(CASE WHEN length(text) > 0 THEN
                     CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                     / length(text) ELSE 0.0 END, 6) AS punct_ratio
            FROM documents
        """,
        "q_dedup_exact_groups": f"""
            SELECT md5({_NORM_SQL}) AS fingerprint,
                   count(*) AS n_dups, min(doc_id) AS keep_id
            FROM documents
            GROUP BY 1 HAVING count(*) > 1
        """,
        "q_dedup_exact_capped": f"""
            WITH fp AS (
              SELECT doc_id, md5({_NORM_SRC_SQL}) AS fingerprint
              FROM documents
            ), g AS (
              SELECT fingerprint, count(*) AS n_dups,
                     min(doc_id) AS keep_id
              FROM fp GROUP BY 1 HAVING count(*) > 1
            ), ranked AS (
              SELECT fingerprint, doc_id,
                     row_number() OVER (PARTITION BY fingerprint
                                        ORDER BY doc_id) AS rn
              FROM fp
            ), ids AS (
              SELECT fingerprint,
                     string_agg(CAST(doc_id AS VARCHAR), ','
                                ORDER BY doc_id) AS dup_ids_capped
              FROM ranked WHERE rn <= 5 GROUP BY 1
            )
            SELECT g.fingerprint, g.n_dups, g.keep_id,
                   ids.dup_ids_capped,
                   CAST(g.n_dups - least(g.n_dups, 5) AS INT)
                     AS n_ids_omitted
            FROM g JOIN ids USING (fingerprint)
        """,
        "q_dedup_keep_min": f"""
            SELECT doc_id FROM (
              SELECT doc_id, row_number() OVER (
                PARTITION BY md5({_NORM_SQL}) ORDER BY doc_id) AS rn
              FROM documents
            ) WHERE rn = 1
        """,
        "q_ngram_jaccard": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(t) >= 3 THEN array_to_string(t[i:i+2], ' ')
                          ELSE array_to_string(t, ' ') END AS shingle
              FROM toks, LATERAL (
                SELECT unnest(range(1, greatest(len(t) - 1, CASE WHEN len(t) > 0 THEN 2 ELSE 1 END))) AS i
              )
              WHERE len(t) > 0
            ), capped AS (
              SELECT doc_id, shingle FROM sh
              QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id
            ), pairs AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
              FROM capped l
              JOIN capped r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
              GROUP BY 1, 2
            )
            SELECT a, b,
                   round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6)
                     AS jaccard
            FROM pairs
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.2
        """,
        "q_minhash_pairs": _minhash_oracle_sql(),
        "q_simhash_pairs": _simhash_oracle_sql(),
        "q_dedup_fuzzy": f"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
            ), sh AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(t) >= 3 THEN array_to_string(t[i:i+2], ' ')
                          ELSE array_to_string(t, ' ') END AS shingle
              FROM toks, LATERAL (
                SELECT unnest(range(1, greatest(len(t) - 1, CASE WHEN len(t) > 0 THEN 2 ELSE 1 END))) AS i
              )
              WHERE len(t) > 0
            ), capped AS (
              SELECT doc_id, shingle FROM sh
              QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id
            ), cand AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
              FROM capped l
              JOIN capped r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
              GROUP BY 1, 2
            ), pairs AS (
              SELECT a, b FROM cand
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.2
            ), sym AS (
              SELECT a AS x, b AS y FROM pairs
              UNION SELECT b, a FROM pairs
            ), reach AS (
              SELECT x AS node, y AS peer FROM sym
              UNION
              SELECT r.node, s.y FROM reach r JOIN sym s ON r.peer = s.x
            )
            SELECT node AS doc_id,
                   least(node, min(peer)) AS keep,
                   node = least(node, min(peer)) AS is_kept
            FROM reach GROUP BY node
            ORDER BY doc_id
        """,
        "q_mention_counts": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
            )
            SELECT term, count(DISTINCT doc_id) AS n_docs, count(*) AS n_mentions
            FROM toks
            WHERE term IN ('spark','window','join','hash','scan','filter')
            GROUP BY term ORDER BY term
        """,
        "q_salted_join": """
            WITH dim(key, bucket) AS (
              VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma')
            )
            SELECT bucket, count(*) AS n, round(sum(value), 6) AS total
            FROM events e JOIN dim d ON e.event_id % 3 = d.key
            GROUP BY bucket ORDER BY bucket
        """,
        "q_mention_counts_salted": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS_SQL}) AS term_id FROM documents
            )
            SELECT term_id, count(*) AS n_mentions
            FROM toks
            WHERE term_id IN ('spark','window','join','hash','scan','filter')
            GROUP BY term_id ORDER BY term_id
        """,
        "q_cosine_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q_emb
              FROM embeddings WHERE vec_id < 3
            ), scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])) AS cosine
              FROM embeddings e CROSS JOIN q
            ), ranked AS (
              SELECT query_id, vec_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
            FROM ranked WHERE rank <= 5
        """,
        "q_embedding_near_dup_exact": """
            SELECT l.vec_id AS a, r.vec_id AS b,
                   round(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])), 6)
                     AS cosine
            FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
            WHERE list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])) >= 0.5
        """,
        # smoothed TF-IDF (sklearn-style): ln((N+1)/(df+1)) + 1; ties
        # break (score desc, term asc) — mirrors operators/corpus.py
        "q_tfidf_topk": f"""
            WITH tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS term
                    FROM documents)
              GROUP BY 1, 2
            ), dfreq AS (
              SELECT term, count(*) AS df FROM tf GROUP BY 1
            ), n AS (SELECT count(*) AS n FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                     tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0)
                       AS tfidf
              FROM tf JOIN dfreq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf, rank
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
                  FROM scored)
            WHERE rank <= 3
        """,
        # contiguous token packing: md5 shard, per-shard running token
        # offset in doc_id order, bin = floor(start / 256)
        "q_pack_token_bins": f"""
            WITH base AS (
              SELECT doc_id,
                     {_duck_h64("cast(doc_id AS VARCHAR)")} % 8 AS shard,
                     len({_TOKENS_SQL}) AS n_tokens
              FROM documents
            )
            SELECT doc_id, shard,
                   CAST(floor(start_tok / 256.0) AS BIGINT) AS bin_id,
                   CAST(start_tok AS BIGINT) AS start_tok, n_tokens
            FROM (
              SELECT doc_id, shard, n_tokens,
                     coalesce(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS start_tok
              FROM base
            )
        """,
        # interleaved caption pairing: the SAME deterministic spans
        # construction as q_caption_pairs (md5(doc_id)%3 layout),
        # unnested to rows, then nearest-preceding-text via an
        # IGNORE NULLS last_value window — an independent relational
        # statement of the operator's semantics
        "q_caption_pairs": f"""
            WITH spans AS (
              SELECT doc_id, 0 AS span_idx, 'image' AS kind,
                     NULL AS text, 'img:' || doc_id AS media_ref
              FROM documents WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 3 = 0
              UNION ALL
              SELECT doc_id, 1, 'text', text, NULL
              FROM documents WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 3 = 0
              UNION ALL
              SELECT doc_id, 2, 'audio', NULL, 'aud:' || doc_id
              FROM documents WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 3 = 0
              UNION ALL
              SELECT doc_id, 0, 'text', text, NULL
              FROM documents WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 3 = 1
              UNION ALL
              SELECT doc_id, 1, 'image', NULL, 'img:' || doc_id
              FROM documents WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 3 = 1
            ), cap AS (
              SELECT doc_id, span_idx, kind, media_ref,
                     last_value(CASE WHEN kind = 'text' THEN span_idx END
                                IGNORE NULLS) OVER w AS cap_idx,
                     last_value(CASE WHEN kind = 'text' THEN text END
                                IGNORE NULLS) OVER w AS cap_text
              FROM spans
              WINDOW w AS (PARTITION BY doc_id ORDER BY span_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            )
            SELECT doc_id, span_idx AS media_idx, media_ref, kind,
                   coalesce(cap_idx, -1) AS caption_idx,
                   coalesce(cap_text, '') AS caption_text
            FROM cap WHERE kind <> 'text'
        """,
        # media-grounding triples over the same interleaved world:
        # has_media for every media span; depicts for every 1/2-gram
        # alias-dict mention in the caption (the nearest preceding
        # text span — full doc text in this construction, absent for
        # the layout-0 leading image)
        "q_media_triples": f"""
            WITH dict(alias_norm, term_id) AS (
              VALUES {_KG_CHAIN_DICT_STR_VALUES}
            ), media AS (
              SELECT doc_id, 'img:' || doc_id AS media_ref,
                     FALSE AS has_cap, text
              FROM documents WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 3 = 0
              UNION ALL
              SELECT doc_id, 'aud:' || doc_id, TRUE, text
              FROM documents WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 3 = 0
              UNION ALL
              SELECT doc_id, 'img:' || doc_id, TRUE, text
              FROM documents WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 3 = 1
            ), toks AS (
              SELECT media_ref, {_MENTION_TOKENS_SQL} AS tk
              FROM media WHERE has_cap
            ), grams AS (
              SELECT media_ref, tk[i] AS g FROM (
                SELECT media_ref, tk,
                       unnest(generate_series(1, len(tk))) AS i
                FROM toks)
              UNION ALL
              SELECT media_ref, tk[i] || ' ' || tk[i + 1] AS g FROM (
                SELECT media_ref, tk,
                       unnest(generate_series(1, len(tk) - 1)) AS i
                FROM toks)
            )
            SELECT DISTINCT CAST(doc_id AS VARCHAR) AS subj,
                   'has_media' AS pred, media_ref AS obj
            FROM media
            UNION
            SELECT DISTINCT g.media_ref AS subj, 'depicts' AS pred,
                   d.term_id AS obj
            FROM grams g JOIN dict d ON g.g = d.alias_norm
        """,
        # deterministic hash sampling: membership = portable md5 hash
        # of doc_id mod 1e6 under the rate threshold
        "q_hash_sample": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 1000000 < 200000
        """,
        "q_stratified_sample": f"""
            SELECT doc_id, source FROM documents
            WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 1000000 <
              CASE source WHEN 'src0' THEN 250000
                          WHEN 'src1' THEN 1000000
                          WHEN 'src2' THEN 500000
                          ELSE 50000 END
        """,
        "q_repetition_stats": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            grams AS (
              SELECT doc_id, 2 AS n, array_to_string(t[i:i+1], ' ') AS g
              FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
              WHERE len(t) >= 2
              UNION ALL
              SELECT doc_id, 3 AS n, array_to_string(t[i:i+2], ' ') AS g
              FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
              WHERE len(t) >= 3
            ),
            cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
            agg AS (
              SELECT doc_id,
                     sum(CASE WHEN n = 2 THEN c END) AS tot2,
                     max(CASE WHEN n = 2 THEN c END) AS max2,
                     sum(CASE WHEN n = 2 AND c > 1 THEN c ELSE 0 END) AS dup2,
                     sum(CASE WHEN n = 3 THEN c END) AS tot3,
                     max(CASE WHEN n = 3 THEN c END) AS max3,
                     sum(CASE WHEN n = 3 AND c > 1 THEN c ELSE 0 END) AS dup3
              FROM cnt GROUP BY 1
            )
            SELECT d.doc_id,
                   len(string_split(d.text, chr(10))) AS n_lines,
                   round(1.0 - CAST(len(list_distinct(string_split(d.text, chr(10)))) AS DOUBLE)
                         / len(string_split(d.text, chr(10))), 6) AS dup_line_frac,
                   coalesce(round(CAST(max2 AS DOUBLE) / tot2, 6), 0.0) AS top2gram_frac,
                   coalesce(round(CAST(dup2 AS DOUBLE) / tot2, 6), 0.0) AS dup2gram_frac,
                   coalesce(round(CAST(max3 AS DOUBLE) / tot3, 6), 0.0) AS top3gram_frac,
                   coalesce(round(CAST(dup3 AS DOUBLE) / tot3, 6), 0.0) AS dup3gram_frac
            FROM documents d LEFT JOIN agg USING (doc_id)
        """,
        "q_gopher_filter": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            grams AS (
              SELECT doc_id, 2 AS n, array_to_string(t[i:i+1], ' ') AS g
              FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i)
              WHERE len(t) >= 2
              UNION ALL
              SELECT doc_id, 3 AS n, array_to_string(t[i:i+2], ' ') AS g
              FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
              WHERE len(t) >= 3
            ),
            cnt AS (SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
            rep AS (
              SELECT doc_id,
                     coalesce(round(CAST(max(CASE WHEN n = 2 THEN c END) AS DOUBLE)
                       / sum(CASE WHEN n = 2 THEN c END), 6), 0.0) AS top2gram_frac,
                     coalesce(round(CAST(sum(CASE WHEN n = 3 AND c > 1 THEN c ELSE 0 END) AS DOUBLE)
                       / sum(CASE WHEN n = 3 THEN c END), 6), 0.0) AS dup3gram_frac
              FROM cnt GROUP BY 1
            ),
            sig AS (
              SELECT d.doc_id,
                     len(t) AS n_words,
                     length(translate(lower(d.text), ' ' || chr(9) || chr(10) || chr(13), '')) AS nonspace,
                     length(translate(lower(d.text), ' ' || chr(9) || chr(10) || chr(13), ''))
                       - length(translate(lower(d.text), 'abcdefghijklmnopqrstuvwxyz ' || chr(9) || chr(10) || chr(13), '')) AS alpha,
                     round(1.0 - CAST(len(list_distinct(string_split(d.text, chr(10)))) AS DOUBLE)
                           / len(string_split(d.text, chr(10))), 6) AS dup_line_frac,
                     CASE WHEN len(t) > 0 THEN
                       round(CAST(len(list_filter(t, x -> list_contains({_STOP_EN}, x))) AS DOUBLE)
                             / len(t), 6) ELSE 0.0 END AS stopword_ratio
              FROM documents d JOIN toks USING (doc_id)
            )
            SELECT s.doc_id, s.n_words,
                   CASE WHEN s.n_words > 0 THEN
                     round(CAST(s.nonspace AS DOUBLE) / s.n_words, 6)
                     ELSE 0.0 END AS mean_word_len,
                   CASE WHEN s.nonspace > 0 THEN
                     round(CAST(s.alpha AS DOUBLE) / s.nonspace, 6)
                     ELSE 0.0 END AS alpha_char_ratio,
                   s.stopword_ratio, s.dup_line_frac,
                   coalesce(r.top2gram_frac, 0.0) AS top2gram_frac,
                   coalesce(r.dup3gram_frac, 0.0) AS dup3gram_frac,
                   CAST(
                     s.n_words >= 30 AND s.n_words <= 100000
                     AND (CASE WHEN s.n_words > 0 THEN round(CAST(s.nonspace AS DOUBLE) / s.n_words, 6) ELSE 0.0 END) >= 3.0
                     AND (CASE WHEN s.n_words > 0 THEN round(CAST(s.nonspace AS DOUBLE) / s.n_words, 6) ELSE 0.0 END) <= 10.0
                     AND (CASE WHEN s.nonspace > 0 THEN round(CAST(s.alpha AS DOUBLE) / s.nonspace, 6) ELSE 0.0 END) >= 0.5
                     AND s.stopword_ratio >= 0.01
                     AND s.dup_line_frac <= 0.30
                     AND coalesce(r.top2gram_frac, 0.0) <= 0.20
                     AND coalesce(r.dup3gram_frac, 0.0) <= 0.60
                   AS INT) AS keep
            FROM sig s LEFT JOIN rep r USING (doc_id)
        """,
        "q_decontaminate": f"""
            WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(t) >= 3 THEN array_to_string(t[i:i+2], ' ')
                          ELSE array_to_string(t, ' ') END AS shingle
              FROM toks, LATERAL (
                SELECT unnest(range(1, greatest(len(t) - 1,
                  CASE WHEN len(t) > 0 THEN 2 ELSE 1 END))) AS i
              )
              WHERE len(t) > 0
            ),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
            sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1),
            matched AS (
              SELECT s.doc_id, count(*) AS n_matched
              FROM sh s JOIN bench b USING (shingle) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n_shingles, 0) AS n_shingles,
                   coalesce(n_matched, 0) AS n_matched,
                   coalesce(round(CAST(n_matched AS DOUBLE) / n_shingles, 6), 0.0) AS overlap_frac,
                   CAST(coalesce(round(CAST(n_matched AS DOUBLE) / n_shingles, 6), 0.0) >= 0.3 AS INT) AS contaminated
            FROM documents d
            LEFT JOIN sizes USING (doc_id) LEFT JOIN matched USING (doc_id)
        """,
        "q_pii_scrub": _pii_oracle_sql(),
        "q_cross_dedup": f"""
            {_duck_shingles(1000)}
            -- the cap above runs over the union of both sides = all
            -- documents (the parity split partitions the corpus)
            , l AS (
              SELECT * FROM capped WHERE doc_id % 2 = 1
            ), r AS (
              SELECT * FROM capped WHERE doc_id % 2 = 0
            ), sizes_l AS (
              SELECT doc_id, count(*) AS sz FROM l GROUP BY doc_id
            ), sizes_r AS (
              SELECT doc_id, count(*) AS sz FROM r GROUP BY doc_id
            ), pairs AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS common
              FROM l JOIN r USING (shingle)
              GROUP BY 1, 2
            )
            SELECT a, b,
                   round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6)
                     AS jaccard
            FROM pairs
            JOIN sizes_l sa ON sa.doc_id = a
            JOIN sizes_r sb ON sb.doc_id = b
            WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.2
        """,
        "q_bgp_match": """
            -- independent formulation: plain joins over the base
            -- tables (no triple construction), same bindings
            SELECT DISTINCT
                   'c' || CAST(c.c_custkey AS VARCHAR) AS c,
                   n.n_name AS n,
                   's' || CAST(s.s_suppkey AS VARCHAR) AS s
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN supplier s ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        """,
        "q_chunk_documents": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
            ), nz AS (
              SELECT doc_id, t, len(t) AS L FROM toks WHERE len(t) > 0
            ), nc AS (
              SELECT doc_id, t, L,
                     1 + CASE WHEN L > 64
                              THEN (L - 64 + 48 - 1) // 48 ELSE 0 END AS n
              FROM nz
            ), c AS (
              SELECT doc_id, i AS chunk_idx,
                     t[i * 48 + 1 : i * 48 + 64] AS chunk
              FROM nc, LATERAL (SELECT unnest(range(0, n)) AS i)
            )
            SELECT doc_id, chunk_idx,
                   array_to_string(chunk, ' ') AS chunk_text,
                   len(chunk) AS n_tokens
            FROM c
        """,
        "q_kg_diff": f"""
            WITH t AS (
              SELECT n_name AS subj, 'in_region' AS pred, r_name AS obj
              FROM nation JOIN region ON n_regionkey = r_regionkey
              UNION ALL
              SELECT 'c' || CAST(c_custkey AS VARCHAR), 'in_nation', n_name
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              UNION ALL
              SELECT 's' || CAST(s_suppkey AS VARCHAR), 'supplies_in', n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
            ), old AS (
              SELECT DISTINCT * FROM t
              WHERE NOT (pred = 'in_nation' AND {_duck_h64("subj")} % 3 = 0)
            ), new AS (
              SELECT DISTINCT * FROM t
              WHERE NOT (pred = 'in_nation' AND {_duck_h64("subj")} % 2 = 0)
            ), added AS (
              SELECT pred, count(*) AS n_added
              FROM (SELECT * FROM new EXCEPT SELECT * FROM old) GROUP BY pred
            ), removed AS (
              SELECT pred, count(*) AS n_removed
              FROM (SELECT * FROM old EXCEPT SELECT * FROM new) GROUP BY pred
            ), unchanged AS (
              SELECT pred, count(*) AS n_unchanged
              FROM (SELECT * FROM new INTERSECT SELECT * FROM old)
              GROUP BY pred
            )
            SELECT p.pred,
                   coalesce(n_added, 0) AS n_added,
                   coalesce(n_removed, 0) AS n_removed,
                   coalesce(n_unchanged, 0) AS n_unchanged
            FROM (SELECT DISTINCT pred FROM t) p
            LEFT JOIN added USING (pred)
            LEFT JOIN removed USING (pred)
            LEFT JOIN unchanged USING (pred)
        """,
        "q_kg_degree": """
            WITH t AS (
              SELECT n_name AS subj, 'in_region' AS pred, r_name AS obj
              FROM nation JOIN region ON n_regionkey = r_regionkey
              UNION ALL
              SELECT 'c' || CAST(c_custkey AS VARCHAR), 'in_nation', n_name
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              UNION ALL
              SELECT 's' || CAST(s_suppkey AS VARCHAR), 'supplies_in', n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
            ), d AS (
              SELECT DISTINCT subj, pred, obj FROM t
            ), od AS (
              SELECT pred, subj, count(*) AS deg FROM d GROUP BY 1, 2
            ), idg AS (
              SELECT pred, obj, count(*) AS deg FROM d GROUP BY 1, 2
            ), op AS (
              SELECT pred,
                     CAST(sum(deg) AS BIGINT) AS n_triples,
                     count(*) AS n_subjects,
                     max(deg) AS max_out_degree,
                     round(sum(deg) * 1.0 / count(*), 6) AS avg_out_degree
              FROM od GROUP BY pred
            ), ip AS (
              SELECT pred, count(*) AS n_objects, max(deg) AS max_in_degree
              FROM idg GROUP BY pred
            )
            SELECT pred, n_triples, n_subjects, n_objects,
                   max_out_degree, max_in_degree, avg_out_degree
            FROM op JOIN ip USING (pred)
        """,
        "q_kg_negatives": f"""
            WITH t AS (
              SELECT n_name AS subj, 'in_region' AS pred, r_name AS obj
              FROM nation JOIN region ON n_regionkey = r_regionkey
              UNION ALL
              SELECT 'c' || CAST(c_custkey AS VARCHAR), 'in_nation', n_name
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              UNION ALL
              SELECT 's' || CAST(s_suppkey AS VARCHAR), 'supplies_in', n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
            ), d AS (
              SELECT DISTINCT subj, pred, obj FROM t
            ), dom AS (
              SELECT pred, ent,
                     row_number() OVER (PARTITION BY pred ORDER BY ent) - 1
                       AS idx
              FROM (SELECT DISTINCT pred, obj AS ent FROM d)
            ), ds AS (
              SELECT pred, count(*) AS dom_sz FROM dom GROUP BY pred
            ), reqs AS (
              SELECT d.subj, d.pred, d.obj, i AS draw,
                     {_duck_h64("concat_ws(chr(1), d.subj, d.pred, d.obj, "
                                "'42', CAST(i AS VARCHAR))")} % dom_sz AS idx
              FROM d JOIN ds USING (pred),
                   LATERAL (SELECT unnest(range(0, 2)) AS i)
            ), cor AS (
              SELECT r.subj, r.pred, r.obj, r.draw, dom.ent AS neg_ent
              FROM reqs r
              JOIN dom ON r.pred = dom.pred AND r.idx = dom.idx
              WHERE dom.ent != r.obj
            ), neg AS (
              SELECT subj AS pos_subj, pred, obj AS pos_obj, draw,
                     subj AS neg_subj, neg_ent AS neg_obj
              FROM cor
            )
            SELECT n.pos_subj, n.pred, n.pos_obj, n.draw,
                   n.neg_subj, n.neg_obj
            FROM neg n
            LEFT JOIN d ON n.neg_subj = d.subj AND n.pred = d.pred
                       AND n.neg_obj = d.obj
            WHERE d.subj IS NULL
        """,
        "q_kg_walks": f"""
            WITH e AS (
              SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS cur,
                              's' || CAST(l_suppkey AS VARCHAR) AS nxt
              FROM lineitem
              UNION
              SELECT 's' || CAST(s_suppkey AS VARCHAR), n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
              UNION
              SELECT n_name, r_name
              FROM nation JOIN region ON n_regionkey = r_regionkey
            ), adj AS (
              SELECT cur, nxt,
                     row_number() OVER (PARTITION BY cur ORDER BY nxt) - 1
                       AS idx
              FROM e
            ), deg AS (
              SELECT cur, count(*) AS d FROM adj GROUP BY cur
            ), f0 AS (
              SELECT start, 0 AS walk, start AS cur, start AS path,
                     0 AS n_steps
              FROM (SELECT DISTINCT cur AS start FROM e)
            )
            , f1 AS (
              SELECT f.start, f.walk,
                     coalesce(a.nxt, f.cur) AS cur,
                     CASE WHEN a.nxt IS NULL THEN f.path
                          ELSE f.path || '->' || a.nxt END AS path,
                     f.n_steps + CASE WHEN a.nxt IS NULL THEN 0 ELSE 1 END
                       AS n_steps
              FROM f0 f
              LEFT JOIN deg ON deg.cur = f.cur
              LEFT JOIN adj a ON a.cur = f.cur
                AND a.idx = {_duck_h64("concat_ws(chr(1), f.start, CAST(f.walk AS VARCHAR), '1', f.cur, '42')")} % deg.d
            )
            , f2 AS (
              SELECT f.start, f.walk,
                     coalesce(a.nxt, f.cur) AS cur,
                     CASE WHEN a.nxt IS NULL THEN f.path
                          ELSE f.path || '->' || a.nxt END AS path,
                     f.n_steps + CASE WHEN a.nxt IS NULL THEN 0 ELSE 1 END
                       AS n_steps
              FROM f1 f
              LEFT JOIN deg ON deg.cur = f.cur
              LEFT JOIN adj a ON a.cur = f.cur
                AND a.idx = {_duck_h64("concat_ws(chr(1), f.start, CAST(f.walk AS VARCHAR), '2', f.cur, '42')")} % deg.d
            )
            , f3 AS (
              SELECT f.start, f.walk,
                     coalesce(a.nxt, f.cur) AS cur,
                     CASE WHEN a.nxt IS NULL THEN f.path
                          ELSE f.path || '->' || a.nxt END AS path,
                     f.n_steps + CASE WHEN a.nxt IS NULL THEN 0 ELSE 1 END
                       AS n_steps
              FROM f2 f
              LEFT JOIN deg ON deg.cur = f.cur
              LEFT JOIN adj a ON a.cur = f.cur
                AND a.idx = {_duck_h64("concat_ws(chr(1), f.start, CAST(f.walk AS VARCHAR), '3', f.cur, '42')")} % deg.d
            )
            SELECT start, walk, path, n_steps FROM f3
        """,
        "q_kg_chains": """
            WITH t AS (
              SELECT n_name AS subj, 'in_region' AS pred, r_name AS obj
              FROM nation JOIN region ON n_regionkey = r_regionkey
              UNION ALL
              SELECT 'c' || CAST(c_custkey AS VARCHAR), 'in_nation', n_name
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              UNION ALL
              SELECT 's' || CAST(s_suppkey AS VARCHAR), 'supplies_in', n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
            ), d AS (
              SELECT DISTINCT subj, pred, obj FROM t
            ), der AS (
              -- one-round fixpoint on this graph: derived in_region
              -- triples cannot re-feed either rule (their subjects
              -- never appear as rule-left objects)
              SELECT a.subj, 'in_region' AS pred, b.obj
              FROM d a JOIN d b ON a.obj = b.subj
              WHERE a.pred = 'in_nation' AND b.pred = 'in_region'
              UNION
              SELECT a.subj, 'in_region', b.obj
              FROM d a JOIN d b ON a.obj = b.subj
              WHERE a.pred = 'supplies_in' AND b.pred = 'in_region'
            )
            SELECT subj, pred, obj FROM d
            UNION
            SELECT subj, pred, obj FROM der
        """,
        "q_kg_validate": f"""
            WITH t0 AS (
              SELECT n_name AS subj, 'in_region' AS pred, r_name AS obj
              FROM nation JOIN region ON n_regionkey = r_regionkey
              UNION ALL
              SELECT 'c' || CAST(c_custkey AS VARCHAR), 'in_nation', n_name
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              UNION ALL
              SELECT 's' || CAST(s_suppkey AS VARCHAR), 'supplies_in', n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey
            ), bad_range AS (
              SELECT subj, pred, 'EUROPE' AS obj FROM t0
              WHERE pred = 'in_nation' AND {_duck_h64("subj")} % 13 = 0
            ), bad_domain AS (
              SELECT 'EUROPE' AS subj, 'in_nation' AS pred,
                     min(n_name) AS obj
              FROM nation
            ), trip AS (
              SELECT DISTINCT subj, pred, obj FROM (
                SELECT * FROM t0
                UNION ALL SELECT * FROM bad_range
                UNION ALL SELECT * FROM bad_domain
              )
            ), types AS (
              SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node,
                     'customer' AS type FROM customer
              UNION ALL
              SELECT 's' || CAST(s_suppkey AS VARCHAR), 'supplier'
              FROM supplier
              UNION ALL SELECT n_name, 'nation' FROM nation
              UNION ALL SELECT r_name, 'region' FROM region
            ), cons AS (
              SELECT * FROM (VALUES
                ('in_nation', 'customer', 'nation'),
                ('supplies_in', 'supplier', 'nation'),
                ('in_region', 'nation', 'region')
              ) AS v(pred, domain_type, range_type)
            ), wc AS (
              SELECT tr.subj, tr.pred, tr.obj, c.domain_type, c.range_type
              FROM trip tr JOIN cons c USING (pred)
            ), dom AS (
              SELECT 'domain' AS violation, subj, pred, obj,
                     domain_type AS detail
              FROM wc
              WHERE domain_type IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM types ty
                WHERE ty.node = wc.subj AND ty.type = wc.domain_type)
            ), rng AS (
              SELECT 'range' AS violation, subj, pred, obj,
                     range_type AS detail
              FROM wc
              WHERE range_type IS NOT NULL AND NOT EXISTS (
                SELECT 1 FROM types ty
                WHERE ty.node = wc.obj AND ty.type = wc.range_type)
            ), func AS (
              SELECT 'functional' AS violation, subj, pred,
                     CAST(NULL AS VARCHAR) AS obj,
                     CAST(count(DISTINCT obj) AS VARCHAR) AS detail
              FROM trip WHERE pred = 'in_nation'
              GROUP BY subj, pred HAVING count(DISTINCT obj) > 1
            )
            SELECT * FROM dom
            UNION ALL SELECT * FROM rng
            UNION ALL SELECT * FROM func
        """,
        "q_cap_per_stratum": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY {_duck_h64("cast(doc_id AS VARCHAR)")} ASC,
                                doc_id ASC
                     ) AS rk
              FROM documents
            ) WHERE rk <= 20
        """,
        "q_cap_per_stratum_dehub": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY {_duck_h64("cast(doc_id AS VARCHAR)")} ASC,
                                doc_id ASC
                     ) AS rk
              FROM documents
            ) WHERE rk <= 20
        """,
        "q_temperature_sample": f"""
            WITH sizes AS (
              SELECT source, count(*) AS n FROM documents GROUP BY source
            ), w AS (
              SELECT source, n, pow(n, 0.5) AS w FROM sizes
            ), z AS (
              SELECT sum(w) AS z FROM w
            ), rates AS (
              -- same operation order as temperature_mixture_rates:
              -- c * (w / z) / n, capped at 1
              SELECT source, n,
                     least(1.0, 200.0 * (w / z.z) / n) AS rate
              FROM w, z
            ), thr AS (
              -- milli-floored rate -> exact integer threshold
              SELECT source,
                     CAST(floor(rate * 1000) AS BIGINT) * 1000 AS t
              FROM rates
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN thr USING (source)
            WHERE {_duck_h64("cast(doc_id AS VARCHAR)")} % 1000000 < t
        """,
        "q_dedup_paragraphs": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
            ), nz AS (
              SELECT doc_id, t, len(t) AS L FROM toks WHERE len(t) > 0
            ), nc AS (
              SELECT doc_id, t, L,
                     1 + CASE WHEN L > 10
                              THEN (L - 10 + 10 - 1) // 10 ELSE 0 END AS n
              FROM nz
            ), parts AS (
              -- the 10-token paragraphs themselves are the exploded
              -- spans (splitting the rebuilt text returns exactly them)
              SELECT doc_id, i AS pos,
                     array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ') AS para
              FROM nc, LATERAL (SELECT unnest(range(0, n)) AS i)
            ), fps AS (
              -- paragraphs are already normalized (lowercased,
              -- space-joined tokens), so fingerprint = md5(para)
              SELECT doc_id, pos, para, md5(para) AS fp FROM parts
            ), m1 AS (
              SELECT fp, min(doc_id) AS kd FROM fps GROUP BY fp
            ), first AS (
              SELECT p.fp, p.doc_id AS kd, min(p.pos) AS kp
              FROM fps p JOIN m1 ON p.fp = m1.fp AND p.doc_id = m1.kd
              GROUP BY p.fp, p.doc_id
            ), kept AS (
              SELECT p.doc_id, p.pos, p.para
              FROM fps p
              JOIN first f ON p.fp = f.fp AND p.doc_id = f.kd AND p.pos = f.kp
            ), stats AS (
              SELECT doc_id, count(*) AS n_paragraphs FROM fps GROUP BY doc_id
            ), reb AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(para, chr(10) ORDER BY pos) AS text_deduped
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(n_paragraphs, 0) AS n_paragraphs,
                   coalesce(n_kept, 0) AS n_kept,
                   coalesce(text_deduped, '') AS text_deduped
            FROM documents d
            LEFT JOIN stats USING (doc_id)
            LEFT JOIN reb USING (doc_id)
        """,
        "q_length_quantiles": """
            SELECT source,
                   count(*) AS n,
                   CAST(avg(n_chars) AS DOUBLE) AS mean,
                   CAST(quantile_cont(n_chars, 0.25) AS DOUBLE) AS p25,
                   CAST(quantile_cont(n_chars, 0.50) AS DOUBLE) AS p50,
                   CAST(quantile_cont(n_chars, 0.75) AS DOUBLE) AS p75,
                   CAST(quantile_cont(n_chars, 0.95) AS DOUBLE) AS p95
            FROM documents
            GROUP BY source
        """,
        # --- invariant-row oracles for approximate/pipeline queries:
        # the data-grounded columns (exact-side counts) are recomputed
        # from the same parquet; the *_ok columns are the invariant the
        # engine must satisfy (a bound, not an equality — see each
        # query's docstring), pinned as literals ---
        "q_embedding_near_dup_bucketed": """
            WITH exact AS (
              SELECT l.vec_id AS a, r.vec_id AS b
              FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
              WHERE list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                           CAST(r.embedding AS DOUBLE[])) >= 0.5
            )
            SELECT count(*) AS n_exact,
                   CAST(0 AS BIGINT) AS n_outside_exact,
                   CAST(1 AS INTEGER) AS recall_ok
            FROM exact
        """,
        "q_ivf_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q_emb
              FROM embeddings WHERE vec_id < 3
            ), scored AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.q_emb AS DOUBLE[])) AS cosine
              FROM embeddings e CROSS JOIN q
            ), ranked AS (
              SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, vec_id ASC) AS rank
              FROM scored
            ), exact AS (
              SELECT query_id, vec_id FROM ranked WHERE rank <= 5
            )
            SELECT count(DISTINCT query_id) AS n_queries,
                   count(*) AS n_exact,
                   CAST(1 AS INTEGER) AS recall_ok
            FROM exact
        """,
        "q_kmeans_clusters": """
            -- KMeans invariant: n_points is recomputed from the same
            -- parquet; k is the call parameter; the flags assert the
            -- one-row-per-point assignment and Lloyd descent (final
            -- inertia <= seeded-init inertia), which hold for ANY
            -- correct KMeans regardless of float summation order
            SELECT count(*) AS n_points,
                   CAST(8 AS INTEGER) AS k,
                   CAST(1 AS INTEGER) AS sizes_ok,
                   CAST(1 AS INTEGER) AS inertia_decreased
            FROM embeddings
        """,
        "q_media_decode": """
            -- fixture-world media-decode invariant: payloads and the
            -- fake decode are deterministic functions of media_ref, so
            -- the aggregate scalars are pinned literals (binary decode
            -- itself is not SQL-expressible); sums are integer
            -- (order-independent), the avg is rounded to 6 and
            -- verified partitioning-stable
            SELECT CAST(169 AS BIGINT) AS n_items,
                   CAST(1 AS BIGINT) AS n_kinds,
                   CAST(3942 AS BIGINT) AS total_width,
                   CAST(4083 AS BIGINT) AS total_height,
                   CAST(507 AS BIGINT) AS total_channels,
                   CAST(127.545963 AS DOUBLE) AS avg_mean_intensity
        """,
        "q_kg_triples": """
            -- fixture-world pipeline P/R invariant: the fixture corpus
            -- lives outside the sf parquet tables, so every scalar is a
            -- pinned literal of the deterministic expected outcome
            -- (triple_pr of the pipeline vs the frozen numpy oracle's
            -- golden triples; regenerate via
            -- oracle.golden_fixture_triples if the fixture changes)
            SELECT CAST(1676 AS BIGINT) AS tp,
                   CAST(0 AS BIGINT) AS fp,
                   CAST(0 AS BIGINT) AS fn,
                   CAST(1.0 AS DOUBLE) AS precision,
                   CAST(1.0 AS DOUBLE) AS recall,
                   CAST(1.0 AS DOUBLE) AS f1
        """,
    }
