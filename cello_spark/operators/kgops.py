"""KG maintenance operators: snapshot diff and degree profiling.

An incremental KG-construction pipeline (streaming/ingest.py
`run_incremental_kg`) needs exactly two maintenance primitives the
triple table itself doesn't give you:

- `kg_diff` / `kg_diff_summary`: what changed between two snapshots
  (crawl increments, re-runs after a model update) — set difference
  over (subj, pred, obj), plus per-predicate churn counts. This is
  how a re-linked corpus is audited before the new snapshot is
  promoted.
- `kg_degree_stats`: per-predicate out/in-degree profile. Hub terms
  (the reference ontology's CL:0000000 'cell' ancestor, matched by
  the salted-join handling in operators/skew.py) are exactly the
  subjects/objects this surfaces — the measured input that picks the
  salting threshold instead of a guess.

Scale: everything is anti-joins / two-level aggregations on the
triple key — shuffle keys are (subj, pred, obj) tuples or (pred,
node) pairs, map-side combinable; the Iceberg triple sink's
bucket-by-doc + pred partitioning means snapshot diffs co-locate.
No reference analog (CellO emits flat classification tables);
semantics are the standard set-difference / degree-sequence
definitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_KEY = ["subj", "pred", "obj"]


def kg_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Set difference between two triple snapshots:
    (op ∈ {added, removed}, subj, pred, obj). Distinct semantics —
    duplicate rows within a snapshot count once."""
    added = (
        new.select(_KEY).dropDuplicates()
        .join(old.select(_KEY).dropDuplicates(), _KEY, "left_anti")
        .withColumn("op", F.lit("added"))
    )
    removed = (
        old.select(_KEY).dropDuplicates()
        .join(new.select(_KEY).dropDuplicates(), _KEY, "left_anti")
        .withColumn("op", F.lit("removed"))
    )
    return added.unionByName(removed).select("op", *_KEY)


def kg_diff_summary(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-predicate churn: (pred, n_added, n_removed, n_unchanged).
    One pass over the diff plus a semi-join count for the stable set."""
    d = kg_diff(old, new)
    churn = d.groupBy("pred").agg(
        F.sum(F.when(F.col("op") == "added", 1).otherwise(0)).alias("n_added"),
        F.sum(F.when(F.col("op") == "removed", 1).otherwise(0)).alias(
            "n_removed"
        ),
    )
    unchanged = (
        new.select(_KEY).dropDuplicates()
        .join(old.select(_KEY).dropDuplicates(), _KEY, "left_semi")
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n_unchanged"))
    )
    return (
        churn.join(unchanged, "pred", "full")
        .select(
            "pred",
            F.coalesce("n_added", F.lit(0)).alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce("n_unchanged", F.lit(0)).alias("n_unchanged"),
        )
    )


def kg_degree_stats(triples: DataFrame) -> DataFrame:
    """Per-predicate degree profile over distinct triples:
    (pred, n_triples, n_subjects, n_objects, max_out_degree,
    max_in_degree, avg_out_degree). max_in_degree is the hub-term
    detector: a predicate whose max_in_degree is orders of magnitude
    above its average is the one that needs a salted aggregate/join
    (operators/skew.py) at scale. Two two-level aggregations, both
    map-side combinable."""
    t = triples.select(_KEY).dropDuplicates()
    out_deg = t.groupBy("pred", "subj").agg(
        F.count(F.lit(1)).alias("deg")
    )
    in_deg = t.groupBy("pred", "obj").agg(F.count(F.lit(1)).alias("deg"))
    out_prof = out_deg.groupBy("pred").agg(
        F.sum("deg").alias("n_triples"),
        F.count(F.lit(1)).alias("n_subjects"),
        F.max("deg").alias("max_out_degree"),
        (F.sum("deg") / F.count(F.lit(1))).alias("avg_out_degree"),
    )
    in_prof = in_deg.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.max("deg").alias("max_in_degree"),
    )
    return out_prof.join(in_prof, "pred").select(
        "pred",
        "n_triples",
        "n_subjects",
        "n_objects",
        "max_out_degree",
        "max_in_degree",
        F.round("avg_out_degree", 6).alias("avg_out_degree"),
    )


def kg_negative_samples(
    triples: DataFrame,
    k: int = 2,
    seed: int = 42,
    corrupt: str = "obj",
    hub_rows: int = 262_144,
) -> DataFrame:
    """Type-consistent negative sampling for KG-embedding training
    (TransE / DistMult style): for every positive (s, p, o) emit up to
    k corrupted triples replacing the object (corrupt='obj') or
    subject ('subj') with a pseudorandom entity from THE SAME
    predicate's entity domain, then drop corruptions that collide with
    a true triple (no false negatives). Deterministic: draw i of a
    triple picks the entity whose dense rank in the sorted per-pred
    domain equals md5-hash(s, p, o, seed, i) mod |domain|, so re-runs,
    resumes, and other engines reproduce the samples bit-for-bit (the
    standard reproducibility requirement for training corpora).

    After the collision filter (and the self-collision drop when the
    draw equals the original entity) a positive may yield fewer than k
    negatives — standard practice; callers wanting exactly k re-draw
    with a second seed.

    Scale: the domain index is a range-partitioned distributed rank
    (partitioning.per_group_sorted_index) — a predicate whose entity
    domain is huge (an rdf:type-like predicate with 10^8 objects)
    spans many range partitions instead of being ONE task's window
    sort; corruption requests join the indexed domain on (pred, idx)
    — a uniform hash key, no hub skew — and the false-negative filter
    is one anti-join on the triple key. No driver-side collection, no
    broadcast of unbounded domains."""
    if corrupt not in ("obj", "subj"):
        raise ValueError(f"corrupt must be 'obj' or 'subj', got {corrupt!r}")
    if k < 1:
        # sequence(0, k-1) descends for k <= 0, silently emitting
        # draws 0 and -1 — reject instead
        raise ValueError(f"k must be >= 1, got {k}")
    from cello_spark.partitioning import per_group_sorted_index

    # the distinct triple key is read by the domain derivation, the
    # skew-probe action below, the corruption requests, and the final
    # false-negative anti-join — materialize it ONCE (same trade as
    # kg_random_walks / the dedup `_pin`s) so those consumers probe
    # stored blocks instead of re-running the dedup shuffle.
    t = (
        triples.select("subj", "pred", "obj")
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    ent_col = corrupt
    ents = t.select("pred", F.col(ent_col).alias("ent")).dropDuplicates()
    # domain sizes are needed for the mod-draw anyway — reuse them as
    # the skew probe instead of paying per_group_sorted_index's own
    # probe pass (one count-aggregate job serves both)
    dom_sizes = ents.groupBy("pred").agg(F.count(F.lit(1)).alias("dom_sz"))
    mx = (dom_sizes.agg(F.max("dom_sz")).first()[0]) or 0
    if mx <= hub_rows:
        w = Window.partitionBy("pred").orderBy("ent")
        dom = ents.withColumn(
            "idx", (F.row_number().over(w) - 1).cast("int")
        )
    else:
        dom = per_group_sorted_index(
            ents, ["pred"], ["ent"], idx_col="idx", probe_skew=False
        )
    reqs = (
        t.join(dom_sizes, "pred")
        .select(
            "subj",
            "pred",
            "obj",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {k - 1}), i -> "
                    f"cast(conv(substring(md5(concat_ws(chr(1), subj, pred, "
                    f"obj, '{seed}', cast(i AS string))), 1, 15), 16, 10) "
                    f"AS bigint) % dom_sz)"
                )
            ).alias("draw", "idx"),
        )
        .withColumn("idx", F.col("idx").cast("int"))
    )
    corrupted = reqs.join(dom, ["pred", "idx"]).select(
        "subj",
        "pred",
        "obj",
        "draw",
        F.col("ent").alias("neg_ent"),
    )
    # self-collisions (draw == original entity) carry no signal
    corrupted = corrupted.filter(F.col("neg_ent") != F.col(ent_col))
    neg = corrupted.select(
        F.col("subj").alias("pos_subj"),
        F.col("pred").alias("pred"),
        F.col("obj").alias("pos_obj"),
        "draw",
        (
            F.col("neg_ent").alias("neg_subj")
            if ent_col == "subj"
            else F.col("subj").alias("neg_subj")
        ),
        (
            F.col("obj").alias("neg_obj")
            if ent_col == "subj"
            else F.col("neg_ent").alias("neg_obj")
        ),
    )
    # no false negatives: the corrupted triple must not be true
    return neg.join(
        t.select(
            F.col("subj").alias("neg_subj"),
            "pred",
            F.col("obj").alias("neg_obj"),
        ),
        ["neg_subj", "pred", "neg_obj"],
        "left_anti",
    ).select("pos_subj", "pred", "pos_obj", "draw", "neg_subj", "neg_obj")


def kg_random_walks(
    triples: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 1,
    seed: int = 42,
    hub_rows: int = 262_144,
) -> DataFrame:
    """Deterministic uniform random walks over the directed triple
    graph — the corpus generator for node-embedding training
    (DeepWalk / node2vec feed exactly these walk sequences to a
    skip-gram model). Walk w from node n chooses, at step t, the
    out-neighbor whose dense rank (row_number over the node's sorted
    neighbor list) equals md5-hash(n, w, t, cur, seed) mod out-degree.
    A walk reaching a sink node stalls there (its path stops growing)
    — the standard truncated-walk behavior. Fully deterministic:
    identical walks across partitionings, re-runs, and engines.

    Output: (start, walk, path, n_steps) with path the '->'-joined
    node sequence (walk_len edges at most).

    Scale: the adjacency index is a range-partitioned distributed
    rank (partitioning.per_group_sorted_index) — a hub node's
    neighbor list spans many range partitions instead of being ONE
    task's window sort; each of the walk_len steps is two equi-joins
    (frontier ⋈ degree, frontier ⋈ adjacency on (node, idx)) — join
    keys are nodes, so hub-heavy graphs inherit AQE skew splitting;
    the frontier never grows (|nodes| x walks_per_node rows
    throughout). walk_len is a fixed small constant, so the lineage
    stays bounded — no iterative convergence loop, no checkpointing
    need."""
    if walk_len < 1 or walks_per_node < 1:
        # sequence(0, n-1) descends for n <= 0 (emitting walk=-1 rows)
        raise ValueError(
            f"need walk_len >= 1 and walks_per_node >= 1, got "
            f"{walk_len}/{walks_per_node}"
        )
    from cello_spark.partitioning import per_group_sorted_index

    # the edge list is read by the skew probe, the degree table, the
    # adjacency index, and every one of the walk_len step joins —
    # materialize it ONCE (eager localCheckpoint) so all consumers
    # probe stored blocks instead of re-running the dedup shuffle
    # (A/B at the sf0.1 bench: 8.0s -> 4.0s warm). At cluster scale
    # this stores one copy of the distinct edge list, the same data
    # every step join would otherwise reshuffle.
    e = (
        triples.select(F.col("subj").alias("cur"), F.col("obj").alias("nxt"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    # out-degrees are needed for the mod-draw anyway — reuse them as
    # the skew probe (one count-aggregate job serves both). When a
    # hub node exists the index routes through the de-hubbed rank.
    deg = e.groupBy("cur").agg(F.count(F.lit(1)).alias("d"))
    mx = (deg.agg(F.max("d")).first()[0]) or 0
    if mx <= hub_rows:
        w = Window.partitionBy("cur").orderBy("nxt")
        adj = e.withColumn("idx", (F.row_number().over(w) - 1).cast("int"))
    else:
        adj = per_group_sorted_index(
            e, ["cur"], ["nxt"], idx_col="idx", probe_skew=False
        )
    frontier = (
        e.select(F.col("cur").alias("start"))
        .dropDuplicates()
        .select(
            "start",
            F.explode(
                F.expr(f"sequence(0, {walks_per_node - 1})")
            ).alias("walk"),
        )
        .select(
            "start",
            "walk",
            F.col("start").alias("cur"),
            F.col("start").alias("path"),
            F.lit(0).alias("n_steps"),
        )
    )
    for t in range(1, walk_len + 1):
        h = (
            f"cast(conv(substring(md5(concat_ws(chr(1), start, "
            f"cast(walk AS string), '{t}', cur, '{seed}')), 1, 15), 16, 10) "
            f"AS bigint)"
        )
        stepped = (
            frontier.join(deg, "cur", "left")
            .withColumn("idx", F.expr(f"cast({h} % d AS int)"))
            .join(adj, ["cur", "idx"], "left")
        )
        frontier = stepped.select(
            "start",
            "walk",
            F.coalesce("nxt", "cur").alias("cur"),
            F.when(
                F.col("nxt").isNull(), F.col("path")
            ).otherwise(F.concat_ws("->", "path", "nxt")).alias("path"),
            F.when(F.col("nxt").isNull(), F.col("n_steps"))
            .otherwise(F.col("n_steps") + 1)
            .alias("n_steps"),
        )
    return frontier.select("start", "walk", "path", "n_steps")


def infer_property_chains(
    triples: DataFrame,
    chains: list[tuple[str, str, str]],
    max_iter: int = 32,
) -> DataFrame:
    """OWL-RL-style property-chain inference to fixpoint: each chain
    (r1, r2, out) derives out(x, z) from r1(x, y) ∧ r2(y, z) — e.g.
    the ontology up-propagation part_of ∘ is_a → part_of that the
    reference's anatomical filtering relies on (cello/cello.py:707-733
    walks inv_is_a/inv_part_of together; here the same reasoning is a
    declarative rule set). Returns base ∪ derived, distinct.

    Semi-naive like operators/graph.transitive_closure: each round
    joins only the previous round's NEW triples against the full set
    (both orders), so total work is O(|fixpoint|), with localCheckpoint
    lineage cuts per round. Purely-transitive single-relation chains
    (r, r, r) are better served by transitive_closure's specialized
    loop; this operator is for heterogeneous rule sets. Fails loudly
    if max_iter rounds don't reach the fixpoint — silent truncation
    would poison downstream consumers."""
    from functools import reduce

    from cello_spark.operators.graph import _checkpoint, _dedup_checkpoint

    t = _checkpoint(triples.select(*_KEY).dropDuplicates())
    all_t = t
    delta = t
    for rnd in range(max_iter):
        news = []
        for r1, r2, out in chains:
            # round 0 has delta == all_t, so the two join orders are
            # identical — run one and skip the duplicate (round 0 is
            # the largest round; this halves its join/shuffle work)
            sides = (
                (delta.filter(F.col("pred") == r1),
                 all_t.filter(F.col("pred") == r2)),
            )
            if rnd > 0:
                sides += (
                    (all_t.filter(F.col("pred") == r1),
                     delta.filter(F.col("pred") == r2)),
                )
            for left, right in sides:
                news.append(
                    left.alias("l")
                    .join(
                        right.alias("r"),
                        F.col("l.obj") == F.col("r.subj"),
                    )
                    .select(
                        F.col("l.subj").alias("subj"),
                        F.lit(out).alias("pred"),
                        F.col("r.obj").alias("obj"),
                    )
                )
        grown = reduce(lambda a, b: a.unionByName(b), news)
        delta = _dedup_checkpoint(grown.join(all_t, _KEY, "left_anti"))
        if delta.isEmpty():
            break
        all_t = _dedup_checkpoint(all_t.unionByName(delta))
    else:
        raise RuntimeError(
            f"infer_property_chains: fixpoint not reached in {max_iter} "
            "rounds; raise max_iter"
        )
    return all_t


def validate_kg(
    triples: DataFrame,
    node_types: DataFrame,
    constraints: DataFrame,
    functional_preds: tuple[str, ...] = (),
) -> DataFrame:
    """SHACL-lite validation — the QA gate a KG snapshot passes before
    promotion. Three constraint kinds:

    - domain: subj of pred must carry the constraint's domain_type in
      `node_types` (node, type);
    - range: obj must carry range_type;
    - functional: a pred in functional_preds allows at most one
      distinct obj per subj.

    constraints: (pred, domain_type, range_type), NULL = unconstrained
    side. Emits (violation, subj, pred, obj, detail) — one row per
    violating triple ('domain'/'range', detail = expected type) or per
    violating subject ('functional', obj = NULL, detail = obj count).

    Scale: the constraint table is schema-sized → broadcast; type
    checks are anti-joins of the triple table against (node, type) —
    shuffle on node only; the functional check is one combinable
    count-distinct aggregate. Violations stream out without ever
    materializing the compliant majority."""
    t = triples.select(*_KEY).dropDuplicates()
    c = F.broadcast(constraints.select("pred", "domain_type", "range_type"))
    with_c = t.join(c, "pred")
    dom_viol = (
        with_c.filter(F.col("domain_type").isNotNull())
        .join(
            node_types.select(
                F.col("node").alias("subj"),
                F.col("type").alias("domain_type"),
            ),
            ["subj", "domain_type"],
            "left_anti",
        )
        .select(
            F.lit("domain").alias("violation"),
            "subj",
            "pred",
            "obj",
            F.col("domain_type").alias("detail"),
        )
    )
    rng_viol = (
        with_c.filter(F.col("range_type").isNotNull())
        .join(
            node_types.select(
                F.col("node").alias("obj"),
                F.col("type").alias("range_type"),
            ),
            ["obj", "range_type"],
            "left_anti",
        )
        .select(
            F.lit("range").alias("violation"),
            "subj",
            "pred",
            "obj",
            F.col("range_type").alias("detail"),
        )
    )
    out = dom_viol.unionByName(rng_viol)
    if functional_preds:
        func_viol = (
            t.filter(F.col("pred").isin(list(functional_preds)))
            .groupBy("subj", "pred")
            .agg(F.countDistinct("obj").alias("n_objs"))
            .filter(F.col("n_objs") > 1)
            .select(
                F.lit("functional").alias("violation"),
                "subj",
                "pred",
                F.lit(None).cast("string").alias("obj"),
                F.col("n_objs").cast("string").alias("detail"),
            )
        )
        out = out.unionByName(func_viol)
    return out
