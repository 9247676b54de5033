"""DAG algebra as DataFrame operators.

Spark SQL has no recursive CTE, so reachability is an iterative
DataFrame self-join driven from the driver, with `localCheckpoint()`
every iteration to truncate lineage (SURVEY §4.2). All loops converge
in O(diameter) iterations — for ontology-sized graphs (<10^4 nodes)
this is a handful of tiny shuffles; at scale these operators are meant
for the *ontology* side of the pipeline (small), while document-scale
work never loops (SURVEY §7.4 'closure at 10^12-doc scale').

Reference semantics reproduced (behavior, not code):
- descendants/ancestors BFS   — cello/graph_lib/graph.py:85-102
- most_specific/general nodes — graph.py:105-168
- transitive reduction        — graph.py:242-267
- topological layers          — graph.py:270-293 (sorted within layer)
- multi-relation closure      — cello/onto_lib_py3/ontology_graph.py:142-164
- connected components        — synonym/xref canonicalization
  (ontology_graph.py:525-569) as min-id label propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from cello_spark import oracle


def _fresh(df: DataFrame) -> DataFrame:
    # re-alias every column: Alias mints new expression ids, so two
    # checkpointed branches of the same base never share attr ids
    # (sharing them trips AQE's attribute map when the branches are
    # unioned and re-checkpointed: "key not found: <attr>")
    return df.select([F.col(c).alias(c) for c in df.columns])


def _checkpoint(df: DataFrame) -> DataFrame:
    # localCheckpoint keeps the iteration's lineage from growing into
    # an exponentially deep plan; eager=True materializes now.
    return _fresh(df.localCheckpoint(eager=True))


def _dedup_checkpoint(df: DataFrame) -> DataFrame:
    return _checkpoint(df.dropDuplicates())


def transitive_closure(
    edges: DataFrame,
    rels: tuple[str, ...] | None = ("is_a",),
    max_iter: int = 64,
) -> DataFrame:
    """All (descendant, ancestor) pairs reachable via `rels` edge types.

    edges: (src=child, dst=parent, rel). Returns (descendant, ancestor),
    self-pairs excluded. Semi-naive iteration: only the frontier (new
    pairs) is joined against the base edges each round, so work is
    O(|closure|) not O(iters x |closure|).
    """
    base = edges
    if rels is not None:
        base = base.filter(F.col("rel").isin(list(rels)))
    base = base.select(
        F.col("src").alias("descendant"), F.col("dst").alias("ancestor")
    ).dropDuplicates()
    base = _checkpoint(base)

    closure = base
    frontier = base
    for _ in range(max_iter):
        # new pairs: frontier(desc -> anc) ⋈ base(anc -> anc2)
        grown = (
            frontier.alias("f")
            .join(base.alias("b"), F.col("f.ancestor") == F.col("b.descendant"))
            .select(
                F.col("f.descendant").alias("descendant"),
                F.col("b.ancestor").alias("ancestor"),
            )
        )
        frontier = _dedup_checkpoint(
            grown.join(closure, ["descendant", "ancestor"], "left_anti")
        )
        if frontier.isEmpty():
            break
        closure = _dedup_checkpoint(closure.unionByName(frontier))
    else:
        # a silent truncation here would poison every downstream
        # consumer (binarize, most-specific, anatomical filter) with
        # missing ancestor pairs — fail loudly instead
        raise RuntimeError(
            f"transitive_closure: fixpoint not reached in {max_iter} "
            f"iterations (a path longer than {max_iter} edges exists); "
            "raise max_iter"
        )
    return closure.filter(F.col("descendant") != F.col("ancestor"))


def transitive_closure_auto(
    edges: DataFrame,
    rels: tuple[str, ...] | None = ("is_a",),
    driver_side_max_edges: int = 200_000,
) -> DataFrame:
    """Closure with a size-based cutover: graphs up to
    `driver_side_max_edges` edges (ontology scale — CL has ~6.6k
    terms) are closed on the driver by `oracle.closure_pairs`, the BFS
    `prepare_ontology` runs, and shipped back as one DataFrame (zero
    shuffle, zero iteration jobs); larger graphs fall back to the
    iterative self-join operator. The scale burden in this pipeline is
    on the document side, never the ontology side (SURVEY §7.4)."""
    base = edges
    if rels is not None:
        base = base.filter(F.col("rel").isin(list(rels)))
    base = base.select("src", "dst").dropDuplicates()
    n = base.limit(driver_side_max_edges + 1).count()
    if n > driver_side_max_edges:
        return transitive_closure(edges, rels=rels)
    pairs = oracle.closure_pairs([(r.src, r.dst) for r in base.collect()])
    # a node on a cycle reaches itself; the distributed operator drops
    # self-pairs, so the driver side does too
    out = [(d, a) for d, a in pairs if d != a]
    # schema derived from the INPUT edge types so the result type does
    # not depend on which side of the cutover the graph lands on
    # (round-1 verdict: long-keyed graphs flipped to string here)
    schema = T.StructType(
        [
            T.StructField("descendant", base.schema["src"].dataType),
            T.StructField("ancestor", base.schema["dst"].dataType),
        ]
    )
    return edges.sparkSession.createDataFrame(out, schema)


def connected_components_auto(
    pairs: DataFrame, driver_side_max_edges: int = 200_000
) -> DataFrame:
    """Connected components with the same size cutover: the
    `oracle.connected_components` union-find (the one
    `prepare_ontology` runs) on the driver for dictionary-scale alias
    graphs, iterative min-id propagation otherwise."""
    p = pairs.select("a", "b").dropDuplicates()
    n = p.limit(driver_side_max_edges + 1).count()
    if n > driver_side_max_edges:
        return connected_components(pairs)
    comp = oracle.connected_components([(r.a, r.b) for r in p.collect()])
    # preserve the input node type across the cutover (see
    # transitive_closure_auto); a/b must share one type for min-id
    # component labels to be meaningful at all
    a_t = p.schema["a"].dataType
    b_t = p.schema["b"].dataType
    if a_t != b_t:
        raise TypeError(
            f"connected_components_auto: a ({a_t}) and b ({b_t}) must "
            "share one type"
        )
    schema = T.StructType(
        [T.StructField("node", a_t), T.StructField("component", a_t)]
    )
    return pairs.sparkSession.createDataFrame(list(comp.items()), schema)


def anatomical_filter(
    df: DataFrame,
    closure: DataFrame,  # (descendant, ancestor) over the INVERSE rels' closure
    remove_subterms_of: list,
    label_col: str = "label",
) -> DataFrame:
    """P5: drop rows whose `label_col` is one of `remove_subterms_of`
    or any subterm of one — the reference's anatomical-entity filter
    (cello/cello.py:707-733), which removes each term's recursive
    inv_is_a/inv_part_of/inv_located_in closure INCLUDING the term
    itself (ontology_graph.py:142-164 gathers t_id first).

    `closure` is the multi-relation transitive closure over the
    FORWARD edges (src=child, dst=parent) for rels
    (is_a, part_of, located_in) — walking descendants here equals the
    reference's inverse-relation walk. One broadcast anti-join; the
    scored side never shuffles."""
    spark = df.sparkSession
    roots = [str(t) for t in remove_subterms_of]
    sub = (
        closure.filter(F.col("ancestor").isin(roots))
        .select(F.col("descendant").alias("__drop"))
        .unionByName(
            spark.createDataFrame([(t,) for t in roots], "__drop string").select(
                F.col("__drop")
                .cast(closure.schema["descendant"].dataType)
                .alias("__drop")
            )
        )
        .dropDuplicates()
    )
    return df.join(
        F.broadcast(sub), df[label_col] == sub["__drop"], "left_anti"
    )


def k_hop_neighborhood(edges: DataFrame, roots: DataFrame, k: int) -> DataFrame:
    """Nodes within k hops (child->parent direction) of `roots(node)`.
    Reference: radius-bounded BFS (general_ontology_tools.py:102-132)."""
    visited = _checkpoint(roots.select("node").dropDuplicates())
    frontier = visited
    e = edges.select(F.col("src").alias("node"), F.col("dst").alias("nxt"))
    for _ in range(k):
        nxt = (
            frontier.join(e, "node")
            .select(F.col("nxt").alias("node"))
            .join(visited, "node", "left_anti")
        )
        frontier = _dedup_checkpoint(nxt)
        if frontier.isEmpty():
            break
        visited = _dedup_checkpoint(visited.unionByName(frontier))
    return visited


def most_specific(closure: DataFrame, nodes: DataFrame) -> DataFrame:
    """Of `nodes(node)` keep members that are not a strict ancestor of
    another member: anti-join against (member ⋈ closure restricted to
    members). Loners survive automatically (SURVEY G3). Equivalent to
    the reference's pairwise ancestor-set scan (graph.py:105-135) but
    set-at-a-time."""
    n = nodes.select("node").dropDuplicates()
    # pairs (descendant in S, ancestor in S)
    dominated = (
        closure.join(n.withColumnRenamed("node", "descendant"), "descendant")
        .join(n.withColumnRenamed("node", "ancestor"), "ancestor")
        .select(F.col("ancestor").alias("node"))
        .dropDuplicates()
    )
    return n.join(dominated, "node", "left_anti")


def most_specific_per_group(closure: DataFrame, grouped_nodes: DataFrame) -> DataFrame:
    """Vector version for the decision operator: `grouped_nodes(gid,
    node)` → per-gid most-specific members. One join pass for ALL
    groups — this is the form the document-scale pipeline uses (no
    per-sample loop, unlike the reference's per-row Python at
    cello/cello.py:858-873)."""
    g = grouped_nodes.select("gid", "node").dropDuplicates()
    dominated = (
        g.alias("d")
        .join(
            closure.alias("c"),
            F.col("d.node") == F.col("c.descendant"),
        )
        .join(
            g.alias("a"),
            (F.col("a.gid") == F.col("d.gid"))
            & (F.col("a.node") == F.col("c.ancestor")),
        )
        .select(F.col("d.gid").alias("gid"), F.col("c.ancestor").alias("node"))
        .dropDuplicates()
    )
    return g.join(dominated, ["gid", "node"], "left_anti")


def most_general(closure: DataFrame, nodes: DataFrame) -> DataFrame:
    """Dual of most_specific (reference graph.py:138-168): drop members
    that are a strict descendant of another member."""
    n = nodes.select("node").dropDuplicates()
    dominated = (
        closure.join(n.withColumnRenamed("node", "ancestor"), "ancestor")
        .join(n.withColumnRenamed("node", "descendant"), "descendant")
        .select(F.col("descendant").alias("node"))
        .dropDuplicates()
    )
    return n.join(dominated, "node", "left_anti")


def transitive_reduction(edges: DataFrame, closure: DataFrame | None = None) -> DataFrame:
    """Drop (child,parent) edges implied by a longer path: edge (c,p) is
    redundant iff some other parent p2 of c has p as ancestor.
    Reference: graph.py:242-267."""
    e = edges.select("src", "dst").dropDuplicates()
    if closure is None:
        closure = transitive_closure(
            edges.withColumn("rel", F.lit("is_a")), rels=None
        )
    redundant = (
        e.alias("e1")
        .join(e.alias("e2"), (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dst") != F.col("e2.dst")))
        .join(
            closure.alias("c"),
            (F.col("e2.dst") == F.col("c.descendant"))
            & (F.col("e1.dst") == F.col("c.ancestor")),
        )
        .select(F.col("e1.src").alias("src"), F.col("e1.dst").alias("dst"))
        .dropDuplicates()
    )
    return e.join(redundant, ["src", "dst"], "left_anti")


def topological_layers(edges: DataFrame, max_iter: int = 256) -> DataFrame:
    """Kahn layering: peel in-degree-0 (w.r.t. remaining graph) nodes.
    Returns (node, layer). Within-layer order is the node string itself
    (callers sort by (layer, node)) — matching the reference's sorted()
    per layer (graph.py:280-291)."""
    spark = edges.sparkSession
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    nodes = _checkpoint(nodes)
    # child depends on parent: node is ready when all its parents peeled
    deps = edges.select(F.col("src").alias("node"), F.col("dst").alias("dep"))
    remaining = nodes
    remaining_deps = _checkpoint(deps)
    out: DataFrame | None = None
    for layer in range(max_iter):
        ready = remaining.join(
            remaining_deps.select("node").dropDuplicates(), "node", "left_anti"
        ).withColumn("layer", F.lit(layer))
        ready = _checkpoint(ready)
        if ready.isEmpty():
            break
        out = ready if out is None else out.unionByName(ready)
        peeled = ready.select("node")
        remaining = _dedup_checkpoint(remaining.join(peeled, "node", "left_anti"))
        remaining_deps = _dedup_checkpoint(
            remaining_deps.join(
                peeled.withColumnRenamed("node", "dep"), "dep", "left_anti"
            )
        )
        if remaining.isEmpty():
            break
    if not remaining.isEmpty():
        # ready empty with nodes left = a cycle (or max_iter too small
        # for the DAG's depth); the oracle raises for the same input —
        # a silent partial layering would hide a data bug
        raise ValueError(
            "topological_layers: cycle detected (or depth exceeds "
            f"max_iter={max_iter}) — "
            f"{remaining.count()} nodes cannot be layered"
        )
    if out is None:
        return spark.createDataFrame([], "node string, layer int")
    return out


def connected_components(pairs: DataFrame, max_iter: int = 64) -> DataFrame:
    """Undirected connected components via min-id label propagation to
    fixpoint (GraphFrames-style, plain DataFrames). Input (a, b) string
    pairs; output (node, component) where component = min member id.

    Used for canonicalization: synonym/xref alias pairs collapse to one
    canonical id (SURVEY G11)."""
    sym = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .dropDuplicates()
    )
    sym = _checkpoint(sym)
    # label(node) = min(node, min neighbor label); iterate to fixpoint
    labels = (
        sym.groupBy("x")
        .agg(F.least(F.min("y"), F.first("x")).alias("component"))
        .select(F.col("x").alias("node"), "component")
    )
    labels = _dedup_checkpoint(labels)
    for _ in range(max_iter):
        # propagate: node's new label = min(own, labels of neighbors)
        neighbor_lab = (
            sym.join(labels.withColumnRenamed("node", "y"), "y")
            .groupBy("x")
            .agg(F.min("component").alias("nc"))
            .withColumnRenamed("x", "node")
        )
        new_labels = (
            labels.join(neighbor_lab, "node", "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce(F.col("nc"), F.col("component"))).alias(
                    "component"
                ),
            )
        )
        new_labels = _dedup_checkpoint(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
        )
        labels = new_labels
        if changed.isEmpty():
            break
    return labels


def spanning_subgraph(
    edges: DataFrame,  # (src=parent, dst=child) — label-DAG orientation
    closure: DataFrame,  # (descendant, ancestor) strict closure
    span_nodes: DataFrame,  # (node)
) -> DataFrame:
    """G8 (reference graph.py:315-341 subgraph_spanning_nodes): the
    subgraph that spans `span_nodes` — BFS downward from the span set's
    most-general members, keeping an edge (parent, child) iff the
    child's descendants-WITH-self intersect the span set.

    Edge orientation here follows the label-DAG convention of the
    reference walk (source = parent / more general, target = child):
    `edges` is (parent, child) pairs in columns (src, dst); `closure`
    is the usual (descendant, ancestor) table.

    Relational reformulation (no iteration): call a node RELEVANT if
    it is a span node or an ancestor of one. Relevance is
    upward-closed along any parent→child path that ends in a relevant
    node, so the reference's BFS-through-relevant-targets reaches
    exactly (roots ∪ descendants(roots)) ∩ relevant, and the kept
    edges are those with a reachable parent and a relevant child.
    Three semi-joins against dictionary-sized node sets — no loop, no
    shuffle of anything big."""
    s = span_nodes.select("node").dropDuplicates()
    roots = most_general(closure, s)
    # relevant = span ∪ ancestors(span)
    relevant = s.unionByName(
        closure.join(
            s.withColumnRenamed("node", "descendant"), "descendant"
        ).select(F.col("ancestor").alias("node"))
    ).dropDuplicates()
    # reachable = (roots ∪ descendants(roots)) ∩ relevant
    reach = (
        roots.unionByName(
            closure.join(
                roots.withColumnRenamed("node", "ancestor"), "ancestor"
            ).select(F.col("descendant").alias("node"))
        )
        .dropDuplicates()
        .join(relevant, "node", "left_semi")
    )
    return (
        edges.select("src", "dst")
        .dropDuplicates()
        .join(reach.withColumnRenamed("node", "src"), "src", "left_semi")
        .join(relevant.withColumnRenamed("node", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
