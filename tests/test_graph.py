"""Spark graph operators vs the pure-python oracle, including
property tests on random DAGs (hypothesis)."""

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from cello_spark import oracle
from cello_spark.operators import graph as G


def edges_df(spark, pairs, rel="is_a"):
    return spark.createDataFrame(
        [(c, p, rel) for c, p in pairs], "src string, dst string, rel string"
    )


DIAMOND = [
    ("d", "b"),
    ("d", "c"),
    ("b", "a"),
    ("c", "a"),
    ("e", "d"),
    ("x", "a"),
]


def test_closure_matches_oracle_diamond(spark):
    got = {
        (r.descendant, r.ancestor)
        for r in G.transitive_closure(edges_df(spark, DIAMOND)).collect()
    }
    assert got == oracle.closure_pairs(DIAMOND)


def test_closure_on_fixture_ontology(spark, onto):
    e = spark.createDataFrame(onto.edges)
    got = {
        (r.descendant, r.ancestor)
        for r in G.transitive_closure(e, rels=("is_a",)).collect()
    }
    want = oracle.closure_pairs(
        [(r.src, r.dst) for r in onto.edges.itertuples(index=False) if r.rel == "is_a"]
    )
    assert got == want
    # lymphocyte-analog sanity: CD4+ T cell has T cell, lymphocyte,
    # leukocyte, blood cell, immune cell, primary, animal, cell as ancestors
    cd4_anc = {a for d, a in got if d == "CS:0000040"}
    assert "CS:0000030" in cd4_anc and "CS:0000000" in cd4_anc
    assert cd4_anc == {
        "CS:0000030",  # T cell
        "CS:0000020",  # lymphocyte
        "CS:0000012",  # leukocyte
        "CS:0000010",  # blood cell
        "CS:0000011",  # immune cell
        "CS:0000001",  # primary cell
        "CS:0000002",  # animal cell
        "CS:0000000",  # cell
    }


def _random_dag_strategy():
    # nodes n0..n9; edge (i, j) child->parent only when i > j → acyclic
    return st.lists(
        st.tuples(st.integers(1, 9), st.integers(0, 8)).filter(lambda t: t[0] > t[1]),
        min_size=1,
        max_size=20,
    )


@settings(max_examples=8, deadline=None)
@given(_random_dag_strategy())
def test_closure_property_random_dags(spark, raw):
    pairs = sorted({(f"n{c}", f"n{p}") for c, p in raw})
    got = {
        (r.descendant, r.ancestor)
        for r in G.transitive_closure(edges_df(spark, pairs)).collect()
    }
    assert got == oracle.closure_pairs(pairs)


@settings(max_examples=8, deadline=None)
@given(_random_dag_strategy(), st.sets(st.integers(0, 9), min_size=1, max_size=6))
def test_most_specific_property_random_dags(spark, raw, node_ids):
    """G3 equivalence incl. loner semantics (SURVEY §7.4 hard part)."""
    pairs = sorted({(f"n{c}", f"n{p}") for c, p in raw})
    nodes = {f"n{i}" for i in node_ids}
    closure = G.transitive_closure(edges_df(spark, pairs))
    nodes_df = spark.createDataFrame([(n,) for n in sorted(nodes)], "node string")
    got = {r.node for r in G.most_specific(closure, nodes_df).collect()}
    assert got == oracle.most_specific_nodes(pairs, nodes)
    got_gen = {r.node for r in G.most_general(closure, nodes_df).collect()}
    assert got_gen == oracle.most_general_nodes(pairs, nodes)


def test_most_specific_per_group(spark):
    closure = G.transitive_closure(edges_df(spark, DIAMOND))
    grouped = spark.createDataFrame(
        [("g1", "a"), ("g1", "d"), ("g1", "b"), ("g2", "x"), ("g2", "e")],
        "gid string, node string",
    )
    got = {(r.gid, r.node) for r in G.most_specific_per_group(closure, grouped).collect()}
    # g1: d dominates b, a; g2: x and e unrelated → both survive
    assert got == {("g1", "d"), ("g2", "x"), ("g2", "e")}


def test_topological_layers(spark):
    layers_df = G.topological_layers(edges_df(spark, DIAMOND))
    got = {}
    for r in layers_df.collect():
        got.setdefault(r.layer, set()).add(r.node)
    want = {i: set(layer) for i, layer in enumerate(oracle.topological_layers(DIAMOND))}
    assert got == want


def test_transitive_reduction(spark):
    # add a redundant shortcut edge e->a (implied via e->d->b->a)
    pairs = DIAMOND + [("e", "a")]
    got = {(r.src, r.dst) for r in G.transitive_reduction(edges_df(spark, pairs)).collect()}
    assert got == oracle.transitive_reduction(pairs)
    assert ("e", "a") not in got


def test_k_hop(spark):
    roots = spark.createDataFrame([("e",)], "node string")
    got = {r.node for r in G.k_hop_neighborhood(edges_df(spark, DIAMOND), roots, 2).collect()}
    assert got == {"e", "d", "b", "c"}


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("z", "y"), ("q", "q")],
        "a string, b string",
    )
    got = {(r.node, r.component) for r in G.connected_components(pairs).collect()}
    want = set(
        oracle.connected_components(
            [("b", "a"), ("c", "b"), ("z", "y"), ("q", "q")]
        ).items()
    )
    assert got == want


def test_connected_components_on_alias_fixture(spark, onto):
    """Canonicalization ground truth: every alias lands in its term's
    component."""
    from cello_spark.sources.fixtures import make_alias_pairs

    alias = make_alias_pairs(onto)
    pairs = spark.createDataFrame(
        [(r.canonical, r.alias) for r in alias.itertuples(index=False)],
        "a string, b string",
    )
    comp = {r.node: r.component for r in G.connected_components(pairs).collect()}
    want = oracle.connected_components(
        [(r.canonical, r.alias) for r in alias.itertuples(index=False)]
    )
    assert comp == want


def test_auto_cutover_preserves_input_types(spark):
    """Round-1 verdict: the driver-side cutover hardcoded string
    schemas, so a long-keyed graph flipped result type depending on
    which side of the cutover it landed. Both paths must now return
    the INPUT key type."""
    edges = spark.createDataFrame(
        [(12, 1, "is_a"), (123, 12, "is_a")], "src long, dst long, rel string"
    )
    small = G.transitive_closure_auto(edges)  # driver path
    big = G.transitive_closure_auto(edges, driver_side_max_edges=0)  # distributed
    assert dict(small.dtypes) == {"descendant": "bigint", "ancestor": "bigint"}
    assert dict(big.dtypes) == {"descendant": "bigint", "ancestor": "bigint"}
    want = {(12, 1), (123, 12), (123, 1)}
    assert {(r.descendant, r.ancestor) for r in small.collect()} == want
    assert {(r.descendant, r.ancestor) for r in big.collect()} == want

    pairs = spark.createDataFrame([(10, 20), (20, 30)], "a long, b long")
    cc_small = G.connected_components_auto(pairs)
    cc_big = G.connected_components_auto(pairs, driver_side_max_edges=0)
    assert dict(cc_small.dtypes) == {"node": "bigint", "component": "bigint"}
    assert dict(cc_big.dtypes) == {"node": "bigint", "component": "bigint"}
    assert {tuple(r) for r in cc_small.collect()} == {
        tuple(r) for r in cc_big.collect()
    }

    # a cycle (1 → 2 → 3 → 1), a self-loop (4 → 4) and a tail into the
    # cycle (5 → 1): cycle nodes reach themselves, and both paths drop
    # those self-pairs
    cyclic = spark.createDataFrame(
        [(1, 2, "is_a"), (2, 3, "is_a"), (3, 1, "is_a"), (4, 4, "is_a"),
         (5, 1, "is_a")],
        "src long, dst long, rel string",
    )
    want = {(d, a) for d in (1, 2, 3, 5) for a in (1, 2, 3) if d != a}
    small = G.transitive_closure_auto(cyclic)
    big = G.transitive_closure_auto(cyclic, driver_side_max_edges=0)
    assert {(r.descendant, r.ancestor) for r in small.collect()} == want
    assert {(r.descendant, r.ancestor) for r in big.collect()} == want

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 10), (40, 40), (50, 30)], "a long, b long"
    )
    cc_small = G.connected_components_auto(pairs)
    cc_big = G.connected_components_auto(pairs, driver_side_max_edges=0)
    assert {tuple(r) for r in cc_small.collect()} == {
        tuple(r) for r in cc_big.collect()
    } == {(10, 10), (20, 10), (30, 10), (50, 10), (40, 40)}


def test_anatomical_filter(spark):
    """P5 (cello/cello.py:707-733): drop a term and ALL its subterms
    via the multi-relation closure (is_a + part_of + located_in)."""
    edges = spark.createDataFrame(
        [
            ("hand", "arm", "part_of"),
            ("finger", "hand", "part_of"),
            ("thumb", "finger", "is_a"),
            ("leg", "body", "part_of"),
            ("arm", "body", "part_of"),
        ],
        "src string, dst string, rel string",
    )
    closure = G.transitive_closure(edges, rels=("is_a", "part_of", "located_in"))
    scored = spark.createDataFrame(
        [("d1", l, 0.9) for l in ["arm", "hand", "finger", "thumb", "leg", "body"]],
        "doc_id string, label string, prob double",
    )
    kept = {
        r.label
        for r in G.anatomical_filter(scored, closure, ["arm"]).collect()
    }
    # arm AND its subterms (hand, finger, thumb — across mixed rels) drop
    assert kept == {"leg", "body"}
    # filtering on a term absent from the closure drops only itself
    kept2 = {
        r.label
        for r in G.anatomical_filter(scored, closure, ["leg"]).collect()
    }
    assert kept2 == {"arm", "hand", "finger", "thumb", "body"}


@settings(max_examples=8, deadline=None)
@given(_random_dag_strategy(), st.sets(st.integers(0, 9), min_size=1, max_size=5))
def test_spanning_subgraph_matches_reference_bfs(spark, raw, span_ids):
    """G8 vs a faithful python translation of the reference's BFS
    (graph.py:315-341: queue seeded with most_general(span), edge kept
    iff the target's descendants-with-self hit the span set)."""
    child_parent = sorted({(f"n{c}", f"n{p}") for c, p in raw})
    span = {f"n{i}" for i in span_ids}

    # --- reference-faithful oracle (parent -> child orientation) ----
    kids: dict[str, set[str]] = {}
    for c, p in child_parent:
        kids.setdefault(p, set()).add(c)

    def down_with_self(n):
        seen, q = {n}, [n]
        while q:
            x = q.pop()
            for y in kids.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    q.append(y)
        return seen

    roots = oracle.most_general_nodes(child_parent, span)
    q = list(roots)
    want: set[tuple[str, str]] = set()
    visited = set(roots)
    while q:
        s = q.pop(0)
        for t in sorted(kids.get(s, ())):
            if down_with_self(t) & span:
                want.add((s, t))
                if t not in visited:
                    visited.add(t)
                    q.append(t)

    # --- engine ------------------------------------------------------
    closure = G.transitive_closure(edges_df(spark, child_parent))
    parent_child = spark.createDataFrame(
        [(p, c) for c, p in child_parent], "src string, dst string"
    )
    span_df = spark.createDataFrame([(n,) for n in sorted(span)], "node string")
    got = {
        (r.src, r.dst)
        for r in G.spanning_subgraph(parent_child, closure, span_df).collect()
    }
    assert got == want


def test_closure_raises_on_max_iter_exhaustion(spark):
    """A chain deeper than max_iter must raise, not silently return a
    truncated closure."""
    chain = [(f"n{i}", f"n{i+1}", "is_a") for i in range(12)]
    edges = spark.createDataFrame(chain, "src string, dst string, rel string")
    with pytest.raises(RuntimeError, match="fixpoint not reached"):
        G.transitive_closure(edges, max_iter=2)
    # and with enough iterations the same chain closes fully
    full = G.transitive_closure(edges, max_iter=16)
    assert full.count() == 12 * 13 // 2


def test_topo_layers_raises_on_cycle(spark):
    """Cyclic input raises like the numpy oracle, instead of silently
    dropping the cycle's nodes from the layering."""
    edges = spark.createDataFrame(
        [("a", "b", "is_a"), ("b", "c", "is_a"), ("c", "a", "is_a")],
        "src string, dst string, rel string",
    )
    with pytest.raises(ValueError, match="cycle detected"):
        G.topological_layers(edges.select("src", "dst"))
