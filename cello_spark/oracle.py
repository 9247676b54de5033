"""Pure numpy/pandas oracle reproducing the reference semantics.

This module is the frozen ground truth: the Spark engine's outputs are
compared against it in tests (triple P/R >= 0.95 gate). Each function
cites the reference behavior it re-implements (file:line into
/root/reference — behavior only, no code copied; the reference is
plain Python over numpy/pandas, this is an independent write).

No Spark imports here — the oracle must be runnable standalone.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from cello_spark.functions.hierarchy import (
    dykstra_matrix,
    label_edge_index,
    score_matrix,
)

# ---------------------------------------------------------------------------
# Graph oracles (reference: cello/graph_lib/graph.py)
# ---------------------------------------------------------------------------


def descendants(edges: list[tuple[str, str]], node: str) -> set[str]:
    """BFS over parent->child direction. Reference: graph.py:85-92
    (`descendent_nodes` walks source_to_targets where source=parent).
    `edges` here are (child, parent) pairs; we invert."""
    return _bfs(_parent_map([(p, c) for c, p in edges]), node)


def _parent_map(edges: list[tuple[str, str]]) -> dict[str, set[str]]:
    parents: dict[str, set[str]] = {}
    for c, p in edges:
        parents.setdefault(c, set()).add(p)
    return parents


def _bfs(parents: dict[str, set[str]], node: str) -> set[str]:
    out: set[str] = set()
    frontier = set(parents.get(node, ()))
    while frontier:
        out |= frontier
        frontier = {g for f in frontier for g in parents.get(f, ())} - out
    return out


def ancestors(edges: list[tuple[str, str]], node: str) -> set[str]:
    """BFS over child->parent. Reference: graph.py:95-102."""
    return _bfs(_parent_map(edges), node)


def closure_pairs(edges: list[tuple[str, str]]) -> set[tuple[str, str]]:
    """All (descendant, ancestor) pairs; a node pairs with itself only
    on a cycle. The child->parent map is built once, not once per node
    as a loop over `ancestors` would."""
    parents = _parent_map(edges)
    nodes = {n for e in edges for n in e}
    return {(n, a) for n in nodes for a in _bfs(parents, n)}


def most_specific_nodes(edges: list[tuple[str, str]], nodes: set[str]) -> set[str]:
    """Of a node set S keep members that are not a (strict) ancestor of
    any other member. Reference: graph.py:105-135 — keeps leaves of the
    more-general-than relation restricted to S, PLUS loners (nodes with
    no relation to any other member); under the anti-join formulation
    ('drop a if some other member has a as ancestor') loners survive
    automatically — equivalence verified by property tests."""
    drop = set()
    for a in nodes:
        for b in nodes:
            if a != b and a in ancestors(edges, b):
                drop.add(a)
    return nodes - drop


def most_general_nodes(edges: list[tuple[str, str]], nodes: set[str]) -> set[str]:
    """Dual of most_specific_nodes. Reference: graph.py:138-168."""
    drop = set()
    for a in nodes:
        for b in nodes:
            if a != b and a in descendants(edges, b):
                drop.add(a)
    return nodes - drop


def topological_layers(edges: list[tuple[str, str]]) -> list[list[str]]:
    """Kahn layering over parent->child with sorted() within each layer
    (deterministic tie-break). Reference: graph.py:270-293."""
    nodes = {n for e in edges for n in e}
    parents: dict[str, set[str]] = {n: set() for n in nodes}
    for c, p in edges:
        parents[c].add(p)
    layers: list[list[str]] = []
    remaining = set(nodes)
    while remaining:
        layer = sorted(n for n in remaining if not (parents[n] & remaining))
        if not layer:  # cycle guard — reference assumes DAG
            raise ValueError("cycle detected")
        layers.append(layer)
        remaining -= set(layer)
    return layers


def transitive_reduction(edges: list[tuple[str, str]]) -> set[tuple[str, str]]:
    """Remove (child, parent) edge if parent is reachable from child via
    some other parent. Reference: graph.py:242-267."""
    eset = set(edges)
    out = set()
    for c, p in eset:
        indirect = False
        for c2, p2 in eset:
            if c2 == c and p2 != p and p in ancestors(list(eset), p2) :
                indirect = True
                break
        if not indirect:
            out.add((c, p))
    return out


def connected_components(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Undirected connected components; canonical id = min member
    (lexicographic). Oracle for the canonicalization pass."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


# ---------------------------------------------------------------------------
# Scoring / reconciliation / decision oracles
# ---------------------------------------------------------------------------


def score_probs(
    features: pd.DataFrame,  # doc_id, features(list)
    weights: pd.DataFrame,  # label, coef(list), intercept, is_trivial
) -> pd.DataFrame:
    """sigmoid(X W^T + b) for all labels at once; trivial labels are a
    constant 1.0 column. Re-expresses the reference's per-label
    predict_proba loop (ensemble_binary_classifiers.py:161-188, trivial
    at :122-128,:180-182) as one matmul. Long output
    (doc_id, label, prob)."""
    w = weights.sort_values("label").reset_index(drop=True)
    labels = w.label.tolist()
    W = np.stack([np.asarray(c, dtype=np.float64) for c in w.coef])
    b = w.intercept.to_numpy(dtype=np.float64)
    trivial = w.is_trivial.to_numpy(dtype=bool)

    X = np.stack([np.asarray(f, dtype=np.float64) for f in features.features])
    P = score_matrix(X, W, b, trivial)
    out = pd.DataFrame(
        {
            "doc_id": np.repeat(features.doc_id.to_numpy(), len(labels)),
            "label": np.tile(np.asarray(labels, dtype=object), len(features)),
            "prob": P.reshape(-1),
        }
    )
    return out


def reconcile_all(
    probs_long: pd.DataFrame,  # doc_id, label, prob
    label_edges: list[tuple[str, str]],  # (child, parent) among labels
) -> pd.DataFrame:
    """Hierarchy-consistent reconciliation: per-sample Euclidean
    projection onto {x[parent] >= x[child]} — the QP the reference
    solves row-at-a-time with quadprog
    (isotonic_regression.py:97-135). Delegates to the shared
    deterministic Dykstra solver (functions/hierarchy.py)."""
    labels = sorted(probs_long.label.unique())
    edge_idx = label_edge_index(labels, label_edges)
    wide = probs_long.pivot(index="doc_id", columns="label", values="prob")
    wide = wide.reindex(columns=labels)
    out = dykstra_matrix(wide.to_numpy(dtype=np.float64), edge_idx)
    res = pd.DataFrame(out, index=wide.index, columns=labels).reset_index()
    return res.melt(id_vars="doc_id", var_name="label", value_name="prob")


def binarize(
    probs_long: pd.DataFrame,  # doc_id, label, prob (reconciled)
    thresholds: pd.DataFrame,  # label, threshold
    label_edges: list[tuple[str, str]],  # (child, parent)
) -> pd.DataFrame:
    """Reference `_binarize_probabilities` (cello/cello.py:736-797):
    bin = int(prob > threshold) with STRICT > (:779), then every label
    below threshold forces all its DESCENDANTS to 0 (:787-794).
    Closed form: bin(s,l) = min over a in ancestors(l) ∪ {l} of
    int(prob(s,a) > thr(a))."""
    thr = dict(zip(thresholds.label, thresholds.threshold))
    anc_cache: dict[str, list[str]] = {}
    labels = sorted(probs_long.label.unique())
    for l in labels:
        anc_cache[l] = sorted(
            (ancestors(label_edges, l) & set(labels)) | {l}
        )
    wide = probs_long.pivot(index="doc_id", columns="label", values="prob")
    rows = []
    for doc_id, row in wide.iterrows():
        for l in labels:
            b = 1
            for a in anc_cache[l]:
                if not (row[a] > thr[a]):
                    b = 0
                    break
            rows.append((doc_id, l, b))
    return pd.DataFrame(rows, columns=["doc_id", "label", "bin"])


def select_one_most_specific(
    probs_long: pd.DataFrame,
    binary_long: pd.DataFrame,
    thresholds: pd.DataFrame,  # label, precision
    label_edges: list[tuple[str, str]],
    qualifier_terms: set[str] = frozenset(),
    precision_min: float | None = None,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Reference `_select_one_most_specific` (cello/cello.py:800-919):
    optionally drop labels with precision < precision_min (:843-850);
    per sample collect positive labels; most-specific set via
    most_specific_nodes EXCLUDING qualifier terms (:858-891); pick the
    max-probability member — tie-break fixed to (prob desc, label asc)
    since the reference's Python max over a set is order-dependent
    (:865-873); final binary = selected + its ancestors, plus positive
    qualifier terms and their ancestors (:875-891); most_specific=''
    when no positives (:909-915).

    Returns (most_specific_df, final_binary_df)."""
    keep = set(thresholds.label)
    if precision_min is not None:
        keep = set(thresholds[thresholds.precision >= precision_min].label)
    labels = sorted(set(probs_long.label.unique()))
    probs = probs_long.pivot(index="doc_id", columns="label", values="prob")
    bins = binary_long.pivot(index="doc_id", columns="label", values="bin")
    ms_rows, fb_rows = [], []
    anc_cache = {l: ancestors(label_edges, l) for l in labels}
    for doc_id in probs.index:
        pos = {l for l in labels if bins.loc[doc_id, l] == 1 and l in keep}
        cand = pos - qualifier_terms
        ms_set = most_specific_nodes(label_edges, cand) if cand else set()
        if ms_set:
            best = sorted(ms_set, key=lambda l: (-probs.loc[doc_id, l], l))[0]
            final_pos = {best} | (anc_cache[best] & set(labels))
            for q in pos & qualifier_terms:
                final_pos |= {q} | (anc_cache[q] & set(labels))
            ms_rows.append((doc_id, best))
        else:
            final_pos = set()
            ms_rows.append((doc_id, ""))
        for l in labels:
            fb_rows.append((doc_id, l, 1 if l in final_pos else 0))
    ms = pd.DataFrame(ms_rows, columns=["doc_id", "most_specific"])
    fb = pd.DataFrame(fb_rows, columns=["doc_id", "label", "bin"])
    return ms, fb


def emit_triples(
    edges: pd.DataFrame,  # src, dst, rel (ontology, patched)
    most_specific: pd.DataFrame,  # doc_id, most_specific
    final_binary: pd.DataFrame,  # doc_id, label, bin (ancestor-filled)
) -> pd.DataFrame:
    """Golden triple table: (child, is_a/part_of/..., parent) from the
    patched ontology plus (doc, rdf:type, label) for every label set in
    the final (ancestor-filled, qualifier-re-added) binary — the
    reference's final output semantics (cello/cello.py:875-891). Docs
    with no selection emit no typing triples (:909-915)."""
    rows = [
        (r.src, r.rel, r.dst) for r in edges.itertuples(index=False)
    ]
    selected = set(
        most_specific[most_specific.most_specific != ""].doc_id
    )
    pos = final_binary[(final_binary.bin == 1) & final_binary.doc_id.isin(selected)]
    for r in pos.itertuples(index=False):
        rows.append((r.doc_id, "rdf:type", r.label))
    return pd.DataFrame(rows, columns=["subj", "pred", "obj"]).drop_duplicates()


def precision_recall(
    got: pd.DataFrame, want: pd.DataFrame, keys=("subj", "pred", "obj")
) -> tuple[float, float]:
    g = {tuple(r) for r in got[list(keys)].itertuples(index=False)}
    w = {tuple(r) for r in want[list(keys)].itertuples(index=False)}
    if not g or not w:
        return (0.0, 0.0)
    tp = len(g & w)
    return tp / len(g), tp / len(w)


def golden_fixture_triples(onto, world: dict, label_edges) -> pd.DataFrame:
    """Golden triples for the standard deterministic fixture world
    (sources/fixtures.make_documents + make_model_weights +
    make_thresholds): score -> reconcile -> binarize -> one-most-
    specific -> emit. Shared by the pytest P/R gate
    (tests/test_pipeline.py) and the q_kg_triples entry invariant so
    both compare against the SAME frozen oracle (FIXTURES.md F8)."""
    from cello_spark.sources.fixtures import QUALIFIER_SUFFIXES, term_id

    probs = score_probs(world["features"], world["weights"])
    rec = reconcile_all(probs, label_edges)
    bins = binarize(rec, world["thresholds"], label_edges)
    ms, fb = select_one_most_specific(
        rec,
        bins,
        world["thresholds"],
        label_edges,
        qualifier_terms={term_id(s) for s in QUALIFIER_SUFFIXES},
    )
    live = onto.terms[~onto.terms.is_obsolete]
    live_edges = onto.edges[
        onto.edges.src.isin(live.term_id) & onto.edges.dst.isin(live.term_id)
    ]
    patched = pd.concat([live_edges, onto.patch_edges]).drop_duplicates()
    return emit_triples(patched, ms, fb)
