"""Expected outputs, computed in plain Python from the program's
`cello_spark.oracle` primitives and from the dedup definitions. Each
check returns a list of mismatch descriptions; empty means correct."""

from __future__ import annotations

import pandas as pd

from cello_spark import oracle

# ASCII punctuation the mention tokenizer folds to spaces (all but
# ( ) + -); kept literal here so the oracle does not share the engine's
# normalization code
_FOLD = str.maketrans({c: " " for c in "\t\n\r!\"#$%&'*,./:;<=>?@[\\]^_`{|}~"})


def _normalize(s: str) -> str:
    return " ".join(s.lower().translate(_FOLD).split())


def canonical_rewrite(onto, prefixes: tuple[str, ...]) -> dict[str, str]:
    """term -> canonical term for the terms that canonicalization moves:
    connected components over term <-> normalized alias / xref, the
    canonical id being the least member in `prefixes` (else the least
    member). Only prefix-owned non-identity entries are returned, the
    slice a triple rewrite can apply."""
    live = onto.terms[~onto.terms.is_obsolete.astype(bool)]
    pairs = []
    for t in live.itertuples(index=False):
        if t.name:
            pairs.append((t.term_id, _normalize(t.name)))
        for syn in t.synonyms:
            if syn["syn_str"]:
                pairs.append((t.term_id, _normalize(syn["syn_str"])))
        for x in t.xrefs:
            pairs.append((t.term_id, x))
    members: dict[str, list[str]] = {}
    for node, c in oracle.connected_components(pairs).items():
        members.setdefault(c, []).append(node)
    out = {}
    for nodes in members.values():
        terms = sorted(n for n in nodes if n.startswith(prefixes))
        canonical = terms[0] if terms else min(nodes)
        for n in nodes:
            if n != canonical and n.startswith(prefixes):
                out[n] = canonical
    return out


# reconciled probabilities closer than this to a threshold, or to the
# runner-up most-specific label, are float near-ties: the engine's and
# the oracle's Dykstra projections may break them differently
NEAR_TIE = 1e-6


def near_tie_docs(rec, bins, thresholds, label_edges, qualifiers) -> set[str]:
    """Docs whose labels the oracle decides by a float near-tie."""
    thr = dict(zip(thresholds.label, thresholds.threshold))
    probs = rec.pivot(index="doc_id", columns="label", values="prob")
    pos = bins.pivot(index="doc_id", columns="label", values="bin")
    out = set()
    for d in probs.index:
        row = probs.loc[d]
        if any(abs(row[lab] - thr[lab]) < NEAR_TIE for lab in row.index):
            out.add(d)
            continue
        cand = {lab for lab in row.index if pos.loc[d, lab] == 1} - set(qualifiers)
        top = sorted(
            (row[lab] for lab in oracle.most_specific_nodes(label_edges, cand)),
            reverse=True,
        ) if cand else []
        if len(top) > 1 and top[0] - top[1] < NEAR_TIE:
            out.add(d)
    return out


def kg_triples(
    onto,
    feats: pd.DataFrame,
    weights: pd.DataFrame,
    thresholds: pd.DataFrame,
    typed_docs: set[str],
    prefixes: tuple[str, ...],
    qualifiers: set[str] = frozenset(),
) -> tuple[pd.DataFrame, set[str]]:
    """Golden triples: the ontology layer plus (doc, rdf:type, label)
    for the docs in `feats` that pass the mention gate (`typed_docs`),
    canonically rewritten; and the docs left out of the comparison
    because their labels hinge on a float near-tie."""
    label_set = set(onto.labels)
    all_edges = pd.concat([onto.edges, onto.patch_edges])
    label_edges = [
        (c, p)
        for c, p, r in all_edges[["src", "dst", "rel"]].itertuples(index=False)
        if r == "is_a" and c in label_set and p in label_set
    ]
    probs = oracle.score_probs(feats, weights)
    rec = oracle.reconcile_all(probs, label_edges)
    bins = oracle.binarize(rec, thresholds, label_edges)
    ms, fb = oracle.select_one_most_specific(
        rec, bins, thresholds, label_edges, qualifier_terms=set(qualifiers)
    )
    ties = near_tie_docs(rec, bins, thresholds, label_edges, qualifiers)
    live = set(onto.terms[~onto.terms.is_obsolete.astype(bool)].term_id)
    edges = onto.edges[onto.edges.src.isin(live) & onto.edges.dst.isin(live)]
    patched = pd.concat([edges, onto.patch_edges]).drop_duplicates()
    want = oracle.emit_triples(patched, ms, fb)
    is_doc = want.subj.isin(set(feats.doc_id))
    want = want[~is_doc | (want.subj.isin(typed_docs) & ~want.subj.isin(ties))]
    rw = canonical_rewrite(onto, prefixes)
    want = want.assign(
        subj=want.subj.map(lambda s: rw.get(s, s)),
        obj=want.obj.map(lambda s: rw.get(s, s)),
    ).drop_duplicates()
    return want, ties


def check_triples(got: pd.DataFrame, want: pd.DataFrame, doc_ids: set[str]) -> list[str]:
    """P = R = 1.0 on the ontology layer plus the typing triples of
    `doc_ids` (the checked docs)."""
    doc_rows = got.subj.str.startswith("doc_")
    got = got[~doc_rows | got.subj.isin(doc_ids)]
    p, r = oracle.precision_recall(got, want)
    if p == 1.0 and r == 1.0:
        return []
    return [f"triples P={p:.6f} R={r:.6f} on {len(doc_ids)} docs"]


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def shingle_sets(texts: dict[int, str], n: int = 3) -> dict[int, frozenset]:
    """Distinct word n-grams per doc, tokenized as functions.text.tokens
    does (lowercase; tab/newline/CR are spaces; split on single spaces,
    empties dropped); a doc shorter than n yields its whole token run."""
    out = {}
    for doc_id, text in texts.items():
        toks = [t for t in text.lower().translate(str.maketrans("\t\n\r", "   ")).split(" ") if t]
        if len(toks) >= n:
            out[doc_id] = frozenset(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
        else:
            out[doc_id] = frozenset([" ".join(toks)] if toks else [])
    return out


def capped(sets: dict[int, frozenset], max_df: int | None) -> dict[int, frozenset]:
    """Drop shingles present in more than max_df docs."""
    if max_df is None:
        return sets
    df: dict[str, int] = {}
    for s in sets.values():
        for sh in s:
            df[sh] = df.get(sh, 0) + 1
    drop = {sh for sh, c in df.items() if c > max_df}
    return {d: s - drop for d, s in sets.items()} if drop else sets


def jaccard(a: frozenset, b: frozenset) -> float:
    common = len(a & b)
    return common / (len(a) + len(b) - common) if (a or b) else 0.0


def pairs_touching(
    sets: dict[int, frozenset],
    subset: set[int],
    threshold: float,
    pair_ok=lambda a, b: a < b,
) -> dict[tuple[int, int], float]:
    """Every pair (a, b) accepted by `pair_ok`, with one side in `subset`
    and Jaccard >= threshold, found through an inverted index."""
    index: dict[str, list[int]] = {}
    for d, s in sets.items():
        for sh in s:
            index.setdefault(sh, []).append(d)
    out = {}
    for x in subset:
        cands = {d for sh in sets[x] for d in index[sh] if d != x}
        for y in cands:
            for a, b in ((x, y), (y, x)):
                if pair_ok(a, b):
                    j = jaccard(sets[a], sets[b])
                    if j >= threshold:
                        out[(a, b)] = j
    return out


def check_pairs(
    name: str, got: list[tuple[int, int, float]], want: dict, subset: set[int]
) -> list[str]:
    """Exact equality of the pairs touching `subset`, Jaccard to 1e-9."""
    got_sub = {(a, b): j for a, b, j in got if a in subset or b in subset}
    errs = []
    if set(got_sub) != set(want):
        errs.append(
            f"{name}: {len(set(got_sub) - set(want))} extra / "
            f"{len(set(want) - set(got_sub))} missing pairs on the subset"
        )
    bad = [k for k in set(got_sub) & set(want) if abs(got_sub[k] - want[k]) > 1e-9]
    if bad:
        errs.append(f"{name}: {len(bad)} pairs with a wrong jaccard")
    return errs


def check_subset_of_exact(
    name: str, got: list[tuple[int, int, float]], sets: dict[int, frozenset], threshold: float
) -> list[str]:
    """Every reported pair is a true pair (a < b, exact Jaccard >=
    threshold) and carries its exact Jaccard."""
    bad = [
        (a, b) for a, b, j in got
        if not (a < b and abs(jaccard(sets[a], sets[b]) - j) <= 1e-9 and j >= threshold)
    ]
    return [f"{name}: {len(bad)} of {len(got)} pairs are not exact pairs"] if bad else []
