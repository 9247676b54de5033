"""Deterministic synthetic fixtures (seed=42) for the KG pipeline.

Shapes mirror the reference's data structures (see FIXTURES.md):

- ``ontology_terms``  — Term records: id, name, definition, synonyms
  (array<struct<syn_str, syn_type>>), xrefs, is_obsolete.  Mirrors the
  reference Term object (cello/onto_lib_py3/ontology_graph.py:43-78).
- ``ontology_edges``  — (src=child, dst=parent, rel) normalized
  relationships; rel in {is_a, part_of, located_in}
  (ontology_graph.py:381-384 documents the same relation vocabulary).
- ``patch_edges``     — extra edges merged at ingest, replaying the
  shape of the reference's hardcoded ontology patch
  (cello/the_ontology.py:9-148).
- ``documents``       — interleaved text+media docs per BASELINE.json
  input_hint: (doc_id, spans: array<struct<kind,text,media_ref,offset>>).
- ``doc_features``    — (doc_id, features: array<float>) dense vectors,
  the expression-matrix analog (cello/load_training_data.py:61-68).
- ``model_weights``   — per-label logistic coefficients, the analog of
  label_to_classifier (models/ensemble_binary_classifiers.py:101-142),
  including trivial labels scored constant 1.0 (:122-128).
- ``thresholds``      — per-label decision table with BOTH `threshold`
  and `empirical_threshold` columns, as consumed by the reference at
  cello/cello.py:754-758 and :826-835.
- ``alias_pairs``     — (alias, canonical) ground truth for the
  canonicalization connected-components check.

Everything is a plain pandas DataFrame (converted to Spark by callers)
and is a pure function of (seed, n_docs) — byte-stable across runs and
parallelism levels.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

SEED = 42
N_FEATURES = 64

# ---------------------------------------------------------------------------
# Ontology: a ~60-term DAG with a hub root, diamonds, synonyms, xrefs,
# obsolete terms.  Shaped like the reference's toy test ontology
# (new_cello/tests/test_ontology.py:47-99) but fully synthetic.
# ---------------------------------------------------------------------------

# (term_id_suffix, name, parents(list of suffixes), rel)
_CORE_TERMS: list[tuple[int, str, list[tuple[int, str]]]] = [
    (0, "cell", []),
    (1, "primary cell", [(0, "is_a")]),
    (2, "animal cell", [(0, "is_a")]),
    (3, "eukaryotic cell", [(0, "is_a")]),
    (10, "blood cell", [(1, "is_a"), (2, "is_a")]),
    (11, "immune cell", [(2, "is_a")]),
    # diamond: leukocyte under both blood cell and immune cell
    (12, "leukocyte", [(10, "is_a"), (11, "is_a")]),
    (13, "erythrocyte", [(10, "is_a")]),
    (20, "lymphocyte", [(12, "is_a")]),
    (21, "myeloid cell", [(12, "is_a")]),
    (30, "T cell", [(20, "is_a")]),
    (31, "B cell", [(20, "is_a")]),
    (32, "natural killer cell", [(20, "is_a")]),
    (33, "monocyte", [(21, "is_a")]),
    (34, "macrophage", [(21, "is_a")]),
    (35, "dendritic cell", [(21, "is_a"), (20, "is_a")]),  # diamond
    (40, "CD4-positive T cell", [(30, "is_a")]),
    (41, "CD8-positive T cell", [(30, "is_a")]),
    (42, "regulatory T cell", [(40, "is_a")]),
    (43, "memory B cell", [(31, "is_a")]),
    (44, "plasma cell", [(31, "is_a")]),
    (45, "classical monocyte", [(33, "is_a")]),
    (46, "non-classical monocyte", [(33, "is_a")]),
    # part_of / located_in flavor edges
    (50, "blood", []),
    (51, "bone marrow", []),
]

_PART_OF_EDGES = [
    (10, 50, "part_of"),  # blood cell part_of blood
    (13, 50, "located_in"),
    (44, 51, "located_in"),
]

# patch edges replay the reference's ontology-patch idea: extra is_a /
# part_of links merged at ingest time (the_ontology.py:9-148 shape).
_PATCH_EDGES = [
    (60, 10, "is_a"),  # PBMC-analog -> blood cell
    (60, 11, "is_a"),
    (61, 20, "is_a"),
    (62, 33, "is_a"),
]
_PATCH_TERMS = [
    (60, "peripheral blood mononuclear cell"),
    (61, "innate lymphoid cell"),
    (62, "intermediate monocyte"),
]

# qualifier-analog terms: excluded from most-specific selection then
# re-added with ancestors (reference QUALIFIER_TERMS, cello/cello.py:78-85)
QUALIFIER_SUFFIXES = [3]  # "eukaryotic cell"


def term_id(suffix: int) -> str:
    return f"CS:{suffix:07d}"


@dataclass
class Ontology:
    """Driver-side ontology bundle (terms + edges, all tiny)."""

    terms: pd.DataFrame  # term_id, name, definition, synonyms, xrefs, is_obsolete
    edges: pd.DataFrame  # src(child), dst(parent), rel
    patch_edges: pd.DataFrame
    labels: list[str] = field(default_factory=list)  # terms with training data


def make_ontology(seed: int = SEED, n_filler: int = 30) -> Ontology:
    """Build the ~60-term toy DAG. Filler leaf terms hang off random
    core parents to pad the graph; a few are obsolete."""
    rng = np.random.default_rng(seed)
    core_ids = [s for s, _, _ in _CORE_TERMS]

    rows = []
    edge_rows = []
    for suffix, name, parents in _CORE_TERMS:
        rows.append((suffix, name, False))
        for p, rel in parents:
            edge_rows.append((term_id(suffix), term_id(p), rel))
    for src, dst, rel in _PART_OF_EDGES:
        edge_rows.append((term_id(src), term_id(dst), rel))

    # filler leaves: CS:01000xx, attached to a random core parent
    attachable = [s for s in core_ids if s < 50]
    for i in range(n_filler):
        suffix = 100 + i
        parent = int(rng.choice(attachable))
        obsolete = bool(i % 11 == 10)
        rows.append((suffix, f"synthetic cell type {i}", obsolete))
        edge_rows.append((term_id(suffix), term_id(parent), "is_a"))

    for suffix, name in _PATCH_TERMS:
        rows.append((suffix, name, False))

    term_rows = []
    for suffix, name, obsolete in rows:
        tid = term_id(suffix)
        synonyms = [
            {"syn_str": f"{name} (syn)", "syn_type": "EXACT"},
            {"syn_str": name.upper(), "syn_type": "BROAD"},
        ]
        if suffix % 3 == 0:
            synonyms.append(
                {"syn_str": f"enriched {name}", "syn_type": "ENRICHED"}
            )
        xrefs = [f"XR:{suffix:05d}", f"ALT:{suffix:05d}"] if suffix % 2 == 0 else []
        term_rows.append(
            {
                "term_id": tid,
                "name": name,
                "definition": f"Definition of {name}.",
                "synonyms": synonyms,
                "xrefs": xrefs,
                "is_obsolete": obsolete,
            }
        )

    terms = pd.DataFrame(term_rows)
    edges = pd.DataFrame(edge_rows, columns=["src", "dst", "rel"]).drop_duplicates()
    patch = pd.DataFrame(
        [(term_id(s), term_id(d), r) for s, d, r in _PATCH_EDGES],
        columns=["src", "dst", "rel"],
    )
    # labels (terms with training data): every non-obsolete core cell
    # term — ancestor-closed by construction since we include internals.
    labels = sorted(
        term_id(s)
        for s, _, _ in _CORE_TERMS
        if s < 50  # exclude anatomy terms
    )
    return Ontology(terms=terms, edges=edges, patch_edges=patch, labels=labels)


# ---------------------------------------------------------------------------
# Closure helpers (driver side, numpy/pure python — the ontology is tiny;
# the scale burden lives in the document stages, per SURVEY §7.4).
# ---------------------------------------------------------------------------


def closure_from_edges(edges: pd.DataFrame, rels: tuple[str, ...] = ("is_a",)) -> set[tuple[str, str]]:
    """All (descendant, ancestor) pairs reachable via the given relation
    types, excluding self-pairs. Pure-python BFS oracle."""
    parents: dict[str, set[str]] = {}
    for src, dst, rel in edges[["src", "dst", "rel"]].itertuples(index=False):
        if rel in rels:
            parents.setdefault(src, set()).add(dst)
    out: set[tuple[str, str]] = set()
    for node in list(parents):
        frontier = set(parents.get(node, ()))
        seen: set[str] = set()
        while frontier:
            seen |= frontier
            nxt = set()
            for f in frontier:
                nxt |= parents.get(f, set())
            frontier = nxt - seen
        out |= {(node, a) for a in seen}
    return out


# ---------------------------------------------------------------------------
# Documents + features + weights + thresholds
# ---------------------------------------------------------------------------

_NOISE_WORDS = (
    "the a of in with sample observed measured assay profile cluster "
    "expression marker gene protein tissue donor patient control "
    "experiment study figure result analysis batch replicate"
).split()


def _prototypes(labels: list[str], seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed + 1)
    return {
        lab: rng.standard_normal(N_FEATURES).astype(np.float64) / np.sqrt(N_FEATURES)
        for lab in sorted(labels)
    }


def _label_ancestors(
    anc: set[tuple[str, str]], labels: set[str]
) -> dict[str, list[str]]:
    """Each label's ancestors among `labels`, sorted, from the
    (descendant, ancestor) closure pairs `anc` in one pass."""
    out: dict[str, set[str]] = {lab: set() for lab in labels}
    for d, a in anc:
        if d in labels and a in labels:
            out[d].add(a)
    return {lab: sorted(a) for lab, a in out.items()}


def make_documents(
    onto: Ontology,
    n_docs: int = 200,
    seed: int = SEED,
    id_offset: int = 0,
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Returns (documents, doc_features, doc_truth).

    documents: doc_id, spans[{kind,text,media_ref,offset}] — text spans
    embed ontology mention strings (names/synonyms) with noise words;
    media spans have empty text and a media_ref; offsets strictly
    increasing.

    doc_features: doc_id, features (len N_FEATURES) — prototype of the
    doc's true label blended with its ancestors plus seeded noise.

    doc_truth: doc_id, true_label — held out, used only for P/R context.
    """
    rng = np.random.default_rng(seed + 2)
    name_by_id = dict(zip(onto.terms.term_id, onto.terms.name))
    # leaf labels = labels that are not a parent of another label
    anc = closure_from_edges(pd.concat([onto.edges, onto.patch_edges]))
    label_set = set(onto.labels)
    ancestors_of = _label_ancestors(anc, label_set)
    internal = set().union(*ancestors_of.values())
    leaves = sorted(label_set - internal)
    protos = _prototypes(onto.labels, seed)

    doc_rows, feat_rows, truth_rows = [], [], []
    for i in range(id_offset, id_offset + n_docs):
        doc_id = f"doc_{i:08d}"
        true_label = leaves[int(rng.integers(len(leaves)))]
        lineage = [true_label] + ancestors_of[true_label]
        n_spans = int(rng.integers(3, 9))
        spans = []
        offset = 0
        for s in range(n_spans):
            kind_draw = rng.random()
            # first span is always text so every doc carries >=1 mention
            # (keeps the mention-gated linking stage aligned with the
            # all-docs oracle)
            if s == 0 or kind_draw < 0.6:
                # text span embedding 1-2 mentions
                words = list(rng.choice(_NOISE_WORDS, size=int(rng.integers(3, 8))))
                n_mentions = int(rng.integers(1, 3))
                for _ in range(n_mentions):
                    m_term = lineage[int(rng.integers(len(lineage)))]
                    name = name_by_id[m_term]
                    # half the time use a synonym form
                    if rng.random() < 0.5:
                        name = f"{name} (syn)"
                    pos = int(rng.integers(0, len(words) + 1))
                    words.insert(pos, name)
                text = " ".join(words)
                spans.append(
                    {"kind": "text", "text": text, "media_ref": "", "offset": offset}
                )
                offset += len(text) + 1
            elif kind_draw < 0.85:
                spans.append(
                    {
                        "kind": "image",
                        "text": "",
                        "media_ref": f"media://img/{doc_id}/{s}",
                        "offset": offset,
                    }
                )
                offset += 1
            else:
                spans.append(
                    {
                        "kind": "table",
                        "text": "",
                        "media_ref": f"media://tbl/{doc_id}/{s}",
                        "offset": offset,
                    }
                )
                offset += 1
        doc_rows.append({"doc_id": doc_id, "spans": spans})

        x = np.zeros(N_FEATURES)
        for t in lineage:
            x += protos[t]
        x += 0.05 * rng.standard_normal(N_FEATURES)
        feat_rows.append({"doc_id": doc_id, "features": x.tolist()})
        truth_rows.append({"doc_id": doc_id, "true_label": true_label})

    return (
        pd.DataFrame(doc_rows),
        pd.DataFrame(feat_rows),
        pd.DataFrame(truth_rows),
    )


def make_model_weights(onto: Ontology, seed: int = SEED) -> pd.DataFrame:
    """Per-label logistic weights aligned with the doc-feature generator:
    w_l = alpha * prototype_l, b_l tuned so docs whose lineage contains l
    score > 0.5. Two labels are 'trivial' (constant 1.0), mirroring the
    reference's no-negative-examples labels."""
    protos = _prototypes(onto.labels, seed)
    rows = []
    for j, lab in enumerate(sorted(onto.labels)):
        p = protos[lab]
        alpha = 6.0
        w = alpha * p / (np.linalg.norm(p) ** 2 + 1e-12)
        b = -alpha * 0.45
        trivial = j in (0,)  # root label trivially 1.0
        rows.append(
            {
                "label": lab,
                "coef": w.tolist(),
                "intercept": float(b),
                "is_trivial": bool(trivial),
            }
        )
    return pd.DataFrame(rows)


def make_thresholds(onto: Ontology, seed: int = SEED) -> pd.DataFrame:
    rng = np.random.default_rng(seed + 3)
    rows = []
    for lab in sorted(onto.labels):
        rows.append(
            {
                "label": lab,
                "threshold": float(0.45 + 0.1 * rng.random()),
                "empirical_threshold": float(0.4 + 0.1 * rng.random()),
                "f1_score": float(0.7 + 0.3 * rng.random()),
                "precision": float(0.6 + 0.4 * rng.random()),
            }
        )
    return pd.DataFrame(rows)


def make_alias_pairs(onto: Ontology) -> pd.DataFrame:
    """(alias, canonical) pairs from synonyms + xrefs — the held-out
    ground truth for the canonicalization connected-components pass."""
    rows = []
    for t in onto.terms.itertuples(index=False):
        for syn in t.synonyms:
            rows.append({"alias": syn["syn_str"], "canonical": t.term_id})
        for x in t.xrefs:
            rows.append({"alias": x, "canonical": t.term_id})
        rows.append({"alias": t.name, "canonical": t.term_id})
    return pd.DataFrame(rows)


def synthetic_obo_text(
    id_space: str = "ZZ",
    n_terms: int = 120,
    seed: int = SEED,
    xref_targets: list[str] | None = None,
    overrides: list[dict] | None = None,
) -> str:
    """Deterministic synthetic OBO file in a fresh id space — an extra
    ontology project for multi-OBO merges (the reference's
    config-17-style loads merge four projects, reference
    onto_lib_py3/load_ontology.py), e.g. the ZZ space beside the
    CL-scale OBO in tests/test_pipeline.py. The
    generated DAG is a seeded tree with synonyms on every third term
    and an obsolete term every 17th.

    `xref_targets` distributes cross-space xrefs (e.g. CL ids) over
    the first live terms round-robin — the input that makes the
    canonicalization connected-components pass merge identities
    ACROSS ontology projects. `overrides` appends [Term] stanzas
    re-defining ids owned by EARLIER files in the merge list
    (dicts: term_id, name, is_a list) — the later-file-wins
    precedence probe; ontology_from_obos must keep THESE definitions
    and drop the superseded files' edges for those ids."""
    import numpy as np  # local: keep module import surface unchanged

    rng = np.random.default_rng(seed + 7)
    tid = lambda i: f"{id_space}:{i:07d}"  # noqa: E731
    lines = ["format-version: 1.2", ""]
    for i in range(n_terms):
        lines.append("[Term]")
        lines.append(f"id: {tid(i)}")
        lines.append(f"name: {id_space.lower()} concept {i}")
        if i > 0:
            parent = int(rng.integers(0, i))
            lines.append(f"is_a: {tid(parent)}")
            if i % 5 == 0 and i > 5:
                other = int(rng.integers(0, i))
                if other != parent:
                    lines.append(f"relationship: part_of {tid(other)}")
        if i % 3 == 0:
            lines.append(
                f'synonym: "{id_space.lower()} alias {i}" EXACT []'
            )
        if i % 17 == 13:
            lines.append("is_obsolete: true")
        lines.append("")
    if xref_targets:
        # rewrite pass: attach xrefs to the first live terms (skip the
        # root so the hub term stays unmerged)
        out, ti, xi = [], -1, 0
        for ln in lines:
            out.append(ln)
            if ln.startswith("name: ") and xi < len(xref_targets):
                ti += 1
                if ti >= 1 and (ti % 17) != 13:
                    out.append(f"xref: {xref_targets[xi]}")
                    xi += 1
        lines = out
    for ov in overrides or []:
        lines.append("[Term]")
        lines.append(f"id: {ov['term_id']}")
        lines.append(f"name: {ov['name']}")
        for p in ov.get("is_a", []):
            lines.append(f"is_a: {p}")
        lines.append("")
    return "\n".join(lines)
