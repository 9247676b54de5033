"""Seeded input generators. Every input of every workload is a pure
function of the seed argument; nothing is read from outside the
checkout. Inputs are written as parquet so each unit of work reads them
the way a production job reads its tables."""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from cello_spark.sources.fixtures import (
    N_FEATURES,
    make_model_weights,
    make_ontology,
    make_thresholds,
)


# a batch input table is this many files, so each scan has at least one
# split per task slot of a 4-core box and no unit pays a repartition
INPUT_FILES = 8


def write_parquet(pdf: pd.DataFrame, path: str, files: int = 1) -> None:
    """One parquet file at `path`, or with files > 1 a directory of that
    many row-contiguous part files."""
    if files == 1:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        return
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(pdf), files + 1).astype(int)
    for i in range(files):
        part = pdf.iloc[bounds[i] : bounds[i + 1]]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


# ---------------------------------------------------------------------------
# fixture world (kg_dense, kg_incremental)
# ---------------------------------------------------------------------------


def fixture_world(seed: int, n_docs: int) -> dict:
    """The fixture ontology (~60 terms) and linking model, the same for
    every seed, with `n_docs` seeded documents that each mention a
    label lineage. (fixtures.make_documents derives the model from the
    document seed too, which moved triples per document by ~15% from
    seed to seed.)"""
    onto = make_ontology()
    weights = make_model_weights(onto)
    docs, feats, _ = kg_documents(onto, weights, seed, n_docs, mention_frac=1.0)
    return {
        "onto": onto,
        "docs": docs,
        "feats": feats,
        "weights": weights,
        "thresholds": make_thresholds(onto),
    }


# ---------------------------------------------------------------------------
# CL-scale OBO (kg_sparse_cl)
# ---------------------------------------------------------------------------

_MODIFIERS = (
    "activated naive memory effector regulatory resident circulating "
    "mature immature ciliated secretory basal apical migratory "
    "proliferating quiescent terminally-differentiated multipotent "
    "cd4-positive cd8-positive cd34-positive cd14-positive "
    "alpha-beta gamma-delta type-i type-ii fetal adult"
).split()
_TISSUES = (
    "lung kidney liver skin retina gut pancreatic cardiac hepatic renal "
    "cortical spinal thymic splenic dermal epidermal intestinal gastric "
    "mammary prostatic ovarian testicular cochlear olfactory placental "
    "vascular lymphatic synovial"
).split()
_BASES = (
    "cell;fibroblast;neuron;lymphocyte;t cell;b cell;macrophage;"
    "monocyte;keratinocyte;hepatocyte;myocyte;astrocyte;epithelial cell;"
    "endothelial cell;stem cell;progenitor cell;precursor cell;"
    "granulocyte;dendritic cell;interneuron;photoreceptor;chondrocyte;"
    "osteoblast;adipocyte;pericyte"
).split(";")
_SYN_TYPES = ("EXACT", "RELATED", "BROAD", "NARROW")
_RELS = (
    ("part_of", 0.45), ("develops_from", 0.40), ("has_part", 0.12),
    ("located_in", 0.10),
)

CL_TERMS = 6_600
CL_LABELS = 500  # as tools/bench_real_obo.py caps them
CL_SHARED_XREFS = 60  # term pairs merged by a shared xref
CL_LABEL_SHARED_XREFS = 12  # of which both terms are labels


def cl_obo_text(seed: int, n_terms: int = CL_TERMS) -> str:
    """A Cell-Ontology-scale OBO file: ~6.6k terms, ~14.7k edges
    (is_a plus part_of/develops_from/has_part/located_in), ~1.2
    synonyms per term, unique per-term xrefs plus xrefs shared by term
    pairs so canonicalization merges identities, and ~5% obsolete
    terms."""
    rng = random.Random(seed)
    tid = lambda i: f"CL:{i:07d}"  # noqa: E731
    names, seen = [], set()
    for i in range(n_terms):
        if i == 0:
            name = "cell"
        else:
            name = " ".join(
                (rng.choice(_MODIFIERS), rng.choice(_TISSUES), rng.choice(_BASES))
            )
            k = 2
            while name in seen:
                name = f"{name.rsplit(' subtype ', 1)[0]} subtype {k}"
                k += 1
        seen.add(name)
        names.append(name)
    obsolete = {i for i in range(1, n_terms) if rng.random() < 0.05}

    shared: dict[int, list[str]] = {}
    live_labels = [i for i in range(n_terms) if i not in obsolete][1:CL_LABELS]
    live_rest = [i for i in range(n_terms) if i not in obsolete][CL_LABELS + 1 :]
    for k in range(CL_SHARED_XREFS):
        pool = live_labels if k < CL_LABEL_SHARED_XREFS else live_rest
        a, b = rng.sample(pool, 2)
        for t in (a, b):
            shared.setdefault(t, []).append(f"MESH:D{k:06d}")

    n_syns = np.minimum(np.random.default_rng(seed).poisson(1.2, n_terms), 4)
    lines = ["format-version: 1.2", "ontology: cl", ""]
    for i in range(n_terms):
        lines += ["[Term]", f"id: {tid(i)}", f"name: {names[i]}"]
        lines.append(f'def: "A synthetic {names[i]}." []')
        base = names[i]
        for s in range(int(n_syns[i])):
            syn = f"{base} variant {s + 1}" if s else f"{base.replace(' ', '-', 1)} form"
            if syn not in seen:
                seen.add(syn)
                lines.append(f'synonym: "{syn}" {rng.choice(_SYN_TYPES)} []')
        if rng.random() < 0.6:
            lines.append(f"xref: FMA:{70000 + i}")
        lines += [f"xref: {x}" for x in shared.get(i, [])]
        if i > 0:
            parents = {rng.randrange(i)}
            if rng.random() < 0.15:
                parents.add(rng.randrange(i))
            lines += [f"is_a: {tid(p)} ! {names[p]}" for p in sorted(parents)]
            for rel, p_rel in _RELS:
                if rng.random() < p_rel:
                    lines.append(f"relationship: {rel} {tid(rng.randrange(i))}")
        if i in obsolete:
            lines.append("is_obsolete: true")
        lines.append("")
    return "\n".join(lines)


def _noise_vocab(alias_tokens: set[str], rng: random.Random, n: int = 400) -> list[str]:
    """Pseudo-words that are never a token of any alias, so text built
    from them cannot mention an ontology term."""
    syll = "ka lo mi ne ru sa to vi ze po da fu gi he".split()
    out: set[str] = set()
    while len(out) < n:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
        if w not in alias_tokens:
            out.add(w)
    return sorted(out)


def kg_documents(
    onto, weights: pd.DataFrame, seed: int, n_docs: int, mention_frac: float
) -> tuple[pd.DataFrame, pd.DataFrame, list[str]]:
    """Interleaved text/image/table documents shaped like
    fixtures.make_documents'. Exactly round(mention_frac * n_docs) of
    them embed, in every text span, 1-2 names or synonyms of a label
    lineage (a label of `onto` and its label ancestors); the rest is
    ontology-free text. Features are the sum of the lineage's label
    directions plus noise. Returns (documents, features, mentioned doc
    ids)."""
    rng = random.Random(seed + 11)
    labels = sorted(onto.labels)
    label_set = set(labels)
    parents: dict[str, list[str]] = {}
    for c, p, r in onto.edges[["src", "dst", "rel"]].itertuples(index=False):
        if r == "is_a" and c in label_set and p in label_set:
            parents.setdefault(c, []).append(p)

    def lineage(t: str) -> list[str]:
        out, todo = [], [t]
        while todo:
            x = todo.pop()
            if x not in out:
                out.append(x)
                todo.extend(parents.get(x, []))
        return out

    terms = onto.terms.set_index("term_id")
    forms = {
        t: [terms.at[t, "name"]] + [s["syn_str"] for s in terms.at[t, "synonyms"]]
        for t in labels
    }
    alias_tokens: set[str] = set()
    for t in onto.terms.itertuples(index=False):
        alias_tokens.update((t.name or "").lower().split())
        for s in t.synonyms:
            alias_tokens.update(s["syn_str"].lower().split())
    vocab = _noise_vocab(alias_tokens, rng)

    coef = {
        r.label: np.asarray(r.coef) / np.linalg.norm(r.coef)
        for r in weights.itertuples(index=False)
    }
    n_mentioned = round(mention_frac * n_docs)
    mentioned_idx = set(rng.sample(range(n_docs), n_mentioned))
    X = np.random.default_rng(seed + 12).standard_normal((n_docs, N_FEATURES)) * 0.05
    doc_rows, mentioned = [], []
    for i in range(n_docs):
        doc_id = f"doc_{i:08d}"
        lin = lineage(rng.choice(labels))
        for t in lin:
            X[i] += coef[t]
        spans, offset = [], 0
        for s in range(rng.randint(3, 8)):
            if s == 0 or rng.random() < 0.6:
                words = [rng.choice(vocab) for _ in range(rng.randint(3, 8))]
                if i in mentioned_idx:
                    for _ in range(rng.randint(1, 2)):
                        words.insert(
                            rng.randint(0, len(words)),
                            rng.choice(forms[rng.choice(lin)]),
                        )
                text = " ".join(words)
                spans.append({"kind": "text", "text": text, "media_ref": "", "offset": offset})
                offset += len(text) + 1
            else:
                kind = "image" if rng.random() < 0.6 else "table"
                spans.append({
                    "kind": kind, "text": "",
                    "media_ref": f"media://{kind[:3]}/{doc_id}/{s}", "offset": offset,
                })
                offset += 1
        if i in mentioned_idx:
            mentioned.append(doc_id)
        doc_rows.append({"doc_id": doc_id, "spans": spans})
    docs = pd.DataFrame(doc_rows)
    feats = pd.DataFrame({"doc_id": docs.doc_id, "features": list(X)})
    feats["features"] = feats.features.map(lambda v: v.tolist())
    return docs, feats, mentioned


# ---------------------------------------------------------------------------
# near-duplicate corpus (corpus_dedup)
# ---------------------------------------------------------------------------


def dedup_corpus(seed: int, n_docs: int, dup_frac: float = 0.06) -> pd.DataFrame:
    """Zipf-vocabulary corpus in which exactly round(dup_frac * n_docs)
    docs are near-duplicate variants (10% of tokens replaced) of
    distinct originals — the shape of
    tools/bench_dedup_scale.generate_corpus, with the vocabulary and
    length profile generated here instead of fitted from a reference
    table. Distinct parents keep the number of true pairs the same for
    every seed. Doc ids are a seeded shuffle, so a variant's parity (the
    cross workload's side) is independent of its original's. Columns
    match the entry's documents table: doc_id (long), text, lang,
    source, n_chars."""
    g = np.random.default_rng(seed)
    syll = "ba de fi go hu ja ke li mo nu pa qe ri so tu va we xi yo zu".split()
    vocab = sorted({
        "".join(g.choice(syll, size=int(g.integers(2, 5)))) for _ in range(3000)
    })
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    p /= p.sum()
    n_dups = round(dup_frac * n_docs)
    n_orig = n_docs - n_dups
    lengths = np.clip(g.lognormal(4.0, 0.5, n_orig).astype(int), 8, 300)
    texts = [
        [vocab[k] for k in g.choice(len(vocab), size=int(n), p=p)] for n in lengths
    ]
    for parent in g.choice(n_orig, size=n_dups, replace=False):
        words = list(texts[parent])
        for _ in range(max(1, len(words) // 10)):
            words[int(g.integers(len(words)))] = vocab[int(g.integers(len(vocab)))]
        texts.append(words)
    ids = g.permutation(n_docs)
    langs = ("en", "de", "fr", "es")
    rows = sorted(
        (int(i), " ".join(w), langs[i % len(langs)], f"src{i % 5}", len(" ".join(w)))
        for i, w in zip(ids, texts)
    )
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
