"""End-to-end KG-construction pipeline wiring.

Stages (SURVEY §7.1):
  1. ontology       — patched edge table (+ inverse edges, obsolete
                      filter)
  2. closure        — (descendant, ancestor) transitive closure (is_a)
  3. onto_triples   — (child, rel, parent) schema-layer triples
  4. mentions       — dictionary mention detection over document spans
  5. linked         — score/reconcile/binarize/most-specific (one
                      mapInPandas pass)
  6. canonical_map  — alias/xref connected components → canonical ids
  7. triples        — ontology ∪ typing triples, subjects/objects
                      rewritten to canonical ids

Scale split (SURVEY §7.4): the ontology side is ≤ ~10^4 terms — a
driver-resident dataset. Stages 1-3 and 6 therefore compute in plain
python/pandas on the driver and ship their (tiny) results into Spark
once, as broadcast-side DataFrames; every Spark job in the pipeline
belongs to the document-scale stages (4, 5, 7), which shuffle only
where semantically required. The distributed equivalents of the
ontology-side algorithms (iterative transitive closure, min-id
connected components, anti-join most-specific) live in
operators/graph.py — pytest-verified against the same oracle and
exposed through __spark_entry__ queries — and kick in automatically
via the *_auto variants when a graph exceeds the driver cutover.

Inputs arrive via the ctx dict (documents/features as DataFrames,
ontology bundle driver-side) so the same wiring runs on fixtures in
tests, on the bench generator, and on real tables in production.
Stages 5 and 7 call the per-document body (gate_mentioned,
link_mentioned, document_triples) that streaming/ingest.py's
run_incremental_kg runs on every micro-batch.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from cello_spark import oracle
from cello_spark.functions.text import _MENTION_FOLD
from cello_spark.operators.linking import LinkingModel, link_documents, typing_triples
from cello_spark.operators.mentions import detect_mentions
from cello_spark.plans.pipeline import Pipeline
from cello_spark.sources.fixtures import Ontology, term_id, QUALIFIER_SUFFIXES
from cello_spark.sources.ontology import INVERTIBLE_RELS

# the fixture ontology's id space (sources/fixtures.term_id). Pipelines
# derive their id spaces from the ontology they load (prepare_ontology);
# this constant only names the fixture's for callers that pin it.
TERM_PREFIX = "CS:"

# mentioned-doc fraction above which the linked stage scores ALL
# features (zero-exchange scan into the scorer, narrow post-join)
# instead of pre-gating the wide features through a shuffle — see
# stage_linked. Measured breakeven is high: the exchange the dense
# plan saves is cheap relative to the extra scoring below ~0.9.
GATE_SELECTIVITY = 0.9

# documents the density probe samples (estimate_mention_density)
DENSITY_SAMPLE_DOCS = 4096

# largest non-identity canonical slice the rewrite compiles to a literal
# map; above it the rewrite broadcast-joins (canonical_rewrite_triples)
MAX_LITERAL_MAP = 128

# join hints of the mention gate (gate_mentioned): a corpus-sized
# mentioned set builds a shuffled hash relation, a micro-batch's
# dict-sized set is broadcast
CORPUS_GATE = "SHUFFLE_HASH"
MICRO_BATCH_GATE = "broadcast"


# ---------------------------------------------------------------------------
# driver-side ontology prep (tiny data — no Spark jobs)
# ---------------------------------------------------------------------------


_NORM_TABLE = str.maketrans({c: " " for c in "\t\n\r" + _MENTION_FOLD})


def _normalize(s: str) -> str:
    """Driver-side alias normalization — MUST match the document side's
    mention_tokens fold (functions/text.py), or punctuated aliases
    ('t-cell, alpha') can never equal a candidate n-gram whose
    punctuation was folded to spaces. Shares the literal fold set with
    the Spark-side normalize_alias so the two cannot drift."""
    return " ".join(s.lower().translate(_NORM_TABLE).split())


def _prefix_tuple(term_prefix) -> tuple[str, ...]:
    """Normalize the term-prefix parameter: a single id-space prefix
    ('CS:') or several ('CL:', 'UO:', 'ZZ:') for config-17-style
    multi-project ontologies, where canonical ids may live in ANY of
    the merged id spaces."""
    return (term_prefix,) if isinstance(term_prefix, str) else tuple(term_prefix)


def _starts_with_any(col: str, prefixes: tuple[str, ...]):
    """Spark predicate: column starts with any of the prefixes
    (Column.startswith only accepts one string)."""
    if not prefixes:
        return F.lit(False)
    e = F.col(col).startswith(prefixes[0])
    for p in prefixes[1:]:
        e = e | F.col(col).startswith(p)
    return e


def prepare_ontology(
    onto: Ontology, term_prefix: str | tuple[str, ...] | None = None
) -> dict:
    """Pandas equivalents of the ontology ingest transforms (obsolete
    filter, patch union, inverse-edge synthesis — reference
    the_ontology.py:106-148, ontology_graph.py:344-387/585-593), the
    is_a closure, the alias dictionary, and the canonicalization
    components. All O(|ontology|).

    The canonical id of a synonym/xref component is its minimum
    ontology TERM, so the rule needs to know which ids are terms: the
    id spaces come from the ontology itself, one per prefix of its term
    ids ('CL:', 'UO:', ... — the part before ':', the rule
    sources/ontology.ontology_from_obos(id_spaces=...) filters by).
    `term_prefix` ('CL:' or a tuple) only overrides that derivation.
    The result carries the id spaces under "term_prefix" and the
    merge-affected terms under "merged_terms", the two inputs every
    canonical rewrite of this ontology takes — batch
    (build_kg_pipeline), CLI and streaming (run_incremental_kg) read
    both from here."""
    if term_prefix is None:
        prefixes = tuple(
            sorted({t.split(":")[0] + ":" for t in onto.terms.term_id})
        )
    else:
        prefixes = _prefix_tuple(term_prefix)
    live = onto.terms[~onto.terms.is_obsolete]
    live_ids = set(live.term_id)
    edges = onto.edges[
        onto.edges.src.isin(live_ids) & onto.edges.dst.isin(live_ids)
    ]
    patched = pd.concat([edges, onto.patch_edges]).drop_duplicates()
    inv = patched[patched.rel.isin(INVERTIBLE_RELS)].rename(
        columns={"src": "dst", "dst": "src"}
    )[["src", "dst", "rel"]].assign(rel=lambda d: "inv_" + d.rel)
    full_edges = pd.concat([patched, inv]).drop_duplicates().reset_index(drop=True)

    isa_pairs = [
        (r.src, r.dst) for r in patched.itertuples(index=False) if r.rel == "is_a"
    ]
    closure = pd.DataFrame(
        sorted(oracle.closure_pairs(isa_pairs)), columns=["descendant", "ancestor"]
    )

    onto_triples = (
        patched.rename(columns={"src": "subj", "rel": "pred", "dst": "obj"})[
            ["subj", "pred", "obj"]
        ]
        .drop_duplicates()
        .reset_index(drop=True)
    )

    # alias dictionary: normalized names + synonyms → term_id
    alias_rows = []
    for t in live.itertuples(index=False):
        if t.name:
            alias_rows.append((_normalize(t.name), t.term_id))
        for syn in t.synonyms:
            if syn["syn_str"]:
                alias_rows.append((_normalize(syn["syn_str"]), t.term_id))
    alias_dict = pd.DataFrame(
        sorted(set(alias_rows)), columns=["alias_norm", "term_id"]
    )

    # canonicalization: components over term ↔ alias/xref strings;
    # canonical = min member with an ontology prefix, else min member
    # (multi-prefix: a cross-space xref component canonicalizes to its
    # lexicographically-first term id across the merged id spaces)
    pairs = [(r.term_id, r.alias_norm) for r in alias_dict.itertuples(index=False)]
    for t in live.itertuples(index=False):
        for x in t.xrefs:
            pairs.append((t.term_id, x))
    comp = oracle.connected_components(pairs)
    members: dict[str, list[str]] = {}
    for node, c in comp.items():
        members.setdefault(c, []).append(node)
    canon_rows = []
    for c, nodes in members.items():
        terms = sorted(n for n in nodes if n.startswith(prefixes))
        canonical = terms[0] if terms else min(nodes)
        canon_rows.extend((n, canonical) for n in nodes)
    canonical_map = pd.DataFrame(
        sorted(canon_rows), columns=["node", "canonical"]
    )
    return {
        "edges": full_edges,
        "closure": closure,
        "onto_triples": onto_triples,
        "alias_dict": alias_dict,
        "canonical_map": canonical_map,
        "term_prefix": prefixes,
        "merged_terms": merged_term_set(canonical_map, prefixes),
    }


def _ensure_parallelism(df: DataFrame, spark: SparkSession, key: str = "doc_id") -> DataFrame:
    """Small/under-split sources (a handful of tiny parquet files get
    coalesced into ~1 scan partition by maxPartitionBytes) would make
    the whole document side serial — spread them keyed by doc_id, which
    also co-partitions the later features ⋈ mentions semi-join. No-op
    on a real 100 TB table (file splits already provide parallelism)."""
    from cello_spark.partitioning import ensure_min_partitions

    return ensure_min_partitions(df, key=key)


def make_linking_model(
    onto: Ontology,
    weights_pdf: pd.DataFrame,
    thresholds_pdf: pd.DataFrame,
) -> LinkingModel:
    """LinkingModel wired exactly as the KG pipeline wires it: label
    DAG restricted to is_a edges between model labels, qualifier set
    from the fixture suffixes. Shared by the batch pipeline and the
    streaming incremental path so both link with the same model."""
    label_set = set(onto.labels)
    label_edges = [
        (c, p)
        for c, p, r in pd.concat([onto.edges, onto.patch_edges])[
            ["src", "dst", "rel"]
        ].itertuples(index=False)
        if r == "is_a" and c in label_set and p in label_set
    ]
    qualifiers = {term_id(s) for s in QUALIFIER_SUFFIXES}
    return LinkingModel.from_tables(
        weights_pdf, thresholds_pdf, label_edges, qualifier_labels=qualifiers
    )


def merged_term_set(
    canonical_map: pd.DataFrame,
    term_prefix: str | tuple[str, ...],
) -> list[str]:
    """Terms whose canonicalization MERGES identities (map to a
    different term, or are such a merge's target): only triples
    touching these can become duplicates under the canonical rewrite —
    see canonical_rewrite_triples."""
    terms = canonical_map[
        canonical_map.node.str.startswith(_prefix_tuple(term_prefix))
    ]
    m = terms[terms.node != terms.canonical]
    return sorted(set(m.node) | set(m.canonical))


def build_kg_pipeline(
    spark: SparkSession,
    workdir: str,
    documents: DataFrame,
    features: DataFrame,
    onto: Ontology,
    weights_pdf: pd.DataFrame,
    thresholds_pdf: pd.DataFrame,
    include_media_triples: bool = False,
    term_prefix: str | tuple[str, ...] | None = None,
) -> Pipeline:
    """Staged KG-construction pipeline (see module docstring).

    include_media_triples=True adds an independent `media_triples`
    stage emitting the interleaved-payload grounding triples
    (doc has_media ref; ref depicts term via caption mentions,
    operators/multimodal.py media_triples), canonical-rewritten with
    the same mapping as the main triples output. Off by default so
    the headline triples artifact (and every bench baseline) is
    byte-identical with or without the feature.

    The id spaces of the canonical rule are derived from `onto` by
    prepare_ontology (a multi-project merge gets all of its spaces, so
    cross-space xref components canonicalize and rewrite across them);
    `term_prefix` (e.g. ('CL:', 'UO:', 'ZZ:')) only overrides that.

    The document side is the per-document KG body shared with
    streaming.run_incremental_kg — link_mentioned, then
    document_triples, with the mention gate (gate_mentioned) in one of
    the two — split over the `linked` and `triples` stages."""
    raw_features = features  # pre-repartition plan: cheap count source
    documents = _ensure_parallelism(documents, spark)
    features = _ensure_parallelism(features, spark)
    prep = prepare_ontology(onto, term_prefix=term_prefix)
    model = make_linking_model(onto, weights_pdf, thresholds_pdf)

    pipe = Pipeline(spark, workdir)

    # --- ontology-side stages: driver-computed (tiny=True → pyarrow
    # materialization, zero Spark jobs; read back lazily as DataFrames)

    def stage_ontology(ctx: dict) -> pd.DataFrame:
        return prep["edges"]

    def stage_closure(ctx: dict) -> pd.DataFrame:
        return prep["closure"]

    def stage_onto_triples(ctx: dict) -> pd.DataFrame:
        return prep["onto_triples"]

    def stage_canonical_map(ctx: dict) -> pd.DataFrame:
        return prep["canonical_map"]

    # --- document-side stages: distributed ---------------------------

    def stage_mentions(ctx: dict) -> DataFrame:
        alias_df = spark.createDataFrame(prep["alias_dict"])
        # alias_norm is projected out of the materialization: it is
        # re-derivable (term_id ⋈ alias dictionary) and is the widest
        # column — at 1M docs it is ~40% of the stage's bytes, and the
        # write is as expensive as the detection itself.
        #
        # distinct=False: this artifact is an OCCURRENCE table (one row
        # per dictionary match), not a per-(span, term) distinct set.
        # Every pipeline consumer is dedup-agnostic — the linked
        # stage's gate is a doc_id semi join (hash build dedups
        # natively) and the typing triples derive from linked labels —
        # while the (doc, span, term) dedup costs the stage's single
        # exchange: +27 JVM core-sec at local[8], +70 at local[32] on
        # 1M docs (it shuffles every mention and anti-scales, measured
        # 2.6x). Span-level-distinct consumers dedup downstream where
        # the semantics actually need it (detect_mentions keeps
        # distinct=True as its standalone default).
        return detect_mentions(documents, alias_df, distinct=False).select(
            "doc_id", "span_idx", "offset", "term_id"
        )

    # mention gate: only docs that mention at least one ontology term
    # contribute typing triples. TWO plans, chosen by sampled density:
    #
    #   sparse (mentioned fraction < GATE_SELECTIVITY): the linked
    #     stage semi-joins the WIDE features against mentioned doc_ids
    #     BEFORE scoring — the exchange of the surviving features is
    #     paid to skip scoring the unmentioned majority. linked depends
    #     on mentions and the stages serialize.
    #
    #   dense (most docs mentioned — this bench, and any corpus
    #     pre-filtered upstream): score EVERYTHING — the features scan
    #     feeds mapInPandas with ZERO exchange and ZERO dependency on
    #     the mentions stage, so mention detection (documents input)
    #     and scoring (features input) run CONCURRENTLY, packing each
    #     other's ramp/tail/straggler idle; the gate semi-join moves to
    #     the triples stage, on the NARROW linked rows (doc_id +
    #     labels, ~5x smaller than the feature vectors).
    #
    # Both gates are gate_mentioned with the corpus (SHUFFLE_HASH)
    # hint. The density probe samples a few thousand documents at
    # build time (same stats role as a CBO's ANALYZE sample; limit()
    # keeps it one sub-second job).
    dense = (
        estimate_mention_density(
            documents, spark.createDataFrame(prep["alias_dict"])
        )
        >= GATE_SELECTIVITY
    )

    def stage_linked(ctx: dict) -> DataFrame:
        if dense:
            # right-size the UDF input: each mapInPandas task costs
            # ~150ms of fixed Python overhead (task setup, broadcast
            # unpickle, Arrow stream open/close — measured), so many
            # small scan partitions double the stage's Python CPU.
            # Shuffle-free coalesce into core-aligned waves: up to 3
            # waves of tasks (fewer tasks → less fixed py overhead —
            # measured 12% on the stage at local[8] vs batch-count-
            # derived task counts), floored at 2x cores so parallelism
            # never starves, capped by the ≥4-Arrow-batch task size
            # when the input is small. (The sparse plan needs none of
            # this: its exchange already re-sizes to 2x-cores shuffle
            # partitions. At 100 TB the scan splits hold >>4 batches
            # each and this is a no-op.)
            from cello_spark.session import ARROW_MAX_RECORDS

            # count the RAW scan, not the repartition-wrapped plan —
            # counting `features` would execute the round-robin
            # exchange _ensure_parallelism added, a full extra shuffle
            # of every feature row inside the timed stage
            n_docs = raw_features.count()
            par = spark.sparkContext.defaultParallelism
            max_parts = int(n_docs // (4 * ARROW_MAX_RECORDS)) or 1
            target = max(2 * par, min(3 * par, max_parts))
            feats_in = features
            if features.rdd.getNumPartitions() > target:
                feats_in = features.coalesce(target)
            return link_mentioned(feats_in, model)
        return link_mentioned(features, model, ctx["mentions"])

    def stage_triples(ctx: dict) -> DataFrame:
        # the dense linked stage scored every doc so it could run
        # concurrently with mention detection: gate its narrow rows here
        return document_triples(
            ctx["linked"],
            ctx["canonical_map"],
            prep,
            mentions=ctx["mentions"] if dense else None,
            onto_triples=ctx["onto_triples"],
        )

    def stage_media_triples(ctx: dict) -> DataFrame:
        from cello_spark.operators.multimodal import media_triples as _mt

        alias_df = spark.createDataFrame(prep["alias_dict"])
        return canonical_rewrite_triples(
            _mt(documents, alias_df),
            ctx["canonical_map"],
            prep["merged_terms"],
            prep["term_prefix"],
        )

    # stages declare their inputs and run concurrently once those
    # commit (DAG overlap: in the dense plan mentions and linked share
    # no input, so each backfills the other's ramp/tail idle)
    triples_deps = ["onto_triples", "linked", "canonical_map"] + (
        ["mentions"] if dense else []
    )
    (
        pipe.add_stage("ontology", stage_ontology, tiny=True, deps=[])
        .add_stage("closure", stage_closure, tiny=True, deps=[])
        .add_stage("onto_triples", stage_onto_triples, tiny=True, deps=[])
        .add_stage("mentions", stage_mentions, deps=[])
        .add_stage("linked", stage_linked, deps=[] if dense else ["mentions"])
        .add_stage("canonical_map", stage_canonical_map, tiny=True, deps=[])
        .add_stage("triples", stage_triples, deps=triples_deps)
    )
    if include_media_triples:
        pipe.add_stage("media_triples", stage_media_triples, deps=["canonical_map"])
    return pipe


# ---------------------------------------------------------------------------
# per-document KG body: mention gate → link → typing → canonical rewrite.
# The batch stages and the streaming micro-batch both call these, so a
# plan change here lands in both.
# ---------------------------------------------------------------------------


def gate_mentioned(df: DataFrame, mentions: DataFrame, hint: str) -> DataFrame:
    """Rows of `df` (features or linked rows, keyed by doc_id) whose
    document has at least one mention: a left-semi join against the
    DISTINCT mentioned doc_ids, built with join hint `hint`.

    Distinct BEFORE the semi join: the occurrence table carries many
    rows per doc (one per mention), and the hash build would otherwise
    exchange + hash every occurrence row. The partial aggregate
    collapses them map-side, so only unique doc_ids cross the wire and
    the hash relation holds one entry per doc (measured at 4M docs:
    gate 42.9→21.9 core-sec @8, 65.5→29.5 @32 — BENCH/BASELINE.md,
    "Distinct-before-semi-join mention gate").

    CORPUS_GATE (SHUFFLE_HASH) for a corpus-sized mentioned set:
    sort-merge would sort the wide side for a join that only needs a
    doc_id hash set (measured 2x the join cost), and the hash side
    spills if oversized, so this stays safe at 10^12 docs. Broadcasting
    it was measured and REJECTED at corpus scale: collecting and
    hash-building 4.5M doc_ids on the driver is ~15-20s of serial time
    (stage 25.6s vs 10.5s at local[32]). MICRO_BATCH_GATE (broadcast)
    pays only when the mentioned set is dict-sized — a streaming
    micro-batch, bounded by max_files_per_trigger — where the wide side
    is then neither shuffled nor sorted."""
    mentioned = mentions.select("doc_id").distinct().hint(hint)
    return df.join(mentioned, "doc_id", "left_semi")


def link_mentioned(
    features: DataFrame,
    model: LinkingModel,
    mentions: DataFrame | None = None,
    hint: str = CORPUS_GATE,
) -> DataFrame:
    """Linked labels of the documents in `features`, gated to mentioned
    docs first when `mentions` is given (mentions=None scores every doc:
    the dense batch plan, which gates in document_triples instead).
    emit_scores=False: triple emission consumes only the selected
    labels; the probs/bins arrays are ~20x the bytes and re-derivable,
    so their Arrow transfer and parquet write are skipped entirely."""
    if mentions is not None:
        features = gate_mentioned(features, mentions, hint)
    return link_documents(features, model, emit_scores=False)


def document_triples(
    linked: DataFrame,
    canonical_map: DataFrame,
    prep: dict,
    mentions: DataFrame | None = None,
    onto_triples: DataFrame | None = None,
) -> DataFrame:
    """Canonical typing triples of `linked` (gated to mentioned docs
    first when `mentions` is given), after the schema-layer
    `onto_triples` when given — the batch `triples` stage emits both
    layers, a streaming micro-batch only its typing triples."""
    if mentions is not None:
        linked = gate_mentioned(linked, mentions, CORPUS_GATE)
    raw = typing_triples(linked)
    if onto_triples is not None:
        raw = onto_triples.unionByName(raw)
    return canonical_rewrite_triples(
        raw, canonical_map, prep["merged_terms"], prep["term_prefix"]
    )


def estimate_mention_density(documents: DataFrame, alias_df: DataFrame) -> float:
    """Fraction of documents with ≥1 dictionary mention, estimated on a
    limit() sample — the table-stats probe behind the gate-plan choice
    (a CBO would read the same number from ANALYZE statistics).
    limit() is the cheapest sample (first partitions only); its bias is
    acceptable for a one-bit plan decision with a conservative 0.9
    threshold."""
    sample = documents.select("doc_id", "spans").limit(DENSITY_SAMPLE_DOCS)
    n = sample.count()
    if n == 0:
        return 0.0
    n_mentioned = (
        detect_mentions(sample, alias_df, distinct=False)
        .select("doc_id")
        .distinct()
        .count()
    )
    return n_mentioned / n


def canonical_rewrite_triples(
    raw: DataFrame,  # (subj, pred, obj) — DISTINCT by construction
    canonical_map: DataFrame,  # (node, canonical) — dict-sized
    merged_terms: list[str],  # terms that merge under canonicalization
    term_prefix: str | tuple[str, ...],  # the ontology's id spaces
) -> DataFrame:
    """Rewrite subj/obj to canonical ids and dedup ONLY where the
    rewrite can create duplicates.

    The input union (schema-layer triples ∪ typing triples) is distinct
    by construction: onto triples are deduped driver-side, typing
    triples are one row per (doc, label) with per-doc-distinct labels,
    and doc ids never collide with term ids. The rewrite maps term →
    canonical term; it is the identity except on `merged_terms` (terms
    whose synonym/xref component contains ≥2 term ids: the sources that
    map away plus their merge targets). A row whose subj AND obj are
    outside that set rewrites injectively and cannot collide with any
    other row's image (images of merge-affected rows always contain a
    merged term; pass-through images never do). So the global
    `dropDuplicates` — previously a full shuffle of every triple, the
    dominant cost of this stage — shrinks to a dedup over the
    merge-affected slice, which is empty for ontologies with no
    synonym merges and <<1% of triples otherwise.

    Rewrite shape: triple subjects/objects are doc ids or term ids by
    construction, so only the map's TERM-KEYED non-identity slice
    (node != canonical, node startswith term_prefix — i.e. the merge
    sources; alias-string and xref keys can never hit a triple) is what
    the rewrite actually applies. Ontology merge sets are tens of
    entries, so when that slice fits MAX_LITERAL_MAP the rewrite
    compiles to a constant-folded literal-map lookup (whole-stage
    codegen, zero per-row allocation, no join) instead of two broadcast
    hash joins over every triple — and when the slice is EMPTY (no
    synonym merges, the common case) the stage is a provable identity
    and does no per-row work at all. Above the cap (a corpus-scale
    canonical map, e.g. doc-entity canonicalization) it falls back to
    broadcast joins over the restricted slice, the right plan at that
    size."""
    nonid = canonical_map.filter(
        (F.col("node") != F.col("canonical"))
        & _starts_with_any("node", _prefix_tuple(term_prefix))
    )
    head = nonid.limit(MAX_LITERAL_MAP + 1).collect()
    if not head:
        return raw  # identity map: nothing rewrites, nothing merges

    def _rewrite(df: DataFrame) -> DataFrame:
        if len(head) <= MAX_LITERAL_MAP:
            lit = F.create_map(
                *[F.lit(x) for r in head for x in (r.node, r.canonical)]
            )
            return df.select(
                F.coalesce(
                    F.try_element_at(lit, F.col("subj")), F.col("subj")
                ).alias("subj"),
                "pred",
                F.coalesce(
                    F.try_element_at(lit, F.col("obj")), F.col("obj")
                ).alias("obj"),
            )
        subj_map = F.broadcast(
            nonid.select(
                F.col("node").alias("subj"), F.col("canonical").alias("subj_c")
            )
        )
        obj_map = F.broadcast(
            nonid.select(
                F.col("node").alias("obj"), F.col("canonical").alias("obj_c")
            )
        )
        return (
            df.join(subj_map, "subj", "left")
            .join(obj_map, "obj", "left")
            .select(
                F.coalesce("subj_c", "subj").alias("subj"),
                "pred",
                F.coalesce("obj_c", "obj").alias("obj"),
            )
        )

    if not merged_terms:
        return _rewrite(raw)
    # `affected` computed on the RAW columns: merged_terms is closed
    # under the map (sources ∪ targets), so a row's image contains a
    # merged term iff the raw row touches one — and the non-identity
    # map keys (sources) are a subset of merged_terms, so pass-through
    # rows rewrite as the identity and skip the rewrite entirely.
    # Both branch filters are plain IN-predicates on scan columns
    # (parquet row-group pushdown); the rewrite + dedup run only on
    # the tiny affected slice. One expression, two pushed scans —
    # previously BOTH branches re-evaluated the full rewrite subtree.
    affected = F.col("subj").isin(merged_terms) | F.col("obj").isin(
        merged_terms
    )
    return raw.filter(~affected).unionByName(
        _rewrite(raw.filter(affected)).dropDuplicates()
    )


def canonical_mapping(
    components: DataFrame,
    term_prefix: str | tuple[str, ...],
) -> DataFrame:
    """Distributed variant of the canonical-id rule (used when the
    alias graph exceeds driver scale): per component, canonical = min
    member with an ontology prefix (any of them in a multi-project
    merge), else min member."""
    ranked = components.groupBy("component").agg(
        F.min(
            F.when(
                _starts_with_any("node", _prefix_tuple(term_prefix)),
                F.col("node"),
            )
        ).alias("canon_term"),
        F.min("node").alias("canon_any"),
    )
    return components.join(ranked, "component").select(
        "node",
        F.coalesce("canon_term", "canon_any").alias("canonical"),
    )
