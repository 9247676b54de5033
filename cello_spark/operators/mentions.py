"""Mention detection over interleaved document spans.

The graft analog of the reference's gene matching
(cello/cello.py:925-1004: probe input identifiers against training
gene dictionaries, synonym fan-out via a mapping table): here we probe
document text spans against the ontology alias dictionary
(names + synonyms, ontology_graph.py:370-379/:525-541).

Scale design (100 TB documents, KB-size dictionary):
- `explode(spans)` keeps only text spans; documents themselves are
  never mutated → the per-row span-sequence invariant is preserved by
  construction (mentions are a *separate* table keyed by doc_id).
- Candidate generation is pure JVM and lambda-free (posexplode →
  explode(sequence) → top-level concat_ws, one whole-stage codegen
  span) — no Python and no interpreted higher-order functions in the
  hot path (the HOF form anti-scales; see detect_mentions).
- The dictionary join is an explicit `F.broadcast` hash join on the
  concat'd n-gram string: zero shuffle on the document side regardless
  of input size.
- Probing on xxhash64 over the window columns instead (alias side
  pre-hashed, token-wise verify on hash hits) was measured and
  removed. Measured on a 4-core / 15 GB box, detect_mentions
  (distinct=False) into a noop sink, 12 interleaved rounds per variant
  after warm-up, identical outputs (median s, IQR in parentheses):

    input                           hash probe        string probe
    fixture dict (132 aliases),     0.607             0.519
      8k docs                       (0.562-0.706)     (0.468-0.612)
    fixture dict, 100k docs         1.797             1.852
                                    (1.688-1.899)     (1.672-1.970)
    CL-scale OBO (13,839 aliases),  2.100             0.832
      20k docs, 10% mentioned       (2.060-2.416)     (0.778-0.988)

  The string probe is at parity or faster everywhere and 2.5x faster
  on the low-hit-rate CL dictionary: the extra xxhash64 arms and the
  token-wise verify cost more than the strings they save.
- The only shuffle in this stage is the optional per-term aggregate,
  which uses two-level salting because hub terms (the root 'cell'
  alias) receive a large share of all mentions (SURVEY §2.3 skew note).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from cello_spark.functions.text import mention_tokens_sql, sql_string

# above this many distinct alias first-tokens the CASE/IN gate's
# driver-built literal expression gets unwieldy (plan size, codegen
# limits); switch to the explode + broadcast-join gate
MAX_CASE_GATE_TOKENS = 10_000


def text_spans(documents: DataFrame) -> DataFrame:
    """(doc_id, span_idx, offset, text) for kind='text' spans."""
    return (
        documents.selectExpr("doc_id", "posexplode(spans) AS (span_idx, span)")
        .where("span.kind = 'text'")
        .selectExpr("doc_id", "span_idx", "span.offset AS offset", "span.text AS text")
    )


def detect_mentions(
    documents: DataFrame,
    alias_dict: DataFrame | pd.DataFrame,  # (alias_norm, term_id) — small
    distinct: bool = True,
) -> DataFrame:
    """Dictionary mention detection. Returns
    (doc_id, span_idx, offset, alias_norm, term_id), distinct per
    (doc span, term). Text is tokenized with `mention_tokens`
    (punctuation folded, matching the dictionary-side
    `normalize_alias`), so aliases adjacent to punctuation match. Two
    broadcast hash joins — the document side never shuffles:

      1. FIRST-TOKEN GATE: only token positions whose token can start
         an alias build n-grams — this prunes the candidate space by
         the fraction of corpus tokens that can start an alias (the
         dominant cost at scale is candidate construction, so the
         gate is worth ~an order of magnitude on real text). The
         dictionary picks one of two equivalent implementations:
           CASE/IN — a driver-built literal over the distinct first
             tokens (Catalyst compiles IN lists to hash-set InSet
             probes; zero extra operators), up to
             MAX_CASE_GATE_TOKENS first tokens. Best for ontology
             dictionaries (10³-10⁴ first tokens); the join gate
             measured 18-38% slower on the fixture dictionary.
           join — posexplode tokens, broadcast-join a (first_token,
             lengths) table. Its plan does not grow with the
             dictionary, so it takes over past MAX_CASE_GATE_TOKENS
             (at 10⁵ first tokens the CASE gate plans ~2x and runs ~7x
             slower; BENCH/BASELINE.md, "Two first-token gates").
      2. candidates at surviving positions, built only for the EXACT
         lengths of aliases starting with that token (not 1..max),
         concat_ws'd into the n-gram and joined on it against the
         alias dictionary (see the module docstring for why the
         n-gram string, not a hash of the window, is the probe key).

    `alias_dict` is dictionary-sized and lives on the driver: the KG
    pipeline passes prepare_ontology()["alias_dict"] (a pandas frame,
    string term ids), and building the plan from it runs no Spark job.
    A Spark DataFrame is collected once here (one job) and then takes
    the same path.

    The plan is built from SQL strings (selectExpr / where), a handful
    of py4j calls per step, instead of one call per Column node.
    """
    spark = documents.sparkSession
    if isinstance(alias_dict, pd.DataFrame):
        term_type = "string"
    else:
        term_type = alias_dict.schema["term_id"].dataType.simpleString()
        alias_dict = alias_dict.select("alias_norm", "term_id").toPandas()
    # empty-dictionary returns must carry the SAME schema the populated
    # path produces (doc_id/term_id types come from the inputs), or a
    # caller unioning per-batch results hits an AnalysisException the
    # first time one batch has no aliases
    empty_schema = (
        f"doc_id {documents.schema['doc_id'].dataType.simpleString()}, "
        f"span_idx int, offset int, alias_norm string, term_id {term_type}"
    )
    if alias_dict.empty:
        return spark.createDataFrame([], empty_schema)
    dict_df = spark.createDataFrame(
        alias_dict[["alias_norm", "term_id"]],
        f"alias_norm string, term_id {term_type}",
    )
    # per-first-token EXACT alias length set: positions only build
    # candidates whose length some alias starting with that token
    # actually has. A token that starts only {2,3}-word aliases never
    # builds the 1-gram — sequence(1, max_len) would. Candidate
    # construction is the stage's dominant allocator, so the exact set
    # cuts both CPU and the allocation pressure that anti-scales on a
    # shared heap (~1.5x fewer candidate lengths on the fixture
    # dictionary, more on real ontologies whose long aliases are rare).
    ft_lengths: dict[str, set[int]] = {}
    max_n = 1
    for a in alias_dict["alias_norm"].tolist():
        parts = a.split(" ")
        ft_lengths.setdefault(parts[0], set()).add(len(parts))
        max_n = max(max_n, len(parts))
    case_gate = len(ft_lengths) <= MAX_CASE_GATE_TOKENS

    # Candidate construction is shared by both gates and deliberately
    # lambda-free: posexplode positions, gate them, explode the exact
    # length set, then concat at the TOP level of the projection.
    # Nested higher-order functions (the obvious "transform tokens,
    # build per-position arrays" form) evaluate INTERPRETED per
    # element; their per-position Scala-collection allocation
    # anti-scales with task parallelism on a shared heap (measured
    # ~2.8x core-second inflation local[8]→local[32], BENCH/BASELINE.md
    # "Lambda-free n-gram candidate builder"). This shape keeps the
    # whole stage — explode → gate → explode → join — in one
    # WholeStageCodegen span with the document side never shuffled.
    #
    # The explode ships each position's NEXT max_n-1 tokens alongside
    # it (arrays_zip of shifted slices, null-padded) instead of
    # retaining the whole `tokens` array: Tungsten Generate copies
    # retained columns into every output row, so carrying `tokens`
    # through two explodes costs O(span_len) bytes PER TOKEN —
    # quadratic in span length and the stage's dominant allocation —
    # where the zipped window is O(max_n) per row. n-grams are then a
    # plain concat_ws over the windowed tokens, no slice/array_join.
    zip_expr = "arrays_zip(tokens" + "".join(
        f", slice(tokens, {k + 1}, size(tokens))" for k in range(1, max_n)
    ) + ")"
    window = [
        "doc_id",
        "span_idx",
        "offset",
        "n_toks",
        "pos",
        "w.tokens AS tok",
        *[f"w.`{k}` AS t{k}" for k in range(1, max_n)],
    ]
    if case_gate:
        # group first tokens by identical length set: a handful of
        # distinct sets (e.g. {1}, {2,3}, {3,4}) → a short CASE whose
        # IN lists Catalyst compiles to hash-set InSet probes. A token
        # holding a quote or a backslash cannot occur in a document
        # (mention_tokens folds both), so its literal just never matches.
        by_set: dict[tuple[int, ...], list[str]] = {}
        for t, ls in ft_lengths.items():
            by_set.setdefault(tuple(sorted(ls)), []).append(t)
        window.append(
            "CASE "
            + " ".join(
                f"WHEN w.tokens IN ({', '.join(map(sql_string, sorted(ts)))}) "
                f"THEN array({', '.join(map(str, ls))})"
                for ls, ts in sorted(by_set.items())
            )
            + " ELSE NULL END AS ns"
        )
    tokpos = (
        text_spans(documents)
        .selectExpr("doc_id", "span_idx", "offset", f"{mention_tokens_sql()} AS tokens")
        .selectExpr(
            "doc_id",
            "span_idx",
            "offset",
            "size(tokens) AS n_toks",
            f"posexplode({zip_expr}) AS (pos, w)",
        )
        .selectExpr(*window)
    )
    if case_gate:
        gated = tokpos.where("ns IS NOT NULL")
    else:
        # inner broadcast join IS the gate: non-starting positions drop.
        # The rows are built right here, so skip pyspark's per-row type
        # check (~40% of this call at 10⁶ first tokens).
        gate_df = spark.createDataFrame(
            sorted((t, sorted(ls)) for t, ls in ft_lengths.items()),
            "tok string, ns array<int>",
            verifySchema=False,
        )
        gated = tokpos.join(F.broadcast(gate_df), "tok")
    # explode the small exact-length array, then a TOP-LEVEL bound
    # check — no higher-order function, stays in whole-stage codegen.
    # The bound check also guarantees every token the selected CASE
    # branch reads is non-null (nulls only pad past the span's end).
    window_cols = ["tok"] + [f"t{k}" for k in range(1, max_n)]
    ngram_case = "CASE n " + " ".join(
        f"WHEN {k} THEN "
        + ("tok" if k == 1 else f"concat_ws(' ', {', '.join(window_cols[:k])})")
        for k in range(1, max_n + 1)
    ) + " END"
    strung = gated.selectExpr(
        "doc_id",
        "span_idx",
        "offset",
        "n_toks",
        "pos",
        *window_cols,
        "explode(ns) AS n",
    ).where("n <= n_toks - pos").selectExpr(
        "doc_id", "span_idx", "offset", f"{ngram_case} AS ngram"
    )
    out = strung.join(
        F.broadcast(dict_df), F.expr("ngram = alias_norm")
    ).selectExpr("doc_id", "span_idx", "offset", "alias_norm", "term_id")
    if not distinct:
        # streaming callers and the KG pipeline skip the dedup — a
        # stateful dropDuplicates on an unbounded stream needs a
        # watermark, the pipeline's consumers are dedup-agnostic (see
        # plans/kg.stage_mentions), and overlapping alias hits per
        # (span, term) are harmless at-least-once
        return out
    # deterministic dedup: min() aggregates instead of dropDuplicates'
    # arbitrary-first — output is identical across partitionings and
    # parallelism levels (offset = the span's offset for every match,
    # so min is a no-op there; alias_norm = lexicographically first
    # alias that hit the term). Unreferenced aggregates prune: callers
    # that drop alias_norm never pay its exchange bytes.
    return (
        out.groupBy("doc_id", "span_idx", "term_id")
        .agg(F.expr("min(offset) AS offset"), F.expr("min(alias_norm) AS alias_norm"))
        .selectExpr("doc_id", "span_idx", "offset", "alias_norm", "term_id")
    )


def mention_counts_salted(mentions: DataFrame, n_salts: int = 32) -> DataFrame:
    """Per-term mention counts with two-level (salted) aggregation.

    A single `groupBy(term_id)` would funnel every mention of a hub
    term (e.g. the root 'cell') through one reducer; salting on
    hash(doc_id) spreads the partial counts over `n_salts` reducers
    first. (Catalyst already does partial aggregation map-side; the
    explicit salt additionally splits the *reduce* side, which matters
    when a single key's partials exceed one task — the documented
    hub-term hazard, SURVEY §7.4.) Output (term_id, n_mentions,
    n_docs_approx).

    Correctness invariant: summing per-salt approx-distinct doc counts
    is valid ONLY because the salt is a pure function of doc_id, so
    each doc's rows land in exactly one salt bucket (disjoint doc
    sets). The salt is derived INSIDE this function — callers cannot
    supply their own — which is what enforces the invariant; do not
    refactor the salt column into a parameter."""
    salted = mentions.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salts))
    )
    partial = salted.groupBy("term_id", "salt").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.approx_count_distinct("doc_id").alias("docs_approx"),
    )
    return partial.groupBy("term_id").agg(
        F.sum("cnt").alias("n_mentions"),
        F.sum("docs_approx").alias("n_docs_approx"),
    )


def doc_mention_features(mentions: DataFrame) -> DataFrame:
    """Per-doc mention summary used by downstream linking:
    (doc_id, mentioned_terms: sorted array, n_mentions)."""
    return mentions.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("term_id")).alias("mentioned_terms"),
        F.count(F.lit(1)).alias("n_mentions"),
    )
