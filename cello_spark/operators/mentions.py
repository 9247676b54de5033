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

MAX_ALIAS_TOKENS = 6

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
    max_n: int | None = None,
    distinct: bool = True,
    dict_collect_threshold: int = 1_000_000,
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
             lengths) table. No driver-side literal, so it scales to
             arbitrarily large dictionaries (10⁵+ aliases, e.g.
             EFO+DOID+CL+UBERON merged); costs one explode.
      2. candidates at surviving positions, built only for the EXACT
         lengths of aliases starting with that token (not 1..max),
         concat_ws'd into the n-gram and joined on it against the
         alias dictionary (see the module docstring for why the
         n-gram string, not a hash of the window, is the probe key).

    `alias_dict` is a Spark DataFrame or a driver-held pandas one (the
    KG pipeline's `prepare_ontology()["alias_dict"]`, string term ids).
    A pandas dictionary up to `dict_collect_threshold` rows runs no
    Spark job here: its size and first tokens are read on the driver.
    A Spark dictionary is counted, and collected when it is at most
    `dict_collect_threshold` rows — dict-sized data, and the CASE/IN
    gate needs the literals anyway.

    For dictionaries larger than `dict_collect_threshold` rows, no
    COLLECT touches the driver: max_n and the first-token gate table
    are computed with small Spark aggregations (always the join gate;
    CASE/IN would need driver-side literals), and the dictionary-side
    joins drop the broadcast hint — a broadcast would itself collect
    the dictionary to the driver and ship it to every executor (driver
    memory + the 8 GB broadcast limit), so past the threshold the
    probe joins are left to AQE, which broadcasts iff the built side
    is actually small and otherwise runs a shuffled hash join.

    The plan is built from SQL strings (selectExpr / where), a handful
    of py4j calls per step, instead of one call per Column node.
    """
    spark = documents.sparkSession
    held = alias_dict if isinstance(alias_dict, pd.DataFrame) else None
    if held is not None:
        n_aliases = len(held)
        if n_aliases:
            alias_dict = spark.createDataFrame(held[["alias_norm", "term_id"]])
        term_type = "string"
    else:
        n_aliases = alias_dict.count()
        term_type = alias_dict.schema["term_id"].dataType.simpleString()
    # empty-dictionary returns must carry the SAME schema the populated
    # path produces (doc_id/term_id types come from the inputs), or a
    # caller unioning per-batch results hits an AnalysisException the
    # first time one batch has no aliases
    empty_schema = (
        f"doc_id {documents.schema['doc_id'].dataType.simpleString()}, "
        f"span_idx int, offset int, alias_norm string, term_id {term_type}"
    )
    if n_aliases == 0:
        return spark.createDataFrame([], empty_schema)
    # dictionary-side join strategy: explicit broadcast only while the
    # dictionary is known driver/executor-memory safe; past the
    # threshold AQE picks (shuffled hash join unless it measures the
    # built side small)
    collect = n_aliases <= dict_collect_threshold

    def _dict_side(d):
        return F.broadcast(d) if collect else d

    ft_lengths: dict[str, set[int]] = {}
    gate_df = None  # None → CASE/IN gate over ft_lengths
    if not collect:
        parts = alias_dict.select(F.split("alias_norm", " ").alias("p"))
        if max_n is None:
            max_n = parts.agg(F.max(F.size("p"))).first()[0]
        gate_df = (
            parts.select(F.col("p")[0].alias("tok"), F.size("p").alias("l"))
            .filter(F.col("l") <= max_n)
            .groupBy("tok")
            .agg(F.sort_array(F.collect_set("l")).alias("ns"))
        )
    else:
        if held is not None:
            aliases = held["alias_norm"].tolist()
        else:
            aliases = [r[0] for r in alias_dict.select("alias_norm").collect()]
        split = [a.split(" ") for a in aliases]
        if max_n is None:
            max_n = max(map(len, split))
        # per-first-token EXACT alias length set: positions only build
        # candidates whose length some alias starting with that token
        # actually has. A token that starts only {2,3}-word aliases
        # never builds the 1-gram — sequence(1, max_len) would.
        # Candidate construction is the stage's dominant allocator, so
        # the exact set cuts both CPU and the allocation pressure that
        # anti-scales on a shared heap (~1.5x fewer candidate lengths
        # on the fixture dictionary, more on real ontologies whose
        # long aliases are rare).
        for parts_ in split:
            if len(parts_) <= max_n:
                ft_lengths.setdefault(parts_[0], set()).add(len(parts_))
        if not ft_lengths:
            return spark.createDataFrame([], empty_schema)
        if len(ft_lengths) > MAX_CASE_GATE_TOKENS:
            gate_df = spark.createDataFrame(
                sorted((t, sorted(ls)) for t, ls in ft_lengths.items()),
                "tok string, ns array<int>",
            )

    toks = text_spans(documents).selectExpr(
        "doc_id", "span_idx", "offset", f"{mention_tokens_sql()} AS tokens"
    )
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
    tokpos = toks.selectExpr(
        "doc_id",
        "span_idx",
        "offset",
        "size(tokens) AS n_toks",
        f"posexplode({zip_expr}) AS (pos, w)",
    ).selectExpr(
        "doc_id",
        "span_idx",
        "offset",
        "n_toks",
        "pos",
        "w.tokens AS tok",
        *[f"w.`{k}` AS t{k}" for k in range(1, max_n)],
    )
    window_cols = ["tok"] + [f"t{k}" for k in range(1, max_n)]
    ngram_case = "CASE n " + " ".join(
        f"WHEN {k} THEN "
        + ("tok" if k == 1 else f"concat_ws(' ', {', '.join(window_cols[:k])})")
        for k in range(1, max_n + 1)
    ) + " END"
    if gate_df is None:
        # group first tokens by identical length set: a handful of
        # distinct sets (e.g. {1}, {2,3}, {3,4}) → a short CASE whose
        # IN lists Catalyst compiles to hash-set InSet probes. A token
        # holding a quote or a backslash cannot occur in a document
        # (mention_tokens folds both), so its literal just never matches.
        by_set: dict[tuple[int, ...], list[str]] = {}
        for t, ls in ft_lengths.items():
            by_set.setdefault(tuple(sorted(ls)), []).append(t)
        n_cand = "CASE " + " ".join(
            f"WHEN tok IN ({', '.join(map(sql_string, sorted(ts)))}) "
            f"THEN array({', '.join(map(str, ls))})"
            for ls, ts in sorted(by_set.items())
        ) + " ELSE NULL END"
        gated = tokpos.selectExpr("*", f"{n_cand} AS ns").where("ns IS NOT NULL")
    else:
        # inner broadcast join IS the gate: non-starting positions drop
        gated = tokpos.join(_dict_side(gate_df), "tok")
    # explode the small exact-length array, then a TOP-LEVEL bound
    # check — no higher-order function, stays in whole-stage codegen.
    # The bound check also guarantees every token the selected CASE
    # branch reads is non-null (nulls only pad past the span's end).
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
        _dict_side(alias_dict), F.expr("ngram = alias_norm")
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
