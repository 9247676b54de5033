"""Text-analysis column functions for large-scale training-data
pipelines. Everything here is built-in `pyspark.sql.functions`
compositions (JVM-side, whole-stage codegen) — no Python in the hot
path. Each returns a Column usable in select/withColumn.

Operators: token counting (whitespace + BPE-ish regex), language ID
(stopword-ratio heuristic), quality scoring (length / punctuation /
stopword ratios), document fingerprinting (md5 canonical + rolling
hash).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# BPE-ish word/number/punct splitter: words, numbers, or single
# non-space symbols each count as a token
_BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# tiny embedded stopword lists (top function words per language)
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "a", "is", "that", "for", "it", "with", "as", "was", "on", "are"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf", "ein", "eine", "nicht", "im", "zu"],
    "fr": ["le", "la", "les", "et", "des", "est", "un", "une", "du", "dans", "pour", "que", "qui", "sur", "avec"],
    "es": ["el", "la", "los", "las", "y", "es", "de", "un", "una", "en", "que", "por", "con", "para", "del"],
}


def tokens(col: str | Column = "text") -> Column:
    """Lowercased whitespace tokens, empties removed.

    Deliberately regex-free: measured on this Spark build,
    `regexp_replace`/regex-split over a 1M-doc corpus runs ~8x slower
    than a literal-space split AND anti-scales with task parallelism
    (23s @ 4 cores → 41s @ 32 cores, java.util.regex contention),
    while translate + literal split scales cleanly (4.9s → 2.8s).
    Tabs/newlines are folded to spaces with translate (non-regex),
    then split on a single space, empties dropped.

    Empties drop via `array_remove`, not `filter(…, t -> t != '')`:
    higher-order-function lambdas evaluate interpreted per element,
    and this expression runs once per text span — measured
    (BENCH/BASELINE.md "Tokenizer drop-empty shape", 4M docs) the
    HOF form costs 75.6 JVM core-sec at local[8] vs 52.3 for
    array_remove (identical output), and 99.0 vs 78.0 at local[32]."""
    c = F.col(col) if isinstance(col, str) else col
    folded = F.translate(F.lower(c), "\t\n\r", "   ")
    return F.array_remove(F.split(folded, " "), "")


# ASCII punctuation folded to spaces in the MENTION path — everything
# except ( ) + - which are meaningful inside ontology aliases
# ("cd8+ t cell", "t-cell", "nk cell (human)"): the reference's gene /
# synonym matching normalizes with [^a-z0-9()+\- ] -> space
# (cello/cello.py:925-1004 probe normalization). Kept as an explicit
# literal so `translate` (non-regex, codegen-friendly) can do the fold.
_MENTION_FOLD = "!\"#$%&'*,./:;<=>?@[\\]^_`{|}~"


def sql_string(s: str) -> str:
    """`s` as a Spark SQL string literal. The backslash is escaped
    before the quote: a value ending in a backslash would otherwise
    escape the closing quote."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def mention_tokens_sql(col: str = "text") -> str:
    """`mention_tokens` as a Spark SQL expression over the column (or
    struct field path) `col`, for plans built from SQL strings."""
    fold = "\t\n\r" + _MENTION_FOLD
    return (
        f"array_remove(split(translate(lower({col}), {sql_string(fold)}, "
        f"{sql_string(' ' * len(fold))}), ' '), '')"
    )


def mention_tokens(col: str = "text") -> Column:
    """Tokenizer for the mention-detection path: like `tokens` but
    additionally folds ASCII punctuation (except ()+-) to spaces, so
    aliases adjacent to punctuation ('t cell,' / 'monocyte.') still
    match the alias dictionary. Same regex-free translate+split shape
    as `tokens` (see its measured rationale); the extra translate is
    one more codegen'd pass over the string, no regex engine. Empties
    drop via `array_remove` — see the HOF-vs-codegen measurement in
    `tokens`."""
    return F.expr(mention_tokens_sql(col))


def normalize_alias(col: str) -> Column:
    """Dictionary-side normalization matching `mention_tokens`: apply
    to alias strings when building alias_dict so both sides of the
    mention join share one canonical form."""
    return F.expr(f"array_join({mention_tokens_sql(col)}, ' ')")


def token_count_ws(col: str | Column = "text") -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def token_count_bpe(col: str | Column = "text") -> Column:
    """BPE-ish token count: words / numbers / individual symbols.
    `regexp_count` keeps it one codegen'd expression."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_BPE_TOKEN_RE))


def stopword_ratio(col: str | Column = "text", lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of `lang`."""
    t = tokens(col)
    hits = F.size(
        F.filter(t, lambda x: x.isin(*STOPWORDS[lang]))
    )
    return F.when(F.size(t) > 0, hits / F.size(t)).otherwise(F.lit(0.0))


def detect_language(col: str | Column = "text") -> Column:
    """Heuristic language ID: argmax stopword hit-ratio over the
    embedded lists; 'und' (undetermined) when nothing matches. A
    struct-max trick keeps it in one expression: greatest of
    (ratio, lang) structs compares lexicographically, ratio first,
    reversed-lang second for a deterministic tie-break."""
    t = tokens(col)
    n = F.size(t)
    scored = [
        F.struct(
            F.when(
                n > 0,
                F.size(F.filter(t, lambda x: x.isin(*words))) / n,
            )
            .otherwise(F.lit(0.0))
            .alias("ratio"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(STOPWORDS.items())
    ]
    best = F.greatest(*scored)
    return F.when(best["ratio"] > 0.0, best["lang"]).otherwise(F.lit("und"))


def punct_ratio(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def mean_word_length(col: str | Column = "text") -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, total / F.size(t)).otherwise(F.lit(0.0))


def quality_score(col: str | Column = "text", lang: str = "en") -> Column:
    """Composite [0,1] quality heuristic: rewards reasonable length,
    healthy stopword ratio, moderate punctuation, plausible word
    lengths. Deterministic arithmetic only (oracle-SQL friendly)."""
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    sw = stopword_ratio(col, lang)
    sw_score = F.least(sw / F.lit(0.3), F.lit(1.0))
    p = punct_ratio(col)
    punct_score = F.when(p < 0.2, F.lit(1.0)).otherwise(
        F.greatest(F.lit(0.0), F.lit(1.0) - (p - 0.2) * 2.0)
    )
    mwl = mean_word_length(col)
    word_score = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.4))
    return (len_score + sw_score + punct_score + word_score) / F.lit(4.0)


def normalize_text(col: str | Column = "text") -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse
    whitespace (space/tab/newline), strip. Regex-free (see `tokens`)."""
    return F.array_join(tokens(col), " ")


def fingerprint_md5(col: str | Column = "text") -> Column:
    """Stable content fingerprint: md5 of the normalized text.
    (md5 exists in both Spark and DuckDB → oracle-comparable.)"""
    return F.md5(normalize_text(col))


def fingerprint_rolling(
    col: str | Column = "text",
    base: int = 1_000_003,
    prime: int = 2_147_483_647,  # 2^31 - 1: keeps acc*base < 2^62 (no ANSI overflow)
) -> Column:
    """Polynomial rolling hash over normalized tokens in GF(2^31-1):
    acc = (acc * base + xxhash64(token) mod p) mod p. Cheap per-token,
    JVM-side, overflow-free under ANSI mode; engine-specific hash →
    verified by determinism tests, not SQL oracle."""
    t = tokens(col)
    p = F.lit(prime).cast("long")
    return F.aggregate(
        t,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(
            acc * F.lit(base).cast("long") + F.pmod(F.xxhash64(x), p), p
        ),
    )
