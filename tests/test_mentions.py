"""Mention detection: dictionary hits, span invariant, skew salting."""

from pyspark.sql import functions as F

from cello_spark.operators import mentions
from cello_spark.operators.mentions import (
    detect_mentions,
    doc_mention_features,
    mention_counts_salted,
    text_spans,
)
from cello_spark.operators.skew import salted_join
from cello_spark.sources.ontology import alias_dictionary

DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _mini_docs(spark):
    rows = [
        (
            "d1",
            [
                {"kind": "text", "text": "We observed T cell and B cell markers", "media_ref": "", "offset": 0},
                {"kind": "image", "text": "", "media_ref": "media://img/1", "offset": 40},
                {"kind": "text", "text": "MONOCYTE counts were high", "media_ref": "", "offset": 41},
            ],
        ),
        (
            "d2",
            [
                {"kind": "table", "text": "", "media_ref": "media://tbl/1", "offset": 0},
                {"kind": "text", "text": "nothing relevant here", "media_ref": "", "offset": 1},
            ],
        ),
    ]
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_text_spans_keeps_only_text(spark):
    docs = _mini_docs(spark)
    ts = text_spans(docs).collect()
    assert {(r.doc_id, r.span_idx) for r in ts} == {("d1", 0), ("d1", 2), ("d2", 1)}


def test_detect_mentions(spark, onto):
    docs = _mini_docs(spark)
    terms = spark.createDataFrame(onto.terms)
    m = detect_mentions(docs, alias_dictionary(terms))
    got = {(r.doc_id, r.term_id) for r in m.collect()}
    assert ("d1", "CS:0000030") in got  # T cell
    assert ("d1", "CS:0000031") in got  # B cell
    assert ("d1", "CS:0000033") in got  # MONOCYTE → monocyte (BROAD syn)
    assert not any(d == "d2" for d, _ in got)


def test_detect_mentions_punctuated_text(spark, onto):
    """Aliases adjacent to punctuation must match: the mention path
    folds punctuation (except ()+-, meaningful in aliases) to spaces —
    round-1 ADVICE flagged the regex-free tokenizer's silent recall
    regression on real text."""
    rows = [
        (
            "p1",
            [
                {"kind": "text", "text": "elevated T cell, and B cell.", "media_ref": "", "offset": 0},
                {"kind": "text", "text": 'counts: "monocyte"; also T cell!', "media_ref": "", "offset": 30},
            ],
        ),
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    terms = spark.createDataFrame(onto.terms)
    m = detect_mentions(docs, alias_dictionary(terms))
    got = {(r.span_idx, r.term_id) for r in m.collect()}
    assert (0, "CS:0000030") in got  # "T cell," → t cell
    assert (0, "CS:0000031") in got  # "B cell." → b cell
    assert (1, "CS:0000033") in got  # '"monocyte";' → monocyte
    assert (1, "CS:0000030") in got  # "T cell!" → t cell


def test_gate_join_equals_gate_case(spark, onto, small_world, monkeypatch):
    """The explode+broadcast-join first-token gate (large-dictionary
    fallback) must produce exactly the CASE/IN gate's mentions."""
    docs = spark.createDataFrame(small_world["documents"])
    terms = spark.createDataFrame(onto.terms)
    adict = alias_dictionary(terms)
    a = detect_mentions(docs, adict)
    # no first-token count fits the CASE/IN gate → join gate
    monkeypatch.setattr(mentions, "MAX_CASE_GATE_TOKENS", 0)
    b = detect_mentions(docs, adict)
    ka = {tuple(r) for r in a.collect()}
    kb = {tuple(r) for r in b.collect()}
    assert ka == kb and len(ka) > 0


def test_gate_join_large_synthetic_dictionary(spark):
    """10⁵-alias dictionary: the join gate runs without building any
    driver-side literal, and finds the planted aliases."""
    import pandas as pd

    n = 100_000
    adict_pdf = pd.DataFrame(
        {
            "alias_norm": [f"syntok{i} marker" for i in range(n)],
            "term_id": [f"T:{i:06d}" for i in range(n)],
        }
    )
    adict = spark.createDataFrame(adict_pdf)
    rows = [
        (
            "big1",
            [
                {
                    "kind": "text",
                    "text": "we saw syntok42 marker and syntok99999 marker today",
                    "media_ref": "",
                    "offset": 0,
                }
            ],
        ),
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    m = detect_mentions(docs, adict)  # auto → join above 10^4 tokens
    got = {r.term_id for r in m.collect()}
    assert got == {"T:000042", "T:099999"}


def test_mentions_on_fixture_world(spark, onto, small_world):
    docs = spark.createDataFrame(small_world["documents"])
    terms = spark.createDataFrame(onto.terms)
    m = detect_mentions(docs, alias_dictionary(terms)).cache()
    # every generated doc embeds ≥1 mention of its true lineage
    n_docs_with = m.select("doc_id").distinct().count()
    assert n_docs_with == len(small_world["documents"])
    # mention features aggregate
    feats = doc_mention_features(m)
    row = feats.orderBy("doc_id").first()
    assert row.n_mentions >= 1 and len(row.mentioned_terms) >= 1
    # salted counts equal plain counts (same totals, skew-safe path)
    plain = {r["term_id"]: r["cnt"] for r in m.groupBy("term_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    salted = {r["term_id"]: r["n_mentions"] for r in mention_counts_salted(m, n_salts=8).collect()}
    assert plain == salted


def test_span_invariant_untouched(spark, small_world):
    """Mention detection never mutates documents: per-row span sequence
    (kind, text, media_ref, order) is byte-identical."""
    docs = spark.createDataFrame(small_world["documents"])
    before = docs.select("doc_id", F.to_json("spans").alias("j")).collect()
    # run the stage; documents df is untouched by construction
    terms_pdf = small_world["documents"]  # noqa: F841
    after = docs.select("doc_id", F.to_json("spans").alias("j")).collect()
    assert sorted(before) == sorted(after)


def test_salted_join_equals_plain_join(spark):
    fact = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.col("id"), F.lit(3)).cast("string").alias("key"),
    )
    dim = spark.createDataFrame(
        [("0", "a"), ("1", "b"), ("2", "c")], "key string, val string"
    )
    plain = fact.join(dim, "key").groupBy("val").count()
    salted = salted_join(fact, dim, "key", k=4, salt_from="doc_id").groupBy("val").count()
    assert {(r.val, r["count"]) for r in plain.collect()} == {
        (r.val, r["count"]) for r in salted.collect()
    }


def test_punctuated_alias_matches_via_prepare_ontology(spark, onto):
    """prepare_ontology's driver-side alias normalization must share
    the mention_tokens punctuation fold: an alias stored as
    't-cell, alpha' has to match document text 't-cell alpha.'."""
    import copy

    from cello_spark.plans.kg import prepare_ontology

    onto2 = copy.deepcopy(onto)
    tid = onto2.terms.iloc[0]["term_id"]
    onto2.terms.at[0, "synonyms"] = list(onto2.terms.iloc[0]["synonyms"]) + [
        {"syn_str": "t-cell, alpha", "syn_type": "EXACT"}
    ]
    prep = prepare_ontology(onto2)
    alias_df = spark.createDataFrame(prep["alias_dict"])
    # the stored form is the folded one (comma gone, hyphen kept)
    assert ("t-cell alpha", tid) in {
        (r.alias_norm, r.term_id) for r in alias_df.collect()
    }
    docs = spark.createDataFrame(
        [
            (
                "dx",
                [
                    {
                        "kind": "text",
                        "text": "We observed t-cell, alpha. clearly",
                        "media_ref": None,
                        "offset": 0,
                    }
                ],
            )
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = {
        (r.doc_id, r.term_id, r.alias_norm)
        for r in detect_mentions(docs, alias_df).collect()
    }
    assert ("dx", tid, "t-cell alpha") in got


def test_million_alias_dictionary_smoke(spark):
    """10⁶-row Spark dictionary: collected once, 10⁶ first tokens take
    the join gate, planted aliases found."""
    from pyspark.sql import functions as F

    adict = spark.range(1_000_000).select(
        F.concat(F.lit("bigtok"), F.col("id"), F.lit(" marker")).alias(
            "alias_norm"
        ),
        F.concat(F.lit("T:"), F.col("id")).alias("term_id"),
    )
    rows = [
        (
            "big1",
            [
                {
                    "kind": "text",
                    "text": "bigtok31337 marker next to bigtok999999 marker",
                    "media_ref": "",
                    "offset": 0,
                }
            ],
        ),
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    m = detect_mentions(docs, adict)
    got = {r.term_id for r in m.collect()}
    assert got == {"T:31337", "T:999999"}


def test_pandas_dictionary_matches_spark_dictionary(spark, onto, small_world, monkeypatch):
    """The driver-held pandas dictionary (prepare_ontology's) gives the
    rows of the same dictionary as a Spark DataFrame, through the CASE/IN
    gate and through the join gate. Planning with the Spark dictionary
    runs exactly one job (its collect), with the pandas one none."""
    from cello_spark.plans.kg import prepare_ontology

    docs = spark.createDataFrame(small_world["documents"])
    pdf = prepare_ontology(onto)["alias_dict"]
    sdf = spark.createDataFrame(pdf)
    sc = spark.sparkContext

    def plan_jobs(d, group):
        sc.setJobGroup(group, "plan only")
        try:
            m = detect_mentions(docs, d)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return m, len(sc.statusTracker().getJobIdsForGroup(group))

    for max_case in (mentions.MAX_CASE_GATE_TOKENS, 0):
        monkeypatch.setattr(mentions, "MAX_CASE_GATE_TOKENS", max_case)
        want, n_jobs = plan_jobs(sdf, f"spark_dictionary_plan_{max_case}")
        assert n_jobs == 1, max_case
        want = sorted(map(tuple, want.collect()))
        got, n_jobs = plan_jobs(pdf, f"pandas_dictionary_plan_{max_case}")
        assert n_jobs == 0, max_case
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert ("INSET" in plan or " IN (" in plan) == (max_case > 0), max_case
        assert want and sorted(map(tuple, got.collect())) == want, max_case


def test_quote_backslash_and_tab_aliases_match_nothing(spark, onto, small_world):
    """Document tokens never hold a backslash, a quote or a tab
    (mention_tokens folds them to spaces), so aliases holding them match
    nothing, and they must not break the CASE/IN gate's literals: a
    token ending in a backslash once escaped its closing quote
    (ParseException)."""
    import pandas as pd

    from cello_spark.plans.kg import prepare_ontology

    docs = spark.createDataFrame(small_world["documents"])
    pdf = prepare_ontology(onto)["alias_dict"]
    odd = pd.DataFrame(
        {
            "alias_norm": ["c\\ cell", "it's cell", "t\tcell", "cell\\", "\\'", "t\\"],
            "term_id": pdf.term_id.iloc[0],
        }
    )
    with_odd = pd.concat([pdf, odd], ignore_index=True)
    want = sorted(
        map(tuple, detect_mentions(docs, spark.createDataFrame(pdf)).collect())
    )
    assert want
    for d in (spark.createDataFrame(with_odd), with_odd):
        assert sorted(map(tuple, detect_mentions(docs, d).collect())) == want
