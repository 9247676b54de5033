"""OBO parsing + ontology transform tests (toy OBO fixture shaped like
the reference's inline test ontology)."""

import pandas as pd
from pyspark.sql import functions as F

from cello_spark.sources import ontology as O

TOY_OBO = """format-version: 1.2

[Term]
id: TS:0000001
name: cell
def: "The basic unit." [src:def]
synonym: "cellule" EXACT []
synonym: "basic unit" BROAD []
xref: XX:111

[Term]
id: TS:0000002
name: animal cell
is_a: TS:0000001 ! cell
synonym: "metazoan cell" EXACT []

[Term]
id: TS:0000003
name: nucleus
relationship: part_of TS:0000002 ! animal cell

[Term]
id: TS:0000004
name: old thing
is_obsolete: true
is_a: TS:0000001

[Typedef]
id: part_of
name: part of

[Term]
id: TS:0000005
name: dangling child
is_a: TS:0009999 ! missing parent
"""


def test_parse_obo_text():
    terms, edges = O.parse_obo_text(TOY_OBO)
    by_id = {t["term_id"]: t for t in terms}
    assert set(by_id) == {"TS:0000001", "TS:0000002", "TS:0000003", "TS:0000004", "TS:0000005"}
    t1 = by_id["TS:0000001"]
    assert t1["name"] == "cell"
    assert t1["definition"] == "The basic unit."
    assert {s["syn_str"] for s in t1["synonyms"]} == {"cellule", "basic unit"}
    assert {s["syn_type"] for s in t1["synonyms"]} == {"EXACT", "BROAD"}
    assert t1["xrefs"] == ["XX:111"]
    assert by_id["TS:0000004"]["is_obsolete"] is True
    # trailing '!' comments stripped from edge targets
    assert {(e["src"], e["dst"], e["rel"]) for e in edges} == {
        ("TS:0000002", "TS:0000001", "is_a"),
        ("TS:0000003", "TS:0000002", "part_of"),
        ("TS:0000004", "TS:0000001", "is_a"),
        ("TS:0000005", "TS:0009999", "is_a"),
    }


def test_obo_to_dataframes_drops_dangling(spark):
    terms, edges = O.obo_to_dataframes(spark, [TOY_OBO])
    e = {(r.src, r.dst, r.rel) for r in edges.collect()}
    # dangling parent TS:0009999 dropped
    assert ("TS:0000005", "TS:0009999", "is_a") not in e
    assert ("TS:0000002", "TS:0000001", "is_a") in e
    assert terms.count() == 5


def test_parse_obo_exclude_obsolete():
    terms, _ = O.parse_obo_text(TOY_OBO, include_obsolete=False)
    assert all(not t["is_obsolete"] for t in terms)
    assert len(terms) == 4


def test_inverse_edges(spark):
    _, edges = O.obo_to_dataframes(spark, [TOY_OBO])
    inv = O.with_inverse_edges(edges)
    got = {(r.src, r.dst, r.rel) for r in inv.collect()}
    assert ("TS:0000001", "TS:0000002", "inv_is_a") in got
    assert ("TS:0000002", "TS:0000003", "inv_part_of") in got


def test_filter_obsolete(spark):
    terms, edges = O.obo_to_dataframes(spark, [TOY_OBO])
    live_t, live_e = O.filter_obsolete(terms, edges)
    assert live_t.filter(F.col("term_id") == "TS:0000004").count() == 0
    assert live_e.filter(F.col("src") == "TS:0000004").count() == 0


def test_restrict_id_spaces(spark, onto):
    terms = spark.createDataFrame(onto.terms)
    extra = spark.createDataFrame([("ZZ:123", "alien", None, [], [], False)], O.TERMS_SCHEMA)
    mixed = terms.unionByName(extra)
    kept = O.restrict_id_spaces(mixed, ["CS"])
    assert kept.filter(F.col("term_id").startswith("ZZ")).count() == 0
    assert kept.count() == terms.count()


def test_enrich_synonyms(spark):
    terms, _ = O.obo_to_dataframes(spark, [TOY_OBO])
    extra = spark.createDataFrame(
        [("TS:0000001", "building block")], "term_id string, syn_str string"
    )
    enriched = O.enrich_synonyms(terms, extra)
    row = enriched.filter(F.col("term_id") == "TS:0000001").collect()[0]
    assert {(s.syn_str, s.syn_type) for s in row.synonyms} >= {
        ("building block", "ENRICHED")
    }
    # untouched terms keep their synonyms
    other = enriched.filter(F.col("term_id") == "TS:0000002").collect()[0]
    assert {s.syn_str for s in other.synonyms} == {"metazoan cell"}


def test_apply_patch_and_triples(spark, onto):
    edges = spark.createDataFrame(onto.edges)
    patch = spark.createDataFrame(onto.patch_edges)
    patched = O.apply_patch(edges, patch)
    assert patched.count() == edges.count() + patch.count()
    triples = O.ontology_triples(O.with_inverse_edges(patched))
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert preds == {"is_a", "part_of", "located_in"}  # no inv_* leak
    # patch edge present as triple
    assert (
        triples.filter(
            (F.col("subj") == "CS:0000060") & (F.col("obj") == "CS:0000010")
        ).count()
        == 1
    )


def test_restrict_to_roots(spark, onto):
    from cello_spark.operators.graph import transitive_closure

    terms = spark.createDataFrame(onto.terms)
    edges = spark.createDataFrame(onto.edges)
    closure = transitive_closure(edges, rels=("is_a",))
    t, e = O.restrict_to_roots(terms, edges, closure, ["CS:0000020"])  # lymphocyte
    kept = {r.term_id for r in t.collect()}
    assert "CS:0000020" in kept and "CS:0000030" in kept and "CS:0000040" in kept
    assert "CS:0000033" not in kept  # monocyte is not under lymphocyte
    assert e.filter(~F.col("src").isin(list(kept)) | ~F.col("dst").isin(list(kept))).count() == 0


def test_alias_dictionary(spark, onto):
    terms = spark.createDataFrame(onto.terms)
    d = O.alias_dictionary(terms)
    rows = {(r.alias_norm, r.term_id) for r in d.collect()}
    assert ("t cell", "CS:0000030") in rows
    assert ("t cell (syn)", "CS:0000030") in rows  # EXACT synonym, normalized
    # BROAD uppercase synonym normalizes to same lowercase string
    assert ("monocyte", "CS:0000033") in rows


def test_rename_to_names(spark, onto):
    from cello_spark.sources.ontology import rename_to_names

    terms = spark.createDataFrame(
        onto.terms[["term_id", "name"]]
    )
    df = spark.createDataFrame(
        [(onto.terms.term_id.iloc[0],), ("NOPE:123",)], "subj string"
    )
    got = {r["subj"] for r in rename_to_names(df, terms, "subj").collect()}
    first = onto.terms.iloc[0]
    assert f"{first['name']} ({first['term_id']})" in got
    assert "NOPE:123" in got


def test_duplicate_term_edges_follow_winning_file(spark):
    """'later files win' must apply to a term's edges too: the
    superseded definition's relationships may not leak through."""
    from cello_spark.sources.ontology import obo_to_dataframes

    f1 = """[Term]
id: CS:1
name: one
is_a: CS:A

[Term]
id: CS:A
name: a
"""
    f2 = """[Term]
id: CS:1
name: one v2
is_a: CS:B

[Term]
id: CS:B
name: b
"""
    terms, edges = obo_to_dataframes(spark, [f1, f2])
    got = {(r.src, r.dst) for r in edges.collect()}
    assert ("CS:1", "CS:B") in got
    assert ("CS:1", "CS:A") not in got
    names = {r.term_id: r.name for r in terms.collect()}
    assert names["CS:1"] == "one v2"


def test_enrich_synonyms_null_synonyms_column(spark):
    """A term with a NULL synonyms column still receives the patch
    (concat(NULL, x) is NULL in Spark — must coalesce first)."""
    from cello_spark.sources.ontology import TERMS_SCHEMA, enrich_synonyms

    terms = spark.createDataFrame(
        [("CS:9", "nine", None, None, None, False)], TERMS_SCHEMA
    )
    extra = spark.createDataFrame(
        [("CS:9", "niner")], "term_id string, syn_str string"
    )
    out = enrich_synonyms(terms, extra).collect()[0]
    assert [(s.syn_str, s.syn_type) for s in out.synonyms] == [
        ("niner", "ENRICHED")
    ]


def test_ontology_from_obos_merge_rules():
    """Driver-side multi-OBO adapter mirrors obo_to_dataframes: later
    files win term AND edge definitions, dangling edges drop, and
    id_spaces restriction re-drops newly dangling edges."""
    from cello_spark.sources.ontology import ontology_from_obos

    f1 = """[Term]
id: CS:1
name: one v1
is_a: CS:A

[Term]
id: CS:A
name: a

[Term]
id: UO:7
name: unit seven
is_a: CS:A
"""
    f2 = """[Term]
id: CS:1
name: one v2
is_a: CS:B

[Term]
id: CS:B
name: b
is_a: CS:MISSING
"""
    onto = ontology_from_obos([f1, f2])
    names = dict(zip(onto.terms.term_id, onto.terms.name))
    assert names["CS:1"] == "one v2"  # later file wins
    got = {(r.src, r.dst) for r in onto.edges.itertuples(index=False)}
    assert ("CS:1", "CS:B") in got and ("CS:1", "CS:A") not in got
    assert ("CS:B", "CS:MISSING") not in got  # dangling dropped
    assert ("UO:7", "CS:A") in got  # cross-id-space edge survives
    # id-space restrict: UO-only keeps UO terms, drops the now-dangling
    # cross-space edge
    uo = ontology_from_obos([f1, f2], id_spaces=["UO"])
    assert set(uo.terms.term_id) == {"UO:7"}
    assert len(uo.edges) == 0
    assert uo.labels == ["UO:7"]


def test_parse_obo_duplicate_stanza_later_wins_edges():
    """A term id duplicated WITHIN one file keeps only the later
    stanza's term row AND edges — matching the reference's
    id_to_term[term.id] = term per-stanza replacement
    (ontology_graph.py:416), which drops the earlier Term object's
    relationships with it."""
    from cello_spark.sources.ontology import parse_obo_text

    text = """[Term]
id: CS:1
name: one v1
is_a: CS:A

[Term]
id: CS:A
name: a

[Term]
id: CS:1
name: one v2
is_a: CS:B

[Term]
id: CS:B
name: b
"""
    terms, edges = parse_obo_text(text)
    names = {t["term_id"]: t["name"] for t in terms}
    assert len(terms) == 3  # CS:1 deduped
    assert names["CS:1"] == "one v2"
    got = {(e["src"], e["dst"]) for e in edges}
    assert ("CS:1", "CS:B") in got
    assert ("CS:1", "CS:A") not in got  # superseded stanza's edge gone


def test_three_way_merge_precedence_and_cross_space_xrefs():
    """Three-project merge (the config-17-style load shape): the
    LAST file's re-definitions win over both earlier files — name AND
    edges — while cross-space xrefs from the third id space survive
    the merge and put the xref-ed terms into shared canonicalization
    components."""
    from cello_spark import oracle
    from cello_spark.plans.kg import prepare_ontology
    from cello_spark.sources.fixtures import synthetic_obo_text
    from cello_spark.sources.ontology import ontology_from_obos

    f1 = "\n".join(
        [
            "format-version: 1.2", "",
            "[Term]", "id: AA:0000001", "name: aa root", "",
            "[Term]", "id: AA:0000002", "name: aa child",
            "is_a: AA:0000001", "",
            "[Term]", "id: AA:0000003", "name: aa other",
            "is_a: AA:0000001", "",
        ]
    )
    f2 = "\n".join(
        [
            "format-version: 1.2", "",
            "[Term]", "id: BB:0000001", "name: bb root", "",
            # second file also re-defines AA:0000003 — but file 3
            # must override THIS re-definition too
            "[Term]", "id: AA:0000003", "name: aa other (bb revision)",
            "is_a: BB:0000001", "",
        ]
    )
    f3 = synthetic_obo_text(
        id_space="ZZ",
        n_terms=12,
        xref_targets=["AA:0000002"],
        overrides=[
            {
                "term_id": "AA:0000003",
                "name": "aa other (zz revision)",
                "is_a": ["ZZ:0000000"],
            }
        ],
    )
    onto = ontology_from_obos([f1, f2, f3])
    by_id = dict(zip(onto.terms.term_id, onto.terms.name))
    # later-file-wins through BOTH earlier definitions
    assert by_id["AA:0000003"] == "aa other (zz revision)"
    e = {(r.src, r.dst, r.rel) for r in onto.edges.itertuples(index=False)}
    assert ("AA:0000003", "ZZ:0000000", "is_a") in e
    # the superseded files' edges for the overridden id are dropped
    assert ("AA:0000003", "AA:0000001", "is_a") not in e
    assert ("AA:0000003", "BB:0000001", "is_a") not in e
    # non-overridden terms from every space survive
    assert "AA:0000002" in by_id and "BB:0000001" in by_id
    assert "ZZ:0000005" in by_id
    # cross-space xref: the ZZ term carrying xref AA:0000002 lands in
    # the same canonicalization component as the AA term
    prep = prepare_ontology(onto)
    m = dict(zip(prep["canonical_map"].node, prep["canonical_map"].canonical))
    zz_with_xref = [
        t.term_id
        for t in onto.terms.itertuples(index=False)
        if "AA:0000002" in list(t.xrefs)
    ]
    assert zz_with_xref, "xref was not attached"
    assert m[zz_with_xref[0]] == m["AA:0000002"] == "AA:0000002"
    # the shared-component membership matches the pure oracle CC
    pairs = [(zz_with_xref[0], "AA:0000002")]
    cc = oracle.connected_components(pairs)
    assert cc[zz_with_xref[0]] == cc["AA:0000002"]
