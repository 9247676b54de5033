"""Ontology ingest: OBO parsing + terms/edges DataFrames.

The reference parses OBO stanza-by-stanza into Term objects
(cello/onto_lib_py3/ontology_graph.py:394-482 parse loop, :486-692
entity parse; synonyms :525-541, xrefs :563-569, obsolete :585-593,
relationships / is_a :504-506) then patches the graph with hardcoded
edges (cello/the_ontology.py:9-148) and synthesizes inverse edges
(ontology_graph.py:344-387).

Ontology files are megabytes (CL has 6,634 [Term] stanzas) — parsing
is a driver-side pure-Python pass producing two DataFrames:

    terms(term_id, name, definition, synonyms: array<struct<syn_str,
          syn_type>>, xrefs: array<string>, is_obsolete)
    edges(src=child, dst=parent, rel)

which then flow through Spark-side transforms (patch union, inverse
synthesis, obsolete / id-space filters, synonym enrichment, subgraph
restriction). The closure tables built on top (operators/graph.py) are
the broadcast side of every document-scale join, so keeping this stage
driver-side is the right scale call (SURVEY §7.4).
"""

from __future__ import annotations

import re
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

TERMS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("definition", T.StringType(), True),
        T.StructField(
            "synonyms",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("syn_str", T.StringType()),
                        T.StructField("syn_type", T.StringType()),
                    ]
                )
            ),
            True,
        ),
        T.StructField("xrefs", T.ArrayType(T.StringType()), True),
        T.StructField("is_obsolete", T.BooleanType(), False),
    ]
)

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("rel", T.StringType(), False),
    ]
)

_SYN_RE = re.compile(r'"(.+)"\s*(\w*)')
_DEF_RE = re.compile(r'"(.*)"')

# relationship vocabulary observed in the reference ontology graph
KNOWN_RELS = (
    "is_a",
    "part_of",
    "located_in",
    "develops_from",
    "capable_of",
    "has_part",
    "lacks_part",
)

INVERTIBLE_RELS = ("is_a", "part_of", "located_in")


def _strip_comment(value: str) -> str:
    # OBO trailing comments start with ' ! '
    return value.split(" ! ")[0].strip()


def parse_obo_text(text: str, include_obsolete: bool = True) -> tuple[list[dict], list[dict]]:
    """Parse OBO content into (term_rows, edge_rows). Stanza-chunked:
    split on [Term] headers, key:value lines inside."""
    term_rows: list[dict | None] = []
    edge_rows: list[dict] = []
    _seen_terms: dict[str, int] = {}
    stanza: list[str] | None = None

    def flush(lines: list[str]) -> None:
        tid = None
        name = None
        definition = None
        synonyms: list[dict] = []
        xrefs: list[str] = []
        obsolete = False
        edges: list[tuple[str, str]] = []
        for raw in lines:
            line = raw.strip()
            if not line or line.startswith("!"):
                continue
            if ":" not in line:
                continue
            key, _, val = line.partition(":")
            key = key.strip()
            val = _strip_comment(val)
            if key == "id":
                tid = val
            elif key == "name":
                name = val
            elif key == "def":
                m = _DEF_RE.search(val)
                definition = m.group(1) if m else val
            elif key == "synonym":
                m = _SYN_RE.search(val)
                if m:
                    synonyms.append(
                        {"syn_str": m.group(1), "syn_type": m.group(2) or "RELATED"}
                    )
            elif key == "xref":
                if val:
                    xrefs.append(val.split()[0])
            elif key == "is_obsolete":
                obsolete = val.lower() == "true"
            elif key == "is_a":
                edges.append((val.split()[0], "is_a"))
            elif key == "relationship":
                parts = val.split()
                if len(parts) >= 2 and parts[0] in KNOWN_RELS:
                    edges.append((parts[1], parts[0]))
        if tid is None:
            return
        if obsolete and not include_obsolete:
            return
        # later-stanza-wins WITHIN a file, edges included: the
        # reference's parse_obo assigns id_to_term[term.id] = term per
        # stanza, replacing the earlier Term OBJECT and with it its
        # relationships (ontology_graph.py:416) — so a duplicated
        # [Term] id must not union the superseded stanza's edges
        if tid in _seen_terms:
            term_rows[_seen_terms[tid]] = None  # compacted after parse
            edge_rows[:] = [e for e in edge_rows if e["src"] != tid]
        _seen_terms[tid] = len(term_rows)
        term_rows.append(
            {
                "term_id": tid,
                "name": name,
                "definition": definition,
                "synonyms": synonyms,
                "xrefs": xrefs,
                "is_obsolete": obsolete,
            }
        )
        for dst, rel in edges:
            edge_rows.append({"src": tid, "dst": dst, "rel": rel})

    for raw in text.splitlines():
        if raw.strip() == "[Term]":
            if stanza is not None:
                flush(stanza)
            stanza = []
        elif raw.strip().startswith("[") and raw.strip().endswith("]"):
            if stanza is not None:
                flush(stanza)
            stanza = None  # non-Term stanza ([Typedef] etc.)
        elif stanza is not None:
            stanza.append(raw)
    if stanza is not None:
        flush(stanza)
    return [r for r in term_rows if r is not None], edge_rows


def obo_to_dataframes(
    spark: SparkSession, obo_texts: Iterable[str], include_obsolete: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Multi-OBO union (reference parse_obos, ontology_graph.py:344-387):
    later files win on duplicate term ids; dangling parent edges are
    dropped."""
    all_terms: dict[str, dict] = {}
    term_file: dict[str, int] = {}
    edges_by_file: list[list[dict]] = []
    for fi, text in enumerate(obo_texts):
        t_rows, e_rows = parse_obo_text(text, include_obsolete=include_obsolete)
        for r in t_rows:
            all_terms[r["term_id"]] = r
            term_file[r["term_id"]] = fi
        edges_by_file.append(e_rows)
    # "later files win" applies to a term's EDGES too: keep only edges
    # emitted by the file whose definition of the src term won, so a
    # superseded definition's relationships don't leak into the union
    all_edges = [
        e
        for fi, rows in enumerate(edges_by_file)
        for e in rows
        if term_file.get(e["src"]) == fi
    ]
    terms = spark.createDataFrame(list(all_terms.values()), TERMS_SCHEMA)
    edges = spark.createDataFrame(all_edges, EDGES_SCHEMA).dropDuplicates()
    # drop dangling: parent must exist as a term
    ids = terms.select(F.col("term_id").alias("dst"))
    edges = edges.join(ids, "dst", "left_semi")
    return terms, edges


# ---------------------------------------------------------------------------
# Spark-side ontology transforms
# ---------------------------------------------------------------------------


def apply_patch(edges: DataFrame, patch_edges: DataFrame) -> DataFrame:
    """Merge hand-maintained patch edges (reference the_ontology.py
    patch_the_ontology :106-148 unions ~18 hardcoded edges)."""
    return edges.unionByName(patch_edges.select("src", "dst", "rel")).dropDuplicates()


def with_inverse_edges(edges: DataFrame) -> DataFrame:
    """Synthesize inv_* edges for the invertible relations
    (ontology_graph.py:381-384)."""
    inv = (
        edges.filter(F.col("rel").isin(list(INVERTIBLE_RELS)))
        .select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.concat(F.lit("inv_"), F.col("rel")).alias("rel"),
        )
    )
    return edges.unionByName(inv).dropDuplicates()


def filter_obsolete(terms: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Drop obsolete terms and any edge touching them
    (ontology_graph.py:585-593)."""
    live = terms.filter(~F.col("is_obsolete"))
    ids_src = live.select(F.col("term_id").alias("src"))
    ids_dst = live.select(F.col("term_id").alias("dst"))
    e = edges.join(ids_src, "src", "left_semi").join(ids_dst, "dst", "left_semi")
    return live, e


def restrict_id_spaces(terms: DataFrame, id_spaces: list[str]) -> DataFrame:
    """Keep terms whose prefix (before ':') is in id_spaces
    (ontology_graph.py:571-581)."""
    return terms.filter(F.split(F.col("term_id"), ":")[0].isin(id_spaces))


def enrich_synonyms(terms: DataFrame, extra: DataFrame) -> DataFrame:
    """Add ENRICHED synonyms from a patch table (term_id, syn_str) —
    reference ontology_graph.py:229-257 loads term_to_extra_synonyms
    and appends with type ENRICHED."""
    extra_arr = extra.groupBy("term_id").agg(
        F.collect_list(
            F.struct(
                F.col("syn_str").alias("syn_str"),
                F.lit("ENRICHED").alias("syn_type"),
            )
        ).alias("extra_syns")
    )
    return (
        terms.join(extra_arr, "term_id", "left")
        .withColumn(
            "synonyms",
            F.when(
                F.col("extra_syns").isNotNull(),
                # coalesce: a NULL synonyms column (legal per
                # TERMS_SCHEMA for externally-loaded terms) would
                # otherwise null out concat and silently DROP the patch
                F.concat(
                    F.coalesce(
                        F.col("synonyms"),
                        F.array().cast(
                            "array<struct<syn_str:string,syn_type:string>>"
                        ),
                    ),
                    F.col("extra_syns"),
                ),
            ).otherwise(F.col("synonyms")),
        )
        .drop("extra_syns")
    )


def restrict_to_roots(
    terms: DataFrame, edges: DataFrame, closure: DataFrame, roots: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Keep only the roots and their recursive subterms; prune edges to
    the surviving id set (ontology_graph.py:259-283). `closure` is
    (descendant, ancestor) over is_a."""
    spark = terms.sparkSession
    roots_df = spark.createDataFrame([(r,) for r in roots], "ancestor string")
    kept = (
        closure.join(F.broadcast(roots_df), "ancestor", "left_semi")
        .select(F.col("descendant").alias("term_id"))
        .unionByName(roots_df.select(F.col("ancestor").alias("term_id")))
        .dropDuplicates()
    )
    t = terms.join(kept, "term_id", "left_semi")
    e = (
        edges.join(kept.withColumnRenamed("term_id", "src"), "src", "left_semi")
        .join(kept.withColumnRenamed("term_id", "dst"), "dst", "left_semi")
    )
    return t, e


def ontology_triples(edges: DataFrame) -> DataFrame:
    """Emit (child, rel, parent) triples for the non-inverse relations —
    the KG's schema layer."""
    return (
        edges.filter(~F.col("rel").startswith("inv_"))
        .select(
            F.col("src").alias("subj"),
            F.col("rel").alias("pred"),
            F.col("dst").alias("obj"),
        )
        .dropDuplicates()
    )


def rename_to_names(
    df: DataFrame, terms: DataFrame, col: str, out_col: str | None = None
) -> DataFrame:
    """O4 (cello_predict.py:182-194): term id column → human-readable
    '<name> (<id>)' via a broadcast join with the terms dim; ids with
    no term row pass through unchanged."""
    out_col = out_col or col
    dim = F.broadcast(
        terms.select(F.col("term_id").alias("__tid"), F.col("name").alias("__tname"))
    )
    return (
        df.join(dim, df[col] == F.col("__tid"), "left")
        .withColumn(
            out_col,
            F.when(
                F.col("__tname").isNotNull(),
                F.concat(F.col("__tname"), F.lit(" ("), F.col(col), F.lit(")")),
            ).otherwise(F.col(col)),
        )
        .drop("__tid", "__tname")
    )


def alias_dictionary(terms: DataFrame) -> DataFrame:
    """Normalized alias → term_id dictionary for mention detection:
    names + all synonym strings (the reference probes name_to_ids and
    synonym strings, ontology_graph.py:370-379, :525-541). Output
    (alias_norm, term_id); broadcast side of the mention join."""
    from cello_spark.functions.text import normalize_alias

    # normalize_alias applies the SAME punctuation-folding tokenization
    # as the document side (functions/text.py mention_tokens) so both
    # sides of the mention join share one canonical form
    names = terms.select(normalize_alias("name").alias("alias_norm"), "term_id")
    syns = terms.select(
        F.explode_outer("synonyms").alias("s"), "term_id"
    ).select(normalize_alias("s.syn_str").alias("alias_norm"), "term_id")
    return (
        names.unionByName(syns)
        .filter(F.col("alias_norm").isNotNull() & (F.col("alias_norm") != ""))
        .dropDuplicates()
    )


def ontology_from_obo(
    text: str, labels: list[str] | None = None, include_obsolete: bool = True
):
    """Production adapter: OBO text → the driver-side `Ontology`
    bundle `plans/kg.build_kg_pipeline` consumes (the same shape
    `sources/fixtures.make_ontology` builds synthetically; reference
    flow: onto_lib_py3/load_ontology.py parses the OBO the config
    names, then cello.py consumes the graph object).

    `labels` (terms with training data) defaults to every non-obsolete
    term in the file; pass the model's label list when one exists.
    Edges whose parent is not defined in the file are dropped —
    matching the multi-OBO merge's dangling-edge rule."""
    import pandas as pd

    from cello_spark.sources.fixtures import Ontology

    term_rows, edge_rows = parse_obo_text(text, include_obsolete)
    terms = pd.DataFrame(
        term_rows,
        columns=[
            "term_id", "name", "definition", "synonyms", "xrefs",
            "is_obsolete",
        ],
    )
    ids = set(terms.term_id)
    edges = pd.DataFrame(edge_rows, columns=["src", "dst", "rel"])
    if len(edges):
        edges = edges[
            edges.src.isin(ids) & edges.dst.isin(ids)
        ].drop_duplicates()
    patch = edges.iloc[0:0].copy()
    if labels is None:
        # guard the empty parse (e.g. a Typedef-only file): an empty
        # frame's boolean mask degenerates to column selection and
        # would raise an opaque AttributeError below
        labels = (
            sorted(terms[~terms.is_obsolete.astype(bool)].term_id)
            if len(terms)
            else []
        )
    return Ontology(
        terms=terms, edges=edges, patch_edges=patch, labels=list(labels)
    )


def ontology_from_obos(
    texts: list[str],
    labels: list[str] | None = None,
    include_obsolete: bool = True,
    id_spaces: list[str] | None = None,
):
    """Multi-OBO production adapter: several OBO files → ONE merged
    driver-side `Ontology` bundle, with the same union rules as the
    Spark-side `obo_to_dataframes` (reference parse_obos,
    ontology_graph.py:344-387): later files win on duplicate term ids
    — including the winning file's EDGES (a superseded definition's
    relationships don't leak) — and edges whose src or dst is not
    defined anywhere in the union are dropped. `id_spaces` optionally
    restricts the merged terms by id prefix (reference
    ontology_graph.py:571-581; config "17"-style multi-project loads
    list the id spaces to keep), re-dropping edges that dangle after
    the restriction."""
    import pandas as pd

    from cello_spark.sources.fixtures import Ontology

    all_terms: dict[str, dict] = {}
    term_file: dict[str, int] = {}
    edges_by_file: list[list[dict]] = []
    for fi, text in enumerate(texts):
        t_rows, e_rows = parse_obo_text(text, include_obsolete)
        for r in t_rows:
            all_terms[r["term_id"]] = r
            term_file[r["term_id"]] = fi
        edges_by_file.append(e_rows)
    edge_rows = [
        e
        for fi, rows in enumerate(edges_by_file)
        for e in rows
        if term_file.get(e["src"]) == fi
    ]
    terms = pd.DataFrame(
        list(all_terms.values()),
        columns=[
            "term_id", "name", "definition", "synonyms", "xrefs",
            "is_obsolete",
        ],
    )
    if id_spaces is not None:
        terms = terms[
            terms.term_id.str.split(":").str[0].isin(id_spaces)
        ].reset_index(drop=True)
    ids = set(terms.term_id)
    edges = pd.DataFrame(edge_rows, columns=["src", "dst", "rel"])
    if len(edges):
        edges = edges[
            edges.src.isin(ids) & edges.dst.isin(ids)
        ].drop_duplicates().reset_index(drop=True)
    patch = edges.iloc[0:0].copy()
    if labels is None:
        labels = (
            sorted(terms[~terms.is_obsolete.astype(bool)].term_id)
            if len(terms)
            else []
        )
    return Ontology(
        terms=terms, edges=edges, patch_edges=patch, labels=list(labels)
    )
