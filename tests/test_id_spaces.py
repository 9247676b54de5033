"""Canonical ids outside the fixture's id space: prepare_ontology derives
the id spaces from the loaded ontology, and the batch pipeline, the CLI
and the streaming path rewrite triples with the same canonical map."""

import os

from cello_spark.__main__ import main
from cello_spark.plans.kg import prepare_ontology
from cello_spark.sources.bundles import save_model_bundle
from cello_spark.sources.fixtures import (
    N_FEATURES,
    make_documents,
    make_model_weights,
    make_thresholds,
)
from cello_spark.sources.ontology import ontology_from_obo

# two CL terms sharing one xref: a single synonym/xref component whose
# canonical id is its minimum CL term, not the BTO xref
XREF_OBO = """format-version: 1.2

[Term]
id: CL:0000001
name: alpha cell
xref: BTO:0000001

[Term]
id: CL:0000002
name: beta cell
is_a: CL:0000001
xref: BTO:0000001
"""


def _triple_ids(df) -> set[str]:
    return {r[0] for r in df.selectExpr("explode(array(subj, obj))").collect()}


def test_prepare_ontology_derives_id_spaces():
    prep = prepare_ontology(ontology_from_obo(XREF_OBO))
    cmap = dict(zip(prep["canonical_map"].node, prep["canonical_map"].canonical))
    assert prep["term_prefix"] == ("CL:",)
    assert cmap["CL:0000001"] == cmap["CL:0000002"] == "CL:0000001"
    assert cmap["BTO:0000001"] == "CL:0000001"
    assert prep["merged_terms"] == ["CL:0000001", "CL:0000002"]


def test_cli_and_streaming_rewrite_merged_terms(spark, tmp_path):
    from cello_spark.streaming.ingest import incremental_triples, run_incremental_kg

    onto = ontology_from_obo(XREF_OBO)
    weights, thresholds = make_model_weights(onto), make_thresholds(onto)
    docs_pdf, feats_pdf, _ = make_documents(onto, n_docs=12)
    docs, feats = str(tmp_path / "docs"), str(tmp_path / "feats")
    spark.createDataFrame(docs_pdf).coalesce(1).write.parquet(docs)
    spark.createDataFrame(feats_pdf).coalesce(1).write.parquet(feats)
    obo = str(tmp_path / "cl.obo")
    with open(obo, "w") as f:
        f.write(XREF_OBO)
    bundle = str(tmp_path / "model")
    genes = [f"g{i:03d}" for i in range(N_FEATURES)]
    save_model_bundle(
        bundle, weights, thresholds, genes, [("CL:0000002", "CL:0000001")]
    )

    work = str(tmp_path / "batch")
    rc = main(
        [
            "kg",
            "--documents", docs,
            "--features", feats,
            "--obo", obo,
            "--model", bundle,
            "--workdir", work,
            "--cores", "8",
        ]
    )
    assert rc == 0
    batch = spark.read.parquet(os.path.join(work, "triples", "data"))
    batch_ids = _triple_ids(batch)
    assert "CL:0000001" in batch_ids
    assert "CL:0000002" not in batch_ids

    inc_work = str(tmp_path / "inc")
    run_incremental_kg(spark, docs, inc_work, onto, weights, thresholds, feats)
    inc = incremental_triples(spark, inc_work)
    assert "CL:0000002" not in _triple_ids(inc)

    key = lambda df: {tuple(r) for r in df.select("subj", "pred", "obj").collect()}  # noqa: E731
    assert key(inc) == key(batch)
