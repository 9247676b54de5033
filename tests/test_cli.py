"""CLI surface tests: `python -m cello_spark predict` / `kg` driven
through main(argv) against fixture-built bundles, outputs compared to
the direct library calls."""

import json
import os

import numpy as np
import pytest

from cello_spark.__main__ import main
from cello_spark.sources.bundles import load_model_bundle, save_model_bundle


GENES = [f"g{i:03d}" for i in range(64)]


@pytest.fixture(scope="module")
def bundle_dir(tmp_path_factory, onto):
    from cello_spark.sources.fixtures import make_model_weights, make_thresholds

    path = str(tmp_path_factory.mktemp("bundle") / "model")
    weights = make_model_weights(onto)
    thresholds = make_thresholds(onto)
    label_set = set(weights.label)
    edges = [
        (c, p)
        for c, p, r in onto.edges[["src", "dst", "rel"]].itertuples(index=False)
        if r == "is_a" and c in label_set and p in label_set
    ]
    save_model_bundle(path, weights, thresholds, GENES, edges)
    return path


def test_bundle_roundtrip(bundle_dir, onto):
    model, genes = load_model_bundle(bundle_dir)
    assert genes == GENES
    assert model.reconcile_mode == "dykstra"
    assert len(model.labels) == len(set(model.labels))
    assert model.W.shape == (len(model.labels), len(GENES))


def test_cli_predict_matches_library(spark, tmp_path, bundle_dir, onto):
    from cello_spark.plans.predict import predict_expression
    from cello_spark.sources.fixtures import make_documents

    _, feats_pdf, _ = make_documents(onto, n_docs=20)
    # write a wide CSV (rows = samples, cols = genes) carrying the
    # fixture feature vectors; LOG1_TPM passthrough keeps values exact
    csv_path = str(tmp_path / "expr.csv")
    with open(csv_path, "w") as f:
        f.write("sample," + ",".join(GENES) + "\n")
        for r in feats_pdf.itertuples(index=False):
            f.write(
                str(r.doc_id) + "," + ",".join(repr(v) for v in r.features) + "\n"
            )
    out_dir = str(tmp_path / "out")
    rc = main(
        [
            "predict",
            "--data", csv_path,
            "--format", "csv",
            "--units", "LOG1_TPM",
            "--model", bundle_dir,
            "--output", out_dir,
            "--cores", "8",
        ]
    )
    assert rc == 0
    got_prob = (
        spark.read.parquet(f"{out_dir}/probability")
        .toPandas()
        .sort_values(["doc_id", "label"])
        .reset_index(drop=True)
    )
    # reference result via the direct library path
    model, genes = load_model_bundle(bundle_dir)
    long_rows = []
    for r in feats_pdf.itertuples(index=False):
        for g, v in zip(GENES, r.features):
            long_rows.append((str(r.doc_id), g, float(v)))
    long_df = spark.createDataFrame(
        long_rows, "sample_id string, gene_id string, value double"
    )
    want = (
        predict_expression(long_df, model, genes, units="LOG1_TPM")[
            "probability"
        ]
        .toPandas()
        .sort_values(["doc_id", "label"])
        .reset_index(drop=True)
    )
    assert len(got_prob) == len(want) > 0
    assert (got_prob.doc_id.values == want.doc_id.values).all()
    assert (got_prob.label.values == want.label.values).all()
    assert np.allclose(got_prob.prob.values, want.prob.values, atol=1e-9)


def _onto_to_obo(onto) -> str:
    lines = ["format-version: 1.2", ""]
    for t in onto.terms.itertuples(index=False):
        lines.append("[Term]")
        lines.append(f"id: {t.term_id}")
        lines.append(f"name: {t.name}")
        if t.is_obsolete:
            lines.append("is_obsolete: true")
        for c, p, rel in onto.edges[["src", "dst", "rel"]].itertuples(
            index=False
        ):
            if c == t.term_id:
                if rel == "is_a":
                    lines.append(f"is_a: {p}")
                else:
                    lines.append(f"relationship: {rel} {p}")
        lines.append("")
    return "\n".join(lines)


def test_cli_kg_runs_pipeline(spark, tmp_path, bundle_dir, onto):
    from cello_spark.sources.fixtures import make_documents

    docs_pdf, feats_pdf, _ = make_documents(onto, n_docs=60)
    docs_path = str(tmp_path / "docs")
    feats_path = str(tmp_path / "feats")
    spark.createDataFrame(docs_pdf).write.parquet(docs_path)
    spark.createDataFrame(feats_pdf).write.parquet(feats_path)
    obo_path = str(tmp_path / "onto.obo")
    with open(obo_path, "w") as f:
        f.write(_onto_to_obo(onto))
    work = str(tmp_path / "kgwork")
    rc = main(
        [
            "kg",
            "--documents", docs_path,
            "--features", feats_path,
            "--obo", obo_path,
            "--model", bundle_dir,
            "--workdir", work,
            "--cores", "8",
        ]
    )
    assert rc == 0
    triples = spark.read.parquet(os.path.join(work, "triples", "data"))
    n = triples.count()
    assert n > 0
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert "rdf:type" in preds and "is_a" in preds
    # resumable through the CLI path: a second invocation skips
    # every stage and leaves the triple count unchanged
    import io
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc2 = main(
            [
                "kg",
                "--documents", docs_path,
                "--features", feats_path,
                "--obo", obo_path,
                "--model", bundle_dir,
                "--workdir", work,
                "--cores", "8",
            ]
        )
    assert rc2 == 0
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert all(s["skipped"] for s in report["kg"])
    assert report["triples"] == n


def test_cli_predict_tsv_and_reconcile_override(spark, tmp_path, bundle_dir, onto):
    from cello_spark.sources.fixtures import make_documents

    _, feats_pdf, _ = make_documents(onto, n_docs=5)
    csv_path = str(tmp_path / "expr5.csv")
    with open(csv_path, "w") as f:
        f.write("sample," + ",".join(GENES) + "\n")
        for r in feats_pdf.itertuples(index=False):
            f.write(
                str(r.doc_id) + "," + ",".join(repr(v) for v in r.features) + "\n"
            )
    out_dir = str(tmp_path / "out_tsv")
    rc = main(
        [
            "predict",
            "--data", csv_path,
            "--format", "csv",
            "--units", "LOG1_TPM",
            "--model", bundle_dir,
            "--output", out_dir,
            "--output-format", "tsv",
            "--reconcile", "none",
            "--cores", "8",
        ]
    )
    assert rc == 0
    prob = (
        spark.read.option("header", True).option("sep", "\t")
        .csv(f"{out_dir}/probability")
    )
    model, _ = load_model_bundle(bundle_dir)
    assert prob.count() == 5 * len(model.labels)
    assert set(prob.columns) == {"doc_id", "label", "prob"}


def test_bundle_preserves_qualifiers_and_precision(tmp_path, onto):
    from cello_spark.sources.fixtures import make_model_weights, make_thresholds

    path = str(tmp_path / "qbundle")
    weights = make_model_weights(onto)
    thresholds = make_thresholds(onto)
    quals = {weights.label.iloc[0]}
    # a cutoff strictly inside the fixture's precision range so the
    # keep-mask is neither all-true nor all-false
    pmin = float(thresholds.precision.median())
    save_model_bundle(
        path, weights, thresholds, GENES, [],
        qualifier_labels=quals, precision_min=pmin,
    )
    model, _ = load_model_bundle(path)
    # the qualifier mask and precision keep-mask survive the round trip
    assert model.qualifier_mask.sum() == 1
    assert model.labels[model.qualifier_mask.argmax()] == weights.label.iloc[0]
    assert 0 < model.keep_mask.sum() < len(model.labels)


def test_ontology_from_obo_empty_and_typedef_only():
    from cello_spark.sources.ontology import ontology_from_obo

    empty = ontology_from_obo("format-version: 1.2\n")
    assert empty.labels == [] and len(empty.terms) == 0
    typedef_only = ontology_from_obo(
        "[Typedef]\nid: part_of\nname: part of\n"
    )
    assert typedef_only.labels == [] and len(typedef_only.edges) == 0


def test_cli_subprocess_kg_resume_predict_cl_obo(spark, tmp_path):
    """Drive the CLI end-to-end AS A USER WOULD — three
    `python -m cello_spark` SUBPROCESSES (not in-process main(argv)):
    `kg` on a fresh workdir with a CL-space OBO whose shared xrefs
    merge CL terms, a second `kg` that must resume (every stage
    skipped, triple count unchanged), then `predict` from the same
    written model bundle. Asserts the triple table, the canonical
    rewrite (no merged source id survives), the manifest, and the
    resume behave from the command line."""
    import subprocess
    import sys

    from cello_spark.plans.kg import prepare_ontology
    from cello_spark.sources.fixtures import (
        make_documents,
        make_model_weights,
        make_thresholds,
        synthetic_obo_text,
    )
    from cello_spark.sources.ontology import ontology_from_obo

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # each CLI process starts its own driver JVM beside this session's:
    # a small maximum heap keeps the two inside the box's memory however
    # far either heap grows from its pre-touched per-slot start
    env = {**os.environ, "SPARK_DRIVER_MEM": "2g"}

    def run_cli(argv):
        proc = subprocess.run(
            [sys.executable, "-m", "cello_spark", *argv],
            cwd=repo,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    # consecutive live terms share an xref (BTO:0, BTO:0, BTO:1, ...),
    # so their synonym/xref components merge CL ids
    text = synthetic_obo_text(
        id_space="CL",
        n_terms=120,
        xref_targets=[f"BTO:{i // 2:07d}" for i in range(16)],
    )
    obo_path = str(tmp_path / "cl.obo")
    with open(obo_path, "w") as f:
        f.write(text)
    labels = sorted(ontology_from_obo(text).labels)[:100]
    cl_onto = ontology_from_obo(text, labels=labels)
    cmap = prepare_ontology(cl_onto)["canonical_map"]
    merged_sources = {
        n for n, c in zip(cmap.node, cmap.canonical)
        if n.startswith("CL:") and n != c
    }
    assert merged_sources, "fixture OBO produced no canonical merges"
    docs_pdf, feats_pdf, _ = make_documents(cl_onto, n_docs=300)
    docs_path = str(tmp_path / "docs")
    feats_path = str(tmp_path / "feats")
    spark.createDataFrame(docs_pdf).write.parquet(docs_path)
    spark.createDataFrame(feats_pdf).write.parquet(feats_path)

    weights = make_model_weights(cl_onto)
    thresholds = make_thresholds(cl_onto)
    label_set = set(weights.label)
    edges = [
        (c, p)
        for c, p, r in cl_onto.edges[["src", "dst", "rel"]].itertuples(
            index=False
        )
        if r == "is_a" and c in label_set and p in label_set
    ]
    bundle = str(tmp_path / "cl_model")
    save_model_bundle(bundle, weights, thresholds, GENES, edges)

    work = str(tmp_path / "kgwork_cl")
    kg_args = [
        "kg",
        "--documents", docs_path,
        "--features", feats_path,
        "--obo", obo_path,
        "--model", bundle,
        "--workdir", work,
        "--cores", "8",
        "--shuffle-partitions", "8",
    ]
    report = run_cli(kg_args)
    assert report["triples"] > 0
    assert not any(s["skipped"] for s in report["kg"])
    triples = spark.read.parquet(os.path.join(work, "triples", "data"))
    assert triples.count() == report["triples"]
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert "rdf:type" in preds and "is_a" in preds
    ids = {
        r[0]
        for r in triples.selectExpr("explode(array(subj, obj))").distinct().collect()
    }
    assert not (merged_sources & ids), sorted(merged_sources & ids)
    with open(os.path.join(work, "manifest.json")) as f:
        manifest = json.load(f)
    assert all(
        s["status"] == "complete" for s in manifest["stages"].values()
    )

    # resume from the command line: all stages skipped, count unchanged
    report2 = run_cli(kg_args)
    assert all(s["skipped"] for s in report2["kg"])
    assert report2["triples"] == report["triples"]

    # predict from the same bundle the kg run used
    csv_path = str(tmp_path / "expr_cl.csv")
    with open(csv_path, "w") as f:
        f.write("sample," + ",".join(GENES) + "\n")
        for r in feats_pdf.head(50).itertuples(index=False):
            f.write(
                str(r.doc_id) + ","
                + ",".join(repr(v) for v in r.features) + "\n"
            )
    out_dir = str(tmp_path / "predict_cl")
    report3 = run_cli(
        [
            "predict",
            "--data", csv_path,
            "--format", "csv",
            "--units", "LOG1_TPM",
            "--model", bundle,
            "--output", out_dir,
            "--cores", "8",
            "--shuffle-partitions", "8",
        ]
    )
    assert report3["predict"]["probability"] == 50 * len(labels)
    assert report3["predict"]["most_specific"] == 50
