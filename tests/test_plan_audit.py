"""Physical-plan invariants for the scale-critical operators: the
claims the docstrings make about shuffles, join strategies, and
pushdown, asserted against the FINAL (post-AQE) executed plan."""

import pytest
from pyspark.sql import functions as F

from cello_spark.plans.audit import assert_no_cartesian, plan_stats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_pii_scrub_is_exchange_free(spark, docs):
    from cello_spark.operators.scrub import pii_redact

    stats = plan_stats(pii_redact(docs))
    assert stats["exchanges"] == 0
    assert stats["codegen_spans"] >= 1
    assert not stats["has_python_eval"]


def test_filter_pushdown_reaches_parquet_scan(spark, docs):
    out = docs.where(F.col("lang") == "en").select("doc_id", "n_chars")
    stats = plan_stats(out)
    assert stats["parquet_scans"] == 1
    assert any("lang" in p for p in stats["pushed_filters"])


def test_mention_detection_broadcasts_dictionary(spark, onto):
    """The alias dictionary joins broadcast; the document side never
    sort-merge joins (SURVEY §7.4: the document side is the 100 TB
    side and must not shuffle for the dictionary)."""
    from cello_spark.plans.kg import prepare_ontology
    from cello_spark.operators.mentions import detect_mentions
    from cello_spark.sources.fixtures import make_documents

    prep = prepare_ontology(onto)
    alias_df = spark.createDataFrame(prep["alias_dict"])
    docs_pdf, _, _ = make_documents(onto, n_docs=50)
    mentions = detect_mentions(spark.createDataFrame(docs_pdf), alias_df)
    stats = assert_no_cartesian(mentions)
    assert stats["sort_merge_joins"] == 0
    assert stats["shuffled_hash_joins"] == 0


def test_broadcast_dim_join_strategy(spark):
    """nation ⋈ region stays a broadcast hash join — no shuffle of
    either side beyond the dim broadcast."""
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    reg = spark.read.parquet(f"{SF}/region.parquet")
    out = nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    stats = plan_stats(out)
    assert stats["broadcast_hash_joins"] == 1
    assert stats["sort_merge_joins"] == 0


def test_cosine_topk_broadcasts_queries_never_shuffles_corpus(spark):
    """Exact cosine top-k replicates the SMALL query set (broadcast
    nested-loop, a deliberate strategy) — the corpus side is scanned
    once and never sort-merge joined or cartesian-multiplied."""
    from cello_spark.operators.similarity import cosine_topk_bruteforce

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk_bruteforce(emb, qs, k=5)
    stats = assert_no_cartesian(out)
    assert stats["sort_merge_joins"] == 0
    assert stats["broadcast_nested_loop_joins"] == 1
    assert stats["parquet_scans"] >= 1


def test_chunk_documents_single_codegen_no_exchange(spark, docs):
    from cello_spark.operators.corpus import chunk_documents

    stats = plan_stats(chunk_documents(docs, chunk_tokens=32, overlap=8))
    assert stats["exchanges"] == 0
    assert not stats["has_python_eval"]


def test_hash_sample_is_scan_plus_filter(spark, docs):
    from cello_spark.operators.corpus import hash_sample

    stats = plan_stats(hash_sample(docs, 0.25))
    assert stats["exchanges"] == 0
    assert stats["parquet_scans"] == 1


def test_assert_no_cartesian_catches_blowup(spark):
    # force a true CartesianProduct (broadcast would turn it into the
    # benign nested-loop variant)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(1000)
        b = spark.range(1000).withColumnRenamed("id", "id2")
        with pytest.raises(AssertionError, match="cartesian"):
            assert_no_cartesian(a.crossJoin(b))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_exchange_count_ignores_reused_exchange(spark):
    """One real shuffle consumed twice via ReusedExchange must count
    as ONE exchange, not two."""
    base = spark.range(1000).selectExpr("id % 7 as k", "id")
    agg = base.groupBy("k").count()
    joined = agg.alias("x").join(
        agg.withColumnRenamed("count", "c2").alias("y"), "k"
    )
    stats = plan_stats(joined)
    if "ReusedExchange" in stats["plan"]:
        assert stats["exchanges"] < stats["plan"].count("hashpartitioning")


def test_pushed_filters_survive_metadata_truncation(spark, docs):
    """Long pushed-filter lists are truncated by
    spark.sql.maxMetadataStringLength before the closing bracket —
    the parser must still report them."""
    out = docs.where(
        (F.col("lang") == "en")
        & (F.col("n_chars") > 10)
        & (F.col("source") != "x")
        & (F.col("doc_id") > 5)
        & (F.col("doc_id") < 10_000_000)
    ).select("doc_id")
    stats = plan_stats(out)
    assert stats["pushed_filters"], stats["plan"]
    assert any("lang" in p for p in stats["pushed_filters"])


def test_python_eval_detection_covers_apply_in_pandas(spark):
    def ident(key, pdf):
        return pdf

    df = (
        spark.range(100)
        .selectExpr("id % 4 as k", "id")
        .groupBy("k")
        .applyInPandas(ident, "k long, id long")
    )
    assert plan_stats(df)["has_python_eval"]


def test_mention_plan_stays_jvm_side(spark, onto):
    """The mention plan must stay entirely JVM-side (no Python eval
    nodes) with the dictionary broadcast — the document side's
    whole-stage-codegen claim."""
    from cello_spark.operators.mentions import detect_mentions
    from cello_spark.plans.kg import prepare_ontology
    from cello_spark.sources.fixtures import make_documents

    prep = prepare_ontology(onto)
    alias_df = spark.createDataFrame(prep["alias_dict"])
    docs_pdf, _, _ = make_documents(onto, n_docs=50)
    m = detect_mentions(spark.createDataFrame(docs_pdf), alias_df)
    stats = plan_stats(m)
    assert not stats["has_python_eval"]
    assert stats["broadcast_hash_joins"] >= 1
    assert stats["sort_merge_joins"] == 0


def test_hdf5_distributed_is_python_map_over_binary_scan(spark, tmp_path):
    """read_hdf5_distributed's plan: a binaryFile scan feeding
    MapInPandas — the per-file decode is the ONLY Python node."""
    import json

    from cello_spark.sources.expression import read_hdf5_distributed

    (tmp_path / "a.h5").write_text(
        json.dumps({"cells": ["c1"], "genes": ["g"], "x": [[1.0]]})
    )

    def dec(buf):
        import json as j

        import numpy as np

        d = j.loads(buf.decode())
        return d["cells"], d["genes"], np.asarray(d["x"], float)

    out = read_hdf5_distributed(spark, str(tmp_path / "*.h5"), decoder=dec)
    stats = plan_stats(out)
    assert stats["has_python_eval"]
    assert "MapInPandas" in stats["plan"]
