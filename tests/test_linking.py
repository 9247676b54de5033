"""Entity-linking parity: vectorized mapInPandas path vs numpy oracle
vs relational (join/window) cross-check."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cello_spark import oracle
from cello_spark.functions.hierarchy import dykstra_matrix, label_edge_index
from cello_spark.operators.graph import transitive_closure
from cello_spark.operators.linking import (
    LinkingModel,
    binarize_relational,
    link_documents,
    link_results_long,
    most_specific_relational,
    typing_triples,
)
from cello_spark.sources.fixtures import QUALIFIER_SUFFIXES, term_id


@pytest.fixture(scope="module")
def model(small_world, label_edges):
    return LinkingModel.from_tables(
        small_world["weights"],
        small_world["thresholds"],
        label_edges,
        qualifier_labels={term_id(s) for s in QUALIFIER_SUFFIXES},
    )


@pytest.fixture(scope="module")
def linked_df(spark, small_world, model):
    feats = spark.createDataFrame(small_world["features"])
    return link_documents(feats, model).cache()


def test_dykstra_projects_onto_constraints():
    rng = np.random.default_rng(0)
    P = rng.random((50, 6))
    edges = np.array([[0, 1], [1, 2], [0, 3], [3, 4], [4, 5]])
    X = dykstra_matrix(P, edges)
    for p, c in edges:
        assert (X[:, p] >= X[:, c] - 1e-9).all()
    # projection never moves a feasible point
    feas = np.tile(np.array([0.9, 0.7, 0.5, 0.6, 0.4, 0.1]), (3, 1))
    assert np.allclose(dykstra_matrix(feas, edges), feas)


def test_dykstra_batch_invariance():
    """Same row → same result regardless of batch composition (the
    local[8] vs local[32] bit-stability requirement)."""
    rng = np.random.default_rng(1)
    P = rng.random((40, 5))
    edges = np.array([[0, 1], [1, 2], [2, 3], [2, 4]])
    whole = dykstra_matrix(P, edges)
    pieces = np.vstack([dykstra_matrix(P[i : i + 7], edges) for i in range(0, 40, 7)])
    assert np.array_equal(whole, pieces)


def test_scores_match_oracle(spark, small_world, model, linked_df):
    got = linked_df.select("doc_id", "probs").toPandas()
    got_wide = pd.DataFrame(
        np.stack(got.probs.to_numpy()), index=got.doc_id, columns=model.labels
    ).sort_index()

    probs = oracle.score_probs(small_world["features"], small_world["weights"])
    rec = oracle.reconcile_all(
        probs, [(c, p) for c, p in _label_edges_from(small_world, model)]
    )
    want_wide = rec.pivot(index="doc_id", columns="label", values="prob").sort_index()[
        model.labels
    ]
    assert np.allclose(got_wide.to_numpy(), want_wide.to_numpy(), atol=1e-12)


def _label_edges_from(small_world, model):
    # reconstruct from the model's edge index (sorted labels)
    return [
        (model.labels[c], model.labels[p]) for p, c in model.edge_idx.tolist()
    ]


def test_binary_and_most_specific_match_oracle(spark, small_world, model, linked_df):
    label_edges = _label_edges_from(small_world, model)
    probs = oracle.score_probs(small_world["features"], small_world["weights"])
    rec = oracle.reconcile_all(probs, label_edges)
    want_bin = oracle.binarize(rec, small_world["thresholds"], label_edges)
    want_ms, want_fb = oracle.select_one_most_specific(
        rec,
        want_bin,
        small_world["thresholds"],
        label_edges,
        qualifier_terms={term_id(s) for s in QUALIFIER_SUFFIXES},
    )

    long = link_results_long(linked_df, model.labels).toPandas()
    got_bin = long.set_index(["doc_id", "label"])["bin"].sort_index()
    want_bin_s = want_bin.set_index(["doc_id", "label"])["bin"].sort_index()
    assert got_bin.equals(want_bin_s.astype(got_bin.dtype))

    got_ms = (
        linked_df.select("doc_id", "most_specific")
        .toPandas()
        .set_index("doc_id")["most_specific"]
        .sort_index()
    )
    want_ms_s = want_ms.set_index("doc_id")["most_specific"].sort_index()
    assert got_ms.equals(want_ms_s)

    # final (ancestor-filled) labels match the oracle's final binary
    got_final = (
        linked_df.select("doc_id", F.explode("final_labels").alias("label"))
        .toPandas()
        .groupby("doc_id")["label"]
        .apply(set)
    )
    want_final = (
        want_fb[want_fb.bin == 1].groupby("doc_id")["label"].apply(set)
    )
    for doc in want_final.index:
        assert got_final.get(doc, set()) == want_final[doc], doc


def test_relational_crosscheck(spark, small_world, model, linked_df, onto):
    """The join/window formulation reproduces the vectorized kernel."""
    label_edges = _label_edges_from(small_world, model)
    edges_df = spark.createDataFrame(
        [(c, p, "is_a") for c, p in label_edges], "src string, dst string, rel string"
    )
    closure = transitive_closure(edges_df).cache()
    closure_self = closure.unionByName(
        spark.createDataFrame(
            [(l, l) for l in model.labels], "descendant string, ancestor string"
        )
    )
    long = link_results_long(linked_df, model.labels).cache()
    thresholds = spark.createDataFrame(
        small_world["thresholds"][["label", "threshold"]]
    )
    rel_bin = binarize_relational(
        long.select("doc_id", "label", "prob"), thresholds, closure_self
    )
    diff = (
        rel_bin.alias("r")
        .join(long.alias("l"), ["doc_id", "label"])
        .filter(F.col("r.bin") != F.col("l.bin"))
        .count()
    )
    assert diff == 0

    rel_ms = most_specific_relational(
        long, closure, [term_id(s) for s in QUALIFIER_SUFFIXES]
    )
    got = {(r.doc_id, r.most_specific) for r in rel_ms.collect()}
    want = {
        (r.doc_id, r.most_specific)
        for r in linked_df.select("doc_id", "most_specific").collect()
        if r.most_specific != ""
    }
    assert got == want


def test_typing_triples_shape(spark, linked_df):
    t = typing_triples(linked_df)
    assert t.columns == ["subj", "pred", "obj"]
    assert t.filter(F.col("pred") != "rdf:type").count() == 0
    # every doc with a selection contributes at least itself + root
    n_docs = linked_df.filter(F.col("most_specific") != "").count()
    assert t.select("subj").distinct().count() == n_docs


def test_typing_triples_keeps_repeated_labels(spark):
    """Hand-built rows with repeated labels: the plain explode
    (codegen-friendly, no per-row dedup) emits the duplicates."""
    hand = spark.createDataFrame(
        [("d1", "CL:1", ["CL:1", "CL:0", "CL:1"])],
        "doc_id string, most_specific string, final_labels array<string>",
    )
    assert typing_triples(hand).count() == 3


def test_link_documents_clustered(spark, onto, small_world, label_edges):
    """Cluster-level linking == linking the cluster-mean vectors, with
    results replicated to every member (reference cello.py:579-611,
    :340-362)."""
    import numpy as np
    from cello_spark.operators.linking import (
        LinkingModel,
        link_documents_clustered,
    )
    from cello_spark.sources.fixtures import QUALIFIER_SUFFIXES, term_id

    feats = small_world["features"]
    model = LinkingModel.from_tables(
        small_world["weights"],
        small_world["thresholds"],
        label_edges,
        qualifier_labels={term_id(s) for s in QUALIFIER_SUFFIXES},
    )
    features = spark.createDataFrame(feats)
    clusters = spark.createDataFrame(
        [(d, int(i) % 5) for i, d in enumerate(feats["doc_id"])],
        "doc_id string, cluster int",
    )
    got = link_documents_clustered(features, clusters, model).toPandas()
    assert len(got) == len(feats)
    # every member of a cluster carries identical results
    per_cluster = got.groupby("cluster").most_specific.nunique()
    assert (per_cluster == 1).all()
    # numpy oracle: link the mean vector of cluster 0 directly
    member_ids = {d for i, d in enumerate(feats["doc_id"]) if i % 5 == 0}
    X = np.stack(
        [np.asarray(v) for d, v in zip(feats["doc_id"], feats["features"])
         if d in member_ids]
    )
    mean_vec = X.mean(axis=0)[None, :]
    R = model.reconcile(model.score(mean_vec))
    B = model.binarize(R)
    ms_idx, _ = model.select_most_specific(R, B)
    want_ms = model.labels[ms_idx[0]] if ms_idx[0] >= 0 else ""
    got_ms = got[got.cluster == 0].most_specific.iloc[0]
    assert got_ms == want_ms


def test_link_documents_rejects_ragged_features(spark, small_world, model):
    """Ragged feature rows must raise clearly, not silently misalign —
    including the compensating case where the batch total still
    divides evenly by the model width."""
    d = model.W.shape[1]
    rows = [
        ("r1", [0.1] * (d - 2)),
        ("r2", [0.2] * (d + 2)),  # total = 2*d → reshape would succeed
    ]
    feats = spark.createDataFrame(
        rows, "doc_id string, features array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match="feature vector length"):
        link_documents(feats, model).collect()
