"""Entity linking: score → reconcile → binarize → select most specific.

Production path (`link_documents`): ONE `mapInPandas` pass over
(doc_id, features). All model state — coefficient matrix W, intercepts,
trivial mask, thresholds, label-graph edge index, ancestor masks — is
tiny and travels as a Spark broadcast variable; the document side never
shuffles. Each Arrow batch does pure-numpy matrix work:

  1. P = sigmoid(X Wᵀ + b)           — replaces the reference's
     per-label predict_proba loop (ensemble_binary_classifiers.py:
     161-188) with one matmul per batch.
  2. R = dykstra(P)                  — hierarchy projection, the QP of
     isotonic_regression.py:97-135, vectorized across the batch.
  3. B = binarize(R)                 — strict > threshold then ancestor
     min (closed form of cello/cello.py:736-797's descendant zeroing).
  4. most-specific selection         — per-row most-specific positive
     labels (graph.py:105-135 semantics via precomputed strict-ancestor
     masks), qualifier exclusion + re-add, argmax prob with the fixed
     tie-break (prob desc, label asc) replacing the reference's
     set-iteration-order max (cello/cello.py:865-873).

Output: (doc_id, probs, bins, most_specific, final_labels) where
final_labels = selected label + its label-graph ancestors (+ positive
qualifiers and their ancestors), i.e. the reference's final binary
semantics (cello/cello.py:875-891).

Cross-check path (`binarize_relational`, `most_specific_relational`):
the same semantics expressed as joins/windows over long-format scores —
used in tests to verify the vectorized path, and as the SQL-expressible
face of these operators.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T

from cello_spark.functions.hierarchy import (
    dykstra_matrix,
    label_edge_index,
    score_matrix,
)


class LinkingModel:
    """Broadcastable bundle of model state (all O(n_labels²) — KBs)."""

    def __init__(
        self,
        labels: list[str],
        W: np.ndarray,
        b: np.ndarray,
        trivial: np.ndarray,
        thresholds: np.ndarray,
        label_edges: list[tuple[str, str]],  # (child, parent)
        qualifier_labels: set[str] = frozenset(),
        precision: np.ndarray | None = None,
        precision_min: float | None = None,
        reconcile_mode: str = "dykstra",
    ) -> None:
        if reconcile_mode not in ("dykstra", "none", "clr"):
            raise ValueError(
                f"reconcile_mode must be dykstra|none|clr, got {reconcile_mode!r}"
            )
        # M11 registry semantics (reference models/model.py:15-22):
        #   dykstra — IsotonicRegression: ensemble probs projected onto
        #             the hierarchy (isotonic_regression.py:97-135)
        #   none    — EnsembleOfBinaryClassifiers: independent probs
        #   clr     — CascadedDiscriminativeClassifiers: marginal =
        #             Π conditional probs over ancestors∪self
        #             (cascaded_discriminative_classifiers.py:147-194)
        self.reconcile_mode = reconcile_mode
        self.labels = list(labels)
        self.W = np.asarray(W, dtype=np.float64)
        self.b = np.asarray(b, dtype=np.float64)
        self.trivial = np.asarray(trivial, dtype=bool)
        self.thresholds = np.asarray(thresholds, dtype=np.float64)
        self.edge_idx = label_edge_index(self.labels, label_edges)
        n = len(self.labels)
        pos = {l: i for i, l in enumerate(self.labels)}
        # strict ancestor closure mask: anc[i, j] = labels[j] is a strict
        # ancestor of labels[i]
        anc = np.zeros((n, n), dtype=bool)
        parents: dict[int, set[int]] = {}
        for c, p in label_edges:
            if c in pos and p in pos:
                parents.setdefault(pos[c], set()).add(pos[p])
        for i in range(n):
            frontier = set(parents.get(i, ()))
            seen: set[int] = set()
            while frontier:
                seen |= frontier
                frontier = {
                    g for f in frontier for g in parents.get(f, ())
                } - seen
            for j in seen:
                anc[i, j] = True
        self.anc_strict = anc
        self.anc_with_self = anc | np.eye(n, dtype=bool)
        self.qualifier_mask = np.array(
            [l in qualifier_labels for l in self.labels], dtype=bool
        )
        if precision is not None and precision_min is not None:
            self.keep_mask = np.asarray(precision, dtype=np.float64) >= precision_min
        else:
            self.keep_mask = np.ones(n, dtype=bool)

    @classmethod
    def from_tables(
        cls,
        weights_pdf: pd.DataFrame,  # label, coef, intercept, is_trivial
        thresholds_pdf: pd.DataFrame,  # label, threshold[, precision]
        label_edges: list[tuple[str, str]],
        qualifier_labels: set[str] = frozenset(),
        precision_min: float | None = None,
        reconcile_mode: str = "dykstra",
    ) -> "LinkingModel":
        w = weights_pdf.sort_values("label").reset_index(drop=True)
        labels = w.label.tolist()
        thr = thresholds_pdf.set_index("label").reindex(labels)
        prec = (
            thr["precision"].to_numpy(dtype=np.float64)
            if "precision" in thr.columns
            else None
        )
        return cls(
            labels=labels,
            W=np.stack([np.asarray(c, dtype=np.float64) for c in w.coef]),
            b=w.intercept.to_numpy(dtype=np.float64),
            trivial=w.is_trivial.to_numpy(dtype=bool),
            thresholds=thr["threshold"].to_numpy(dtype=np.float64),
            label_edges=label_edges,
            qualifier_labels=qualifier_labels,
            precision=prec,
            precision_min=precision_min,
            reconcile_mode=reconcile_mode,
        )

    def with_preprocessors(self, models) -> "LinkingModel":
        """M10 preprocessor chain, folded: a model fitted in
        preprocessed space (Scale→PCA, reference model.py:39-91) is
        back-projected to raw-feature space (W' = W A, b' = W c + b —
        the general form of isotonic_regression.py:139-163), so
        `link_documents` scores RAW features with zero extra passes.
        Exact for linear models; `models` is the ordered fit chain."""
        from cello_spark.operators.preprocess import back_project

        W2, b2 = back_project(self.W, self.b, models)
        out = LinkingModel.__new__(LinkingModel)
        out.__dict__.update(self.__dict__)
        out.W = W2
        out.b = b2
        return out

    # ---- pure-numpy batch kernels (also used by tests directly) ----

    def score(self, X: np.ndarray) -> np.ndarray:
        return score_matrix(X, self.W, self.b, self.trivial)

    def reconcile(self, P: np.ndarray) -> np.ndarray:
        if self.reconcile_mode == "none":
            return P
        if self.reconcile_mode == "clr":
            # batch kernel of cascade.clr_marginals: log-sum over each
            # label's ancestors∪self, exact 0 when any factor is 0
            logP = np.log(np.clip(P, 1e-300, None))
            A = self.anc_with_self.astype(np.float64)
            M = np.exp(logP @ A.T)
            M[(P <= 0) @ A.T > 0] = 0.0
            return M
        return dykstra_matrix(P, self.edge_idx)

    def binarize(self, R: np.ndarray) -> np.ndarray:
        """bin(s,l) = min over a ∈ ancestors(l)∪{l} of (R[s,a] > thr[a])."""
        above = R > self.thresholds  # strict >, reference cello.py:779
        n = len(self.labels)
        out = np.empty_like(above)
        for l in range(n):
            out[:, l] = above[:, self.anc_with_self[l]].all(axis=1)
        return out.astype(np.int32)

    def select_most_specific(
        self, R: np.ndarray, B: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Returns (ms_idx: (n_rows,) int label index or -1,
        final: (n_rows, n_labels) int 0/1 ancestor-filled binary)."""
        pos = (B > 0) & self.keep_mask  # precision filter, cello.py:843-850
        cand = pos & ~self.qualifier_mask
        # dominated[s, j] = ∃ b: cand[s, b] and j strict ancestor of b
        dominated = cand @ self.anc_strict  # bool matmul → int
        ms_mask = cand & ~(dominated > 0)
        n_rows, n = R.shape
        ms_idx = np.full(n_rows, -1, dtype=np.int64)
        final = np.zeros((n_rows, n), dtype=np.int32)
        any_ms = ms_mask.any(axis=1)
        if any_ms.any():
            # argmax prob among candidates; tie-break label asc ==
            # lowest index among equal maxima (labels are sorted)
            masked = np.where(ms_mask, R, -np.inf)
            ms_idx[any_ms] = np.argmax(masked[any_ms], axis=1)
            rows = np.nonzero(any_ms)[0]
            final[rows] = self.anc_with_self[ms_idx[any_ms]].astype(np.int32)
            # re-add positive qualifier labels + their ancestors
            # (vectorized union of ancestor masks)
            qual_pos = pos & self.qualifier_mask
            if qual_pos.any():
                final[rows] |= (
                    qual_pos[rows].astype(np.int32) @ self.anc_with_self.astype(np.int32)
                    > 0
                ).astype(np.int32)
        return ms_idx, final


# Emitted probabilities are float32 and binaries int8: all decisions
# (thresholding, reconciliation, most-specific argmax) happen in
# float64 INSIDE the kernel; only the reported values are narrowed.
# The reference's TSV outputs carry ~6 significant digits — float32's
# 7 cover them — and at 10^12 docs this halves the largest
# intermediate's storage and Arrow transfer.
LINK_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("probs", T.ArrayType(T.FloatType())),
        T.StructField("bins", T.ArrayType(T.ByteType())),
        T.StructField("most_specific", T.StringType()),
        T.StructField("final_labels", T.ArrayType(T.StringType())),
    ]
)

# labels-only variant: what triple emission actually consumes
LINK_LABELS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("most_specific", T.StringType()),
        T.StructField("final_labels", T.ArrayType(T.StringType())),
    ]
)


def link_documents(
    features: DataFrame, model: LinkingModel, emit_scores: bool = True
) -> DataFrame:
    """The one-pass linking operator. `features` = (doc_id, features).

    ``emit_scores=False`` drops the per-label probs/bins arrays from
    the output (schema = LINK_LABELS_SCHEMA). Downstreams that only
    consume the selected labels (triple emission) should use it: the
    n_labels-wide float/int arrays dominate the stage's Python→JVM
    Arrow transfer and its parquet write (they are ~20x the bytes of
    the label columns), and they are re-derivable by re-running the
    scorer. The full schema remains the default for the predict flow,
    whose outputs (reference cello.py probability/binary TSVs) need
    the scores.

    Partition sizing: every mapInPandas task pays ~150 ms of fixed
    Python overhead (task setup, broadcast unpickle, Arrow stream
    open/close — measured at 1M docs: 80 small scan partitions cost
    2x the Python CPU of 16 right-sized ones). Callers feeding many
    partitions that hold fewer than a few Arrow batches
    (session.ARROW_MAX_RECORDS rows each) should `coalesce` first.
    Irrelevant at cluster scale, where every scan split holds >>4
    batches, and behind a shuffle (the KG pipeline's mention gate),
    whose output is already sized to the shuffle partitions."""
    spark = features.sparkSession
    bc = spark.sparkContext.broadcast(model)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m: LinkingModel = bc.value
        labels = np.asarray(m.labels, dtype=object)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # fixed-length vectors: one C-level concatenate beats a
            # per-row python stack ~4x (measured 9.3 -> 2.5 ms per
            # 10k batch); float32 inputs upcast here so the numpy
            # math below is always float64. Unlike np.stack, a bare
            # reshape(-1) would SILENTLY misalign ragged rows whose
            # total happens to divide evenly — validate against the
            # model's feature width before reshaping.
            vals = pdf["features"].to_numpy()
            d = m.W.shape[1]
            lens = np.fromiter(
                (len(v) for v in vals), dtype=np.int64, count=len(vals)
            )
            if (lens != d).any():
                bad = int(np.argmax(lens != d))
                raise ValueError(
                    f"feature vector length {lens[bad]} != model width {d} "
                    f"(doc_id={pdf['doc_id'].iloc[bad]!r})"
                )
            X = np.concatenate(vals).reshape(len(pdf), d).astype(
                np.float64, copy=False
            )
            P = m.score(X)
            R = m.reconcile(P)
            B = m.binarize(R)
            ms_idx, final = m.select_most_specific(R, B)
            ms = np.where(ms_idx >= 0, labels[np.clip(ms_idx, 0, None)], "")
            # final_labels built with ONE np.nonzero over the batch
            # (per-row nonzero loops dominated this UDF's profile)
            rows_nz, cols_nz = np.nonzero(final)
            counts = np.bincount(rows_nz, minlength=len(final))
            flat = labels[cols_nz]
            final_lists = np.split(flat, np.cumsum(counts)[:-1])
            cols = {"doc_id": pdf["doc_id"].to_numpy()}
            if emit_scores:
                cols["probs"] = list(R.astype(np.float32))
                cols["bins"] = list(B.astype(np.int8))
            cols["most_specific"] = ms
            cols["final_labels"] = [fl.tolist() for fl in final_lists]
            yield pd.DataFrame(cols)

    return features.select("doc_id", "features").mapInPandas(
        run, LINK_OUTPUT_SCHEMA if emit_scores else LINK_LABELS_SCHEMA
    )


def link_documents_clustered(
    features: DataFrame,  # (doc_id, features)
    clusters: DataFrame,  # (doc_id, cluster)
    model: LinkingModel,
) -> DataFrame:
    """Cluster-level linking with member map-back — the reference's
    core cost optimization (predict once per cluster, replicate to
    member cells: _combine_by_cluster cello/cello.py:579-611, map-back
    :340-362). Three steps, each scale-shaped:

      1. per-cluster mean feature vector via applyInPandas (one shuffle
         keyed by cluster; the reference's expression analog is the A1
         pseudo-bulk chain, which for generic feature vectors reduces
         to the elementwise mean — documented deviation);
      2. `link_documents` over the CLUSTER table (orders of magnitude
         smaller than the doc table);
      3. broadcast join of cluster results back onto members.

    Output: link_documents schema + `cluster`.
    """
    import pandas as pd  # noqa: F811 — worker-side import

    feat_field = features.schema["features"].dataType.simpleString()
    cl_type = dict(clusters.dtypes)["cluster"]

    def mean_features(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["features"]])
        return pd.DataFrame(
            {"cluster": [pdf["cluster"].iloc[0]], "features": [X.mean(axis=0).tolist()]}
        )

    with_cluster = features.join(clusters, "doc_id")
    cluster_feats = with_cluster.groupBy("cluster").applyInPandas(
        mean_features, f"cluster {cl_type}, features {feat_field}"
    )
    # linking's output schema keys by a string id — route the cluster
    # key through a string cast and join back on it
    cluster_linked = link_documents(
        cluster_feats.select(
            F.col("cluster").cast("string").alias("doc_id"), "features"
        ),
        model,
    ).withColumnRenamed("doc_id", "__cluster_key")
    return (
        clusters.withColumn("__cluster_key", F.col("cluster").cast("string"))
        .join(F.broadcast(cluster_linked), "__cluster_key")
        .select(
            "doc_id",
            "cluster",
            "probs",
            "bins",
            "most_specific",
            "final_labels",
        )
    )


def link_results_long(linked: DataFrame, labels: list[str]) -> DataFrame:
    """Explode the wide linking output to (doc_id, label, prob, bin)."""
    spark = linked.sparkSession
    lab_df = spark.createDataFrame(
        [(i, l) for i, l in enumerate(labels)], "idx int, label string"
    )
    long = linked.select(
        "doc_id",
        F.posexplode(F.arrays_zip("probs", "bins")).alias("idx", "pb"),
    ).select(
        "doc_id",
        "idx",
        F.col("pb.probs").alias("prob"),
        F.col("pb.bins").alias("bin"),
    )
    return long.join(F.broadcast(lab_df), "idx").select(
        "doc_id", "label", "prob", "bin"
    )


def typing_triples(linked: DataFrame) -> DataFrame:
    """(doc, rdf:type, label) for the selected label and its ancestors
    (the reference's ancestor-filled final binary,
    cello/cello.py:875-891).

    No dedup here: `linked` carries one row per doc_id and
    final_labels is distinct within a row (np.nonzero column indices
    in link_documents), so the output is already distinct — a
    dropDuplicates would be a pure-overhead full shuffle of every
    typing triple, and an array_distinct per row (no codegen, a fresh
    hash set per row) measured 8.4→30.0 core-sec (8→32 cores) vs
    0.7→1.1 for the plain explode on a 4M-doc input. The pipeline's
    triples stage dedups once AFTER canonical rewrite (where collapses
    can genuinely create duplicates). Hand-built rows with repeated
    labels therefore yield repeated triples."""
    return (
        linked.filter(F.col("most_specific") != "")
        .select(
            F.col("doc_id").alias("subj"),
            F.explode("final_labels").alias("obj"),
        )
        .withColumn("pred", F.lit("rdf:type"))
        .select("subj", "pred", "obj")
    )


# ---------------------------------------------------------------------------
# Relational cross-check variants (joins/windows over long scores)
# ---------------------------------------------------------------------------


def binarize_relational(
    probs_long: DataFrame,  # (doc_id, label, prob)
    thresholds: DataFrame,  # (label, threshold) — small
    closure_with_self: DataFrame,  # (descendant, ancestor) incl. self
) -> DataFrame:
    """bin = min over ancestors∪self of int(prob > thr): probs ⋈
    closure ⋈ thresholds, groupBy min. Same semantics as the vectorized
    kernel; O(n_labels·depth) fan-out then a doc-partitioned aggregate."""
    anc_flag = (
        probs_long.withColumnRenamed("label", "ancestor")
        .join(F.broadcast(thresholds.withColumnRenamed("label", "ancestor")), "ancestor")
        .withColumn("flag", (F.col("prob") > F.col("threshold")).cast("int"))
        .select("doc_id", "ancestor", "flag")
    )
    fan = F.broadcast(closure_with_self).alias("c")
    return (
        anc_flag.alias("a")
        .join(fan, F.col("a.ancestor") == F.col("c.ancestor"))
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("c.descendant").alias("label"),
        )
        .agg(F.min("flag").alias("bin"))
    )


def most_specific_relational(
    scored: DataFrame,  # (doc_id, label, prob, bin)
    closure_strict: DataFrame,  # (descendant, ancestor) strict
    qualifier_labels: list[str],
) -> DataFrame:
    """Per-doc most-specific positive label with (prob desc, label asc)
    tie-break: anti-join away dominated labels, then row_number()=1."""
    pos = scored.filter(F.col("bin") == 1).filter(
        ~F.col("label").isin(qualifier_labels)
    )
    dominated = (
        pos.alias("d")
        .join(
            F.broadcast(closure_strict).alias("c"),
            F.col("d.label") == F.col("c.descendant"),
        )
        .select(
            F.col("d.doc_id").alias("doc_id"),
            F.col("c.ancestor").alias("label"),
        )
        .dropDuplicates()
    )
    ms_set = pos.join(dominated, ["doc_id", "label"], "left_anti")
    w = Window.partitionBy("doc_id").orderBy(F.desc("prob"), F.asc("label"))
    return (
        ms_set.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("label").alias("most_specific"))
    )
