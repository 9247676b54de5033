"""M12 — clustering analog of the reference's auto-clustering step.

The reference runs scanpy's PCA→neighbors→leiden when a matrix arrives
with >50 cells and no precomputed clusters (cello/cello_predict.py:
239-254, scanpy_cello.py:142-174), then predicts per cluster and maps
results back to cells (cello/cello.py:340-362). Leiden is a
graph-community algorithm with no distributed analog in this engine's
dependency set; SURVEY §2.7 maps the stage onto KMeans — the role the
clustering plays (collapse ~identical cells into one scoring unit) only
needs *a* deterministic partition of feature space, not leiden
specifically. Documented deviation: cluster BOUNDARIES differ from
leiden; downstream semantics (pseudo-bulk → score → map back) are
identical.

Scale shape: every Lloyd iteration is ONE map-side pass over the
(cached) feature table — each partition ships back a (k × (d+2))
partial-sum block, the driver reduces blocks in partition order
(bit-deterministic) and rebroadcasts the k×d centroid matrix. No
shuffle at any point; the feature table never moves. At 100 TB this is
the same plan: k·d floats per partition to the driver per iteration.

Determinism: init (`kmeans_init`) = seeded k-means++ over the
`sample_size` LOWEST-id items (one small orderBy + limit + collect —
the D² sampling runs driver-side on that sample with a fixed-seed
generator); ties in assignment break to the lowest centroid id
(np.argmin). Identical input + identical partitioning ⇒ bit-identical
centroids; across DIFFERENT partitionings the partial sums reduce in a
different order, so centroids agree only to float round-off — for
well-separated clusters the ASSIGNMENTS still coincide (tested), but
borderline points may flip. The KG triple pipeline does not route
through this operator, so the cross-cluster-size triple-equality
guarantee is unaffected.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

_PARTIAL_SCHEMA = "pid int, payload array<double>"


def _assign(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Nearest-centroid ids; ‖x−c‖² expanded so one matmul does the
    batch (ties → lowest centroid id via argmin)."""
    d2 = (X * X).sum(axis=1)[:, None] + (C * C).sum(axis=1)[None, :] - 2.0 * (
        X @ C.T
    )
    return np.argmin(d2, axis=1)


def kmeanspp_init(
    X: np.ndarray, k: int, seed: int = 42
) -> np.ndarray:
    """Seeded k-means++ (D² sampling) on an in-memory sample — pure
    numpy, deterministic for a fixed (X, k, seed)."""
    rng = np.random.default_rng(seed)
    n = len(X)
    idx = [int(rng.integers(n))]
    d2 = ((X - X[idx[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = d2.sum()
        if tot <= 0.0:
            # all remaining points coincide with a centroid
            idx.append(int(rng.integers(n)))
            continue
        j = int(rng.choice(n, p=d2 / tot))
        idx.append(j)
        d2 = np.minimum(d2, ((X - X[j]) ** 2).sum(axis=1))
    return X[idx].astype(np.float64).copy()


def _sorted_sample(
    features: DataFrame, k: int, sample_size: int, id_col: str, features_col: str
) -> np.ndarray:
    """The `sample_size` lowest-id feature rows as a float64 matrix (one
    small orderBy + limit + collect — the same global top-k at any
    parallelism); raises if fewer than k items exist."""
    rows = (
        features.select(id_col, features_col)
        .orderBy(id_col)
        .limit(max(sample_size, k))
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"k-means: k={k} but only {len(rows)} items")
    return np.stack([np.asarray(r[features_col], dtype=np.float64) for r in rows])


def kmeans_init(
    features: DataFrame,
    k: int,
    sample_size: int = 4096,
    seed: int = 42,
    id_col: str = "item",
    features_col: str = "features",
) -> np.ndarray:
    """The deterministic k×d init `kmeans_fit` starts from: seeded
    k-means++ over the `sample_size` lowest-id items."""
    return kmeanspp_init(
        _sorted_sample(features, k, sample_size, id_col, features_col), k, seed
    )


def kmeans_fit(
    features: DataFrame,  # (item, features: array<double>)
    k: int,
    n_iter: int = 20,
    id_col: str = "item",
    features_col: str = "features",
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Fit k centroids with Lloyd iterations (map-side partial sums
    only — see module docstring) from `init`, default
    `kmeans_init(features, k)`. Returns the k×d centroid matrix."""
    spark = features.sparkSession
    feats = features.select(
        F.col(id_col).alias("item"), F.col(features_col).alias("features")
    ).persist()
    C = kmeans_init(feats, k) if init is None else np.asarray(init, dtype=np.float64)
    d = C.shape[1]

    for _ in range(n_iter):
        bc = spark.sparkContext.broadcast(C.copy())

        def pass_(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            C_ = bc.value
            kk, dd = C_.shape
            acc = np.zeros(kk * (dd + 1), dtype=np.float64)
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                seen = True
                X = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["features"]]
                )
                a = _assign(X, C_)
                # per-cluster feature sums + counts in one scatter-add
                np.add.at(acc[: kk * dd].reshape(kk, dd), a, X)
                np.add.at(acc[kk * dd :], a, 1.0)
            if seen:
                yield pd.DataFrame(
                    {
                        "pid": [TaskContext.get().partitionId()],
                        "payload": [acc.tolist()],
                    }
                )

        acc = np.zeros(k * (d + 1), dtype=np.float64)
        for row in sorted(
            feats.select("features").mapInPandas(pass_, _PARTIAL_SCHEMA).collect(),
            key=lambda r: r["pid"],
        ):
            acc += np.asarray(row["payload"])
        sums = acc[: k * d].reshape(k, d)
        counts = acc[k * d :]
        # empty cluster keeps its previous centroid (deterministic; the
        # sklearn re-seed strategy would need a random draw)
        nz = counts > 0
        C_new = C.copy()
        C_new[nz] = sums[nz] / counts[nz][:, None]
        bc.destroy()
        if np.allclose(C_new, C, rtol=0.0, atol=1e-12):
            C = C_new
            break
        C = C_new

    feats.unpersist()
    return C


def kmeans_fit_sample(
    features: DataFrame,
    k: int,
    n_iter: int = 20,
    id_col: str = "item",
    features_col: str = "features",
    sample_size: int = 8192,
    seed: int = 42,
    normalize: bool = False,
) -> np.ndarray:
    """Sample-trained k-means: collect the `sample_size` lowest-id rows
    (deterministic — same global top-k at any parallelism) and run
    Lloyd driver-side in numpy. This is the standard recipe for
    codebook-style uses (e.g. IVF centroids, faiss-fashion): centroid
    QUALITY saturates long before the sample does, and it replaces
    n_iter distributed passes over the full table with one small
    top-k collect. Use `kmeans_fit` when the semantics require
    clustering the full table's mass distribution.
    `normalize=True` L2-normalizes the sample rows (spherical
    k-means over directions)."""
    X = _sorted_sample(features, k, sample_size, id_col, features_col)
    if normalize:
        X = X / (np.linalg.norm(X, axis=1, keepdims=True) + 1e-12)
    C = kmeanspp_init(X, k, seed)
    for _ in range(n_iter):
        a = _assign(X, C)
        sums = np.zeros_like(C)
        counts = np.zeros(k)
        np.add.at(sums, a, X)
        np.add.at(counts, a, 1.0)
        nz = counts > 0
        C_new = C.copy()
        C_new[nz] = sums[nz] / counts[nz][:, None]
        if np.allclose(C_new, C, rtol=0.0, atol=1e-12):
            return C_new
        C = C_new
    return C


def kmeans_assign(
    features: DataFrame,
    centroids: np.ndarray,
    id_col: str = "item",
    features_col: str = "features",
) -> DataFrame:
    """Assign each item to its nearest centroid — one broadcast
    mapInPandas pass, output (item, cluster)."""
    spark = features.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[features_col]]
            )
            yield pd.DataFrame(
                {
                    "item": pdf[id_col].to_numpy(),
                    "cluster": _assign(X, C_).astype(np.int32),
                }
            )

    id_type = dict(features.dtypes)[id_col]
    return features.select(id_col, features_col).mapInPandas(
        run, f"item {id_type}, cluster int"
    )


def cluster_documents(
    features: DataFrame,
    k: int,
    n_iter: int = 20,
    min_items: int = 50,
    id_col: str = "item",
    features_col: str = "features",
) -> DataFrame | None:
    """The reference's auto-clustering gate (cello_predict.py:239-254):
    cluster only when more than `min_items` items arrive; below that
    every item is its own scoring unit (returns None, mirroring the
    reference's pass-through). Output (item, cluster)."""
    n = features.limit(min_items + 1).count()
    if n <= min_items:
        return None
    C = kmeans_fit(features, k, n_iter, id_col, features_col)
    return kmeans_assign(features, C, id_col, features_col)
