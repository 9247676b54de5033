"""Hierarchy-consistency math shared by the Spark engine (inside Arrow
batches) and the offline numpy oracle.

The reference reconciles per-label probabilities with a quadratic
program per sample: min ||x - p||^2 subject to x[parent] >= x[child]
for every label-graph edge, solved row-at-a-time with quadprog
(reference cello/models/isotonic_regression.py:97-135; constraint
matrix built from label_graph.source_to_targets at :102-116).

Here the same projection is computed with Dykstra's alternating
projections onto the constraint half-spaces, vectorized across a whole
matrix of samples at once (rows = samples). Determinism: fixed edge
order (callers pass edges sorted) and an EXACT fixed-point early exit
(break only once a sweep is a provable no-op), so the result for a
given row is bit-identical to the full iteration budget regardless of
how rows are batched — a requirement for bit-stable output across
parallelism levels (local[8] vs local[32]).

numpy-only: no Spark imports (runs in executor workers and the oracle).
"""

from __future__ import annotations

import numpy as np

# 200 sweeps over every constraint is far past convergence for
# ontology-depth DAGs (diameter ~10); kept fixed for determinism.
DYKSTRA_ITERS = 200

# rows processed per chunk. The working set per chunk is
# (n_labels + 2*n_edges) * chunk * 8B and the sweep loop re-streams it
# n_iter times, so the chunk width decides which memory tier feeds the
# kernel. Two defaults, one per execution path:
#
# - native kernel: 256 → ~0.4 MB for ontology-sized label graphs,
#   resident in a PRIVATE per-core L2. This is the knob that makes the
#   projection scale with cores: at 2048 (~3 MB) every worker streams
#   from the SHARED cache/DRAM and 32 concurrent workers collapse to
#   0.39 8→32 efficiency; at 256 the same pinned-process probe
#   measures +41% single-stream, +77% aggregate at 32 workers, 0.53
#   efficiency (best-of-3 taskset-pinned processes, the CPU-envelope
#   probe of BENCH/BASELINE.md).
#   Columns are independent QP instances, so chunking is bit-neutral.
# - numpy fallback: 2048 — the fallback pays ~10 interpreter
#   round-trips per color group per sweep PER CHUNK, so narrow chunks
#   multiply interpreter overhead it cannot amortize.
DYKSTRA_CHUNK_NATIVE = 256
DYKSTRA_CHUNK = 2048


def _color_edges(edge_idx: np.ndarray) -> list[np.ndarray]:
    """Greedy edge coloring (deterministic, in given edge order): edges
    in one color class share no vertex, so their half-space projections
    commute and can be applied in ONE vectorized step. Ontology DAGs
    need ~max-degree+1 colors, collapsing the per-edge python loop by
    ~n_edges/n_colors."""
    colors: list[list[int]] = []
    vertex_sets: list[set[int]] = []
    for k, (p, c) in enumerate(edge_idx):
        placed = False
        for ci, vs in enumerate(vertex_sets):
            if p not in vs and c not in vs:
                colors[ci].append(k)
                vs.add(int(p))
                vs.add(int(c))
                placed = True
                break
        if not placed:
            colors.append([k])
            vertex_sets.append({int(p), int(c)})
    return [np.asarray(g, dtype=np.int64) for g in colors]


def dykstra_matrix(
    P: np.ndarray,  # (n_rows, n_labels) probabilities
    edge_idx: np.ndarray,  # (n_edges, 2) int [parent_col, child_col]
    n_iter: int = DYKSTRA_ITERS,
    chunk: int | None = None,
) -> np.ndarray:
    """Euclidean projection of every row of P onto
    {x : x[parent] >= x[child] ∀ edges}. Exact (in the iteration limit)
    per Dykstra's algorithm for intersections of convex sets.

    Layout: label-major transpose per row-chunk (contiguous per-label
    vectors), edges grouped by graph coloring (vectorized across each
    color class). Row results are independent of chunk boundaries and
    batch composition — required for bit-stable output across
    parallelism levels."""
    X = np.array(P, dtype=np.float64, copy=True)
    n_e = 0 if edge_idx is None else len(edge_idx)
    if n_e == 0 or X.size == 0:
        return X
    groups = _color_edges(edge_idx)

    # compiled sweep kernel (bit-identical; see _dykstra_native): the
    # numpy sweep costs ~10^4 interpreter round trips per chunk on
    # ontology-sized graphs — the kernel removes that overhead (~10x
    # on the linking stage's Python CPU) and preserves the exact
    # op order, so results are bitwise equal and the fallback is
    # purely a performance difference.
    from cello_spark.functions._dykstra_native import get_kernel

    lib = get_kernel()
    if chunk is None:
        chunk = DYKSTRA_CHUNK_NATIVE if lib is not None else DYKSTRA_CHUNK
    if lib is not None:
        order = np.concatenate(groups)
        par = np.ascontiguousarray(edge_idx[order, 0], dtype=np.int64)
        chi = np.ascontiguousarray(edge_idx[order, 1], dtype=np.int64)
        import ctypes

        dp = ctypes.POINTER(ctypes.c_double)
        lp = ctypes.POINTER(ctypes.c_longlong)
        out = np.empty_like(X)
        for s in range(0, X.shape[0], chunk):
            XT = np.ascontiguousarray(X[s : s + chunk].T)
            c = XT.shape[1]
            corr_p = np.zeros((n_e, c), dtype=np.float64)
            corr_c = np.zeros((n_e, c), dtype=np.float64)
            lib.dykstra_sweeps(
                XT.ctypes.data_as(dp),
                corr_p.ctypes.data_as(dp),
                corr_c.ctypes.data_as(dp),
                par.ctypes.data_as(lp),
                chi.ctypes.data_as(lp),
                n_e,
                c,
                n_iter,
            )
            out[s : s + chunk] = XT.T
        return out

    out = np.empty_like(X)
    for s in range(0, X.shape[0], chunk):
        XT = np.ascontiguousarray(X[s : s + chunk].T)  # (L, c)
        c = XT.shape[1]
        corr_p = np.zeros((n_e, c), dtype=np.float64)
        corr_c = np.zeros((n_e, c), dtype=np.float64)
        # EXACT early exit, still batch-invariant: a sweep that starts
        # with all corrections zero and sees no violation is a pure
        # no-op, and so is every sweep after it — breaking there yields
        # BIT-IDENTICAL output to running all n_iter sweeps. (A clean
        # sweep with nonzero entering corrections still absorbs them
        # into X — X[p] := X[p] + corr — which can introduce new
        # violations, hence the two-condition check.) Rows never
        # interact, so the fixed point per row is independent of chunk
        # and batch composition; ontology-depth DAGs reach it in ~10-30
        # sweeps, cutting the 200-sweep budget ~10x.
        corr_zero = True
        for _ in range(n_iter):
            any_viol = False
            for g in groups:
                pi = edge_idx[g, 0]
                ci = edge_idx[g, 1]
                xp = XT[pi] + corr_p[g]  # (|g|, c) gathers
                xc = XT[ci] + corr_c[g]
                viol = xp < xc
                if viol.any():
                    any_viol = True
                m = 0.5 * (xp + xc)
                new_p = np.where(viol, m, xp)
                new_c = np.where(viol, m, xc)
                corr_p[g] = xp - new_p
                corr_c[g] = xc - new_c
                XT[pi] = new_p  # disjoint within a color → safe scatter
                XT[ci] = new_c
            if not any_viol:
                if corr_zero:
                    break
                corr_zero = True
            else:
                corr_zero = False
        out[s : s + chunk] = XT.T
    return out


def sigmoid(z: np.ndarray) -> np.ndarray:
    # numerically stable two-sided formulation
    out = np.empty_like(z, dtype=np.float64)
    pos = z >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-z[pos]))
    ez = np.exp(z[~pos])
    out[~pos] = ez / (1.0 + ez)
    return out


def score_matrix(
    X: np.ndarray,  # (n_rows, n_features)
    W: np.ndarray,  # (n_labels, n_features)
    b: np.ndarray,  # (n_labels,)
    trivial: np.ndarray,  # (n_labels,) bool
) -> np.ndarray:
    """sigmoid(X W^T + b); trivial labels (no negative training
    examples) get constant 1.0 — reference
    ensemble_binary_classifiers.py:122-128, :180-182."""
    P = sigmoid(X @ W.T + b)
    if trivial.any():
        P[:, trivial] = 1.0
    return P


def label_edge_index(
    labels_sorted: list[str], label_edges: list[tuple[str, str]]
) -> np.ndarray:
    """(child,parent) string edges → (n_edges,2) int [parent_idx,
    child_idx] over the sorted label vocabulary, deterministic order."""
    pos = {l: i for i, l in enumerate(labels_sorted)}
    rows = [
        (pos[p], pos[c])
        for c, p in sorted(set(label_edges))
        if c in pos and p in pos
    ]
    return np.asarray(rows, dtype=np.int64).reshape(-1, 2)
