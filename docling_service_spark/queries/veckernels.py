"""Vectorized NumPy twins of the JVM embedding-expression folds (guide §4.2:
hand whole Arrow batches to native code instead of interpreted per-element
expression evaluation).

**The parity invariant.**  Every declared query's values are floor-scaled
floats, so the optimized kernels must reproduce the Catalyst higher-order-
function folds BIT-FOR-BIT, not approximately.  The trick: the JVM folds are
sequential over the 64 dims (``aggregate(zip_with(...), 0.0, acc + x)``), so
each kernel accumulates **sequentially across dims but vectorized across
rows** — ``acc += X[:, i] * Y[:, i]`` performs, per row, the identical IEEE-754
double multiply-then-add sequence as the Spark fold (NumPy does not fuse
multiply-add, and float32→float64 widening is exact), so the results are
bit-identical.  ``np.dot``/BLAS would NOT be (pairwise/SIMD summation reorders
the adds); nothing here may use them.

Tie-breaks: ``np.argmin`` keeps the FIRST minimum — the same (dist, idx)
struct-min rule as ``array_min``/``min(struct)`` in the JVM and the oracles.

Every kernel here is pinned to its JVM twin by bit-for-bit parity tests
(tests/test_veckernels.py) and by the sf0.01 DuckDB oracle mirror
(tests/test_entry_contract.py).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "list_to_matrix",
    "seq_dot",
    "seq_inv_norm",
    "assign_argmin",
    "lsh_bucket_ids",
    "pair_sims_e6",
    "component_min_labels",
    "cosine_sim_e6",
    "double_to_long",
    "doubles_to_list_array",
]

_I64_MAX = np.iinfo(np.int64).max
_I64_MIN = np.iinfo(np.int64).min


_TWO_63 = 2.0 ** 63  # exact in float64; float(_I64_MAX) rounds up to it


def double_to_long(x: np.ndarray) -> np.ndarray:
    """float64 → int64 with the JVM's Double.toLong semantics (NaN → 0,
    values outside the long range — ±inf included — saturate) — the exact
    twin of Spark's floor-result long and double→bigint casts, so NaN/inf
    edge rows cannot silently diverge.  Saturation is by comparison against
    ±2^63: ``astype`` would wrap out-of-range values to INT64_MIN, and a
    ``np.clip`` to ``float(INT64_MAX)`` still overflows (that bound IS 2^63)."""
    out = np.zeros(x.shape, dtype=np.int64)
    hi = x >= _TWO_63
    lo = x < -_TWO_63
    ok = np.isfinite(x) & ~hi & ~lo
    out[ok] = x[ok].astype(np.int64)
    out[hi] = _I64_MAX
    out[lo] = _I64_MIN
    return out


def doubles_to_list_array(M: np.ndarray):
    """(n, dim) float64 → pyarrow list<double> array (zero row-loop)."""
    import pyarrow as pa

    n, dim = M.shape
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(M.reshape(-1)))


def list_to_matrix(arr, dim: int) -> np.ndarray:
    """pyarrow ListArray / pandas Series of float32 vectors → (n, dim)
    float64 matrix (exact widening)."""
    import pyarrow as pa

    if isinstance(arr, (pa.ChunkedArray,)):
        arr = arr.combine_chunks()
    if isinstance(arr, pa.Array):
        flat = arr.flatten().to_numpy(zero_copy_only=False)
        m = flat.reshape(len(arr), dim)
    else:  # pandas Series of np.ndarray / list
        m = np.array([np.asarray(v) for v in arr], dtype=np.float32).reshape(-1, dim)
    return np.ascontiguousarray(m, dtype=np.float64)


def seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot with the JVM's sequential-fold add order."""
    acc = np.zeros(A.shape[0])
    for i in range(A.shape[1]):
        acc += A[:, i] * B[:, i]
    return acc


def seq_inv_norm(X: np.ndarray) -> np.ndarray:
    """1.0 / sqrt(seq_dot(x, x)) per row — the q42/q46 inv_norm column."""
    return 1.0 / np.sqrt(seq_dot(X, X))


def assign_argmin(X: np.ndarray, C: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(cluster, sq_dist) per row against centroid matrix ``C`` (k, dim).

    Distance per centroid is the sequential ``(x-c)^2`` fold; argmin keeps
    the first (lowest-index) minimum = the (d, c) struct-min tie-break."""
    n, k = X.shape[0], C.shape[0]
    D = np.empty((k, n))
    for j in range(k):
        acc = np.zeros(n)
        cj = C[j]
        for i in range(X.shape[1]):
            diff = X[:, i] - cj[i]
            acc += diff * diff
        D[j] = acc
    cluster = np.argmin(D, axis=0)
    return cluster.astype(np.int64), D[cluster, np.arange(n)]


def lsh_bucket_ids(X: np.ndarray, W: np.ndarray) -> np.ndarray:
    """Sign-random-projection bucket ids against weight matrix ``W``
    (dim, planes): bucket = Σ_j (proj_j > 0) · 2^j with the sequential
    projection fold — the NumPy twin of similarity.bucket_column."""
    n = X.shape[0]
    bucket = np.zeros(n, dtype=np.int64)
    for j in range(W.shape[1]):
        acc = np.zeros(n)
        wj = W[:, j]
        for i in range(X.shape[1]):
            acc += X[:, i] * wj[i]
        bucket += np.where(acc > 0, np.int64(1) << j, np.int64(0))
    return bucket


def pair_sims_e6(ids: np.ndarray, N: np.ndarray, threshold_e6: int,
                 block_doubles: int = 4_000_000):
    """All (i < j) pair cosine sims within one bucket/cluster group over
    PRE-NORMALIZED vectors ``N``; returns (id_a, id_b, sim_e6) arrays for
    pairs with ``sim_e6 >= threshold_e6``.

    ``ids`` must be sorted ascending so i < j ⇔ id_a < id_b.  The pair dot
    accumulates per dim via ``np.outer`` — for every pair the add order is
    the identical sequential fold.  ``floor(sim·1e6)`` converts to int64 via
    ``double_to_long`` (NaN → 0, the JVM rule) BEFORE the threshold, so the
    result is bit-identical to the JVM ``filter(sim_e6 >= T)`` even on
    zero-norm edge rows.  Peak accumulator memory is ~``block_doubles``
    doubles per block."""
    n = N.shape[0]
    out_a, out_b, out_s = [], [], []
    block_rows = max(16, block_doubles // max(n, 1))
    for s in range(0, max(n - 1, 0), block_rows):
        e = min(s + block_rows, n - 1)
        A = N[s:e]
        B = N[s + 1:]           # columns start one past the block's first row
        acc = np.zeros((e - s, B.shape[0]))
        for i in range(N.shape[1]):
            acc += np.outer(A[:, i], B[:, i])
        sim_e6 = double_to_long(np.floor(acc * 1000000.0))
        # mask to strictly-upper-triangle in global indices: row s+r pairs
        # with columns s+1+c where c >= r  ⇔  global j > global i
        rows, cols = np.indices(acc.shape, sparse=True)
        keep = (cols >= rows) & (sim_e6 >= threshold_e6)
        r, c = np.nonzero(keep)
        out_a.append(ids[s + r])
        out_b.append(ids[s + 1 + c])
        out_s.append(sim_e6[r, c])
    if not out_a:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_s)


def component_min_labels(ia: np.ndarray, ib: np.ndarray,
                         n: int) -> tuple[np.ndarray, int]:
    """Connected components of the undirected graph on vertices ``0..n-1``
    with edges ``(ia[k], ib[k])``.  Returns ``(lab, rounds)``: ``lab[v]`` is
    the smallest vertex index in ``v``'s component (singletons label
    themselves), ``rounds`` the propagation rounds run.

    Min-label propagation with pointer jumping: each round lowers both
    endpoints of every edge to the smaller label (``np.minimum.at`` in each
    direction), then jumps every label through the fresh mapping
    (``lab = lab[lab]``), until a round changes nothing.  ``lab[v] <= v``
    and ``lab[v]`` stays inside ``v``'s component throughout, so the
    fixpoint — equal labels across every edge — is the component minimum;
    the jump makes the round count O(log diameter), not O(diameter).

    Raises ``ValueError`` when an edge endpoint is not a vertex index:
    NumPy would wrap a negative index silently and mislabel."""
    lab = np.arange(n, dtype=np.int64)
    rounds = 0
    if len(ia) == 0:
        return lab, rounds
    if min(ia.min(), ib.min()) < 0 or max(ia.max(), ib.max()) >= n:
        raise ValueError(f"edge endpoints missing from vertices 0..{n - 1}")
    while True:
        rounds += 1
        prev = lab.copy()
        np.minimum.at(lab, ia, lab[ib])
        np.minimum.at(lab, ib, lab[ia])
        lab = lab[lab]
        if np.array_equal(lab, prev):
            return lab, rounds


def cosine_sim_e6(P: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Row-wise floor-scaled cosine of probe/candidate matrices — the JVM
    ``dot/(sqrt(dot)·sqrt(dot))`` expression with sequential folds.  Returns
    float64 (caller applies thresholds/casts so NaN semantics stay exact)."""
    return np.floor(
        seq_dot(P, C) / (np.sqrt(seq_dot(P, P)) * np.sqrt(seq_dot(C, C)))
        * 1000000.0
    )
