"""Tie-aware map-side partial top-k selection.

Every broadcast map-side kNN path in the engine emits a per-batch
partial top-k and lets a final window (``score, id``) produce the global
ranking.  ``np.argpartition`` alone picks an ARBITRARY subset of rows
tied at the cutoff value, so a tied candidate with a smaller id can be
dropped map-side and the final window never sees it — violating the
declared (score, id ASC) tie-break even though every emitted row is
ranked correctly.  Continuous scores never tie, which is why hash gates
on random data pass; duplicate vectors/series tie exactly and expose it
(caught by the exact-tie ANN fixture in tests/test_pipeline.py).

``topk_rows_tiebreak`` keeps argpartition's O(n) selection for the rows
strictly better than the cutoff and resolves the cutoff ties by smallest
id — the same total order the final window applies, so the map-side
partial is always a superset of the global top-k's contributors.
"""

from __future__ import annotations

import numpy as np


def topk_matrix_tiebreak(scores: np.ndarray, ids: np.ndarray, kk: int,
                         largest: bool = False) -> np.ndarray:
    """Column-wise ``topk_rows_tiebreak`` over a (n, m) score matrix —
    returns (kk, m) row indices.

    Ties are rare on continuous scores, so the hot path stays ONE
    vectorized argpartition; only columns whose cutoff value is tied
    across the selection boundary (cutoff count inside the selection <
    cutoff count overall) pay the per-column id-ordered fix.
    """
    n, m = scores.shape
    if n <= kk:
        return np.tile(np.arange(n)[:, None], (1, m))
    c = -scores if largest else scores
    # partition along the CONTIGUOUS axis: scores arrive row-major
    # (n, m), and argpartition over axis=0 strides column-wise through
    # it — one explicit transposed copy makes each query's candidate
    # row contiguous and the selection ~5x faster (this select, not the
    # BLAS, dominates brute-force ANN wall clock: 1.9s vs 0.36s per
    # (700 x 20k) partition call, measured round 9)
    cT = np.ascontiguousarray(c.T)                          # (m, n)
    selT = np.argpartition(cT, kk - 1, axis=1)[:, :kk]      # (m, kk)
    rows = np.arange(m)[:, None]
    vals = cT[rows, selT]
    cutoff = vals.max(axis=1)                               # (m,)
    with np.errstate(invalid="ignore"):
        eq_all = (cT == cutoff[:, None]).sum(axis=1)
        eq_sel = (vals == cutoff[:, None]).sum(axis=1)
    sel = selT.T.copy()                                     # (kk, m)
    for qi in np.nonzero(eq_all > eq_sel)[0]:
        sel[:, qi] = topk_rows_tiebreak(scores[:, qi], ids, kk, largest)
    return sel


def topk_rows_of_matrix(scores: np.ndarray, ids: np.ndarray, kk: int,
                        largest: bool = False) -> np.ndarray:
    """Row-wise tie-aware top-k over a QUERY-MAJOR (m, n) score matrix
    (each row one query, columns = candidates with shared ``ids``):
    returns (m, kk) column indices.  The row-major twin of
    topk_matrix_tiebreak — selection runs over contiguous rows with no
    transposed copy, so a caller that computes scores query-major
    (Q @ C.T) pays zero layout cost."""
    m, n = scores.shape
    if n <= kk:
        return np.tile(np.arange(n)[None, :], (m, 1))
    c = -scores if largest else scores
    sel = np.argpartition(c, kk - 1, axis=1)[:, :kk]        # (m, kk)
    rows = np.arange(m)[:, None]
    vals = c[rows, sel]
    cutoff = vals.max(axis=1)
    with np.errstate(invalid="ignore"):
        eq_all = (c == cutoff[:, None]).sum(axis=1)
        eq_sel = (vals == cutoff[:, None]).sum(axis=1)
    for qi in np.nonzero(eq_all > eq_sel)[0]:
        sel[qi] = topk_rows_tiebreak(scores[qi], ids, kk, largest)
    return sel


def merge_topk_columns(scores_a, ids_a, scores_b, ids_b, kk: int):
    """Merge two column-wise partial top-k blocks (each (r, m) scores +
    matching ids, LARGEST-first semantics) into the per-column top-kk
    under the global (score DESC, id ASC) order.

    Used to fold per-Arrow-batch partials into ONE partial per task:
    without it a task emits q x k rows per batch, and the final window's
    shuffle input grows with the batch count (≈ split size / batch size,
    ~64x at 128 MB splits) instead of staying O(q x k x tasks).

    Two stable argsorts give the lexicographic order: first by id ASC,
    then stably by score DESC.  Row counts are small (<= 2 kk), so the
    cost per merge is trivial next to the scoring BLAS.
    """
    s = np.vstack([scores_a, scores_b])
    i = np.vstack([ids_a, ids_b])
    ord1 = np.argsort(i, axis=0, kind="stable")
    s1 = np.take_along_axis(s, ord1, axis=0)
    i1 = np.take_along_axis(i, ord1, axis=0)
    ord2 = np.argsort(-s1, axis=0, kind="stable")[:kk]
    return (np.take_along_axis(s1, ord2, axis=0),
            np.take_along_axis(i1, ord2, axis=0))


def topk_rows_tiebreak(scores: np.ndarray, ids: np.ndarray, kk: int,
                       largest: bool = False) -> np.ndarray:
    """Indices of the ``kk`` best entries of ``scores`` (smallest when
    ``largest=False``), ties at the cutoff broken by smallest ``ids``.

    Cost is O(n) (argpartition) plus O(t log t) over the t cutoff ties —
    t is O(1) for continuous scores and never exceeds n.
    """
    n = len(scores)
    if n <= kk:
        return np.arange(n)
    c = -scores if largest else scores
    top = np.argpartition(c, kk - 1)[:kk]
    cutoff = c[top].max()
    if np.isnan(cutoff):
        # kk-th best is already NaN -> fewer than kk comparable scores;
        # argpartition's pick is as good as any (NaN order is undefined
        # in the final window too, which filters them via inf guards)
        return top
    better = np.nonzero(c < cutoff)[0]
    tied = np.nonzero(c == cutoff)[0]
    need = kk - len(better)
    tied_sel = tied[np.argsort(ids[tied], kind="stable")[:need]]
    return np.concatenate([better, tied_sel])
