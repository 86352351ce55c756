"""Distributed similarity layer: pair joins + Arrow-batched UDF kernels.

The reference's ``_cdist_generic`` (tslearn/metrics/utils.py:8-85)
enumerates pairs on one machine with joblib threads.  Here the pair set
IS a DataFrame join and the kernel is a vectorized pandas UDF, so the
same query runs on a laptop or a 1000-executor cluster:

* symmetric case: join on ``a.series_id < b.series_id`` → compute the
  upper triangle only, union the mirror — half the kernel work, exactly
  like metrics/utils.py:58-75;
* the small side of query×train joins is broadcast;
* optional LB_Keogh pre-filter prunes expensive DTW calls with a cheap
  window-expression bound (dtw_variants.py:1224-1368) — this is our
  engine's "optimizer rule": Catalyst can't invent it, we declare it.
"""

from __future__ import annotations

import warnings
from functools import partial
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

from tslearn_spark import kernels as K
from tslearn_spark.session import size_tasks

# reference metric registries (tslearn/metrics/__init__.py:28-29): the
# metric names accepted by estimators, all of which tolerate
# variable-length inputs in this engine too
TSLEARN_VALID_METRICS = ["ctw", "dtw", "gak", "sax", "softdtw", "lcss"]
VARIABLE_LENGTH_METRICS = ["ctw", "dtw", "gak", "sax", "softdtw", "lcss"]

__all__ = [
    "pair_scores",
    "pair_metric_udf",
    "cross_pairs",
    "self_pairs",
    "cdist",
    "lb_keogh_col",
    "envelope_cols",
    "METRIC_PARAMS",
]


def _to_arr(v) -> np.ndarray:
    # fast path: a FLAT numeric array (callers flatten univariate series
    # JVM-side — see _kernel_args) is already the right buffer, ~25x
    # cheaper than the nested tolist round-trip below
    if isinstance(v, np.ndarray):
        if v.dtype != object:
            return v.reshape(-1, 1)
        # ndarray-of-ndarray -> (sz, d); .tolist() + np.array is ~2x faster
        # than stacking the object rows (measured on Arrow-delivered batches)
        return np.array(v.tolist(), dtype=np.float64)
    return np.asarray([np.asarray(r, dtype=np.float64) for r in v], dtype=np.float64)


def dim_of(df: DataFrame, values_col: str = "values") -> int | None:
    """Feature dimension d of a nested series column (one tiny job)."""
    try:
        r = df.select(
            F.size(F.element_at(F.col(values_col), 1)).alias("d")
        ).first()
        return int(r["d"]) if r is not None and r["d"] is not None else None
    except Exception:  # noqa: BLE001 — empty input / missing column
        return None


def _kernel_args(dim: int | None) -> tuple[Column, Column]:
    """Kernel UDF argument columns for a pair join.

    Univariate series are flattened JVM-side so Arrow ships plain
    array<double> — the Python side then skips the per-row nested
    conversion (~17us/row -> ~0.7us/row measured).  Multivariate keeps
    the nested layout.
    """
    if dim == 1:
        return F.flatten("values1"), F.flatten("values2")
    return F.col("values1"), F.col("values2")


METRIC_PARAMS: dict[str, Callable[..., Callable]] = {}


def _register(name):
    def deco(fn):
        METRIC_PARAMS[name] = fn
        return fn
    return deco


@_register("dtw")
def _make_dtw(global_constraint=None, sakoe_chiba_radius=None, itakura_max_slope=None):
    def f(a, b):
        return K.dtw(a, b, global_constraint, sakoe_chiba_radius, itakura_max_slope)
    return f


@_register("softdtw")
def _make_softdtw(gamma: float = 1.0):
    def f(a, b):
        return K.soft_dtw(a, b, gamma=gamma)
    return f


@_register("gak")
def _make_gak(sigma: float = 1.0):
    def f(a, b):
        return K.gak(a, b, sigma=sigma)
    return f


@_register("unnormalized_gak")
def _make_ugak(sigma: float = 1.0):
    def f(a, b):
        return K.unnormalized_gak(a, b, sigma=sigma)
    return f


@_register("lcss")
def _make_lcss(eps: float = 1.0, **kw):
    def f(a, b):
        return K.lcss(a, b, eps=eps, **kw)
    return f


@_register("subseq")
def _make_subseq():
    """Subsequence-DTW distance (dtw_variants.py:846-903): best match of
    the FIRST series inside the second — free start (row 0 = local
    cost) and free end (min over the last accumulated row).  Asymmetric
    by construction; score = dtw_subsequence_path(a, b)[1], so the
    gated column exercises the full public API incl. the argmin."""
    def f(a, b):
        return K.dtw_subsequence_path(a, b)[1]
    return f


@_register("euclidean")
def _make_euclidean():
    return K.euclidean


@_register("sqeuclidean")
def _make_sqeuclidean():
    return K.KERNELS["sqeuclidean"]


@_register("cityblock")
def _make_cityblock():
    return K.KERNELS["cityblock"]


@_register("ncc")
def _make_ncc():
    return K.normalized_cc_max


@_register("sbd")
def _make_sbd():
    def f(a, b):
        return 1.0 - K.normalized_cc_max(a, b)
    return f


@_register("ctw")
def _make_ctw(max_iter: int = 100, n_components=None):
    from tslearn_spark.metrics.ctw import ctw

    def f(a, b):
        return ctw(a, b, max_iter=max_iter, n_components=n_components)
    return f


def dtw_band(metric: str, params: dict) -> tuple[bool, int | None]:
    """``(True, radius)`` when the batched DTW kernels run
    ``metric(**params)``, the Sakoe-Chiba ``radius`` None for no band;
    ``(False, None)`` for another metric or an Itakura constraint, which
    only the per-pair ``K.dtw`` runs."""
    if metric != "dtw" or params.get("global_constraint") == "itakura" \
            or params.get("itakura_max_slope") is not None:
        return False, None
    radius = params.get("sakoe_chiba_radius")
    if params.get("global_constraint") == "sakoe_chiba" and radius is None:
        radius = 1
    return True, radius


def pair_scores(metric: str, params: dict) -> Callable[[list, list], np.ndarray]:
    """The engine's one pair-scoring dispatch: a function mapping two
    equally long lists of ``(sz, d)`` series to the float64 array of
    ``metric(a[p], b[p])``, series taken as given.

    The DP metrics score the whole list in ONE mixed-shape batch call:
    DTW (``dtw_band``) runs the compiled kernel, one C loop per call;
    soft-DTW (gamma > 0), GAK and unconstrained LCSS run padded
    anti-diagonal numpy DPs, one Python loop per call whatever the shape
    spread (per-pair numpy costs ~500us/pair on variable lengths).
    Callers sort partitions by series size (``_pair_sort``), so padding
    waste stays small.  Every other metric loops its per-pair kernel
    (``METRIC_PARAMS``).
    """
    banded, radius = dtw_band(metric, params)
    if banded:
        batch = partial(K.dtw_banded_batch_mixed, radius=radius)
    elif metric == "softdtw" and params.get("gamma", 1.0) > 0:
        batch = partial(K.soft_dtw_batch_mixed, gamma=params.get("gamma", 1.0))
    elif metric in ("gak", "unnormalized_gak"):
        batch = partial(K.gak_batch_mixed, sigma=params.get("sigma", 1.0),
                        normalized=metric == "gak")
    elif metric == "lcss" and not any(params.get(k) for k in (
            "global_constraint", "sakoe_chiba_radius", "itakura_max_slope")):
        batch = partial(K.lcss_batch_mixed, eps=params.get("eps", 1.0))
    else:
        kernel = METRIC_PARAMS[metric](**params)
        return lambda a, b: np.array(
            [float(kernel(x, y)) for x, y in zip(a, b)], dtype=np.float64)
    return batch


def pair_metric_udf(metric: str, **params):
    """A scalar pandas UDF computing ``metric(a, b)`` per row: one
    ``pair_scores`` call per Arrow batch."""
    score = pair_scores(metric, params)

    @F.pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(score([_to_arr(x) for x in a], [_to_arr(y) for y in b]),
                         dtype=np.float64)

    return _udf


PATH_SCHEMA = StructType(
    [
        StructField("path", ArrayType(StructType([
            StructField("i", IntegerType()), StructField("j", IntegerType())])), True),
        StructField("dist", DoubleType(), True),
    ]
)


def dtw_path_udf(**params):
    """pandas UDF returning struct(path array<struct<i,j>>, dist)."""

    @F.pandas_udf(PATH_SCHEMA)
    def _udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        paths, dists = [], []
        for x, y in zip(a, b):
            p, dd = K.dtw_path(_to_arr(x), _to_arr(y), **params)
            paths.append([{"i": int(i), "j": int(j)} for i, j in p])
            dists.append(float(dd))
        return pd.DataFrame({"path": paths, "dist": dists})

    return _udf


# ---------------------------------------------------------------------------
# pair enumeration (the join layer)
# ---------------------------------------------------------------------------

# The kernel-feeding side of every pair join goes through
# session.size_tasks.  Metric joins are COMPUTE-bound: a few thousand
# series rows generate millions of O(sz^2) kernel calls, and AQE sizes
# partitions by bytes, so it would coalesce the small-but-expensive side
# to one partition and serialize the UDF stage (measured 356 s -> ~15 s
# at sf0.1).  A row's cost grows with the series lengths, which the plan
# does not carry, so no work estimate is passed: one task per row, up to
# the slot count.


def _pair_sort(df: DataFrame, band: bool = True) -> DataFrame:
    """Local sort making Arrow batches length-homogeneous for the batch
    kernels.  Key order matters per kernel family:

    * band=True (banded DTW): the padded DP pays Lmax x Wmax cells per
      pair and W tracks |sz1 - sz2| + 2r + 1, so sort by the length
      DIFFERENCE first, then length (~2.5x vs size-sorted batches);
    * band=False (full-grid soft-DTW/GAK/LCSS): cost is Lmax1 x Lmax2,
      so plain size sorting minimizes padding.
    """
    if band:
        return df.sortWithinPartitions(
            F.abs(F.size("values1") - F.size("values2")), F.size("values1")
        )
    return df.sortWithinPartitions(F.size("values1"), F.size("values2"))

def cross_pairs(d1: DataFrame, d2: DataFrame, broadcast_right: bool = True) -> DataFrame:
    """Full rectangle d1 × d2 with columns (id1, values1, id2, values2).

    For kNN-style queries the train side is usually the small one —
    broadcast it so the join is shuffle-free; the left side is spread
    over tasks (session.size_tasks).
    """
    left = size_tasks(
        d1.select(F.col("series_id").alias("id1"), F.col("values").alias("values1"))
    )
    right = d2.select(F.col("series_id").alias("id2"), F.col("values").alias("values2"))
    if broadcast_right:
        right = F.broadcast(right)
    return left.crossJoin(right)


def self_pairs(df: DataFrame) -> DataFrame:
    """Strict upper triangle of df × df (id1 < id2).

    Mirrors the symmetry optimization of metrics/utils.py:58-75: kernel
    evaluated once per unordered pair.  Left side spread for parallelism;
    right side broadcast (self-joins have identical sides — broadcasting
    one avoids a sort-merge shuffle of series payloads).
    """
    left = size_tasks(
        df.select(F.col("series_id").alias("id1"), F.col("values").alias("values1"))
    )
    right = F.broadcast(
        df.select(F.col("series_id").alias("id2"), F.col("values").alias("values2"))
    )
    return left.join(right, F.col("id1") < F.col("id2"))


def cdist(
    d1: DataFrame,
    d2: DataFrame | None = None,
    metric: str = "dtw",
    symmetric_zero_diag: bool | None = None,
    **params,
) -> DataFrame:
    """Distributed cross-similarity: returns edges (id1, id2, dist).

    Spark analog of ``_cdist_generic`` — but the result stays a
    DataFrame of edges (never an n×n driver array), so O(n²) objects
    remain distributed (SURVEY.md §7 "what's hard").

    Self-case: computes the strict upper triangle, unions the mirrored
    copy, and adds the diagonal (0 for distances; kernel(x,x) for
    softdtw/gak whose self-score is nonzero — softdtw_variants.py:451-532).
    """
    if metric == "gak":
        return _cdist_gak_normalized(d1, d2, **params)
    udf = pair_metric_udf(metric, **params)
    a1, a2 = _kernel_args(dim_of(d1))
    if d2 is None:
        if symmetric_zero_diag is None:
            symmetric_zero_diag = metric not in ("softdtw", "unnormalized_gak")
        upper = _pair_sort(self_pairs(d1), band=metric == "dtw").withColumn("dist", udf(a1, a2))
        # r14 (guide §2.4 — don't compute things twice): emit BOTH
        # directions of each pair from ONE evaluated row via explode.
        # The old up.unionByName(mirror) referenced the ``upper``
        # subtree twice, and Spark has no cross-branch reuse — the
        # whole kernel-UDF stage (and its tasks) ran twice per cdist.
        # Same rows, same doubles, half the kernel evaluations.
        both = upper.select(
            F.explode(F.array(
                F.struct(F.col("id1"), F.col("id2"), F.col("dist")),
                F.struct(F.col("id2").alias("id1"),
                         F.col("id1").alias("id2"), F.col("dist")),
            )).alias("_e")
        ).select("_e.id1", "_e.id2", "_e.dist")
        if symmetric_zero_diag:
            if metric in ("gak", "ncc", "lcss"):
                # similarities, not distances: self-score is 1
                # (gak normalized k(x,x)=1; ncc(x,x)=1; lcss(x,x)=1)
                diag_val = F.lit(1.0)
            else:
                diag_val = F.lit(0.0)
            diag = d1.select(
                F.col("series_id").alias("id1"),
                F.col("series_id").alias("id2"),
                diag_val.cast("double").alias("dist"),
            )
        else:
            diag = (
                d1.select(
                    F.col("series_id").alias("id1"),
                    F.col("series_id").alias("id2"),
                    F.col("values").alias("values1"),
                    F.col("values").alias("values2"),
                )
                .withColumn("dist", udf(a1, a2))
                .select("id1", "id2", "dist")
            )
        return both.unionByName(diag)
    pairs = _pair_sort(cross_pairs(d1, d2), band=metric == "dtw")
    return pairs.withColumn("dist", udf(a1, a2)).select("id1", "id2", "dist")


def _self_gak_udf(sigma: float):
    @F.pandas_udf(DoubleType())
    def _udf(v: pd.Series) -> pd.Series:
        arrs = [_to_arr(x) for x in v]
        return pd.Series([K.unnormalized_gak(a, a, sigma) for a in arrs])

    return _udf


def _cdist_gak_normalized(d1: DataFrame, d2: DataFrame | None,
                          sigma: float = 1.0) -> DataFrame:
    """Normalized GAK Gram with cached diagonals (softdtw_variants.py:185-217).

    The naive per-pair normalization runs THREE DPs per pair (xy, xx, yy);
    here each series' self-kernel is computed once and joined back — the
    reference's diagonal cache, as broadcast joins.  Unnormalized pair
    kernels still ride the batched anti-diagonal path.
    """
    dim = dim_of(d1)
    vcol = F.flatten("values") if dim == 1 else F.col("values")
    a1, a2 = _kernel_args(dim)

    def selfs(df: DataFrame) -> DataFrame:
        return size_tasks(df.select("series_id", "values")).select(
            "series_id", _self_gak_udf(sigma)(vcol).alias("kself")
        )

    udf = pair_metric_udf("unnormalized_gak", sigma=sigma)
    s1 = selfs(d1)
    if d2 is None:
        upper = _pair_sort(self_pairs(d1), band=False).withColumn("kxy", udf(a1, a2)).select("id1", "id2", "kxy")
        # r14 (guide §2.4): both directions from ONE evaluated pair row
        # (the old upper.unionByName(upper.select(...)) ran the GAK-UDF
        # stage twice), and ONE broadcast of the self-kernel table used
        # for both lookups — the two join conditions reference the SAME
        # broadcast subplan, so exchange reuse builds it once (the old
        # k1/k2 projections differed and each re-ran the selfs UDF).
        both = upper.select(
            F.explode(F.array(
                F.struct(F.col("id1"), F.col("id2"), F.col("kxy")),
                F.struct(F.col("id2").alias("id1"),
                         F.col("id1").alias("id2"), F.col("kxy")),
            )).alias("_e")
        ).select("_e.id1", "_e.id2", "_e.kxy")
        sA = F.broadcast(s1).alias("sA")
        sB = F.broadcast(s1).alias("sB")
        off = (
            both.join(sA, F.col("id1") == F.col("sA.series_id"))
            .join(sB, F.col("id2") == F.col("sB.series_id"))
            .select(
                "id1", "id2",
                (F.col("kxy")
                 / F.sqrt(F.col("sA.kself") * F.col("sB.kself"))).alias("dist"),
            )
        )
        diag = d1.select(
            F.col("series_id").alias("id1"), F.col("series_id").alias("id2"),
            F.lit(1.0).alias("dist"),
        )
        return off.unionByName(diag)
    s2 = selfs(d2)
    pairs = _pair_sort(cross_pairs(d1, d2), band=False).withColumn("kxy", udf(a1, a2)).select("id1", "id2", "kxy")
    k1 = F.broadcast(s1.select(F.col("series_id").alias("id1"), F.col("kself").alias("k1")))
    k2 = F.broadcast(s2.select(F.col("series_id").alias("id2"), F.col("kself").alias("k2")))
    return pairs.join(k1, "id1").join(k2, "id2").select(
        "id1", "id2", (F.col("kxy") / F.sqrt(F.col("k1") * F.col("k2"))).alias("dist")
    )


# ---------------------------------------------------------------------------
# LB_Keogh as native SQL (the pruning rule)
# ---------------------------------------------------------------------------

def envelope_cols(values_col: str = "values", radius: int = 1) -> tuple[Column, Column]:
    """(lower, upper) running min/max over [i-r, i+r] — pure expression.

    Spark twin of lb_envelope (dtw_variants.py:1299-1368) on the nested
    layout: per output index slice the ±r window and take min/max.
    Univariate (d=1) specialization: arrays of double.
    """
    v = values_col
    r = radius

    def env(aggfn: str) -> Column:
        return F.expr(
            f"""
            transform(array({v}), src ->
              transform(sequence(0, size(src) - 1), i ->
                {aggfn}(transform(
                  slice(src, greatest(i - {r}, 0) + 1,
                        least(i + {r}, size(src) - 1) - greatest(i - {r}, 0) + 1),
                  row -> row[0]))
              )
            )[0]
            """
        )

    return env("array_min"), env("array_max")


def lb_keogh_col(query_values: str, lower: str, upper: str) -> Column:
    """LB_Keogh bound from precomputed envelopes (dtw_variants.py:1224-1296)."""
    return F.expr(
        f"""
        sqrt(
          aggregate(
            zip_with({query_values}, zip_with({lower}, {upper}, (l, u) -> struct(l, u)),
              (q, e) -> CASE WHEN q[0] > e.u THEN (q[0] - e.u) * (q[0] - e.u)
                             WHEN q[0] < e.l THEN (e.l - q[0]) * (e.l - q[0])
                             ELSE 0.0D END),
            0.0D, (a, x) -> a + x)
        )
        """
    )


def envelope_struct_col(lower: str, upper: str) -> Column:
    """Zip an envelope into one struct array ONCE per row — let-binding
    for join fan-out: lb_keogh_col rebuilds the zip per PAIR evaluation,
    so on an all-pairs join the zip runs n^2 times; materialize it on
    the (broadcast) envelope side and use lb_keogh_env_col instead."""
    return F.expr(f"zip_with({lower}, {upper}, (l, u) -> struct(l, u))")


def lb_keogh_env_col(
    query_values: str, env: str, fixed_n: int | None = None
) -> Column:
    """LB_Keogh against a pre-zipped envelope struct array — identical
    arithmetic to lb_keogh_col (same CASE, same fold order), minus the
    per-pair zip allocation.

    ``fixed_n``: pass the known series length (e.g. after resample(n))
    to take an unrolled codegen branch instead of the interpreted HOF
    fold — on an all-pairs join the fold is evaluated once per PAIR by
    the interpreted expression evaluator (r14 interleaved A/B at sf0.1:
    0.46 → 0.33 s median for the 1.12M-pair stage).  The unrolled
    exceedance is the
    branch-free ``greatest(q-u, l-q, 0)²``, value-identical to the CASE
    for every non-NaN input given the envelope invariant l <= u (the
    16-term CASE unroll itself regresses ~3x — branchy codegen); the
    sum keeps the fold's exact left-association so doubles are
    bit-identical (verified: full-result md5 parity at sf0.1).  Rows
    whose sizes differ from fixed_n (multirow zip_with padding would
    kick in) fall back to the fold via a codegen'd size guard.
    """
    fold = f"""
        sqrt(
          aggregate(
            zip_with({query_values}, {env},
              (q, e) -> CASE WHEN q[0] > e.u THEN (q[0] - e.u) * (q[0] - e.u)
                             WHEN q[0] < e.l THEN (e.l - q[0]) * (e.l - q[0])
                             ELSE 0.0D END),
            0.0D, (a, x) -> a + x)
        )
        """
    if fixed_n is None:
        return F.expr(fold)

    def _g(i: int) -> str:
        return (
            f"greatest({query_values}[{i}][0] - {env}[{i}].u, "
            f"{env}[{i}].l - {query_values}[{i}][0], 0.0D)"
        )

    terms = " + ".join(f"({_g(i)} * {_g(i)})" for i in range(fixed_n))
    return F.expr(
        f"CASE WHEN size({query_values}) = {fixed_n} "
        f"AND size({env}) = {fixed_n} "
        f"THEN sqrt(0.0D + {terms}) ELSE {fold} END"
    )


def cdist_with_lb_pruning(
    queries: DataFrame,
    candidates: DataFrame,
    radius: int,
    threshold: float,
    metric: str = "dtw",
    **params,
) -> DataFrame:
    """DTW join with LB_Keogh pre-filter: cheap bound first, kernel after.

    At scale this is the difference between n*m DTWs and n*m array
    expressions + a small fraction of DTWs — the bound is evaluated
    JVM-side in codegen, the UDF only sees survivors.
    """
    lo, up = envelope_cols("values", radius)
    # pre-zip the envelope ONCE per candidate row (the join fan-out
    # would otherwise rebuild the struct zip per pair — see
    # envelope_struct_col)
    cand = candidates.select(
        F.col("series_id").alias("id2"),
        F.col("values").alias("values2"),
        lo.alias("_lb_lo"),
        up.alias("_lb_up"),
    ).select(
        "id2", "values2", envelope_struct_col("_lb_lo", "_lb_up").alias("_lb_env")
    )
    q = size_tasks(
        queries.select(F.col("series_id").alias("id1"), F.col("values").alias("values1"))
    )
    pairs = q.crossJoin(F.broadcast(cand))
    pairs = pairs.withColumn("_lb", lb_keogh_env_col("values1", "_lb_env"))
    pruned = pairs.where(F.col("_lb") <= F.lit(threshold))
    udf = pair_metric_udf(metric, sakoe_chiba_radius=radius, **params) if metric == "dtw" \
        else pair_metric_udf(metric, **params)
    return pruned.withColumn("dist", udf("values1", "values2")).select(
        "id1", "id2", "_lb", "dist"
    )


# ---------------------------------------------------------------------------
# reference import parity (tslearn/metrics/__init__.py:1-60 public surface)
#
# A reference user's `from tslearn.metrics import dtw, cdist_dtw, ...`
# becomes `from tslearn_spark.metrics import ...`: the numpy-level
# kernels re-export directly, the masks are rebuilt from the engine's
# band-bounds form, and the cdist_* conveniences are driver-side numpy
# loops over the same kernels (the reference's joblib loops are also
# single-machine; the DISTRIBUTED path is `cdist` on DataFrames above).
# ---------------------------------------------------------------------------

from tslearn_spark.kernels import (  # noqa: E402  (re-exports)
    SoftDTW,
    SquaredEuclidean,
    dtw,
    dtw_limited_warping_length,
    dtw_path,
    dtw_path_from_metric,
    dtw_path_limited_warping_length,
    dtw_subsequence_path,
    gak,
    gamma_soft_dtw,
    lb_envelope,
    lb_keogh,
    lcss,
    lcss_path,
    lcss_path_from_metric,
    sigma_gak,
    soft_dtw,
    soft_dtw_alignment,
    subsequence_cost_matrix,
    subsequence_path,
    unnormalized_gak,
    y_shifted_sbd_vec,
)
from tslearn_spark.metrics.ctw import ctw, ctw_path  # noqa: E402

# dtw_variants.py:12
GLOBAL_CONSTRAINT_CODE = {None: 0, "": 0, "itakura": 1, "sakoe_chiba": 2}


def sakoe_chiba_mask(sz1: int, sz2: int, radius: int = 1) -> np.ndarray:
    """Full (sz1, sz2) Sakoe-Chiba mask, 0 in-band / inf outside
    (dtw_variants.py:907-956) — built from the engine's band bounds."""
    lo, hi = K.sakoe_chiba_bounds(sz1, sz2, radius)
    mask = np.full((sz1, sz2), np.inf)
    for i in range(sz1):
        mask[i, lo[i]:hi[i] + 1] = 0.0
    return mask


def itakura_mask(sz1: int, sz2: int, max_slope: float = 2.0) -> np.ndarray:
    """Full (sz1, sz2) Itakura parallelogram mask (dtw_variants.py:1009-1060):
    the reference-exact column-wise construction, plus the reference's
    infeasibility RuntimeWarning when a full row or column has no finite
    cell."""
    mask = K.itakura_mask_array(sz1, sz2, max_slope)
    K.warn_if_itakura_infeasible(np.isfinite(mask))
    return mask


def compute_mask(s1, s2, global_constraint: int = 0,
                 sakoe_chiba_radius=None, itakura_max_slope=None) -> np.ndarray:
    """Constraint-region mask dispatch (dtw_variants.py:1060-1127):
    s1/s2 may be series or plain integer sizes; global_constraint uses
    the GLOBAL_CONSTRAINT_CODE ints (0 none, 1 itakura, 2 sakoe_chiba),
    with the reference's inference and conflict-warning semantics."""
    sz1 = s1 if isinstance(s1, int) else np.asarray(s1).shape[0]
    sz2 = s2 if isinstance(s2, int) else np.asarray(s2).shape[0]
    if (global_constraint == 0 and sakoe_chiba_radius is not None
            and itakura_max_slope is not None):
        raise RuntimeWarning(
            "global_constraint is not set for DTW, but both "
            "sakoe_chiba_radius and itakura_max_slope are set, hence "
            "global_constraint cannot be inferred and no global "
            "constraint will be used."
        )
    if global_constraint == 2 or (global_constraint == 0
                                  and sakoe_chiba_radius is not None):
        return sakoe_chiba_mask(
            sz1, sz2,
            radius=1 if sakoe_chiba_radius is None else sakoe_chiba_radius)
    if global_constraint == 1 or (global_constraint == 0
                                  and itakura_max_slope is not None):
        return itakura_mask(
            sz1, sz2,
            max_slope=2.0 if itakura_max_slope is None else itakura_max_slope)
    return np.zeros((sz1, sz2))


def _np_cdist(dataset1, dataset2, pair_fn, diag) -> np.ndarray:
    """Shared triangle+mirror loop of the reference's _cdist_generic
    (metrics/utils.py:8-85); ``diag`` is the self-pair value, or None
    to compute it."""
    d1 = [K.to_2d(ts) for ts in dataset1]
    if dataset2 is None:
        n = len(d1)
        out = np.empty((n, n))
        for i in range(n):
            out[i, i] = pair_fn(d1[i], d1[i]) if diag is None else diag
            for j in range(i + 1, n):
                out[i, j] = out[j, i] = pair_fn(d1[i], d1[j])
        return out
    d2 = [K.to_2d(ts) for ts in dataset2]
    out = np.empty((len(d1), len(d2)))
    for i, a in enumerate(d1):
        for j, b in enumerate(d2):
            out[i, j] = pair_fn(a, b)
    return out


def cdist_dtw(dataset1, dataset2=None, global_constraint=None,
              sakoe_chiba_radius=None, itakura_max_slope=None,
              n_jobs=None, verbose=0) -> np.ndarray:
    """DTW cross-distance matrix (dtw_variants.py:1130-1222)."""
    return _np_cdist(
        dataset1, dataset2,
        lambda a, b: dtw(a, b, global_constraint=global_constraint,
                         sakoe_chiba_radius=sakoe_chiba_radius,
                         itakura_max_slope=itakura_max_slope),
        diag=0.0,
    )


def cdist_ctw(dataset1, dataset2=None, max_iter=100, n_components=None,
              global_constraint=None, sakoe_chiba_radius=None,
              itakura_max_slope=None, n_jobs=None, verbose=0) -> np.ndarray:
    """CTW cross-distance matrix (ctw.py:264-330), constraint params in
    the reference's positions."""
    return _np_cdist(
        dataset1, dataset2,
        lambda a, b: ctw(a, b, max_iter=max_iter, n_components=n_components,
                         global_constraint=global_constraint,
                         sakoe_chiba_radius=sakoe_chiba_radius,
                         itakura_max_slope=itakura_max_slope),
        diag=0.0,
    )


def cdist_gak(dataset1, dataset2=None, sigma=1.0, n_jobs=None,
              verbose=0) -> np.ndarray:
    """Normalized-GAK cross-similarity matrix (softdtw_variants.py:140-218)."""
    return _np_cdist(dataset1, dataset2,
                     lambda a, b: gak(a, b, sigma=sigma), diag=1.0)


def cdist_soft_dtw(dataset1, dataset2=None, gamma=1.0) -> np.ndarray:
    """Soft-DTW cross matrix (softdtw_variants.py:451-532); the diagonal
    is COMPUTED (soft-DTW self-score is non-zero)."""
    return _np_cdist(dataset1, dataset2,
                     lambda a, b: soft_dtw(a, b, gamma=gamma), diag=None)


def cdist_soft_dtw_normalized(dataset1, dataset2=None, gamma=1.0) -> np.ndarray:
    """sdtw(x,y) - (sdtw(x,x) + sdtw(y,y))/2 (softdtw_variants.py:535-607)."""
    d1 = list(dataset1)
    d2 = d1 if dataset2 is None else list(dataset2)
    raw = cdist_soft_dtw(d1, None if dataset2 is None else d2, gamma=gamma)
    s1 = np.array([soft_dtw(ts, ts, gamma=gamma) for ts in d1])
    s2 = s1 if dataset2 is None else np.array(
        [soft_dtw(ts, ts, gamma=gamma) for ts in d2])
    return raw - 0.5 * (s1[:, None] + s2[None, :])


def cdist_normalized_cc(dataset1, dataset2, norms1=None, norms2=None,
                        self_similarity: bool = False) -> np.ndarray:
    """Max normalized cross-correlation matrix (cycc.pyx:44-67);
    negative/None norms are recomputed like the reference."""
    d1 = [K.to_2d(ts) for ts in dataset1]
    d2 = [K.to_2d(ts) for ts in dataset2]
    n1 = (np.full(len(d1), -1.0) if norms1 is None
          else np.asarray(norms1, dtype=np.float64))
    n2 = (np.full(len(d2), -1.0) if norms2 is None
          else np.asarray(norms2, dtype=np.float64))
    if (n1 < 0).any():
        n1 = np.array([np.linalg.norm(ts) for ts in d1])
    if (n2 < 0).any():
        n2 = np.array([np.linalg.norm(ts) for ts in d2])
    out = np.empty((len(d1), len(d2)))
    for i in range(len(d1)):
        for j in range(len(d2)):
            if self_similarity and j < i:
                out[i, j] = out[j, i]
            elif self_similarity and i == j:
                out[i, j] = 0.0
            else:
                out[i, j] = float(K.normalized_cc(
                    d1[i], d2[j], norm1=float(n1[i]), norm2=float(n2[j])).max())
    return out


def _sax_mindist_np(s1, s2, breakpoints_avg, size_fitted) -> float:
    """MINDIST between two SAX symbol matrices (cysax.pyx cydist_sax)."""
    b = np.asarray(breakpoints_avg, dtype=np.float64)
    a1 = np.asarray(s1, dtype=np.int64).reshape(len(s1), -1)
    a2 = np.asarray(s2, dtype=np.int64).reshape(len(s2), -1)
    hi = np.maximum(a1, a2)
    lo = np.minimum(a1, a2)
    # clip before indexing: np.where evaluates both branches, and the
    # adjacent-symbol (gap 0) branch may hold out-of-range lo == max
    gap = np.where(
        hi - lo <= 1, 0.0,
        b[np.clip(hi - 1, 0, len(b) - 1)] - b[np.clip(lo, 0, len(b) - 1)],
    )
    return float(np.sqrt(size_fitted / a1.shape[0]) * np.sqrt((gap * gap).sum()))


def cdist_sax(dataset1, breakpoints_avg, size_fitted, dataset2=None,
              n_jobs=None, verbose=0) -> np.ndarray:
    """MINDIST matrix on SAX-transformed datasets (metrics/sax.py:7-59)."""
    d1 = [np.asarray(s) for s in dataset1]
    d2 = d1 if dataset2 is None else [np.asarray(s) for s in dataset2]
    out = np.empty((len(d1), len(d2)))
    for i in range(len(d1)):
        start = i if dataset2 is None else 0
        for j in range(start, len(d2)):
            out[i, j] = _sax_mindist_np(d1[i], d2[j], breakpoints_avg,
                                        size_fitted)
            if dataset2 is None:
                out[j, i] = out[i, j]
    return out


__all__ += [  # noqa: F405
    "GLOBAL_CONSTRAINT_CODE", "compute_mask", "SoftDTW", "SquaredEuclidean",
    "cdist_ctw", "cdist_dtw", "cdist_gak", "cdist_normalized_cc",
    "cdist_sax", "cdist_soft_dtw", "cdist_soft_dtw_normalized",
    "ctw", "ctw_path", "dtw", "dtw_limited_warping_length", "dtw_path",
    "dtw_path_from_metric", "dtw_path_limited_warping_length",
    "dtw_subsequence_path", "gak", "gamma_soft_dtw", "itakura_mask",
    "lb_envelope", "lb_keogh", "lcss", "lcss_path",
    "lcss_path_from_metric", "sakoe_chiba_mask", "sigma_gak", "soft_dtw",
    "soft_dtw_alignment", "subsequence_cost_matrix", "subsequence_path",
    "unnormalized_gak", "y_shifted_sbd_vec",
]
