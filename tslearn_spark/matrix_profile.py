"""Matrix profile (reference: tslearn/matrix_profile/matrix_profile.py:25-253).

Per-series computation: sliding windows of length m, optional per-window
z-normalization, all-pairs distances with an exclusion band of width
ceil(m/4) around the diagonal, per-row min.

Spark-first: one series = one row, so the profile is a *map-only* pandas
UDF over the nested values column — series parallelism is the scale axis
(each 100-TB partition computes its own profiles independently, no
shuffle).  The numpy core vectorizes the all-pairs distance via the
dot-product identity instead of the reference's per-pair loops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType
from tslearn_spark.bases import BaseModelPackage, TimeSeriesBaseEstimator
from tslearn_spark.metrics import _to_arr
from tslearn_spark.session import size_tasks


def matrix_profile_np(ts: np.ndarray, m: int, scale: bool = True) -> np.ndarray:
    """Numpy core, semantics of matrix_profile.py:153-210.

    - windows: ts[i:i+m], i in [0, sz-m]
    - scale=True: each window z-normalized (mean 0, std 1; std 0 -> 1)
      matching TimeSeriesScalerMeanVariance applied to the window set
      (matrix_profile.py:185)
    - exclusion zone: |i-j| < ceil(m/4) -> inf (matrix_profile.py:192-197)
    - profile[i] = min_j dist(w_i, w_j)
    """
    ts = np.asarray(ts, dtype=np.float64).reshape(-1)
    sz = ts.shape[0]
    n_win = sz - m + 1
    if n_win < 1:  # degenerate: series shorter than the subsequence length
        return np.zeros(0, dtype=np.float64)
    idx = np.arange(m)[None, :] + np.arange(n_win)[:, None]
    W = ts[idx]  # (n_win, m)
    if scale:
        mu = W.mean(axis=1, keepdims=True)
        sd = W.std(axis=1, keepdims=True)
        sd[sd == 0.0] = 1.0
        W = (W - mu) / sd
    sq = np.einsum("ij,ij->i", W, W)
    D2 = sq[:, None] + sq[None, :] - 2.0 * (W @ W.T)
    np.maximum(D2, 0.0, out=D2)
    # reference band: tri(+bw) & ~tri(-(bw+1)) == |i-j| <= bw
    band = int(np.ceil(m / 4.0))
    ii = np.arange(n_win)
    mask = np.abs(ii[:, None] - ii[None, :]) <= band
    D2[mask] = np.inf
    return np.sqrt(D2.min(axis=1))


def matrix_profile_udf(m: int, scale: bool = True):
    @F.pandas_udf(ArrayType(DoubleType()))
    def _udf(values: pd.Series) -> pd.Series:
        out = []
        for v in values:
            arr = _to_arr(v).reshape(len(v), -1)
            out.append(matrix_profile_np(arr[:, 0], m, scale).tolist())
        return pd.Series(out)

    return _udf


def transform(df: DataFrame, subsequence_length: int, scale: bool = True,
              values_col: str = "values", out_col: str = "profile") -> DataFrame:
    """Matrix profile per series.

    The UDF is O(sz^2) per row, so partitioning must follow compute, not
    bytes (AQE would coalesce a small series table to one task): the
    input goes through session.size_tasks with no work estimate, since
    the plan does not carry the series lengths — one task per row, up to
    the slot count.

    For series too long for one task (O(sz^2) memory per row), use
    ``transform_long`` — same output, chunked window self-join.
    """
    df = size_tasks(df)
    return df.withColumn(out_col, matrix_profile_udf(subsequence_length, scale)(values_col))


def _block_min_gen(m: int, scale: bool, band: int):
    """mapInPandas kernel for transform_long: one input row = one block
    pair; emits the i-block's partial minima against the j-block."""

    def gen(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ci = np.asarray([r[0] for r in row["chunk_i"]], dtype=np.float64)
                cj = np.asarray([r[0] for r in row["chunk_j"]], dtype=np.float64)
                ni = ci.shape[0] - m + 1
                nj = cj.shape[0] - m + 1
                Wi = ci[np.arange(m)[None, :] + np.arange(ni)[:, None]]
                Wj = cj[np.arange(m)[None, :] + np.arange(nj)[:, None]]
                if scale:
                    for W in (Wi, Wj):
                        mu = W.mean(axis=1, keepdims=True)
                        sd = W.std(axis=1, keepdims=True)
                        sd[sd == 0.0] = 1.0
                        W -= mu
                        W /= sd
                sqi = np.einsum("ij,ij->i", Wi, Wi)
                sqj = np.einsum("ij,ij->i", Wj, Wj)
                D2 = sqi[:, None] + sqj[None, :] - 2.0 * (Wi @ Wj.T)
                np.maximum(D2, 0.0, out=D2)
                gi = row["off_i"] + np.arange(ni)
                gj = row["off_j"] + np.arange(nj)
                D2[np.abs(gi[:, None] - gj[None, :]) <= band] = np.inf
                yield pd.DataFrame(
                    {
                        "series_id": [row["series_id"]],
                        "off_i": [int(row["off_i"])],
                        "mins": [np.sqrt(D2.min(axis=1)).tolist()],
                    }
                )

    return gen


def transform_long(df: DataFrame, subsequence_length: int, scale: bool = True,
                   values_col: str = "values", out_col: str = "profile",
                   block_size: int = 4096) -> DataFrame:
    """Matrix profile for series that outgrow a single task — the window
    self-join variant (SURVEY.md §2.3): the window index range is cut
    into blocks of ``block_size``; every block PAIR becomes one task that
    ships only the two chunks' values (block_size + m - 1 points each)
    and computes a bounded (B x B) distance block; per-window minima are
    then element-wise-reduced across the j-blocks and the profile
    reassembled in block order.

    Same output as ``transform`` (one vectorized core, global exclusion
    band applied via offsets).  Per-task memory is O(B*m + B^2) doubles
    regardless of series length; shuffle is O(n_blocks^2 * B) values per
    series — the exact all-pairs cost spread over the cluster instead of
    pinned to one task.  Univariate (d=1), like the reference
    (matrix_profile.py:150 ravels to 1d).

    Skew note: the self-join key (series_id) fans a single long series
    into n_blocks^2 pairs, so the join is skewed by design; AQE skew-join
    splitting (on in session defaults) spreads pair GENERATION, and the
    explicit round-robin repartition below spreads the expensive block
    COMPUTE regardless.

    Measured (local[32], m=64, B=4096, random walk): 20k points 2.7s
    here vs 28.5s single-task (identical profiles); 100k points 29.9s
    here where the single-task O(n_win^2) block would be ~80 GB.
    """
    m = subsequence_length
    B = block_size
    band = int(np.ceil(m / 4.0))
    sized = df.select("series_id", values_col).withColumn(
        "_n_win", F.size(values_col) - m + 1
    )
    base = sized.where(F.col("_n_win") >= 1)
    # degenerate series (shorter than the subsequence length) keep a row
    # with an empty profile, matching transform's output for them
    short = sized.where(F.col("_n_win") < 1).select(
        "series_id", F.expr("array()").cast("array<double>").alias(out_col)
    )
    blocks = base.select(
        "series_id", "_n_win", values_col,
        F.explode(
            F.sequence(F.lit(0), ((F.col("_n_win") - 1) / B).cast("int"))
        ).alias("bk"),
    ).select(
        "series_id",
        (F.col("bk") * B).alias("off"),
        F.slice(values_col, F.col("bk") * B + 1, B + m - 1).alias("chunk"),
    )
    left = blocks.select(
        "series_id", F.col("off").alias("off_i"), F.col("chunk").alias("chunk_i")
    )
    right = blocks.select(
        F.col("series_id").alias("sid_j"), F.col("off").alias("off_j"),
        F.col("chunk").alias("chunk_j"),
    )
    pairs = left.join(right, F.col("series_id") == F.col("sid_j")).drop("sid_j")
    pairs = size_tasks(pairs)
    partials = pairs.mapInPandas(
        _block_min_gen(m, scale, band),
        "series_id long, off_i int, mins array<double>",
    )
    # element-wise min across j-blocks (fold the collected arrays with the
    # first as init — avoids materializing an inf-filled accumulator),
    # then stitch blocks in order
    block_min = partials.groupBy("series_id", "off_i").agg(
        F.collect_list("mins").alias("ml")
    ).select(
        "series_id", "off_i",
        F.aggregate(
            F.slice(F.col("ml"), F.lit(2), F.greatest(F.size("ml") - 1, F.lit(0))),
            F.element_at("ml", 1),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
        ).alias("mins"),
    )
    stitched = (
        block_min.groupBy("series_id")
        .agg(
            F.flatten(
                F.expr("transform(sort_array(collect_list(struct(off_i, mins))), s -> s.mins)")
            ).alias(out_col)
        )
    )
    return stitched.unionByName(short)


class MatrixProfile(BaseModelPackage, TimeSeriesBaseEstimator):
    """Estimator twin of the reference MatrixProfile class
    (matrix_profile.py:25-253).  implementation='numpy' (the reference
    default) maps to the vectorized per-series kernel; the reference's
    'stump'/'gpu_stump' backends require the stumpy package, absent
    here, and raise — use ``transform_long`` for series that outgrow a
    single task instead."""

    def _more_tags(self):
        # reference matrix_profile.py:252-253
        return {"allow_nan": True, "allow_variable_length": True}

    def __init__(self, subsequence_length: int = 1,
                 implementation: str = "numpy", scale: bool = True):
        # subsequence_length default 1 matches the reference
        # (matrix_profile.py:214-218)
        if implementation != "numpy":
            raise NotImplementedError(
                "implementation=%r requires stumpy; only 'numpy' is "
                "available (see transform_long for the chunked scale "
                "path)" % (implementation,)
            )
        self.subsequence_length = subsequence_length
        self.implementation = implementation
        self.scale = scale

    def fit(self, df: DataFrame = None, y=None) -> "MatrixProfile":
        return self

    def transform(self, df: DataFrame, values_col: str = "values",
                  out_col: str = "profile") -> DataFrame:
        from tslearn_spark.bases import transform_compat

        return transform_compat(
            df, lambda d: transform(d, self.subsequence_length, self.scale,
                                    values_col, out_col),
            out_col)

    def fit_transform(self, df: DataFrame, y=None, **kw) -> DataFrame:
        return self.transform(df, **kw)
