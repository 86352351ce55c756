"""Per-series scalers + resampler as native Spark SQL expressions.

Reference semantics: tslearn/preprocessing/preprocessing.py:15-298.

Spark-first design: each transform is a *map-only* higher-order-function
expression over the nested ``values`` column — zero shuffle, whole-stage
codegen, embarrassingly parallel at any scale.  The reference iterates
over a dense 3-D tensor; we never materialize one.

Expression-duplication note (matters at scale AND locally): Catalyst's
CollapseProject inlines a computed column into every reference site, so
naively referencing per-series stats inside a per-element lambda
re-evaluates the whole stats aggregate once *per element* — and chained
transforms (scale -> PAA -> SAX) compound multiplicatively.  Every
expression here therefore **let-binds** shared subexpressions via the
``transform(array(<expr>), x -> ...)[0]`` idiom (``_let``): the bound
value is evaluated exactly once per row no matter how the projection
collapses.  That covers the source series (``per_series``) and the
scalers' per-dim constants: the mean and guarded std, or the min and
guarded range, are bound once per row, so each value costs two array
reads and the affine arithmetic (higher-order functions are interpreted
per value; the guards and ``sqrt`` run once per dim).  Every let is a
level of lambda nesting the analyzer resolves on each new DataFrame, so
the expressions bind as few as they need.

All stats are NaN-aware like the reference (numpy nanmean/nanstd/nanmin):
NaN values are excluded from the statistics and pass through unscaled;
a channel with no non-NaN value gets NaN statistics, as numpy's do.  An
empty series (0 timestamps, which is what ``dataset_to_df`` makes of an
all-NaN input) maps to an empty series.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from tslearn_spark.bases import TimeSeriesBaseEstimator

_NAN = "CAST('NaN' AS DOUBLE)"


def _let(var: str, value: str, body: str) -> str:
    """SQL for ``body`` with lambda variable ``var`` bound to ``value``,
    which is evaluated once per row (module docstring)."""
    return f"transform(array({value}), {var} -> {body})[0]"


def per_series(values_col: str, body: str) -> str:
    """SQL for ``body`` over ``src``, the let-bound series
    ``values_col``.  An empty series maps to itself, so ``body`` may read
    ``src[0]`` (ANSI mode raises on an out-of-bounds index) and must
    return the series' own type."""
    return _let("src", values_col,
                f"CASE WHEN size(src) = 0 THEN src ELSE {body} END")


def _per_dim(consts: str) -> str:
    """SQL for one ``consts`` value per dim of the non-empty series
    ``src``: ``consts`` reads ``dv``, the dim's non-NaN values."""
    return ("transform(sequence(0, size(src[0]) - 1), d -> "
            + _let("dv", "filter(transform(src, r -> r[d]), x -> NOT isnan(x))",
                   consts)
            + ")")


def _affine_scaler(values_col: str, shift_scale: str, base: float,
                   gain: float) -> Column:
    """``base + (gain * (x - k[d][0])) / k[d][1]`` for every value ``x``
    of dim ``d``, where ``k[d]`` is ``shift_scale``, a two-element array
    from the dim's non-NaN values ``dv`` (at least one; a dim with none
    gets NaNs).  ``k`` is bound once per row."""
    consts = _per_dim(
        f"CASE WHEN size(dv) = 0 THEN array({_NAN}, {_NAN})"
        f" ELSE {shift_scale} END")
    return F.expr(per_series(values_col, _let(
        "k", consts,
        f"transform(src, row -> transform(row, (x, d) ->"
        f" {base}D + ({gain}D * (x - k[d][0])) / k[d][1]))")))


def scaler_mean_variance(values_col: str = "values", mu: float = 0.0, std: float = 1.0) -> Column:
    """z-normalize each series per dim to mean ``mu`` / std ``std``.

    Reference: TimeSeriesScalerMeanVariance (preprocessing.py:204-298);
    population variance (numpy nanstd default, preprocessing.py:276-281)
    and the zero std -> 1 guard at preprocessing.py:281.
    """
    # t = (mean, mean of squares); the guard repeats sqrt once per dim
    sd = "sqrt(greatest(t[1] - t[0] * t[0], 0.0D))"
    mean_sd = _let(
        "t", "array(aggregate(dv, 0.0D, (a, x) -> a + x) / size(dv),"
             " aggregate(dv, 0.0D, (a, x) -> a + x * x) / size(dv))",
        f"array(t[0], CASE WHEN {sd} = 0.0D THEN 1.0D ELSE {sd} END)")
    return _affine_scaler(values_col, mean_sd, mu, std)


def scaler_min_max(values_col: str = "values",
                   value_range: tuple[float, float] = (0.0, 1.0)) -> Column:
    """Per-series per-dim min-max scaling to [lo, hi].

    Reference: TimeSeriesScalerMinMax (preprocessing.py:103-201); zero
    range -> 1 guard.
    """
    lo, hi = value_range
    min_range = _let(
        "t", "array(array_min(dv), array_max(dv))",
        "array(t[0], CASE WHEN t[1] - t[0] = 0.0D THEN 1.0D"
        " ELSE t[1] - t[0] END)")
    return _affine_scaler(values_col, min_range, lo, hi - lo)


def transform_mean_variance(df: DataFrame, values_col: str = "values", mu: float = 0.0,
                            std: float = 1.0, out_col: str | None = None) -> DataFrame:
    out = out_col or values_col
    return df.withColumn(out, scaler_mean_variance(values_col, mu, std))


def transform_min_max(df: DataFrame, values_col: str = "values",
                      value_range: tuple[float, float] = (0.0, 1.0),
                      out_col: str | None = None) -> DataFrame:
    out = out_col or values_col
    return df.withColumn(out, scaler_min_max(values_col, value_range))


def resample(df: DataFrame, sz: int, values_col: str = "values",
             out_col: str | None = None) -> DataFrame:
    """Linear interpolation of each series to ``sz`` equally spaced points.

    Reference: TimeSeriesResampler (preprocessing.py:15-100) — interp1d
    'slinear' on a normalized [0,1] axis; sz=1 degenerates to nanmean.
    The source array is let-bound so chained upstream transforms are
    evaluated once, not once per output point.
    """
    out = out_col or values_col
    if sz == 1:
        body = "array(" + _per_dim(
            f"CASE WHEN size(dv) = 0 THEN {_NAN}"
            " ELSE aggregate(dv, 0.0D, (a, x) -> a + x) / size(dv) END") + ")"
    else:
        body = f"""
            transform(sequence(0, {sz - 1}), i ->
              transform(sequence(0, size(src[0]) - 1), d ->
                transform(array(i * (size(src) - 1) / {sz - 1.0}D), p ->
                  CASE WHEN size(src) = 1 THEN src[0][d]
                  ELSE src[cast(floor(p) as int)][d] * (1.0D - (p - floor(p)))
                     + src[cast(ceil(p) as int)][d] * (p - floor(p))
                  END
                )[0]
              )
            )
        """
    expr = per_series(values_col, body)
    return df.withColumn(out, F.expr(expr))


# ---------------------------------------------------------------------------
# reference-named estimator classes (drop-in import parity): thin
# stateless wrappers over the expression layer above — fit() is a no-op
# because the scalers/resampler are per-series (no dataset-level state),
# exactly like the reference classes
# ---------------------------------------------------------------------------

class TimeSeriesResampler(TimeSeriesBaseEstimator):
    """Estimator twin of the reference TimeSeriesResampler
    (preprocessing.py:15-100): resample each series to ``sz`` points."""

    def __init__(self, sz: int = -1):
        self.sz = sz
        self.sz_ = sz  # reference attribute name

    def fit(self, df: DataFrame = None, y=None) -> "TimeSeriesResampler":
        return self

    def transform(self, df: DataFrame, values_col: str = "values",
                  out_col: str | None = None) -> DataFrame:
        from tslearn_spark.bases import transform_compat

        return transform_compat(
            df, lambda d: resample(d, self.sz_, values_col, out_col),
            out_col or values_col)

    def fit_transform(self, df: DataFrame, y=None, **kw) -> DataFrame:
        return self.transform(df, **kw)


class TimeSeriesScalerMinMax(TimeSeriesBaseEstimator):
    """Estimator twin of TimeSeriesScalerMinMax (preprocessing.py:103-201)."""

    def _more_tags(self):
        # reference preprocessing.py:200-201
        return {"allow_nan": True}

    def __init__(self, value_range: tuple[float, float] = (0.0, 1.0)):
        self.value_range = tuple(value_range)

    def fit(self, df: DataFrame = None, y=None) -> "TimeSeriesScalerMinMax":
        return self

    def transform(self, df: DataFrame, values_col: str = "values",
                  out_col: str | None = None) -> DataFrame:
        from tslearn_spark.bases import transform_compat

        return transform_compat(
            df, lambda d: transform_min_max(d, values_col, self.value_range,
                                            out_col),
            out_col or values_col)

    def fit_transform(self, df: DataFrame, y=None, **kw) -> DataFrame:
        return self.transform(df, **kw)


class TimeSeriesScalerMeanVariance(TimeSeriesBaseEstimator):
    """Estimator twin of TimeSeriesScalerMeanVariance
    (preprocessing.py:204-298)."""

    def _more_tags(self):
        # reference preprocessing.py:297-298
        return {"allow_nan": True}

    def __init__(self, mu: float = 0.0, std: float = 1.0):
        self.mu = mu
        self.std = std

    def fit(self, df: DataFrame = None, y=None) -> "TimeSeriesScalerMeanVariance":
        return self

    def transform(self, df: DataFrame, values_col: str = "values",
                  out_col: str | None = None) -> DataFrame:
        from tslearn_spark.bases import transform_compat

        return transform_compat(
            df, lambda d: transform_mean_variance(d, values_col, self.mu,
                                                  self.std, out_col),
            out_col or values_col)

    def fit_transform(self, df: DataFrame, y=None, **kw) -> DataFrame:
        return self.transform(df, **kw)
