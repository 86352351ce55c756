"""PAA / SAX / 1d-SAX — piecewise & symbolic representations, SQL-native.

Reference semantics: tslearn/piecewise/piecewise.py (PAA transform
:143-153, SAX fit/quantize :340-505 + :15-56, 1d-SAX :600-698) and the
distance kernels in tslearn/metrics/cysax.pyx.

Spark-first: segment means/slopes are higher-order aggregates over array
slices of the nested ``values`` column — map-only, no shuffle, codegen.
Gaussian breakpoints are computed once on the driver (tslearn_spark.stats)
and inlined as array literals, so quantization is a pure expression too.
The SAX/PAA *distances* are also pure expressions (no UDF), usable as
join predicates at scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tslearn_spark.stats import sax_bin_medians, sax_breakpoints
from tslearn_spark.bases import BaseModelPackage, TimeSeriesBaseEstimator
from tslearn_spark.preprocessing import _NAN, per_series


def _lit_array(vals) -> str:
    return "array(" + ", ".join(f"{float(x)!r}D" for x in vals) + ")"


# ---------------------------------------------------------------------------
# PAA (piecewise.py:59-258)
# ---------------------------------------------------------------------------

def paa_col(values_col: str = "values", n_segments: int = 1) -> Column:
    """PAA transform: per-segment per-dim mean, shape (n_segments, d)
    (the Column of ``paa_sql``)."""
    return F.expr(paa_sql(values_col, n_segments))


def paa_sql(values_col: str = "values", n_segments: int = 1) -> str:
    """SQL of the PAA transform: per-segment per-dim mean, shape
    (n_segments, d).

    seg_sz = ts_size // n_segments; the tail remainder is dropped
    (piecewise.py:147-153).  slice() is 1-indexed in Spark SQL.  The
    source is let-bound (evaluated once per row) so chaining after a
    scaler does not re-evaluate the scaler per segment.  An empty series
    maps to an empty series; a series shorter than ``n_segments`` has
    empty segments, whose means are NaN like numpy's empty-slice mean.
    """
    n = n_segments
    return per_series(values_col, f"""
          transform(sequence(0, {n - 1}), s ->
            transform(sequence(0, size(src[0]) - 1), d ->
              CASE WHEN size(src) < {n} THEN {_NAN} ELSE
              aggregate(
                slice(src, s * (size(src) div {n}) + 1, size(src) div {n}),
                0.0D, (a, row) -> a + row[d]
              ) / (size(src) div {n}) END
            )
          )
        """)


def paa_inverse_col(paa_col_name: str, original_size: int) -> Column:
    """Repeat each segment mean seg_sz times (cysax.pyx:19-35 inv_transform_paa).

    Positions >= n_segments*seg_sz are zero-filled like the reference
    (output allocated with numpy.zeros).
    """
    p = paa_col_name
    return F.expr(
        f"""
        transform(sequence(0, {original_size - 1}), t ->
          transform(sequence(0, size({p}[0]) - 1), d ->
            CASE WHEN t div ({original_size} div size({p})) < size({p})
                 THEN {p}[t div ({original_size} div size({p}))][d]
                 ELSE 0.0D END
          )
        )
        """
    )


def paa_distance_col(
    paa1: str,
    paa2: str,
    original_size: int | str,
    n_segments: int | None = None,
    d: int | None = None,
) -> Column:
    """PAA distance ||p1-p2|| * sqrt(sz/n) (piecewise.py:191-213).

    ``original_size``: the fitted series length — an int, or the name of
    a per-row column (pair joins where each pair scales by its own left
    length).

    ``n_segments``/``d``: when BOTH are known statically (every caller
    that produced the PAA columns knows them), the squared-distance fold
    is emitted as an UNROLLED arithmetic expression instead of nested
    aggregate/zip_with.  Higher-order functions are CodegenFallback —
    interpreted per ROW, which on an all-pairs join means per PAIR —
    while the unrolled sum runs in whole-stage codegen (r14: 2.3x on
    ts_paa_dist_pairs at sf0.1).  The unrolled sum reproduces the fold's
    exact association — ``(0.0 + row0_sum) + row1_sum ...`` with each
    row sum ``(0.0 + z0) + z1 ...`` — so results are bit-identical.
    """
    sz_expr = (
        f"{float(original_size)}D"
        if isinstance(original_size, (int, float))
        else f"cast({original_size} as double)"
    )
    if n_segments is not None and d is not None:
        rows = " + ".join(
            "(0.0D + "
            + " + ".join(
                f"(({paa1}[{s}][{di}] - {paa2}[{s}][{di}])"
                f" * ({paa1}[{s}][{di}] - {paa2}[{s}][{di}]))"
                for di in range(d)
            )
            + ")"
            for s in range(n_segments)
        )
        return F.expr(
            f"sqrt((0.0D + {rows}) * {sz_expr} / {n_segments})"
        )
    return F.expr(
        f"""
        sqrt(
          aggregate(zip_with({paa1}, {paa2}, (a, b) ->
            aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
                      0.0D, (acc, z) -> acc + z)),
            0.0D, (acc, s) -> acc + s)
          * {sz_expr} / size({paa1})
        )
        """
    )


def transform_paa(df: DataFrame, n_segments: int, values_col: str = "values",
                  out_col: str = "paa") -> DataFrame:
    return df.withColumn(out_col, paa_col(values_col, n_segments))


# ---------------------------------------------------------------------------
# SAX (piecewise.py:261-505)
# ---------------------------------------------------------------------------

def symbols_col(real_col_expr: str, breakpoints: np.ndarray) -> str:
    """Quantize a (n_seg, d) real matrix against breakpoints.

    symbol = #breakpoints <= value (piecewise.py:15-31 _paa_to_symbols).
    """
    bps = _lit_array(breakpoints)
    return f"""
      transform({real_col_expr}, row ->
        transform(row, x -> size(filter({bps}, b -> x >= b)))
      )
    """


class _FitDims:
    """The reference's ``_X_fit_dims_``, the padded fit dataset's shape
    ``(None, sz, d)`` with sz = MAX length, which only the numpy instance
    methods (distance/inverse) and model saving read.  ``fit`` records
    its input; the dims query is built and run (one tiny job) at the
    first such use, so pure Spark pipelines pay neither an extra scan nor
    the query's plan analysis at fit."""

    def _record_fit_input(self, df: DataFrame, values_col: str) -> None:
        self._X_fit_dims_ = None
        self._fit_input = (df, values_col)

    def _has_fit_dims(self) -> bool:
        return (getattr(self, "_X_fit_dims_", None) is not None
                or getattr(self, "_fit_input", None) is not None)

    def _require_fit_dims(self) -> None:
        if getattr(self, "_X_fit_dims_", None) is not None:
            return
        if getattr(self, "_fit_input", None) is None:
            raise ValueError(
                "Model must be fit on data first: the fit-time series "
                "length drives the distance scaling / inverse length "
                "(reference _X_fit_dims_)"
            )
        df, col = self._fit_input
        first = df.select(
            F.max(F.size(col)).alias("sz"),
            F.first(F.size(F.element_at(col, 1))).alias("d"),
        ).first()
        self._X_fit_dims_ = (None, int(first["sz"]), int(first["d"]))


class SAX(_FitDims, BaseModelPackage, TimeSeriesBaseEstimator):
    """SymbolicAggregateApproximation twin (piecewise.py:261-505).

    Fitted state = breakpoints (+ optional global mu/std when scale=True),
    computed on the driver; transform/distance are pure expressions.
    """

    def _more_tags(self):
        # reference piecewise.py:257-258 (SAX inherits PAA's tags there)
        return {"allow_nan": True, "allow_variable_length": True}

    def __init__(self, n_segments: int = 1, alphabet_size_avg: int = 5, scale: bool = False):
        self.n_segments = n_segments
        self.alphabet_size_avg = alphabet_size_avg
        self.scale = scale
        self.mu_: np.ndarray | None = None
        self.std_: np.ndarray | None = None

    def fit(self, df: DataFrame, y=None, values_col: str = "values") -> "SAX":
        from tslearn_spark.bases import as_ts_df

        # breakpoints depend only on the alphabet hyperparameter, but the
        # reference computes them at FIT time so an unfitted SAX raises on
        # transform (piecewise.py:334-336 checks breakpoints_avg_) —
        # mirrored here so the fitted-state contract matches
        self.breakpoints_avg_ = sax_breakpoints(self.alphabet_size_avg)
        self.breakpoints_avg_middle_ = sax_bin_medians(self.alphabet_size_avg)
        df, _ = as_ts_df(df)
        self._record_fit_input(df, values_col)
        if self.scale:
            # global (dataset-wide) per-dim mean/std — one tiny aggregate
            long_stats = (
                df.select(F.explode(values_col).alias("row"))
                .select(F.posexplode("row").alias("dim", "x"))
                .where(~F.isnan("x"))
                .groupBy("dim")
                .agg(F.avg("x").alias("mu"), F.stddev_pop("x").alias("std"))
                .orderBy("dim")
                .collect()
            )
            self.mu_ = np.array([r["mu"] for r in long_stats])
            self.std_ = np.array([1.0 if r["std"] == 0 else r["std"] for r in long_stats])
        return self

    def _scaled(self, values_col: str) -> str:
        if not self.scale:
            return values_col
        mu = _lit_array(self.mu_)
        std = _lit_array(self.std_)
        return (
            f"transform({values_col}, row -> transform(row, (x, d) -> "
            f"(x - {mu}[d]) / {std}[d]))"
        )

    def transform(self, df: DataFrame, values_col: str = "values",
                  out_col: str = "sax") -> DataFrame:
        from tslearn_spark.bases import transform_compat

        if getattr(self, "breakpoints_avg_", None) is None:
            # reference raises sklearn NotFittedError — a ValueError
            # subclass — from its breakpoints check (piecewise.py:334-336)
            raise ValueError(
                f"{type(self).__name__} model not fitted yet: call fit "
                "or fit_transform before transform/distance")

        def build(d):
            paa = paa_sql(self._scaled(values_col), self.n_segments)
            return d.withColumn(
                out_col, F.expr(symbols_col(paa, self.breakpoints_avg_)))

        return transform_compat(df, build, out_col, int_out=True)

    def fit_transform(self, df: DataFrame, y=None, **kw) -> DataFrame:
        """fit (records breakpoints + _X_fit_dims_) then transform —
        the reference's TransformerMixin contract."""
        return self.fit(df).transform(df, **kw)

    def _get_model_params(self) -> dict:
        """Default trailing-underscore params (breakpoints) + the
        reference's _X_fit_dims_ (leading underscore, so the default
        collector misses it); materializes the lazy dims plan so the
        artifact's numpy distance/inverse methods work after load."""
        params = super()._get_model_params()
        if self._has_fit_dims():
            self._require_fit_dims()
            params["_X_fit_dims_"] = list(self._X_fit_dims_)
        return params

    def _post_restore(self) -> None:
        if getattr(self, "_X_fit_dims_", None) is not None:
            self._X_fit_dims_ = tuple(self._X_fit_dims_)

    # -- numpy instance API (reference piecewise.py:387-505) ------------
    def _scale(self, X):
        """Global per-dim z-scale of a (n, sz, d) dataset using the
        fit-time mu_/std_ (reference piecewise.py:387-394); identity
        when scale=False."""
        if not self.scale:
            return X
        X = np.asarray(X, dtype=np.float64)
        return (X - self.mu_.reshape((1, 1, -1))) / self.std_.reshape((1, 1, -1))

    def _unscale(self, X):
        """Inverse of _scale (reference piecewise.py:396-403)."""
        if not self.scale:
            return X
        X = np.asarray(X, dtype=np.float64)
        return X * self.std_.reshape((1, 1, -1)) + self.mu_.reshape((1, 1, -1))

    @staticmethod
    def _as_sym2d(x) -> np.ndarray:
        a = np.asarray(x, dtype=np.int64)
        return a.reshape(-1, 1) if a.ndim == 1 else a

    def distance_sax(self, sax1, sax2) -> float:
        """MINDIST between two SAX representations (cysax.pyx:39-53:
        symbol pairs differing by >1 contribute (bp[max-1]-bp[min])^2;
        total scaled by sqrt(sz/n_segments))."""
        self._require_fit_dims()
        s1, s2 = self._as_sym2d(sax1), self._as_sym2d(sax2)
        bp = np.asarray(self.breakpoints_avg_, dtype=np.float64)
        big, small = np.maximum(s1, s2), np.minimum(s1, s2)
        mask = (big - small) > 1
        s = float(((bp[big[mask] - 1] - bp[small[mask]]) ** 2).sum())
        return float(np.sqrt(s * float(self._X_fit_dims_[1]) / s1.shape[0]))

    def distance(self, ts1, ts2) -> float:
        """MINDIST between two raw series (piecewise.py:454-477)."""
        sax = self.transform([ts1, ts2])
        return self.distance_sax(sax[0], sax[1])

    def inverse_transform(self, X) -> np.ndarray:
        """Series from SAX symbols: bin medians repeated per segment
        (cysax.pyx:58-75 inv_transform_sax; positions past
        seg_sz*n_segments stay 0 exactly like the reference)."""
        self._require_fit_dims()
        X = np.asarray(X, dtype=np.int64)
        if X.ndim == 2:
            X = X[:, :, None]
        mids = np.asarray(self.breakpoints_avg_middle_, dtype=np.float64)
        n, szs, d = X.shape
        orig = int(self._X_fit_dims_[1])
        seg = orig // szs
        out = np.zeros((n, orig, d))
        vals = mids[X]  # (n, szs, d)
        for t in range(szs):
            out[:, t * seg:(t + 1) * seg, :] = vals[:, t:t + 1, :]
        return out

    def distance_col(self, sax1: str, sax2: str, original_size: int | str) -> Column:
        """MINDIST (cysax.pyx:39-54): pairs differing by >1 symbol contribute
        (bp[max-1]-bp[min])^2; total scaled by sqrt(sz/n).

        original_size: the fitted series length — an int, or the name of a
        per-row column for variable-length datasets (kNN sax metric).
        """
        # precomputed gap^2 lookup G[a][b] (constant-folded to ONE literal)
        # instead of rebuilding two breakpoint array literals + pow per
        # element per pair — the CollapseProject join-fan-out lesson
        bp = [float(x) for x in self.breakpoints_avg_]
        n_sym = len(bp) + 1
        gap2 = [
            [
                (bp[max(a, b) - 1] - bp[min(a, b)]) ** 2 if abs(a - b) > 1 else 0.0
                for b in range(n_sym)
            ]
            for a in range(n_sym)
        ]
        g_lit = "array(" + ", ".join(
            "array(" + ", ".join(f"{v!r}D" for v in row) + ")" for row in gap2
        ) + ")"
        sz_expr = (
            f"{float(original_size)}D"
            if isinstance(original_size, (int, float))
            else f"cast({original_size} as double)"
        )
        # Gap^2 sum, dispatched at runtime between an UNROLLED univariate
        # branch and the generic nested fold.  Higher-order functions are
        # CodegenFallback — interpreted per ROW, i.e. per PAIR on
        # similarity joins — while the unrolled lookup sum runs in
        # whole-stage codegen (r14: 2.3x on ts_sax_dist_pairs at sf0.1).
        # The CASE is codegen'd, so rows taking the unrolled branch never
        # touch the interpreted fold; the guard matches exactly the
        # transform() output shape the unroll assumes.  Association
        # replicates the fold bit-for-bit: (0.0 + I0) + I1 + ... with
        # every inner row sum I_s = (0.0 + z_s).
        n_seg = int(self.n_segments)
        rows = " + ".join(
            f"(0.0D + {g_lit}[CAST({sax1}[{s}][0] AS INT)]"
            f"[CAST({sax2}[{s}][0] AS INT)])"
            for s in range(n_seg)
        )
        fold = f"""
            aggregate(zip_with({sax1}, {sax2}, (r1, r2) ->
              aggregate(zip_with(r1, r2, (a, b) ->
                {g_lit}[CAST(a AS INT)][CAST(b AS INT)]),
                0.0D, (acc, z) -> acc + z)),
              0.0D, (acc, s) -> acc + s)
        """
        return F.expr(
            f"""
            sqrt(
              CASE WHEN size({sax1}) = {n_seg} AND size({sax1}[0]) = 1
                   THEN (0.0D + {rows})
                   ELSE {fold} END
              * {sz_expr} / size({sax1})
            )
            """
        )

    def inverse_col(self, sax_col: str, original_size: int) -> Column:
        """Bin medians repeated per segment (cysax.pyx:56-77 inv_transform_sax)."""
        med = _lit_array(self.breakpoints_avg_middle_)
        s = sax_col
        return F.expr(
            f"""
            transform(sequence(0, {original_size - 1}), t ->
              transform(sequence(0, size({s}[0]) - 1), d ->
                CASE WHEN t div ({original_size} div size({s})) < size({s})
                     THEN {med}[{s}[t div ({original_size} div size({s}))][d]]
                     ELSE 0.0D END
              )
            )
            """
        )


# ---------------------------------------------------------------------------
# 1d-SAX (piecewise.py:504-777)
# ---------------------------------------------------------------------------

class OneDSAX(SAX):
    """1d-SAX: per segment quantize (mean, OLS slope) (piecewise.py:504-777).

    Output shape (n_segments, 2*d): first d symbols = averages, last d =
    slopes (piecewise.py:663-678).  Slope = OLS fit over absolute time
    indices (cysax.pyx:80-92 cyslopes) = covar(t, x)/var(t) on the segment.
    """

    def __init__(self, n_segments: int = 1, alphabet_size_avg: int = 5,
                 alphabet_size_slope: int = 5, sigma_l: float | None = None,
                 scale: bool = False):
        super().__init__(n_segments, alphabet_size_avg, scale=scale)
        self.alphabet_size_slope = alphabet_size_slope
        self.sigma_l = sigma_l
        self.breakpoints_slope_: np.ndarray | None = None
        self.breakpoints_slope_middle_: np.ndarray | None = None

    def fit(self, df: DataFrame, y=None,
            values_col: str = "values") -> "OneDSAX":
        """Reference-style fit: slope breakpoints need the fit-time sz
        (piecewise.py:601-617) — taken as the shortest series; global
        scale stats via the SAX fit when scale=True."""
        from tslearn_spark.bases import as_ts_df

        df, _ = as_ts_df(df)
        super().fit(df, values_col=values_col)
        # the SAX fit dims now (one tiny job) — MAX length, the
        # reference's padded-dataset shape (piecewise.py:601-617 reads
        # X.shape[1]), so the numpy surface is consistent with the
        # SAX/PAA siblings
        self._require_fit_dims()
        return self.fit_sz(self._X_fit_dims_[1])

    def fit_sz(self, sz: int) -> "OneDSAX":
        """Breakpoints need the fit-time sz (piecewise.py:601-617).
        A complete offline fit (minus scale stats): sets the avg
        breakpoints too, so fit_sz alone makes the model usable."""
        self.breakpoints_avg_ = sax_breakpoints(self.alphabet_size_avg)
        self.breakpoints_avg_middle_ = sax_bin_medians(self.alphabet_size_avg)
        seg_sz = sz // self.n_segments
        sigma_l = self.sigma_l if self.sigma_l is not None else float(np.sqrt(0.03 / seg_sz))
        self.breakpoints_slope_ = sax_breakpoints(self.alphabet_size_slope, scale=sigma_l)
        self.breakpoints_slope_middle_ = sax_bin_medians(self.alphabet_size_slope, scale=sigma_l)
        # keep any d recorded by a full fit; offline fit_sz knows only sz
        prev = getattr(self, "_X_fit_dims_", None) or (None, None, None)
        self._X_fit_dims_ = (None, int(sz), prev[2])
        return self

    # -- numpy instance API (reference piecewise.py:700-777) ------------
    def distance_1d_sax(self, sax1, sax2) -> float:
        """Distance between 1d-SAX representations (cysax.pyx:96-124):
        per-timestep difference of the reconstructed avg+slope lines,
        sqrt of the squared sum — NO extra original_size scaling."""
        self._require_fit_dims()
        s1, s2 = self._as_sym2d(sax1), self._as_sym2d(sax2)
        avg_m = np.asarray(self.breakpoints_avg_middle_, dtype=np.float64)
        slope_m = np.asarray(self.breakpoints_slope_middle_, dtype=np.float64)
        szs = s1.shape[0]
        d = s1.shape[1] // 2
        orig = int(self._X_fit_dims_[1])
        seg = orig // szs
        s = 0.0
        for t in range(szs):
            t0 = t * seg
            # reference uses t0 + .5*seg_sz here (and .5*(seg_sz-1) in
            # the inverse) — replicated exactly, cysax.pyx:114 vs 146
            tm = t0 + 0.5 * seg
            tt = np.arange(t0, seg * (t + 1), dtype=np.float64)
            for di in range(d):
                a1, a2 = avg_m[s1[t, di]], avg_m[s2[t, di]]
                b1 = slope_m[s1[t, di + d]]
                b2 = slope_m[s2[t, di + d]]
                diff = (a1 - a2) + (b1 - b2) * (tt - tm)
                s += float((diff ** 2).sum())
        return float(np.sqrt(s))

    def distance(self, ts1, ts2) -> float:
        """1d-SAX distance between two raw series (piecewise.py:730-753)."""
        sax = self.transform([ts1, ts2])
        return self.distance_1d_sax(sax[0], sax[1])

    def inverse_transform(self, X) -> np.ndarray:
        """Series from 1d-SAX symbols: per segment the avg+slope line
        around the segment middle (cysax.pyx:127-152)."""
        self._require_fit_dims()
        X = np.asarray(X, dtype=np.int64)
        if X.ndim == 2:
            X = X[:, :, None]
        avg_m = np.asarray(self.breakpoints_avg_middle_, dtype=np.float64)
        slope_m = np.asarray(self.breakpoints_slope_middle_, dtype=np.float64)
        n, szs, dd = X.shape
        d = dd // 2
        orig = int(self._X_fit_dims_[1])
        seg = orig // szs
        # reference uses numpy.empty (tail garbage when orig % szs != 0);
        # zeros here — deterministic, identical on divisible sizes
        out = np.zeros((n, orig, d))
        for t in range(szs):
            t0 = t * seg
            tm = float(t0) + 0.5 * (seg - 1)
            tt = np.arange(t0, seg * (t + 1), dtype=np.float64)
            avg = avg_m[X[:, t, :d]]          # (n, d)
            slope = slope_m[X[:, t, d:]]      # (n, d)
            out[:, t0:seg * (t + 1), :] = (
                avg[:, None, :] + slope[:, None, :] * (tt - tm)[None, :, None]
            )
        return out

    def slopes_col(self, values_col: str = "values") -> Column:
        """Per-segment per-dim OLS slope over absolute t (cyslopes), the
        Column of ``slopes_sql``."""
        return F.expr(self.slopes_sql(values_col))

    def slopes_sql(self, values_col: str = "values") -> str:
        """SQL of the per-segment per-dim OLS slope over absolute t
        (cyslopes).

        slope = (sum(t*x) - sum(t)*sum(x)/n) / (sum(t^2) - sum(t)^2/n)
        computed over t in [s*seg, s*seg+seg).  An empty series maps to
        an empty series; a series shorter than ``n_segments`` (seg = 0)
        gets NaN slopes, like its NaN segment means in ``paa_col``, and
        one-point segments (seg = 1, where the formula is 0 / 0) get the
        minimum-norm least-squares slope, 0.
        """
        n = self.n_segments
        seg = "(size(src) div " + str(n) + ")"
        return per_series(values_col, f"""
              transform(sequence(0, {n - 1}), s ->
                transform(sequence(0, size(src[0]) - 1), d ->
                  CASE WHEN size(src) < {n} THEN {_NAN}
                       WHEN size(src) < {2 * n} THEN 0.0D ELSE (
                    aggregate(sequence(s * {seg}, s * {seg} + {seg} - 1),
                              0.0D, (a, t) -> a + t * src[t][d])
                    - aggregate(sequence(s * {seg}, s * {seg} + {seg} - 1),
                                0.0D, (a, t) -> a + t)
                      * aggregate(sequence(s * {seg}, s * {seg} + {seg} - 1),
                                  0.0D, (a, t) -> a + src[t][d]) / {seg}
                  ) / (
                    aggregate(sequence(s * {seg}, s * {seg} + {seg} - 1),
                              0.0D, (a, t) -> a + cast(t as double) * t)
                    - pow(aggregate(sequence(s * {seg}, s * {seg} + {seg} - 1),
                                    0.0D, (a, t) -> a + t), 2) / {seg}
                  ) END
                )
              )
            """)

    def transform(self, df: DataFrame, values_col: str = "values",
                  out_col: str = "sax1d") -> DataFrame:
        from tslearn_spark.bases import transform_compat

        if self.breakpoints_slope_ is None:
            # reference NotFittedError contract (ValueError subclass):
            # the slope breakpoints only exist after fit/fit_sz
            raise ValueError(
                "OneDSAX model not fitted yet: call fit or fit_transform "
                "before transform/distance")

        def build(d):
            v = self._scaled(values_col)
            avg_sym = symbols_col(paa_sql(v, self.n_segments),
                                  self.breakpoints_avg_)
            slope_sym = symbols_col(self.slopes_sql(v),
                                    self.breakpoints_slope_)
            return d.withColumn(out_col, F.expr(
                f"zip_with({avg_sym}, {slope_sym}, (a, s) -> concat(a, s))"))

        return transform_compat(df, build, out_col, int_out=True)

    def distance_col(self, sax1: str, sax2: str, original_size: int) -> Column:
        """cydist_1d_sax (cysax.pyx:95-124): squared diffs of the two
        reconstructed per-segment linear approximations at every t."""
        avg_med = _lit_array(self.breakpoints_avg_middle_)
        slope_med = _lit_array(self.breakpoints_slope_middle_)
        n = f"size({sax1})"
        d = f"(size({sax1}[0]) div 2)"
        seg = f"({original_size} div {n})"
        return F.expr(
            f"""
            sqrt(
              aggregate(sequence(0, {n} - 1), 0.0D, (acc, s) -> acc +
                aggregate(sequence(0, {d} - 1), 0.0D, (acc2, di) -> acc2 +
                  aggregate(sequence(s * {seg}, s * {seg} + {seg} - 1), 0.0D,
                    (acc3, tt) -> acc3 + pow(
                      ({avg_med}[{sax1}[s][di]]
                       + {slope_med}[{sax1}[s][di + {d}]]
                         * (tt - (s * {seg} + 0.5D * {seg})))
                      - ({avg_med}[{sax2}[s][di]]
                         + {slope_med}[{sax2}[s][di + {d}]]
                           * (tt - (s * {seg} + 0.5D * {seg}))), 2)
                  )
                )
              )
            )
            """
        )

    def inverse_col(self, sax_col: str, original_size: int) -> Column:
        """inv_transform_1d_sax (cysax.pyx:127-152): per-segment linear
        reconstruction avg + slope*(t - t_mid)."""
        avg_med = _lit_array(self.breakpoints_avg_middle_)
        slope_med = _lit_array(self.breakpoints_slope_middle_)
        s = sax_col
        n = f"size({s})"
        d = f"(size({s}[0]) div 2)"
        seg = f"({original_size} div {n})"
        return F.expr(
            f"""
            transform(sequence(0, {original_size - 1}), t ->
              transform(sequence(0, {d} - 1), di ->
                CASE WHEN t div {seg} < {n}
                     THEN {avg_med}[{s}[t div {seg}][di]]
                          + {slope_med}[{s}[t div {seg}][di + {d}]]
                            * (t - ((t div {seg}) * {seg} + 0.5D * {seg}))
                     ELSE 0.0D END
              )
            )
            """
        )


# ---------------------------------------------------------------------------
# reference-named estimator classes (drop-in import parity)
# ---------------------------------------------------------------------------

class PiecewiseAggregateApproximation(_FitDims, BaseModelPackage,
                                       TimeSeriesBaseEstimator):
    """Estimator twin of the reference PAA class (piecewise.py:112-258):
    segment-mean downsampling, inverse, and the PAA lower-bound distance,
    over the expression layer above."""

    def _more_tags(self):
        # reference piecewise.py:257-258
        return {"allow_nan": True, "allow_variable_length": True}

    def __init__(self, n_segments: int = 1):
        self.n_segments = n_segments

    def fit(self, df: DataFrame = None, y=None) -> "PiecewiseAggregateApproximation":
        if df is not None:
            from tslearn_spark.bases import as_ts_df

            df2, _ = as_ts_df(df)
            # reference _X_fit_dims_ (piecewise.py:154-158)
            self._record_fit_input(df2, "values")
        return self

    def transform(self, df: DataFrame, values_col: str = "values",
                  out_col: str = "paa") -> DataFrame:
        from tslearn_spark.bases import transform_compat

        return transform_compat(
            df, lambda d: transform_paa(d, self.n_segments, values_col,
                                        out_col),
            out_col)

    def fit_transform(self, df: DataFrame, y=None, **kw) -> DataFrame:
        # fit records _X_fit_dims_ (the reference's TransformerMixin
        # fit-then-transform), so distance/inverse work afterwards
        return self.fit(df).transform(df, **kw)

    # -- serialization surface (reference piecewise.py:118-120: fitted
    # state IS _X_fit_dims_, leading-underscore so the default trailing-
    # underscore collector misses it) --------------------------------
    def _is_fitted(self) -> bool:
        return self._has_fit_dims()

    def _get_model_params(self) -> dict:
        params = super()._get_model_params()
        if self._is_fitted():
            self._require_fit_dims()  # materialize the lazy dims plan
            params["_X_fit_dims_"] = list(self._X_fit_dims_)
        return params

    def _post_restore(self) -> None:
        if getattr(self, "_X_fit_dims_", None) is not None:
            self._X_fit_dims_ = tuple(self._X_fit_dims_)

    @staticmethod
    def inverse_col(paa_col_name: str, original_size: int) -> Column:
        return paa_inverse_col(paa_col_name, original_size)

    @staticmethod
    def distance_col(paa1: str, paa2: str, original_size: int) -> Column:
        return paa_distance_col(paa1, paa2, original_size)

    # -- numpy instance API (reference piecewise.py:191-258) ------------
    def distance_paa(self, paa1, paa2) -> float:
        """Keogh-Pazzani PAA lower-bound distance between two PAA
        representations (piecewise.py:191-213):
        ||paa1 - paa2|| * sqrt(sz / n_segments)."""
        self._require_fit_dims()
        diff = np.asarray(paa1, dtype=np.float64) - np.asarray(
            paa2, dtype=np.float64)
        return float(np.linalg.norm(diff)
                     * np.sqrt(self._X_fit_dims_[1] / self.n_segments))

    def distance(self, ts1, ts2) -> float:
        """PAA distance between two raw series (piecewise.py:215-236)."""
        paa = self.transform([ts1, ts2])
        return self.distance_paa(paa[0], paa[1])

    def inverse_transform(self, X) -> np.ndarray:
        """Segment means repeated per window (cysax.pyx:19-35
        inv_transform_paa; positions past seg_sz*n_segments stay 0)."""
        self._require_fit_dims()
        X = np.asarray(X, dtype=np.float64)
        if X.ndim == 2:
            X = X[:, :, None]
        n, szs, d = X.shape
        orig = int(self._X_fit_dims_[1])
        seg = orig // szs
        out = np.zeros((n, orig, d))
        for t in range(szs):
            out[:, t * seg:(t + 1) * seg, :] = X[:, t:t + 1, :]
        return out


# the reference's public class names (piecewise.py:329, 586)
SymbolicAggregateApproximation = SAX
OneD_SymbolicAggregateApproximation = OneDSAX
