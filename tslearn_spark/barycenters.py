"""Barycenters — custom aggregations over sets of series.

Reference: tslearn/barycenters/ (euclidean.py:8-43, dba.py:60-739,
softdtw.py:17-112).

Spark-first mapping (SURVEY.md §2.6):

* Euclidean barycenter is a pure SQL positionwise aggregate on the
  exploded view — one hash aggregate, map-side combined.
* DBA is an iterative driver loop: broadcast the (tiny) barycenter,
  one pandas-UDF pass emits (position, value, weight) matches, one
  grouped aggregate produces the next barycenter.  Each EM step is one
  Spark job; lineage stays flat because only the small barycenter array
  crosses iterations (no growing DataFrame plan).
* soft-DTW barycenter aggregates (value, grad) per series and steps on
  the driver (gradient descent with adaptive step, scipy-free).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from tslearn_spark import kernels as K
from tslearn_spark.metrics import _to_arr


# ---------------------------------------------------------------------------
# Euclidean barycenter (euclidean.py:8-43): pure SQL
# ---------------------------------------------------------------------------

def euclidean_barycenter_df(df: DataFrame, weight_col: str | None = None) -> DataFrame:
    """Positionwise weighted mean across equal-length series.

    Exploded view -> groupBy(t, dim) -> weighted avg: a single hash
    aggregate with map-side partial aggregation; scales to any number of
    series.  Returns long layout (t, dim, value).
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    long = (
        df.select(w.alias("_w"), F.posexplode("values").alias("t", "point"))
        .select("_w", "t", F.posexplode("point").alias("dim", "value"))
    )
    return (
        long.groupBy("t", "dim")
        .agg((F.sum(F.col("value") * F.col("_w")) / F.sum("_w")).alias("value"))
    )



def _attach_weights(df: DataFrame, weights=None, weight_col: str | None = None):
    """(src_df, weight_col_name) with the reference's ``weights`` array
    protocol honored: an array aligns with the series in series_id order
    (array-like inputs get series_id 0..n-1 at ingest, so this matches
    the reference's row order).  ``weight_col`` is the engine-native
    alternative — a column already on the DataFrame."""
    if weight_col is not None:
        return df, weight_col
    if weights is None:
        return df.withColumn("_w1", F.lit(1.0)), "_w1"
    ids = [r["series_id"]
           for r in df.select("series_id").orderBy("series_id").collect()]
    w = np.asarray(weights, dtype=np.float64).ravel()
    if len(w) != len(ids):
        raise ValueError(
            f"weights has {len(w)} entries for {len(ids)} series"
        )
    wdf = df.sparkSession.createDataFrame(
        [(int(i), float(x)) for i, x in zip(ids, w)],
        "series_id long, _w1 double",
    )
    return df.join(F.broadcast(wdf), "series_id"), "_w1"


def _set_weights(w, n: int) -> np.ndarray:
    """Reference weight normalization (barycenters/utils.py:8-22): None
    or a mis-sized vector falls back to uniform ones(n)."""
    if w is None or len(w) != n:
        return np.ones((n,))
    return np.asarray(w, dtype=np.float64)


def euclidean_barycenter(X, weights=None) -> np.ndarray:
    """Positionwise (weighted) mean barycenter (euclidean.py:8-43);
    parameter names and weight semantics match the reference."""
    from tslearn_spark.bases import as_ts_df

    df, _ = as_ts_df(X)
    src, wcol = _attach_weights(df, weights)
    rows = euclidean_barycenter_df(src, wcol).orderBy("t", "dim").collect()
    n_t = max(r["t"] for r in rows) + 1
    n_d = max(r["dim"] for r in rows) + 1
    out = np.zeros((n_t, n_d))
    for r in rows:
        out[r["t"], r["dim"]] = r["value"]
    return out


# ---------------------------------------------------------------------------
# DBA (dba.py:394-604) — EM with DTW alignments
# ---------------------------------------------------------------------------

_MATCH_SCHEMA = StructType(
    [
        StructField("pos", IntegerType()),
        StructField("dim", IntegerType()),
        StructField("wsum", DoubleType()),
        StructField("wtot", DoubleType()),
        StructField("cost", DoubleType()),
    ]
)


def _dba_udf(center: np.ndarray, metric_params: dict):
    """Per-series E-step: DTW path to the broadcast center -> matched sums."""

    @F.pandas_udf(ArrayType(_MATCH_SCHEMA))
    def _udf(values: pd.Series, weights: pd.Series) -> pd.Series:
        out = []
        for v, w in zip(values, weights):
            ts = _to_arr(v)
            path, dist = K.dtw_path(center, ts, **metric_params)
            acc: dict[tuple[int, int], list[float]] = {}
            for (i, j) in path:
                for d in range(ts.shape[1]):
                    key = (i, d)
                    if key not in acc:
                        acc[key] = [0.0, 0.0]
                    acc[key][0] += w * ts[j, d]
                    acc[key][1] += w
            rows = [
                {"pos": p, "dim": d, "wsum": s, "wtot": t, "cost": w * dist * dist}
                for (p, d), (s, t) in acc.items()
            ]
            out.append(rows)
        return pd.Series(out)

    return _udf


def dtw_barycenter_averaging_one_init(
    X,
    barycenter_size: int | None = None,
    init_barycenter: np.ndarray | None = None,
    max_iter: int = 30,
    tol: float = 1e-5,
    weights=None,
    metric_params: dict | None = None,
    verbose: bool = False,
    weight_col: str | None = None,
) -> tuple[np.ndarray, float]:
    """One DBA run (dba.py:514-604): E-step = DTW paths to the current
    center, M-step = per-position weighted mean of matched points.
    Returns (barycenter, final weighted cost) like the reference.

    Driver holds only the center (sz x d floats); each iteration is one
    job: UDF pass + exploded grouped aggregate.  The input DataFrame is
    cached by the caller for multi-iteration reuse.  Array-like input
    and the ``weights`` array follow the reference protocol;
    ``weight_col`` (engine extra) names an existing weight column.
    """
    from tslearn_spark.bases import as_ts_df

    df, _ = as_ts_df(X)
    metric_params = metric_params or {}
    first = df.select("values").first()
    d = len(first["values"][0])
    if init_barycenter is not None:
        center = np.asarray(init_barycenter, dtype=np.float64)
        if center.ndim == 1:
            center = center.reshape(-1, 1)
    else:
        # init (dba.py:14-22 _init_avg): positionwise nanmean at the
        # ORIGINAL length, THEN linear interp to barycenter_size —
        # mean-then-resample.  (Resample-then-mean differs whenever
        # barycenter_size != sz: the interp of the mean is not the mean
        # of the interps — caught by the dba.py doctest replay, r8.)
        full = euclidean_barycenter(df.select("series_id", "values"))
        if barycenter_size is None or barycenter_size == full.shape[0]:
            center = full
        else:
            xs = np.linspace(0.0, 1.0, full.shape[0])
            xnew = np.linspace(0.0, 1.0, barycenter_size)
            center = np.stack(
                [np.interp(xnew, xs, full[:, dd])
                 for dd in range(full.shape[1])], axis=1)
    src, wcol = _attach_weights(df, weights, weight_col)
    sum_w = float(src.agg(F.sum(wcol).alias("s")).first()["s"])
    cost = float("inf")
    for it in range(max_iter):
        udf = _dba_udf(center, metric_params)
        matches = src.select(F.explode(udf("values", wcol)).alias("m")).select("m.*")
        agg_rows = (
            matches.groupBy("pos", "dim")
            .agg(F.sum("wsum").alias("s"), F.sum("wtot").alias("t"),
                 F.sum("cost").alias("c"))
            .collect()
        )
        # per-series cost rides only the (pos=0, dim=0) rows (the DTW
        # path always visits i=0), so summing it counts each series once
        cost = sum(r["c"] for r in agg_rows
                   if r["pos"] == 0 and r["dim"] == 0) / sum_w
        new_center = center.copy()
        for r in agg_rows:
            new_center[r["pos"], r["dim"]] = r["s"] / r["t"]
        delta = float(np.linalg.norm(new_center - center))
        center = new_center
        if verbose:
            print(f"[DBA] iter={it} delta={delta} cost={cost}")
        if delta < tol:
            break
    return center, cost


def dtw_barycenter_averaging(
    X,
    barycenter_size: int | None = None,
    init_barycenter: np.ndarray | None = None,
    max_iter: int = 30,
    tol: float = 1e-5,
    weights=None,
    metric_params: dict | None = None,
    verbose: bool = False,
    n_init: int = 1,
    weight_col: str | None = None,
) -> np.ndarray:
    """DBA (dba.py:394-511): best of ``n_init`` one-init runs by final
    cost, reference signature and order (weight_col trails as the
    engine extra)."""
    best_cost, best = np.inf, None
    for i in range(n_init):
        if verbose:
            print(f"Attempt {i + 1}")
        bary, loss = dtw_barycenter_averaging_one_init(
            X, barycenter_size=barycenter_size,
            init_barycenter=init_barycenter, max_iter=max_iter, tol=tol,
            weights=weights, metric_params=metric_params, verbose=verbose,
            weight_col=weight_col,
        )
        # "or best is None": max_iter=0 legitimately reports an inf cost
        # (no EM step ran) yet must still return the init barycenter —
        # the reference's 0-iteration DBA IS the euclidean barycenter
        if loss < best_cost or best is None:
            best_cost, best = loss, bary
    return best


# reference alias: dtw_barycenter_averaging IS the Petitjean E-M variant
# (dba.py:514-604 exposes both names for the same algorithm)
dtw_barycenter_averaging_petitjean = dtw_barycenter_averaging


def dtw_barycenter_averaging_subgradient(
    X,
    barycenter_size: int | None = None,
    init_barycenter: np.ndarray | None = None,
    max_iter: int = 30,
    initial_step_size: float = 0.05,
    final_step_size: float = 0.005,
    tol: float = 1e-5,
    random_state: int | None = None,
    weights=None,
    metric_params: dict | None = None,
    verbose: bool = False,
    weight_col: str | None = None,
) -> np.ndarray:
    """Stochastic-subgradient DBA (dba.py:607-741, Schultz & Jain 2017).

    The algorithm updates the barycenter once PER SERIES in a shuffled
    order with a decaying step size — an inherently sequential recursion
    (each update depends on the previous one), so there is no useful
    distributed formulation: the engine runs it driver-side on the
    collected series, mirroring how the reference iterates the in-memory
    array.  DataFrame in, numpy barycenter out, same contract as
    ``dtw_barycenter_averaging``; for large inputs prefer the
    distributed E-M variant (the reference's default too).
    """
    from tslearn_spark.bases import as_ts_df

    df, _ = as_ts_df(X)
    from tslearn_spark.kernels import dtw_path

    metric_params = metric_params or {}
    from tslearn_spark.kernels import check_random_state
    rng = check_random_state(random_state)
    if weights is not None and weight_col is None:
        src, wcol = _attach_weights(df, weights)
    else:
        src, wcol = (df, weight_col) if weight_col else (
            df.withColumn("_w1", F.lit(1.0)), "_w1")
    pdf = src.select(
        F.col("series_id"), F.col("values"), F.col(wcol).alias("_w")
    ).orderBy("series_id").toPandas()
    series = [_to_arr(v) for v in pdf["values"]]
    weights = pdf["_w"].to_numpy(dtype=np.float64)
    n = len(series)
    d = series[0].shape[1]
    if init_barycenter is not None:
        center = np.asarray(init_barycenter, dtype=np.float64)
        if center.ndim == 1:
            center = center.reshape(-1, 1)
        barycenter_size = center.shape[0]
    else:
        if barycenter_size is None:
            barycenter_size = max(s.shape[0] for s in series)
        # init = mean of linearly-resampled series (dba.py:14-22)
        grid = np.linspace(0.0, 1.0, barycenter_size)
        acc = np.zeros((barycenter_size, d))
        for s in series:
            src = np.linspace(0.0, 1.0, s.shape[0])
            for dim in range(d):
                acc[:, dim] += np.interp(grid, src, s[:, dim])
        center = acc / n
    cost_prev = np.inf
    eta = initial_step_size
    for _ in range(max_iter):
        cost = np.inf
        for idx in rng.permutation(n):
            x = series[idx]
            path, dist = dtw_path(center, x, **metric_params)
            cost = dist * dist  # squared-cost subgradient, per the paper
            w = weights[idx]
            # V diag: #x-points aligned per barycenter position; W.x: their sum
            v = np.zeros(barycenter_size)
            wx = np.zeros((barycenter_size, d))
            for i, j in path:
                v[i] += 1.0
                wx[i] += x[j]
            delta = w * (v[:, None] * center - wx)
            center = center - (2.0 * eta / w) * delta
            if eta > final_step_size:
                eta -= (initial_step_size - final_step_size) / n
        if verbose:
            print(f"[DBA-subgradient] cost={cost}")
        if abs(cost_prev - cost) < tol or cost_prev < cost:
            break
        cost_prev = cost
    return center


# ---------------------------------------------------------------------------
# soft-DTW barycenter (softdtw.py:17-112)
# ---------------------------------------------------------------------------

_VG_SCHEMA = StructType(
    [
        StructField("value", DoubleType()),
        StructField("grad", ArrayType(ArrayType(DoubleType()))),
    ]
)


def _sdtw_value_grad_udf(Z: np.ndarray, gamma: float):
    @F.pandas_udf(_VG_SCHEMA)
    def _udf(values: pd.Series, weights: pd.Series) -> pd.DataFrame:
        vals, grads = [], []
        for v, w in zip(values, weights):
            ts = _to_arr(v)
            val, g = K.soft_dtw_grad(Z, ts, gamma)
            vals.append(w * val)
            grads.append((w * g).tolist())
        return pd.DataFrame({"value": vals, "grad": grads})

    return _udf


def softdtw_barycenter(
    X,
    gamma: float = 1.0,
    weights=None,
    method: str = "L-BFGS-B",
    tol: float = 1e-3,
    max_iter: int = 50,
    init: np.ndarray | None = None,
    weight_col: str | None = None,
) -> np.ndarray:
    """Minimize sum_i w_i softDTW(Z, x_i) over Z (softdtw.py:36-112).

    The reference uses scipy L-BFGS-B; scipy is unavailable here, so the
    driver runs its own L-BFGS (two-loop recursion, memory 10, Armijo
    backtracking — the unbounded case of L-BFGS-B) on the distributed
    (value, sum-of-grads) aggregate — the MLlib "treeAggregate + driver
    optimizer" pattern.  Each function evaluation is one Spark job; the
    executors never see the optimizer state.
    """
    from tslearn_spark.bases import as_ts_df

    if method != "L-BFGS-B":
        raise NotImplementedError(
            f"method={method!r}: only 'L-BFGS-B' (the reference default) "
            "is implemented — the driver runs its own L-BFGS"
        )
    df, _ = as_ts_df(X)
    if init is None:
        sz = int(df.select(F.max(F.size("values")).alias("m")).first()["m"])
        from tslearn_spark.preprocessing import resample

        res = resample(df.select("series_id", "values"), sz)
        Z = euclidean_barycenter(res)
    else:
        Z = np.asarray(init, dtype=np.float64)
        if Z.ndim == 1:
            Z = Z.reshape(-1, 1)
    if weights is not None and weight_col is None:
        src, wcol = _attach_weights(df, weights)
    else:
        src, wcol = (df, weight_col) if weight_col else (
            df.withColumn("_w1", F.lit(1.0)), "_w1")
    src = src.cache()

    def objective(Zc: np.ndarray) -> tuple[float, np.ndarray]:
        udf = _sdtw_value_grad_udf(Zc, gamma)
        row = (
            src.select(udf("values", wcol).alias("vg"))
            .select(F.col("vg.value").alias("v"), F.col("vg.grad").alias("g"))
            .groupBy()
            .agg(
                F.sum("v").alias("val"),
                F.array(*[
                    F.array(*[
                        F.sum(F.col("g")[i][j]) for j in range(Zc.shape[1])
                    ]) for i in range(Zc.shape[0])
                ]).alias("gsum"),
            )
            .first()
        )
        return float(row["val"]), np.asarray(row["gsum"], dtype=np.float64)

    shape = Z.shape

    def fg(x: np.ndarray) -> tuple[float, np.ndarray]:
        f, g = objective(x.reshape(shape))
        return f, g.ravel()

    x = Z.ravel().copy()
    f, g = fg(x)
    S: list[np.ndarray] = []
    Y: list[np.ndarray] = []
    for _ in range(max_iter):
        if float(np.linalg.norm(g)) < tol:
            break
        # two-loop recursion over the last 10 curvature pairs
        q = g.copy()
        hist = []
        for s, y in zip(reversed(S), reversed(Y)):
            rho = 1.0 / float(y @ s)
            a = rho * float(s @ q)
            hist.append((a, rho, s, y))
            q -= a * y
        if Y:
            q *= float(S[-1] @ Y[-1]) / float(Y[-1] @ Y[-1])
        for a, rho, s, y in reversed(hist):
            b = rho * float(y @ q)
            q += (a - b) * s
        d = -q
        gtd = float(g @ d)
        if gtd >= 0.0:  # not a descent direction: reset to steepest descent
            d = -g
            gtd = -float(g @ g)
            S.clear()
            Y.clear()
        # Armijo backtracking; first iteration scales like scipy's init
        t = 1.0 if S else min(1.0, 1.0 / max(1.0, float(np.linalg.norm(g))))
        ok = False
        for _ls in range(20):
            xn = x + t * d
            fn, gn = fg(xn)
            if fn <= f + 1e-4 * t * gtd:
                ok = True
                break
            t *= 0.5
        if not ok:
            break
        s_vec, y_vec = xn - x, gn - g
        if float(s_vec @ y_vec) > 1e-10:  # keep curvature pairs SPD
            S.append(s_vec)
            Y.append(y_vec)
            S, Y = S[-10:], Y[-10:]
        x, f, g = xn, fn, gn
    return x.reshape(shape)
