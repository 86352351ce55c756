"""Time-series clustering — iterative dataflow programs.

Reference: tslearn/clustering/ (kmeans.py:136-859, kshape.py:21-291,
utils.py:47-197).

Spark-first structure (SURVEY.md §2.7): the driver holds the k (tiny)
centroids and the loop control; every Lloyd iteration is

    centroids in the UDF closure -> assignment (a map-only pandas UDF:
    per Arrow batch, every series against the k centers, then argmin)
    -> per-cluster centroid update (barycenter aggregate / applyInPandas)

Every "series vs k centers" score — assignment (k-means and KShape),
``transform``, the ``dtw_inertia`` re-measure and the driver-side
k-means++ seeding — goes through ``_center_dists``, one call of the
engine's pair-scoring dispatch (``metrics.pair_scores``, the one
``cdist`` uses) per batch: the compiled DTW or the batched soft-DTW for
the DP metrics, the per-pair kernel loop for euclidean and sbd.  Pairs
are ``(center, series)``, both trimmed of trailing all-NaN rows
(``kernels.to_2d``), so the scores are the per-pair kernels' doubles.

The input DataFrame is cached once; nothing larger than (k, sz, d)
floats ever reaches the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, StructField,
                               StructType)

from tslearn_spark import kernels as K
from tslearn_spark import metrics as M
from tslearn_spark.barycenters import dtw_barycenter_averaging, softdtw_barycenter
from tslearn_spark.bases import BaseModelPackage, TimeSeriesBaseEstimator
from tslearn_spark.session import size_tasks


class EmptyClusterError(Exception):
    """clustering/utils.py:13-26."""


def _check_no_empty_cluster(labels, n_clusters: int) -> None:
    """Raise EmptyClusterError when any cluster index in [0, n_clusters)
    has no member (reference clustering/utils.py:27-33).  Accepts a
    numpy label vector; the distributed fits run their own DataFrame
    equivalent inside the Lloyd loops."""
    labels = np.asarray(labels)
    for k in range(n_clusters):
        if np.sum(labels == k) == 0:
            raise EmptyClusterError


def _check_full_length(centroids):
    """Resample NaN-padded centroids to full length (reference
    clustering/utils.py:36-44): each centroid is linearly resampled
    over its finite prefix to the padded dataset's length."""
    from tslearn_spark.preprocessing import TimeSeriesResampler

    centroids = np.asarray(centroids, dtype=np.float64)
    return TimeSeriesResampler(sz=centroids.shape[1]).fit_transform(centroids)


_DOT_EXPR = "aggregate(zip_with(x1, x2, (p, q) -> p * q), 0.0D, (s, v) -> s + v)"
_D2_EXPR = ("aggregate(zip_with(x1, x2, (p, q) -> (p - q) * (p - q)), "
            "0.0D, (s, v) -> s + v)")


def _ragged_kernel_error(kernel: str) -> ValueError:
    return ValueError(
        f"kernel {kernel!r} requires equal-length series: the "
        "flattened inputs have mixed lengths (sklearn's "
        "pairwise_kernels raises on incompatible dimensions; use "
        "kernel='gak' for variable-length series)")


def _flat_len_check(d: DataFrame) -> tuple[int, int]:
    """(countDistinct(flattened length), max flattened length) — one scan."""
    agg = d.select(F.size(F.flatten("values")).alias("n")).agg(
        F.countDistinct("n").alias("k"), F.max("n").alias("n")).first()
    return int(agg["k"]), int(agg["n"]) if agg["n"] is not None else 0


def _pairwise_kernel_edges(d1: DataFrame, d2: DataFrame, kernel: str,
                           params: dict, flat_len: int | None = None) -> DataFrame:
    """(id1, id2, dist) Gram edges for the sklearn pairwise kernels the
    reference's KernelKMeans accepts besides "gak" (kmeans.py:274-289
    routes them to sklearn.metrics.pairwise.pairwise_kernels over the
    FLATTENED series).  Pure SQL over the pair join — the per-pair work
    is one codegen fold, so the same Gram-edge dataflow the gak path
    uses runs unchanged downstream.  Defaults match sklearn: gamma =
    1 / n_features for rbf/sigmoid/poly, degree 3, coef0 1.

    ``flat_len``: the d2 (train) side's already-known flattened length —
    callers that resolved it at fit time pass it so only the d1 (query)
    side is scanned for the ragged-input check, instead of an eager
    union aggregate over BOTH inputs on every predict call.
    """
    a = d1.select(F.col("series_id").alias("id1"),
                  F.flatten("values").alias("x1"))
    b = d2.select(F.col("series_id").alias("id2"),
                  F.flatten("values").alias("x2"))
    pairs = a.crossJoin(b)
    # sklearn's pairwise_kernels raises on ragged input; zip_with over
    # unequal arrays would instead silently truncate to the shorter one
    # and the folds would produce wrong (not NULL-visible) Grams —
    # enforce one uniform flattened length across both sides up front
    ragged_err = _ragged_kernel_error(kernel)
    if flat_len is not None:
        # train-side length known from fit: scan the query side only
        k1, n1 = _flat_len_check(d1) if d1 is not d2 else (1, flat_len)
        # k1 == 0 means d1 is EMPTY, not ragged: the cross join below
        # yields the empty edge plan on its own (predict on zero rows)
        if k1 > 0 and (k1 > 1 or n1 != int(flat_len)):
            raise ragged_err
        n = int(flat_len)
    else:
        if d1 is d2:
            k1, n = _flat_len_check(d1)
        else:
            sides = a.select(F.size("x1").alias("n")).union(
                b.select(F.size("x2").alias("n")))
            agg = sides.agg(F.countDistinct("n").alias("k"),
                            F.max("n").alias("n")).first()
            k1, n = int(agg["k"]), int(agg["n"])
        if k1 > 1:
            raise ragged_err
    if kernel in ("rbf", "sigmoid", "polynomial", "poly"):
        gamma = params.get("gamma")
        if gamma is None:
            gamma = 1.0 / float(n)
    if kernel == "rbf":
        val = F.expr(f"exp({-1.0}D * {float(gamma)!r}D * {_D2_EXPR})")
    elif kernel == "linear":
        val = F.expr(_DOT_EXPR)
    elif kernel == "cosine":
        val = F.expr(
            f"{_DOT_EXPR} / (sqrt(aggregate(transform(x1, v -> v * v), 0.0D,"
            f" (s, v) -> s + v)) * sqrt(aggregate(transform(x2, v -> v * v),"
            f" 0.0D, (s, v) -> s + v)))")
    elif kernel == "sigmoid":
        coef0 = float(params.get("coef0", 1.0))
        val = F.expr(f"tanh({float(gamma)!r}D * {_DOT_EXPR} + {coef0!r}D)")
    elif kernel in ("polynomial", "poly"):
        coef0 = float(params.get("coef0", 1.0))
        degree = float(params.get("degree", 3))
        val = F.expr(f"pow({float(gamma)!r}D * {_DOT_EXPR} + {coef0!r}D, "
                     f"{degree!r}D)")
    else:
        raise ValueError(
            f"Unsupported kernel {kernel!r}: use 'gak' or one of "
            "rbf/linear/cosine/sigmoid/polynomial")
    return pairs.select("id1", "id2", val.alias("dist"))



def _centers_d(centers):
    """Fitted per-timestamp dimension from a stacked centroid array."""
    if isinstance(centers, np.ndarray) and centers.ndim == 3:
        return centers.shape[2]
    return None

def _x_fit_of(raw, was_array: bool, df: DataFrame):
    """Successful-fit marker (reference _post_fit's _X_fit): for array
    ingest, the padded numpy training dataset — serializable, like the
    reference's; for DataFrame ingest, the training DataFrame handle
    (never serialized — model_io's training-data policy)."""
    if was_array:
        from tslearn_spark.utils import to_time_series_dataset

        return to_time_series_dataset(raw)
    return df


def _seed_of(random_state) -> int:
    """Normalize the reference's random_state protocol (int |
    numpy.RandomState | None — sklearn check_random_state) to the int
    seed the distributed fits thread through their init attempts.  A
    RandomState object contributes one deterministic draw of its
    current state, like the reference consuming it statefully."""
    if random_state is None:
        return 0
    if isinstance(random_state, np.random.RandomState):
        return int(random_state.randint(0, 2**31 - 1))
    return int(random_state)


# driver-side sample cap for seeding (k-means++ candidate pool): at 100 TB
# the full dataset never reaches the driver — a hash-ordered sample does
_SEED_SAMPLE_CAP = 4096


def _collect_sample(df: DataFrame, cap: int, seed: int) -> list[np.ndarray]:
    """Deterministic pseudo-random sample of series values (driver-side).

    Hash-ordering with the seed mixed in gives a reproducible sample
    without a full shuffle: the limit is pushed into a TakeOrdered.
    """
    rows = (
        df.select("series_id", "values")
        .orderBy(F.xxhash64(F.lit(seed), F.col("series_id")))
        .limit(cap)
        .collect()
    )
    return [np.asarray(r["values"], dtype=np.float64) for r in rows]


def _stack_centers(centers) -> np.ndarray:
    """Pack fitted centroids into the reference's public shape
    ``(n_clusters, sz, d)`` (kmeans.py:545-551, kshape.py:80-83):
    one float64 ndarray, NaN-padded to the longest center when sizes
    differ — exactly the reference's variable-length convention, and
    the kernels' to_2d trims the padding back off on use."""
    arrs = [K.to_2d(c) for c in centers]
    sz = max(a.shape[0] for a in arrs)
    d = max(a.shape[1] for a in arrs)
    out = np.full((len(arrs), sz, d), np.nan)
    for i, a in enumerate(arrs):
        out[i, : a.shape[0], : a.shape[1]] = a
    return out


def _collect_small(df: DataFrame, n: int, seed: int) -> list[np.ndarray]:
    sample = _collect_sample(df, max(n, 512), seed)
    rs = np.random.RandomState(seed)
    idx = rs.choice(len(sample), size=min(n, len(sample)), replace=False)
    return [sample[i] for i in idx]


def _k_init(sample: list[np.ndarray], k: int, rs: np.random.RandomState,
            dist_to) -> list[np.ndarray]:
    """k-means++ seeding over a driver sample (kmeans.py:50-133).

    Mirrors the reference _k_init_metric: first center uniform, each next
    drawn proportionally to squared distance to the closest chosen center,
    with 2 + log(k) greedy local trials keeping the candidate that most
    reduces total potential.  ``dist_to(i)``: the distances of every
    sample series to ``sample[i]``, one batched call.
    """
    n = len(sample)
    n_local_trials = 2 + int(np.log(k))
    first = int(rs.randint(n))
    centers = [sample[first]]
    closest = dist_to(first) ** 2
    for _ in range(1, k):
        pot = closest.sum()
        if pot <= 0.0:  # all points coincide with a center: any pick works
            centers.append(sample[int(rs.randint(n))])
            continue
        rand_vals = rs.uniform(size=n_local_trials) * pot
        cand_ids = np.searchsorted(np.cumsum(closest), rand_vals)
        np.clip(cand_ids, None, n - 1, out=cand_ids)
        best = None
        for cid in cand_ids:
            new_closest = np.minimum(closest, dist_to(cid) ** 2)
            npot = new_closest.sum()
            if best is None or npot < best[0]:
                best = (npot, int(cid), new_closest)
        centers.append(sample[best[1]])
        closest = best[2]
    return centers


def _series(values) -> list[np.ndarray]:
    """Arrow-delivered series as the ``(sz, d)`` arrays the kernels see
    (trailing all-NaN rows trimmed, as the per-pair kernels do)."""
    return [K.to_2d(M._to_arr(v)) for v in values]


def _center_dists(centers, metric: str, params: dict):
    """Distances of series to k centers through the one pair-scoring
    dispatch (``metrics.pair_scores``), pairs ordered ``(center,
    series)``.  Returns ``dists(series, which=None)``: the ``(n, k)``
    distances of the trimmed ``series`` (``_series``) to every center in
    one call, or with ``which`` the ``(n,)`` distances of series ``i`` to
    ``centers[which[i]]``.  Centers are trimmed once, here."""
    score = M.pair_scores(metric, params)
    cs = [K.to_2d(c) for c in centers]
    k = len(cs)

    def dists(series: list, which=None) -> np.ndarray:
        if which is not None:
            return score([cs[int(j)] for j in which], series)
        pairs = score([c for _ in series for c in cs],
                      [t for t in series for _ in range(k)])
        return pairs.reshape(len(series), k)

    return dists


def _assignments(df: DataFrame, centers, metric: str,
                 params: dict) -> DataFrame:
    """Map-only assignment: per series, the nearest broadcast center and
    its distance.  ``np.argmin`` picks it: the first minimum wins, and a
    NaN distance wins."""
    dists = _center_dists(centers, metric, params)
    schema = StructType(
        [StructField("cluster", IntegerType()), StructField("dist", DoubleType())]
    )

    @F.pandas_udf(schema)
    def _udf(values: pd.Series) -> pd.DataFrame:
        D = dists(_series(values))
        j = np.argmin(D, axis=1)
        return pd.DataFrame({"cluster": j.astype(np.int32),
                             "dist": D[np.arange(len(j)), j]})

    return df.withColumn("_a", _udf("values")).select(
        "series_id", "values", F.col("_a.cluster").alias("cluster"),
        F.col("_a.dist").alias("dist"),
    )


class _LabelsCompatMixin:
    """numpy-compat ``labels_``: the engine stores training assignments
    as a lazy (series_id, cluster) DataFrame; the reference stores an
    ndarray in input-row order (kmeans.py:696).  When fit() ingested an
    array, labels_ materializes to the ndarray (array ingest assigns
    series_id 0..n-1, so series_id order IS input order); DataFrame
    pipelines keep the lazy plan.  Assignment through the setter (fit,
    or external fixed-label protocols) stores the frame verbatim."""

    @property
    def labels_(self):
        lab = getattr(self, "_labels_df", None)
        if lab is None:
            raise AttributeError(
                f"{type(self).__name__} has no attribute 'labels_' "
                "(fit the model first)")
        if getattr(self, "_fit_was_array", False) and hasattr(lab, "select"):
            if getattr(self, "_labels_np", None) is None:
                # sort driver-side: a distributed orderBy would range-
                # partition, whose sampling sketch tries to interpret the
                # assignment pandas-UDF outside an execution plan
                # (Spark INTERNAL_ERROR "Cannot evaluate expression")
                rows = sorted(lab.collect(), key=lambda r: r["series_id"])
                self._labels_np = np.array([r["cluster"] for r in rows])
            return self._labels_np
        return lab

    @labels_.setter
    def labels_(self, value):
        self._labels_df = value
        self._labels_np = None

    def _is_fitted(self) -> bool:
        # labels_ moved out of vars() into the property; without this a
        # fitted KernelKMeans (whose only substantive state IS labels_)
        # would read as unfitted to BaseModelPackage._is_fitted
        if getattr(self, "_labels_df", None) is not None:
            return True
        return super()._is_fitted()

    def _get_model_params(self) -> dict:
        """labels_ lives behind the property, so the base vars() scan
        misses it — but the reference checkpoint format persists it as a
        plain ndarray attribute (kmeans.py:696), and a round-tripped
        model must answer .labels_.  Array fits embed the materialized
        ndarray (series_id order == input order); DataFrame fits stay
        hyper-params-only per the model_io policy.  Restored models
        carry the ndarray in _labels_df directly, so a second round-trip
        re-embeds it even without _fit_was_array."""
        params = super()._get_model_params()
        lab = getattr(self, "_labels_df", None)
        if lab is not None and (getattr(self, "_fit_was_array", False)
                                or isinstance(lab, np.ndarray)):
            params["labels_"] = np.asarray(self.labels_)
        return params


class TimeSeriesKMeans(_LabelsCompatMixin, BaseModelPackage,
                       TimeSeriesBaseEstimator):
    """Lloyd's loop with metric in {euclidean, dtw, softdtw} (kmeans.py:471-859).

    Assignment is a narrow pandas-UDF map (centroids broadcast in the
    closure); centroid update uses the metric-matched barycenter.  The
    softdtw path measures inertia with soft-DTW; dtw_inertia mirrors the
    reference option.
    """

    def _more_tags(self):
        # reference kmeans.py:858-859
        return {"allow_nan": True, "allow_variable_length": True}

    def __init__(
        self,
        n_clusters: int = 3,
        max_iter: int = 50,
        tol: float = 1e-6,
        n_init: int = 1,
        metric: str = "euclidean",
        max_iter_barycenter: int = 100,
        metric_params: dict | None = None,
        n_jobs: int | None = None,
        dtw_inertia: bool = False,
        verbose: int = 0,
        random_state: int | None = None,
        init: str = "k-means++",
    ):
        # positional parameter ORDER matches the reference exactly
        # (kmeans.py:592-595), so positional construction binds the same
        self.n_clusters = n_clusters
        self.metric = metric
        self.max_iter = max_iter
        self.tol = tol
        self.n_init = n_init
        self.random_state = random_state
        self.max_iter_barycenter = max_iter_barycenter
        self.metric_params = metric_params or {}
        self.init = init  # "k-means++" (reference default) or "random"
        # accepted for reference-signature parity (kmeans.py:592-595);
        # parallelism comes from the Spark cluster, not joblib
        self.n_jobs = n_jobs
        # kmeans.py:698-704: measure inertia with DTW even when the fit
        # metric is not dtw (model-selection aid)
        self.dtw_inertia = dtw_inertia
        self.verbose = verbose
        # reference shape (n_clusters, sz, d) after fit (kmeans.py:545-551)
        self.cluster_centers_: np.ndarray | None = None
        # training assignments (kmeans.py:544,696) — a LAZY DataFrame
        # (series_id, cluster) here, never a driver materialization
        # (same convention as KernelKMeans.labels_)
        self.labels_: DataFrame | None = None
        self.inertia_: float = np.inf
        self.n_iter_: int = 0

    # -- internal ----------------------------------------------------------
    def _assignments(self, df: DataFrame, centers) -> DataFrame:
        return _assignments(df, centers, self.metric, self.metric_params)

    def _update_centroids(self, assigned: DataFrame, centers) -> list[np.ndarray]:
        """Metric-matched barycenter per cluster (kmeans.py:544-600).

        metric="euclidean": all k barycenters are ONE
        groupBy(cluster, t, dim) hash aggregate — a single map-side-
        combined Spark job per Lloyd iteration, instead of k filtered
        per-cluster jobs.

        metric in {dtw, softdtw}: each update is its own chain of Spark
        jobs over one cluster's members, so the k chains run
        CONCURRENTLY from a thread pool (small clusters would leave
        most executor slots idle if run serially).  Futures are
        drained via as_completed so the first EmptyClusterError
        cancels the not-yet-started chains instead of paying k full
        barycenter computations per empty-cluster hit; results keep
        cluster order, so fits are unchanged."""
        if self.metric == "euclidean":
            return self._update_centroids_euclidean(assigned)

        from concurrent.futures import ThreadPoolExecutor, as_completed

        def one(c: int) -> np.ndarray:
            sub = assigned.where(F.col("cluster") == c).select("series_id", "values")
            if sub.limit(1).count() == 0:
                raise EmptyClusterError()
            if self.metric == "dtw":
                return dtw_barycenter_averaging(
                    sub, init_barycenter=centers[c],
                    max_iter=self.max_iter_barycenter,
                )
            return softdtw_barycenter(
                sub, gamma=self.metric_params.get("gamma", 1.0),
                init=centers[c], max_iter=self.max_iter_barycenter,
            )

        if self.n_clusters == 1:
            return [one(0)]
        results: list[np.ndarray | None] = [None] * self.n_clusters
        with ThreadPoolExecutor(max_workers=min(self.n_clusters, 8)) as ex:
            futures = {ex.submit(one, c): c for c in range(self.n_clusters)}
            try:
                for fut in as_completed(futures):
                    results[futures[fut]] = fut.result()
            except EmptyClusterError:
                ex.shutdown(wait=False, cancel_futures=True)
                raise
        return results

    def _update_centroids_euclidean(self, assigned: DataFrame) -> list[np.ndarray]:
        """All k euclidean barycenters in one positionwise aggregate.

        Same math as euclidean_barycenter per cluster (euclidean.py:8-43):
        explode to (cluster, t, dim, value) -> one groupBy avg.  Only
        k*sz*d floats reach the driver."""
        rows = (
            assigned.select("cluster", F.posexplode("values").alias("t", "point"))
            .select("cluster", "t", F.posexplode("point").alias("dim", "value"))
            .groupBy("cluster", "t", "dim")
            .agg(F.avg("value").alias("value"))
            .collect()
        )
        present = {r["cluster"] for r in rows}
        if len(present) < self.n_clusters:
            raise EmptyClusterError()
        n_t = max(r["t"] for r in rows) + 1
        n_d = max(r["dim"] for r in rows) + 1
        out = [np.zeros((n_t, n_d)) for _ in range(self.n_clusters)]
        for r in rows:
            out[r["cluster"]][r["t"], r["dim"]] = r["value"]
        return out

    def fit(self, df: DataFrame, y=None) -> "TimeSeriesKMeans":
        from tslearn_spark.bases import as_ts_df

        raw = df
        df, self._fit_was_array = as_ts_df(df)
        # spread before caching: every iteration's assignment stage is
        # compute-bound (one kernel pair per row and centroid, of series
        # lengths the plan does not carry, so no work estimate), and AQE
        # would otherwise coalesce small inputs to one partition
        df = size_tasks(df.select("series_id", "values")).cache()
        n = df.count()
        if self.metric == "euclidean":
            # the euclidean metric is defined on equal-size series only;
            # the reference raises ValueError when the dataset (or an
            # explicit init, NaN-trimmed) breaks that — driver-side here
            # so callers see ValueError, not a wrapped worker error
            # (reference test_clustering.py:126-138)
            shape = df.select(
                F.countDistinct(F.size("values")).alias("k"),
                F.first(F.size("values")).alias("sz"),
            ).first()
            if shape["k"] != 1:
                raise ValueError(
                    "euclidean k-means requires equal-size time series")
            if hasattr(self.init, "__array__") or isinstance(
                    self.init, (list, tuple)):
                from tslearn_spark.utils import to_time_series_dataset

                # the effective init length is the PADDED one (explicit
                # inits pass _check_full_length, which resamples to it)
                if to_time_series_dataset(self.init).shape[1] != shape["sz"]:
                    raise ValueError(
                        "explicit euclidean init centroids must match "
                        "the series length")
        # reference retry semantics (kmeans.py:775-789): an init attempt
        # that hits an empty cluster is retried with a fresh seed, up to
        # max(n_init, 10) total attempts for n_init successful fits;
        # when NO attempt succeeds fit returns SILENTLY with
        # _X_fit = None (_post_fit, clustering/utils.py:209-216) — e.g.
        # n_clusters > n_series, which cannot seed non-empty clusters
        best = (np.inf, None, 0)
        successful = 0
        max_attempts = max(self.n_init, 10)
        if n >= self.n_clusters:  # else every attempt is doomed: skip
            for attempt in range(max_attempts):
                if successful >= self.n_init:
                    break
                seed = _seed_of(self.random_state) + attempt
                try:
                    centers, inertia, n_iter = self._fit_one(df, seed)
                except EmptyClusterError:
                    continue
                successful += 1
                if inertia < best[0]:
                    best = (inertia, centers, n_iter)
        if best[1] is None:
            self._X_fit = None
            return self
        self._X_fit = _x_fit_of(raw, self._fit_was_array, df)
        self.inertia_, centers, self.n_iter_ = best
        self.cluster_centers_ = _stack_centers(centers)
        # reference labels_ (kmeans.py:696): final assignments over the
        # training set — a lazy plan on the cached df, computed on use
        self.labels_ = self._assignments(df, centers).select(
            "series_id", "cluster"
        )
        self._df = df
        return self

    def _init_centers(self, df: DataFrame, seed: int) -> list[np.ndarray]:
        # explicit initial centroids (kmeans.py:625-632, checked against
        # n_clusters at kmeans.py:70/_check_initial_guess)
        if hasattr(self.init, "__array__") or isinstance(self.init, (list, tuple)):
            from tslearn_spark.utils import to_time_series_dataset

            # reference runs _check_full_length over the provided init:
            # NaN-padded centroids are linearly RESAMPLED to the padded
            # length, not trimmed — a [1,2,3,nan,nan] init becomes a
            # 5-point lerp of [1,2,3] (test_clustering.py:126-147)
            arr = _check_full_length(to_time_series_dataset(self.init))
            centers = [K.to_2d(c) for c in arr]
            # reference message (clustering/utils.py:200-204), raised as
            # AssertionError there via a bare assert
            assert len(centers) == self.n_clusters, (
                "Initial guess index array must contain "
                f"{self.n_clusters} samples, {len(centers)} given"
            )
            return centers
        if self.init == "k-means++":
            sample = _collect_sample(df, _SEED_SAMPLE_CAP, seed)
            trimmed = [K.to_2d(x) for x in sample]
            dists = _center_dists(trimmed, self.metric, self.metric_params)
            return _k_init(
                sample, self.n_clusters, np.random.RandomState(seed),
                lambda i: dists(trimmed, np.full(len(trimmed), i)),
            )
        if self.init != "random":
            # reference kmeans.py:656-658
            raise ValueError(
                "Value %r for parameter 'init' is invalid" % self.init
            )
        return _collect_small(df, self.n_clusters, seed)

    def _inertia_of(self, assigned: DataFrame, centers) -> float:
        """Mean squared assigned distance (utils.py:47-64).  With
        dtw_inertia and a non-dtw fit metric, the distance to the
        ASSIGNED center is re-measured with DTW (kmeans.py:698-704) in
        one extra map pass — labels are unchanged."""
        if self.dtw_inertia and self.metric != "dtw":
            dists = _center_dists(centers, "dtw", {})

            @F.pandas_udf(DoubleType())
            def _dtw_to_assigned(values: pd.Series, cluster: pd.Series) -> pd.Series:
                return pd.Series(dists(_series(values), cluster))

            assigned = assigned.withColumn(
                "dist", _dtw_to_assigned("values", "cluster")
            )
        row = assigned.groupBy().agg(
            F.avg(F.col("dist") * F.col("dist")).alias("i")
        ).first()
        return float(row["i"])

    def _fit_one(self, df: DataFrame, seed: int):
        import time as _time

        centers = self._init_centers(df, seed)
        prev_inertia = np.inf
        inertia = np.inf
        # diagnostic: wall seconds per Lloyd iteration (last init wins) —
        # bench.py's sf1 fits section asserts these stay flat, i.e. no
        # lineage creep across iterations (centers are driver-side numpy,
        # so each iteration's plan depth is constant by construction)
        iter_secs: list[float] = []
        for it in range(self.max_iter):
            t0 = _time.perf_counter()
            assigned = self._assignments(df, centers)
            assigned = assigned.cache()
            inertia = self._inertia_of(assigned, centers)
            if self.verbose:
                print("%.3f" % inertia, end=" --> ")
            centers = self._update_centroids(assigned, centers)
            assigned.unpersist()
            iter_secs.append(_time.perf_counter() - t0)
            self.n_iter_ = it + 1
            if abs(prev_inertia - inertia) < self.tol:
                break
            prev_inertia = inertia
        if self.verbose:
            print("")
        self._iter_seconds_ = iter_secs
        return centers, inertia, self.n_iter_

    def predict(self, df: DataFrame) -> DataFrame:
        from tslearn_spark.bases import as_ts_df, check_query_dims, collect_col

        check_query_dims(df, _centers_d(getattr(self, "cluster_centers_", None)))
        df, was_array = as_ts_df(df)
        assert self.cluster_centers_ is not None
        out = self._assignments(df, self.cluster_centers_).select(
            "series_id", "cluster", "dist"
        )
        return collect_col(out, was_array, "cluster")

    def fit_predict(self, df: DataFrame, y=None):
        """fit + training assignments — returns the fitted labels_
        directly (kmeans.py:431), no second assignment pass."""
        from tslearn_spark.bases import as_ts_df, collect_col

        df, was_array = as_ts_df(df)
        out = self.fit(df).labels_
        return collect_col(out, was_array, "cluster")

    def transform(self, df: DataFrame) -> DataFrame:
        """Distances to every centroid (kmeans.py:677-690): k columns;
        array input returns the reference's (n, k) matrix."""
        from tslearn_spark.bases import as_ts_df, check_query_dims, collect_col

        check_query_dims(df, _centers_d(getattr(self, "cluster_centers_", None)))
        df, _was_array = as_ts_df(df)
        dists = _center_dists(self.cluster_centers_, self.metric,
                              self.metric_params)

        @F.pandas_udf(ArrayType(DoubleType()))
        def _udf(values: pd.Series) -> pd.Series:
            return pd.Series(dists(_series(values)).tolist())

        out = df.withColumn("distances", _udf("values"))
        return collect_col(out, _was_array, "distances")


class KShape(_LabelsCompatMixin, BaseModelPackage, TimeSeriesBaseEstimator):
    """KShape (kshape.py:21-291): assignment by 1-NCC; centroid = dominant
    eigenvector of the aligned correlation matrix (shape extraction).

    Assignment is the same broadcast-centroid map as k-means.  Shape
    extraction has TWO distributed strategies, picked by series length:

    * sz <= sz_stats_cap (default 2048): per-(partition, cluster)
      sufficient statistics — each task reduces its rows to one
      (sz*sz + 1)-float row, the driver sums ~n_partitions * k rows and
      solves the (sz x sz) eigenproblem.  Shuffle-free w.r.t. members,
      but the statistics row itself is O(sz^2) floats (sz=2048 -> 32 MB
      per (partition, cluster) row; sz=10k would be 800 MB — infeasible).
    * sz > sz_stats_cap: per-cluster applyInPandas — one task per
      cluster holds the (n_c x sz) aligned matrix and power-iterates
      M = Q X'X Q via matvecs, never materializing the sz x sz matrix.
      Memory per task is O(n_c * sz); suited to the long-series /
      moderate-count regime where the statistics path blows up.

    Seed sensitivity (measured, bench r13 sf1 15000-series fit): at the
    reference-default ``n_init=1`` two seeds agree only to Rand ~0.57 —
    k-shape's random init is genuinely multi-modal, the same reason the
    reference exposes ``n_init`` restarts (kshape.py:61-66).  With
    ``n_init=2`` best-of-inertia, both seeds converged to the SAME
    partition (Rand 1.0, inertia 0.198385); prefer ``n_init>=2`` when
    run-to-run label stability matters.
    """

    def __init__(self, n_clusters: int = 3, max_iter: int = 100, tol: float = 1e-6,
                 n_init: int = 1, verbose: bool = False,
                 random_state: int | None = None,
                 init: str = "random", sz_stats_cap: int = 2048):
        self.n_clusters = n_clusters
        self.max_iter = max_iter
        self.tol = tol
        self.n_init = n_init
        self.verbose = verbose
        self.random_state = random_state
        self.init = init  # "random" (kshape.py:96) or a list of (sz, d) arrays
        self.sz_stats_cap = sz_stats_cap
        # reference shape (n_clusters, sz, d) after fit (kshape.py:80-83)
        self.cluster_centers_: np.ndarray | None = None
        # training assignments (kshape.py:67,155) — lazy DataFrame
        # (series_id, cluster), same convention as KernelKMeans.labels_
        self.labels_: DataFrame | None = None
        self.inertia_: float = np.inf
        self.n_iter_: int = 0

    def _assignments(self, df: DataFrame, centers) -> DataFrame:
        return _assignments(df, centers, "sbd", {})

    @staticmethod
    def _solve_mu(S: np.ndarray) -> np.ndarray:
        """Rayleigh-quotient eigenvector of the centered S = X'X
        (kshape.py:118-131), sign not yet fixed.  S is a sufficient
        statistic, so members never have to be co-located."""
        sz = S.shape[0]
        Q = np.eye(sz) - np.ones((sz, sz)) / sz
        M = Q.T @ S @ Q
        _, V = np.linalg.eigh(M)
        return V[:, -1]

    @staticmethod
    def _sign_dists(X: np.ndarray, mu: np.ndarray) -> tuple[float, float]:
        """The reference's exact sign criterion (kshape.py:132-133): sums
        of NON-squared per-member norms sum_i ||x_i -+ mu||.  Unlike the
        squared form it is not a function of (sum_x, ss), so the
        distributed path pays one extra pass over the aligned members to
        evaluate it exactly."""
        d_plus = float(np.sqrt(((X - mu) ** 2).sum(axis=1)).sum())
        d_minus = float(np.sqrt(((X + mu) ** 2).sum(axis=1)).sum())
        return d_plus, d_minus

    @staticmethod
    def _finalize_mu(mu: np.ndarray) -> np.ndarray:
        mu = (mu - mu.mean()) / (mu.std() if mu.std() > 0 else 1.0)
        return mu.reshape(-1, 1)

    @classmethod
    def _shape_extraction(cls, members: list[np.ndarray], center: np.ndarray) -> np.ndarray:
        """Single-node variant (unit tests / tiny clusters)."""
        aligned = K.y_shifted_sbd_vec(center, members)
        X = np.stack([a[:, 0] for a in aligned])
        mu = cls._solve_mu(X.T @ X)
        d_plus, d_minus = cls._sign_dists(X, mu)
        if d_minus < d_plus:
            mu = -mu
        return cls._finalize_mu(mu)

    @staticmethod
    def _shape_partials(centers: list[np.ndarray]):
        """mapInPandas generator: per input partition, per cluster, emit the
        partial sufficient statistics of the aligned-member matrix.

        Map-side combine with NO shuffle of members: each task reduces its
        own rows to a (sz*sz + 1)-float row per cluster it sees; the
        driver sums ~n_partitions * k such rows.  This replaces the old
        per-cluster driver collect (the round-1 scale ceiling).
        """

        def gen(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                for c, grp in pdf.groupby("cluster"):
                    c = int(c)
                    members = [M._to_arr(v) for v in grp["values"]]
                    aligned = K.y_shifted_sbd_vec(centers[c], members)
                    X = np.stack([a[:, 0] for a in aligned])
                    S = X.T @ X
                    yield pd.DataFrame(
                        {
                            "cluster": [c],
                            "n": [int(X.shape[0])],
                            "s_flat": [S.ravel().tolist()],
                        }
                    )

        return gen

    @staticmethod
    def _sign_partials(centers: list[np.ndarray], mus: dict[int, np.ndarray]):
        """mapInPandas generator for the exact sign pass: per partition,
        per cluster, the partial sums of the reference's non-squared sign
        criterion (kshape.py:132-133) against the broadcast candidate mu.
        Alignment is recomputed exactly as in _shape_partials, so the two
        passes see the same aligned matrix."""

        def gen(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                for c, grp in pdf.groupby("cluster"):
                    c = int(c)
                    members = [M._to_arr(v) for v in grp["values"]]
                    aligned = K.y_shifted_sbd_vec(centers[c], members)
                    X = np.stack([a[:, 0] for a in aligned])
                    d_plus, d_minus = KShape._sign_dists(X, mus[c])
                    yield pd.DataFrame(
                        {"cluster": [c], "d_plus": [d_plus], "d_minus": [d_minus]}
                    )

        return gen

    @staticmethod
    def _power_mu(X: np.ndarray, n_iter: int = 300, tol: float = 1e-12) -> np.ndarray:
        """Dominant eigenvector of M = Q X'X Q by power iteration with
        matvecs only: M v = center(X' (X center(v))) — O(n*sz) work and
        memory per step, no sz x sz matrix.  M is PSD (Gram of the
        column-centered X), so the largest eigenvalue dominates and power
        iteration converges to eigh's top eigenvector up to sign (which
        the caller's sign criterion fixes).  Deterministic seed start."""
        sz = X.shape[1]
        v = np.random.RandomState(0).randn(sz)
        v -= v.mean()
        v /= np.linalg.norm(v)
        for _ in range(n_iter):
            u = v - v.mean()
            w = X.T @ (X @ u)
            w -= w.mean()
            nrm = np.linalg.norm(w)
            if nrm == 0.0:
                break
            w /= nrm
            if min(np.linalg.norm(w - v), np.linalg.norm(w + v)) < tol:
                v = w
                break
            v = w
        return v

    def _extract_shapes_long(self, assigned: DataFrame, centers) -> list[np.ndarray]:
        """Long-series fallback (sz > sz_stats_cap): each cluster's members
        flow to ONE applyInPandas task — align, power-iterate for mu via
        matvecs (never building the sz x sz matrix), apply the exact sign
        criterion (kshape.py:132-133) locally, emit the final (sz)-vector.
        One Spark job; per-task memory O(n_c * sz)."""

        def one_cluster(key, pdf):
            c = int(key[0])
            members = [M._to_arr(v) for v in pdf["values"]]
            aligned = K.y_shifted_sbd_vec(centers[c], members)
            X = np.stack([a[:, 0] for a in aligned])
            mu = KShape._power_mu(X)
            d_plus, d_minus = KShape._sign_dists(X, mu)
            if d_minus < d_plus:
                mu = -mu
            return pd.DataFrame(
                {"cluster": [c], "mu": [KShape._finalize_mu(mu).ravel().tolist()]}
            )

        rows = (
            assigned.select("cluster", "values")
            .groupBy("cluster")
            .applyInPandas(one_cluster, "cluster int, mu array<double>")
            .collect()
        )
        got = {r["cluster"]: np.asarray(r["mu"], dtype=np.float64) for r in rows}
        out = []
        for c in range(self.n_clusters):
            if c not in got:
                raise EmptyClusterError()
            out.append(got[c].reshape(-1, 1))
        return out

    def _extract_shapes(self, assigned: DataFrame, centers) -> list[np.ndarray]:
        """Distributed shape extraction: partial stats per (partition,
        cluster), eigenproblem on the driver from k (sz x sz) sums, then
        one extra distributed pass evaluating the reference's exact
        non-squared sign criterion (kshape.py:132-133) against the
        candidate eigenvectors.  Series longer than sz_stats_cap take the
        matvec fallback (see class docstring)."""
        sz = centers[0].shape[0]
        if sz > self.sz_stats_cap:
            return self._extract_shapes_long(assigned, centers)
        src = assigned.select("cluster", "values")
        partials = src.mapInPandas(
            self._shape_partials(centers),
            "cluster int, n long, s_flat array<double>",
        ).collect()
        acc: dict[int, np.ndarray] = {}
        for r in partials:
            S = np.asarray(r["s_flat"], dtype=np.float64).reshape(sz, sz)
            acc[r["cluster"]] = acc.get(r["cluster"], np.zeros((sz, sz))) + S
        mus: dict[int, np.ndarray] = {}
        for c in range(self.n_clusters):
            if c not in acc:
                raise EmptyClusterError()
            mus[c] = self._solve_mu(acc[c])
        sign_partials = src.mapInPandas(
            self._sign_partials(centers, mus),
            "cluster int, d_plus double, d_minus double",
        ).collect()
        dsum: dict[int, list[float]] = {c: [0.0, 0.0] for c in mus}
        for r in sign_partials:
            dsum[r["cluster"]][0] += r["d_plus"]
            dsum[r["cluster"]][1] += r["d_minus"]
        new_centers = []
        for c in range(self.n_clusters):
            mu = mus[c]
            d_plus, d_minus = dsum[c]
            if d_minus < d_plus:
                mu = -mu
            new_centers.append(self._finalize_mu(mu))
        return new_centers

    def _fit_one(self, df: DataFrame, seed: int):
        if isinstance(self.init, str):
            if self.init != "random":
                raise ValueError(
                    "Value %r for parameter 'init' is invalid" % self.init
                )
            centers = _collect_small(df, self.n_clusters, seed)
        else:  # explicit initial centers (kshape.py init ndarray form)
            centers = [np.asarray(c, dtype=np.float64).reshape(-1, 1)
                       if np.asarray(c).ndim == 1 else np.asarray(c, dtype=np.float64)
                       for c in self.init]
        prev_inertia = np.inf
        n_iter = 0
        import time as _time

        iter_secs: list[float] = []  # see TimeSeriesKMeans._fit_one
        for it in range(self.max_iter):
            t0 = _time.perf_counter()
            assigned = self._assignments(df, centers).cache()
            inertia = float(
                assigned.groupBy().agg(F.avg(F.col("dist") * F.col("dist")).alias("i")).first()["i"]
            )
            if self.verbose:
                print("%.3f" % inertia, end=" --> ")
            if inertia > prev_inertia:  # rollback (kshape.py:180-184)
                assigned.unpersist()
                break
            centers = self._extract_shapes(assigned, centers)
            assigned.unpersist()
            iter_secs.append(_time.perf_counter() - t0)
            n_iter = it + 1
            if abs(prev_inertia - inertia) < self.tol:
                prev_inertia = inertia
                break
            prev_inertia = inertia
        if self.verbose:
            print("")
        self._iter_seconds_ = iter_secs
        return centers, prev_inertia, n_iter

    def fit(self, df: DataFrame, y=None) -> "KShape":
        """Best of n_init runs by inertia; an init that hits an empty
        cluster during shape extraction is retried with a fresh seed, up
        to max(n_init, 10) total attempts (kshape.py:207-243)."""
        from tslearn_spark.bases import as_ts_df, query_d
        from tslearn_spark.preprocessing import transform_mean_variance

        raw = df
        # ingest d, NOT centers d: shape extraction keeps dim 0 only
        # (reference kshape.py:123-127 — centers are (sz, 1) even for
        # multivariate input), so the predict-time dim check must
        # compare queries against what fit actually ingested
        self._d_fit = query_d(raw)
        df, self._fit_was_array = as_ts_df(df)

        df = transform_mean_variance(df.select("series_id", "values")).cache()
        best = (np.inf, None, 0)
        successful = 0
        max_attempts = max(self.n_init, 10)
        for attempt in range(max_attempts):
            if successful >= self.n_init:
                break
            if self.verbose and self.n_init > 1:
                print("Init %d" % (successful + 1))
            try:
                centers, inertia, n_iter = self._fit_one(
                    df, _seed_of(self.random_state) + attempt
                )
            except EmptyClusterError:
                if self.verbose:
                    print("Resumed because of empty cluster")
                if not isinstance(self.init, str):
                    # a fixed explicit init is deterministic: retrying it
                    # repeats the failure, so fall through to the
                    # reference's silent-failure outcome (_X_fit=None)
                    # without burning max_attempts identical fits
                    break
                continue
            successful += 1
            if inertia < best[0]:
                best = (inertia, centers, n_iter)
        if best[1] is None:
            # reference _post_fit: silent failure marker, no raise
            self._X_fit = None
            return self
        self._X_fit = _x_fit_of(raw, self._fit_was_array, df)
        self.inertia_, centers, self.n_iter_ = best
        self.cluster_centers_ = _stack_centers(centers)
        # reference labels_ (kshape.py:155): assignments of the z-normed
        # training set under the fitted shapes — lazy plan on the cached df
        self.labels_ = self._assignments(df, centers).select(
            "series_id", "cluster"
        )
        return self

    def _cross_dists(self, X) -> np.ndarray:
        """(n, k) SBD distances to the fitted centers — the reference's
        private helper (kshape.py:147-151): 1 - max normalized
        cross-correlation.  Driver-side numpy by design: the centers are
        driver state, and the reference test surface calls this on
        arrays; distributed assignment runs through predict()."""
        from tslearn_spark import kernels as K

        X = np.asarray(X, dtype=np.float64)
        if X.ndim == 2:
            X = X[:, :, None]
        C = self.cluster_centers_
        out = np.empty((X.shape[0], C.shape[0]))
        for i in range(X.shape[0]):
            for j in range(C.shape[0]):
                out[i, j] = 1.0 - K.normalized_cc_max(X[i], C[j])
        return out

    def predict(self, df: DataFrame) -> DataFrame:
        from tslearn_spark.bases import as_ts_df, check_query_dims, collect_col
        from tslearn_spark.preprocessing import transform_mean_variance

        check_query_dims(df, getattr(self, "_d_fit", None))
        df, was_array = as_ts_df(df)
        assert self.cluster_centers_ is not None
        # localCheckpoint: the z-norm is a deep higher-order-function
        # expression, and Spark's Python-UDF extraction fails to pull the
        # assignment UDF out of a projection whose argument inlines it
        # (INTERNAL_ERROR "Cannot evaluate expression" at collect) —
        # materializing the scaled input gives the UDF a plain column,
        # the same pattern the driver queries use (caught by the
        # reference test_clustering replay, r8)
        dfz = transform_mean_variance(
            df.select("series_id", "values")).localCheckpoint()
        out = self._assignments(dfz, self.cluster_centers_).select(
            "series_id", "cluster", "dist"
        )
        return collect_col(out, was_array, "cluster")

    def fit_predict(self, df: DataFrame, y=None):
        """fit + training assignments — the fitted labels_ directly
        (kshape.py:245-263), no second z-norm + assignment pass."""
        from tslearn_spark.bases import as_ts_df, collect_col

        df, was_array = as_ts_df(df)
        out = self.fit(df).labels_
        return collect_col(out, was_array, "cluster")


class KernelKMeans(_LabelsCompatMixin, BaseModelPackage, TimeSeriesBaseEstimator):
    """Kernel k-means on a cached distributed Gram (kmeans.py:136-457).

    Assignment follows the reference's exact criterion
    (kmeans.py:390-405): dist(i, C) = 2 - 2 * sum_{j in C} w_j K_ij /
    sum_{j in C} w_j — a normalized kernel is assumed (k(x,x) = 1), and
    the reference deliberately omits the within-cluster constant term,
    so we do too (round-5 fix: the textbook + within/n^2 form can flip
    assignments vs the reference).  The Gram is an edges DataFrame
    (never an n^2 driver array); each iteration is two grouped
    aggregates over the edges.  Inertia = sum of assigned distances
    (kmeans.py:407-409); convergence on |inertia delta| < tol, best of
    n_init random inits kept, empty-cluster inits retried up to
    max(n_init, 10) attempts like the reference.

    ``sigma`` merges into kernel_params for the gak kernel when absent
    (deprecated alias, kept for signature parity); ``n_jobs`` is
    accepted for parity — parallelism comes from the Spark cluster.
    """

    def _more_tags(self):
        # reference kmeans.py:456-457
        return {"allow_nan": True, "allow_variable_length": True}

    def __init__(self, n_clusters: int = 3, kernel: str = "gak", max_iter: int = 50,
                 tol: float = 1e-6, n_init: int = 1,
                 kernel_params: dict | None = None, sigma: float = 1.0,
                 n_jobs: int | None = None, verbose: int = 0,
                 random_state: int | None = None,
                 n_landmarks: int | None = None,
                 landmarks: list | None = None):
        self.n_clusters = n_clusters
        self.kernel = kernel
        self.max_iter = max_iter
        self.tol = tol
        self.n_init = n_init
        self.kernel_params = kernel_params
        self.sigma = sigma
        self.n_jobs = n_jobs
        self.verbose = verbose
        self.random_state = random_state
        # scale path (engine extension, no reference equivalent): with
        # n_landmarks = m set, the O(n^2) Gram is replaced by a Nystroem
        # approximation over m seeded landmark series — K ~= K_nm
        # K_mm^+ K_nm^T, i.e. phi_i = K_mm^{-1/2} k_i, and the
        # reference's assignment criterion 2 - 2 sum_j w_j K_ij / sum w_j
        # becomes 2 - 2 phi_i . mean_w(phi_j): ordinary weighted k-means
        # on m-dim features.  Cost per iteration is one map pass over n
        # rows + a k x m collect — linear in n, no pair join anywhere.
        self.n_landmarks = n_landmarks
        # r12: explicit landmark series_ids (overrides the seeded hash
        # sample; requires n_landmarks).  The quality contract on the
        # Nystroem path is bounded by the kernel's SPECTRUM, not the
        # landmark choice: with a near-diagonal Gram (e.g. z-normed GAK
        # at small sigma) no m << n landmark set reconstructs the
        # off-diagonal structure, so partition agreement with the exact
        # fit plateaus (measured r12 at sf1: Rand index 0.679 at EVERY
        # m in 128/256/512 hash-seeded and 0.652 max-min-diversity
        # seeded, while Gram Frobenius error falls 0.36 -> 0.26 -> 0.18
        # — the knobs move approximation quality, not agreement) — pass
        # curated landmarks when domain
        # structure beats a uniform sample, and treat n_landmarks as a
        # throughput/approximation knob, not a fidelity dial.
        self.landmarks = landmarks
        self.labels_: DataFrame | None = None
        # (series_id, weight) after fit (kmeans.py:209,363)
        self.sample_weight_: DataFrame | None = None
        self.inertia_: float = np.inf
        self.n_iter_: int = 0

    def _get_kernel_params(self) -> dict:
        """kmeans.py:262-272: sigma feeds gak unless kernel_params sets it."""
        kp = dict(self.kernel_params or {})
        if self.kernel == "gak" and "sigma" not in kp:
            kp["sigma"] = self.sigma
        return kp

    def _fit_one(self, spark: SparkSession, gram: DataFrame, labw: DataFrame,
                 id_rows: list[int], seed: int):
        """One random init -> Lloyd loop over the Gram edges.

        labw: (id2, _w) weight side of the join.  Each iteration is ONE
        shuffle-side aggregate over the edges plus a per-id argmin
        window; the empty-cluster check and the inertia read are k-row /
        1-row collects.  labels are localCheckpoint'd per iteration so
        the loop's plan does not nest.
        """
        from pyspark.sql import Window

        rs = np.random.RandomState(seed)
        labels = spark.createDataFrame(
            [(int(i), int(rs.randint(self.n_clusters))) for i in id_rows],
            "series_id long, cluster int",
        )
        prev_inertia = np.inf
        inertia = np.inf
        n_iter = 0
        w = Window.partitionBy("id1").orderBy(F.col("d2").asc(), F.col("cluster").asc())

        def _check_no_empty(lab: DataFrame) -> None:
            # reference checks both the labels _compute_dist reads
            # (kmeans.py:397-400) and each fresh argmin assignment
            # (utils.py _check_no_empty_cluster)
            n_cl = lab.select("cluster").distinct().count()
            if n_cl < self.n_clusters:
                raise EmptyClusterError(
                    "try smaller n_cluster or better kernel parameters"
                )

        _check_no_empty(labels)
        import time as _time

        iter_secs: list[float] = []  # see TimeSeriesKMeans._fit_one
        for it in range(self.max_iter):
            t0 = _time.perf_counter()
            labj = labels.select(F.col("series_id").alias("id2"), F.col("cluster"))
            scored = (
                gram.join(F.broadcast(labj.join(labw, "id2")), "id2")
                .groupBy("id1", "cluster")
                .agg(F.sum(F.col("_w") * F.col("dist")).alias("sK"),
                     F.sum("_w").alias("wC"))
                .select(
                    "id1", "cluster",
                    (F.lit(2.0) - 2.0 * F.col("sK") / F.col("wC")).alias("d2"),
                )
            )
            labels = (
                scored.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select(F.col("id1").alias("series_id"), "cluster", "d2")
            ).localCheckpoint()
            _check_no_empty(labels)
            inertia = float(labels.groupBy().agg(F.sum("d2").alias("i")).first()["i"])
            if self.verbose:
                print("%.3f" % inertia, end=" --> ")
            iter_secs.append(_time.perf_counter() - t0)
            n_iter = it + 1
            if abs(prev_inertia - inertia) < self.tol:
                break
            prev_inertia = inertia
        if self.verbose:
            print("")
        self._iter_seconds_ = iter_secs
        return labels.select("series_id", "cluster"), inertia, n_iter

    def fit(self, df: DataFrame, y=None,
            weight_col: str | None = None) -> "KernelKMeans":
        """weight_col: optional per-series sample weight (reference fit's
        sample_weight, kmeans.py:315-388)."""
        import warnings

        from tslearn_spark import metrics as M
        from tslearn_spark.bases import as_ts_df

        raw = df
        df, self._fit_was_array = as_ts_df(df)

        if self.kernel == "gak" and self.sigma != 1.0:
            warnings.warn(
                "'sigma' is deprecated; pass kernel_params={'sigma': ...} "
                "instead", DeprecationWarning, stacklevel=2,
            )
        # reference sigma_gak_ (kmeans.py:343-349): the sigma actually
        # used for gak (resolving "auto" via the bandwidth heuristic),
        # None for every other kernel
        kp = self._get_kernel_params()
        if self.kernel == "gak":
            self.sigma_gak_ = kp.get("sigma", 1.0)
            if self.sigma_gak_ == "auto":
                sample = _collect_sample(df, _SEED_SAMPLE_CAP,
                                         _seed_of(self.random_state))
                self.sigma_gak_ = float(K.sigma_gak(sample))
            kp["sigma"] = self.sigma_gak_
        else:
            self.sigma_gak_ = None
        if self.landmarks is not None and self.n_landmarks is None:
            # landmarks only make sense on the Nystroem path — silently
            # running the exact O(n^2) fit would drop the user's choice
            # AND pay the quadratic cost they opted out of
            raise ValueError(
                "landmarks= requires n_landmarks (the Nystroem scale "
                "path); without it the exact fit would ignore them")
        if self.n_landmarks is not None:
            return self._fit_nystroem(raw, df, kp, weight_col)
        # localCheckpoint, not cache(): cache keeps the full cdist plan in
        # every downstream logical plan, and the iterative loop below would
        # nest it k times over — Catalyst re-optimization grows superlinearly
        # and dominated wall clock (measured 410s -> ~10s at sf0.01).
        # Checkpointing truncates lineage to the materialized blocks.
        if self.kernel == "gak":
            gram = M.cdist(df, metric="gak", **kp).localCheckpoint()
        else:
            # ONE scan resolves both the ragged-input check and the
            # sklearn gamma default (1 / n_features); the length persists
            # (like sigma_gak_) so predict validates the query side only
            # instead of re-scanning train+query per call
            k_len, n_len = _flat_len_check(df)
            if k_len > 1:
                raise _ragged_kernel_error(self.kernel)
            self._kernel_flat_len_ = n_len
            if self.kernel in ("rbf", "sigmoid", "polynomial", "poly") \
                    and kp.get("gamma") is None:
                kp["gamma"] = 1.0 / float(n_len)
            self._kernel_gamma_ = kp.get("gamma")
            gram = _pairwise_kernel_edges(
                df, df, self.kernel, kp, flat_len=n_len).localCheckpoint()
        spark = df.sparkSession
        wcol = F.col(weight_col) if weight_col else F.lit(1.0)
        labw = df.select(F.col("series_id").alias("id2"), wcol.alias("_w")).cache()
        # sorted ids: the random init label sequence is then a pure
        # function of the seed, independent of partition collect order
        id_rows = [r["id2"] for r in labw.select("id2").orderBy("id2").collect()]
        best = (np.inf, None, 0)
        successful = 0
        max_attempts = max(self.n_init, 10)
        for attempt in range(max_attempts):
            if successful >= self.n_init:
                break
            if self.verbose and self.n_init > 1:
                print("Init %d" % (successful + 1))
            try:
                labels, inertia, n_iter = self._fit_one(
                    spark, gram, labw, id_rows, _seed_of(self.random_state) + attempt
                )
            except EmptyClusterError:
                if self.verbose:
                    print("Resumed because of empty cluster")
                continue
            successful += 1
            if inertia < best[0]:
                best = (inertia, labels, n_iter)
        if best[1] is None:
            # reference _post_fit: silent failure marker, no raise
            self._X_fit = None
            return self
        self._X_fit = _x_fit_of(raw, self._fit_was_array, df)
        self.inertia_, self.labels_, self.n_iter_ = best
        # reference sample_weight_ (kmeans.py:209,363): the weights
        # actually used — lazy (series_id, weight) DataFrame here, all
        # 1.0 when no weight_col was given
        self.sample_weight_ = labw.select(
            F.col("id2").alias("series_id"), F.col("_w").alias("weight")
        )
        self._gram = gram
        self._df = df
        self._labw = labw
        return self

    # -- Nystroem scale path (engine extension) --------------------------
    def _landmark_edges(self, d1: DataFrame, lm_df: DataFrame,
                        kp: dict) -> DataFrame:
        """(id1, id2=landmark id, dist) kernel edges — n x m, never n^2."""
        from tslearn_spark import metrics as M

        if self.kernel == "gak":
            return M.cdist(d1, lm_df, metric="gak", **kp)
        return _pairwise_kernel_edges(
            d1, lm_df, self.kernel, kp,
            flat_len=getattr(self, "_kernel_flat_len_", None))

    def _phi_features(self, d1: DataFrame, kp: dict) -> DataFrame:
        """(series_id, phi array<double>) Nystroem features: the m
        landmark-kernel values per series, ordered by landmark position,
        mapped through W = U_r s_r^{-1/2} so phi_i . phi_j ~= K_ij."""
        W = self._nystroem_W_

        edges = self._landmark_edges(d1, self._lm_df, kp)
        feats = (
            edges.join(F.broadcast(self._lm_pos_df), "id2")
            .groupBy("id1")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "dist")))
                 .alias("kv"))
            .select(F.col("id1").alias("series_id"),
                    F.expr("transform(kv, x -> x.dist)").alias("kvec"))
        )

        @F.pandas_udf("array<double>")
        def _phi(kv: pd.Series) -> pd.Series:
            Kb = np.asarray([np.asarray(v, dtype=np.float64) for v in kv])
            if Kb.size == 0:
                return pd.Series([], dtype=object)
            Phi = Kb @ W  # (batch, r)
            return pd.Series(list(Phi))

        return feats.select("series_id", _phi("kvec").alias("phi"))

    def _fit_nystroem(self, raw, df: DataFrame, kp: dict,
                      weight_col: str | None) -> "KernelKMeans":
        import pandas as _pd

        spark = df.sparkSession
        seed = _seed_of(self.random_state)
        m = int(self.n_landmarks)
        if self.kernel != "gak":
            k_len, n_len = _flat_len_check(df)
            if k_len > 1:
                raise _ragged_kernel_error(self.kernel)
            self._kernel_flat_len_ = n_len
            if self.kernel in ("rbf", "sigmoid", "polynomial", "poly") \
                    and kp.get("gamma") is None:
                kp["gamma"] = 1.0 / float(n_len)
            self._kernel_gamma_ = kp.get("gamma")
        if self.landmarks is not None:
            # explicit landmark ids (r12): curated sets override the
            # uniform sample; m follows the list
            wanted = [int(i) for i in self.landmarks]
            lm_df = (
                df.select("series_id", "values")
                .where(F.col("series_id").isin(wanted))
                .localCheckpoint()
            )
            m = lm_df.count()
            if m != len(set(wanted)):
                raise ValueError(
                    f"landmarks: {len(set(wanted))} ids passed but only "
                    f"{m} found in the input")
        else:
            # seeded landmark sample — hash order is partition-invariant,
            # so the landmark set is a pure function of (seed, ids) at
            # any scale
            lm_df = (
                df.select("series_id", "values")
                .orderBy(F.xxhash64(F.lit(seed), "series_id"), "series_id")
                .limit(m)
                .localCheckpoint()
            )
        lm_ids = sorted(
            r["series_id"] for r in lm_df.select("series_id").collect())
        pos = {int(i): p for p, i in enumerate(lm_ids)}
        self._lm_df = lm_df
        self._lm_pos_df = spark.createDataFrame(
            [(int(i), p) for i, p in pos.items()], "id2 long, pos int"
        ).localCheckpoint()
        # K_mm is m x m — driver-sized by declaration (m ~ hundreds);
        # eigh + eigenvalue clipping gives the pseudo-inverse square root
        Kmm = np.zeros((len(lm_ids), len(lm_ids)))
        for r in self._landmark_edges(lm_df, lm_df, kp).collect():
            Kmm[pos[int(r["id1"])], pos[int(r["id2"])]] = float(r["dist"])
        Kmm = 0.5 * (Kmm + Kmm.T)
        s, U = np.linalg.eigh(Kmm)
        keep = s > max(float(s.max()) * 1e-12, 1e-10)
        if not keep.any():
            raise ValueError(
                "Nystroem landmark kernel matrix is numerically zero — "
                "check kernel parameters")
        self._nystroem_W_ = U[:, keep] * (s[keep] ** -0.5)  # (m, r)

        wcol = F.col(weight_col) if weight_col else F.lit(1.0)
        wdf = df.select("series_id", wcol.cast("double").alias("_w"))
        state0 = (
            self._phi_features(df, kp)
            .join(wdf, "series_id")
            .localCheckpoint()
        )
        best = (np.inf, None, None, 0)
        successful = 0
        max_attempts = max(self.n_init, 10)
        for attempt in range(max_attempts):
            if successful >= self.n_init:
                break
            if self.verbose and self.n_init > 1:
                print("Init %d" % (successful + 1))
            try:
                labels, centers, inertia, n_iter = self._fit_one_nystroem(
                    state0, seed + attempt)
            except EmptyClusterError:
                if self.verbose:
                    print("Resumed because of empty cluster")
                continue
            successful += 1
            if inertia < best[0]:
                best = (inertia, labels, centers, n_iter)
        if best[1] is None:
            self._X_fit = None
            return self
        self._X_fit = _x_fit_of(raw, self._fit_was_array, df)
        self.inertia_, self.labels_, self._centers_phi_, self.n_iter_ = best
        self.sample_weight_ = wdf.select(
            "series_id", F.col("_w").alias("weight"))
        self._df = df
        self._labw = wdf.select(F.col("series_id").alias("id2"), "_w")
        self._kp_fit_ = dict(kp)
        return self

    def _fit_one_nystroem(self, state0: DataFrame, seed: int):
        """One seeded init -> Lloyd loop on the phi features.  Each
        iteration: ONE map pass collecting k x r weighted partial sums
        (tiny), then a map-only re-assignment against the broadcast
        centers — no shuffle grows with n, lineage truncated per
        iteration like the exact path."""
        import time as _time

        import pandas as _pd

        k = self.n_clusters

        # distributed seeded init: cluster = hash(seed, id) mod k — the
        # scale twin of the exact path's rs.randint over sorted ids (no
        # driver-side id list at 100-TB row counts)
        state = state0.withColumn(
            "cluster",
            F.pmod(F.xxhash64(F.lit(seed), F.col("series_id")),
                   F.lit(k)).cast("int"),
        ).withColumn("d2", F.lit(0.0))

        def _centers_of(st: DataFrame) -> np.ndarray:
            def _partials(batches):
                sums = None
                wsum = np.zeros(k)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    Phi = np.asarray(
                        [np.asarray(p, dtype=np.float64)
                         for p in pdf["phi"]])
                    w = pdf["_w"].to_numpy(dtype=np.float64)
                    cl = pdf["cluster"].to_numpy(dtype=np.int64)
                    if sums is None:
                        sums = np.zeros((k, Phi.shape[1]))
                    for c in np.unique(cl):
                        sel = cl == c
                        sums[c] += (Phi[sel] * w[sel, None]).sum(axis=0)
                        wsum[c] += w[sel].sum()
                if sums is not None:
                    yield _pd.DataFrame({
                        "cluster": np.arange(k, dtype=np.int32),
                        "wsum": wsum,
                        "s": list(sums),
                    })

            rows = st.select("phi", "_w", "cluster").mapInPandas(
                _partials, "cluster int, wsum double, s array<double>"
            ).collect()
            if not rows:
                raise EmptyClusterError(
                    "try smaller n_cluster or better kernel parameters")
            r_dim = len(rows[0]["s"])
            sums = np.zeros((k, r_dim))
            wsum = np.zeros(k)
            for r in rows:
                sums[r["cluster"]] += np.asarray(r["s"])
                wsum[r["cluster"]] += r["wsum"]
            if (wsum <= 0).any():
                raise EmptyClusterError(
                    "try smaller n_cluster or better kernel parameters")
            return sums / wsum[:, None]

        def _assign(st: DataFrame, C: np.ndarray) -> DataFrame:
            def gen(batches):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    Phi = np.asarray(
                        [np.asarray(p, dtype=np.float64)
                         for p in pdf["phi"]])
                    d2 = 2.0 - 2.0 * (Phi @ C.T)  # (b, k)
                    cl = np.argmin(d2, axis=1)    # first min -> lowest k
                    yield pdf.assign(
                        cluster=cl.astype(np.int32),
                        d2=d2[np.arange(len(cl)), cl],
                    )

            return st.mapInPandas(
                gen,
                "series_id long, phi array<double>, _w double, "
                "cluster int, d2 double",
            )

        prev_inertia = np.inf
        inertia = np.inf
        n_iter = 0
        iter_secs: list[float] = []
        for it in range(self.max_iter):
            t0 = _time.perf_counter()
            C = _centers_of(state)          # raises on empty cluster
            state = _assign(
                state.select("series_id", "phi", "_w", "cluster", "d2"), C
            ).localCheckpoint()
            inertia = float(
                state.agg(F.sum("d2").alias("i")).first()["i"])
            if self.verbose:
                print("%.3f" % inertia, end=" --> ")
            iter_secs.append(_time.perf_counter() - t0)
            n_iter = it + 1
            if abs(prev_inertia - inertia) < self.tol:
                break
            prev_inertia = inertia
        if self.verbose:
            print("")
        self._iter_seconds_ = iter_secs
        # final empty check mirrors the exact path's per-iteration one
        C = _centers_of(state)
        return state.select("series_id", "cluster"), C, inertia, n_iter

    # -- serialization surface (reference kmeans.py:257-260) ------------
    def _get_model_params(self) -> dict:
        # drop DataFrame-shaped state (sample_weight_) here, not just at
        # encode time: callers iterate these keys and compare values
        params = {
            k: v for k, v in super()._get_model_params().items()
            if not (type(v).__module__ or "").startswith("pyspark.sql")
        }
        if isinstance(getattr(self, "_X_fit", None), np.ndarray):
            # array-fit models embed the training data like the
            # reference; DataFrame fits stay hyper-params-only (model_io
            # training-data policy)
            params["_X_fit"] = self._X_fit
        return params

    def _post_restore(self) -> None:
        """Refit from the restored training arrays: the Gram, labels and
        weight structures are engine-side DataFrames that are never
        serialized, and the fit is deterministic for a given
        random_state, so refitting reproduces the fitted state the
        artifact recorded (inertia_/n_iter_/labels)."""
        if isinstance(getattr(self, "_X_fit", None), np.ndarray):
            self.fit(self._X_fit)

    def predict(self, df: DataFrame) -> DataFrame:
        """Assign new series to the fitted clusters via the cross-Gram.

        Reference kmeans.py:433-455: the same _compute_dist criterion,
        dist(x, C) = 2 - 2 * sum_{j in C} w_j k(x, j) / sum w_j, over
        the cross-Gram K(new, train) — an edges DataFrame, same as fit.
        """
        assert getattr(self, "_labels_df", None) is not None, \
            "fit before predict"
        from pyspark.sql import Window

        from tslearn_spark import metrics as M
        from tslearn_spark.bases import as_ts_df, check_query_dims, collect_col

        xf = getattr(self, "_X_fit", None)
        check_query_dims(df, _centers_d(xf if isinstance(xf, np.ndarray)
                                        else None))
        df, was_array = as_ts_df(df)
        kp = self._get_kernel_params()
        if getattr(self, "_centers_phi_", None) is not None:
            # Nystroem fit: map-only predict — phi features for the
            # queries (n_q x m landmark edges, never n_q x n_train),
            # scored against the k x r fitted centers
            import pandas as _pd

            C = self._centers_phi_
            kp_fit = dict(getattr(self, "_kp_fit_", kp))

            def gen(batches):
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    Phi = np.asarray(
                        [np.asarray(p, dtype=np.float64)
                         for p in pdf["phi"]])
                    d2 = 2.0 - 2.0 * (Phi @ C.T)
                    cl = np.argmin(d2, axis=1)
                    yield _pd.DataFrame({
                        "series_id": pdf["series_id"],
                        "cluster": cl.astype(np.int32),
                        "dist": d2[np.arange(len(cl)), cl],
                    })

            out = self._phi_features(df, kp_fit).mapInPandas(
                gen, "series_id long, cluster int, dist double")
            return collect_col(out, was_array, "cluster")
        if self.kernel == "gak":
            if getattr(self, "sigma_gak_", None) is not None:
                kp["sigma"] = self.sigma_gak_
            gram = M.cdist(df, self._df, metric="gak", **kp)
        else:
            if kp.get("gamma") is None and \
                    getattr(self, "_kernel_gamma_", None) is not None:
                kp["gamma"] = self._kernel_gamma_  # fit-time resolution
            gram = _pairwise_kernel_edges(
                df, self._df, self.kernel, kp,
                flat_len=getattr(self, "_kernel_flat_len_", None))
        # _labels_df, not the labels_ property: after an array fit the
        # property view is an ndarray (numpy-compat), the join needs the frame
        labj = self._labels_df.select(F.col("series_id").alias("id2"),
                                      F.col("cluster"))
        scored = (
            gram.join(F.broadcast(labj.join(self._labw, "id2")), "id2")
            .groupBy("id1", "cluster")
            .agg(F.sum(F.col("_w") * F.col("dist")).alias("sK"),
                 F.sum("_w").alias("wC"))
            .select(
                "id1", "cluster",
                (F.lit(2.0) - 2.0 * F.col("sK") / F.col("wC")).alias("d2"),
            )
        )
        w = Window.partitionBy("id1").orderBy(F.col("d2").asc(), F.col("cluster").asc())
        out = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(F.col("id1").alias("series_id"), "cluster", F.col("d2").alias("dist"))
        )
        return collect_col(out, was_array, "cluster")

    def fit_predict(self, df: DataFrame, y=None):
        """fit + training assignments — the fitted labels_ directly
        (kshape.py:245-263), no second z-norm + assignment pass."""
        from tslearn_spark.bases import as_ts_df, collect_col

        df, was_array = as_ts_df(df)
        out = self.fit(df).labels_
        return collect_col(out, was_array, "cluster")


# sample_size="auto" ceiling: silhouette is O(n^2) in the scored set;
# ~2k series keeps the edge count at ~4M scalars — the sklearn-practice
# sample size for silhouette at scale
_SILHOUETTE_AUTO_CEIL = 2000


def silhouette_score(X, labels, metric=None, sample_size=None,
                     metric_params=None, n_jobs=None, verbose=0,
                     random_state=None, **params) -> float:
    """Silhouette on the distributed cross-distance edges (clustering/utils.py:66-197).

    a(i) = mean intra-cluster dist, b(i) = min over other clusters of mean
    dist; s = (b-a)/max(a,b); fully SQL after the metric join.
    softdtw uses the normalized variant sdtw(x,y)-(sdtw(x,x)+sdtw(y,y))/2.
    Reference signature: metric=None means dtw; sample_size subsamples
    the series (seeded by random_state) before scoring; n_jobs/verbose
    accepted for parity (parallelism comes from the cluster).  Accepts
    the reference's (X array, labels array) protocol too.

    ``sample_size="auto"`` (engine extension): silhouette is O(n^2) by
    definition, so a 100-TB caller needs a scale path — "auto" caps the
    scored set at ~2000 series (sklearn-practice-sized ceiling,
    _SILHOUETTE_AUTO_CEIL) via a SEEDED partition-invariant hash-order
    sample (xxhash64(random_state, series_id) — a pure function of
    (seed, ids) at any scale, no driver-side id collect), and is a
    no-op when the input is already at or under the ceiling.
    """
    from tslearn_spark import metrics as M
    from tslearn_spark.bases import as_ts_df

    if metric is None:
        metric = "dtw"  # clustering/utils.py:172
    params = dict(metric_params or {}, **params)
    precomputed = metric == "precomputed"
    if precomputed:
        # reference protocol (clustering/utils.py:93-96): X IS the
        # (n, n) distance matrix — already driver-sized by definition
        import numpy as _np

        Xm = _np.asarray(X, dtype=_np.float64)
        if Xm.ndim != 2 or Xm.shape[0] != Xm.shape[1]:
            raise ValueError(
                "metric='precomputed' requires a square distance matrix")
        spark = SparkSession.getActiveSession()
        df = spark.range(Xm.shape[0]).withColumnRenamed("id", "series_id")
    else:
        df, _ = as_ts_df(X)
    if not isinstance(labels, DataFrame):
        # arbitrary label values (strings, floats, ...) are accepted like
        # the reference: map to dense integer codes for the groupBy key
        import numpy as _np

        _, codes = _np.unique(_np.asarray(labels), return_inverse=True)
        labels = df.sparkSession.createDataFrame(
            [(int(i), int(c)) for i, c in enumerate(codes)],
            "series_id long, cluster int",
        )
    if sample_size == "auto":
        # scale path: hash-order sample to the ceiling, no-op when the
        # input already fits (one count job; no driver-side id collect)
        # numbers.Integral: np.int64 seeds (config arrays, rng draws)
        # must seed the hash, not silently degrade to 0
        import numbers as _numbers

        seed = int(random_state) if isinstance(
            random_state, _numbers.Integral) else 0
        n_in = df.count()
        if n_in <= _SILHOUETTE_AUTO_CEIL:
            sample_size = None
        else:
            keep_df = (
                df.select("series_id")
                .orderBy(F.xxhash64(F.lit(seed), "series_id"), "series_id")
                .limit(_SILHOUETTE_AUTO_CEIL)
                .localCheckpoint()
            )
            df = df.join(F.broadcast(keep_df), "series_id")
            labels = labels.join(F.broadcast(keep_df), "series_id")
            sample_size = None
    if sample_size is not None:
        # seeded subsample of the series ids (clustering/utils.py:166-169
        # routes to sklearn's check_random_state + permutation); labels
        # follow through the join below
        import numpy as _np

        ids = [r["series_id"]
               for r in df.select("series_id").orderBy("series_id").collect()]
        from tslearn_spark.kernels import check_random_state
        rs = check_random_state(random_state)
        keep = set(rs.permutation(ids)[: int(sample_size)].tolist())
        keep_df = df.sparkSession.createDataFrame(
            [(int(i),) for i in keep], "series_id long")
        df = df.join(F.broadcast(keep_df), "series_id")
        labels = labels.join(F.broadcast(keep_df), "series_id")

    if precomputed:
        n_m = Xm.shape[0]
        edges = df.sparkSession.createDataFrame(
            [(int(i), int(j), float(Xm[i, j]))
             for i in range(n_m) for j in range(n_m) if i != j],
            "id1 long, id2 long, dist double",
        )
        # honor the sample (the keep filter already restricted df/labels)
        ids = df.select(F.col("series_id").alias("id1"))
        edges = edges.join(F.broadcast(ids), "id1").join(
            F.broadcast(ids.withColumnRenamed("id1", "id2")), "id2")
    elif metric == "softdtw":
        edges = M.cdist(df, metric="softdtw", symmetric_zero_diag=False, **params)
        selfs = edges.where(F.col("id1") == F.col("id2")).select(
            F.col("id1").alias("sid"), F.col("dist").alias("self_d")
        )
        edges = (
            edges.join(F.broadcast(selfs.withColumnRenamed("sid", "id1")
                                   .withColumnRenamed("self_d", "d1")), "id1")
            .join(F.broadcast(selfs.withColumnRenamed("sid", "id2")
                              .withColumnRenamed("self_d", "d2")), "id2")
            .select("id1", "id2",
                    (F.col("dist") - 0.5 * (F.col("d1") + F.col("d2"))).alias("dist"))
        )
    else:
        edges = M.cdist(df, metric=metric, **params)
    lab1 = labels.select(F.col("series_id").alias("id1"), F.col("cluster").alias("c1"))
    lab2 = labels.select(F.col("series_id").alias("id2"), F.col("cluster").alias("c2"))
    e = (
        edges.where(F.col("id1") != F.col("id2"))
        .join(F.broadcast(lab1), "id1")
        .join(F.broadcast(lab2), "id2")
    )
    per = e.groupBy("id1", "c1", "c2").agg(F.avg("dist").alias("mean_d"))
    intra = per.where(F.col("c1") == F.col("c2")).select("id1", F.col("mean_d").alias("a"))
    inter = (
        per.where(F.col("c1") != F.col("c2"))
        .groupBy("id1")
        .agg(F.min("mean_d").alias("b"))
    )
    s = intra.join(inter, "id1").select(
        ((F.col("b") - F.col("a")) / F.greatest("a", "b")).alias("s")
    )
    return float(s.groupBy().agg(F.avg("s").alias("m")).first()["m"])


class GlobalAlignmentKernelKMeans(KernelKMeans):
    """Deprecated alias of KernelKMeans with kernel fixed to GAK
    (reference kmeans.py:460-473): kept so reference users' imports keep
    working; warns like the original.  Like the reference class, it does
    NOT accept a ``kernel`` argument (the reference __init__ has no such
    parameter and raises TypeError); positional n_clusters is allowed."""

    def __init__(self, n_clusters: int = 3, max_iter: int = 50, tol: float = 1e-6,
                 n_init: int = 1, kernel_params: dict | None = None,
                 sigma: float = 1.0, n_jobs: int | None = None, verbose: int = 0,
                 random_state: int | None = None, **kwargs):
        import warnings

        if "kernel" in kwargs:
            raise TypeError(
                "GlobalAlignmentKernelKMeans.__init__() got an unexpected "
                "keyword argument 'kernel' (the kernel is fixed to 'gak'; "
                "use KernelKMeans(kernel=...) to choose one)"
            )
        if kwargs:
            raise TypeError(
                "GlobalAlignmentKernelKMeans.__init__() got unexpected "
                f"keyword arguments {sorted(kwargs)}"
            )
        warnings.warn(
            "`GlobalAlignmentKernelKMeans` is deprecated and will be "
            "removed; use KernelKMeans(kernel='gak') instead.",
            DeprecationWarning,
            stacklevel=2,
        )
        super().__init__(
            n_clusters=n_clusters, kernel="gak", max_iter=max_iter, tol=tol,
            n_init=n_init, kernel_params=kernel_params, sigma=sigma,
            n_jobs=n_jobs, verbose=verbose, random_state=random_state,
        )


class TimeSeriesCentroidBasedClusteringMixin:
    """Mixin for centroid-based clustering (reference
    clustering/utils.py:205-215): _post_fit publishes centroids +
    inertia when the fit converged to something finite, else marks the
    fit failed.  Engine classes manage their own fitted state, but the
    mixin is part of the public import surface reference code extends."""

    def _post_fit(self, X_fitted, centroids, inertia):
        import numpy as np

        if np.isfinite(inertia) and (centroids is not None):
            self.cluster_centers_ = centroids
            self._assign(X_fitted)
            self._X_fit = X_fitted
            self.inertia_ = inertia
        else:
            self._X_fit = None
