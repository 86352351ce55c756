"""k-means and KShape score "series vs k centers" through one dispatch
(``clustering._center_dists`` over ``metrics.pair_scores``): assignment,
``transform``, k-means++ seeding and the ``dtw_inertia`` re-measure.

The reference tier below is the per-pair loop those four sites ran
before, one ``kernel(center, series)`` call per pair, kept here verbatim
as the oracle.  Every fitted and predicted output must be bit-identical
to it, NaN equal to NaN.  A status-store test pins the Spark jobs of one
Lloyd iteration."""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, StructField,
                               StructType)

from tslearn_spark import kernels as K
from tslearn_spark import metrics as M
from tslearn_spark.clustering import (KShape, TimeSeriesKMeans, _collect_sample,
                                      _SEED_SAMPLE_CAP)
from tslearn_spark.utils import to_time_series_dataset

# the reference UDFs below call this module's helpers on the executors,
# which cannot import a test module: ship its functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


# ---------------------------------------------------------------------------
# reference tier: the per-pair loops
# ---------------------------------------------------------------------------

def _nested(v):
    return np.asarray([np.asarray(r, dtype=np.float64) for r in v])


def _ref_assign_udf(centers, metric, metric_params):
    kernel = M.METRIC_PARAMS[metric](**metric_params)
    schema = StructType(
        [StructField("cluster", IntegerType()), StructField("dist", DoubleType())]
    )

    @F.pandas_udf(schema)
    def _udf(values: pd.Series) -> pd.DataFrame:
        cl, ds = [], []
        for v in values:
            ts = _nested(v)
            dists = [kernel(c, ts) for c in centers]
            j = int(np.argmin(dists))
            cl.append(j)
            ds.append(float(dists[j]))
        return pd.DataFrame({"cluster": cl, "dist": ds})

    return _udf


def _ref_assignments(df, centers, metric, params):
    udf = _ref_assign_udf(centers, metric, params)
    return df.withColumn("_a", udf("values")).select(
        "series_id", "values", F.col("_a.cluster").alias("cluster"),
        F.col("_a.dist").alias("dist"),
    )


def _ref_k_init(sample, k, rs, dist_fn):
    n = len(sample)
    n_local_trials = 2 + int(np.log(k))
    centers = [sample[int(rs.randint(n))]]
    closest = np.array([float(dist_fn(centers[0], x)) ** 2 for x in sample])
    for _ in range(1, k):
        pot = closest.sum()
        if pot <= 0.0:
            centers.append(sample[int(rs.randint(n))])
            continue
        rand_vals = rs.uniform(size=n_local_trials) * pot
        cand_ids = np.searchsorted(np.cumsum(closest), rand_vals)
        np.clip(cand_ids, None, n - 1, out=cand_ids)
        best = None
        for cid in cand_ids:
            d = np.array([float(dist_fn(sample[cid], x)) ** 2 for x in sample])
            new_closest = np.minimum(closest, d)
            npot = new_closest.sum()
            if best is None or npot < best[0]:
                best = (npot, int(cid), new_closest)
        centers.append(sample[best[1]])
        closest = best[2]
    return centers


class _RefKMeans(TimeSeriesKMeans):
    def _assignments(self, df, centers):
        return _ref_assignments(df, centers, self.metric, self.metric_params)

    def _init_centers(self, df, seed):
        if self.init != "k-means++":
            return super()._init_centers(df, seed)
        sample = _collect_sample(df, _SEED_SAMPLE_CAP, seed)
        dist_fn = M.METRIC_PARAMS[self.metric](**self.metric_params)
        return _ref_k_init(sample, self.n_clusters,
                           np.random.RandomState(seed), dist_fn)

    def _inertia_of(self, assigned, centers):
        if self.dtw_inertia and self.metric != "dtw":
            @F.pandas_udf(DoubleType())
            def _dtw_to_assigned(values: pd.Series, cluster: pd.Series) -> pd.Series:
                out = []
                for v, c in zip(values, cluster):
                    out.append(float(K.dtw(centers[int(c)], _nested(v))))
                return pd.Series(out)

            assigned = assigned.withColumn(
                "dist", _dtw_to_assigned("values", "cluster"))
        row = assigned.groupBy().agg(
            F.avg(F.col("dist") * F.col("dist")).alias("i")).first()
        return float(row["i"])

    def transform(self, df):
        from tslearn_spark.bases import as_ts_df, collect_col

        df, was_array = as_ts_df(df)
        kernel = M.METRIC_PARAMS[self.metric](**self.metric_params)
        centers = self.cluster_centers_

        @F.pandas_udf(ArrayType(DoubleType()))
        def _udf(values: pd.Series) -> pd.Series:
            return pd.Series([[float(kernel(c, _nested(v))) for c in centers]
                              for v in values])

        return collect_col(df.withColumn("distances", _udf("values")),
                           was_array, "distances")


class _RefKShape(KShape):
    def _assignments(self, df, centers):
        return _ref_assignments(df, centers, "sbd", {})


# ---------------------------------------------------------------------------
# data and comparison
# ---------------------------------------------------------------------------

def _same(a, b):
    """Bit-identical arrays, any NaN equal to any NaN."""
    a, b = np.asarray(a), np.asarray(b)
    assert a.shape == b.shape and a.dtype == b.dtype
    if a.dtype.kind != "f":
        np.testing.assert_array_equal(a, b)
        return
    nan = np.isnan(a)
    np.testing.assert_array_equal(nan, np.isnan(b))
    assert np.array_equal(a[~nan].view(np.int64), b[~nan].view(np.int64))


def _dataset(seed, n, d, lo, hi):
    """Three shifted families of random walks, lengths lo..hi."""
    rs = np.random.RandomState(seed)
    out = []
    for i in range(n):
        sz = rs.randint(lo, hi + 1)
        walk = np.cumsum(rs.randn(sz, d), axis=0) * 0.3
        out.append(walk + 3.0 * (i % 3))
    return out


def _with_nan(series):
    """The same series, one of them holding a NaN inside."""
    out = [s.copy() for s in series]
    out[1][len(out[1]) // 2, 0] = np.nan
    return out


def _check_fit(ref, new, X, Q):
    ref.fit(X)
    new.fit(X)
    assert ref.n_iter_ == new.n_iter_
    _same(np.float64(ref.inertia_), np.float64(new.inertia_))
    _same(ref.cluster_centers_, new.cluster_centers_)
    _same(ref.labels_, new.labels_)
    _same(ref.predict(Q), new.predict(Q))
    if hasattr(new, "transform"):
        _same(ref.transform(Q), new.transform(Q))


KMEANS_CASES = [
    # (metric, metric_params, dtw_inertia, d, lengths)
    ("dtw", {}, False, 1, (8, 16)),
    ("dtw", {"sakoe_chiba_radius": 2}, False, 2, (8, 16)),
    ("dtw", {"global_constraint": "sakoe_chiba"}, False, 1, (10, 14)),
    ("softdtw", {"gamma": 0.5}, False, 1, (8, 14)),
    ("softdtw", {"gamma": 1.0}, True, 2, (8, 14)),
    ("euclidean", {}, False, 2, (12, 12)),
    ("euclidean", {}, True, 1, (12, 12)),
]


@pytest.mark.parametrize("metric,params,dtw_inertia,d,lengths", KMEANS_CASES)
def test_kmeans_dispatch_matches_per_pair(spark, metric, params, dtw_inertia,
                                          d, lengths):
    series = _dataset(7 + d, 18, d, *lengths)
    X = to_time_series_dataset(series)
    # the queries add a NaN-holding series: its NaN distances reach the
    # argmin (a NaN wins) and transform
    Q = to_time_series_dataset(_with_nan(series[:9]))
    kw = dict(n_clusters=3, metric=metric, metric_params=params,
              dtw_inertia=dtw_inertia, max_iter=3, max_iter_barycenter=3,
              random_state=3)
    _check_fit(_RefKMeans(**kw), TimeSeriesKMeans(**kw), X, Q)


def test_kmeans_nan_series_in_fit_matches_per_pair(spark):
    """A NaN-holding series in the training set: its NaN distances reach
    the seeding and the argmin, DBA carries the NaN into a center, and
    Arrow hands every NaN distance to Spark as null, so the inertia
    average of the first iteration is null and the fit raises.  Both
    tiers must end the same way."""
    X = to_time_series_dataset(_with_nan(_dataset(5, 15, 1, 8, 14)))
    kw = dict(n_clusters=2, metric="dtw", max_iter=2, max_iter_barycenter=2,
              random_state=1)
    outcomes = []
    for est in (_RefKMeans(**kw), TimeSeriesKMeans(**kw)):
        with pytest.raises(TypeError) as err:
            est.fit(X)
        outcomes.append(str(err.value))
    assert outcomes[0] == outcomes[1]


@pytest.mark.parametrize("d", [1, 2])
def test_kshape_dispatch_matches_per_pair(spark, d):
    series = _dataset(11 + d, 15, d, 16, 16)
    X = to_time_series_dataset(series)
    Q = to_time_series_dataset(_with_nan(series[:8]))
    kw = dict(n_clusters=3, max_iter=3, random_state=0)
    _check_fit(_RefKShape(**kw), KShape(**kw), X, Q)


def test_k_init_one_call_per_candidate():
    """Driver-side k-means++: the batched seeding picks the per-pair
    loop's centers, scoring the whole sample in one call per candidate
    (the first center included)."""
    from tslearn_spark.clustering import _center_dists, _k_init

    sample = [np.asarray(s) for s in _dataset(2, 40, 2, 6, 20)]
    trimmed = [K.to_2d(x) for x in sample]
    for metric, params in [("dtw", {}), ("dtw", {"sakoe_chiba_radius": 1}),
                           ("softdtw", {"gamma": 0.1}), ("sbd", {})]:
        dists = _center_dists(trimmed, metric, params)
        calls = []

        def dist_to(i):
            calls.append(i)
            return dists(trimmed, np.full(len(trimmed), i))

        got = _k_init(sample, 4, np.random.RandomState(9), dist_to)
        want = _ref_k_init(sample, 4, np.random.RandomState(9),
                           M.METRIC_PARAMS[metric](**params))
        assert [id(c) for c in got] == [id(c) for c in want]
        assert len(calls) == 1 + 3 * (2 + int(np.log(4)))


# ---------------------------------------------------------------------------
# jobs per Lloyd iteration (status store)
# ---------------------------------------------------------------------------

def _last_job_id(sc) -> int:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _jobs_of_fit(spark, est, df) -> int:
    """Spark jobs a fit submits, from the status store's job ids (the
    DTW centroid updates run in threads of their own, which a job group
    set here would not reach)."""
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    before = _last_job_id(sc)
    est.fit(df)
    return _last_job_id(sc) - before


@pytest.mark.parametrize("metric,per_iter", [("euclidean", 5), ("dtw", 24)])
def test_jobs_per_lloyd_iteration_do_not_grow(spark, metric, per_iter):
    """Each extra Lloyd iteration adds the same, pinned number of Spark
    jobs: the batched assignment and inertia add none, and nothing
    accumulates across iterations.  (dtw: 3 clusters, each DBA update
    of max_iter_barycenter=1.)"""
    from tslearn_spark import dataset as DS

    series = _dataset(4, 18, 1, 12, 12)
    df = DS.dataset_to_df(spark, [s.ravel().tolist() for s in series]).cache()
    df.count()
    jobs = []
    for it in (1, 2, 3):
        est = TimeSeriesKMeans(n_clusters=3, metric=metric, max_iter=it,
                               tol=-1.0, max_iter_barycenter=1,
                               random_state=0)
        jobs.append(_jobs_of_fit(spark, est, df))
        assert est.n_iter_ == it
    assert jobs[2] - jobs[1] == jobs[1] - jobs[0] == per_iter, jobs
