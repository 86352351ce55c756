"""Distributed metric layer: cdist joins, LB pruning, kNN, barycenters,
clustering, silhouette (FIXTURES.md §2.1/2.6/2.7/2.8)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tslearn_spark import dataset as DS
from tslearn_spark import metrics as M
from tslearn_spark import kernels as K

QUARTET = [[1.0, 2.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0], [2.0, 3.0, 4.0, 5.0]]


def edge_map(df):
    return {(r["id1"], r["id2"]): r["dist"] for r in df.collect()}


class TestCdist:
    def test_self_symmetric(self, spark):
        df = DS.dataset_to_df(spark, QUARTET[:2])
        e = edge_map(M.cdist(df, metric="dtw"))
        assert e[(0, 1)] == pytest.approx(1.0)
        assert e[(1, 0)] == pytest.approx(1.0)
        assert e[(0, 0)] == 0.0 and e[(1, 1)] == 0.0
        assert len(e) == 4

    def test_cross_golden(self, spark):
        # cdist_dtw(.., [[1,2,3],[2,3,4,5]]) = [[0,2.449],[1,1.414]]
        d1 = DS.dataset_to_df(spark, QUARTET[:2])
        d2 = DS.dataset_to_df(spark, [QUARTET[2], QUARTET[3]])
        e = edge_map(M.cdist(d1, d2, metric="dtw"))
        assert e[(0, 0)] == pytest.approx(0.0)
        assert e[(0, 1)] == pytest.approx(2.44948974)
        assert e[(1, 0)] == pytest.approx(1.0)
        assert e[(1, 1)] == pytest.approx(1.41421356)

    def test_softdtw_diag_not_zero(self, spark):
        df = DS.dataset_to_df(spark, QUARTET[:2])
        e = edge_map(M.cdist(df, metric="softdtw", gamma=1.0))
        # diagonal = sdtw(x,x), generally < 0 for gamma=1
        assert e[(0, 0)] == pytest.approx(K.soft_dtw(QUARTET[0], QUARTET[0], 1.0))

    def test_gak_diag_one(self, spark):
        df = DS.dataset_to_df(spark, QUARTET[:2])
        e = edge_map(M.cdist(df, metric="gak", sigma=2.0))
        assert e[(0, 0)] == pytest.approx(1.0)
        assert e[(0, 1)] == pytest.approx(K.gak(QUARTET[0], QUARTET[1], 2.0))

    def test_lcss_diag_one(self, spark):
        # LCSS is a similarity: self-score is 1 (lcss.py), like gak/ncc
        df = DS.dataset_to_df(spark, QUARTET[:2])
        e = edge_map(M.cdist(df, metric="lcss", eps=1.0))
        assert e[(0, 0)] == pytest.approx(1.0)
        assert e[(1, 1)] == pytest.approx(1.0)

    def test_lb_pruned_join(self, spark):
        rs = np.random.RandomState(0)
        data = [rs.randn(20) for _ in range(8)]
        q = DS.dataset_to_df(spark, data[:4])
        c = DS.dataset_to_df(spark, data[4:])
        full = M.cdist_with_lb_pruning(q, c, radius=2, threshold=np.inf)
        rows = full.collect()
        assert len(rows) == 16
        for r in rows:
            assert r["_lb"] <= r["dist"] + 1e-9

    def test_dtw_path_udf(self, spark):
        df = DS.dataset_to_df(spark, [QUARTET[2]])
        d2 = DS.dataset_to_df(spark, [QUARTET[0]])
        pairs = M.cross_pairs(df, d2)
        out = pairs.select(M.dtw_path_udf()("values1", "values2").alias("r")).first()["r"]
        assert out["dist"] == pytest.approx(0.0)
        assert [(p["i"], p["j"]) for p in out["path"]] == [(0, 0), (1, 1), (1, 2), (2, 3)]


class TestEnvelopeSQL:
    def test_matches_numpy(self, spark):
        ts = [1.0, 2.0, 3.0, 2.0, 1.0]
        df = DS.dataset_to_df(spark, [ts])
        lo_np, up_np = K.lb_envelope(ts, radius=1)
        lo, up = M.envelope_cols("values", radius=1)
        row = df.select(lo.alias("lo"), up.alias("up")).first()
        np.testing.assert_allclose(row["lo"], lo_np.ravel())
        np.testing.assert_allclose(row["up"], up_np.ravel())

    def test_lb_keogh_sql_golden(self, spark):
        df = DS.dataset_to_df(spark, [[1.0, 2.0, 3.0, 2.0, 1.0]])
        qdf = DS.dataset_to_df(spark, [[0.0, 0.0, 0.0, 0.0, 0.0]])
        lo, up = M.envelope_cols("values", radius=1)
        cand = df.select(lo.alias("lo"), up.alias("up"))
        q = qdf.select(F.col("values").alias("qv")).crossJoin(cand)
        d = q.select(M.lb_keogh_col("qv", "lo", "up").alias("lb")).first()["lb"]
        assert d == pytest.approx(2.8284271247461903)

    def test_lb_keogh_env_fixed_n_bit_identical(self, spark):
        """r14: the fixed_n unrolled codegen branch of lb_keogh_env_col
        must be BIT-identical to the interpreted fold on exact-size rows,
        and rows whose size differs from fixed_n must fall back to the
        fold (not silently take the unroll on padded/truncated input)."""
        import numpy as np

        rs = np.random.RandomState(7)
        exact = [rs.randn(16).tolist() for _ in range(6)]   # size == fixed_n
        short = [rs.randn(9).tolist() for _ in range(2)]    # fallback rows
        df = DS.dataset_to_df(spark, exact + short)
        lo, up = M.envelope_cols("values", radius=2)
        cand = df.select(
            F.col("series_id").alias("id2"), lo.alias("lo"), up.alias("up")
        ).select("id2", M.envelope_struct_col("lo", "up").alias("env"))
        q = df.select(F.col("series_id").alias("id1"), F.col("values").alias("qv"))
        pairs = q.join(cand, F.col("id1") != F.col("id2"))
        # only compare same-length pairs: fold's zip_with on unequal
        # lengths pads with nulls, which is out of contract either way
        pairs = pairs.where(F.size("qv") == F.size("env"))
        got = pairs.select(
            "id1", "id2",
            M.lb_keogh_env_col("qv", "env").alias("fold"),
            M.lb_keogh_env_col("qv", "env", fixed_n=16).alias("unrolled"),
        ).collect()
        assert len(got) == 6 * 5 + 2 * 1  # 16-len pairs + 9-len pairs
        for r in got:
            # exact equality, not approx: the unroll must preserve the
            # fold's left-association bit for bit
            assert r["fold"] == r["unrolled"], (r["id1"], r["id2"])

    def test_lb_keogh_env_fixed_n_nan_edge_pinned(self, spark):
        """Pin the documented NaN divergence of the fixed_n unroll
        (r14 verdict item: the size guard checks length, not
        NaN-freeness).  The engine's data contract is NaN-free series
        (NaN padding is trimmed at ingest), so NaN inputs are out of
        contract — but the two branches behave DIFFERENTLY there and a
        future ingest change must not flip results silently:

        * q in [l, u] with a NaN envelope bound: the CASE fold yields a
          0.0 contribution (both comparisons against NaN are false under
          Spark's NaN-is-greatest ordering), while the branch-free
          ``greatest(q-u, l-q, 0)`` propagates NaN;
        * a NaN query value poisons BOTH branches to NaN identically.

        If this test ever fails, either Spark's NaN comparison semantics
        changed or someone altered a branch — re-verify the ingest
        NaN-trim before trusting fixed_n on that data."""
        nan = float("nan")
        # 4-element rows: q2 sits inside [l2, u2] except env u2 is NaN
        rows = [(
            [[0.0], [1.0], [2.0], [3.0]],          # qv (nested univariate)
            [{"l": -1.0, "u": 1.0}, {"l": 0.0, "u": 2.0},
             {"l": 1.0, "u": nan}, {"l": 2.0, "u": 4.0}],
        )]
        schema = ("qv array<array<double>>, "
                  "env array<struct<l: double, u: double>>")
        df = spark.createDataFrame(rows, schema)
        got = df.select(
            M.lb_keogh_env_col("qv", "env").alias("fold"),
            M.lb_keogh_env_col("qv", "env", fixed_n=4).alias("unrolled"),
        ).first()
        # fold: every exceedance is 0 (NaN comparisons false) -> sqrt(0)
        assert got["fold"] == 0.0
        # unroll: greatest(q-NaN, ...) = NaN propagates to the sum
        assert math.isnan(got["unrolled"])
        # NaN in the QUERY poisons both branches identically
        rows_q = [(
            [[0.0], [nan], [2.0], [3.0]],
            [{"l": -1.0, "u": 1.0}, {"l": 0.0, "u": 2.0},
             {"l": 1.0, "u": 3.0}, {"l": 2.0, "u": 4.0}],
        )]
        got_q = spark.createDataFrame(rows_q, schema).select(
            M.lb_keogh_env_col("qv", "env").alias("fold"),
            M.lb_keogh_env_col("qv", "env", fixed_n=4).alias("unrolled"),
        ).first()
        assert math.isnan(got_q["fold"]) and math.isnan(got_q["unrolled"])


class TestKNN:
    def test_variablelength_golden(self, spark):
        # tests/test_variablelength.py:14-34: 1-NN dtw predicts y exactly
        from tslearn_spark.neighbors import knn_classify

        X = [[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0], [9.0, 8.0, 7.0, 6.0, 5.0, 2.0],
             [8.0, 7.0, 6.0, 5.0, 3.0]]
        y = ["0", "0", "1", "1"]
        df = DS.dataset_to_df(spark, X, labels=y)
        pred = knn_classify(df, df, k=1, metric="dtw")
        # self-included 1-NN: each point is its own neighbor -> exact labels
        got = {r["series_id"]: r["prediction"] for r in pred.collect()}
        assert got == {0: "0", 1: "0", 2: "1", 3: "1"}

    def test_loo_prediction(self, spark):
        from tslearn_spark.neighbors import kneighbors

        X = [[1.0, 2.0, 3.0], [1.1, 2.1, 3.1], [9.0, 9.0, 9.0], [9.1, 9.2, 9.0]]
        df = DS.dataset_to_df(spark, X)
        nn = kneighbors(df, df, k=1, metric="dtw", drop_self=True)
        got = {r["id1"]: r["id2"] for r in nn.collect()}
        assert got == {0: 1, 1: 0, 2: 3, 3: 2}

    def test_euclidean_duplicates_exact_zero_and_id_ties(self, spark):
        """r13 (caught by the sf1 board's copied series): the euclidean
        BLAS fast path must report EXACTLY 0.0 for duplicate neighbors
        — the dot-product identity alone reads ~4e-6 via catastrophic
        cancellation — and break the resulting ties by smallest id."""
        from tslearn_spark.neighbors import kneighbors

        base = [3.7, 120.4, 55.2, 9.9, 240.1, 71.3, 8.8, 163.0]
        # ids 0, 5, 9 are bitwise-identical copies; 2 is a near-copy
        X = {0: base, 5: list(base), 9: list(base),
             2: [x + 1e-4 for x in base],
             3: [x + 50.0 for x in base]}
        df = DS.dataset_to_df(spark, [X[i] for i in sorted(X)])
        remap = dict(enumerate(sorted(X)))  # df ids are 0..4
        nn = kneighbors(df, df, k=2, metric="euclidean", drop_self=True)
        rows = {(remap[r["id1"]], r["rank"]): (remap[r["id2"]], r["dist"])
                for r in nn.collect()}
        # duplicates: exact 0.0, ties resolved by ascending id
        assert rows[(0, 1)] == (5, 0.0)
        assert rows[(0, 2)] == (9, 0.0)
        assert rows[(5, 1)] == (0, 0.0)
        assert rows[(9, 1)] == (0, 0.0)
        assert rows[(9, 2)] == (5, 0.0)
        # the near-copy is NOT zero and ranks after exact copies
        nid, nd = rows[(2, 1)]
        assert nid == 0 and 0 < nd < 1e-3

    def test_sax_metric_matches_mindist(self, spark):
        # kNN sax distances must equal the piecewise MINDIST expression
        # (tslearn/neighbors/neighbors.py:459-500 pre-transforms with SAX
        # and ranks by MINDIST)
        from tslearn_spark.neighbors import kneighbors
        from tslearn_spark.piecewise import SAX

        rs = np.random.RandomState(11)
        X = [rs.randn(16).tolist() for _ in range(6)]
        df = DS.dataset_to_df(spark, X)
        nn = kneighbors(df, df, k=5, metric="sax", drop_self=True,
                        n_segments=4, alphabet_size_avg=4)
        got = {(r["id1"], r["id2"]): r["dist"] for r in nn.collect()}
        sax = SAX(n_segments=4, alphabet_size_avg=4).fit(df)
        t = sax.transform(df).select("series_id", "sax")
        a = t.select(F.col("series_id").alias("id1"), F.col("sax").alias("sax1"))
        b = t.select(F.col("series_id").alias("id2"), F.col("sax").alias("sax2"))
        ref = (
            a.join(b, F.col("id1") != F.col("id2"))
            .withColumn("dist", sax.distance_col("sax1", "sax2", 16))
            .collect()
        )
        want = {(r["id1"], r["id2"]): r["dist"] for r in ref}
        assert got  # 6 queries x 5 neighbors
        for key, d in got.items():
            assert d == pytest.approx(want[key], abs=1e-12)

    def test_sax_knn_prefers_identical_series(self, spark):
        from tslearn_spark.neighbors import knn_classify

        # +-5 so symbols differ by >1 (adjacent symbols contribute 0 to
        # MINDIST and would make the two groups tie at distance 0)
        X = [[-5.0, -5, -5, -5, 5, 5, 5, 5], [-5.1, -5, -5, -5, 5, 5, 5, 5.1],
             [5.0, 5, 5, 5, -5, -5, -5, -5], [5.1, 5, 5, 5, -5, -5, -5, -5.1]]
        y = ["a", "a", "b", "b"]
        df = DS.dataset_to_df(spark, X, labels=y)
        pred = knn_classify(df, df, k=1, metric="sax",
                            n_segments=4, alphabet_size_avg=4)
        got = {r["series_id"]: r["prediction"] for r in pred.collect()}
        assert got == {0: "a", 1: "a", 2: "b", 3: "b"}

    def test_dtw_broadcast_topk_matches_cdist(self, spark):
        # broadcast-train fast path must reproduce the full cdist ranking
        # at k>1 with drop_self and variable lengths
        from tslearn_spark.neighbors import kneighbors

        rs = np.random.RandomState(13)
        X = [rs.randn(rs.randint(6, 14)).tolist() for _ in range(10)]
        df = DS.dataset_to_df(spark, X)
        nn = kneighbors(df, df, k=3, metric="dtw", drop_self=True,
                        sakoe_chiba_radius=2)
        got = {(r["id1"], r["rank"]): (r["id2"], round(r["dist"], 9))
               for r in nn.collect()}
        edges = M.cdist(df, metric="dtw", sakoe_chiba_radius=2)
        pdf = edges.where(F.col("id1") != F.col("id2")).toPandas()
        for qid, grp in pdf.groupby("id1"):
            grp = grp.sort_values(["dist", "id2"]).reset_index(drop=True)
            for rank in range(1, 4):
                want = (grp.loc[rank - 1, "id2"], round(grp.loc[rank - 1, "dist"], 9))
                assert got[(qid, rank)] == want

    def test_class_api(self, spark):
        # reference parity: KNeighborsTimeSeries* classes (neighbors.py:172-717)
        from tslearn_spark import (
            KNeighborsTimeSeries,
            KNeighborsTimeSeriesClassifier,
            KNeighborsTimeSeriesRegressor,
        )

        X = [[1.0, 2.0, 3.0], [1.1, 2.1, 3.1], [9.0, 9.0, 9.0], [9.1, 9.2, 9.0]]
        df = DS.dataset_to_df(spark, X, labels=["a", "a", "b", "b"])
        nn = KNeighborsTimeSeries(n_neighbors=1, metric="dtw").fit(df)
        got = {r["id1"]: r["id2"] for r in nn.kneighbors().collect()}
        assert got == {0: 1, 1: 0, 2: 3, 3: 2}
        clf = KNeighborsTimeSeriesClassifier(n_neighbors=1, metric="dtw").fit(df)
        pred = {r["series_id"]: r["prediction"] for r in clf.predict(df).collect()}
        assert pred == {0: "a", 1: "a", 2: "b", 3: "b"}
        reg = KNeighborsTimeSeriesRegressor(n_neighbors=2, metric="euclidean").fit(
            df.withColumn("y", F.col("series_id").cast("double")), target_col="y"
        )
        got_r = {r["series_id"]: r["prediction"] for r in reg.predict(df).collect()}
        assert got_r[0] == pytest.approx(0.5)

    def test_classifier_predict_proba(self, spark):
        """Reference neighbors.py:532-559 (sklearn vote semantics):
        per-class share of the neighbor weight mass, ordered by
        classes_; uniform weights -> vote counts / k, distance weights
        -> 1/dist mass.  Exact values pinned on a 3-NN fixture."""
        from tslearn_spark.neighbors import KNeighborsTimeSeriesClassifier

        X = [[0.0, 0.0], [0.1, 0.1], [0.2, 0.2], [9.0, 9.0]]
        df = DS.dataset_to_df(spark, X, labels=["a", "a", "b", "b"])
        clf = KNeighborsTimeSeriesClassifier(
            n_neighbors=3, metric="euclidean").fit(df)
        assert list(clf.classes_) == ["a", "b"]
        q = DS.dataset_to_df(spark, [[0.05, 0.05]])
        probs = clf.predict_proba(q).collect()[0]["probabilities"]
        # 3 nearest of the query: ids 0,1 (a) and 2 (b) -> [2/3, 1/3]
        assert probs[0] == pytest.approx(2 / 3)
        assert probs[1] == pytest.approx(1 / 3)
        # distance weights: mass proportional to 1/dist
        clfd = KNeighborsTimeSeriesClassifier(
            n_neighbors=3, metric="euclidean", weights="distance").fit(df)
        probs = clfd.predict_proba(q).collect()[0]["probabilities"]
        import numpy as _np

        d = [_np.sqrt(2) * abs(0.05 - v) for v in (0.0, 0.1, 0.2)]
        w = [1 / x for x in d]
        assert probs[0] == pytest.approx((w[0] + w[1]) / sum(w))
        assert probs[1] == pytest.approx(w[2] / sum(w))
        # numpy-in -> (n, n_classes) matrix out
        mat = clf.predict_proba(_np.array([[[0.05], [0.05]]]))
        assert mat.shape == (1, 2) and mat[0][0] == pytest.approx(2 / 3)

    def test_regression(self, spark):
        from tslearn_spark.neighbors import knn_regress

        X = [[1.0, 2.0], [1.2, 2.2], [5.0, 6.0], [5.1, 6.1]]
        df = DS.dataset_to_df(spark, X)
        train = df.withColumn("y", F.col("series_id").cast("double"))
        out = knn_regress(df, train, k=2, metric="euclidean")
        got = {r["series_id"]: r["prediction"] for r in out.collect()}
        assert got[0] == pytest.approx(0.5)
        assert got[2] == pytest.approx(2.5)


class TestBarycenters:
    def test_euclidean_golden(self, spark):
        # euclidean.py:30-39
        from tslearn_spark.barycenters import euclidean_barycenter

        df = DS.dataset_to_df(spark, [[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 4.0, 5.0]])
        out = euclidean_barycenter(df)
        np.testing.assert_allclose(out.ravel(), [1, 2, 3.5, 4.5])

    def test_euclidean_weights_array(self, spark):
        # reference weights protocol (euclidean.py:8-43): array aligned
        # with the series -> weighted positionwise mean
        from tslearn_spark.barycenters import euclidean_barycenter

        df = DS.dataset_to_df(spark, [[0.0, 0.0], [4.0, 8.0]])
        out = euclidean_barycenter(df, weights=np.array([3.0, 1.0]))
        np.testing.assert_allclose(out.ravel(), [1.0, 2.0])

    def test_dba_weights_and_n_init(self, spark):
        # weights array: the heavier series dominates the barycenter;
        # n_init>1 returns the best-cost run (deterministic init ->
        # identical runs, like the reference without random init)
        from tslearn_spark.barycenters import (
            dtw_barycenter_averaging, dtw_barycenter_averaging_one_init,
        )

        df = DS.dataset_to_df(spark, [[0.0, 0.0, 0.0], [6.0, 6.0, 6.0]])
        out = dtw_barycenter_averaging(df, max_iter=5,
                                       weights=np.array([2.0, 1.0]))
        np.testing.assert_allclose(out.ravel(), [2.0, 2.0, 2.0], atol=1e-6)
        bary, cost = dtw_barycenter_averaging_one_init(
            df, max_iter=5, weights=np.array([2.0, 1.0]))
        np.testing.assert_allclose(bary, out)
        assert np.isfinite(cost) and cost >= 0
        out2 = dtw_barycenter_averaging(df, max_iter=5, n_init=2)
        np.testing.assert_allclose(out2.ravel(), [3.0, 3.0, 3.0], atol=1e-6)

    def test_dba_golden_equal_length(self, spark):
        # dba.py:451-481: [[1,2,3,4],[1,2,4,5]] -> [1,2,3.5,4.5]
        from tslearn_spark.barycenters import dtw_barycenter_averaging

        df = DS.dataset_to_df(spark, [[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 4.0, 5.0]])
        out = dtw_barycenter_averaging(df, max_iter=5)
        np.testing.assert_allclose(out.ravel(), [1, 2, 3.5, 4.5], atol=1e-6)

    def test_dba_ragged_golden(self, spark):
        # [[1,2,3,4],[1,2,3,4,5]] -> [1,2,3,4,4.5]
        from tslearn_spark.barycenters import dtw_barycenter_averaging

        df = DS.dataset_to_df(spark, [[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0, 4.0, 5.0]])
        out = dtw_barycenter_averaging(df, barycenter_size=5, max_iter=5)
        np.testing.assert_allclose(out.ravel(), [1, 2, 3, 4, 4.5], atol=1e-6)

    def test_softdtw_barycenter_golden(self, spark):
        # softdtw.py:70-84: approx [1.25,2.03,3.51,4.36]
        from tslearn_spark.barycenters import softdtw_barycenter

        df = DS.dataset_to_df(spark, [[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 4.0, 5.0]])
        out = softdtw_barycenter(df, gamma=1.0, max_iter=30, tol=1e-4)
        np.testing.assert_allclose(
            out.ravel(), [1.25161, 2.03821, 3.51017, 4.36140], atol=0.05
        )


class TestClustering:
    def test_kmeans_euclidean(self, spark):
        from tslearn_spark.clustering import TimeSeriesKMeans

        rs = np.random.RandomState(0)
        blob1 = [rs.randn(8) * 0.1 for _ in range(5)]
        blob2 = [rs.randn(8) * 0.1 + 10 for _ in range(5)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        km = TimeSeriesKMeans(n_clusters=2, metric="euclidean", max_iter=10,
                              random_state=0).fit(df)
        # reference public shape (kmeans.py:545-551 + its doctests call
        # .cluster_centers_.shape): ndarray (n_clusters, sz, d)
        assert km.cluster_centers_.shape == (2, 8, 1)
        pred = {r["series_id"]: r["cluster"] for r in km.predict(df).collect()}
        g1 = {pred[i] for i in range(5)}
        g2 = {pred[i] for i in range(5, 10)}
        assert len(g1) == 1 and len(g2) == 1 and g1 != g2

    def test_labels_attribute_matches_predict(self, spark):
        """labels_ after fit (kmeans.py:544,696; kshape.py:67,155) — a
        lazy (series_id, cluster) DataFrame whose rows equal predict on
        the training set, and what fit_predict returns (kmeans.py:431)."""
        from tslearn_spark.clustering import KShape, TimeSeriesKMeans

        rs = np.random.RandomState(5)
        t = np.linspace(0, 4 * np.pi, 16)
        blob1 = [np.sin(t) + rs.randn(16) * 0.05 for _ in range(4)]
        blob2 = [np.cos(t) + 5 + rs.randn(16) * 0.05 for _ in range(4)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        km = TimeSeriesKMeans(n_clusters=2, metric="euclidean", max_iter=5,
                              random_state=0).fit(df)
        labs = {r["series_id"]: r["cluster"] for r in km.labels_.collect()}
        pred = {r["series_id"]: r["cluster"] for r in km.predict(df).collect()}
        assert labs == pred
        ks = KShape(n_clusters=2, max_iter=3, random_state=0).fit(df)
        labs = {r["series_id"]: r["cluster"] for r in ks.labels_.collect()}
        pred = {r["series_id"]: r["cluster"] for r in ks.predict(df).collect()}
        assert labs == pred

    def test_kmeans_ndarray_init_and_invalid_init(self, spark):
        """init may be an explicit (k, sz, d) array (kmeans.py:625-626);
        an unknown string raises (kmeans.py:656-658); a wrong-k array
        trips the reference's initial-guess assert (utils.py:200-204)."""
        import pytest

        from tslearn_spark.clustering import TimeSeriesKMeans

        rs = np.random.RandomState(3)
        blob1 = [rs.randn(8) * 0.1 for _ in range(5)]
        blob2 = [rs.randn(8) * 0.1 + 10 for _ in range(5)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        init = np.stack([np.asarray(blob1[0]).reshape(-1, 1),
                         np.asarray(blob2[0]).reshape(-1, 1)])
        km = TimeSeriesKMeans(n_clusters=2, metric="euclidean", max_iter=5,
                              random_state=0, init=init).fit(df)
        assert km.cluster_centers_.shape == (2, 8, 1)
        pred = {r["series_id"]: r["cluster"] for r in km.predict(df).collect()}
        # explicit init pins the labels: blob1 -> 0, blob2 -> 1
        assert all(pred[i] == 0 for i in range(5))
        assert all(pred[i] == 1 for i in range(5, 10))
        with pytest.raises(ValueError, match="invalid"):
            TimeSeriesKMeans(n_clusters=2, init="frobnicate").fit(df)
        with pytest.raises(AssertionError, match="Initial guess"):
            TimeSeriesKMeans(n_clusters=3, metric="euclidean",
                             init=init).fit(df)

    def test_kmeans_dtw(self, spark):
        from tslearn_spark.clustering import TimeSeriesKMeans

        rs = np.random.RandomState(1)
        blob1 = [np.sin(np.linspace(0, 3, 12)) + rs.randn(12) * 0.05 for _ in range(4)]
        blob2 = [np.cos(np.linspace(0, 3, 12)) + 3 + rs.randn(12) * 0.05 for _ in range(4)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        km = TimeSeriesKMeans(n_clusters=2, metric="dtw", max_iter=3,
                              random_state=0).fit(df)
        pred = {r["series_id"]: r["cluster"] for r in km.predict(df).collect()}
        assert len({pred[i] for i in range(4)}) == 1
        assert len({pred[i] for i in range(4, 8)}) == 1

    def test_multivariate_estimators(self, spark):
        """d=2 series flow through the distributed kmeans-dtw, kNN, and
        DBA paths (the reference supports multivariate everywhere; pins
        the nested array<array<double>> handling end-to-end)."""
        from tslearn_spark.barycenters import dtw_barycenter_averaging
        from tslearn_spark.clustering import TimeSeriesKMeans
        from tslearn_spark.neighbors import kneighbors

        rs = np.random.RandomState(0)
        b1 = [rs.randn(10, 2) * 0.1 for _ in range(4)]
        b2 = [rs.randn(10, 2) * 0.1 + 5 for _ in range(4)]
        df = DS.dataset_to_df(spark, b1 + b2)
        km = TimeSeriesKMeans(n_clusters=2, metric="dtw", max_iter=3,
                              random_state=0).fit(df)
        pred = {r["series_id"]: r["cluster"] for r in km.predict(df).collect()}
        assert len({pred[i] for i in range(4)}) == 1
        assert len({pred[i] for i in range(4, 8)}) == 1
        assert pred[0] != pred[4]

        nn = {r["id1"]: r["id2"]
              for r in kneighbors(df, df, k=1, metric="dtw", drop_self=True).collect()}
        assert all((q < 4) == (n < 4) for q, n in nn.items())  # within-blob

        center = dtw_barycenter_averaging(df, barycenter_size=10, max_iter=2)
        assert np.asarray(center).shape == (10, 2)

    def test_kshape_separates(self, spark):
        from tslearn_spark.clustering import KShape

        rs = np.random.RandomState(2)
        t = np.linspace(0, 4 * np.pi, 24)
        blob1 = [np.sin(t) + rs.randn(24) * 0.05 for _ in range(4)]
        blob2 = [np.sign(np.sin(t)) * np.abs(np.sin(t)) ** 0.1 + rs.randn(24) * 0.05
                 for _ in range(4)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        ks = KShape(n_clusters=2, max_iter=5, random_state=3).fit(df)
        # reference public shape (kshape.py:80-83): ndarray (k, sz, d)
        assert ks.cluster_centers_.shape == (2, 24, 1)
        pred = {r["series_id"]: r["cluster"] for r in ks.predict(df).collect()}
        assert len(set(pred.values())) == 2

    @staticmethod
    def _sign_fixture():
        """Members whose aligned matrix makes the reference's NON-squared
        sign criterion (kshape.py:132-133) disagree with the squared
        sufficient-statistics shortcut — found by deterministic search;
        pins that shape extraction follows the reference criterion."""
        rs = np.random.RandomState(2683)
        sz = int(rs.choice([8, 12, 16]))
        n = rs.randint(3, 9)
        t = np.arange(sz)
        base = np.sin(2 * np.pi * t / sz * rs.randint(1, 3))
        members = []
        for _ in range(n):
            scale = 10 ** rs.uniform(-1.5, 1.5)
            w = base * rs.choice([-1, 1]) * rs.uniform(0, 2) + rs.randn(sz) * rs.uniform(0.1, 3)
            members.append((w * scale).reshape(-1, 1))
        return members, base.reshape(-1, 1)

    def test_kshape_sign_criterion_exact(self, spark):
        """Shape-extraction sign follows kshape.py:132-133 (sum of
        non-squared member norms), on a fixture where the squared
        criterion decides the OPPOSITE sign; local and distributed paths
        agree."""
        from tslearn_spark.clustering import KShape

        members, center = self._sign_fixture()
        aligned = K.y_shifted_sbd_vec(center, members)
        X = np.stack([a[:, 0] for a in aligned])
        mu = KShape._solve_mu(X.T @ X)
        d_plus, d_minus = KShape._sign_dists(X, mu)
        flip_ref = d_minus < d_plus
        flip_sq = ((X + mu) ** 2).sum() < ((X - mu) ** 2).sum()
        assert flip_ref != flip_sq  # fixture genuinely discriminates
        mu_signed = -mu if flip_ref else mu
        expected = (mu_signed - mu_signed.mean()) / mu_signed.std()

        got_local = KShape._shape_extraction(members, center)
        np.testing.assert_allclose(got_local[:, 0], expected, atol=1e-9)

        df = DS.dataset_to_df(spark, [m[:, 0] for m in members]).withColumn(
            "cluster", F.lit(0)
        ).repartition(4)
        ks = KShape(n_clusters=1)
        got_dist = ks._extract_shapes(df, [center])[0]
        np.testing.assert_allclose(got_dist[:, 0], expected, atol=1e-9)

    def test_kshape_long_series_fallback(self, spark):
        """sz > sz_stats_cap takes the per-cluster matvec path
        (_extract_shapes_long); its shapes match the sufficient-statistics
        path (power iteration converges to eigh's top eigenvector)."""
        from tslearn_spark.clustering import KShape

        members, center = self._sign_fixture()
        df = DS.dataset_to_df(spark, [m[:, 0] for m in members]).withColumn(
            "cluster", F.lit(0)
        ).repartition(4)
        stats = KShape(n_clusters=1)._extract_shapes(df, [center])[0]
        # cap below sz forces the fallback
        ks_long = KShape(n_clusters=1, sz_stats_cap=center.shape[0] - 1)
        got_long = ks_long._extract_shapes(df, [center])[0]
        np.testing.assert_allclose(got_long[:, 0], stats[:, 0], atol=1e-6)

    def test_kshape_power_mu_matches_eigh(self):
        """_power_mu's matvec iteration == _solve_mu's dense eigh, up to
        sign, across random matrices."""
        from tslearn_spark.clustering import KShape

        rs = np.random.RandomState(11)
        for n, sz in [(5, 12), (20, 7), (3, 30)]:
            X = rs.randn(n, sz) * rs.uniform(0.5, 3)
            dense = KShape._solve_mu(X.T @ X)
            power = KShape._power_mu(X)
            err = min(np.abs(power - dense).max(), np.abs(power + dense).max())
            assert err < 1e-6

    def test_kmeans_euclidean_centroid_single_aggregate(self, spark):
        """metric='euclidean' centroid update is ONE groupBy aggregate;
        results equal the per-cluster positionwise means."""
        from tslearn_spark.clustering import EmptyClusterError, TimeSeriesKMeans

        rs = np.random.RandomState(5)
        data = [rs.randn(6, 2) for _ in range(9)]
        df = spark.createDataFrame(
            [(i, [list(map(float, p)) for p in d]) for i, d in enumerate(data)],
            "series_id long, values array<array<double>>",
        ).withColumn("cluster", (F.col("series_id") % 3).cast("int"))
        km = TimeSeriesKMeans(n_clusters=3, metric="euclidean")
        got = km._update_centroids(df, None)
        for c in range(3):
            expected = np.mean([data[i] for i in range(9) if i % 3 == c], axis=0)
            np.testing.assert_allclose(got[c], expected, atol=1e-12)
        # an empty cluster raises, as the per-cluster path did
        km4 = TimeSeriesKMeans(n_clusters=4, metric="euclidean")
        with pytest.raises(EmptyClusterError):
            km4._update_centroids(df, None)

    def test_silhouette_range(self, spark):
        from tslearn_spark.clustering import silhouette_score

        rs = np.random.RandomState(3)
        blob1 = [rs.randn(8) * 0.1 for _ in range(4)]
        blob2 = [rs.randn(8) * 0.1 + 5 for _ in range(4)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        labels = spark.createDataFrame(
            [(i, 0 if i < 4 else 1) for i in range(8)], "series_id long, cluster int"
        )
        s = silhouette_score(df, labels, metric="euclidean")
        assert 0.5 < s <= 1.0
        # arbitrary (non-integer) label values are accepted like the reference
        s2 = silhouette_score(df, ["a"] * 4 + ["b"] * 4, metric="euclidean")
        assert s2 == pytest.approx(s)

    def test_silhouette_sample_size_auto(self, spark, monkeypatch):
        """sample_size="auto": no-op at or under the ceiling; above it,
        scores the seeded hash-order sample — identical to scoring that
        subset directly (the 100-TB scale path for an O(n^2) score)."""
        from tslearn_spark import clustering as C
        from tslearn_spark.clustering import silhouette_score

        rs = np.random.RandomState(5)
        X = [list(rs.randn(8) * 0.1 + (0 if i < 10 else 5))
             for i in range(20)]
        df = DS.dataset_to_df(spark, X)
        labels = spark.createDataFrame(
            [(i, 0 if i < 10 else 1) for i in range(20)],
            "series_id long, cluster int")
        full = silhouette_score(df, labels, metric="euclidean")
        # under the ceiling: auto == full
        assert silhouette_score(df, labels, metric="euclidean",
                                sample_size="auto") == pytest.approx(full)
        # above a (patched) ceiling: auto == direct score of the same
        # hash-order subset
        monkeypatch.setattr(C, "_SILHOUETTE_AUTO_CEIL", 8)
        got = silhouette_score(df, labels, metric="euclidean",
                               sample_size="auto", random_state=7)
        keep = [r["series_id"] for r in
                df.select("series_id")
                .orderBy(F.xxhash64(F.lit(7), "series_id"), "series_id")
                .limit(8).collect()]
        sub = df.where(F.col("series_id").isin(keep))
        sub_lab = labels.where(F.col("series_id").isin(keep))
        assert got == pytest.approx(
            silhouette_score(sub, sub_lab, metric="euclidean"))

    def test_kernel_kmeans_runs(self, spark):
        from tslearn_spark.clustering import KernelKMeans

        rs = np.random.RandomState(4)
        blob1 = [rs.randn(8) * 0.2 for _ in range(4)]
        blob2 = [rs.randn(8) * 0.2 + 6 for _ in range(4)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        kk = KernelKMeans(n_clusters=2, kernel="gak", max_iter=10,
                          random_state=0, kernel_params={"sigma": 2.0}).fit(df)
        labs = {r["series_id"]: r["cluster"] for r in kk.labels_.collect()}
        assert len(set(labs.values())) == 2
        assert len({labs[i] for i in range(4)}) == 1

    def test_kernel_kmeans_predict(self, spark):
        # predict on the training rows must reproduce the fitted labels
        # (kmeans.py:433-455: same argmin over the same Gram terms)
        from tslearn_spark.clustering import KernelKMeans

        rs = np.random.RandomState(5)
        blob1 = [rs.randn(8) * 0.2 for _ in range(4)]
        blob2 = [rs.randn(8) * 0.2 + 6 for _ in range(4)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        kk = KernelKMeans(n_clusters=2, kernel="gak", max_iter=10,
                          random_state=0, kernel_params={"sigma": 2.0}).fit(df)
        fit_labs = {r["series_id"]: r["cluster"] for r in kk.labels_.collect()}
        pred_labs = {r["series_id"]: r["cluster"] for r in kk.predict(df).collect()}
        assert pred_labs == fit_labs

    def test_kernel_kmeans_predict_empty_input(self, spark):
        """predict on ZERO rows after a non-gak fit must return an empty
        frame, not the misleading mixed-lengths ValueError (an empty
        query makes the flat-length scan count 0 distinct lengths)."""
        from tslearn_spark.clustering import KernelKMeans

        rs = np.random.RandomState(6)
        df = DS.dataset_to_df(
            spark, [rs.randn(8) * 0.2 + (0 if i < 4 else 6)
                    for i in range(8)])
        kk = KernelKMeans(n_clusters=2, kernel="rbf", max_iter=5,
                          random_state=0).fit(df)
        empty = df.where(F.lit(False))
        assert kk.predict(empty).count() == 0

    def test_kernel_kmeans_matches_reference_replay(self, spark):
        """The distributed fit reproduces a numpy replay of the
        reference's exact algorithm (kmeans.py:290-316,390-409) on the
        same Gram with the same seeded random init: criterion
        2 - 2*mean(K[:, C]) with NO within-cluster term, argmin ties to
        the lowest cluster, inertia = sum of min, tol on inertia delta."""
        from tslearn_spark import metrics as M
        from tslearn_spark.clustering import KernelKMeans

        rs = np.random.RandomState(11)
        series = [rs.randn(8).cumsum() for _ in range(9)]
        df = DS.dataset_to_df(spark, series)
        k, seed, max_iter, tol = 3, 2, 7, 1e-6
        kk = KernelKMeans(n_clusters=k, kernel="gak", max_iter=max_iter,
                          tol=tol, random_state=seed,
                          kernel_params={"sigma": 2.0}).fit(df)
        got = {r["series_id"]: r["cluster"] for r in kk.labels_.collect()}

        # numpy replay on the same Gram
        edges = M.cdist(df, metric="gak", sigma=2.0).collect()
        n = len(series)
        Km = np.zeros((n, n))
        for r in edges:
            Km[r["id1"], r["id2"]] = r["dist"]
        rs2 = np.random.RandomState(seed)
        labels = np.array([rs2.randint(k) for _ in range(n)])
        prev = np.inf
        inertia = np.inf
        for _ in range(max_iter):
            dist = np.empty((n, k))
            for j in range(k):
                mask = labels == j
                assert mask.sum() > 0
                dist[:, j] = 2.0 - 2.0 * Km[:, mask].mean(axis=1)
            labels = dist.argmin(axis=1)
            inertia = dist.min(axis=1).sum()
            if abs(prev - inertia) < tol:
                break
            prev = inertia
        assert got == {i: int(labels[i]) for i in range(n)}
        assert kk.inertia_ == pytest.approx(inertia, rel=1e-9)

    def test_kernel_kmeans_sample_weights(self, spark):
        """fit(weight_col=...): a zero-weight member contributes nothing
        to its cluster's kernel mean — weighting duplicates of one series
        to zero reproduces the unweighted fit without them."""
        from tslearn_spark.clustering import KernelKMeans

        rs = np.random.RandomState(12)
        blob1 = [rs.randn(8) * 0.2 for _ in range(4)]
        blob2 = [rs.randn(8) * 0.2 + 6 for _ in range(4)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        wdf = df.withColumn("w", F.lit(1.0))
        kk = KernelKMeans(n_clusters=2, kernel="gak", max_iter=10,
                          random_state=0, kernel_params={"sigma": 2.0})
        kk.fit(wdf, weight_col="w")
        labs = {r["series_id"]: r["cluster"] for r in kk.labels_.collect()}
        assert len({labs[i] for i in range(4)}) == 1
        assert len({labs[i] for i in range(4, 8)}) == 1
        assert labs[0] != labs[4]
        # reference sample_weight_ (kmeans.py:209,363): the weights used
        sw = {r["series_id"]: r["weight"]
              for r in kk.sample_weight_.collect()}
        assert sw == {i: 1.0 for i in range(8)}

    def test_kernel_kmeans_nystroem_full_rank_matches_exact(self, spark):
        """n_landmarks = n: the Nystroem Gram K_nm K_mm^+ K_nm^T equals
        the exact PSD Gram, so on well-separated blobs the landmark fit
        recovers the same partition the exact fit does (labels compared
        up to cluster renumbering), and predict-on-train reproduces the
        fitted labels map-side."""
        from tslearn_spark.clustering import KernelKMeans

        rs = np.random.RandomState(21)
        blob1 = [rs.randn(8) * 0.2 for _ in range(5)]
        blob2 = [rs.randn(8) * 0.2 + 6 for _ in range(5)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        exact = KernelKMeans(n_clusters=2, kernel="gak", max_iter=10,
                             random_state=0,
                             kernel_params={"sigma": 2.0}).fit(df)
        ny = KernelKMeans(n_clusters=2, kernel="gak", max_iter=10,
                          random_state=0, n_landmarks=10,
                          kernel_params={"sigma": 2.0}).fit(df)
        el = {r["series_id"]: r["cluster"] for r in exact.labels_.collect()}
        nl = {r["series_id"]: r["cluster"] for r in ny.labels_.collect()}
        # same partition up to renumbering
        assert {frozenset(i for i in el if el[i] == c)
                for c in set(el.values())} == \
               {frozenset(i for i in nl if nl[i] == c)
                for c in set(nl.values())}
        pred = {r["series_id"]: r["cluster"]
                for r in ny.predict(df).collect()}
        assert pred == nl

    def test_kernel_kmeans_nystroem_subsampled_landmarks(self, spark):
        """m << n landmarks still separate distinct blobs (the scale
        path's whole point), with rbf as well as gak."""
        from tslearn_spark.clustering import KernelKMeans

        rs = np.random.RandomState(22)
        blob1 = [rs.randn(8) * 0.2 for _ in range(8)]
        blob2 = [rs.randn(8) * 0.2 + 6 for _ in range(8)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        for kernel in ("gak", "rbf"):
            kp = {"sigma": 2.0} if kernel == "gak" else None
            ny = KernelKMeans(n_clusters=2, kernel=kernel, max_iter=10,
                              random_state=0, n_landmarks=4,
                              kernel_params=kp).fit(df)
            nl = {r["series_id"]: r["cluster"]
                  for r in ny.labels_.collect()}
            assert len({nl[i] for i in range(8)}) == 1, kernel
            assert len({nl[i] for i in range(8, 16)}) == 1, kernel
            assert nl[0] != nl[8], kernel

    def test_kernel_kmeans_explicit_landmarks(self, spark):
        """landmarks= (r12): an explicit landmark id set overrides the
        seeded hash sample — full-coverage landmarks reproduce the exact
        partition like n_landmarks=n does, and missing ids fail loudly."""
        import pytest as _pytest

        from tslearn_spark.clustering import KernelKMeans

        rs = np.random.RandomState(23)
        blob1 = [rs.randn(8) * 0.2 for _ in range(5)]
        blob2 = [rs.randn(8) * 0.2 + 6 for _ in range(5)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        hash_fit = KernelKMeans(n_clusters=2, kernel="gak", max_iter=10,
                                random_state=0, n_landmarks=10,
                                kernel_params={"sigma": 2.0}).fit(df)
        expl = KernelKMeans(n_clusters=2, kernel="gak", max_iter=10,
                            random_state=0, n_landmarks=10,
                            landmarks=list(range(10)),
                            kernel_params={"sigma": 2.0}).fit(df)
        hl = {r["series_id"]: r["cluster"]
              for r in hash_fit.labels_.collect()}
        nl = {r["series_id"]: r["cluster"] for r in expl.labels_.collect()}
        # an explicit set covering the same ids routes through identical
        # machinery: same landmark matrix, same phi, same labels
        assert nl == hl
        with _pytest.raises(ValueError, match="landmarks"):
            KernelKMeans(n_clusters=2, kernel="gak", n_landmarks=3,
                         landmarks=[0, 1, 999],
                         kernel_params={"sigma": 2.0}).fit(df)

    def test_kshape_explicit_init_and_n_init(self, spark):
        """init accepts explicit centers (fit starts from them); n_init
        keeps the best-inertia run."""
        from tslearn_spark.clustering import KShape

        rs = np.random.RandomState(2)
        t = np.linspace(0, 4 * np.pi, 24)
        blob1 = [np.sin(t) + rs.randn(24) * 0.05 for _ in range(4)]
        blob2 = [np.sign(np.sin(t)) * np.abs(np.sin(t)) ** 0.1 + rs.randn(24) * 0.05
                 for _ in range(4)]
        df = DS.dataset_to_df(spark, blob1 + blob2)
        ks = KShape(n_clusters=2, max_iter=5,
                    init=[blob1[0], blob2[0]]).fit(df)
        pred = {r["series_id"]: r["cluster"] for r in ks.predict(df).collect()}
        assert len({pred[i] for i in range(4)}) == 1
        assert pred[0] != pred[4]
        ks3 = KShape(n_clusters=2, max_iter=5, n_init=3, random_state=3).fit(df)
        assert np.isfinite(ks3.inertia_)
        with pytest.raises(ValueError):
            KShape(n_clusters=2, init="bogus").fit(df)

    def test_kmeans_dtw_inertia_option(self, spark):
        """dtw_inertia=True: inertia_ is measured with DTW against the
        assigned centers even though the fit metric is euclidean
        (kmeans.py:698-704); labels are unchanged."""
        from tslearn_spark.clustering import TimeSeriesKMeans
        from tslearn_spark.kernels import dtw

        rs = np.random.RandomState(6)
        blobs = [rs.randn(8) * 0.3 + c for c in (0, 5) for _ in range(4)]
        df = DS.dataset_to_df(spark, blobs)
        km = TimeSeriesKMeans(n_clusters=2, metric="euclidean", max_iter=5,
                              random_state=1).fit(df)
        kmd = TimeSeriesKMeans(n_clusters=2, metric="euclidean", max_iter=5,
                               random_state=1, dtw_inertia=True).fit(df)
        labs = {r["series_id"]: r["cluster"] for r in km.predict(df).collect()}
        labsd = {r["series_id"]: r["cluster"] for r in kmd.predict(df).collect()}
        assert labs == labsd
        # replay: mean squared dtw to the assigned centers
        expected = np.mean([
            dtw(kmd.cluster_centers_[labsd[i]],
                np.asarray(blobs[i]).reshape(-1, 1)) ** 2
            for i in range(len(blobs))
        ])
        assert kmd.inertia_ == pytest.approx(expected, rel=1e-9)

    def test_kmeans_plusplus_deterministic_by_seed(self, spark):
        # reference tests/test_clustering.py: same seed -> same clustering
        from tslearn_spark.clustering import TimeSeriesKMeans

        rs = np.random.RandomState(6)
        blobs = [rs.randn(8) * 0.3 + c for c in (0, 5, 10) for _ in range(4)]
        df = DS.dataset_to_df(spark, blobs)
        runs = []
        for _ in range(2):
            km = TimeSeriesKMeans(n_clusters=3, metric="euclidean", max_iter=10,
                                  random_state=7, init="k-means++").fit(df)
            runs.append(
                tuple(sorted((r["series_id"], r["cluster"])
                             for r in km.predict(df).collect()))
            )
        assert runs[0] == runs[1]
        # and k-means++ on well-separated blobs lands one center per blob
        km = TimeSeriesKMeans(n_clusters=3, metric="euclidean", max_iter=10,
                              random_state=7, init="k-means++").fit(df)
        pred = {r["series_id"]: r["cluster"] for r in km.predict(df).collect()}
        for b in range(3):
            assert len({pred[i] for i in range(4 * b, 4 * b + 4)}) == 1


class TestRaggedSeries:
    def test_kmeans_dtw_variable_length(self, spark):
        """Reference kmeans supports variable-length input under DTW
        (VARIABLE_LENGTH_METRICS); pin the distributed path end-to-end:
        ragged assignment UDF + DBA centroid updates."""
        rs = np.random.RandomState(1)
        b1 = [rs.randn(rs.randint(8, 14)) * 0.1 for _ in range(4)]
        b2 = [rs.randn(rs.randint(8, 14)) * 0.1 + 5 for _ in range(4)]
        from tslearn_spark.clustering import TimeSeriesKMeans

        df = DS.dataset_to_df(spark, b1 + b2)
        km = TimeSeriesKMeans(n_clusters=2, metric="dtw", max_iter=3,
                              random_state=0).fit(df)
        pred = {r["series_id"]: r["cluster"] for r in km.predict(df).collect()}
        assert len({pred[i] for i in range(4)}) == 1
        assert len({pred[i] for i in range(4, 8)}) == 1
        assert pred[0] != pred[4]


@pytest.mark.parametrize("d", [1, 2, 3])
def test_to_arr_matches_the_nested_decoder(d):
    """metrics._to_arr, the engine's one series decoder, returns exactly
    the array of the per-row nested decoder it replaced, for series as
    Arrow hands them to pandas (object arrays of rows) and as plain
    lists: NaN and +-inf values, length 1 and length 0 included."""
    import pyarrow as pa

    rs = np.random.RandomState(d)
    series = [rs.randn(sz, d).tolist() for sz in (1, 5, 17)] + [[]]
    series[1][2][0] = float("nan")
    series[2][0][d - 1] = float("inf")
    series[2][3][0] = float("-inf")
    arrow = pa.array(series, type=pa.list_(pa.list_(pa.float64())))
    for v in list(arrow.to_pandas()) + series:
        want = np.asarray([np.asarray(r, dtype=np.float64) for r in v])
        got = M._to_arr(v)
        assert got.dtype == want.dtype and got.shape == want.shape
        assert np.array_equal(got.view(np.int64), want.view(np.int64))
