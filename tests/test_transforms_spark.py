"""Spark-layer goldens: scalers, resampler, PAA/SAX/1d-SAX, envelopes,
codec, generators (FIXTURES.md §2.3/2.4/2.9)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tslearn_spark import dataset as DS
from tslearn_spark import piecewise as PW
from tslearn_spark import preprocessing as P


def arrays(df, col="values"):
    return [np.asarray(r[col], dtype=np.float64)
            for r in df.select("series_id", col).orderBy("series_id").collect()]


class TestScalers:
    def test_minmax_golden(self, spark):
        # preprocessing.py:120-129
        df = DS.dataset_to_df(spark, [[0, 3, 6]])
        out = arrays(P.transform_min_max(df, value_range=(1, 2)))[0]
        np.testing.assert_allclose(out.ravel(), [1, 1.5, 2])

    def test_meanvar_golden(self, spark):
        # preprocessing.py:224-233
        df = DS.dataset_to_df(spark, [[0, 3, 6]])
        out = arrays(P.transform_mean_variance(df))[0]
        np.testing.assert_allclose(out.ravel(), [-1.22474487, 0, 1.22474487], atol=1e-8)

    def test_meanvar_nan_aware(self, spark):
        # [[nan,3,6]] -> [[nan,-1,1]] (preprocessing.py:231-233)
        df = DS.dataset_to_df(spark, [[np.nan, 3, 6]])
        out = arrays(P.transform_mean_variance(df))[0].ravel()
        assert np.isnan(out[0])
        np.testing.assert_allclose(out[1:], [-1, 1], atol=1e-8)

    def test_zero_variance_guard(self, spark):
        df = DS.dataset_to_df(spark, [[5, 5, 5]])
        out = arrays(P.transform_mean_variance(df))[0]
        np.testing.assert_allclose(out.ravel(), [0, 0, 0])

    def test_multivariate_per_dim(self, spark):
        df = DS.dataset_to_df(spark, [np.array([[0, 10], [3, 20], [6, 30]])])
        out = arrays(P.transform_min_max(df))[0]
        np.testing.assert_allclose(out, [[0, 0], [0.5, 0.5], [1, 1]])


def _fold_scaled(X, mu, std, lo, hi):
    """Sequential-fold reference for both scalers on one (sz, d) series:
    per dim, left folds over the non-NaN values in timestamp order (the
    association of Spark's ``aggregate``), numpy's nan* semantics (a
    dim with no non-NaN value has NaN statistics), and the same
    per-value arithmetic as the expressions."""
    z = np.empty_like(X)
    m = np.empty_like(X)
    for d in range(X.shape[1]):
        dv = [x for x in X[:, d] if not np.isnan(x)]
        with np.errstate(all="ignore"):  # inf and NaN are inputs here
            if dv:
                s = ss = 0.0
                for x in dv:
                    s = s + x
                    ss = ss + x * x
                mean = s / len(dv)
                var = ss / len(dv) - mean * mean
                sd = np.sqrt(var if np.isnan(var) or var > 0.0 else 0.0)
                sd = 1.0 if sd == 0.0 else sd
                mn = min(dv)
                rng = max(dv) - mn
                rng = 1.0 if rng == 0.0 else rng
            else:
                mean = sd = mn = rng = np.nan
            z[:, d] = mu + (std * (X[:, d] - mean)) / sd
            m[:, d] = lo + ((hi - lo) * (X[:, d] - mn)) / rng
    return z, m


def _assert_bitwise(got, exp):
    assert got.shape == exp.shape
    nan = np.isnan(exp)
    assert (np.isnan(got) == nan).all()
    assert got[~nan].tobytes() == exp[~nan].tobytes()


class TestScalerTierAgreement:
    """The Spark SQL scalers against a numpy sequential-fold reference,
    bitwise, on seeded random series plus adversarial ones."""

    @staticmethod
    def _series():
        rs = np.random.RandomState(20261020)
        out = [rs.randn(rs.randint(2, 40), rs.randint(1, 4)) * 10 ** rs.randint(-3, 4)
               for _ in range(40)]
        nan_mix = rs.randn(30, 2)
        nan_mix[rs.rand(30, 2) < 0.3] = np.nan
        nan_chan = rs.randn(12, 3)
        nan_chan[:, 1] = np.nan  # an all-NaN channel among finite ones
        return out + [
            nan_mix,
            nan_chan,
            np.array([[1.0, -np.inf], [np.inf, 2.0], [3.0, 4.0]]),   # +-inf
            np.array([[np.inf], [np.inf]]),                         # inf - inf
            np.full((9, 2), 7.25),                                  # constant
            np.array([[3.5, -1.0]]),                                # length 1
            np.array([[np.nan], [np.nan]]),                         # length 0
            np.array([[np.nan, 1.0], [np.nan, 2.0]]),               # NaN dim 0
            np.array([[1e300], [-1e300], [1e300]]),                 # x*x -> inf
        ]

    @pytest.mark.parametrize("mu,std,lo,hi", [(0.0, 1.0, 0.0, 1.0),
                                              (0.25, 3.0, -1.0, 2.0)])
    def test_bitwise_vs_fold(self, spark, mu, std, lo, hi):
        df = DS.dataset_to_df(spark, self._series())
        out = (df.withColumn("z", P.scaler_mean_variance("values", mu, std))
               .withColumn("m", P.scaler_min_max("values", (lo, hi)))
               .select("series_id", "values", "z", "m")
               .orderBy("series_id").collect())
        assert len(out) == 49
        assert sum(len(r["values"]) == 0 for r in out) == 1
        for r in out:
            X = np.asarray(r["values"], dtype=np.float64)
            if X.size == 0:
                assert r["z"] == [] and r["m"] == []
                continue
            z, m = _fold_scaled(X, mu, std, lo, hi)
            _assert_bitwise(np.asarray(r["z"], dtype=np.float64), z)
            _assert_bitwise(np.asarray(r["m"], dtype=np.float64), m)

    def test_empty_series_and_nan_channel_do_not_raise(self, spark):
        """Spark's default ANSI mode raises on an out-of-bounds array
        index or a zero divisor: a 0-timestamp series maps to an empty
        series and an all-NaN channel to a NaN channel through every
        per-series transform."""
        df = DS.dataset_to_df(spark, [[np.nan, np.nan],
                                      np.array([[1.0, np.nan], [2.0, np.nan],
                                                [4.0, np.nan]])])
        sax = PW.SAX(n_segments=1, alphabet_size_avg=3).fit(df)
        outs = {
            "z": P.transform_mean_variance(df, out_col="o"),
            "mm": P.transform_min_max(df, out_col="o"),
            "rs1": P.resample(df, 1, out_col="o"),
            "rs3": P.resample(df, 3, out_col="o"),
            "paa": PW.transform_paa(df, 1, out_col="o"),
            "sax": sax.transform(df, out_col="o"),
        }
        for name, got in outs.items():
            empty, chan = arrays(got, "o")
            assert empty.size == 0, name
            if name != "sax":
                assert np.isnan(chan[:, 1]).all(), name
                assert not np.isnan(chan[:, 0]).any(), name


class TestResampler:
    def test_golden(self, spark):
        # preprocessing.py:26-31
        df = DS.dataset_to_df(spark, [[0, 3, 6]])
        out = arrays(P.resample(df, 5))[0]
        np.testing.assert_allclose(out.ravel(), [0, 1.5, 3, 4.5, 6])

    def test_sz_one_nanmean(self, spark):
        df = DS.dataset_to_df(spark, [[0, 3, 6]])
        out = arrays(P.resample(df, 1))[0]
        np.testing.assert_allclose(out.ravel(), [3.0])

    def test_ragged(self, spark):
        df = DS.dataset_to_df(spark, [[0, 4], [0, 2, 4]])
        outs = arrays(P.resample(df, 3))
        np.testing.assert_allclose(outs[0].ravel(), [0, 2, 4])
        np.testing.assert_allclose(outs[1].ravel(), [0, 2, 4])


class TestPAASAX:
    FIX = [[-1, 2, 0.1, -1, 1, -1], [1.0, 3.2, -1.0, -3.0, 1.0, -1.0]]

    def test_series_shorter_than_n_segments(self, spark):
        """Under ANSI a zero segment size must not raise DIVIDE_BY_ZERO.
        A series shorter than n_segments has empty segments: NaN means
        (numpy's empty-slice mean), so SAX gives the top symbol (NaN
        falls below no breakpoint) and 1d-SAX NaN slopes; one-point
        segments get slope 0."""
        df = DS.dataset_to_df(spark, [[1.0, 2.0], [1.0, 2.0, 4.0, 3.0],
                                      [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]])
        short, four, six = arrays(PW.transform_paa(df, 3), "paa")
        assert short.shape == (3, 1) and np.isnan(short).all()
        np.testing.assert_array_equal(four.ravel(), [1.0, 2.0, 4.0])
        np.testing.assert_array_equal(six.ravel(), [1.5, 3.5, 5.5])
        sax = PW.SAX(n_segments=3, alphabet_size_avg=4).fit(df)
        sym = arrays(sax.transform(df, out_col="o"), "o")[0]
        np.testing.assert_array_equal(sym.ravel(), [3, 3, 3])
        odsax = PW.OneDSAX(n_segments=3, alphabet_size_avg=4,
                           alphabet_size_slope=2).fit(df)
        slopes = arrays(df.select("series_id",
                                  odsax.slopes_col().alias("s")), "s")
        assert np.isnan(slopes[0]).all()
        np.testing.assert_array_equal(slopes[1].ravel(), [0.0, 0.0, 0.0])
        np.testing.assert_array_equal(slopes[2].ravel(), [1.0, 1.0, 1.0])
        sym = arrays(odsax.transform(df, out_col="o"), "o")[0]
        np.testing.assert_array_equal(sym, [[3, 1]] * 3)

    def test_paa_golden(self, spark):
        # piecewise.py:77-107
        df = DS.dataset_to_df(spark, self.FIX)
        got = arrays(PW.transform_paa(df, 3), "paa")
        np.testing.assert_allclose(got[0].ravel(), [0.5, -0.45, 0], atol=1e-9)
        np.testing.assert_allclose(got[1].ravel(), [2.1, -2, 0], atol=1e-9)

    def test_paa_distance_golden(self, spark):
        # distance = 3.15039... (piecewise.py:104-107)
        df = PW.transform_paa(DS.dataset_to_df(spark, self.FIX), 3)
        a = df.where(F.col("series_id") == 0).select(F.col("paa").alias("paa1")).crossJoin(
            df.where(F.col("series_id") == 1).select(F.col("paa").alias("paa2"))
        )
        d = a.select(PW.paa_distance_col("paa1", "paa2", 6).alias("d")).first()["d"]
        assert d == pytest.approx(3.1503968, abs=1e-5)

    def test_paa_inverse(self, spark):
        df = PW.transform_paa(DS.dataset_to_df(spark, self.FIX), 3)
        inv = df.select("series_id", PW.paa_inverse_col("paa", 6).alias("inv"))
        got = arrays(inv, "inv")[0].ravel()
        np.testing.assert_allclose(got, [0.5, 0.5, -0.45, -0.45, 0, 0], atol=1e-9)

    def test_numpy_instance_api_doctests(self, spark):
        """The reference class doctests for the numpy instance surface
        (piecewise.py:77-107 PAA, :291-325 SAX, :545-575 1d-SAX):
        fit_transform -> distance_* / distance / inverse_transform on
        plain arrays, exact values pinned."""
        from tslearn_spark.piecewise import (
            OneDSAX, PiecewiseAggregateApproximation, SAX,
        )

        data = [[-1.0, 2.0, 0.1, -1.0, 1.0, -1.0],
                [1.0, 3.2, -1.0, -3.0, 1.0, -1.0]]
        paa = PiecewiseAggregateApproximation(n_segments=3)
        paa_data = paa.fit_transform(data)
        assert paa_data.shape == (2, 3, 1)
        np.testing.assert_allclose(paa_data[:, :, 0],
                                   [[0.5, -0.45, 0.0], [2.1, -2.0, 0.0]],
                                   atol=1e-9)
        assert paa.distance_paa(paa_data[0], paa_data[1]) == pytest.approx(
            3.1503968, abs=1e-5)
        assert paa.distance(data[0], data[1]) == pytest.approx(
            3.1503968, abs=1e-5)
        inv = paa.inverse_transform(paa_data)
        np.testing.assert_allclose(
            inv[0].ravel(), [0.5, 0.5, -0.45, -0.45, 0.0, 0.0], atol=1e-9)
        np.testing.assert_allclose(
            inv[1].ravel(), [2.1, 2.1, -2.0, -2.0, 0.0, 0.0], atol=1e-9)

        sax = SAX(n_segments=3, alphabet_size_avg=2)
        sax_data = sax.fit_transform(data)
        assert sax_data.shape == (2, 3, 1)
        np.testing.assert_array_equal(sax_data[:, :, 0],
                                      [[1, 0, 1], [1, 0, 1]])
        assert sax.distance_sax(sax_data[0], sax_data[1]) == 0.0
        assert sax.distance(data[0], data[1]) == 0.0
        inv = sax.inverse_transform(sax_data)
        m = 0.67448975
        np.testing.assert_allclose(
            inv[0].ravel(), [m, m, -m, -m, m, m], atol=1e-7)

        ods = OneDSAX(n_segments=3, alphabet_size_avg=2,
                      alphabet_size_slope=2, sigma_l=1.0)
        ods_data = ods.fit_transform(data)
        assert ods_data.shape == (2, 3, 2)
        np.testing.assert_array_equal(
            ods_data[0], [[1, 1], [0, 0], [1, 0]])
        # inherited SAX MINDIST over the symbol matrix (reference doctest
        # calls distance_sax on the 1d-SAX symbols)
        assert ods.distance_sax(ods_data[0], ods_data[1]) == 0.0
        assert ods.distance(data[0], data[1]) == 0.0
        inv = ods.inverse_transform(ods_data)
        np.testing.assert_allclose(
            inv[0].ravel(),
            [0.33724488, 1.01173463, -0.33724488, -1.01173463,
             1.01173463, 0.33724488], atol=1e-7)
        # unfitted numpy methods fail loudly
        with pytest.raises(ValueError, match="fit"):
            PiecewiseAggregateApproximation(n_segments=3).distance_paa(
                paa_data[0], paa_data[1])

    def test_sax_golden(self, spark):
        # piecewise.py:290-322: alphabet 2 -> [[1,0,1],[1,0,1]]
        df = DS.dataset_to_df(spark, self.FIX)
        sax = PW.SAX(n_segments=3, alphabet_size_avg=2).fit(df)
        got = arrays(sax.transform(df), "sax")
        np.testing.assert_array_equal(got[0].ravel(), [1, 0, 1])
        np.testing.assert_array_equal(got[1].ravel(), [1, 0, 1])

    def test_sax_mindist_zero_and_inverse(self, spark):
        df = DS.dataset_to_df(spark, self.FIX)
        sax = PW.SAX(n_segments=3, alphabet_size_avg=2).fit(df)
        t = sax.transform(df)
        pair = t.where(F.col("series_id") == 0).select(F.col("sax").alias("s1")).crossJoin(
            t.where(F.col("series_id") == 1).select(F.col("sax").alias("s2"))
        )
        d = pair.select(sax.distance_col("s1", "s2", 6).alias("d")).first()["d"]
        assert d == pytest.approx(0.0)
        inv = t.select("series_id", sax.inverse_col("sax", 6).alias("inv"))
        got = arrays(inv, "inv")[0].ravel()
        np.testing.assert_allclose(
            np.abs(got), np.full(6, 0.67448975), atol=1e-6
        )

    def test_one_d_sax_shapes(self, spark):
        # piecewise.py:563-576: (2, 3, 2*d) symbol tensor
        df = DS.dataset_to_df(spark, self.FIX)
        od = PW.OneDSAX(n_segments=3, alphabet_size_avg=2, alphabet_size_slope=2,
                        sigma_l=1.0).fit_sz(6)
        got = arrays(od.transform(df), "sax1d")
        assert got[0].shape == (3, 2)
        assert set(got[0].ravel().astype(int)) <= {0, 1}
        # avg symbols must equal plain SAX symbols
        sax = PW.SAX(n_segments=3, alphabet_size_avg=2).fit(df)
        plain = arrays(sax.transform(df), "sax")
        np.testing.assert_array_equal(got[0][:, 0], plain[0].ravel())

    def test_one_d_sax_dist_and_inverse_run(self, spark):
        df = DS.dataset_to_df(spark, self.FIX)
        od = PW.OneDSAX(3, 2, 2, sigma_l=1.0).fit_sz(6)
        t = od.transform(df)
        pair = t.where(F.col("series_id") == 0).select(F.col("sax1d").alias("s1")).crossJoin(
            t.where(F.col("series_id") == 1).select(F.col("sax1d").alias("s2"))
        )
        d = pair.select(od.distance_col("s1", "s2", 6).alias("d")).first()["d"]
        assert d >= 0 and np.isfinite(d)
        inv = t.select("series_id", od.inverse_col("sax1d", 6).alias("inv"))
        assert arrays(inv, "inv")[0].shape == (6, 1)


class TestEstimatorClassParity:
    def test_reference_named_classes(self, spark):
        """The reference's estimator CLASS names import from the package
        root and their fit/transform equals the functional layer."""
        from tslearn_spark import (
            MatrixProfile,
            OneD_SymbolicAggregateApproximation,
            PiecewiseAggregateApproximation,
            SymbolicAggregateApproximation,
            TimeSeriesResampler,
            TimeSeriesScalerMeanVariance,
            TimeSeriesScalerMinMax,
        )
        from tslearn_spark import matrix_profile as MP
        from tslearn_spark import piecewise as PW
        from tslearn_spark import preprocessing as PP

        rs = np.random.RandomState(3)
        df = DS.dataset_to_df(spark, [rs.randn(16).cumsum() for _ in range(4)])

        got = arrays(TimeSeriesScalerMeanVariance(mu=1.0, std=2.0).fit_transform(df))
        exp = arrays(PP.transform_mean_variance(df, mu=1.0, std=2.0))
        for g, e in zip(got, exp):
            np.testing.assert_allclose(g, e)

        got = arrays(TimeSeriesScalerMinMax(value_range=(-1.0, 1.0)).fit_transform(df))
        exp = arrays(PP.transform_min_max(df, value_range=(-1.0, 1.0)))
        for g, e in zip(got, exp):
            np.testing.assert_allclose(g, e)

        got = arrays(TimeSeriesResampler(sz=8).fit_transform(df))
        exp = arrays(PP.resample(df, 8))
        for g, e in zip(got, exp):
            np.testing.assert_allclose(g, e)

        got = arrays(PiecewiseAggregateApproximation(n_segments=4)
                     .fit_transform(df), col="paa")
        exp = arrays(PW.transform_paa(df, 4), col="paa")
        for g, e in zip(got, exp):
            np.testing.assert_allclose(g, e)

        assert SymbolicAggregateApproximation is PW.SAX
        # 1d-SAX reference-style fit: slope breakpoints from the data's sz
        sax1d = OneD_SymbolicAggregateApproximation(
            n_segments=4, alphabet_size_avg=4, alphabet_size_slope=4
        ).fit(df)
        out = sax1d.transform(df).collect()
        assert all(len(r["sax1d"]) == 4 and len(r["sax1d"][0]) == 2 for r in out)

        prof = MatrixProfile(subsequence_length=4, scale=False).fit_transform(df)
        exp = MP.transform(df, 4, scale=False)
        for g, e in zip(arrays(prof, col="profile"), arrays(exp, col="profile")):
            np.testing.assert_allclose(g, e)
        with pytest.raises(NotImplementedError):
            MatrixProfile(implementation="stump")

    def test_onedsax_scale_option(self, spark):
        """1d-SAX scale=True: global mean/std scaling feeds both the
        segment means and slopes (reference piecewise.py:586-698)."""
        from tslearn_spark import piecewise as PW

        rs = np.random.RandomState(4)
        df = DS.dataset_to_df(spark, [rs.randn(12) * 5 + 100 for _ in range(3)])
        plain = PW.OneDSAX(n_segments=3, alphabet_size_avg=4,
                           alphabet_size_slope=4).fit(df)
        scaled = PW.OneDSAX(n_segments=3, alphabet_size_avg=4,
                            alphabet_size_slope=4, scale=True).fit(df)
        raw = [r["sax1d"] for r in plain.transform(df).orderBy("series_id").collect()]
        zz = [r["sax1d"] for r in scaled.transform(df).orderBy("series_id").collect()]
        # far-off-center data: unscaled means all saturate the top symbol,
        # scaled means use the full alphabet
        assert all(seg[0] == 3 for row in raw for seg in row)
        assert any(seg[0] != 3 for row in zz for seg in row)


class TestCodec:
    def test_roundtrip(self, spark):
        # utils.py:237-240, 272-279
        df = DS.dataset_to_df(spark, [np.array([[1.0, 3.0], [2.0, 4.0]])])
        s = df.select(DS.series_to_str_col().alias("s")).first()["s"]
        assert s == "1.0 2.0|3.0 4.0"
        back = spark.createDataFrame([(s,)], "line string").select(
            DS.str_to_series_col("line").alias("values")
        )
        got = np.asarray(back.first()["values"])
        np.testing.assert_allclose(got, [[1, 3], [2, 4]])

    def test_file_roundtrip(self, spark, tmp_path):
        data = [[1.0, 2.0, 3.0], [4.0, 5.0]]
        df = DS.dataset_to_df(spark, data)
        path = str(tmp_path / "ts_txt")
        DS.save_time_series_txt(df, path)
        back = DS.load_time_series_txt(spark, path)
        got = sorted(
            tuple(np.asarray(v).ravel()) for v in
            [r["values"] for r in back.collect()]
        )
        assert [list(g) for g in got] == [[1.0, 2.0, 3.0], [4.0, 5.0]]


class TestGenerators:
    def test_random_walks_shape_and_determinism(self, spark):
        df1 = DS.random_walks(spark=spark, n_ts=5, sz=16, d=2, random_state=0)
        df2 = DS.random_walks(spark=spark, n_ts=5, sz=16, d=2, random_state=0)
        a1, a2 = arrays(df1), arrays(df2)
        assert a1[0].shape == (16, 2)
        np.testing.assert_allclose(a1[0], a2[0])

    def test_blobs_labels(self, spark):
        df = DS.random_walk_blobs(spark=spark, n_ts_per_blob=3, sz=8, d=1, n_blobs=2,
                                  random_state=0)
        labs = [r["label"] for r in df.orderBy("series_id").collect()]
        assert labs == ["0", "0", "0", "1", "1", "1"]


class TestLongViews:
    def test_roundtrip(self, spark):
        data = [[1.0, 2.0], [3.0, 4.0, 5.0]]
        df = DS.dataset_to_df(spark, data)
        back = DS.from_long(DS.to_long(df))
        got = {r["series_id"]: np.asarray(r["values"]).ravel().tolist()
               for r in back.collect()}
        assert got == {0: [1.0, 2.0], 1: [3.0, 4.0, 5.0]}
