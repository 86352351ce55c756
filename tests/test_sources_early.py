"""UCR/arff sources, validation, ground-metric variants, early classifier."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tslearn_spark import dataset as DS
from tslearn_spark import kernels as K


class TestGroundMetricVariants:
    def test_dtw_path_from_metric_euclidean(self):
        a, b = [1.0, 2.0, 3.0], [1.0, 2.0, 2.0, 3.0]
        path, score = K.dtw_path_from_metric(a, b, metric="euclidean")
        assert path == [(0, 0), (1, 1), (1, 2), (2, 3)]
        assert score == pytest.approx(0.0)

    def test_sqeuclidean_matches_dtw_squared(self):
        rs = np.random.RandomState(0)
        a, b = rs.randn(10), rs.randn(12)
        _, score = K.dtw_path_from_metric(a, b, metric="sqeuclidean")
        assert score == pytest.approx(K.dtw(a, b) ** 2)

    def test_precomputed_matrix(self):
        rs = np.random.RandomState(1)
        a, b = rs.randn(6), rs.randn(7)
        D = K._ground_dist_matrix(a, b, "cityblock")
        p1, s1 = K.dtw_path_from_metric(D)
        p2, s2 = K.dtw_path_from_metric(a, b, metric="cityblock")
        assert p1 == p2 and s1 == pytest.approx(s2)

    def test_lcss_from_metric(self):
        path, sim = K.lcss_path_from_metric([1.0, 2.0, 3.0], [-2.0, 5.0, 7.0],
                                            eps=3, metric="euclidean")
        assert sim == pytest.approx(2.0 / 3.0)
        assert len(path) == 2


class TestSources:
    def test_ucr_txt(self, spark, tmp_path):
        from tslearn_spark.sources import load_ucr_txt

        p = tmp_path / "ucr.txt"
        p.write_text("1 0.5 1.5 2.5\n2 3.0 4.0 5.0\n")
        df = load_ucr_txt(spark, str(p))
        rows = {r["series_id"]: r for r in df.collect()}
        assert rows[0]["label"] == "1"
        assert [v[0] for v in rows[0]["values"]] == [0.5, 1.5, 2.5]
        assert rows[1]["label"] == "2"

    def test_arff(self, spark, tmp_path):
        from tslearn_spark.sources import load_arff_uea

        p = tmp_path / "d.arff"
        p.write_text(
            "% comment\n@relation test\n@attribute a numeric\n@data\n"
            "0.5,1.5,2.5,classA\n3.0,4.0,5.0,classB\n"
        )
        df = load_arff_uea(spark, str(p))
        rows = {r["series_id"]: r for r in df.collect()}
        assert rows[0]["label"] == "classA"
        assert [v[0] for v in rows[1]["values"]] == [3.0, 4.0, 5.0]

    def test_write_bucketed_join_has_no_shuffle(self, spark, tmp_path):
        """Two tables bucketed on the same key join WITHOUT an Exchange —
        the co-location contract write_bucketed exists to provide."""
        import io
        from contextlib import redirect_stdout

        from tslearn_spark.sources import write_bucketed

        a = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
            "x", F.col("k") * 2
        )
        b = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
            "y", F.col("k") + 7
        )
        write_bucketed(a, "bkt_a", ["k"], 4, path=str(tmp_path / "a"))
        write_bucketed(b, "bkt_b", ["k"], 4, path=str(tmp_path / "b"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # disable broadcast so the join must pick SMJ — the point is
            # that bucketing removes the Exchange under it
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            buf = io.StringIO()
            with redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            assert "SortMergeJoin" in plan
            # formatted plans render shuffles as "(3) Exchange"
            import re

            assert not re.findall(r"\(\d+\) Exchange", plan)  # co-located
            assert joined.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS bkt_a")
            spark.sql("DROP TABLE IF EXISTS bkt_b")

    def test_check_dataset(self, spark):
        from tslearn_spark.sources import DatasetValidationError, check_dataset

        ragged = DS.dataset_to_df(spark, [[1.0, 2.0], [1.0, 2.0, 3.0]])
        check_dataset(ragged)  # fine without constraints
        with pytest.raises(DatasetValidationError):
            check_dataset(ragged, force_equal_length=True)
        with pytest.raises(DatasetValidationError):
            check_dataset(ragged, force_single_time_series=True)
        multi = DS.dataset_to_df(spark, [np.array([[1.0, 2.0], [3.0, 4.0]])])
        with pytest.raises(DatasetValidationError):
            check_dataset(multi, force_univariate=True)

    def test_check_dims(self, spark):
        from tslearn_spark.sources import DatasetValidationError, check_dims

        df = DS.dataset_to_df(spark, [[1.0, 2.0, 3.0]])
        check_dims(df, fit_dims=(3, 1))
        check_dims(df, fit_dims=(99, 1), check_n_features_only=True)
        with pytest.raises(DatasetValidationError):
            check_dims(df, fit_dims=(4, 1))
        with pytest.raises(DatasetValidationError):
            check_dims(df, fit_dims=(3, 2))


class TestBaselineAccuracy:
    def test_parse_and_filter(self, tmp_path):
        # ucr_uea.py:85-133: first unnamed column = dataset, blanks skipped
        from tslearn_spark.sources import UCR_UEA_datasets

        p = tmp_path / "singleTrainTest.csv"
        p.write_text(",C45,NB\nAdiac,0.5422,0.61\nCoffee,0.9,\n")
        u = UCR_UEA_datasets(baseline_scores_file=str(p))
        assert u.baseline_accuracy() == {
            "Adiac": {"C45": 0.5422, "NB": 0.61}, "Coffee": {"C45": 0.9}
        }
        assert u.baseline_accuracy(["Adiac"], ["C45"]) == {"Adiac": {"C45": 0.5422}}


def _make_archive_mirror(tmp_path):
    """A file:// mirror of the archive layout: summary CSVs + one
    dataset zip, so the full download->extract->parse flow runs
    offline."""
    import zipfile

    mirror = tmp_path / "mirror"
    (mirror / "Downloads" / "Archives").mkdir(parents=True)
    (mirror / "Downloads" / "Archives" / "summaryMultivariate.csv").write_text(
        "Problem,TrainSize\nPenDigits,7494\n"
    )
    # includes a known archive typo the bootstrap must fix in place
    (mirror / "singleTrainTest.csv").write_text(
        ",C45\nFakeSet,0.5\nStarlightCurves,0.8\n"
    )
    train = "1 1.0 2.0 3.0\n2 4.0 5.0 6.0\n"
    test = "1 1.5 2.5 3.5\n"
    zpath = mirror / "Downloads" / "FakeSet.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("FakeSet_TRAIN.txt", train)
        zf.writestr("FakeSet_TEST.txt", test)
    return mirror


class TestUcrUeaArchive:
    def test_bootstrap_and_lists(self, tmp_path):
        from tslearn_spark.sources import UCR_UEA_datasets

        mirror = _make_archive_mirror(tmp_path)
        u = UCR_UEA_datasets(data_dir=str(tmp_path / "cache"),
                             base_url=mirror.as_uri())
        assert u.list_univariate_datasets() == ["FakeSet", "StarLightCurves"]
        assert u.list_multivariate_datasets() == ["PenDigits"]
        assert u.list_datasets() == ["FakeSet", "StarLightCurves", "PenDigits"]
        assert u.baseline_accuracy(["FakeSet"]) == {"FakeSet": {"C45": 0.5}}

    def test_download_extract_parse_and_cache(self, tmp_path):
        from tslearn_spark.sources import UCR_UEA_datasets

        mirror = _make_archive_mirror(tmp_path)
        u = UCR_UEA_datasets(data_dir=str(tmp_path / "cache"),
                             base_url=mirror.as_uri())
        X_train, y_train, X_test, y_test = u.load_dataset("FakeSet")
        assert X_train.shape == (2, 3, 1)
        assert X_test.shape == (1, 3, 1)
        np.testing.assert_allclose(X_train[:, :, 0],
                                   [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0]])
        np.testing.assert_array_equal(y_train, [1, 2])
        assert "FakeSet" in u.list_cached_datasets()
        # cache hit: remove the mirror zip — load must still succeed
        (mirror / "Downloads" / "FakeSet.zip").unlink()
        X2, *_ = u.load_dataset("FakeSet")
        np.testing.assert_allclose(X2, X_train)
        # use_cache=False refetches; with the zip gone that fails softly
        u2 = UCR_UEA_datasets(use_cache=False,
                              data_dir=str(tmp_path / "cache"),
                              base_url=mirror.as_uri())
        with pytest.warns(RuntimeWarning):
            assert u2.load_dataset("FakeSet") == (None, None, None, None)

    def test_missing_dataset_warns(self, tmp_path):
        from tslearn_spark.sources import UCR_UEA_datasets

        mirror = _make_archive_mirror(tmp_path)
        u = UCR_UEA_datasets(data_dir=str(tmp_path / "cache"),
                             base_url=mirror.as_uri())
        with pytest.warns(RuntimeWarning):
            assert u.load_dataset("NoSuchSet") == (None, None, None, None)

    def test_degraded_no_network(self, tmp_path):
        from tslearn_spark.sources import UCR_UEA_datasets

        # bootstrap against a dead mirror: lists raise, cache still loads
        mirror = _make_archive_mirror(tmp_path)
        cache = tmp_path / "cache"
        UCR_UEA_datasets(data_dir=str(cache),
                         base_url=mirror.as_uri()).load_dataset("FakeSet")
        dead = UCR_UEA_datasets(data_dir=str(cache),
                                base_url=(tmp_path / "void").as_uri())
        with pytest.raises(ValueError):
            dead.list_datasets()
        X, *_ = dead.load_dataset("FakeSet")
        assert X.shape == (2, 3, 1)

    def test_load_dataset_spark(self, spark, tmp_path):
        from tslearn_spark.sources import UCR_UEA_datasets

        mirror = _make_archive_mirror(tmp_path)
        u = UCR_UEA_datasets(data_dir=str(tmp_path / "cache"),
                             base_url=mirror.as_uri())
        train_df, test_df = u.load_dataset_spark(spark, "FakeSet")
        rows = {r.series_id: r for r in train_df.collect()}
        assert [v[0] for v in rows[0]["values"]] == [1.0, 2.0, 3.0]
        assert rows[1]["label"] == "2"
        assert test_df.count() == 1


class TestCachedDatasets:
    def test_empty_default(self):
        from tslearn_spark.sources import CachedDatasets

        assert CachedDatasets().list_datasets() == []
        with pytest.raises(IOError):
            CachedDatasets().load_dataset("Trace")

    def test_npz_roundtrip(self, tmp_path):
        from tslearn_spark.sources import CachedDatasets

        np.savez(tmp_path / "Demo.npz",
                 X_train=np.ones((2, 4, 1)), y_train=np.array([0, 1]),
                 X_test=np.zeros((1, 4, 1)), y_test=np.array([1]))
        c = CachedDatasets(path=str(tmp_path))
        assert c.list_datasets() == ["Demo"]
        X_train, y_train, X_test, y_test = c.load_dataset("Demo")
        assert X_train.shape == (2, 4, 1)
        np.testing.assert_array_equal(y_test, [1])


class TestEarlyClassification:
    def test_reference_fixture(self, spark):
        """FIXTURES.md §2.8: 8 series of sz 6, 3 patterns."""
        from tslearn_spark.early_classification import NonMyopicEarlyClassifier

        data = [
            [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6],
            [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1],
            [3, 2, 1, 1, 2, 3], [3, 2, 1, 1, 2, 3],
        ]
        y = ["0", "0", "0", "1", "1", "1", "0", "0"]
        df = DS.dataset_to_df(spark, [[float(v) for v in row] for row in data],
                              labels=y).cache()
        df.count()
        model = NonMyopicEarlyClassifier(n_clusters=3, lamb=1000.0,
                                         cost_time_parameter=0.1,
                                         random_state=0).fit(df)
        out = model.predict_class_and_earliness(df)
        rows = {r["series_id"]: r for r in out.collect()}
        # predictions must be exact; earliness <= full length
        for i in range(8):
            assert rows[i]["prediction"] == y[i]
            assert 1 <= rows[i]["pred_time"] <= 6
        # early stopping: at least some series decided before the end
        assert any(rows[i]["pred_time"] < 6 for i in range(8))
        cost = model.early_classification_cost(df)
        assert cost > 0

    def test_predict_proba_and_earliness(self, spark):
        """Reference early_classification.py:455-530: with the built-in
        1-NN base classifier the probabilities are one-hot at the
        predicted class; times match predict_class_and_earliness."""
        from tslearn_spark.early_classification import NonMyopicEarlyClassifier

        data = [
            [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6],
            [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1],
            [3, 2, 1, 1, 2, 3], [3, 2, 1, 1, 2, 3],
        ]
        y = ["0", "0", "0", "1", "1", "1", "0", "0"]
        df = DS.dataset_to_df(spark, [[float(v) for v in row] for row in data],
                              labels=y).cache()
        model = NonMyopicEarlyClassifier(n_clusters=3, lamb=1000.0,
                                         cost_time_parameter=0.1,
                                         random_state=0).fit(df)
        cls_rows = {r["series_id"]: r
                    for r in model.predict_class_and_earliness(df).collect()}
        rows = {r["series_id"]: r
                for r in model.predict_proba_and_earliness(df).collect()}
        classes = [str(c) for c in model.classes_]
        for i in range(8):
            p = rows[i]["probabilities"]
            assert sum(p) == 1.0 and set(p) <= {0.0, 1.0}
            assert classes[p.index(1.0)] == cls_rows[i]["prediction"]
            assert rows[i]["pred_time"] == cls_rows[i]["pred_time"]
        # predict_proba = first element, same rows
        pp = {r["series_id"]: r["probabilities"]
              for r in model.predict_proba(df).collect()}
        assert all(pp[i] == rows[i]["probabilities"] for i in range(8))
        # numpy-in -> (probas matrix, times array)
        import numpy as np

        Xarr = np.array(data, dtype=np.float64)[:, :, None]
        probs, times = model.predict_proba_and_earliness(Xarr)
        assert probs.shape == (8, 2) and times.shape == (8,)

    def test_chunked_confusion_fallback_matches_broadcast(
            self, spark, monkeypatch):
        """Plan lock for the classifier-half broadcast byte budget: past
        the budget the fit switches to the chunked shuffle fallback
        (_conf_plan_ == 'chunked') and the fitted confusion tensor is
        BIT-IDENTICAL to the broadcast plan's — the per-pair cumsum
        arithmetic is chunk-invariant and the struct-min merge replays
        the (cum asc, tid asc) argmin tie order."""
        import tslearn_spark.session as S
        from tslearn_spark.early_classification import NonMyopicEarlyClassifier

        data = [
            [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6],
            [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1],
            [3, 2, 1, 1, 2, 3], [3, 2, 1, 1, 2, 3],
            [0, 1, 2, 3, 4, 5], [2, 2, 2, 2, 2, 2],
        ]
        y = ["0", "0", "0", "1", "1", "1", "0", "0", "0", "1"]
        df = DS.dataset_to_df(
            spark, [[float(v) for v in row] for row in data], labels=y
        ).cache()
        df.count()
        ref = NonMyopicEarlyClassifier(
            n_clusters=3, lamb=1000.0, cost_time_parameter=0.1,
            random_state=0).fit(df)
        assert ref._conf_plan_ == "broadcast"
        # 10 series * 6 positions * 1 dim = 60 values; budget 12 forces
        # the ~5-row classifier half into >= 2 chunks
        monkeypatch.setattr(S, "BROADCAST_LIMIT_VALUES", 12)
        alt = NonMyopicEarlyClassifier(
            n_clusters=3, lamb=1000.0, cost_time_parameter=0.1,
            random_state=0).fit(df)
        assert alt._conf_plan_ == "chunked"
        np.testing.assert_array_equal(ref.pyhatyck_, alt.pyhatyck_)
        np.testing.assert_array_equal(ref.pyck_, alt.pyck_)
        got = {r["series_id"]: r["prediction"]
               for r in alt.predict_class_and_earliness(df).collect()}
        want = {r["series_id"]: r["prediction"]
                for r in ref.predict_class_and_earliness(df).collect()}
        assert got == want

    def test_classifiers_dict_attribute(self, spark):
        """classifiers_ is a dict {t: per-prefix classifier} after fit
        (early_classification.py:48-50,164-165; the reference doctest
        pins type(model.classifiers_) is dict).  The full-length
        member's predictions equal 1-NN over the whole series, and each
        handle exposes classes_ (the reference's classes_ property reads
        classifiers_[min_t].classes_, early_classification.py:123-124)."""
        import pytest

        from tslearn_spark.early_classification import NonMyopicEarlyClassifier

        data = [
            [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6],
            [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1],
            [3, 2, 1, 1, 2, 3], [3, 2, 1, 1, 2, 3],
        ]
        y = ["0", "0", "0", "1", "1", "1", "0", "0"]
        df = DS.dataset_to_df(spark, [[float(v) for v in row] for row in data],
                              labels=y).cache()
        model = NonMyopicEarlyClassifier(n_clusters=3, lamb=1000.0,
                                         cost_time_parameter=0.1,
                                         random_state=0)
        with pytest.raises(AttributeError):
            model.classifiers_
        model.fit(df)
        clfs = model.classifiers_
        assert type(clfs) is dict
        assert sorted(clfs) == list(range(model.min_t, 7))
        assert list(clfs[model.min_t].classes_) == ["0", "1"]
        # the sz-length member is plain 1-NN against the classifier half
        pred = {r["series_id"]: r["prediction"]
                for r in clfs[6].predict(df).collect()}
        assert all(pred[i] == y[i] for i in range(8))

    def test_cluster_probas_golden(self, spark):
        """get_cluster_probas doctest: lamb=0 -> uniform."""
        from tslearn_spark.early_classification import NonMyopicEarlyClassifier

        data = [
            [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6], [1, 2, 3, 4, 5, 6],
            [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1], [1, 2, 3, 3, 2, 1],
            [3, 2, 1, 1, 2, 3], [3, 2, 1, 1, 2, 3],
        ]
        y = ["0", "0", "0", "1", "1", "1", "0", "0"]
        df = DS.dataset_to_df(spark, [[float(v) for v in row] for row in data],
                              labels=y).cache()
        m0 = NonMyopicEarlyClassifier(n_clusters=3, lamb=0.0, random_state=0).fit(df)
        p = m0.get_cluster_probas(np.array([[1.0], [2.0]]))
        np.testing.assert_allclose(p, [1 / 3] * 3, atol=1e-9)
        m1 = NonMyopicEarlyClassifier(n_clusters=3, lamb=10000.0, random_state=0).fit(df)
        p1 = m1.get_cluster_probas(np.array([[3.0], [2.0]]))
        assert p1.max() > 0.99  # hard assignment at high lambda


class TestStackSeries:
    def test_matches_per_element_conversion(self):
        """early_classification._stack_series equals the per-element
        Python conversion it replaced, on Arrow-converted columns (NaN,
        +-inf, d=1 and d=2, one series; all-empty has size 0)."""
        import pyarrow as pa

        from tslearn_spark.early_classification import _stack_series

        rs = np.random.RandomState(7)
        typ = pa.list_(pa.list_(pa.float64()))
        for m, sz, d in ((5, 12, 1), (3, 4, 2), (1, 1, 1)):
            X = rs.randn(m, sz, d)
            X[0, 0, 0] = np.nan
            X[-1, -1, -1] = np.inf
            X[0, -1, 0] = -np.inf
            col = pa.array(X.tolist(), type=typ).to_pandas()
            old = np.asarray([[list(map(float, ts)) for ts in v]
                              for v in col], dtype=np.float64)
            got = _stack_series(col)
            assert got.dtype == np.float64 and got.shape == old.shape
            assert got.tobytes() == old.tobytes()
        assert _stack_series(pa.array([[], []], type=typ).to_pandas()).size == 0
        with pytest.raises(ValueError):
            _stack_series(pa.array([[[1.0]], [[1.0], [2.0]]], type=typ)
                          .to_pandas())


class TestLoadTablesMemo:
    def test_memo_and_sf_switch(self, spark):
        """Table handles are memoized per (session, sf_dir); switching
        sf_dir re-registers the temp views so SQL reads the right data."""
        import os

        from tslearn_spark.session import load_tables

        if not (os.path.isdir("/root/testdata/sf0.001")
                and os.path.isdir("/root/testdata/sf0.01")):
            import pytest as _p
            _p.skip("driver testdata not present")
        a1 = load_tables(spark, "/root/testdata/sf0.001")
        a2 = load_tables(spark, "/root/testdata/sf0.001")
        assert a1 is a2  # memo hit
        n_small = spark.sql("SELECT count(*) c FROM events").first()["c"]
        b = load_tables(spark, "/root/testdata/sf0.01")
        n_big = spark.sql("SELECT count(*) c FROM events").first()["c"]
        assert n_big > n_small
        a3 = load_tables(spark, "/root/testdata/sf0.001")
        assert a3 is a1  # memo survives the switch
        assert spark.sql("SELECT count(*) c FROM events").first()["c"] == n_small
        assert b["events"] is not a1["events"]

    def test_partial_failure_does_not_stale_memo(self, spark):
        """A load with a corrupt table still moves the sf marker: the
        registered views belong to the new dir, so a later memo hit for
        the previous dir must re-register, not silently read the
        partially-loaded dir's data."""
        import os
        import shutil
        import tempfile

        from tslearn_spark.session import load_tables

        if not os.path.isdir("/root/testdata/sf0.001"):
            import pytest as _p
            _p.skip("driver testdata not present")
        load_tables(spark, "/root/testdata/sf0.001")
        n_small = spark.sql("SELECT count(*) c FROM lineitem").first()["c"]
        bad_dir = tempfile.mkdtemp()
        try:
            for f in os.listdir("/root/testdata/sf0.01"):
                shutil.copy(os.path.join("/root/testdata/sf0.01", f), bad_dir)
            with open(os.path.join(bad_dir, "events.parquet"), "wb") as fh:
                fh.write(b"garbage")  # one unreadable table -> partial load
            load_tables(spark, bad_dir)
            load_tables(spark, "/root/testdata/sf0.001")
            assert (spark.sql("SELECT count(*) c FROM lineitem").first()["c"]
                    == n_small)
        finally:
            shutil.rmtree(bad_dir, ignore_errors=True)
