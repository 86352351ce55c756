"""kNN predict: the fused broadcast-DTW path against the SQL vote.

On the broadcast-DTW path each task ranks and reduces its queries'
top-k rows itself (neighbors._vote / _weighted_mean); every other path
ranks in a window and votes in SQL.  Forcing the train set past the
broadcast budget (``session.BROADCAST_LIMIT_VALUES = 0``) sends the same
call down the pair join and the SQL vote, so the two reducers can be
compared on one input.
"""

from __future__ import annotations

import numpy as np
import pytest

import tslearn_spark.neighbors as N
import tslearn_spark.session as S

SCHEMA = "series_id long, values array<array<double>>, label {}, y double"


def _train_rows(d):
    """Mixed-length train set: two identical series under different
    labels (exact distance ties), a null label, a null target, integer
    labels that tie under the uniform vote."""
    rs = np.random.RandomState(3)
    rows = []
    labels = [1, 2, 1, None, 2, 3, 1, 2, 3, None]
    for i, lab in enumerate(labels):
        v = rs.randn(rs.randint(4, 12), d).round(2)
        rows.append((i, v.tolist(), lab, float(i % 4) if i != 7 else None))
    rows.append((10, rows[2][1], 2, 5.0))  # duplicate of series 2
    return rows


def _query_rows(train, d):
    rs = np.random.RandomState(4)
    rows = [(100 + i, rs.randn(rs.randint(4, 12), d).round(2).tolist(),
             None, None) for i in range(6)]
    rows.append((106, train[5][1], None, None))  # dist 0 -> 1e-12 clamp
    rows.append((107, train[2][1], None, None))  # ties two train series
    rows.append((108, [[float("nan")] * d] * 5, None, None))  # no neighbor
    return rows


def _frames(spark, d, label_type="int"):
    train = _train_rows(d)
    if label_type == "string":
        train = [r[:2] + (None if r[2] is None else f"c{r[2]}",) + r[3:]
                 for r in train]
    schema = SCHEMA.format(label_type)
    return (spark.createDataFrame(_query_rows(train, d), schema),
            spark.createDataFrame(train, schema))


def _both(monkeypatch, fn, *args, **kw):
    """(fused, SQL) results of one kNN predict call, sorted by id."""
    fused = fn(*args, **kw)
    assert "Window" not in fused._jdf.queryExecution().executedPlan() \
        .toString()
    got = sorted(map(tuple, fused.collect()))
    with monkeypatch.context() as m:
        m.setattr(S, "BROADCAST_LIMIT_VALUES", 0)
        sql = fn(*args, **kw)
        assert sql.schema.simpleString() == fused.schema.simpleString()
        want = sorted(map(tuple, sql.collect()))
    return got, want


@pytest.mark.parametrize("d", [1, 2])
@pytest.mark.parametrize("weights", ["uniform", "distance"])
@pytest.mark.parametrize("k", [1, 3, 20])
def test_fused_vote_matches_sql(spark, monkeypatch, k, weights, d):
    q, t = _frames(spark, d)
    got, want = _both(monkeypatch, N.knn_classify, q, t, k=k,
                      weights=weights, sakoe_chiba_radius=2)
    assert got == want
    assert 108 not in {r[0] for r in got}  # NaN query: no output row
    assert len(got) == 8


@pytest.mark.parametrize("weights", ["uniform", "distance"])
@pytest.mark.parametrize("k", [1, 3, 20])
def test_fused_mean_matches_sql(spark, monkeypatch, k, weights):
    q, t = _frames(spark, 2)
    got, want = _both(monkeypatch, N.knn_regress, q, t, k=k,
                      weights=weights, target_col="y")
    assert [r[0] for r in got] == [r[0] for r in want]
    assert len(got) == 8
    a = np.array([np.nan if r[1] is None else r[1] for r in got])
    b = np.array([np.nan if r[1] is None else r[1] for r in want])
    np.testing.assert_allclose(a, b, rtol=1e-12)


def test_fused_vote_string_labels(spark, monkeypatch):
    q, t = _frames(spark, 1, "string")
    got, want = _both(monkeypatch, N.knn_classify, q, t, k=3)
    assert got == want and len(got) == 8


def test_fused_vote_empty_query_set(spark, monkeypatch):
    q, t = _frames(spark, 1)
    got, want = _both(monkeypatch, N.knn_classify, q.limit(0), t, k=3)
    assert got == want == []


def test_equal_vote_weights_go_to_the_first_rank():
    # query 5: labels 2 and 1 each hold weight 1 -> label 2, seen at rank
    # 1, wins although 1 < 2; query 7: one row with a null label (code 0)
    id1 = np.array([5, 5, 7])
    sid, code = N._vote(id1, np.array([0.5, 0.7, 1.0]),
                        np.array([2, 1, 0]), "uniform")
    assert sid.tolist() == [5, 7] and code.tolist() == [2, 0]


def test_empty_train_series_never_ranks(spark, monkeypatch):
    """A train series with 0 timestamps gives no neighbor row, and the
    other rows are those of the train set without it (the broadcast
    gate must not index into it), on the fused and the SQL path."""
    q, t = _frames(spark, 1)
    empty = spark.createDataFrame([(50, [], 1, 1.0)], SCHEMA.format("int"))
    for train in (t, t.unionByName(empty)):
        got, want = _both(monkeypatch, N.kneighbors, q, train, k=4,
                          metric="dtw")
        assert got == want and len(got) == 8 * 4
        assert 50 not in {r[1] for r in got}
        ranked = sorted(got, key=lambda r: (r[0], r[3]))
        assert [r[3] for r in ranked] == [1, 2, 3, 4] * 8
        assert all(a[2:0:-1] <= b[2:0:-1]  # (dist, id2) order
                   for a, b in zip(ranked, ranked[1:]) if a[0] == b[0])


def test_collect_within_counts_values_without_indexing(spark):
    from tslearn_spark.session import collect_within

    schema = "series_id long, values array<array<double>>"
    df = spark.createDataFrame(
        [(0, [[1.0, 2.0]] * 3), (1, []), (2, [[0.0, 0.0]])], schema)
    # 6 + 0 + 2 values: a 0-timestamp series counts 0, and a total
    # exactly at the limit fits
    got = collect_within(df, 8)
    assert got.column("series_id").to_pylist() == [0, 1, 2]
    assert got.column("values").to_pylist()[1] == []
    assert collect_within(df, 7) is None
    empty = collect_within(df.limit(0), 0)
    assert empty.num_rows == 0 and empty.schema.names == ["series_id",
                                                          "values"]
    # a multi-partition frame comes back in partition order, although
    # its first partition finishes last
    def slow_first_partition(batches):
        import time

        for pdf in batches:
            if (pdf["series_id"] == 0).any():
                time.sleep(1.0)
            yield pdf

    wide = spark.range(0, 4000, 1, 4).selectExpr(
        "id AS series_id", "array(array(CAST(id AS double))) AS values"
    ).mapInPandas(slow_first_partition, schema)
    got = collect_within(wide, 4000)
    assert got.column("series_id").to_pylist() == list(range(4000))


def test_collect_within_cancels_past_the_budget(spark):
    """An over-budget collect returns None and leaves the session as it
    found it: no active job, no job tag, the caller's job group intact
    (its jobs ran under that group), and the next query runs."""
    from tslearn_spark.session import collect_within

    sc = spark.sparkContext
    big = spark.range(0, 400_000, 1, 8).selectExpr(
        "id AS series_id", "array(array(CAST(id AS double), 1.0D)) AS values")
    group = "collect_within_over_budget"
    sc.setJobGroup(group, "over-budget collect")
    try:
        assert collect_within(big, 1000) is None
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert len(sc.getJobTags()) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    assert list(tracker.getActiveJobsIds()) == []
    assert len(tracker.getJobIdsForGroup(group)) == 1
    assert spark.range(10).count() == 10


def test_broadcast_dtw_predict_runs_three_jobs(spark):
    """knn_classify on the broadcast-DTW path runs exactly 3 Spark jobs
    from the call to the collected result: the bounded train collect,
    then size_tasks' round-robin shuffle and the map of the predict
    (three query partitions for one task's work, as in
    test_plans.py::test_broadcast_dtw_predict_is_one_map_stage)."""
    q, t = _frames(spark, 2)
    q = q.repartition(3)
    sc = spark.sparkContext
    group = "broadcast_dtw_predict_jobs"
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    sc.setJobGroup(group, "broadcast-DTW kNN predict")
    try:
        got = N.knn_classify(q, t, k=3, sakoe_chiba_radius=2).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(got) == 8
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
