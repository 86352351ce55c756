"""kNN over elastic metrics — the top-k-per-group layer.

Reference: tslearn/neighbors/neighbors.py:19-717.

Spark-first: the reference materializes the full query×train distance
matrix then argpartitions (neighbors.py:145-161).  We never materialize
it.  DTW on a train set within the broadcast budget runs in ONE map
stage, with no shuffle after the kernel, after one bounded collect:

    session.collect_within(train)   one Arrow job, cancelled past the
      budget -> flat train buffer (ckernel.Flat), ids, labels|targets
    broadcast(that) -> size_tasks(queries) -> mapInArrow: per query
      record batch, read straight into the kernel's flat buffer
      (ckernel.Flat.from_arrow), the fused top-k (kernels.dtw_knn_topk,
      rows in (dist, id) order), then in the same task rank ->
      (id1, id2, dist, rank) | vote / weighted mean ->
      (series_id, prediction)

A kNN predict on this path runs 3 Spark jobs: the collect, then the
round-robin shuffle and the map of the predict itself.

Every other path spreads a query's candidates over several tasks and
ranks and votes in SQL:

    queries x train (pair join, euclidean BLAS partials, SAX words)
      -> metric -> row_number() OVER (PARTITION BY query
                                      ORDER BY dist, id) <= k
      -> join broadcast(train labels) -> groupBy + window vote / avg

Ties break by train id for determinism, and both vote forms apply the
same rules.  For train sets too big to broadcast the pair join runs as a
shuffle join and AQE picks the strategy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tslearn_spark import ckernel
from tslearn_spark import metrics as M
from tslearn_spark.bases import (BaseModelPackage, ClassifierScoreMixin,
                                 RegressorScoreMixin, TimeSeriesBaseEstimator)
from tslearn_spark.session import collect_within, size_tasks
from tslearn_spark.topk import topk_matrix_tiebreak


def _euclidean_topk(queries: DataFrame, train: DataFrame, k: int,
                    drop_self: bool):
    """Equal-length euclidean kNN via broadcast queries + per-partition
    BLAS matmul and map-side partial top-k (the simsearch pattern), or
    None when the query set is over the broadcast budget or the series
    are not all of one length (one aggregate over train checks it).

    Shuffle volume is O(n_queries x k x n_partitions); the train side is
    streamed, never collected.
    """
    q_tab = collect_within(queries.select("series_id", "values"))
    if q_tab is None:
        return None
    q_flat = ckernel.Flat.from_arrow(q_tab.column("values"))
    sizes = set(q_flat.lens.tolist())
    if len(sizes) != 1:  # no queries, or several lengths
        return None
    t_sz = train.select(F.min(F.size("values")).alias("lo"),
                        F.max(F.size("values")).alias("hi")).first()
    sizes.update(v for v in t_sz if v is not None)
    if len(sizes) != 1:
        return None
    q_ids = q_tab.column("series_id").to_numpy().astype(np.int64)
    Q = q_flat.buf.reshape(len(q_ids), -1)
    spark = train.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, Q))

    def gen(batches):
        from tslearn_spark.blasctl import limit_blas_threads

        limit_blas_threads(1)  # task-parallel workers: 1 BLAS thread each
        ids_b, Qm = bc.value
        q_sq = np.einsum("ij,ij->i", Qm, Qm)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            cid = batch.column("series_id").to_numpy().astype(np.int64)
            C = ckernel.Flat.from_arrow(batch.column("values")).buf.reshape(
                cid.size, -1)
            c_sq = np.einsum("ij,ij->i", C, C)
            d2 = c_sq[:, None] + q_sq[None, :] - 2.0 * (C @ Qm.T)
            np.maximum(d2, 0.0, out=d2)
            if drop_self:
                d2 = np.where(cid[:, None] == ids_b[None, :], np.inf, d2)
            kk = min(k, d2.shape[0])
            # Exact re-rank near the top-k boundary.  The dot-product
            # identity cancels catastrophically on near-duplicate pairs
            # (a true d2 of 0 reads as ~1e-11, i.e. dist 4e-6 — the sf1
            # board's duplicated series caught exactly this), and that
            # noise also scrambles the (dist, id) tie order among exact
            # duplicates.  Every pair within an FP-error bound of the
            # k-th smallest identity-d2 is recomputed with the direct
            # difference association — selection keeps the GEMM speed,
            # the reported distances and tie ranking become exact.
            eps_b = 128.0 * np.finfo(np.float64).eps * (
                q_sq + (float(c_sq.max()) if c_sq.size else 0.0))
            kth = np.partition(d2, kk - 1, axis=0)[kk - 1, :]
            near = (d2 <= (kth + eps_b)[None, :]) & np.isfinite(d2)
            rows, colsq = np.nonzero(near)
            if rows.size:
                diff = C[rows] - Qm[colsq]
                d2[rows, colsq] = np.einsum("ij,ij->i", diff, diff)
            # tie-aware partial top-k (tslearn_spark.topk): duplicate
            # train series tie exactly; the cutoff ties must resolve by
            # smallest id or the final (dist, id2) window loses rows
            sel = topk_matrix_tiebreak(d2, cid, kk)
            cols = np.arange(d2.shape[1])[None, :]
            yield pa.RecordBatch.from_arrays(
                [np.repeat(ids_b, kk), cid[sel].T.ravel(),
                 np.sqrt(d2[sel, cols]).T.ravel()], ["id1", "id2", "dist"])

    partial = train.select("series_id", "values").mapInArrow(
        gen, "id1 long, id2 long, dist double").where(
        F.col("dist") < float("inf")
    )
    w = Window.partitionBy("id1").orderBy(F.col("dist").asc(), F.col("id2").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id1", "id2", "dist", "rank")
    )


# task-sizing work of one banded-DP cell of the batched DTW kernel
# (flop-equivalents of ~0.5 ns, see session.TASK_WORK).  Measured
# single-thread on a 4-vCPU x86-64 VM, z-normalized random walks: every
# cell computed (dtw_batch) 1.4-1.6 ns/cell at sz 50-85 r=4, 120-136 r=5
# and 480-544 r=50, i.e. ~3 units; the broadcast kNN's early abandon
# (k=1) leaves 0.22-0.37 ns per banded cell.  16 errs toward more tasks
_DP_CELL_WORK = 16


def _weight_col(weights: str):
    """The vote weight of a neighbor row: 1, or 1/dist with dist <= 0
    clamped to 1e-12 (``_weights`` is its numpy twin)."""
    if weights == "distance":
        return 1.0 / F.when(F.col("dist") <= 0.0, F.lit(1e-12)).otherwise(
            F.col("dist"))
    return F.lit(1.0)


def _weights(dist: np.ndarray, weights: str) -> np.ndarray:
    if weights == "distance":
        return 1.0 / np.where(dist <= 0.0, 1e-12, dist)
    return np.ones_like(dist)


def _query_runs(id1: np.ndarray):
    """``(starts, run)``: each query's first row and every row's query
    index, for rows grouped by query (the fused top-k's row order)."""
    new = np.ones(id1.size, dtype=bool)
    new[1:] = id1[1:] != id1[:-1]
    starts = np.flatnonzero(new)
    run = np.repeat(np.arange(starts.size),
                    np.diff(np.r_[starts, id1.size]))
    return starts, run


def _vote(id1, dist, codes, weights):
    """Per query, the winning label code among its top-k rows (grouped
    by query, each in rank order), by the SQL vote's rules: max summed
    weight, then the smallest first rank, then the smallest code
    (codes follow the label order, nulls first).  Weights add up in
    rank order.  Returns ``(query ids, codes)``."""
    starts, run = _query_runs(id1)
    rank = np.arange(id1.size) - starts[run]
    key = run * (int(codes.max(initial=0)) + 1) + codes
    _, first, inv = np.unique(key, return_index=True, return_inverse=True)
    w = np.bincount(inv.ravel(), weights=_weights(dist, weights))
    k_run = run[first]
    order = np.lexsort((codes[first], rank[first], -w, k_run))
    win = order[_query_runs(k_run[order])[0]]  # each query's best
    return id1[starts], codes[first][win]


def _weighted_mean(id1, dist, y, weights):
    """Per query, sum(y*w)/sum(w) over its top-k rows, summed in rank
    order.  Like the SQL ``sum``, a null (NaN) target leaves the
    numerator only, and a query whose targets are all null predicts
    null.  Returns ``(query ids, predictions)``."""
    starts, run = _query_runs(id1)
    w = _weights(dist, weights)
    known = ~np.isnan(y)
    num = np.bincount(run, weights=np.where(known, y * w, 0.0),
                      minlength=starts.size)
    den = np.bincount(run, weights=w, minlength=starts.size)
    has = np.bincount(run, weights=known, minlength=starts.size) > 0
    return id1[starts], np.where(has, num / den, np.nan)


def _label_codes(labels: pd.Series, dtype):
    """``(codes, values)``: each train label's code (0 for null, then
    1.. in ascending label order) and the label value of every code, as
    Python objects of the column's Spark type.  NaN labels read as null
    (pandas holds both as NaN)."""
    from pyspark.sql.types import IntegralType

    codes, uniq = pd.factorize(labels, sort=True)
    values = np.empty(len(uniq) + 1, dtype=object)
    # integer labels with nulls arrive as float64
    values[1:] = ([int(v) for v in uniq] if isinstance(dtype, IntegralType)
                  else uniq.tolist())
    return codes.astype(np.int64) + 1, values


def _dtw_topk_broadcast(queries: DataFrame, train: DataFrame, k: int,
                        metric: str, params: dict, drop_self: bool,
                        reduce=None):
    """DTW kNN via broadcast train + one fused top-k call per Arrow
    batch; each task emits its queries' FINAL rows.  None off this path:
    another metric, an Itakura constraint, or a train set that is empty
    or over the broadcast budget (``session.collect_within``, the one
    job this call runs; the caller then takes the pair join).

    The pair-join plan ships every train series once PER QUERY through
    Arrow (n_q x n_t nested rows — the dominant stage cost, not the
    kernel).  Here the train set is collected once, straight from Arrow
    into the flat buffer, offsets and lengths the compiled kernel reads
    (``ckernel.Flat``), broadcast once per executor, and each query
    batch makes one ``kernels.dtw_knn_topk`` call against ALL train
    series.  In the compiled tier each query scans the train set once
    and every DP is capped at its running k-th best (exact early
    abandon, always on); the reference tier evaluates every pair.  Exact
    either way: every pair that could rank is evaluated in full.

    A query's top-k rows come out of one call, in the final (dist, id2)
    order, so the task ranks and reduces them itself and no shuffle
    follows the map (the query ``series_id`` is a unique key).
    ``reduce`` picks the rows:

    * None: ``(id1, id2, dist, rank)``, rank from that order;
    * ``("classify", label_col, weights)``: ``(series_id, prediction)``
      by ``_vote`` — the train labels ride the broadcast, so there is no
      label join;
    * ``("regress", target_col, weights)``: ``(series_id, prediction)``
      by ``_weighted_mean``.

    Distance-weighted sums add up in rank order, so they are
    deterministic.  A query with no finite neighbor (a NaN series, an
    empty train series) emits no row.
    """
    from pyspark.sql.pandas.types import to_arrow_type

    from tslearn_spark import kernels as K

    banded, radius = M.dtw_band(metric, params)
    if not banded:
        return None
    kind, col, weights = reduce or (None, None, None)
    cols = ["series_id", "values"]
    if kind is not None:
        cols.append(F.col(col).alias("_y"))
    t_tab = collect_within(train.select(*cols))
    if t_tab is None or t_tab.num_rows == 0:
        return None
    t_ids = t_tab.column("series_id").to_numpy()
    T = ckernel.Flat.from_arrow(t_tab.column("values"))
    if kind is None:
        schema, side = "id1 long, id2 long, dist double, rank int", None
    else:
        by_id = np.argsort(t_ids, kind="stable")
        y = t_tab.column("_y").to_pandas()
        if kind == "classify":
            dtype = train.schema[col].dataType
            codes, values = _label_codes(y, dtype)
            values = pa.array(values, type=to_arrow_type(dtype))
            side = (t_ids[by_id], codes[by_id], values)
            schema = f"series_id long, prediction {dtype.simpleString()}"
        else:
            y = y.to_numpy(dtype=np.float64, na_value=np.nan)
            side = (t_ids[by_id], y[by_id], None)
            schema = "series_id long, prediction double"
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((t_ids, T, side))
    n_t = len(t_ids)
    med_t, w_est = K.dtw_band_estimate(T.lens, radius)

    def gen(batches):
        ids_t, T, side_b = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            id1, id2, dist = K.dtw_knn_topk(
                ckernel.Flat.from_arrow(batch.column("values")),
                batch.column("series_id").to_numpy(), T, ids_t, radius, k,
                drop_self)
            if id1.size == 0:
                continue
            if kind is None:
                starts, run = _query_runs(id1)
                rank = np.arange(id1.size) - starts[run] + 1
                yield pa.RecordBatch.from_arrays(
                    [id1, id2, dist, rank.astype(np.int32)],
                    ["id1", "id2", "dist", "rank"])
                continue
            sorted_ids, per_train, values = side_b
            at = per_train[np.searchsorted(sorted_ids, id2)]
            if kind == "regress":
                sid, pred = _weighted_mean(id1, dist, at, weights)
                # an all-null target's NaN prediction leaves as null
                pred = pa.array(pred, from_pandas=True)
            else:
                sid, code = _vote(id1, dist, at, weights)
                pred = values.take(code)
            yield pa.RecordBatch.from_arrays([sid, pred],
                                             ["series_id", "prediction"])

    # per query row: one banded DP against every train series
    return size_tasks(
        queries.select("series_id", "values"),
        n_t * (med_t * w_est) * _DP_CELL_WORK,
    ).mapInArrow(gen, schema)


def _sax_word_candidates(q_words: DataFrame, t_cand: DataFrame, sax,
                         keep: int) -> DataFrame:
    """Word-level SAX candidate table: exact MINDIST over DISTINCT
    (query word, query length) x (train word, id) rows, top ``keep`` per
    (w1, sz1) by (dist, id2) — split out so tests can count/plan-check
    the scored pair set independently of the join back to series ids."""
    pairs = size_tasks(q_words).crossJoin(F.broadcast(t_cand))
    scored = pairs.withColumn(
        "dist", sax.distance_col("sax1", "sax2", "sz1")
    ).select("w1", "sz1", "id2", "dist")
    w_word = Window.partitionBy("w1", "sz1").orderBy(
        F.col("dist").asc(), F.col("id2").asc()
    )
    return (
        scored.withColumn("_r", F.row_number().over(w_word))
        .where(F.col("_r") <= keep)
        .select("w1", "sz1", "id2", "dist")
    )


def _sax_knn(queries: DataFrame, train: DataFrame, k: int,
             drop_self: bool, params: dict) -> DataFrame:
    """kNN under the SAX MINDIST metric — fully SQL, no Python kernel.

    Mirrors KNeighborsTimeSeriesClassifier(metric="sax")
    (tslearn/neighbors/neighbors.py:459-500): both sides are
    SAX-transformed once (the fit-time pre-transform), then the distance
    is the MINDIST expression evaluated in codegen.  The scale factor
    uses the query series' own original length, which reduces to the
    reference's fixed sz on equal-length data and extends it to
    variable-length datasets.

    Scale design — word-dedup candidate generation instead of the naive
    n_q x n_t pair join (the reference materializes the full matrix):
    MINDIST depends ONLY on (query word, train word, query length), the
    word space is capped at alphabet^(n_segments*d), and z-normalized
    corpora concentrate far below the cap (sf0.1 events: 592 distinct
    words across 1500 series — unchanged at 10x rows, so the scored
    pair count is SCALE-INVARIANT once the word space saturates).

      1. per train word keep only the k (+1 under drop_self) lowest ids
         — any other member is dominated (identical dist, larger id)
         and can never enter a top-k;
      2. score distinct (word1, sz1) x (word2, id2) rows with the exact
         MINDIST expression; keep k(+1) per (word1, sz1) by (dist, id2)
         — the ordering the full join would use, since every query
         sharing (word1, sz1) sees identical candidate rows;
      3. join the survivors back to the queries on (word1, sz1), drop
         self pairs (each query loses at most its own id, hence the +1
         over-fetch), final row_number per query.

    Worst case (every word distinct) this degenerates to the same pair
    count as the naive join plus two row-bounded aggregates — the
    overhead is O(rows), the win O(rows^2 / distinct^2), so the dedup
    path runs unconditionally.
    """
    from tslearn_spark.piecewise import SAX

    sax = params.get("_fitted_sax")  # class API reuses its fit-time SAX
    if sax is None:
        n_segments = int(params.get("n_segments", 10))
        alphabet = int(params.get("alphabet_size_avg", 5))
        sax = SAX(n_segments=n_segments, alphabet_size_avg=alphabet,
                  scale=bool(params.get("scale", False))).fit(train)
    keep = k + 1 if drop_self else k
    # flattened word as the group/join key (d is constant per dataset, so
    # the flat key and the nested sax array determine each other); the
    # nested representative rides along for the distance expression
    q_sym = sax.transform(queries).select(
        F.col("series_id").alias("id1"),
        F.col("sax").alias("sax1"),
        F.flatten("sax").alias("w1"),
        F.size("values").alias("sz1"),
    )
    q_words = q_sym.groupBy("w1", "sz1").agg(F.first("sax1").alias("sax1"))
    t_words = sax.transform(train).select(
        F.col("series_id").alias("id2"),
        F.col("sax").alias("sax2"),
        F.flatten("sax").alias("w2"),
    ).groupBy("w2").agg(
        F.slice(F.sort_array(F.collect_list("id2")), 1, keep).alias("_ids"),
        F.first("sax2").alias("sax2"),
    )
    t_cand = t_words.select("sax2", F.explode("_ids").alias("id2"))
    cand = _sax_word_candidates(q_words, t_cand, sax, keep)
    out = q_sym.select("id1", "w1", "sz1").join(cand, ["w1", "sz1"])
    if drop_self:
        out = out.where(F.col("id1") != F.col("id2"))
    w = Window.partitionBy("id1").orderBy(F.col("dist").asc(), F.col("id2").asc())
    return (
        out.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id1", "id2", "dist", "rank")
    )


def kneighbors(
    queries: DataFrame,
    train: DataFrame,
    k: int = 1,
    metric: str = "dtw",
    drop_self: bool = False,
    **params,
) -> DataFrame:
    """(id1=query, id2=neighbor, dist, rank), rank<=k per query; the
    query ``series_id`` is a unique key.

    drop_self: for self-kNN, exclude the identical id (neighbors.py:163-168).
    metric="dtw" (unconstrained or Sakoe-Chiba) on a broadcastable train
    set takes the fused top-k path (_dtw_topk_broadcast: the train side
    is collected once by session.collect_within, which also decides
    "broadcastable" — one Arrow job, cancelled past the budget — then
    one kernels.dtw_knn_topk call per query batch, early abandon at the
    running k-th best in the compiled tier, rank assigned in the task,
    no shuffle after it); metric="euclidean" on equal-length series and
    a query set within the budget (collect_within over the queries, one
    aggregate over train for its lengths) takes the BLAS matmul +
    partial-top-k path; everything else runs the pair join with the
    Arrow-batched kernel UDF.  On every path a pair without a finite
    distance (a NaN series, a train series with 0 timestamps) never
    ranks.  The compute-bound query side is spread by session.size_tasks:
    on the broadcast DTW path by its DP cells, measured from the
    collected train lengths; on the pair join one query per task, up to
    the slots.
    """
    fused = _dtw_topk_broadcast(queries, train, k, metric, params,
                                drop_self)
    if fused is not None:
        return fused
    return _kneighbors_spread(queries, train, k, metric, drop_self, params)


def _kneighbors_spread(queries: DataFrame, train: DataFrame, k: int,
                       metric: str, drop_self: bool,
                       params: dict) -> DataFrame:
    """kneighbors off the broadcast-DTW path: a query's candidate rows
    are spread over several tasks, so a final (dist, id2) window ranks
    them."""
    if metric == "sax":
        return _sax_knn(queries, train, k, drop_self, params)
    if metric == "euclidean" and not params:
        # fast path: equal-length series, query set within the budget
        out = _euclidean_topk(queries, train, k, drop_self)
        if out is not None:
            return out
    pairs = M.cross_pairs(queries, train)
    if drop_self:
        pairs = pairs.where(F.col("id1") != F.col("id2"))
    # local sort by series sizes -> Arrow batches become shape-homogeneous
    # so the batched DTW kernel gets full-size buckets (no extra shuffle)
    pairs = M._pair_sort(pairs, band=metric == "dtw")
    udf = M.pair_metric_udf(metric, **params)
    a1, a2 = M._kernel_args(M.dim_of(train))
    # project the (large) value arrays away BEFORE the top-k shuffle:
    # only (id1, id2, dist) rows move, not the series payloads; a
    # non-finite distance (a NaN or empty series) never ranks, as on the
    # fused and euclidean paths
    scored = pairs.withColumn("dist", udf(a1, a2)).select(
        "id1", "id2", "dist"
    ).where(F.col("dist") < float("inf"))
    w = Window.partitionBy("id1").orderBy(F.col("dist").asc(), F.col("id2").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id1", "id2", "dist", "rank")
    )


def _labeled(nn: DataFrame, train: DataFrame, col: str) -> DataFrame:
    """Top-k rows joined to the (tiny, broadcast) train column ``col``."""
    return nn.join(
        F.broadcast(train.select(F.col("series_id").alias("id2"), F.col(col))),
        "id2",
    )


def knn_classify(
    queries: DataFrame,
    train: DataFrame,
    k: int = 1,
    metric: str = "dtw",
    weights: str = "uniform",
    label_col: str = "label",
    **params,
) -> DataFrame:
    """kNN vote (neighbors.py:502-531): mode, or 1/dist-weighted mode.

    Returns (series_id, prediction); the query ``series_id`` is a unique
    key.  The vote: weight 1 or 1/dist (dist <= 0 clamped to 1e-12) per
    neighbor; max summed weight wins, ties go to the label seen at the
    smallest rank, then to the smallest label (nulls first).  On the
    broadcast-DTW path each task votes over its queries' top-k rows
    (``_vote``, weights summed in rank order, so distance-weighted votes
    are deterministic) and the plan is one map stage, so the call runs 3
    Spark jobs to its collected result: the bounded train collect
    (session.collect_within, which also gates the path), then the
    predict's round-robin shuffle and its map.  Elsewhere the top-k rows
    join the broadcast train labels and a grouped aggregate plus a
    window vote.
    """
    fused = _dtw_topk_broadcast(queries, train, k, metric, params, False,
                                ("classify", label_col, weights))
    if fused is not None:
        return fused
    nn = _kneighbors_spread(queries, train, k, metric, False, params)
    votes = (
        _labeled(nn, train, label_col).groupBy("id1", label_col)
        .agg(F.sum(_weight_col(weights)).alias("w"),
             F.min("rank").alias("first_rank"))
    )
    # max weight wins; ties -> label seen at the smallest rank, then lexical
    w = Window.partitionBy("id1").orderBy(
        F.col("w").desc(), F.col("first_rank").asc(), F.col(label_col).asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("id1").alias("series_id"), F.col(label_col).alias("prediction"))
    )


def knn_regress(
    queries: DataFrame,
    train: DataFrame,
    k: int = 1,
    metric: str = "dtw",
    weights: str = "uniform",
    target_col: str = "y",
    **params,
) -> DataFrame:
    """kNN mean / distance-weighted mean of y (neighbors.py:565-717).

    Returns (series_id, prediction); the query ``series_id`` is a unique
    key.  Weights as in knn_classify.  On the broadcast-DTW path each
    task reduces its queries' top-k rows (``_weighted_mean``, sums in
    rank order); elsewhere the top-k rows join the broadcast train
    targets and one grouped aggregate averages them.
    """
    fused = _dtw_topk_broadcast(queries, train, k, metric, params, False,
                                ("regress", target_col, weights))
    if fused is not None:
        return fused
    nn = _kneighbors_spread(queries, train, k, metric, False, params)
    wexpr = _weight_col(weights)
    return (
        _labeled(nn, train, target_col).groupBy("id1")
        .agg((F.sum(F.col(target_col) * wexpr) / F.sum(wexpr)).alias("prediction"))
        .select(F.col("id1").alias("series_id"), "prediction")
    )


# ---------------------------------------------------------------------------
# class API (reference parity: neighbors.py:172-717)
# ---------------------------------------------------------------------------

class KNeighborsTimeSeriesMixin:
    """Mixin holding the shared k-neighbors machinery (reference
    neighbors.py:19-170: SAX fit-time state, metric param routing, the
    kneighbors search itself) — mixed into the unsupervised index, the
    classifier and the regressor, exactly as the reference does.  The
    heavy lifting stays in the functional layer (kneighbors) above;
    hosts provide ``_index`` / ``metric`` / ``metric_params`` /
    ``n_neighbors`` fit-time state."""

    def _fit_metric_state(self, df: DataFrame) -> None:
        """Metric-specific fit-time state: metric='sax' pre-fits the SAX
        model on the index (reference neighbors.py stores it as _sax —
        test_piecewise.py:88-95 reaches knn._sax._scale/_unscale) so
        queries reuse it instead of refitting per call."""
        if self.metric == "sax":
            from tslearn_spark.piecewise import SAX

            mp = self.metric_params or {}
            self._sax = SAX(
                n_segments=int(mp.get("n_segments", 10)),
                alphabet_size_avg=int(mp.get("alphabet_size_avg", 5)),
                scale=bool(mp.get("scale", False)),
            ).fit(df)

    def _fit_d(self):
        """Per-timestamp dimension of the fitted data (array fits only)
        for the predict-time check_dims twin (bases.check_query_dims)."""
        import numpy as np

        ts = getattr(self, "_ts_fit", None)
        if isinstance(ts, np.ndarray) and ts.ndim == 3:
            return ts.shape[2]
        return None

    def _metric_call_params(self) -> dict:
        params = dict(self.metric_params or {})
        if getattr(self, "_sax", None) is not None:
            params["_fitted_sax"] = self._sax
        return params

    def kneighbors(self, queries: DataFrame | None = None,
                   n_neighbors: int | None = None,
                   return_distance: bool = True) -> DataFrame:
        """(id1, id2, dist, rank).  queries=None -> self-kNN excluding the
        identical id, like the reference's X=None contract.

        return_distance=False (reference neighbors.py:227-266 signature)
        drops the distances: array input returns only the index matrix,
        DataFrame input the frame without the dist column."""
        from tslearn_spark.bases import as_ts_df, check_query_dims

        assert hasattr(self, "_index"), "fit before kneighbors"
        check_query_dims(queries, self._fit_d())
        queries, was_array = as_ts_df(queries)
        if queries is None and getattr(self, "_fit_was_array", False):
            # reference self-kNN on an array-fitted index returns arrays
            was_array = True
        k = n_neighbors or self.n_neighbors
        if queries is None:
            out = kneighbors(self._index, self._index, k=k,
                             metric=self.metric, drop_self=True,
                             **self._metric_call_params())
        else:
            out = kneighbors(queries, self._index, k=k, metric=self.metric,
                             **self._metric_call_params())
        if not was_array:
            return out if return_distance else out.drop("dist")
        # reference numpy contract (neighbors.py:227-266): return
        # (dists (n_q, k), indices (n_q, k)) ordered by rank — indices
        # only when return_distance=False
        import numpy as np

        rows = out.orderBy("id1", "rank").collect()
        qids = sorted({r["id1"] for r in rows})
        pos = {q: i for i, q in enumerate(qids)}
        # clamp the matrix width to the neighbors that EXIST — the
        # reference caps k at n_candidates (self-kNN on 3 series with
        # n_neighbors=10 returns (3, 2), neighbors.py:46-56 doctest)
        k = min(k, max((r["rank"] for r in rows), default=k))
        dists = np.full((len(qids), k), np.nan)
        inds = np.full((len(qids), k), -1, dtype=np.int64)
        for r in rows:
            dists[pos[r["id1"]], r["rank"] - 1] = r["dist"]
            inds[pos[r["id1"]], r["rank"] - 1] = r["id2"]
        return (dists, inds) if return_distance else inds


class KNeighborsTimeSeries(KNeighborsTimeSeriesMixin, BaseModelPackage,
                           TimeSeriesBaseEstimator):
    """Unsupervised kNN index (neighbors.py:172-350).

    fit() caches the candidate table (the "index" — Spark's analog of
    storing the training array); kneighbors() (from the mixin) runs the
    metric-dispatched top-k join.  All heavy lifting lives in the
    functional layer above.
    """

    def _more_tags(self):
        # reference neighbors.py:561-562 (classifier: 716-717 identical)
        return {"allow_nan": True, "allow_variable_length": True}

    def __init__(self, n_neighbors: int = 5, metric: str = "dtw",
                 metric_params: dict | None = None,
                 n_jobs: int | None = None, verbose: int = 0):
        self.n_neighbors = n_neighbors
        self.metric = metric
        self.metric_params = metric_params or {}
        # reference-signature parity (neighbors.py:233-234): parallelism
        # comes from the Spark cluster, not joblib
        self.n_jobs = n_jobs
        self.verbose = verbose

    def fit(self, df: DataFrame, y=None) -> "KNeighborsTimeSeries":
        from tslearn_spark.bases import as_ts_df

        raw = df
        df, self._fit_was_array = as_ts_df(df)
        if self._fit_was_array:
            # reference serialization contract (neighbors.py:251-255):
            # the fitted "model" IS the training data — kept as the
            # padded array only for array ingest (small by definition);
            # a DataFrame index is never serialized (model_io notes)
            from tslearn_spark.utils import to_time_series_dataset

            self._ts_fit = to_time_series_dataset(raw)
        self._index = df.select("series_id", "values").cache()
        self._fit_metric_state(df)
        return self

    # -- serialization surface (reference neighbors.py:243-255) ---------
    def _is_fitted(self) -> bool:
        return hasattr(self, "_index") or \
            getattr(self, "_ts_fit", None) is not None

    def _get_model_params(self) -> dict:
        out = {}
        if getattr(self, "_ts_fit", None) is not None:
            out["_ts_fit"] = self._ts_fit
            if getattr(self, "_y", None) is not None:
                out["_y"] = self._y
        return out

    def _post_restore(self) -> None:
        """Rebuild the index DataFrame from restored training arrays."""
        if getattr(self, "_ts_fit", None) is not None:
            if getattr(self, "_y", None) is not None:
                self.fit(self._ts_fit, y=self._y)
            else:
                self.fit(self._ts_fit)


class KNeighborsTimeSeriesClassifier(ClassifierScoreMixin,
                                      KNeighborsTimeSeries):
    """neighbors.py:353-562 twin over knn_classify."""

    def __init__(self, n_neighbors: int = 5, weights: str = "uniform",
                 metric: str = "dtw", metric_params: dict | None = None,
                 n_jobs: int | None = None, verbose: int = 0):
        # positional order matches the reference (neighbors.py:429-435):
        # (n_neighbors, weights, metric, ...)
        super().__init__(n_neighbors, metric, metric_params, n_jobs, verbose)
        self.weights = weights

    def fit(self, df: DataFrame, y=None,
            label_col: str = "label") -> "KNeighborsTimeSeriesClassifier":
        from tslearn_spark.bases import as_ts_df

        raw = df
        df, self._fit_was_array = as_ts_df(df, y=y, y_col=label_col)
        if y is not None:
            import numpy as _np

            self._y_numeric = _np.asarray(y).dtype.kind in "iufb"
        if self._fit_was_array:  # see KNeighborsTimeSeries.fit
            from tslearn_spark.utils import to_time_series_dataset

            self._ts_fit = to_time_series_dataset(raw)
            if y is not None:
                self._y = np.asarray(y)
        self._label_col = label_col
        self._index = df.select("series_id", "values", label_col).cache()
        self._fit_metric_state(df)
        self._classes_cache = None  # computed lazily (see classes_)
        return self

    @property
    def classes_(self) -> np.ndarray:
        """Sorted training classes (sklearn classifier contract) —
        materialized lazily on first access so fit stays plan-only
        (same laziness contract as the piecewise fit-dims)."""
        if getattr(self, "_classes_cache", None) is None:
            if not hasattr(self, "_index"):
                raise AttributeError("classes_ is only available after fit")
            self._classes_cache = np.array(sorted(
                r[0] for r in
                self._index.select(self._label_col).distinct().collect()
            ))
        return self._classes_cache

    def predict(self, queries: DataFrame) -> DataFrame:
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        assert hasattr(self, "_index"), "fit before predict"
        check_query_dims(queries, self._fit_d())
        queries, was_array = as_ts_df(queries)
        out = knn_classify(queries, self._index, k=self.n_neighbors,
                           metric=self.metric, weights=self.weights,
                           label_col=self._label_col, **self._metric_call_params())
        return collect_col(out, was_array, "prediction",
                           labels=getattr(self, "_y_numeric", True))

    def predict_proba(self, queries: DataFrame) -> DataFrame:
        """Class probabilities (reference neighbors.py:532-559, sklearn
        vote semantics): per query, each class's share of the (uniform
        or 1/dist) neighbor weight mass.  Returns (series_id,
        probabilities array<double>) ordered by ``classes_``; array
        input returns the (n, n_classes) matrix.

        Distributed shape of the SQL vote (on every metric path): top-k
        rows, the broadcast label join, then ONE grouped aggregate — the
        per-class mass pivots to an array via a map lookup, no extra
        shuffle beyond the vote's."""
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        assert hasattr(self, "_index"), "fit before predict"
        check_query_dims(queries, self._fit_d())
        queries, was_array = as_ts_df(queries)
        lc = self._label_col
        nn = kneighbors(queries, self._index, k=self.n_neighbors,
                        metric=self.metric, **self._metric_call_params())
        # map keys must be unique: aggregate vote weight per class first
        per_class = (
            _labeled(nn, self._index, lc).groupBy("id1", lc)
            .agg(F.sum(_weight_col(self.weights)).alias("_w"))
            .groupBy("id1")
            .agg(F.map_from_arrays(
                F.collect_list(F.col(lc).cast("string")),
                F.collect_list("_w")).alias("_m"))
        )
        cols = [F.coalesce(F.col("_m").getItem(str(c)), F.lit(0.0))
                for c in self.classes_]
        total = sum(cols[1:], cols[0])
        out = per_class.select(
            F.col("id1").alias("series_id"),
            F.array(*[c / total for c in cols]).alias("probabilities"),
        )
        return collect_col(out, was_array, "probabilities")


class KNeighborsTimeSeriesRegressor(RegressorScoreMixin,
                                     KNeighborsTimeSeries):
    """neighbors.py:565-717 twin over knn_regress."""

    def __init__(self, n_neighbors: int = 5, weights: str = "uniform",
                 metric: str = "dtw", metric_params: dict | None = None,
                 n_jobs: int | None = None, verbose: int = 0):
        # positional order matches the reference (neighbors.py:429-435):
        # (n_neighbors, weights, metric, ...)
        super().__init__(n_neighbors, metric, metric_params, n_jobs, verbose)
        self.weights = weights

    def fit(self, df: DataFrame, y=None,
            target_col: str = "y") -> "KNeighborsTimeSeriesRegressor":
        from tslearn_spark.bases import as_ts_df

        raw = df
        df, self._fit_was_array = as_ts_df(df, y=y, y_col=target_col,
                                           y_numeric=True)
        if self._fit_was_array:  # see KNeighborsTimeSeries.fit
            from tslearn_spark.utils import to_time_series_dataset

            self._ts_fit = to_time_series_dataset(raw)
            if y is not None:
                self._y = np.asarray(y, dtype=np.float64)
        self._target_col = target_col
        self._index = df.select("series_id", "values", target_col).cache()
        self._fit_metric_state(df)
        return self

    def predict(self, queries: DataFrame) -> DataFrame:
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        assert hasattr(self, "_index"), "fit before predict"
        check_query_dims(queries, self._fit_d())
        queries, was_array = as_ts_df(queries)
        out = knn_regress(queries, self._index, k=self.n_neighbors,
                          metric=self.metric, weights=self.weights,
                          target_col=self._target_col, **self._metric_call_params())
        return collect_col(out, was_array, "prediction")
