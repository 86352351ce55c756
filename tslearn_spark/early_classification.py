"""Non-myopic early classification (Dachraoui et al. 2015).

Reference: tslearn/early_classification/early_classification.py:16-580.
Fitted state mirrors the reference:

* ``centers_``: euclidean k-means centers on the full-length series;
* ``pyck_``: P(y | c_k) from cluster/label co-occurrence;
* ``pyhatyck_``: per (t, cluster) confusion matrices with zeroed
  diagonal, estimated on a held-out half (stratified by cluster) with a
  1-NN-on-prefixes base classifier (the reference default,
  early_classification.py:156-160);
* prediction: scan growing prefixes, stop at the first t whose expected
  cost (cluster-probability-weighted misclassification + alpha*t) is
  minimized at horizon 0 (early_classification.py:285-359).

Spark-first structure — nothing larger than the (k, sz, d) centers and
the (sz, k, c, c) confusion tensor ever reaches the driver:

* clustering delegates to the distributed TimeSeriesKMeans;
* ALL per-prefix-length confusion stats come from ONE pair-join plan:
  per-position squared diffs -> cumulative sum over position (so every
  prefix length shares the same scan) -> per-(query, t) argmin via a
  window -> groupBy (t, cluster, y, yhat) counts;
* prediction is two-phase: the stopping time needs only the broadcast
  small model; the class at the stopping time is a distributed
  prefix-sliced 1-NN join against the (DataFrame) classifier half.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from tslearn_spark import session
from tslearn_spark.bases import BaseModelPackage, TimeSeriesBaseEstimator
from tslearn_spark.ckernel import Flat
from tslearn_spark.metrics import _to_arr
from tslearn_spark.session import collect_within


def _dense_by_id(tab):
    """``(T, y)``: the series of a collected (series_id, values, _y)
    Arrow table as one dense ``(n, sz, d)`` array and their labels, both
    in series_id order, read from the Arrow buffers (no per-element
    Python).  The series must share one length."""
    flat = Flat.from_arrow(tab.column("values"))
    if (flat.lens != flat.lens[0]).any():
        raise ValueError("the classifier half must be equal-length")
    order = np.argsort(tab.column("series_id").to_numpy(), kind="stable")
    T = flat.buf.reshape(order.size, -1, flat.d)[order]
    return T, np.asarray(tab.column("_y").to_pylist())[order]


def _stack_series(values) -> np.ndarray:
    """A pandas column of equal-length series (Arrow-converted: each an
    array of per-timestamp arrays) as one dense ``(m, sz, d)`` float64
    array, built by ``np.stack`` (no per-element Python).  Series of 0
    timestamps stack as ``(0, 0)``, so an all-empty column has size 0;
    mixed lengths raise ``ValueError``."""
    return np.stack([np.stack(v) if len(v) else np.empty((0, 0))
                     for v in values])


def _make_stopper(centers, pyck, pyhatyck, sz, d, min_t, lamb, alpha, k):
    """Self-contained stopping-time function from the small model arrays
    (early_classification.py:213-359) — safe to ship in a UDF closure."""
    centers3 = centers.reshape(k, sz, d)

    def probas(Xi):
        t = Xi.shape[0]
        diffs = Xi[None, :, :] - centers3[:, :t]
        dist = np.sqrt((diffs ** 2).sum(axis=(1, 2)))
        avg = dist.mean()
        delta = 1.0 - dist / (avg if avg > 0 else 1.0)
        s = 1.0 / (1.0 + np.exp(np.clip(-lamb * delta, -500, 500)))
        return s / s.sum()

    def costs(Xi):
        t = max(Xi.shape[0], min_t)
        p = probas(Xi)
        sum_yhat = pyhatyck[t - min_t:].sum(axis=-1)
        sum_y = (sum_yhat * pyck.T[None, :, :]).sum(axis=-1)
        return sum_y @ p + alpha * np.arange(t, sz + 1)

    def stop(Xi):
        for t in range(min_t, sz + 1):
            if t == sz or int(np.argmin(costs(Xi[:t]))) == 0:
                return t
        raise AssertionError("unreachable")

    return stop


class _Prefix1NN:
    """The per-truncation classifier the reference clones per t
    (early_classification.py:48-50, 164-165): 1-NN euclidean over the
    classifier half, truncated to the first ``t`` observations.

    The engine trains every prefix in ONE shared pair-join plan at fit
    time; this handle replays that exact criterion (cumulative squared
    distance through position t, ties broken by ascending training id)
    for a single t on new data — so ``classifiers_[t].predict`` agrees
    with what fit measured at that prefix."""

    def __init__(self, owner: "NonMyopicEarlyClassifier", t: int):
        self._owner = owner
        self.t = int(t)

    @property
    def classes_(self) -> np.ndarray:
        return self._owner.classes_

    def predict(self, df: DataFrame) -> DataFrame:
        from tslearn_spark.bases import as_ts_df, collect_col

        df, was_array = as_ts_df(df)
        q = df.select(
            F.col("series_id").alias("qid"), F.col("values").alias("values1")
        )
        t_ = self._owner._clf_df.select(
            F.col("series_id").alias("tid"), F.col("values").alias("values2"),
            F.col("_y").alias("y_hat"),
        )
        pairs = q.crossJoin(F.broadcast(t_)).withColumn(
            "_d2",
            F.expr(
                f"""
                aggregate(
                  zip_with(slice(values1, 1, {self.t}),
                           slice(values2, 1, {self.t}), (r1, r2) ->
                    aggregate(zip_with(r1, r2, (x, y) -> (x - y) * (x - y)),
                              0.0D, (acc, z) -> acc + z)),
                  0.0D, (acc, z) -> acc + z)
                """
            ),
        )
        wnn = Window.partitionBy("qid").orderBy(
            F.col("_d2").asc(), F.col("tid").asc()
        )
        out = (
            pairs.withColumn("_rn", F.row_number().over(wnn))
            .where(F.col("_rn") == 1)
            .select(F.col("qid").alias("series_id"),
                    F.col("y_hat").cast("string").alias("prediction"))
        )
        return collect_col(out, was_array, "prediction",
                           labels=getattr(self._owner, "_y_numeric", True))


class NonMyopicEarlyClassifier(BaseModelPackage, TimeSeriesBaseEstimator):
    def _more_tags(self):
        # reference early_classification.py:576-582
        return {"no_validation": True}

    def __init__(self, n_clusters: int = 2, base_classifier=None,
                 min_t: int = 1, lamb: float = 1.0,
                 cost_time_parameter: float = 1.0,
                 random_state: int | None = None):
        if base_classifier is not None:
            raise NotImplementedError(
                "custom base_classifier estimators are not supported; the "
                "built-in per-truncation classifier is used (pass None)"
            )
        self.n_clusters = n_clusters
        self.base_classifier = base_classifier
        self.min_t = min_t
        self.lamb = lamb
        self.cost_time_parameter = cost_time_parameter
        self.random_state = random_state

    # -- fit (distributed) --------------------------------------------------
    def fit(self, df: DataFrame, y=None,
            label_col: str = "label") -> "NonMyopicEarlyClassifier":
        from tslearn_spark.bases import as_ts_df
        from tslearn_spark.clustering import TimeSeriesKMeans

        df, _ = as_ts_df(df, y=y, y_col=label_col)
        if y is not None:
            self._y_numeric = np.asarray(y).dtype.kind in "iufb"

        data = df.select("series_id", "values", F.col(label_col).alias("_y"))
        data = data.localCheckpoint()
        first = data.select(
            F.size("values").alias("sz"),
            F.size(F.element_at("values", 1)).alias("d"),
        ).first()
        sz, d = int(first["sz"]), int(first["d"])
        self._sz, self._d = sz, d
        self.classes_ = np.array(
            [r[0] for r in data.select("_y").distinct().orderBy("_y").collect()]
        )
        n_classes = len(self.classes_)

        km = TimeSeriesKMeans(
            n_clusters=self.n_clusters, metric="euclidean",
            random_state=self.random_state,
        ).fit(data)
        self.centers_ = np.stack(
            [np.asarray(c, dtype=np.float64) for c in km.cluster_centers_]
        ).reshape(self.n_clusters, sz * d)
        assigned = km.predict(data).select("series_id", "cluster")
        labeled = data.join(assigned, "series_id").localCheckpoint()

        # P(y | c_k) (early_classification.py:181-186) — tiny aggregate
        self.pyck_ = np.zeros((n_classes, self.n_clusters))
        for r in labeled.groupBy("cluster", "_y").count().collect():
            yi = int(np.searchsorted(self.classes_, r["_y"]))
            self.pyck_[yi, r["cluster"]] += r["count"]
        denom = self.pyck_.sum(axis=0, keepdims=True)
        denom[denom == 0] = 1
        self.pyck_ /= denom

        # stratified half split by cluster (early_classification.py:170-176):
        # hash-ordered row_number per cluster — deterministic, no driver pass
        w = Window.partitionBy("cluster").orderBy(
            F.xxhash64(F.lit(self.random_state or 0), F.col("series_id"))
        )
        cnt = Window.partitionBy("cluster")
        split = labeled.withColumn("_rn", F.row_number().over(w)).withColumn(
            "_n", F.count("*").over(cnt)
        )
        half1 = split.where(F.col("_rn") <= F.col("_n") / 2)  # classifier half
        half2 = split.where(F.col("_rn") > F.col("_n") / 2)   # estimation half
        if half1.limit(1).count() == 0 or half2.limit(1).count() == 0:
            half1 = half2 = labeled
        self._clf_df = half1.select("series_id", "values", "_y").localCheckpoint()

        # ONE map-only plan for every prefix length: the classifier half
        # broadcasts as a dense (n_t, sz, d) matrix (same broadcast the
        # previous crossJoin plan shipped), each ESTIMATION partition
        # computes its queries' prefix-cumulative distances and per-(q,t)
        # 1-NN with vectorized numpy, and emits only PARTIAL confusion
        # counts — (t, ck, y_true, y_hat, n) rows bounded by
        # sz x k x classes^2 per partition.  No pair rows ever shuffle
        # (the old posexplode + two-window plan moved |q| x |train| x sz
        # scalar rows through two exchanges — quadratic wall clock at
        # sf1); semantics are identical incl. the (cum asc, tid asc)
        # tie order (train sorted by tid; argmin takes the first min).
        spark = df.sparkSession
        classes_b = self.classes_
        min_t = self.min_t
        t_tab = collect_within(self._clf_df)
        if t_tab is not None:
            # fast path: the whole classifier half fits the broadcast
            # byte budget — ship it once, one map pass over half2
            self._conf_plan_ = "broadcast"
            T, yh = _dense_by_id(t_tab)  # (n_t, sz, d), tid order
            # label INDICES travel instead of label values, so the
            # partial rows stay typed (int) whatever the label dtype is
            yh_idx = np.searchsorted(self.classes_, yh)
            bc = spark.sparkContext.broadcast((T, yh_idx, classes_b))

            def _conf_partials(batches):
                import pandas as _pd

                T_b, yi_b, cls_b = bc.value
                n_t, sz_b, d_b = T_b.shape
                # the broadcasted intermediate (Q[:,None,:,:] - T_b)**2
                # is (chunk, n_t, sz, d) — budget must divide by d too,
                # or multivariate fits allocate d x the intended ~32 MB
                chunk = max(1, (1 << 22) // max(n_t * sz_b * d_b, 1))
                for pdf in batches:
                    counts: dict = {}
                    for lo in range(0, len(pdf), chunk):
                        sub = pdf.iloc[lo:lo + chunk]
                        Q = _stack_series(sub["values"])
                        if Q.size == 0:
                            continue
                        # (m, n_t, sz): per-position squared distance
                        # summed over d, then prefix-cumulative
                        d2 = ((Q[:, None, :, :] - T_b[None, :, :, :]) ** 2
                              ).sum(axis=3)
                        cum = np.cumsum(d2, axis=2)
                        nn_idx = np.argmin(cum, axis=1)  # (m, sz); 1st min
                        yh = yi_b[nn_idx]            # (m, sz) class idx
                        yt = np.searchsorted(
                            cls_b, np.asarray(list(sub["_y"])))
                        for i, ck in enumerate(sub["cluster"]):
                            for pos in range(min_t - 1, sz_b):
                                key = (pos + 1, int(ck), int(yt[i]),
                                       int(yh[i, pos]))
                                counts[key] = counts.get(key, 0) + 1
                    if counts:
                        yield _pd.DataFrame(
                            [(t, ck, a, b, n)
                             for (t, ck, a, b), n in counts.items()],
                            columns=["t", "ck", "yi", "yj", "n"])

            partial_schema = "t int, ck int, yi int, yj int, n long"
            stats = (
                half2.select("values", "cluster", "_y")
                .mapInPandas(_conf_partials, partial_schema)
                .groupBy("t", "ck", "yi", "yj")
                .agg(F.sum("n").alias("count"))
                .collect()
            )
        else:
            # shuffle fallback (same gate+fallback shape as
            # neighbors._dtw_topk_broadcast): the classifier half exceeds
            # the broadcast budget, so it streams through in tid-sorted
            # CHUNKS that each fit the budget.  Every chunk pass emits
            # one (qid, t) candidate row carrying the chunk-local best
            # (cum, tid, yh); a struct-min groupBy merges chunks — the
            # per-pair cumsum arithmetic is chunk-invariant, so the
            # (cum asc, tid asc) tie order is bit-identical to the
            # broadcast plan.  Shuffle volume: |half2| x sz x n_chunks
            # scalar rows; worker memory stays <= budget + ~32 MB.
            self._conf_plan_ = "chunked"
            stats = self._conf_stats_chunked(
                spark, half2, sz, d, self._clf_df.count(), classes_b, min_t)

        self.pyhatyck_ = np.zeros(
            (sz - self.min_t + 1, self.n_clusters, n_classes, n_classes)
        )
        for r in stats:
            self.pyhatyck_[r["t"] - self.min_t, r["ck"],
                           r["yi"], r["yj"]] += r["count"]
        # normalize like the reference: per-yhat column totals, zero diag
        for ti in range(self.pyhatyck_.shape[0]):
            for ck in range(self.n_clusters):
                conf = self.pyhatyck_[ti, ck]
                norm = conf.sum(axis=0, keepdims=True)
                norm[norm == 0] = 1
                conf /= norm
                np.fill_diagonal(conf, 0.0)
        return self

    def _conf_stats_chunked(self, spark, half2: DataFrame, sz: int, d: int,
                            n_clf: int, classes_b: np.ndarray, min_t: int):
        """Budget-bounded confusion stats: the classifier half streams
        through in hash-split chunks that each fit the broadcast byte
        budget.  Per chunk, one map pass over the estimation half emits
        the chunk-local best (cum, tid, yh) per (query, prefix); an
        eager struct-min merge folds it into the running global best
        (localCheckpoint truncates lineage, the chunk broadcast is
        unpersisted immediately), so live memory never exceeds ONE
        chunk + the (|q| x sz)-row best table regardless of n_clf."""
        import math

        rows_per_chunk = max(1, session.BROADCAST_LIMIT_VALUES
                             // max(sz * d, 1))
        n_chunks = max(2, math.ceil(n_clf / rows_per_chunk))
        pos = np.arange(min_t - 1, sz)
        n_pos = len(pos)
        schema = ("qid long, t int, ck int, yi int, cum double, "
                  "tid long, yh int")
        q_src = half2.select("series_id", "values", "cluster", "_y")
        best: DataFrame | None = None
        for c in range(n_chunks):
            c_pdf = (
                self._clf_df
                .where(F.pmod(F.xxhash64("series_id"), F.lit(n_chunks))
                       == F.lit(c))
                .select("series_id", "values", "_y")
                .toPandas()  # Arrow — Row objects cost ~5-10x the doubles
            )
            if len(c_pdf) == 0:
                continue
            c_pdf = c_pdf.sort_values("series_id").reset_index(drop=True)
            T = _stack_series(c_pdf["values"])
            tids = c_pdf["series_id"].to_numpy(dtype=np.int64)
            yh_idx = np.searchsorted(
                classes_b, np.asarray(list(c_pdf["_y"])))
            bc = spark.sparkContext.broadcast((T, tids, yh_idx, classes_b))

            def _best_rows(batches, _bc=bc):
                import pandas as _pd

                T_b, tid_b, yi_b, cls_b = _bc.value
                n_t, sz_b, d_b = T_b.shape
                chunk = max(1, (1 << 22) // max(n_t * sz_b * d_b, 1))
                for pdf in batches:
                    outs = []
                    for lo in range(0, len(pdf), chunk):
                        sub = pdf.iloc[lo:lo + chunk]
                        Q = _stack_series(sub["values"])
                        if Q.size == 0:
                            continue
                        m = Q.shape[0]
                        d2 = ((Q[:, None, :, :] - T_b[None, :, :, :]) ** 2
                              ).sum(axis=3)
                        cum = np.cumsum(d2, axis=2)     # (m, n_t, sz)
                        nn = np.argmin(cum, axis=1)     # first min ->
                        # lowest LOCAL index = lowest tid (chunk sorted)
                        rr = np.arange(m)[:, None]
                        nn_p = nn[:, pos]               # (m, n_pos)
                        yt = np.searchsorted(
                            cls_b, np.asarray(list(sub["_y"])))
                        outs.append(_pd.DataFrame({
                            "qid": np.repeat(
                                sub["series_id"].to_numpy(np.int64),
                                n_pos),
                            "t": np.tile((pos + 1).astype(np.int32), m),
                            "ck": np.repeat(
                                sub["cluster"].to_numpy(np.int32), n_pos),
                            "yi": np.repeat(
                                yt.astype(np.int32), n_pos),
                            "cum": cum[rr, nn_p, pos[None, :]].ravel(),
                            "tid": tid_b[nn_p].ravel(),
                            "yh": yi_b[nn_p].astype(np.int32).ravel(),
                        }))
                    if outs:
                        yield _pd.concat(outs, ignore_index=True)

            chunk_best = q_src.mapInPandas(_best_rows, schema)
            cand = chunk_best if best is None \
                else best.unionByName(chunk_best)
            # struct-min = lexicographic (cum asc, tid asc); yh rides
            # along — exactly the broadcast plan's argmin tie order
            best = (
                cand.groupBy("qid", "t", "ck", "yi")
                .agg(F.min(F.struct("cum", "tid", "yh")).alias("b"))
                .select("qid", "t", "ck", "yi",
                        F.col("b.cum").alias("cum"),
                        F.col("b.tid").alias("tid"),
                        F.col("b.yh").alias("yh"))
            ).localCheckpoint()
            bc.unpersist()
        if best is None:
            return []
        return (
            best.select("t", "ck", "yi", F.col("yh").alias("yj"))
            .groupBy("t", "ck", "yi", "yj")
            .agg(F.count("*").alias("count"))
            .collect()
        )

    @property
    def classifiers_(self) -> dict:
        """dict {t: per-prefix classifier}, t in [min_t, sz]
        (early_classification.py:48-50,164-165; the doctest checks
        ``type(model.classifiers_) is dict``).  Built lazily — the
        engine's prefixes share one fit-time plan, so the handles carry
        no training state of their own."""
        if not hasattr(self, "_clf_df"):
            raise AttributeError(
                "classifiers_ is only available after fit"
            )
        return {t: _Prefix1NN(self, t)
                for t in range(self.min_t, self._sz + 1)}

    # -- cost machinery (early_classification.py:213-359) -------------------
    def get_cluster_probas(self, Xi: np.ndarray) -> np.ndarray:
        t = Xi.shape[0]
        centers3 = self.centers_.reshape(self.n_clusters, self._sz, self._d)
        diffs = Xi[None, :, :] - centers3[:, :t]
        dist = np.sqrt((diffs ** 2).sum(axis=(1, 2)))
        avg = dist.mean()
        delta = 1.0 - dist / (avg if avg > 0 else 1.0)
        s = 1.0 / (1.0 + np.exp(np.clip(-self.lamb * delta, -500, 500)))
        return s / s.sum()

    def _expected_costs(self, Xi: np.ndarray) -> np.ndarray:
        t = max(Xi.shape[0], self.min_t)
        probas = self.get_cluster_probas(Xi)
        # sum over yhat of pyhatyck[tau, k, y, yhat] -> (n_tau, k, y)
        sum_yhat = self.pyhatyck_[t - self.min_t:].sum(axis=-1)
        # weight by P(y|c_k) then sum over y -> (n_tau, k)
        sum_y = (sum_yhat * self.pyck_.T[None, :, :]).sum(axis=-1)
        cost = sum_y @ probas
        return cost + self.cost_time_parameter * np.arange(t, self._sz + 1)

    def _stopping_time(self, Xi: np.ndarray) -> int:
        """First t where the cost argmin is 'now' (early_classification.py
        :285-359) — needs only the small broadcast model, no training data."""
        for t in range(self.min_t, self._sz + 1):
            tau_star = int(np.argmin(self._expected_costs(Xi[:t])))
            if t == self._sz or tau_star == 0:
                return t
        raise AssertionError("unreachable")

    # -- distributed predict ------------------------------------------------
    def predict_class_and_earliness(self, df: DataFrame) -> DataFrame:
        """Two-phase distributed prediction.

        Phase 1: stopping time per series from the broadcast cost model
        (a narrow pandas UDF).  Phase 2: 1-NN over prefixes of each
        series' own stopping length — a pair join against the classifier
        half with slice() lengths taken from a column, so the training
        half is never collected anywhere.
        """
        from pyspark.sql.types import IntegerType

        from tslearn_spark.bases import as_ts_df

        df, _was_array = as_ts_df(df)

        # close over ONLY the small numpy state — self holds DataFrames,
        # which must not ride into the UDF closure
        stopping = _make_stopper(
            self.centers_, self.pyck_, self.pyhatyck_, self._sz, self._d,
            self.min_t, self.lamb, self.cost_time_parameter, self.n_clusters,
        )

        @F.pandas_udf(IntegerType())
        def _stop_udf(values: pd.Series) -> pd.Series:
            out = []
            for v in values:
                Xi = _to_arr(v)
                out.append(stopping(Xi))
            return pd.Series(out, dtype=np.int32)

        staged = df.select(
            "series_id", "values", _stop_udf("values").alias("pred_time")
        ).localCheckpoint()
        q = staged.select(
            F.col("series_id").alias("qid"),
            F.col("values").alias("values1"),
            "pred_time",
        )
        t_ = self._clf_df.select(
            F.col("series_id").alias("tid"), F.col("values").alias("values2"),
            F.col("_y").alias("y_hat"),
        )
        pairs = q.crossJoin(F.broadcast(t_)).withColumn(
            "_d2",
            F.expr(
                """
                aggregate(
                  zip_with(slice(values1, 1, pred_time),
                           slice(values2, 1, pred_time), (r1, r2) ->
                    aggregate(zip_with(r1, r2, (x, y) -> (x - y) * (x - y)),
                              0.0D, (acc, z) -> acc + z)),
                  0.0D, (acc, z) -> acc + z)
                """
            ),
        )
        wnn = Window.partitionBy("qid").orderBy(F.col("_d2").asc(), F.col("tid").asc())
        out = (
            pairs.withColumn("_rn", F.row_number().over(wnn))
            .where(F.col("_rn") == 1)
            .select(
                F.col("qid").alias("series_id"),
                F.col("y_hat").cast("string").alias("prediction"),
                F.col("pred_time"),
            )
        )
        if _was_array:
            # reference returns (y_pred, stopping_times) arrays
            from tslearn_spark.bases import _smart_labels

            rows = out.orderBy("series_id").collect()
            import numpy as _np

            preds = [r["prediction"] for r in rows]
            preds = (_smart_labels(preds)
                     if getattr(self, "_y_numeric", True)
                     else _np.asarray(preds))
            return preds, _np.array([r["pred_time"] for r in rows])
        return out

    def predict_proba_and_earliness(self, df: DataFrame):
        """Probability estimates + stopping times (reference
        early_classification.py:455-491): with the built-in 1-NN base
        classifier the reference's per-class estimate is ONE-HOT at the
        predicted class, so this is predict_class_and_earliness plus a
        codegen one-hot over classes_ — no extra distributed pass."""
        out = self.predict_class_and_earliness(df)
        if isinstance(out, tuple):  # array-in -> (probas, times) arrays
            preds, times = out
            probs = (
                np.asarray([str(c) for c in self.classes_])[None, :]
                == np.asarray([str(p) for p in preds])[:, None]
            ).astype(np.float64)
            return probs, times
        class_arr = F.array(*[F.lit(str(c)) for c in self.classes_])
        probs = F.transform(
            class_arr,
            lambda c: F.when(c == F.col("prediction"),
                             F.lit(1.0)).otherwise(F.lit(0.0)),
        )
        return out.select("series_id", probs.alias("probabilities"),
                          "pred_time")

    def predict_proba(self, df: DataFrame):
        """First element of predict_proba_and_earliness
        (early_classification.py:493-530)."""
        out = self.predict_proba_and_earliness(df)
        if isinstance(out, tuple):
            return out[0]
        return out.select("series_id", "probabilities")

    def predict(self, df: DataFrame):
        """Predicted class at the early stopping time
        (early_classification.py predict contract): the first element of
        predict_class_and_earliness — DataFrame in -> (series_id,
        prediction) out; array in -> label array out."""
        out = self.predict_class_and_earliness(df)
        if isinstance(out, tuple):
            return out[0]
        return out.select("series_id", "prediction")

    def early_classification_cost(self, df: DataFrame, y=None,
                                  label_col: str = "label") -> float:
        """(1 - acc) + alpha * mean(t) (early_classification.py:519-574).

        Accepts the reference's (X array, y array) protocol: array
        input is adapted once here so predict_class_and_earliness sees
        a DataFrame (its tuple form never leaks into the join)."""
        from tslearn_spark.bases import as_ts_df

        df, _ = as_ts_df(df, y=y, y_col=label_col)
        pred = self.predict_class_and_earliness(df).join(
            df.select("series_id", label_col), "series_id"
        )
        row = pred.select(
            F.avg((F.col("prediction") != F.col(label_col)).cast("double")).alias("err"),
            F.avg("pred_time").alias("mean_t"),
        ).first()
        return float(row["err"] + self.cost_time_parameter * row["mean_t"])
