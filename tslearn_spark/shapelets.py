"""Learning Shapelets — transform/locate in Spark, training on the driver.

Reference: tslearn/shapelets/shapelets.py:212-889 (Grabocka'14).  The
model = per-length shapelet banks + a softmax layer on min-distances:

* distance layer: for each window position t and shapelet s,
  mean squared distance ||x[t:t+len] - s||^2 / len
  (LocalSquaredDistanceLayer, shapelets.py:141-148);
* min-pool over t (GlobalMinPooling1D, shapelets.py:28-55);
* linear + softmax classifier on the pooled features.

Spark-first split (SURVEY.md §2.9): *transform* and *locate* against a
fixed shapelet bank are distributed pandas UDFs (shapelets are tiny ->
broadcast in the closure); *training* is driver-side numpy Adam over a
collected sample — the fidelity contract is the same loss, minus Keras.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType
from tslearn_spark.bases import (BaseModelPackage, ClassifierScoreMixin,
                                 TimeSeriesBaseEstimator)
from tslearn_spark.metrics import _to_arr


def grabocka_params_to_shapelet_size_dict(n_ts: int, ts_sz: int, n_classes: int,
                                          l: float = 0.1, r: int = 1) -> dict[int, int]:
    """Shapelet count/length heuristic (shapelets.py:158-209)."""
    base_size = int(l * ts_sz)
    d = {}
    for sz_idx in range(r):
        shp_sz = base_size * (sz_idx + 1)
        if shp_sz < 1:
            continue
        n_shp = int(np.log10(n_ts * (ts_sz - shp_sz + 1) * (n_classes - 1)))
        d[shp_sz] = max(n_shp, 1)
    return d or {max(base_size, 1): 1}


def _min_dists(ts: np.ndarray, bank: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """(min distance, argmin position) of each shapelet against a series.

    Distance = mean squared diff over the window (shapelets.py:141-148).
    """
    sz, d = ts.shape
    dists = np.empty(len(bank))
    locs = np.empty(len(bank), dtype=np.int64)
    for k, shp in enumerate(bank):
        L = shp.shape[0]
        n_win = sz - L + 1
        if n_win <= 0:
            dists[k] = np.inf
            locs[k] = 0
            continue
        idx = np.arange(L)[None, :] + np.arange(n_win)[:, None]
        W = ts[idx]  # (n_win, L, d)
        dd = ((W - shp[None]) ** 2).sum(axis=(1, 2)) / L
        locs[k] = int(np.argmin(dd))
        dists[k] = float(dd[locs[k]])
    return dists, locs


class _ShapeletSubmodel:
    """Numpy twin of the reference's keras submodels (shapelets.py:
    295-305: transformer_model_ / locator_model_ / model_): a handle
    with the same ``.predict(X)`` contract over a tslearn-format
    dataset, backed by the owner's fitted bank + softmax head.  The
    distributed paths are the owner's transform/locate/predict methods;
    this is the driver-side array surface reference scripts use."""

    def __init__(self, owner: "LearningShapelets", mode: str):
        self._owner = owner
        self._mode = mode

    def predict(self, X) -> np.ndarray:
        o = self._owner
        out = []
        for xi in X:
            ts = np.asarray(xi, dtype=np.float64)
            if ts.ndim == 1:
                ts = ts.reshape(-1, 1)
            # trailing all-NaN rows are padding (variable length)
            while ts.shape[0] and np.isnan(ts[-1]).all():
                ts = ts[:-1]
            if o.scale:
                ts = o._minmax(ts)
            dists, locs = _min_dists(ts, o.shapelets_)
            if self._mode == "transform":
                out.append(dists)
            elif self._mode == "locate":
                out.append(locs)
            else:  # proba: softmax over the linear head
                logits = dists @ o.W_ + o.b_
                p = np.exp(logits - logits.max())
                out.append(p / p.sum())
        return np.stack(out)

    # keras-model surface (reference scripts call model_.get_weights();
    # the weights live on the owner estimator here)
    def get_weights(self, layer_name: str | None = None):
        return self._owner.get_weights(layer_name)

    def set_weights(self, weights, layer_name: str | None = None):
        return self._owner.set_weights(weights, layer_name)


class LearningShapelets(ClassifierScoreMixin, BaseModelPackage,
                        TimeSeriesBaseEstimator):
    """Shapelet model: numpy Adam training of shapelets + softmax layer.

    Loss = cross-entropy(softmax(W @ mindist + b), y) + 0.5*reg*||W||^2,
    matching the Keras graph at shapelets.py:355-400.
    """

    def _more_tags(self):
        # reference shapelets.py:881-887
        return {"allow_nan": True, "allow_variable_length": True}

    def __init__(self, n_shapelets_per_size: dict[int, int] | None = None,
                 max_iter: int = 10000, batch_size: int = 256, verbose: int = 0,
                 optimizer: str = "sgd", weight_regularizer: float = 0.0,
                 shapelet_length: float = 0.15, total_lengths: int = 3,
                 max_size: int | None = None, scale: bool = False,
                 random_state: int | None = None, lr: float = 0.05):
        """Reference signature AND defaults (shapelets.py:336-350:
        max_iter=10000, batch_size=256, optimizer='sgd',
        random_state=None) plus a trailing ``lr``.  optimizer is "sgd"
        (the reference's Keras default, implemented as a plain gradient
        step) or "adam" (an engine extra — converges far faster at
        small step counts, used by the driver queries with explicit
        max_iter); the reference also accepts Keras OPTIMIZER INSTANCES
        (tests/test_shapelets.py:30 passes tf.optimizers.Adam(.1)), so
        duck-typed objects whose class name is Adam/SGD map to the
        matching engine step, adopting their learning_rate when they
        carry one.  Anything else raises.  scale applies the reference's
        per-series min-max scaling (shapelets.py:623-626) to training,
        transform, locate and predict alike."""
        if not isinstance(optimizer, str):
            opt_name = type(optimizer).__name__.lower()
            if opt_name in ("adam", "sgd"):
                opt_lr = getattr(optimizer, "learning_rate", None)
                if opt_lr is not None:
                    try:
                        lr = float(opt_lr)
                    except (TypeError, ValueError):
                        pass  # tf variables w/o float() keep the default
                optimizer = opt_name
        if optimizer not in ("adam", "sgd"):
            raise NotImplementedError(
                "optimizer must be 'adam'/'sgd' or an optimizer object "
                "whose class is named Adam/SGD (other Keras optimizers "
                "are not supported)"
            )
        self.n_shapelets_per_size = n_shapelets_per_size
        self.max_iter = max_iter
        self.batch_size = batch_size
        self.verbose = verbose
        self.optimizer = optimizer
        self.weight_regularizer = weight_regularizer
        self.shapelet_length = shapelet_length
        self.total_lengths = total_lengths
        self.max_size = max_size
        self.scale = scale
        self.random_state = random_state
        self.lr = lr
        self.shapelets_: list[np.ndarray] | None = None
        self.classes_: np.ndarray | None = None

    @staticmethod
    def _minmax(ts: np.ndarray) -> np.ndarray:
        """Per-series, per-dim min-max to [0, 1] (TimeSeriesScalerMinMax
        applied by _preprocess_series, shapelets.py:623-626)."""
        lo = ts.min(axis=0, keepdims=True)
        hi = ts.max(axis=0, keepdims=True)
        rng = np.where(hi - lo == 0.0, 1.0, hi - lo)
        return (ts - lo) / rng

    def _check_series_length(self, df: DataFrame) -> None:
        """shapelets.py:585-621: shapelets must fit in the shortest
        series; with max_size (or a fitted model), series longer than
        the cap are rejected.  One tiny min/max aggregate."""
        row = df.select(
            F.min(F.size("values")).alias("mn"), F.max(F.size("values")).alias("mx")
        ).first()
        if self.n_shapelets_per_size is not None:
            max_shp = max(self.n_shapelets_per_size.keys())
            if max_shp > row["mn"]:
                raise ValueError(
                    "Sizes in X do not match maximum shapelet size: there is "
                    "at least one series in X that is shorter than one of the "
                    "shapelets. Shortest time series is of length "
                    f"{row['mn']} and longest shapelet is of length {max_shp}"
                )
        cap = None
        if self.shapelets_ is not None and getattr(self, "_fit_sz", None):
            cap = self._fit_sz
        elif self.max_size is not None:
            cap = self.max_size
        if cap is not None and row["mx"] > cap:
            raise ValueError(
                "Sizes in X do not match maximum allowed size as set by "
                f"max_size. Longest time series is of length {row['mx']} "
                f"and max_size is {cap}"
            )
        return row["mn"], row["mx"]

    # -- training (driver-side over a collected sample) --------------------
    def fit(self, df: DataFrame, y=None, label_col: str = "label",
            sample_size: int = 2000) -> "LearningShapelets":
        from tslearn_spark.bases import as_ts_df

        df, _ = as_ts_df(df, y=y, y_col=label_col)
        if y is not None:
            self._y_numeric = np.asarray(y).dtype.kind in "iufb"
        _, fit_mx = self._check_series_length(df)
        # the reference pads the fit dataset to max_size when set
        # (shapelets.py:623-638), so _X_fit_dims[1] == max_size and
        # post-fit queries up to max_size are accepted
        self._fit_sz = int(self.max_size) if self.max_size is not None \
            else fit_mx
        rows = (
            df.select("series_id", "values", label_col)
            .limit(sample_size)
            .collect()
        )
        X = [np.asarray(r["values"], dtype=np.float64) for r in rows]
        if self.scale:
            X = [self._minmax(x) for x in X]
        y_raw = np.array([r[label_col] for r in rows])
        self.classes_ = np.unique(y_raw)
        y = np.searchsorted(self.classes_, y_raw)
        n_classes = len(self.classes_)
        sz = min(x.shape[0] for x in X)
        d = X[0].shape[1]
        # resolved sizes live in the FITTED attribute (reference
        # shapelets.py:439-441 stores n_shapelets_per_size_ and leaves
        # the hyper-parameter untouched — sklearn's
        # check_dont_overwrite_parameters contract)
        if self.n_shapelets_per_size is None:
            self.n_shapelets_per_size_ = grabocka_params_to_shapelet_size_dict(
                len(X), sz, n_classes, self.shapelet_length, self.total_lengths
            )
        else:
            # JSON round-trips stringify dict keys; renormalize so the
            # sorted-size bank order is numeric on refit
            self.n_shapelets_per_size_ = {
                int(k): int(v) for k, v in self.n_shapelets_per_size.items()
            }
        rs = np.random.RandomState(self.random_state)
        # init: random windows from the data (k-means init simplified,
        # shapelets.py:78-91 — windows are cluster seeds)
        bank: list[np.ndarray] = []
        for L, n_shp in sorted(self.n_shapelets_per_size_.items()):
            for _ in range(n_shp):
                xi = X[rs.randint(len(X))]
                t0 = rs.randint(max(xi.shape[0] - L + 1, 1))
                bank.append(xi[t0:t0 + L].copy())
        n_shp_total = len(bank)
        W = 0.01 * rs.randn(n_shp_total, n_classes)
        b = np.zeros(n_classes)
        mW = np.zeros_like(W); vW = np.zeros_like(W)
        mb = np.zeros_like(b); vb = np.zeros_like(b)
        mS = [np.zeros_like(s) for s in bank]; vS = [np.zeros_like(s) for s in bank]
        beta1, beta2, eps = 0.9, 0.999, 1e-8
        print_every = max(1, self.max_iter // 20)
        losses: list[float] = []
        for step in range(1, self.max_iter + 1):
            sel = rs.choice(len(X), size=min(self.batch_size, len(X)), replace=False)
            gW = np.zeros_like(W); gb = np.zeros_like(b)
            gS = [np.zeros_like(s) for s in bank]
            batch_loss = 0.0
            for i in sel:
                ts = X[i]
                dists, locs = _min_dists(ts, bank)
                logits = dists @ W + b
                p = np.exp(logits - logits.max())
                p /= p.sum()
                batch_loss -= float(np.log(max(p[y[i]], 1e-12)))
                grad_logits = p.copy()
                grad_logits[y[i]] -= 1.0
                gW += np.outer(dists, grad_logits)
                gb += grad_logits
                grad_d = W @ grad_logits  # dLoss/d mindist_k
                for k, shp in enumerate(bank):
                    L = shp.shape[0]
                    t0 = locs[k]
                    win = ts[t0:t0 + L]
                    gS[k] += grad_d[k] * 2.0 * (shp - win) / L
            scale = 1.0 / len(sel)
            gW = gW * scale + self.weight_regularizer * W
            gb *= scale
            for k in range(n_shp_total):
                gS[k] *= scale
            losses.append(batch_loss * scale)
            if self.verbose and (step == 1 or step % print_every == 0):
                print("step %d/%d loss %.4f"
                      % (step, self.max_iter, batch_loss * scale))
            params = (
                [(gW, mW, vW, W), (gb, mb, vb, b)]
                + [(gS[k], mS[k], vS[k], bank[k]) for k in range(n_shp_total)]
            )
            if self.optimizer == "sgd":  # plain step (Keras SGD default)
                for g, _, _, target in params:
                    target -= self.lr * g
            else:  # adam
                for g, m_, v_, target in params:
                    m_ *= beta1; m_ += (1 - beta1) * g
                    v_ *= beta2; v_ += (1 - beta2) * g * g
                    mhat = m_ / (1 - beta1 ** step)
                    vhat = v_ / (1 - beta2 ** step)
                    target -= self.lr * mhat / (np.sqrt(vhat) + eps)
        # reference shape contract (shapelets.py:364-378): shapelets_ is
        # an OBJECT ndarray of (sz, d) series — .shape == (n_shapelets,)
        shp = np.empty(len(bank), dtype=object)
        for i, s in enumerate(bank):
            shp[i] = s
        self.shapelets_ = shp
        self.W_, self.b_ = W, b
        # reference history_/n_iter_ (shapelets.py:306,445-451): keras
        # fit history dict -> here the per-step mean batch loss
        self.history_ = {"loss": losses}
        self.n_iter_ = len(losses)
        return self

    # -- distributed transform / locate / predict --------------------------
    # -- keras-layer weight surface (shapelets.py:750-825) ---------------
    def _size_groups(self) -> list[tuple[int, int, int]]:
        """(start, count, size) per sorted shapelet size — the bank is
        built in sorted-size order at fit, so group i is contiguous and
        maps 1:1 to the reference's 'shapelets_i_*' keras layers."""
        groups, start = [], 0
        sizes = getattr(self, "n_shapelets_per_size_", None) \
            or self.n_shapelets_per_size
        # int() the keys: a JSON round-trip turns them into strings, and
        # lexical sort would mis-map groups (e.g. '12' before '8')
        for L, n_shp in sorted((int(k), int(v)) for k, v in sizes.items()):
            groups.append((start, n_shp, L))
            start += n_shp
        return groups

    def _post_restore(self) -> None:
        """JSON turns the size dicts' int keys into strings — restore
        the fit-time int-key normalization so a loaded model's params
        compare equal to the original's."""
        for attr in ("n_shapelets_per_size", "n_shapelets_per_size_"):
            if isinstance(getattr(self, attr, None), dict):
                setattr(self, attr, {
                    int(k): int(v)
                    for k, v in getattr(self, attr).items()})

    def get_weights(self, layer_name: str | None = None) -> list:
        """Model weights, keras-layout (reference shapelets.py:750-786):
        'shapelets_i_j' -> [(n_shp_i, size_i)] (dimension j of size-group
        i), 'classification' -> [W, b], None -> every layer in graph
        order."""
        if getattr(self, "shapelets_", None) is None:
            raise AttributeError("get_weights is only available after fit")
        groups = self._size_groups()
        d = self.shapelets_[0].shape[1]
        if layer_name is None:
            out = []
            for start, n_shp, L in groups:
                for j in range(d):
                    out.append(np.stack(
                        [self.shapelets_[start + k][:, j]
                         for k in range(n_shp)]))
            return out + [self.W_.copy(), self.b_.copy()]
        if layer_name == "classification":
            return [self.W_.copy(), self.b_.copy()]
        i, j = (int(x) for x in layer_name.split("_")[1:])
        start, n_shp, _L = groups[i]
        return [np.stack([self.shapelets_[start + k][:, j]
                          for k in range(n_shp)])]

    def set_weights(self, weights: list, layer_name: str | None = None) -> None:
        """Inverse of get_weights (reference shapelets.py:788-825; its
        doctest sets 'shapelets_0_0' and reads the new shapelet back via
        shapelets_as_time_series_)."""
        if getattr(self, "shapelets_", None) is None:
            raise AttributeError("set_weights is only available after fit")
        groups = self._size_groups()
        d = self.shapelets_[0].shape[1]
        if layer_name == "classification":
            self.W_ = np.asarray(weights[0], dtype=np.float64)
            self.b_ = np.asarray(weights[1], dtype=np.float64)
            return
        if layer_name is None:
            pos = 0
            for gi in range(len(groups)):
                for j in range(d):
                    self.set_weights([weights[pos]], f"shapelets_{gi}_{j}")
                    pos += 1
            self.set_weights(weights[pos:pos + 2], "classification")
            return
        i, j = (int(x) for x in layer_name.split("_")[1:])
        start, n_shp, L = groups[i]
        mat = np.asarray(weights[0], dtype=np.float64)
        for k in range(n_shp):
            self.shapelets_[start + k][:, j] = mat[k]

    # -- reference submodel surface (shapelets.py:295-305): keras Models
    # there; numpy twins here with the same .predict(X) contracts, built
    # lazily so they never enter the serialized param dict ---------------
    @property
    def model_(self):
        """Full classifier submodel — .predict(X) returns class
        probabilities like the reference's softmax head."""
        return self._submodel("proba")

    @property
    def transformer_model_(self):
        """.predict(X) -> (n, n_shapelets) min-distances."""
        return self._submodel("transform")

    @property
    def locator_model_(self):
        """.predict(X) -> (n, n_shapelets) argmin match positions."""
        return self._submodel("locate")

    def _submodel(self, mode: str) -> "_ShapeletSubmodel":
        if getattr(self, "shapelets_", None) is None:
            # unfitted: AttributeError so hasattr(self, 'model_') is
            # False, matching the reference's fitted-state probe
            # (shapelets.py:607)
            raise AttributeError("submodels are only available after fit")
        return _ShapeletSubmodel(self, mode)

    @property
    def shapelets_as_time_series_(self) -> np.ndarray:
        """Shapelets as one tslearn-format dataset: (n_shapelets,
        max_shapelet_sz, d), NaN-padded past each shapelet's length
        (reference property at shapelets.py:380-403; its doctest pins
        the (3, 4, 1) shape for sizes {3: 2, 4: 1})."""
        bank = self.shapelets_
        if bank is None:
            raise AttributeError(
                "shapelets_as_time_series_ is only available after fit"
            )
        shp_sz = max(s.shape[0] for s in bank)
        d = bank[0].shape[1]
        out = np.full((len(bank), shp_sz, d), np.nan)
        for i, s in enumerate(bank):
            out[i, : s.shape[0], :] = s
        return out

    def _bank_udf(self, mode: str):
        bank = [s.copy() for s in self.shapelets_]
        scale = self.scale
        minmax = self._minmax

        def prep(v) -> np.ndarray:
            ts = _to_arr(v)
            return minmax(ts) if scale else ts

        if mode == "transform":
            @F.pandas_udf(ArrayType(DoubleType()))
            def _udf(values: pd.Series) -> pd.Series:
                return pd.Series([
                    _min_dists(prep(v), bank)[0].tolist()
                    for v in values
                ])
            return _udf
        else:
            @F.pandas_udf(ArrayType(IntegerType()))
            def _udf(values: pd.Series) -> pd.Series:
                return pd.Series([
                    [int(x) for x in _min_dists(prep(v), bank)[1]]
                    for v in values
                ])
            return _udf

    def _shapelet_d(self):
        """Fitted per-timestamp dimension from the shapelet bank, for
        the predict-time check_dims twin (bases.check_query_dims)."""
        bank = getattr(self, "shapelets_", None)
        if bank is not None and len(bank) and hasattr(bank[0], "shape") \
                and getattr(bank[0], "ndim", 0) == 2:
            return bank[0].shape[1]
        return None

    def transform(self, df: DataFrame) -> DataFrame:
        """Min-distances to every shapelet (shapelets.py:514-540)."""
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        check_query_dims(df, self._shapelet_d())
        df, was_array = as_ts_df(df)
        if self.max_size is not None or getattr(self, "_fit_sz", None):
            self._check_series_length(df)
        out = df.withColumn("shapelet_dists", self._bank_udf("transform")("values"))
        return collect_col(out, was_array, "shapelet_dists")

    def locate(self, df: DataFrame) -> DataFrame:
        """Argmin match positions (shapelets.py:541-586)."""
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        check_query_dims(df, self._shapelet_d())
        df, was_array = as_ts_df(df)
        if self.max_size is not None or getattr(self, "_fit_sz", None):
            self._check_series_length(df)
        out = df.withColumn("shapelet_locs", self._bank_udf("locate")("values"))
        return collect_col(out, was_array, "shapelet_locs")

    def predict(self, df: DataFrame) -> DataFrame:
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        check_query_dims(df, self._shapelet_d())
        df, was_array = as_ts_df(df)
        W, b, classes = self.W_, self.b_, self.classes_
        bank = [s.copy() for s in self.shapelets_]
        scale = self.scale
        minmax = self._minmax

        @F.pandas_udf("string")
        def _udf(values: pd.Series) -> pd.Series:
            out = []
            for v in values:
                ts = _to_arr(v)
                if scale:
                    ts = minmax(ts)
                dists, _ = _min_dists(ts, bank)
                out.append(str(classes[int(np.argmax(dists @ W + b))]))
            return pd.Series(out)

        out = df.select("series_id", _udf("values").alias("prediction"))
        return collect_col(out, was_array, "prediction",
                           labels=getattr(self, "_y_numeric", True))

    def predict_proba(self, df: DataFrame) -> DataFrame:
        """Class probabilities ordered by classes_ (reference
        shapelets.py:497-513 keras softmax head) — same distributed
        shape as predict, one vectorized pandas-UDF map."""
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        check_query_dims(df, self._shapelet_d())
        df, was_array = as_ts_df(df)
        W, b = self.W_, self.b_
        bank = [s.copy() for s in self.shapelets_]
        scale = self.scale
        minmax = self._minmax

        @F.pandas_udf(ArrayType(DoubleType()))
        def _udf(values: pd.Series) -> pd.Series:
            out = []
            for v in values:
                ts = _to_arr(v)
                if scale:
                    ts = minmax(ts)
                dists, _ = _min_dists(ts, bank)
                logits = dists @ W + b
                p = np.exp(logits - logits.max())
                out.append((p / p.sum()).tolist())
            return pd.Series(out)

        out = df.select("series_id", _udf("values").alias("probabilities"))
        return collect_col(out, was_array, "probabilities")


class SerializableShapeletModel(LearningShapelets):
    """Deprecated alias of LearningShapelets (reference
    shapelets.py:892-1015): keeps the ORIGINAL signature — its
    ``learning_rate`` (default 0.01, shapelet_length 0.3) maps onto the
    optimizer step — and warns like the original."""

    def __init__(self, n_shapelets_per_size=None, max_iter=10000,
                 batch_size=256, verbose=0, learning_rate=0.01,
                 weight_regularizer=0.0, shapelet_length=0.3,
                 total_lengths=3, random_state=None):
        import warnings

        warnings.warn(
            "`SerializableShapeletModel` is deprecated and will be "
            "removed; use LearningShapelets instead.",
            DeprecationWarning,
            stacklevel=2,
        )
        super().__init__(
            n_shapelets_per_size=n_shapelets_per_size, max_iter=max_iter,
            batch_size=batch_size, verbose=verbose,
            weight_regularizer=weight_regularizer,
            shapelet_length=shapelet_length, total_lengths=total_lengths,
            random_state=random_state, lr=learning_rate,
        )
        self.learning_rate = learning_rate


# plain alias, exactly as the reference (shapelets.py:889)
ShapeletModel = LearningShapelets


# ---------------------------------------------------------------------------
# Keras-layer twins (reference shapelets.py:28-155) — the reference's
# network plumbing, re-expressed as numpy callables so the names exist
# (and behave) without a TensorFlow dependency.  The engine's trainer
# (LearningShapelets above) builds its forward/backward pass from
# scratch, so these classes are the import-compat surface for user code
# that manipulated the reference's layers directly.
# ---------------------------------------------------------------------------

class GlobalMinPooling1D:
    """Global min pooling over the time axis (reference
    shapelets.py:28-55): non-finite entries are masked to +inf before
    the reduction, mirroring the reference's tf.where guard.

    >>> import numpy as np
    >>> x = np.array([5.0, np.nan, 6.8, np.nan, np.inf]).reshape(1, 5, 1)
    >>> GlobalMinPooling1D()(x)
    array([[5.]], dtype=float32)
    """

    def __init__(self, **kwargs):
        pass

    def compute_output_shape(self, input_shape):
        return input_shape[0], input_shape[2]

    def __call__(self, inputs, **kwargs):
        x = np.asarray(inputs, dtype=float)
        x = np.where(np.isfinite(x), x, np.inf)
        return np.min(x, axis=1).astype(np.float32)

    call = __call__


class GlobalArgminPooling1D:
    """Global argmin pooling over the time axis (reference
    shapelets.py:58-75): returns the position of the minimum, cast to
    float like the reference's K.cast(..., K.floatx())."""

    def __init__(self, **kwargs):
        pass

    def compute_output_shape(self, input_shape):
        return input_shape[0], input_shape[2]

    def __call__(self, inputs, **kwargs):
        x = np.asarray(inputs, dtype=float)
        return np.argmin(x, axis=1).astype(np.float32)

    call = __call__


def _kmeans_init_shapelets(X: np.ndarray, n_shapelets: int, shp_len: int,
                           n_draw: int = 10000) -> np.ndarray:
    """Cluster random time-series snippets into shapelet seeds
    (reference shapelets.py:78-91).  Sampling uses the global numpy RNG
    exactly like the reference; the Lloyd loop is a from-scratch
    driver-side euclidean k-means (the snippets matrix is n_draw x
    shp_len — small by construction)."""
    from tslearn_spark.utils import ts_size

    n_ts, sz, d = X.shape
    indices_ts = np.random.choice(n_ts, size=n_draw, replace=True)
    subseries = np.zeros((n_draw, shp_len, d))
    for i, ts_idx in enumerate(indices_ts):
        t0 = np.random.choice(ts_size(X[ts_idx]) - shp_len + 1, size=1)[0]
        subseries[i] = X[ts_idx, t0:t0 + shp_len]
    flat = subseries.reshape(n_draw, shp_len * d)
    # deterministic-given-RNG Lloyd: sample distinct seeds, iterate
    seeds = np.random.choice(n_draw, size=n_shapelets, replace=False)
    centers = flat[seeds].copy()
    for _ in range(10):
        d2 = ((flat[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        lab = d2.argmin(axis=1)
        for c in range(n_shapelets):
            members = flat[lab == c]
            if len(members):
                centers[c] = members.mean(axis=0)
    return centers.reshape(n_shapelets, shp_len, d)


class KMeansShapeletInitializer:
    """Initializer drawing shapelet seeds from a clustering of series
    snippets (reference shapelets.py:94-112)."""

    def __init__(self, X):
        from tslearn_spark.utils import to_time_series_dataset

        self.X_ = to_time_series_dataset(X)

    def __call__(self, shape, dtype=None):
        n_shapelets, shp_len = shape
        return _kmeans_init_shapelets(
            self.X_, n_shapelets, shp_len)[:, :, 0].astype(np.float32)

    def get_config(self):
        return {"data": self.X_}


class LocalSquaredDistanceLayer:
    """Pairwise squared distance between local patches and shapelets
    (reference shapelets.py:115-155): output[b, t, s] =
    ||x[b, t] - kernel[s]||^2 / len, via the same x^2 + y^2 - 2xy
    expansion the reference uses."""

    def __init__(self, n_shapelets: int, X=None, **kwargs):
        self.n_shapelets = n_shapelets
        if X is None:
            self.initializer = "uniform"
        else:
            self.initializer = KMeansShapeletInitializer(X)

    def build(self, input_shape):
        shape = (self.n_shapelets, input_shape[2])
        if self.initializer == "uniform":
            self.kernel = np.random.uniform(-0.05, 0.05, shape)
        else:
            self.kernel = np.asarray(self.initializer(shape), dtype=float)

    def __call__(self, x, **kwargs):
        x = np.asarray(x, dtype=float)
        if not hasattr(self, "kernel"):
            self.build(x.shape)
        x_sq = (x ** 2).sum(axis=2)[:, :, None]
        y_sq = (self.kernel ** 2).sum(axis=1).reshape(1, 1, self.n_shapelets)
        xy = x @ self.kernel.T
        return (x_sq + y_sq - 2 * xy) / self.kernel.shape[1]

    call = __call__

    def compute_output_shape(self, input_shape):
        return input_shape[0], input_shape[1], self.n_shapelets

    def get_config(self):
        return {"n_shapelets": self.n_shapelets}
