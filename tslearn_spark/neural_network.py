"""TimeSeriesMLPClassifier / Regressor — flatten + MLP.

Reference: tslearn/neural_network/neural_network.py:9-168 (verbatim
sklearn MLP on flattened (sz*d,) features).  The classifier delegates
to MLlib's MultilayerPerceptronClassifier (distributed L-BFGS); the
regressor (no MLlib twin) runs a distributed full-batch Adam loop —
per-partition gradient-sum partials aggregated driver-side, the
softdtw_barycenter treeAggregate pattern.  Inference is a distributed
pandas UDF with broadcast weights.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from tslearn_spark.bases import (BaseModelPackage, ClassifierScoreMixin,
                                 RegressorScoreMixin, TimeSeriesBaseEstimator)
from tslearn_spark.metrics import _to_arr
from tslearn_spark.session import TASK_WORK, size_tasks


def _act(z: np.ndarray, kind: str) -> np.ndarray:
    """sklearn's hidden activations (identity/logistic/tanh/relu)."""
    if kind == "relu":
        return np.maximum(z, 0.0)
    if kind == "tanh":
        return np.tanh(z)
    if kind == "logistic":
        return 1.0 / (1.0 + np.exp(-z))
    return z  # identity


def _act_deriv(h: np.ndarray, kind: str) -> np.ndarray:
    """Derivative expressed in the ACTIVATION value h (not z) — all four
    sklearn activations admit that form."""
    if kind == "relu":
        return (h > 0).astype(h.dtype)
    if kind == "tanh":
        return 1.0 - h * h
    if kind == "logistic":
        return h * (1.0 - h)
    return np.ones_like(h)


class _MLP:
    def __init__(self, sizes: list[int], classifier: bool, lr: float = 1e-3,
                 max_iter: int = 300, batch_size: int = 64, seed: int = 0,
                 activation: str = "relu"):
        self.sizes = sizes
        self.classifier = classifier
        self.lr = lr
        self.max_iter = max_iter
        self.batch_size = batch_size
        self.seed = seed
        self.activation = activation

    def init(self):
        rs = np.random.RandomState(self.seed)
        self.Ws = [rs.randn(a, b) * np.sqrt(2.0 / a)
                   for a, b in zip(self.sizes[:-1], self.sizes[1:])]
        self.bs = [np.zeros(b) for b in self.sizes[1:]]

    def forward(self, X):
        acts = [X]
        h = X
        for i, (W, b) in enumerate(zip(self.Ws, self.bs)):
            z = h @ W + b
            h = _act(z, self.activation) if i < len(self.Ws) - 1 else z
            acts.append(h)
        return acts

    @staticmethod
    def grad_sums(Ws, bs, X, y, classifier: bool, activation: str = "relu"):
        """UN-normalized gradient sums over the rows of X — additive
        across row blocks, so executor partials sum exactly to the
        full-batch gradient (the treeAggregate trick)."""
        acts = [X]
        h = X
        for i, (W, b) in enumerate(zip(Ws, bs)):
            z = h @ W + b
            h = _act(z, activation) if i < len(Ws) - 1 else z
            acts.append(h)
        out = acts[-1]
        if classifier:
            p = np.exp(out - out.max(axis=1, keepdims=True))
            p /= p.sum(axis=1, keepdims=True)
            delta = p
            delta[np.arange(len(X)), y.astype(int)] -= 1.0
        else:
            delta = out - y[:, None]
        gWs, gbs = [], []
        for i in range(len(Ws) - 1, -1, -1):
            gWs.append(acts[i].T @ delta)
            gbs.append(delta.sum(axis=0))
            if i > 0:
                delta = (delta @ Ws[i].T) * _act_deriv(acts[i], activation)
        return gWs[::-1], gbs[::-1]

    def adam_init(self):
        return {
            "ms": [np.zeros_like(W) for W in self.Ws],
            "vs": [np.zeros_like(W) for W in self.Ws],
            "mbs": [np.zeros_like(b) for b in self.bs],
            "vbs": [np.zeros_like(b) for b in self.bs],
        }

    def adam_step(self, gWs, gbs, step, state):
        b1, b2, eps = 0.9, 0.999, 1e-8
        for i in range(len(self.Ws)):
            for g, m_, v_, t in ((gWs[i], state["ms"][i], state["vs"][i], self.Ws[i]),
                                 (gbs[i], state["mbs"][i], state["vbs"][i], self.bs[i])):
                m_ *= b1; m_ += (1 - b1) * g
                v_ *= b2; v_ += (1 - b2) * g * g
                t -= self.lr * (m_ / (1 - b1 ** step)) / (
                    np.sqrt(v_ / (1 - b2 ** step)) + eps)

    def fit(self, X, y):
        """Driver-side minibatch Adam (used by unit tests and as the
        local twin of the distributed regressor fit)."""
        self.init()
        n = len(X)
        rs = np.random.RandomState(self.seed + 1)
        state = self.adam_init()
        for step in range(1, self.max_iter + 1):
            sel = rs.choice(n, size=min(self.batch_size, n), replace=False)
            gWs, gbs = self.grad_sums(self.Ws, self.bs, X[sel], y[sel],
                                      self.classifier, self.activation)
            k = float(len(sel))
            self.adam_step([g / k for g in gWs], [g / k for g in gbs], step, state)
        return self

    def predict_raw(self, X):
        return self.forward(X)[-1]


class _MLPBase(BaseModelPackage, TimeSeriesBaseEstimator):
    """Init carries the common sklearn MLP signature (the reference
    accepts sklearn's exact hyper-parameters, neural_network.py:15-17)
    so reference call sites type-check.  Honored here: layer sizes,
    the full sklearn activation set (identity/logistic/tanh/relu) in
    the from-scratch regressor trainer, alpha L2 (regressor),
    learning_rate_init, max_iter, tol (MLlib convergence for the
    classifier), verbose, random_state.  The classifier delegates to
    MLlib's MultilayerPerceptronClassifier (L-BFGS, sigmoid hidden
    layers regardless of ``activation`` — the documented architectural
    deviation); solver/batch_size/learning_rate are stored for
    introspection but do not change that engine choice.  ``lr`` is a
    back-compat alias that overrides learning_rate_init when given."""

    def __init__(self, hidden_layer_sizes=(100,), activation: str = "relu",
                 solver: str = "adam", alpha: float = 1e-4,
                 batch_size="auto", learning_rate: str = "constant",
                 learning_rate_init: float = 1e-3, max_iter: int = 300,
                 tol: float = 1e-4, verbose: bool = False,
                 random_state: int = 0, lr: float | None = None):
        if activation not in ("relu", "tanh", "logistic", "identity"):
            raise NotImplementedError(
                f"unknown activation {activation!r}: sklearn's set is "
                "identity/logistic/tanh/relu"
            )
        self.hidden_layer_sizes = tuple(hidden_layer_sizes)
        self.activation = activation
        self.solver = solver
        self.alpha = alpha
        self.batch_size = batch_size
        self.learning_rate = learning_rate
        self.learning_rate_init = learning_rate_init
        self.max_iter = max_iter
        self.tol = tol
        self.verbose = verbose
        self.random_state = random_state
        self.lr = lr if lr is not None else learning_rate_init

    @staticmethod
    def _flatten(rows) -> np.ndarray:
        # flatten (sz, d) -> (sz*d,) like to_sklearn_dataset (cast.py)
        return np.array([
            np.asarray(r["values"], dtype=np.float64).ravel() for r in rows
        ])


def _check_query_width(X, n_feat):
    """Rigid-input validation (the MLP flattens series to a fixed
    width): an array-like query whose flattened first series differs
    from the fitted input width raises the reference's ValueError
    (sklearn check_array n_features contract) instead of an opaque
    MLlib vector-size error mid-stage."""
    if n_feat is None or X is None:
        return
    try:
        from pyspark.sql import DataFrame as _DF

        if isinstance(X, _DF):
            return
        w = np.asarray(X[0], dtype=np.float64).size
    except Exception:
        return
    if w != int(n_feat):
        raise ValueError(
            f"Query series flatten to {w} features but the model was "
            f"fitted with {int(n_feat)} (fixed-width estimator)")


class TimeSeriesMLPClassifier(ClassifierScoreMixin, _MLPBase):
    """neural_network.py:9-105 twin, delegated to MLlib.

    The reference runs sklearn's MLPClassifier on flattened (sz*d,)
    features; the Spark-first mapping (SURVEY.md §2.9) is MLlib's
    MultilayerPerceptronClassifier on a vector column — fit is
    distributed (L-BFGS on executors), nothing is collected to the
    driver.  Flattening is a JVM-side ``flatten`` + array_to_vector.
    """

    def fit(self, X=None, y=None, label_col: str = "label",
            df: DataFrame | None = None) -> "TimeSeriesMLPClassifier":
        from pyspark.ml.classification import MultilayerPerceptronClassifier
        from pyspark.ml.functions import array_to_vector

        from tslearn_spark.bases import as_ts_df

        # reference keyword is X (neural_network.py:37); df kept as an
        # engine-native alias
        df, _ = as_ts_df(df if df is not None else X, y=y, y_col=label_col)
        if y is not None:
            self._y_numeric = np.asarray(y).dtype.kind in "iufb"

        classes = [
            r[0] for r in df.select(label_col).distinct().orderBy(label_col).collect()
        ]
        self.classes_ = np.array(classes)
        idx = F.lit(None)
        for i, c in enumerate(classes):
            cond = F.col(label_col) == F.lit(c)
            idx = F.when(cond, float(i)) if i == 0 else idx.when(cond, float(i))
        feats = df.select(
            "series_id",
            array_to_vector(F.flatten("values")).alias("features"),
            idx.alias("_label_idx"),
        )
        # L-BFGS runs ONE job per iteration over these partitions; size
        # them to the data (~50k rows/partition) so maxIter x n_partitions
        # task overhead doesn't dominate on small inputs, then cache —
        # every iteration re-reads the features otherwise
        feats = size_tasks(feats, TASK_WORK / 50_000).cache()
        n_feat = int(df.select(F.size(F.flatten("values")).alias("n")).first()["n"])
        layers = [n_feat, *self.hidden_layer_sizes, len(classes)]
        self._layers_ = layers
        clf = MultilayerPerceptronClassifier(
            layers=layers,
            maxIter=self.max_iter,
            tol=self.tol,
            seed=self.random_state,
            featuresCol="features",
            labelCol="_label_idx",
        )
        self.model_ = clf.fit(feats)
        return self

    def _unpack_mllib(self):
        """MLlib's flat weight vector -> sklearn-layout (coefs_,
        intercepts_): each affine block stores the (n_out, n_in) matrix
        column-major — i.e. the (n_in, n_out) matrix row-major — then
        its n_out bias values."""
        if not hasattr(self, "model_"):
            raise AttributeError("only available after fit")
        w = np.asarray(self.model_.weights.toArray(), dtype=np.float64)
        Ws, bs, off = [], [], 0
        for a, b in zip(self._layers_[:-1], self._layers_[1:]):
            Ws.append(w[off:off + a * b].reshape(a, b))
            off += a * b
            bs.append(w[off:off + b])
            off += b
        return Ws, bs

    @property
    def coefs_(self):
        """sklearn MLPClassifier attribute: per-layer (n_in, n_out)
        weight matrices (reference inherits them from sklearn)."""
        return self._unpack_mllib()[0]

    @property
    def intercepts_(self):
        """sklearn MLPClassifier attribute: per-layer bias vectors."""
        return self._unpack_mllib()[1]

    def predict(self, df: DataFrame) -> DataFrame:
        from pyspark.ml.functions import array_to_vector

        from tslearn_spark.bases import as_ts_df, collect_col

        _check_query_width(df, getattr(self, "_layers_", [None])[0])
        df, was_array = as_ts_df(df)
        feats = df.select(
            "series_id", array_to_vector(F.flatten("values")).alias("features")
        )
        out = self.model_.transform(feats)
        class_arr = F.array(*[F.lit(str(c)) for c in self.classes_])
        res = out.select(
            "series_id",
            F.element_at(class_arr, F.col("prediction").cast("int") + 1).alias(
                "prediction"
            ),
        )
        return collect_col(res, was_array, "prediction",
                           labels=getattr(self, "_y_numeric", True))

    def predict_proba(self, df: DataFrame) -> DataFrame:
        """Class probabilities ordered by ``classes_`` (sklearn MLP
        surface the reference inherits, neural_network.py:19-107):
        MLlib's probability vector re-exposed as array<double> —
        distributed end to end, one model.transform pass."""
        from pyspark.ml.functions import array_to_vector, vector_to_array

        from tslearn_spark.bases import as_ts_df, collect_col

        _check_query_width(df, getattr(self, "_layers_", [None])[0])
        df, was_array = as_ts_df(df)
        feats = df.select(
            "series_id", array_to_vector(F.flatten("values")).alias("features")
        )
        out = self.model_.transform(feats).select(
            "series_id",
            vector_to_array(F.col("probability")).alias("probabilities"),
        )
        return collect_col(out, was_array, "probabilities")

    def predict_log_proba(self, df: DataFrame) -> DataFrame:
        """log of predict_proba (sklearn contract); ln(0) -> -inf like
        numpy, computed in codegen via a transform HOF."""
        from tslearn_spark.bases import as_ts_df, collect_col

        proba = self.predict_proba(df)
        if isinstance(proba, np.ndarray):
            with np.errstate(divide="ignore"):
                return np.log(proba)
        out = proba.select(
            "series_id",
            F.expr(
                "transform(probabilities, x -> CASE WHEN x <= 0.0D THEN "
                "double('-Infinity') ELSE ln(x) END)"
            ).alias("log_probabilities"),
        )
        return out


class TimeSeriesMLPRegressor(RegressorScoreMixin, _MLPBase):
    """neural_network.py:108-168 twin.

    MLlib has no MLP regressor, so the fit is a distributed full-batch
    Adam loop: weights are shipped in the task closure each step, every
    partition reduces its rows to one flattened gradient-sum vector
    (grad_sums is additive across row blocks), and the driver sums
    ~n_partitions vectors and applies the Adam update — the same
    treeAggregate shape as softdtw_barycenter (barycenters.py:274).
    Nothing row-shaped ever reaches the driver; traffic per step is
    O(n_partitions * n_weights)."""

    def fit(self, X=None, y=None, target_col: str = "y",
            df: DataFrame | None = None) -> "TimeSeriesMLPRegressor":
        from tslearn_spark.bases import as_ts_df

        # reference keyword is X (neural_network.py:37); df kept as an
        # engine-native alias
        df, _ = as_ts_df(df if df is not None else X, y=y, y_col=target_col,
                         y_numeric=True)
        flat = df.select(
            F.flatten("values").alias("x"),
            F.col(target_col).cast("double").alias("y"),
        )
        agg = flat.agg(
            F.count("*").alias("n"), F.avg("y").alias("mu"),
            F.coalesce(F.stddev_pop("y"), F.lit(0.0)).alias("sd"),
        ).first()
        n = int(agg["n"])
        # one Spark job per Adam step: size partitions to the data (~10k
        # rows per task), as in the classifier's L-BFGS setup
        flat = size_tasks(flat, TASK_WORK / 10_000, n_rows=n).cache()
        self.y_mean_ = float(agg["mu"])
        self.y_std_ = float(agg["sd"]) or 1.0
        n_feat = int(flat.select(F.size("x").alias("k")).first()["k"])
        sizes = [n_feat, *self.hidden_layer_sizes, 1]
        mlp = _MLP(sizes, classifier=False, lr=self.lr,
                   max_iter=self.max_iter, seed=self.random_state,
                   activation=self.activation)
        act = self.activation
        mlp.init()
        state = mlp.adam_init()
        mu, sd = self.y_mean_, self.y_std_
        shapes = [W.shape for W in mlp.Ws]

        def _unpack(vec):
            gWs, gbs, off = [], [], 0
            for a, b in shapes:
                gWs.append(vec[off:off + a * b].reshape(a, b)); off += a * b
            for _, b in shapes:
                gbs.append(vec[off:off + b]); off += b
            return gWs, gbs

        for step in range(1, self.max_iter + 1):
            Ws, bs = [W.copy() for W in mlp.Ws], [b.copy() for b in mlp.bs]

            def _partial(batches, Ws=Ws, bs=bs):
                acc = None
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["x"]])
                    yn = (pdf["y"].to_numpy(dtype=np.float64) - mu) / sd
                    gWs, gbs = _MLP.grad_sums(Ws, bs, X, yn, classifier=False,
                                              activation=act)
                    vec = np.concatenate(
                        [g.ravel() for g in gWs] + [g for g in gbs]
                    )
                    acc = vec if acc is None else acc + vec
                if acc is not None:
                    yield pd.DataFrame({"g": [acc.tolist()]})

            parts = flat.mapInPandas(_partial, "g array<double>").collect()
            total = np.sum(
                [np.asarray(r["g"], dtype=np.float64) for r in parts], axis=0
            ) / float(n)
            gWs, gbs = _unpack(total)
            if self.alpha:  # sklearn's L2 term: (sum_grad + alpha*W)/n
                gWs = [g + self.alpha * W / float(n)
                       for g, W in zip(gWs, mlp.Ws)]
            mlp.adam_step(gWs, gbs, step, state)
        flat.unpersist()
        self.mlp_ = mlp
        return self

    @property
    def coefs_(self):
        """sklearn MLPRegressor attribute: per-layer (n_in, n_out)
        weight matrices — the from-scratch _MLP already stores them in
        that orientation."""
        if not hasattr(self, "mlp_"):
            raise AttributeError("coefs_ is only available after fit")
        return list(self.mlp_.Ws)

    @property
    def intercepts_(self):
        """sklearn MLPRegressor attribute: per-layer bias vectors."""
        if not hasattr(self, "mlp_"):
            raise AttributeError("intercepts_ is only available after fit")
        return list(self.mlp_.bs)

    def predict(self, df: DataFrame) -> DataFrame:
        from tslearn_spark.bases import as_ts_df, collect_col

        mlp_f = getattr(self, "mlp_", None)
        _check_query_width(
            df, mlp_f.Ws[0].shape[0] if mlp_f is not None else None)
        df, was_array = as_ts_df(df)
        mlp, mu, sd = self.mlp_, self.y_mean_, self.y_std_

        @F.pandas_udf("double")
        def _udf(values: pd.Series) -> pd.Series:
            X = np.array([_to_arr(v).ravel() for v in values])
            return pd.Series(mlp.predict_raw(X).ravel() * sd + mu)

        out = df.select("series_id", _udf("values").alias("prediction"))
        return collect_col(out, was_array, "prediction")
