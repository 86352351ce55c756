"""The workloads: their ops, how each op's output is checked, and
the per-layer counts only the workload itself can give.

An op runs one flow on ``tslearn_spark``'s public API and returns its
collected output.  ``main`` and ``side`` name the two timed phases of a
workload (see README.md for what each phase is on each workload).
Every op must return the same rows on every round: its output is checked
in full once per run and fingerprinted every round.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import layers

# the events and documents tables of the engine's sf0.1 test data,
# byte for byte; the seed never changes them
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
KNN_RADIUS = 5
N_CLASSES = 3
N_SPOT = 3           # 1-NN test series re-checked against kernels.dtw


@dataclass
class Op:
    name: str
    phase: str                          # "main" or "side"
    run: Callable[[Any], Any]
    check: Callable[[Any, Any], str | None]


@dataclass
class Workload:
    name: str
    ops: list[Op]
    items: Callable[[Any], int]         # units of main-phase work per round
    prepare: Callable[[Any], None] = lambda ctx: None
    layer_counts: Callable[[Any], dict] = lambda ctx: {}
    state: dict = field(default_factory=dict)


def fingerprint(out: pd.DataFrame) -> int:
    """Order-insensitive hash of a collected frame (row hashes summed
    modulo 2**64)."""
    df = out[sorted(out.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return int(pd.util.hash_pandas_object(df, index=False).sum())


# ---------------------------------------------------------------- helpers

def _entry(name: str) -> Op:
    """Op that runs driver-contract query ``name`` and collects it; its
    check compares against the query's DuckDB oracle."""
    def run(ctx):
        import __spark_entry__ as entry

        df = ctx.call(name, entry.queries()[name], ctx.spark, ctx.data_dir)
        return ctx.collect(df)
    return Op(name, "main", run, lambda ctx, out: ctx.oracle_check(name, out))


def _side(op: Op) -> Op:
    op.phase = "side"
    return op


def raw_series(data_dir: str) -> dict[int, np.ndarray]:
    """user_id -> values ordered by (ts, event_id), as events_to_ts."""
    ev = pd.read_parquet(f"{data_dir}/events.parquet",
                         columns=["user_id", "ts", "event_id", "value"])
    ev = ev.sort_values(["user_id", "ts", "event_id"], kind="mergesort")
    return {int(u): g["value"].to_numpy(np.float64)
            for u, g in ev.groupby("user_id", sort=True)}


def znorm(x: np.ndarray) -> np.ndarray:
    sd = x.std()
    return (x - x.mean()) / (sd if sd > 0 else 1.0)


def _argmin_ok(dists: np.ndarray, got: int, rtol: float = 1e-9) -> bool:
    """``got`` is an argmin of ``dists`` up to float ties."""
    best = float(np.min(dists))
    return float(dists[got]) <= best + rtol * max(1.0, abs(best))


def _split(seed: int, ids: np.ndarray) -> np.ndarray:
    """Seeded train mask over ``ids``: exactly half is train."""
    mask = np.zeros(len(ids), bool)
    mask[np.random.default_rng([seed, 5]).permutation(len(ids))[: len(ids) // 2]] = True
    return mask


# ---------------------------------------------------------------- dtw_knn

def _knn_prepare(ctx) -> None:
    """The seed's split and labels, as a small DataFrame the ops join."""
    ids = np.array(sorted(ctx.series))
    st = ctx.wl.state
    st["ids"] = ids
    st["train"] = _split(ctx.seed, ids)
    st["label"] = np.random.default_rng([ctx.seed, 1]).integers(0, N_CLASSES, len(ids))
    st["labels_df"] = ctx.spark.createDataFrame(pd.DataFrame({
        "series_id": ids, "label": st["label"].astype(str),
        "is_train": st["train"]})).localCheckpoint()


def _prep_run(ctx):
    """Series assembly, z-normalization and the label join, materialized
    once for the 1-NN op of the same round."""
    from tslearn_spark.dataset import events_to_ts
    from tslearn_spark.preprocessing import transform_mean_variance

    ts = ctx.call("dataset.events_to_ts", events_to_ts, ctx.tables["events"])
    z = ctx.call("preprocessing.transform_mean_variance",
                 transform_mean_variance, ts)
    labeled = z.join(F.broadcast(ctx.wl.state["labels_df"]), "series_id")
    with ctx.span("localCheckpoint"):
        ctx.wl.state["labeled"] = labeled.localCheckpoint()
    return pd.DataFrame({"n": [ctx.wl.state["labeled"].count()]})


def _prep_check(ctx, out) -> str | None:
    n, want = int(out["n"][0]), len(ctx.series)
    return None if n == want else f"series_prep: {n} series, expected {want}"


def _knn_run(ctx):
    from tslearn_spark.neighbors import knn_classify

    labeled = ctx.wl.state["labeled"]
    pred = ctx.call("neighbors.knn_classify", knn_classify,
                    labeled.where("NOT is_train"), labeled.where("is_train"),
                    k=1, metric="dtw", sakoe_chiba_radius=KNN_RADIUS)
    return ctx.collect(pred)


def _knn_check(ctx, out) -> str | None:
    """Every test series is predicted once; a seeded spot sample must
    carry the label of its banded-DTW nearest train series."""
    from tslearn_spark import kernels as K

    st = ctx.wl.state
    test_ids = st["ids"][~st["train"]]
    if sorted(out["series_id"].astype(int)) != list(test_ids):
        return f"knn: predicted {len(out)} series, expected {len(test_ids)}"
    series = {u: znorm(v)[:, None] for u, v in ctx.series.items()}
    train_ids = st["ids"][st["train"]]
    train_labels = st["label"][st["train"]]
    pred = dict(zip(out["series_id"].astype(int), out["prediction"].astype(str)))
    rng = np.random.default_rng([ctx.seed, 6])
    for q in rng.choice(test_ids, N_SPOT, replace=False):
        d = np.array([K.dtw(series[q], series[t], sakoe_chiba_radius=KNN_RADIUS)
                      for t in train_ids])
        ok = {str(train_labels[i]) for i in range(len(train_ids)) if _argmin_ok(d, i)}
        if pred[int(q)] not in ok:
            return f"knn: series {q} predicted {pred[int(q)]}, nearest label {sorted(ok)}"
    return None


def _knn_counts(ctx) -> dict:
    st = ctx.wl.state
    tr, te = st["ids"][st["train"]], st["ids"][~st["train"]]
    lens = {u: len(v) for u, v in ctx.series.items()}
    n_te, n_tr = Counter(lens[q] for q in te), Counter(lens[t] for t in tr)
    cells = sum(a * b * layers.band_cells(la, lb, KNN_RADIUS)
                for la, a in n_te.items() for lb, b in n_tr.items())
    return {"neighbors.pairs": len(tr) * len(te), "kernels.dp_cells": cells}


def _knn_items(ctx) -> int:
    n_train = int(ctx.wl.state["train"].sum())
    return n_train * (len(ctx.series) - n_train)


def dtw_knn() -> Workload:
    return Workload(
        "dtw_knn",
        [Op("series_prep", "side", _prep_run, _prep_check),
         Op("knn_dtw_classify", "main", _knn_run, _knn_check)],
        items=_knn_items, prepare=_knn_prepare, layer_counts=_knn_counts)


# --------------------------------------------------------- sql_transforms

SQL_MAIN = ("ts_scale", "ts_paa_sax")
SQL_SIDE = ("ts_sax_dist_pairs", "dedup_exact")


def sql_transforms() -> Workload:
    return Workload(
        "sql_transforms",
        [_entry(q) for q in SQL_MAIN] + [_side(_entry(q)) for q in SQL_SIDE],
        items=lambda ctx: len(ctx.series) * len(SQL_MAIN))


WORKLOADS = {w.__name__: w for w in (dtw_knn, sql_transforms)}
