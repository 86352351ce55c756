"""Layered benchmark of the tslearn_spark engine.

    python3 perfbench/run.py --workload dtw_knn --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Single process, closed loop, one
client, one op at a time, on ``local[<cpus>]``.  The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  Everything the run writes
goes under ``.bench_build/perfbench`` in the checkout.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import nullcontext

import duckdb
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

import layers
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_CYCLES = 3     # driver set-ups per run; setup_s takes their median
SETTLE_SECONDS = 12  # untimed rounds after set-up, until the JVM's JIT settles
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def checkout_env(root: str) -> str:
    """Point every path the run writes (C-kernel cache, Spark scratch,
    warehouse, JVM tmp) into the checkout, and make tslearn_spark
    importable on the Python workers from any cwd.  Returns the work
    directory."""
    work = os.path.join(root, ".bench_build", "perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": tmp,
        "TSLEARN_SPARK_CK_DIR": os.path.join(work, "ck"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # -XX:-UsePerfData: the JVMs would otherwise write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={work}/warehouse "
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp} '
            f'-Dderby.system.home={work}" pyspark-shell'),
    })
    for p in (root, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return work


class Ctx:
    """What an op sees: the session, the tables, the seed, and the span
    recorder (spans are kept only in traced rounds)."""

    def __init__(self, spark, tables, data_dir, seed, wl, series) -> None:
        self.spark, self.tables, self.data_dir = spark, tables, data_dir
        self.seed, self.wl, self.series = seed, wl, series
        self.spans = layers.Spans()
        self.traced = False
        self._oracles = None
        self._duck = None

    def span(self, name: str, **attrs):
        return self.spans.span(name, **attrs) if self.traced else nullcontext()

    def call(self, name: str, fn, *args, **kwargs):
        """A public call into the engine; a call that returns a lazy
        DataFrame counts as planning time."""
        with self.span(name) as row:
            out = fn(*args, **kwargs)
        if row is not None and hasattr(out, "schema") and hasattr(out, "collect"):
            row["kind"] = "plan"
        return out

    def collect(self, df):
        with self.span("collect"):
            return df.toPandas()

    def oracle_check(self, name: str, out) -> str | None:
        """Compare with the query's DuckDB oracle under the comparison
        rules of tools/check_oracles.py."""
        import __spark_entry__ as entry
        from tools.check_oracles import compare

        if self._duck is None:
            self._oracles = entry.oracle_sql()
            self._duck = duckdb.connect()
            for t in ("events", "documents"):
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')")
        verdict = compare(name, out, self._duck.execute(self._oracles[name]).df())
        return None if verdict == "OK" else f"{name}: {verdict}"

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


def worker_probe(spark) -> tuple[set[str], float]:
    """Start every Python worker slot and import tslearn_spark plus the
    C kernel there; returns the kernel paths the workers report and the
    slowest worker's kernel load time."""
    def probe(s):
        import time as _t

        t0 = _t.perf_counter()
        from tslearn_spark import ckernel

        path = "c" if ckernel.lib_or_none() is not None else "numpy"
        return s.map(lambda _: f"{path} {_t.perf_counter() - t0}")

    # real annotations, not the postponed strings this module's future
    # import makes: pandas_udf infers the UDF type from them
    probe.__annotations__ = {"s": pd.Series, "return": pd.Series}
    probe = pandas_udf(probe, "string")
    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).select(probe(F.lit("x")).alias("p")).collect()
    paths = {r["p"].split()[0] for r in rows}
    return paths, max(float(r["p"].split()[1]) for r in rows)


def setup_cycle(data_dir: str) -> tuple:
    """One driver-side set-up: session, tables and the driver's C kernel."""
    from tslearn_spark import ckernel, get_spark, load_tables

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    tables = load_tables(spark, data_dir)
    t2 = time.perf_counter()
    path = "c" if ckernel.lib_or_none() is not None else "numpy"
    return spark, tables, {
        "session.get_spark_s": t1 - t0, "session.load_tables_s": t2 - t1,
        "total": time.perf_counter() - t0, "path": path}


def run_round(ctx, wl, traced: bool, store) -> dict:
    """One pass over the workload's ops.  Returns per-op wall seconds,
    outputs and errors, and in traced rounds the per-op layer figures."""
    ctx.traced = traced
    sc = ctx.spark.sparkContext
    if traced:
        store.mark_read()
    res = {"wall": {}, "out": {}, "err": {}, "layers": {}}
    for op in wl.ops:
        group = f"{wl.name}.{op.name}"
        if traced:
            sc.setJobGroup(group, group)
        t_start = time.time()
        t0 = time.perf_counter()
        try:
            with ctx.span(op.name, kind="op") as row:
                res["out"][op.name] = op.run(ctx)
        except Exception as exc:  # an op that raises is a failed op
            traceback.print_exc(file=sys.stderr)
            res["err"][op.name] = f"{op.name}: {type(exc).__name__}: {exc}"[:300]
            row = None
        res["wall"][op.name] = time.perf_counter() - t0
        t_end = time.time()
        if traced:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            fig = store.read_window(group, t_start, t_end)
            jobs = fig.pop("job_spans")
            covered = layers.union_s(jobs, t_start, t_end)
            fig["driver.self_ms"] = (res["wall"][op.name] - covered) * 1e3
            fig["driver.plan_ms"] = 1e3 * sum(
                r["end"] - r["start"] for r in ctx.spans.rows
                if r.get("kind") == "plan" and r["start"] >= t_start)
            for a, b in jobs:
                ctx.spans.add("spark.job", a, b, row["id"] if row else None)
            res["layers"][op.name] = fig
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ctx.spark.catalog.clearCache()
    return res


def check_round(ctx, wl, res: dict, ref: dict | None) -> list[str]:
    """Errors of one round.  With ``ref`` None every output is checked in
    full; otherwise every output must match the fingerprint of the
    checked round."""
    errors = list(res["err"].values())
    for op in wl.ops:
        if op.name not in res["out"]:
            continue
        out = res["out"][op.name]
        if ref is not None:
            if workloads.fingerprint(out) != ref[op.name]:
                errors.append(f"{op.name}: output differs from the checked round")
            continue
        try:
            err = op.check(ctx, out)
        except Exception as exc:  # a check that raises is a failed check
            traceback.print_exc(file=sys.stderr)
            err = f"{op.name}: check raised {type(exc).__name__}: {exc}"[:300]
        if err:
            errors.append(err)
    return errors


def med(values) -> float:
    return float(statistics.median(values))


def layer_metrics(ctx, wl, traced_rounds, untraced_walls, cycles, worker_load,
                  failed, attempted) -> dict:
    """Per-layer figures: medians over traced rounds of the per-op sums,
    plus the set-up split and the in-process probes."""
    from tslearn_spark.dataset import events_to_ts

    out = {k: med([c[k] for c in cycles]) for k in
           ("session.get_spark_s", "session.load_tables_s")}
    out["ckernel.load_s"] = worker_load
    for key in layers.STORE_KEYS + ("driver.self_ms", "driver.plan_ms"):
        out[key] = med([sum(f[key] for f in r["layers"].values()) for r in traced_rounds])
    noop = events_to_ts(ctx.tables["events"]).write.format("noop").mode("overwrite")
    out["dataset.events_to_ts_s"] = layers.median_time(noop.save)
    series = [workloads.znorm(v)[:, None] for v in ctx.series.values()]
    out.update(layers.kernel_probes(series, ctx.seed))
    out.update({"kernels.dp_cells": 0, "neighbors.pairs": 0})
    out.update(wl.layer_counts(ctx))
    out["host.numpy_ms"] = layers.host_numpy_ms()
    out["host.sql_ms"] = layers.host_sql_ms(ctx.spark)
    out["trace.overhead_ms"] = 1e3 * (
        med([sum(r["wall"].values()) for r in traced_rounds]) - med(untraced_walls))
    out["fail_frac"] = failed / attempted
    return out


def stop_spark(spark) -> None:
    """Stop the SparkContext and the JVM gateway process, and wait for it."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # a JVM that ignores stdin EOF
                proc.kill()
                proc.wait(timeout=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("BENCHMARK.json", "tslearn_spark", "__spark_entry__.py",
                           "tools/check_oracles.py")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f"not a checkout of the engine (missing {', '.join(missing)}); run from its root")
        return 2
    work = checkout_env(root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if args.trace else "end_to_end"]}

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    data_dir = workloads.DATA_DIR
    series = workloads.raw_series(data_dir)

    rss = layers.RssSampler()
    spark = ctx = None
    try:
        cycles = []
        for _ in range(SETUP_CYCLES):
            if spark is not None:
                spark.stop()
            spark, tables, c = setup_cycle(data_dir)
            cycles.append(c)
        ctx = Ctx(spark, tables, data_dir, args.seed, wl, series)
        store = layers.StatusStore(spark)
        # worker spawn and imports, then one pass of every op: the
        # first-execution costs belong to set-up, not to the timed rounds
        t0 = time.perf_counter()
        worker_paths, worker_load = worker_probe(spark)
        probe_s = time.perf_counter() - t0
        wl.prepare(ctx)
        warm = run_round(ctx, wl, False, store)
        warm_s = time.perf_counter() - t0 - probe_s
        setup_s = med([c["total"] for c in cycles]) + probe_s + warm_s

        attempted, failed = 1, 0
        paths = {cycles[-1]["path"]} | worker_paths
        compiler = shutil.which(os.environ.get("TSLEARN_SPARK_CC", "gcc"))
        if len(paths) != 1 or (paths == {"numpy"} and compiler):
            log(f"kernel path disagreement or numpy with a C compiler present: {sorted(paths)}")
            failed += 1

        def account(r: dict, errors: list[str]) -> None:
            """Count one round's ops and failures."""
            nonlocal attempted, failed
            attempted += len(wl.ops)
            failed += len({e.split(":")[0] for e in errors})
            for e in errors:
                log(f"check failed: {e}")
            r.pop("out")

        log(f"kernel path {sorted(paths)}; set-up cycles "
            + " ".join(f"{c['total']:.2f}s" for c in cycles)
            + f"; worker probe {probe_s:.2f}s; warm pass {warm_s:.2f}s")
        log("warm ops " + " ".join(f"{k}={v:.2f}" for k, v in warm["wall"].items()))

        # the full check of the warm pass runs in a thread beside the
        # untimed settle rounds, which go on at least until it ends
        ref = {k: workloads.fingerprint(v) for k, v in warm["out"].items()}
        warm_errors: list[str] = []

        def check_warm() -> None:
            try:
                warm_errors.extend(check_round(ctx, wl, warm, None))
            except Exception as exc:  # a check that raises is a failed check
                traceback.print_exc(file=sys.stderr)
                warm_errors.append(f"checks: {type(exc).__name__}: {exc}"[:300])

        checker = threading.Thread(target=check_warm)
        t0 = time.perf_counter()
        checker.start()
        while time.perf_counter() - t0 < SETTLE_SECONDS or checker.is_alive():
            r = run_round(ctx, wl, False, store)
            account(r, check_round(ctx, wl, r, ref))
        checker.join()
        account(warm, warm_errors)
        log(f"settle rounds and checks {time.perf_counter() - t0:.2f}s")

        rounds, elapsed = [], 0.0
        rss.armed = True
        while elapsed < args.seconds or len(rounds) < (2 if args.trace else 1):
            traced = bool(args.trace) and len(rounds) % 2 == 1
            rss.peak_mb = 0.0
            r = run_round(ctx, wl, traced, store)
            r["traced"], r["peak_mb"] = traced, rss.peak_mb
            elapsed += sum(r["wall"].values())
            account(r, check_round(ctx, wl, r, ref))
            rounds.append(r)
        rss.armed = False

        plain = [r for r in rounds if not r["traced"]]
        walls = [sum(r["wall"].values()) for r in plain]
        main_s = med([sum(r["wall"][o.name] for o in wl.ops if o.phase == "main") for r in plain])
        log("last round ops " + " ".join(f"{k}={v:.2f}" for k, v in rounds[-1]["wall"].items()))
        log(f"{wl.name} seed={args.seed}: setup {setup_s:.3f}s (warm pass {warm_s:.3f}s), "
            f"{len(rounds)} rounds, walls {[round(w, 3) for w in walls]}")
        if args.trace:
            traced_rounds = [r for r in rounds if r["traced"]]
            metrics = layer_metrics(ctx, wl, traced_rounds, walls, cycles,
                                    worker_load, failed, attempted)
            trace_path = os.path.join(work, f"trace-{wl.name}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"workload": wl.name, "seed": args.seed,
                           "per_op": [r["layers"] for r in traced_rounds],
                           "spans": ctx.spans.rows}, f)
            log(f"trace written to {trace_path}")
        else:
            metrics = {"setup_s": setup_s, "wall_s": med(walls), "main_s": main_s,
                       "items_per_s": wl.items(ctx) / main_s,
                       "peak_rss_mb": med([r["peak_mb"] for r in plain])}
    finally:
        rss.close()
        if ctx is not None:
            ctx.close()
        if spark is not None:
            stop_spark(spark)

    if set(metrics) != set(units):
        log(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
        return 3
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
