"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter at cluster scale too: AQE for runtime re-planning/skew handling,
Arrow for the pandas-UDF kernel path, and a shuffle-partition count sized
to the input rather than the 200 default.  Both session kinds the engine
runs on get the same SQL confs from one table, ``_sql_confs()``:
``get_spark`` sets them when it creates the session, and ``load_tables``
sets them at runtime on a session the engine did not create (a
harness's own vanilla ``SparkSession``).

Post-shuffle width policy: a post-shuffle stage runs on every slot.
AQE coalesces shuffle partitions towards ``bytes / defaultParallelism``
each, but never below ``coalescePartitions.minPartitionSize``, whose
1 MB default is sized for stages whose cost follows their bytes.  The
engine's per-series stages do not: ``events_to_ts``'s sf0.1 shuffle is
2.1 MB, so the default floor coalesced it onto 2 of 4 slots, and the
scaler, PAA and SAX expressions that run in that stage (interpreted
higher-order functions, most of ``ts_scale``'s ~0.4 s of executor CPU)
left half the slots idle.  A 64 KB floor lets the stage take every slot
while a tiny shuffle still coalesces to one task.

Sessions from ``get_spark`` also run their Python workers under the
engine's daemon, ``tslearn_spark._daemon``.  With the stock daemon, every
Python task spends 0.20-0.26 s of CPU (``local[4]``, 4-vCPU x86-64 VM)
in pyspark's ``setup_spark_files``, re-reading the directories of
``pyspark.zip``, the spark-core jar and the py4j zip; on a trivial
``mapInPandas`` that fixed cost scales with the task count (16 tasks on
4 slots: 1.29 s stock, 0.44 s with the engine daemon).  The daemon needs
``tslearn_spark`` importable on the executors, as every engine UDF does
already.  Sessions the engine does not build keep the stock daemon: a
harness's own vanilla ``SparkSession`` (such as the one
``tools/time_queries.py`` builds), or one created before ``get_spark``
is called, since the daemon module is a static config fixed when the
session starts.

Two engine-wide policies live here too.  ``size_tasks`` is the one
task-sizing rule.  ``collect_within`` is the one broadcast budget: the
side a fast path broadcasts (kNN train or query sets, the early
classifier's classifier half) is collected by a single Arrow job that is
cancelled at the first record batch past the budget, so deciding "does
it fit" costs no job of its own.  Its memory bound: Python holds at most
``limit`` values plus one batch; the JVM holds at most the partitions
that finish before the cancel, capped by ``spark.driver.maxResultSize``.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tslearn_spark import ckernel

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _sql_confs() -> tuple[tuple[str, str], ...]:
    """The SQL confs of every session the engine runs on (all dynamic,
    scoped to one session): ``get_spark`` builds with them and
    ``load_tables`` sets them on sessions it did not build."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        # a vanilla session runs 200 shuffle partitions — at local[32] on
        # sf-scale data that is pure scheduling overhead (iterative ops
        # like kshape pay it per round)
        ("spark.sql.shuffle.partitions", cpus if cpus.isdigit() else "32"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        # post-shuffle stages on every slot (module docstring)
        ("spark.sql.adaptive.coalescePartitions.minPartitionSize",
         str(64 * 1024)),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        # Arrow keeps the pandas-UDF kernel path batched, not pickled
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "2048"),
        # the test data's parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long and convert in load_tables
        # (DuckDB likewise truncates ns -> us on read, so both engines
        # see identical microsecond values)
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # InferFiltersFromGenerate synthesizes size(child)>0 filters under
        # every explode; predicate pushdown then drags the generator's
        # child expression below size_tasks' round-robin repartition, so
        # md5/regex/HOF tokenization chains run TWICE — once single-task
        # on the scan side.  Generate already skips empty arrays; the
        # filter buys nothing for this engine's operators (measured 12x
        # on the shingle explode: 5.0s -> 0.4s at sf0.1).
        ("spark.sql.optimizer.excludedRules",
         "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"),
    )


def get_spark(app_name: str = "tslearn_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Scale notes: every config here is what we would set on a 1000-executor
    cluster as well — AQE coalesces the post-shuffle partition count at
    runtime so ``spark.sql.shuffle.partitions`` is an upper bound, skewed
    join keys are split by AQE, and Arrow batches keep the Python kernel
    path amortized.

    Python workers fork from the engine daemon (``tslearn_spark._daemon``),
    which saves each Python task the ~0.2 s of CPU the stock daemon's
    workers spend re-reading Spark's own archives (see the module
    docstring).  Executors must be able to import ``tslearn_spark``, as
    for every engine UDF.  A session that already exists when this is
    called (``getOrCreate``) keeps the daemon it started with.

    The driver's build of the compiled DTW kernel is shipped to the
    executors (``ckernel.ship``), so one without a C compiler loads it
    rather than falling back to the per-pair reference.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    for key, val in _sql_confs():
        builder = builder.config(key, val)
    # static confs and the session owner's choices (time zone, broadcast
    # threshold): only a session the engine builds gets these
    builder = (
        builder
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # workers skip re-reading unchanged zip archives before each task
        .config("spark.python.daemon.module", "tslearn_spark._daemon")
    )
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    spark = builder.master(master).getOrCreate()
    ckernel.ship(spark.sparkContext)
    return spark


# Work per task, in flop-equivalents (one unit ~ one double flop of
# compiled code, ~0.5 ns on one core): 64e6 units is 25-50 ms of
# single-thread compute, enough that the per-task overhead (scheduling,
# Arrow round trip, Python dispatch) stays amortized.  Calibrated on the
# sf0.1 ANN queries: the optimum sat at 4-8 tasks for 2000 rows x
# 128 kflop/row and 1-2 tasks at 33 kflop/row, against one task per slot
# (interleaved A/B: brute force 0.99 -> 0.72 s, IVF 1.09 -> 0.70 s).
TASK_WORK = 64e6

# logical operators that keep their child's partitioning (no exchange)
_NARROW = frozenset((
    "Project", "Filter", "Generate", "SubqueryAlias", "Sample",
    "MapInPandas", "MapInArrow", "Expand",
))
# logical operators whose output has at most their child's row count
_ROW_BOUNDED = frozenset((
    "Project", "Filter", "SubqueryAlias", "Sort", "Repartition",
    "RepartitionByExpression",
))


def _plan_rows(df: DataFrame, row_bytes: float | None = None) -> float:
    """Row-count estimate from the optimized plan's statistics, with no
    job.  A row count wins when the plan carries one — at the root or
    below projections and filters (a materialized cache knows its rows;
    through a filter the count is an upper bound).  Otherwise it is
    sizeInBytes over the row size: ``row_bytes`` defaults to the
    optimizer's own row estimate (8 + the schema's default size), which
    recovers the row count the statistics were scaled from; a caller
    that knows the stored bytes per row of the scan (parquet float
    arrays, say) passes them.  That figure is an order of magnitude:
    compressed scans read low, and filters and aggregates, which do not
    shrink the statistics, read high."""
    node = top = df._jdf.queryExecution().optimizedPlan()
    while True:
        count = node.stats().rowCount()
        if count.isDefined():
            return float(count.get())
        if node.getClass().getSimpleName() not in _ROW_BOUNDED:
            break
        node = node.child()
    per_row = row_bytes or 8.0 + df._jdf.schema().defaultSize()
    return float(top.stats().sizeInBytes()) / per_row


def _plan_width(df: DataFrame) -> int:
    """Partitions the input is known to produce, found without a job.
    Under narrow operators: an explicit repartition(n)/coalesce(n), a
    materialized cache (its buffers' partition count), or a leaf — file
    scan, checkpoint, local data, range — whose count Spark itself reads
    off the shuffle-free executed plan's RDD.  Anything else counts as
    0: a shuffle's width is AQE's to coalesce at runtime (a byte-small
    shuffle output ends up as a single partition), and so is the width
    of a cache that has not run yet."""
    node = df._jdf.queryExecution().optimizedPlan()
    while True:
        kind = node.getClass().getSimpleName()
        if kind == "Repartition":
            return int(node.numPartitions())
        if kind == "RepartitionByExpression":
            opt = node.optNumPartitions()
            return int(opt.get()) if opt.isDefined() else 0
        if kind == "InMemoryRelation":
            cache = node.cacheBuilder()
            if cache.isCachedColumnBuffersLoaded():
                return int(cache.cachedColumnBuffers().getNumPartitions())
            return 0
        if node.children().isEmpty():
            # building the executed plan's RDD runs no job unless the
            # plan is adaptive (AQE would run its shuffle stages to settle
            # the width) or has subqueries (they execute first)
            plan = df._jdf.queryExecution().executedPlan()
            if (plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
                    or not plan.subqueriesAll().isEmpty()):
                return 0
            return int(plan.execute().getNumPartitions())
        if kind in _NARROW or (kind == "Sort" and not getattr(node, "global")()):
            node = node.child()
            continue
        return 0


def size_tasks(df: DataFrame, work_per_row: float | None = None,
               n_rows: float | None = None,
               row_bytes: float | None = None) -> DataFrame:
    """The engine's one task-sizing rule for compute-bound stages.

    Returns ``df`` on ``min(slots, ceil(n_rows * work_per_row /
    TASK_WORK))`` tasks (never more tasks than rows).  ``df`` itself
    comes back when it is known to have exactly that many partitions
    (see _plan_width), or at least the slot count when the target is
    the slot count: a real-scale scan or materialized cache stays
    shuffle-free.  Any other input is round-robined to the target by
    one shuffle of what is then a small row set — narrower inputs, a
    shuffle output or a cache that has not run (width unknown), and
    inputs wider than a below-slots target, whose little work would
    otherwise pay one task's overhead per partition (an iterative fit
    pays it once per iteration).

    Spark sizes partitions by bytes, so a small-but-expensive input (a
    few thousand series feeding millions of DP cells, a 1 MB doc table
    feeding regex tokenization) lands in one or two partitions and
    serializes the stage; one round-robin shuffle of the small row set
    spreads it.  Sizing by work instead of by slot count keeps tiny
    inputs from paying one task's overhead per slot for microseconds of
    compute.

    ``work_per_row``: the caller's estimate in flop-equivalents (see
    TASK_WORK), or None when a row's cost is unknown and may be large
    (a DP over series of unknown length): each row then counts as a
    full task, i.e. one task per row up to the slot count.  ``n_rows``:
    the row count when the caller holds it; otherwise it comes from
    plan statistics (see _plan_rows), never from a count() job or an RDD
    of a shuffle-rooted plan.  Results do not depend on the
    partitioning: callers are per-row maps or merge per-task partials
    with an exact tie-aware final rank; only the iterative fits'
    floating-point sums (k-means, MLP) follow the partition count in
    their last bits, as they always did.
    """
    slots = df.sparkSession.sparkContext.defaultParallelism
    if n_rows is None:
        n_rows = _plan_rows(df, row_bytes)
    work = TASK_WORK if work_per_row is None else float(work_per_row)
    rows_per_task = max(1.0, TASK_WORK / max(work, 1.0))
    target = max(1, min(slots, math.ceil(n_rows / rows_per_task)))
    width = _plan_width(df)
    if width == target or (width > target and target == slots):
        return df
    return df.repartition(target)


def _leaf_count(col) -> int:
    """Leaf values of an Arrow (nested) list column, read off its list
    offsets: a series with 0 timestamps counts 0."""
    import pyarrow as pa

    while pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        col = col.flatten()
    return len(col)


# the broadcast budget of every path that collects one side to broadcast
# it (kNN train or query sets, the early classifier's classifier half,
# the simsearch query sides and IVF centroids, exact embedding near-dup's
# whole table): float64 values, ~64 MB
BROADCAST_LIMIT_VALUES = 8_000_000


def collect_within(df: DataFrame, limit: int | None = None):
    """The engine's one broadcast-budget policy: ``df`` collected to the
    driver as a ``pyarrow.Table`` in partition order, or None when its
    ``values`` column holds more than ``limit`` float64s (default
    ``BROADCAST_LIMIT_VALUES``, read at call time).

    One Arrow collect (``collectAsArrowToPython``), the only job, runs
    under a job tag of its own; the caller's job group and tags are left
    as they were.  The stream is read one record batch at a time (in the
    order the partitions finish), counting the leaf values of ``values``
    from the Arrow list offsets: a series with 0 timestamps counts 0 and
    a total of exactly ``limit`` fits.  At the first batch past the
    budget the tagged jobs are cancelled, the batches held so far are
    dropped and the rest of the stream is read and discarded (the JVM
    writes it from the scheduler's result handler, which must not
    block).  A collect that fails on ``spark.driver.maxResultSize`` does
    not fit either; any other failure raises.

    Memory bound: Python holds at most ``limit`` values plus one batch
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows); the JVM
    holds at most the partitions that finish before the cancel, capped
    by ``spark.driver.maxResultSize``.  The budget counts values, not
    rows: 200k rows of sz*d=1024 would be a ~1.6 GB driver collect under
    a row budget.
    """
    import uuid

    import pyarrow as pa
    from pyspark.serializers import read_int
    from pyspark.util import _create_local_socket

    if limit is None:
        limit = BROADCAST_LIMIT_VALUES
    sc = df.sparkSession.sparkContext
    tag = f"tslearn_spark.collect_within.{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        # the serving thread that runs the job inherits the tag
        port, secret, server = df._jdf.collectAsArrowToPython()
    finally:
        sc.removeJobTag(tag)
    batches, n_vals, over, failure = [], 0, False, None
    stream = _create_local_socket((port, secret))
    try:
        reader = pa.ipc.open_stream(stream)
        for batch in reader:
            if over:
                continue
            n_vals += _leaf_count(batch.column("values"))
            if n_vals > limit:
                over, batches = True, []
                sc.cancelJobsWithTag(tag)
            else:
                batches.append(batch)
        n_order = read_int(stream)
        if n_order < 0:
            raise RuntimeError("the JVM failed the Arrow collect")
        order = [read_int(stream) for _ in range(n_order)]
    except Exception as e:  # noqa: BLE001 — raised after the JVM's own
        failure = e
    finally:
        # a closed socket also fails a JVM writer still blocked on it
        stream.close()
    try:
        server.getResult()  # joins the serving thread, raises its error
    except Exception as e:  # noqa: BLE001 — classified here
        if over or "maxResultSize" in str(e):
            return None
        raise
    if over:
        return None
    if failure is not None:
        raise failure
    return pa.Table.from_batches([batches[i] for i in order],
                                 schema=reader.schema)


# columns stored as TIMESTAMP(NANOS) in the driver parquet — surfaced as
# long (nanos) under nanosAsLong and converted to microsecond timestamps
_NANO_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _dir_fingerprint(sf_dir: str):
    """Cheap staleness key for the load_tables memo: (name, mtime_ns, size)
    of every top-level entry in sf_dir.  ~10 stat calls — far cheaper than
    the footer reads the memo avoids — and changes whenever the parquet
    data is regenerated.  Non-local / unreadable paths fingerprint as
    None (memo then behaves as before: keyed on sf_dir only)."""
    try:
        with os.scandir(sf_dir) as it:
            return tuple(sorted(
                (e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in it
            ))
    except OSError:
        return None


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's parquet tables and register them as temp views.

    Parquet scans get predicate pushdown + column pruning for free once the
    plan is declarative; no DATA is cached here — callers cache hot tables.
    The lazy DataFrame handles (and their schema reads: ~10 footer
    listings per call otherwise) ARE memoized per (session, sf_dir);
    switching sf_dir on the same session re-registers the temp views from
    the memo without re-reading footers.
    """
    from pyspark.sql.types import LongType

    memo = getattr(spark, "_tslearn_tables_memo", None)
    if memo is None:
        memo = {}
        try:
            spark._tslearn_tables_memo = memo
        except Exception:
            memo = None
    fp = _dir_fingerprint(sf_dir)
    if memo is not None and sf_dir in memo:
        memo_fp, out = memo[sf_dir]
        if memo_fp != fp:
            # sf_dir contents were regenerated since the memo was taken:
            # the parquet DataFrames captured the OLD file listing at
            # creation and would serve stale data (or FileNotFound on
            # deleted parts) — drop the entry and re-read below
            del memo[sf_dir]
        else:
            if getattr(spark, "_tslearn_tables_sf", None) != sf_dir:
                for name in TPCH_TABLES:
                    if name in out:
                        out[name].createOrReplaceTempView(name)
                    else:
                        spark.catalog.dropTempView(name)
                try:
                    spark._tslearn_tables_sf = sf_dir
                except Exception:
                    pass
            return out

    # A harness may pass its OWN SparkSession (not get_spark()'s): give
    # it the engine's SQL confs too.  nanosAsLong among them is what
    # lets events.parquet's TIMESTAMP(NANOS) be read at all.
    for key, val in _sql_confs():
        try:
            spark.conf.set(key, val)
        except Exception:
            pass  # immutable on some builds; get_spark() sessions have it

    out: dict[str, DataFrame] = {}
    errors: dict[str, Exception] = {}
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            try:
                df = spark.read.parquet(path)
            except Exception as exc:  # noqa: BLE001 — isolate per-table failures
                # One unreadable file must not take down queries that never
                # touch it; drop any stale view so users of THIS table still
                # fail loudly at resolution time.
                errors[name] = exc
                spark.catalog.dropTempView(name)
                continue
            for col in _NANO_TS_COLS.get(name, ()):
                if col in df.columns and isinstance(df.schema[col].dataType, LongType):
                    # integer div, not float div: float rounding can flip the
                    # last microsecond vs DuckDB's truncating ns->us cast
                    df = df.withColumn(
                        col, F.timestamp_micros(F.expr(f"{col} div 1000"))
                    )
            df.createOrReplaceTempView(name)
            out[name] = df
        else:
            # drop any stale view from a previous sf_dir — a query against
            # a bad path must fail loudly, not silently read old data
            spark.catalog.dropTempView(name)
    if memo is not None and not errors:  # only memoize fully-clean loads
        memo[sf_dir] = (fp, out)
    # the registered views now belong to THIS sf_dir even when some tables
    # failed — the marker must say so, or a later memo hit for the previous
    # dir would see marker == its own sf_dir, skip re-registration, and
    # silently read this dir's partially-registered views
    try:
        spark._tslearn_tables_sf = sf_dir
    except Exception:
        pass
    return out
