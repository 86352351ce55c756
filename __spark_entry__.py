"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2
(or a §6-style data-pipeline extension); ``oracle_sql()`` holds the
DuckDB-equivalent ANSI SQL.  Column names and rounding are aligned on
both sides (the driver hash-compares values after sorting columns by
name).

Float policy: aggregates of many doubles are rounded (2 decimals for
big sums, 6 for per-row math) on BOTH sides so cross-engine summation
order cannot flip the hash.  Integer/hash/symbol outputs are exact.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tslearn_spark.session import load_tables
from tslearn_spark.stats import sax_breakpoints

SAX_ALPHABET = 4
SAX_SEGMENTS = 8
_BPS = [float(x) for x in sax_breakpoints(SAX_ALPHABET)]  # [-0.6744..., 0.0, 0.6744...]

# MINDIST gap^2 lookup: G[a][b] = (bp[max-1] - bp[min])^2 if |a-b| > 1 else 0.
# Precomputed in Python and inlined as the SAME literal doubles in the Spark
# query and the DuckDB oracle, so neither engine evaluates pow() at all and
# the round-1 CollapseProject lesson (shared subexpressions re-evaluated per
# element) cannot bite.
_SAX_GAP2 = [
    [
        (_BPS[max(a, b) - 1] - _BPS[min(a, b)]) ** 2 if abs(a - b) > 1 else 0.0
        for b in range(SAX_ALPHABET)
    ]
    for a in range(SAX_ALPHABET)
]


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

# Exact money aggregates (r14).  TPC-H money columns are 2-decimal by
# construction, so every product of money x (1 +/- rate) is an exact
# integer on a cents grid (scale 2/4/6).  Summing those integers makes
# the aggregate independent of partitioning/summation order — at sf5
# (30M lineitem) the naive double-sum landed within 1 ulp of a
# round(,2) boundary and hash-diverged; a 1000-executor partial-agg
# tree has the same freedom, so order-invariance IS the 100-TB
# contract, not a test nicety.
#
# The integer grid is recovered from the doubles exactly:
# round(x * 100) is the true cent value because the stored double is
# within ~1e-11 of it while the grid spacing is 1.  Engine-specific
# accumulation (r14 perf rework — the first cut summed DECIMAL(17,4)+
# directly, whose >18-digit accumulator leaves Spark's compact-long
# path and cost 2.6-4.2x on q1/grouping_sets):
#   * Spark: two BIGINT sums of (v div 1e6, v % 1e6) — whole-stage
#     codegen fast — recombined into one DECIMAL(38,0).  Exact while
#     each partial fits a long: <= ~1e12 rows per group for the
#     scale-6 charge (1e11 max v -> hi <= 1.2e5), comfortably past
#     100 TB; beyond that, widen the split modulus.
#   * DuckDB oracle: plain sum(v) — DuckDB accumulates BIGINT into
#     HUGEINT, exact unconditionally.  An engine-side overflow would
#     therefore MISMATCH the oracle, never silently agree with it.
# Rounding to cents happens in integer space ((t + 50) div 100 —
# half-up, positive by domain), then ONE cast to double and ONE IEEE
# division by 100 — every step engine-identical.

def _cents(p: str = "") -> str:
    """Exact integer cents of l_extendedprice."""
    return f"cast(round({p}l_extendedprice * 100) AS BIGINT)"


def _rev_v(p: str = "") -> str:
    """Exact scale-4 integer: cents x (100 - discount_pct)."""
    return (f"({_cents(p)}"
            f" * cast(round((1 - {p}l_discount) * 100) AS BIGINT))")


def _charge_v(p: str = "") -> str:
    """Exact scale-6 integer: cents x (100-disc) x (100+tax)."""
    return (f"({_cents(p)}"
            f" * cast(round((1 - {p}l_discount) * 100) AS BIGINT)"
            f" * cast(round((1 + {p}l_tax) * 100) AS BIGINT))")


def _split_sum(v: str) -> str:
    """Spark-side exact integer sum of expression ``v`` as
    DECIMAL(38,0): two codegen BIGINT sums recombined."""
    return (f"(cast(sum({v} div 1000000) AS DECIMAL(38,0)) * 1000000"
            f" + sum({v} % 1000000))")


def _money_out(total: str, scale: int, oracle: bool = False) -> str:
    """round(total / 10**scale, 2) via integer half-up rounding
    (amounts are positive by domain), then one cast + one division —
    identical integers, identical IEEE steps on both engines.  Spark
    spells integer division ``div``, DuckDB ``//``."""
    if scale <= 2:
        return f"cast({total} AS DOUBLE) / 100.0"
    half = 10 ** (scale - 2) // 2
    op = "//" if oracle else "div"
    return (f"cast(({total} + {half}) {op} {10 ** (scale - 2)} AS DOUBLE)"
            f" / 100.0")


def _rev_exact(p: str = "", oracle: bool = False) -> str:
    t = f"sum({_rev_v(p)})" if oracle else _split_sum(_rev_v(p))
    return _money_out(t, 4, oracle)


def _charge_exact(p: str = "", oracle: bool = False) -> str:
    t = f"sum({_charge_v(p)})" if oracle else _split_sum(_charge_v(p))
    return _money_out(t, 6, oracle)


def _base_price_exact(p: str = "", oracle: bool = False) -> str:
    t = f"sum({_cents(p)})" if oracle else _split_sum(_cents(p))
    return _money_out(t, 2, oracle)


def _money_avg_exact(col: str, oracle: bool = False) -> str:
    """round(avg(money), 4) without order dependence: exact integer
    cent sum -> one cast to double -> /100 -> one division by the
    count — every step engine-identical."""
    v = f"cast(round({col} * 100) AS BIGINT)"
    t = f"sum({v})" if oracle else _split_sum(v)
    return f"round(cast({t} AS DOUBLE) / 100.0 / count(*), 4)"


def _oracle_sample_mod() -> int | None:
    """Optional QUERY-side sampling modulus for the oracle board.

    Unset (the driver's gates at sf0.001/0.01/0.1), every query keeps
    its full declared semantics — nothing here changes the driver's
    hash gate.  When ``SPARK_GRAFT_ORACLE_SAMPLE_MOD`` is set (by
    ``tools/check_oracles.py --sample-mod N``, used for the generated
    big-scale boards), the nine all-pairs / brute-top-k queries
    restrict their QUERY side to ``key % N == 0`` while the
    build/corpus side stays the FULL table — so the engine still
    exercises the full-size distributed path (full build scan, full
    index, full top-k machinery) and only the DuckDB oracle's pair
    count drops from O(n^2) to O(n^2 / N).  At the sf1 dir (15000
    series / 20000 embeddings) N=150 keeps every oracle at ~100 query
    rows x full build = ~1.5-2M pairs — seconds in DuckDB — which is
    what lets those nine queries be hash-gated at sf1 instead of
    recorded as declared quadratic-oracle skips (round-13 directive 1).
    """
    v = os.environ.get("SPARK_GRAFT_ORACLE_SAMPLE_MOD")
    return int(v) if v else None


def _sample_out(df: DataFrame, col: str) -> DataFrame:
    """Board sampling for per-key-INDEPENDENT queries (window partition
    key / group key / per-series transforms): the computation for one
    key never reads another key's rows, so filtering the OUTPUT on the
    key equals filtering the input — and Catalyst pushes the
    deterministic predicate below the windows/aggregates to the scan.
    No-op when the board env is unset (the driver's gates)."""
    sm = _oracle_sample_mod()
    return df.where(F.col(col) % sm == 0) if sm else df


def _sample_out_odd(df: DataFrame, col: str) -> DataFrame:
    """Board sampling for a query side that is restricted to ODD keys
    (knn_sax_classify's test split is ``series_id % 2 == 1``): keeps
    ``col % (2*sm) == 1`` — every kept key is odd, so the sample is a
    pure restriction of the full result, and it is NON-EMPTY for any
    sm >= 1 (the plain ``% sm == 0`` sampler intersected with odd keys
    is EMPTY whenever sm is even — the round-13 vacuous-gate defect).
    No-op when the board env is unset (the driver's gates)."""
    sm = _oracle_sample_mod()
    return df.where(F.col(col) % (2 * sm) == 1) if sm else df


def _events_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> univariate ts DataFrame keyed by user_id, ordered by
    (ts, event_id) for a deterministic total order."""
    from tslearn_spark.dataset import events_to_ts

    t = load_tables(spark, sf_dir)
    return events_to_ts(t["events"])


_EVENTS_LONG_SQL = """
    SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS t,
           value
    FROM events
"""


# ---------------------------------------------------------------------------
# relational queries (Spark SQL passthrough — SURVEY.md §7 Phase 0)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    # money aggregates on the exact integer-cents grid (split BIGINT
    # sums, see the helper block): at sf5's 30M-row groups the
    # double-sum form is summation-order-dependent within 1 ulp of a
    # cent boundary — under-gate semantics must be
    # partitioning-invariant (the 100-TB contract)
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)  AS sum_qty,
               {_base_price_exact()}      AS sum_base_price,
               {_rev_exact()}             AS sum_disc_price,
               {_charge_exact()}          AS sum_charge,
               round(avg(l_quantity), 4)  AS avg_qty,
               {_money_avg_exact('l_extendedprice')}      AS avg_price,
               {_money_avg_exact('l_discount')}           AS avg_disc,
               count(*)                   AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        """
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    # exact-grid revenue (r14, see the money-helper block): per-order
    # groups are tiny (<= 7 lineitems) but a double sum is still
    # association-dependent, and the top-10 RANKING rides on the value —
    # the exact cents keep the cut deterministic under any plan
    return spark.sql(
        f"""
        SELECT o.o_orderkey,
               {_rev_exact('l.')} AS revenue,
               cast(o.o_orderdate as string) AS orderdate,
               o.o_orderpriority
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
        """
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    # exact-grid revenue (_rev_exact): region-level groups aggregate the
    # whole fact table — the largest summation in the roster
    return spark.sql(
        f"""
        SELECT r.r_name AS region_name,
               {_rev_exact('l.')} AS revenue,
               count(*) AS n_lineitems
        FROM region r
        JOIN nation n    ON n.n_regionkey = r.r_regionkey
        JOIN customer c  ON c.c_nationkey = n.n_nationkey
        JOIN orders o    ON o.o_custkey   = c.c_custkey
        JOIN lineitem l  ON l.l_orderkey  = o.o_orderkey
        JOIN supplier s  ON s.s_suppkey   = l.l_suppkey AND s.s_nationkey = c.c_nationkey
        GROUP BY r.r_name
        """
    )


def top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal, rnk
        FROM (
          SELECT c_mktsegment, c_custkey, c_acctbal,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
          FROM customer
        )
        WHERE rnk <= 5
        """
    )


def events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT cast(date_trunc('hour', ts) as string) AS hour,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               floor(round(sum(value), 4) / count(*) * 1e4 + 0.5) / 1e4 AS avg_value,
               count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
        """
    )


def part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_brand,
               count(*) AS n_parts,
               round(avg(p_retailprice), 4) AS avg_price,
               round(min(p_retailprice), 2) AS min_price,
               round(max(p_retailprice), 2) AS max_price,
               round(avg(p_size), 4) AS avg_size
        FROM part
        GROUP BY p_brand
        """
    )


def nation_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name AS nation_name,
               o.o_orderstatus,
               count(*) AS n_orders,
               round(sum(o.o_totalprice), 2) AS total_price
        FROM nation n
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name, o.o_orderstatus
        """
    )


def orders_priority_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_total
        FROM orders
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# time-series operators over the events table (SURVEY.md §2.2/2.3/2.4/2.6)
# ---------------------------------------------------------------------------

def ts_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeSeriesScalerMeanVariance + TimeSeriesScalerMinMax on the nested
    layout, exploded back to long for the oracle (preprocessing.py:204-298).
    One query covers both scalers (driver caps the board at 50 queries)."""
    from tslearn_spark.preprocessing import transform_mean_variance, transform_min_max

    ts = _events_series(spark, sf_dir)
    both = transform_min_max(
        transform_mean_variance(ts, out_col="zvalues"), out_col="mvalues"
    )
    return (
        both.select(
            F.col("series_id").alias("user_id"),
            F.arrays_zip("zvalues", "mvalues").alias("zm"),
        )
        .select("user_id", F.posexplode("zm").alias("t", "p"))
        .select(
            "user_id", "t",
            F.round(F.col("p.zvalues")[0], 6).alias("zvalue"),
            F.round(F.col("p.mvalues")[0], 6).alias("mvalue"),
        )
        .transform(lambda d: _sample_out(d, "user_id"))
    )


def ts_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LB_Keogh envelope (radius 2) as window frames (dtw_variants.py:1299)."""
    from tslearn_spark.metrics import envelope_cols

    ts = _events_series(spark, sf_dir)
    lo, up = envelope_cols("values", radius=2)
    env = ts.select("series_id", lo.alias("lo"), up.alias("up"))
    return (
        env.select(
            F.col("series_id").alias("user_id"),
            F.arrays_zip(F.col("lo"), F.col("up")).alias("z"),
        )
        .select("user_id", F.posexplode("z").alias("t", "e"))
        .select(
            "user_id", "t",
            F.round(F.col("e.lo"), 6).alias("env_lower"),
            F.round(F.col("e.up"), 6).alias("env_upper"),
        )
        .transform(lambda d: _sample_out(d, "user_id"))
    )


def ts_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAA segment means on the raw series (piecewise.py:143-153) plus
    the SAX symbols of the z-scaled series (piecewise.py:261-505) — one
    query covers both operators at the same (user, seg) grain.  Both are
    per-row expressions over the same series row, so the plan is a
    single scan + projections: no join, no second shuffle."""
    from tslearn_spark.piecewise import SAX, paa_col
    from tslearn_spark.preprocessing import transform_mean_variance

    ts = _events_series(spark, sf_dir).where(F.size("values") >= SAX_SEGMENTS)
    z = transform_mean_variance(ts, out_col="zv")
    sax = SAX(n_segments=SAX_SEGMENTS, alphabet_size_avg=SAX_ALPHABET).fit(
        z, values_col="zv"
    )
    both = sax.transform(
        z.withColumn("praw", paa_col("values", SAX_SEGMENTS)),
        values_col="zv", out_col="sax",
    )
    return (
        both.select(
            F.col("series_id").alias("user_id"),
            F.posexplode(F.arrays_zip("praw", "sax")).alias("seg", "p"),
        )
        .select(
            "user_id", "seg",
            F.round(F.col("p.praw")[0], 6).alias("seg_mean"),
            F.col("p.sax")[0].cast("int").alias("symbol"),
        )
    )


def ts_barycenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positionwise mean across series (euclidean.py:8-43) — pure SQL.

    Inputs are quantized to the 2^-20 grid first (floor(x*2^20)/2^20):
    every value is then an exact multiple of 2^-20 and the positionwise
    sum is EXACT in any association (scaled integers stay < 2^53 even
    for 250k-term sums of |x| <= 1024), so the one division by the
    count is correctly rounded identically on Spark and DuckDB.
    Without this, the 15000-term sum at the generated sf1 dir hit a
    round(x, 6) boundary within one ulp and the hash gate read a
    last-digit tie (r12; the gated testdata sfs never tripped it, but
    the premise was scale-fragile).  r13 refined the r12 1/64 grid to
    2^-20 per the advisor note: the published bary_value's downward
    quantization bias shrinks from ~1.6e-2 to ~1e-6 per input value
    while every sum stays integer-exact.  The engine's
    euclidean_barycenter itself is unquantized — its own tests cover
    raw-float inputs."""
    from tslearn_spark.barycenters import euclidean_barycenter_df

    ts = _events_series(spark, sf_dir).withColumn(
        "values",
        F.expr("transform(values, p -> "
               "transform(p, x -> floor(x * 1048576D) / 1048576D))"))
    b = euclidean_barycenter_df(ts)
    return b.select("t", F.round(F.col("value"), 6).alias("bary_value"))


def ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resample to 16 points (preprocessing.py:15-100)."""
    from tslearn_spark.preprocessing import resample

    ts = _events_series(spark, sf_dir).where(F.size("values") >= 2)
    r = resample(ts, 16, out_col="rvalues")
    out = r.select(
        F.col("series_id").alias("user_id"), F.posexplode("rvalues").alias("t", "p")
    ).select("user_id", "t", F.round(F.col("p")[0], 6).alias("rvalue"))
    return _sample_out(out, "user_id")


def ts_paa_dist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise PAA distance (piecewise.py:191-213) between user series —
    a similarity join that is pure SQL end-to-end."""
    from tslearn_spark.piecewise import paa_col, paa_distance_col

    ts = _events_series(spark, sf_dir).where(F.size("values") >= SAX_SEGMENTS)
    paa = ts.select(
        "series_id", paa_col("values", SAX_SEGMENTS).alias("paa"), F.size("values").alias("sz")
    )
    a = paa.select(
        F.col("series_id").alias("id1"), F.col("paa").alias("paa1"), F.col("sz").alias("sz1")
    )
    sm = _oracle_sample_mod()
    if sm:  # board sampling: query side only; b stays the full table
        a = a.where(F.col("id1") % sm == 0)
    b = paa.select(
        F.col("series_id").alias("id2"), F.col("paa").alias("paa2")
    )
    pairs = a.join(b, F.col("id1") < F.col("id2"))
    # reference scales by sqrt(fit_sz / n); use each pair's left sz for
    # parity.  r14: unrolled codegen sum (guide §4.1 — the HOF fold is
    # CodegenFallback, interpreted once per PAIR on this all-pairs join);
    # association matches the old fold exactly, values bit-identical.
    sq_terms = " + ".join(
        f"((paa1[{s}][0] - paa2[{s}][0]) * (paa1[{s}][0] - paa2[{s}][0]))"
        for s in range(SAX_SEGMENTS)
    )
    return pairs.select(
        "id1", "id2",
        F.round(
            F.sqrt(
                F.expr(f"(0.0D + {sq_terms})")
                * F.col("sz1") / F.lit(float(SAX_SEGMENTS))
            ),
            6,
        ).alias("paa_dist"),
    )


def ts_sax_dist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX MINDIST similarity join (cysax.pyx:39-54) — pure SQL on both
    sides: symbols from ts_sax, pairwise breakpoint-gap distance."""
    from tslearn_spark.piecewise import SAX
    from tslearn_spark.preprocessing import transform_mean_variance

    ts = _events_series(spark, sf_dir).where(F.size("values") >= SAX_SEGMENTS)
    z = transform_mean_variance(ts)
    sax = SAX(n_segments=SAX_SEGMENTS, alphabet_size_avg=SAX_ALPHABET).fit(z)
    # r14: cast the univariate symbols to a flat int array ONCE per
    # SIDE (3k rows) so the 1.12M-pair projection below skips the
    # nested array deref + CAST per segment per pair (guide §2.3 —
    # move per-row work out of the pair join; interleaved A/B at
    # sf0.1: 1.24 -> 0.92 s median, identical md5)
    out = sax.transform(z).select(
        "series_id",
        F.expr("transform(sax, s -> CAST(s[0] AS INT))").alias("syms"),
        F.size("values").alias("sz"),
    )
    a = out.select(F.col("series_id").alias("id1"), F.col("syms").alias("s1"),
                   F.col("sz").alias("sz1"))
    sm = _oracle_sample_mod()
    if sm:  # board sampling: query side only; b stays the full table
        a = a.where(F.col("id1") % sm == 0)
    b = out.select(F.col("series_id").alias("id2"), F.col("syms").alias("s2"))
    pairs = a.join(b, F.col("id1") < F.col("id2"))
    # r14: unrolled codegen gap^2 sum (guide §4.1 — the nested HOF fold
    # is CodegenFallback, interpreted once per PAIR on this all-pairs
    # join; unroll measured 2.3x at sf0.1).  Association matches the old
    # fold exactly — (0.0 + I0) + I1 + ..., I_s = (0.0 + z_s) — so the
    # doubles are bit-identical (the gap lookup sees the same int
    # indexes the per-pair CAST produced).
    gap_terms = " + ".join(
        f"(0.0D + {_gap2_arr()}[s1[{s}]][s2[{s}]])"
        for s in range(SAX_SEGMENTS)
    )
    return pairs.select(
        "id1", "id2",
        F.round(
            F.sqrt(
                F.expr(f"(0.0D + {gap_terms})")
                * F.col("sz1") / F.lit(float(SAX_SEGMENTS))
            ),
            6,
        ).alias("sax_dist"),
    )


def _gap2_arr() -> str:
    """Spark SQL literal for _SAX_GAP2 (constant-folded to one Literal)."""
    rows = ", ".join(
        "array(" + ", ".join(f"{v!r}D" for v in row) + ")" for row in _SAX_GAP2
    )
    return f"array({rows})"


def _gap2_duck() -> str:
    """DuckDB list literal for _SAX_GAP2 (same doubles, 1-based indexing)."""
    rows = ", ".join(
        "[" + ", ".join(f"{v!r}" for v in row) + "]" for row in _SAX_GAP2
    )
    return f"[{rows}]"


def ts_lb_keogh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LB_Keogh bound join on resampled-16 series (dtw_variants.py:1224):
    envelope radius 2 on the candidate, exceedance sum from the query —
    expressible as SQL end-to-end."""
    from tslearn_spark.metrics import (
        envelope_cols, envelope_struct_col, lb_keogh_env_col,
    )
    from tslearn_spark.preprocessing import resample
    from tslearn_spark.session import size_tasks

    # materialize the series build once (both join sides read it), spread
    # the stream side (the non-equi join's 562k interpreted LB evals were
    # running on the 2 byte-sized partitions of the series table),
    # broadcast the envelope side, and pre-zip the envelope struct ONCE
    # per candidate row (lb_keogh_col would rebuild the zip per pair)
    ts = resample(
        _events_series(spark, sf_dir).where(F.size("values") >= 2), 16
    ).localCheckpoint()
    lo, up = envelope_cols("values", radius=2)
    cand = ts.select(
        F.col("series_id").alias("id2"), lo.alias("lo"), up.alias("up")
    ).select("id2", envelope_struct_col("lo", "up").alias("env")).localCheckpoint()
    q = size_tasks(
        ts.select(F.col("series_id").alias("id1"), F.col("values").alias("qv"))
    )
    sm = _oracle_sample_mod()
    if sm:  # board sampling: query side only; envelope side stays full
        q = q.where(F.col("id1") % sm == 0)
    pairs = q.join(F.broadcast(cand), F.col("id1") < F.col("id2"))
    # fixed_n=16: every row is resample(16) output, so the exceedance sum
    # takes lb_keogh_env_col's unrolled codegen branch instead of the
    # per-pair interpreted fold (r14, guide §4.1; bit-identical values)
    return pairs.select(
        "id1", "id2",
        F.round(lb_keogh_env_col("qv", "env", fixed_n=16), 6).alias("lb_keogh"),
    )


def knn_sax_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN under the SAX MINDIST metric (neighbors.py:459-500), synthetic
    labels = user_id %% 3.  Fully SQL-expressible: symbols are integers and
    the candidate ranking compares identical doubles in both engines."""
    from tslearn_spark.neighbors import knn_classify
    from tslearn_spark.preprocessing import transform_mean_variance

    ts = transform_mean_variance(
        _events_series(spark, sf_dir).where(F.size("values") >= SAX_SEGMENTS)
    )
    labeled = ts.withColumn(
        "label", (F.col("series_id") % 3).cast("int")
    ).localCheckpoint()
    train = labeled.where(F.col("series_id") % 2 == 0)
    test = labeled.where(F.col("series_id") % 2 == 1)
    # board sampling: TEST side only — the train/candidate side stays
    # the full population, so the 1-NN search space is unchanged.  The
    # odd-preserving sampler (% (2*sm) == 1) intersects the odd-id test
    # split for EVERY modulus; the plain % sm == 0 sampler made the
    # r13 generated-scale gates vacuous (even mods 150/750 -> 0 rows).
    test = _sample_out_odd(test, "series_id")
    pred = knn_classify(
        test, train, k=1, metric="sax",
        n_segments=SAX_SEGMENTS, alphabet_size_avg=SAX_ALPHABET,
    )
    return pred.select("series_id", F.col("prediction").cast("int").alias("prediction"))


_RUNNING_Z_SQL = """
    WITH s AS ({base}),
    w AS (
      SELECT user_id, t, value,
             avg(value) OVER win AS mu,
             stddev_samp(value) OVER win AS sd,
             count(*) OVER win AS n_prev
      FROM s
      WINDOW win AS (PARTITION BY user_id ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, CAST(t AS INT) AS t, value,
           round(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0.0 END, 6) AS z,
           (n_prev >= 10 AND
            abs(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0.0 END) > 3.0)
             AS is_anomaly
    FROM w {pred}
"""


def events_running_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online per-key z-score anomaly flags — batch twin of the custom
    stateful streaming operator (streaming.stream_running_zscore): each
    event scored against the Welford stats of the events before it.
    stddev_samp over the preceding-rows window == sqrt(M2/(n-1))."""
    load_tables(spark, sf_dir)
    return _sample_out(
        spark.sql(_RUNNING_Z_SQL.format(base=_EVENTS_LONG_SQL, pred="")),
        "user_id")


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): the relational twin
    of Structured Streaming session windows."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        WITH lagged AS (
          -- let-bind the lag so the window function is evaluated once
          SELECT user_id, ts, value,
                 lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_ts
          FROM events
        ),
        flagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN unix_timestamp(ts) - unix_timestamp(prev_ts) > 1800
                      OR prev_ts IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM lagged
        ),
        numbered AS (
          SELECT user_id, ts, value,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS session_no
          FROM flagged
        )
        SELECT user_id, session_no, count(*) AS n_events,
               round(sum(value), 4) AS session_value,
               cast(min(ts) as string) AS session_start
        FROM numbered
        GROUP BY user_id, session_no
        """
    ).transform(lambda d: _sample_out(d, "user_id"))


def events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the latest order of the same customer
    at or before the event time (SURVEY.md §2.10 gap analysis).

    Scale pattern: union both streams, one window sort per key with a
    carry-forward last_value — no pairwise join, shuffle O(n+m).
    """
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        WITH unioned AS (
          SELECT o_custkey AS k, o_orderdate AS t, o_orderkey, o_totalprice,
                 NULL AS event_id, CAST(NULL AS DOUBLE) AS value, 0 AS is_event
          FROM orders
          UNION ALL
          SELECT user_id AS k, ts AS t, NULL, NULL, event_id, value, 1
          FROM events
        ),
        carried AS (
          SELECT k, t, event_id, value, is_event,
                 last_value(o_orderkey, true) OVER (PARTITION BY k
                     ORDER BY t, is_event, coalesce(event_id, -1), coalesce(o_orderkey, -1)
                     ROWS UNBOUNDED PRECEDING) AS last_orderkey,
                 last_value(o_totalprice, true) OVER (PARTITION BY k
                     ORDER BY t, is_event, coalesce(event_id, -1), coalesce(o_orderkey, -1)
                     ROWS UNBOUNDED PRECEDING) AS last_totalprice
          FROM unioned
        )
        SELECT event_id, k AS user_id, last_orderkey,
               round(last_totalprice, 2) AS last_totalprice
        FROM carried WHERE is_event = 1
        """
    )


def events_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user aggregates (cumsum of generators.py:52 analog)."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT user_id, event_id,
               round(sum(value) OVER w, 4) AS cum_sum,
               floor(round(sum(value) OVER w, 4) / (count(*) OVER w) * 1e6 + 0.5)
                 / 1e6 AS cum_avg,
               round(min(value) OVER w, 6) AS cum_min,
               round(max(value) OVER w, 6) AS cum_max
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)
        """
    ).transform(lambda d: _sample_out(d, "user_id"))


def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dim aggregate via GROUPING SETS (free in Spark, absent in the
    reference — SURVEY.md §2.10)."""
    load_tables(spark, sf_dir)
    # exact-grid revenue (see the money-helper block): the () grouping
    # set sums the whole table into one cell — maximal
    # order-sensitivity without the integer grid.  Rolled up FROM THE
    # FINEST grain: GROUPING SETS over the raw scan triples every row
    # through Expand (3x the aggregate work — measured 1.9 s vs 0.46 s
    # at sf0.1); the exact integer totals are decomposable, so the
    # coarser sets sum the 6-row finest aggregate instead.  The oracle
    # keeps the direct GROUPING SETS form — independent computation,
    # identical integers.
    return spark.sql(
        f"""
        WITH base AS (
          SELECT l_returnflag, l_linestatus,
                 {_split_sum(_rev_v())} AS rev4,
                 count(*) AS n
          FROM lineitem
          GROUP BY l_returnflag, l_linestatus
        )
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               {_money_out('sum(rev4)', 4)} AS revenue,
               sum(n) AS n_rows
        FROM base
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


def knn_euclidean_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN under Euclidean distance on resampled-16 series — the kNN
    top-k-per-group layer with a fully SQL-expressible metric, so the
    neighbor topology itself is under the hash gate."""
    from tslearn_spark.neighbors import kneighbors
    from tslearn_spark.preprocessing import resample

    ts = resample(
        _events_series(spark, sf_dir).where(F.size("values") >= 2), 16
    ).cache()  # the fast path reads the input 3x (shape check, collect, scan)
    sm = _oracle_sample_mod()
    q = ts.where(F.col("series_id") % sm == 0) if sm else ts
    nn = kneighbors(q, ts, k=1, metric="euclidean", drop_self=True)
    return nn.select(
        F.col("id1").alias("user_id"),
        F.col("id2").alias("neighbor_id"),
        F.round("dist", 6).alias("dist"),
    )


# ---------------------------------------------------------------------------
# data-pipeline operators (SURVEY.md §7 Phase 6)
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tslearn_spark.pipeline import exact_duplicates

    t = load_tables(spark, sf_dir)
    return exact_duplicates(t["documents"])


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram-shingle Jaccard near-dup join.  Shingles (not unigrams)
    because the corpus vocabulary is tiny (~31 words): unigram inverted
    indexes degenerate to O(n^2) when every token is hot; trigrams keep
    document frequencies low so the index join scales."""
    from tslearn_spark.pipeline import ngram_jaccard_pairs

    t = load_tables(spark, sf_dir)
    # df_cap kills hot-shingle candidate blowup (boilerplate text); the
    # oracle replicates the same cap so results stay hash-identical
    out = ngram_jaccard_pairs(t["documents"], n_shingle=3, threshold=0.5,
                              df_cap=256)
    return out.select(
        "id1", "id2", "inter", "n1", "n2", F.round("jaccard", 6).alias("jaccard")
    )


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup materializer: connected components over the 3-gram Jaccard
    near-dup graph -> (doc_id, keep_doc_id = min id in component).  The
    step that actually DROPS duplicates rather than listing pairs; the
    oracle closes the same graph with a recursive CTE."""
    from tslearn_spark.pipeline import canonicalize, ngram_jaccard_pairs

    t = load_tables(spark, sf_dir)
    pairs = ngram_jaccard_pairs(t["documents"], n_shingle=3, threshold=0.5)
    out = canonicalize(pairs).select("doc_id", "keep_doc_id")
    sm = _oracle_sample_mod()
    if sm:
        # board sampling (r14): keep WHOLE components that contain at
        # least one sampled doc — the full distributed near-dup graph +
        # connected-components machinery still runs; only the
        # hash-compared slice (and the oracle's recursive closure,
        # which r13 declared infeasible at 250k docs) shrinks.  A
        # component either appears in full or not at all, so labels in
        # the slice are exactly the full run's labels.
        comps = (out.where(F.col("doc_id") % sm == 0)
                 .select("keep_doc_id").distinct())
        out = out.join(F.broadcast(comps), "keep_doc_id")
    return out.select("doc_id", "keep_doc_id")


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact blocked-BLAS path): every
    (id1 < id2) pair at cosine >= 0.35.  The threshold is tuned to the
    synthetic embeddings (random vectors, max pair cosine ~0.5) so the
    operator has a non-trivial result to hash-check."""
    from tslearn_spark.pipeline import embedding_neardup_pairs

    t = load_tables(spark, sf_dir)
    out = embedding_neardup_pairs(t["embeddings"], threshold=0.35)
    sm = _oracle_sample_mod()
    if sm:  # board sampling: the full blocked-BLAS pass still runs; the
        # gate hash-checks the id1-sampled slice of its output
        out = out.where(F.col("id1") % sm == 0)
    return out.select("id1", "id2", F.round("cosine", 6).alias("cosine"))


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tslearn_spark.pipeline import minhash_signatures

    t = load_tables(spark, sf_dir)
    sig = minhash_signatures(t["documents"], num_hashes=16, seed=42)
    return sig.select("doc_id", F.posexplode("sig").alias("h_idx", "minhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tslearn_spark.pipeline import simhash_signatures

    t = load_tables(spark, sf_dir)
    return simhash_signatures(t["documents"], bits=32)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction over binary payloads
    (pipeline/multimodal.py:48-89).  Media table synthesized from the
    documents table (payload = UTF-8 bytes); the deterministic sha256
    fake decode is replayed byte-for-byte by the DuckDB oracle, so the
    mapInPandas plumbing (binary column -> Arrow -> features) is
    hash-gated, not just rows-only."""
    from tslearn_spark.pipeline.multimodal import extract_features

    t = load_tables(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = extract_features(media)
    return out.select(
        "media_id",
        F.round("feat_mean", 6).alias("feat_mean"),
        F.round("feat_std", 6).alias("feat_std"),
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan (pipeline/multimodal.py:92-103):
    metadata-bounded sequence explode, one row per sampled frame."""
    from tslearn_spark.pipeline.multimodal import frame_sample

    t = load_tables(spark, sf_dir)
    media = t["documents"].where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        (F.octet_length("text") * 10).cast("int").alias("duration_ms"),
    )
    return frame_sample(media, every_ms=500)


def multimodal_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container-metadata extraction (pipeline/multimodal.py
    parse_mp4_metadata / parse_webm_metadata — pure-stdlib ISO-BMFF box
    walk + EBML element walk, no codec).  Each document becomes a
    deterministic mp4 (even doc_id) or webm (odd) payload whose
    duration/track/sample parameters are closed-form functions of
    (doc_id, n_chars); the engine must PARSE those values back out of
    the container bytes, and the DuckDB oracle computes the same
    closed forms — hash equality proves the byte-level parse."""
    import pandas as pd

    from tslearn_spark.pipeline.multimodal import (
        build_mp4, build_webm, extract_metadata,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "n_chars")

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did, nc in zip(pdf["doc_id"], pdf["n_chars"]):
                did, nc = int(did), int(nc)
                dur = (nc * 7) % 100000 + 1000
                ntr = did % 3 + 1
                if did % 2 == 0:
                    payloads.append(build_mp4(
                        dur, n_tracks=ntr, n_samples=nc % 50,
                        sample_size=128 + (did % 5) * 64))
                else:
                    payloads.append(build_webm(dur, n_tracks=ntr))
            yield pd.DataFrame({"media_id": pdf["doc_id"],
                                "payload": payloads})

    media = docs.mapInPandas(gen, "media_id long, payload binary")
    return extract_metadata(media)


def stream_exact_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen-wins dedup, exercised in batch mode (the
    stateful operator's batch twin — streaming/__init__.py).  Returns
    the surviving doc ids."""
    from tslearn_spark.streaming import stream_exact_dedup

    t = load_tables(spark, sf_dir)
    return stream_exact_dedup(t["documents"]).select("doc_id")


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (pipeline/simsearch.py ivf_topk): the
    deterministic lowest-id centroids let the DuckDB oracle replay the
    assignment/probe/rerank chain bit-for-bit."""
    from tslearn_spark.pipeline import ivf_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    sm = _oracle_sample_mod()
    q = emb.where(F.col("vec_id") % sm == 0) if sm else emb
    out = ivf_topk(q, emb, k=5, n_lists=16, n_probe=4)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting + language-ID + rolling-hash
    fingerprinting in one doc_id-grain query (the driver caps the board
    at 50 queries; all four operators stay hash-gated — fingerprints
    merged here in r7 to free a slot for dedup_minhash_verified)."""
    from tslearn_spark.pipeline.dedup import DOC_WORK
    from tslearn_spark.pipeline.text import (
        fingerprint_col, language_cols, quality_cols, token_count_cols,
    )
    from tslearn_spark.session import size_tasks

    t = load_tables(spark, sf_dir)
    # r14 (guide §2.4): all four operators are map-only projections of
    # the SAME documents scan — fuse them into ONE projection instead of
    # three doc_id joins of four separate scans (the operators'
    # DataFrame APIs are unchanged; this query composes their column
    # builders).  Output columns/values are identical to the old
    # q.join(tc).join(lang).join(fp) — every expression is per-row
    # deterministic, so the join-free form is the same function of the
    # same rows.  Measured 0.91 -> ~0.45 s at sf0.1.
    n_chars_q, n_words, mean_wl, punct, upper, digit, stop = quality_cols()
    round6 = [("mean_word_len", mean_wl), ("punct_ratio", punct),
              ("upper_ratio", upper), ("digit_ratio", digit),
              ("stopword_ratio", stop)]
    pred_lang, score = language_cols()
    return size_tasks(t["documents"], DOC_WORK).select(
        "doc_id",
        n_chars_q, n_words,
        *[F.round(c, 6).alias(n) for n, c in round6],
        *token_count_cols(),
        pred_lang.alias("pred_lang"), score.alias("score"),
        fingerprint_col(window=8),
    )


def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH end-to-end: signatures -> banding -> band-bucket
    candidate join -> exact-Jaccard verification via two id equi-joins +
    array_intersect (dedup.py verify_candidate_pairs).  The full-corpus
    inverted index is NEVER rebuilt behind the LSH — cost is bounded by
    the candidate set (test_pipeline.py asserts no token-keyed join in
    the plan).  3-gram shingles: on this 40-word-vocabulary corpus
    unigram token sets are near-identical across ALL docs, which would
    make every pair a candidate — shingles keep the S-curve selective,
    like dedup_ngram_jaccard."""
    from tslearn_spark.pipeline import minhash_lsh_candidates

    t = load_tables(spark, sf_dir)
    out = minhash_lsh_candidates(
        t["documents"], num_hashes=16, bands=4, n_shingle=3, seed=42,
        verify_threshold=0.5,
    )
    return out.select(
        "id1", "id2",
        F.col("inter").cast("long").alias("inter"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tslearn_spark.pipeline import brute_force_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    sm = _oracle_sample_mod()
    q = emb.where(F.col("vec_id") % sm == 0) if sm else emb
    out = brute_force_topk(q, emb, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


_TINY_INT_SQL = """
    WITH ranked AS (
        SELECT user_id, CAST(floor(value) AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id < 12
    )
    SELECT user_id AS series_id,
           transform(array_sort(collect_list(struct(rn, v))),
                     s -> array(s.v)) AS values
    FROM ranked WHERE rn <= 5 + user_id % 4
    GROUP BY user_id
"""


def _tiny_int_series(spark: SparkSession) -> DataFrame:
    """12 tiny integer-valued series (lengths 5..8) for the exact-DP hash
    gates: floor()-quantized values keep every kernel arithmetic step an
    exact integer so Spark and DuckDB agree bit-for-bit.

    Returned as a local relation: several kernel subplans consume the
    slice, so the events scan + window runs once.  Spark spreads local
    data one row per partition up to the slot count, and task sizing
    passes that through, so each kernel stage runs min(12, slots) tasks
    (4 on a 4-slot session, 12 on 32 slots)."""
    df = spark.sql(_TINY_INT_SQL)
    return spark.createDataFrame(df.toPandas(), df.schema)


def cdist_dtw_tiny(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DTW under the hash gate (dtw_variants.py:24-57,384-465).

    Runs the REAL distributed path end-to-end — self_pairs triangle ->
    mixed-shape batched DP (kernels.py:171,292) -> mirror + zero diagonal
    via cdist — on tiny integer series where every DP cell is an exact
    integer: values are floor()-quantized doubles, costs are squared int
    diffs, and min/+ are exact below 2^53, so both engines produce
    bit-identical doubles and sqrt is IEEE correctly-rounded on both.
    Series lengths vary 5..8 by user (rn <= 5 + user_id % 4) so the
    padded mixed-shape kernel path is the one exercised, not a
    same-shape fast path.  The DuckDB oracle replays the same DP as a
    recursive CTE stepping one cell per iteration in row-major order,
    carrying (prev row, current row prefix) as lists.

    The lcss column puts the LCSS DP (dtw_variants.py:1441-1540,
    kernels.py lcss_accumulated_matrix) under the same gate: counts are
    integers, eps=1.0 over integer values is an exact comparison, and
    the final count/min(n1,n2) division is a single correctly-rounded
    IEEE op on both engines.  Diagonal lcss is 1.0 (self-similarity),
    unlike the distance diagonal's 0.0.

    The dtw_band column gates the BANDED batched DP — the
    performance-critical masked kernel (kernels.py:178-219 band-
    coordinate row-scan; mask semantics dtw_variants.py:906-956) — with
    sakoe_chiba_radius=2 over the same mixed-length pairs: the oracle
    replays the per-row [lo, hi] band bounds (diagonal-adjusted for
    unequal lengths) and carries +infinity for out-of-band cells, which
    IEEE propagates identically on both engines while in-band cells
    stay exact integers.

    The softdtw / gak / sbd columns complete the kernel-family gate
    (softdtw_variants.py:316-374 soft-DTW forward pass; 22-93 GAK
    sum-product DP with the k/(2-k) half-Gaussian Gram; cycc.pyx:16-41
    FFT normalized cross-correlation).  These are transcendental, not
    exact-integer, so rounding absorbs the cross-engine libm ulps:
    round-4 soft-DTW / round-6 gak+sbd leave >3 orders of magnitude
    between the observed numpy-vs-DuckDB drift and the nearest rounding
    boundary on this (deterministic) data.  The oracle replays the same
    DPs as recursive CTEs with identical float association — softmin as
    m - ln((e_up + e_left) + e_diag), GAK cells as gram * ((up + left)
    + diag) — and SBD as direct integer-exact shift sums, which the FFT
    path matches to ~1e-12.  sigma=100 keeps the Gram in (0.19, 1] for
    these 0..184-valued series (sigma=5 would underflow every
    off-diagonal cell to 0).  SBD is computed over ORDERED pairs — the
    reference profile truncates shifts to +/-(len(s1)-1), so for
    unequal lengths sbd(x,y) != sbd(y,x); the diagonal clamps the
    ~ -1e-16 FFT residue of 1 - ncc(x,x) to exactly 0 on both sides.
    """
    from tslearn_spark.metrics import cdist, pair_metric_udf, self_pairs

    load_tables(spark, sf_dir)
    tiny = _tiny_int_series(spark)
    edges = cdist(tiny, metric="dtw").select(
        "id1", "id2", F.round("dist", 6).alias("dtw")
    )
    tri = self_pairs(tiny).select(
        "id1", "id2",
        F.round(pair_metric_udf("lcss", eps=1.0)("values1", "values2"), 6).alias("lcss"),
    )
    lc = (
        tri
        .unionByName(tri.select(F.col("id2").alias("id1"),
                                F.col("id1").alias("id2"), "lcss"))
        .unionByName(tiny.select(F.col("series_id").alias("id1"),
                                 F.col("series_id").alias("id2"),
                                 F.lit(1.0).alias("lcss")))
    )
    edges_band = cdist(tiny, metric="dtw", sakoe_chiba_radius=2).select(
        "id1", "id2", F.round("dist", 6).alias("dtw_band")
    )
    # full ordered 12x12 pair grid drives the batched mixed-shape
    # soft-DTW / GAK kernels and the FFT SBD through the real UDF path
    op = (
        tiny.select(F.col("series_id").alias("id1"), F.col("values").alias("values1"))
        .crossJoin(tiny.select(F.col("series_id").alias("id2"),
                               F.col("values").alias("values2")))
    )
    extra = op.select(
        "id1", "id2",
        # + 0.0 canonicalizes IEEE -0.0 (a self-score rounding to zero
        # keeps its sign bit through round() on DuckDB but not Spark)
        (F.round(pair_metric_udf("softdtw", gamma=1.0)("values1", "values2"), 4)
         + F.lit(0.0)).alias("softdtw"),
        F.round(pair_metric_udf("gak", sigma=100.0)("values1", "values2"), 6).alias("gak"),
        F.round(F.greatest(F.lit(0.0), pair_metric_udf("sbd")("values1", "values2")), 6).alias("sbd"),
        # r13: subsequence DTW (dtw_variants.py:846-903) under the hash
        # gate — free-start row (row 0 = local cost, no left carry) +
        # free end (min over the last row).  Ordered pairs: the metric
        # is asymmetric (query-inside-candidate).  Integer inputs keep
        # every DP cell exact like the dtw column; the oracle replays
        # the free-first-row recursion as one more recursive CTE.
        F.round(pair_metric_udf("subseq")("values1", "values2"), 6).alias("subseq"),
    )
    # broadcast hints (guide §3.1): the four metric subtrees are all
    # post-Arrow (no size stats), so the planner falls back to
    # SortMergeJoin — an Exchange + Sort per side plus an AQE
    # stage-materialization barrier per join — for inputs that are
    # <=144 rows BY CONSTRUCTION at every sf.  Hinting the three build
    # sides plans BroadcastHashJoin upfront: the probe chain is never
    # shuffled and the barriers disappear.  Inner equi-joins on
    # (id1, id2): identical rows either way.
    return (
        edges.join(F.broadcast(lc), ["id1", "id2"])
        .join(F.broadcast(edges_band), ["id1", "id2"])
        .join(F.broadcast(extra), ["id1", "id2"])
        .select("id1", "id2", "dtw", "lcss", "dtw_band", "softdtw", "gak",
                "sbd", "subseq")
    )


# ---------------------------------------------------------------------------
# non-SQL-expressible operators (rows-only checks)
# ---------------------------------------------------------------------------

def knn_dtw_classify_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN DTW classification over the FULL z-normed population,
    synthetic labels = user_id % 3 (neighbors.py:353-562).  This is the
    PERF twin: pair count grows quadratically with sf (562k banded DTWs
    at sf0.1), which is exactly what bench measures — and exactly why it
    cannot carry a DuckDB DP-replay oracle.  The hash-gated roster twin
    is knn_dtw_classify below (the same one-stage broadcast-DTW plan on
    a scale-invariant integer sample)."""
    from tslearn_spark.neighbors import knn_classify
    from tslearn_spark.preprocessing import transform_mean_variance

    ts = transform_mean_variance(_events_series(spark, sf_dir))
    # localCheckpoint: the labeled set feeds two consumers (the query
    # side and the broadcast train side, which carries the labels) —
    # materialize once, truncate lineage
    labeled = ts.withColumn(
        "label", (F.col("series_id") % 3).cast("string")
    ).localCheckpoint()
    train = labeled.where(F.col("series_id") % 2 == 0)
    test = labeled.where(F.col("series_id") % 2 == 1)
    return knn_classify(test, train, k=1, metric="dtw", sakoe_chiba_radius=5)


# knn series slice: lengths 12..16 by user so the padded MIXED-SHAPE
# banded batch kernel is the path exercised, not a same-shape fast path
_KNN_INT_SQL = """
    WITH ranked AS (
        SELECT user_id, CAST(floor(value) AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id % {mod} < 2
    )
    SELECT user_id AS series_id,
           transform(array_sort(collect_list(struct(rn, v))),
                     s -> array(s.v)) AS values
    FROM ranked WHERE rn <= 12 + user_id % 5
    GROUP BY user_id
"""


def _knn_sample_mod(n_users: int) -> int:
    """Scale-invariant sampling modulus: keep ~25 train + ~25 test users
    at ANY sf (train = user_id % mod == 0, test = % mod == 1), so the
    oracle's banded-DP replay cost is constant while the engine still
    runs the real distributed path.  n/25 is never exactly half-integral
    (fraction is k/25), so round() agrees across Python/DuckDB."""
    return max(2, int(round(n_users / 25.0)))


def knn_dtw_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN banded-DTW classification under the HASH GATE
    (neighbors.py:353-562 kneighbors + :502-531 vote).

    Runs the REAL distributed path — broadcast train and labels, then
    in one map stage the fused banded-DP top-k (kernels.dtw_knn_topk),
    tie-aware ranking and the majority vote, with no shuffle after the
    kernel — on floor()-quantized integer series (lengths 12..16
    by user, sakoe_chiba_radius=5, labels user_id % 3).  On integer
    values every DP cell is an exact integer (the row-scan cumsum trick
    is exact under integer associativity), the +inf band border
    propagates identically, and sqrt is correctly rounded on both
    engines — so the DuckDB banded-DP recursive CTE (the
    cdist_dtw_tiny:dtw_band machinery at radius 5) + argmin(dist, id2)
    + label replays the prediction bit-for-bit.  Users are sampled
    scale-invariantly (~25 per side via _knn_sample_mod) so the oracle
    cost stays constant at every gated sf; knn_dtw_classify_full keeps
    the full-population quadratic perf measurement in bench."""
    from tslearn_spark.neighbors import knn_classify

    t = load_tables(spark, sf_dir)
    # countDistinct, not distinct().count(): same exact value, but the
    # partial-aggregate form ships per-partition distinct sets instead
    # of shuffling every distinct user_id row (r14, guide §2.3)
    mod = _knn_sample_mod(
        t["events"].agg(F.countDistinct("user_id")).first()[0])
    ts = spark.sql(_KNN_INT_SQL.replace("{mod}", str(mod)))
    labeled = ts.withColumn(
        "label", (F.col("series_id") % 3).cast("string")
    ).localCheckpoint()
    train = labeled.where(F.col("series_id") % mod == 0)
    test = labeled.where(F.col("series_id") % mod == 1)
    return knn_classify(test, train, k=1, metric="dtw", sakoe_chiba_radius=5)


def matrix_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile m=8 per user series (matrix_profile.py:25-253)."""
    from tslearn_spark import matrix_profile as MP

    ts = _sample_out(
        _events_series(spark, sf_dir).where(F.size("values") >= 16),
        "series_id")
    prof = MP.transform(ts, subsequence_length=8, scale=False)
    return prof.select(
        F.col("series_id").alias("user_id"), F.posexplode("profile").alias("t", "mp")
    ).select("user_id", "t", F.round("mp", 6).alias("mp"))


def metrics_pair_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """banded-dtw/softdtw/gak/lcss/ncc over 10 users' pairs — DP kernels,
    rows-only.  The dtw column (sakoe_chiba_radius=5, dtw_variants.py:
    1130-1222) absorbs the old cdist_dtw_sample's banded coverage; the
    full-grid DTW kernel itself is hash-gated by cdist_dtw_tiny."""
    from tslearn_spark.metrics import pair_metric_udf, self_pairs
    from tslearn_spark.preprocessing import transform_mean_variance

    ts = transform_mean_variance(
        _events_series(spark, sf_dir).where(F.col("series_id") < 10)
    )
    pairs = self_pairs(ts)
    return pairs.select(
        "id1", "id2",
        F.round(pair_metric_udf("dtw", sakoe_chiba_radius=5)("values1", "values2"), 6).alias("dtw"),
        F.round(pair_metric_udf("softdtw", gamma=1.0)("values1", "values2"), 4).alias("softdtw"),
        F.round(pair_metric_udf("gak", sigma=5.0)("values1", "values2"), 6).alias("gak"),
        F.round(pair_metric_udf("lcss", eps=0.5)("values1", "values2"), 6).alias("lcss"),
        F.round(pair_metric_udf("sbd")("values1", "values2"), 6).alias("sbd"),
    )


# DBA input: 10 users x exactly 32 floor()-quantized values — uniform
# length == barycenter_size, so the init is the pure positionwise mean
# (dba.py:14-22 _init_avg with no interp step)
_DBA_INT_SQL = """
    WITH ranked AS (
        SELECT user_id, CAST(floor(value) AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id < 10
    )
    SELECT user_id AS series_id,
           transform(array_sort(collect_list(struct(rn, v))),
                     s -> array(s.v)) AS values
    FROM ranked WHERE rn <= 32
    GROUP BY user_id
"""

DBA_MAX_ITER = 5  # shared literal: the oracle unrolls exactly this many


def dba_barycenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBA under the HASH GATE (dba.py:394-604): 5 unrolled E-M steps
    over 10 floor()-quantized 32-length series.

    Runs the REAL distributed path — broadcast center, per-series
    dtw_path E-step (kernels.py:203 row-scan matrix + :522 diag-first
    backtrack), exploded grouped M-step — on integer series where every
    quantity both engines compute is bit-identical: series values stay
    integers through ALL iterations (the M-step sums SERIES values, so
    wsum/wtot are exact integers in any summation order and each center
    value is one correctly-rounded division), iteration-1 DP cells are
    exact integers, and iteration>=2 cells replay the engine's exact
    row-scan float association (cell = s + min-prefix(a - s) with
    left-fold scalars — see the oracle CTE).  The tol=1e-5 early-break
    is replayed with a frozen-center flag per unrolled stage.  This
    lifts the strongest iterative query from rows-only to hash-gated."""
    from tslearn_spark.barycenters import dtw_barycenter_averaging

    load_tables(spark, sf_dir)
    ts = spark.sql(_DBA_INT_SQL).cache()
    center = dtw_barycenter_averaging(
        ts, barycenter_size=32, max_iter=DBA_MAX_ITER)
    rows = [(int(i), float(v[0])) for i, v in enumerate(center)]
    # Spark-side round: F.round vs DuckDB round is the proven-green pair
    # (np.round's scale-rint-rescale can differ on rounding ties)
    return spark.createDataFrame(rows, "t int, bary double").select(
        "t", F.round("bary", 6).alias("bary"))


def clustering_labels_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeSeriesKMeans(metric=euclidean, k-means++ init) + KShape labels
    on the same event series (kmeans.py:471-859, kshape.py:21-291) — both
    iterative with randomized inits, so NOT SQL-replayable.  This is the
    REPLAY twin (the engine-free numpy replay in
    tests/test_driver_queries.py runs it at sf0.001; large-scale
    clustering perf is measured by bench's sf1 fits — kmeans_dtw,
    kshape); the hash-gated roster twin is clustering_labels below
    (same Lloyd machinery, explicit init).
    Merged from the former kmeans_euclidean_clusters and kshape_clusters
    queries (each sub-flow unchanged)."""
    from tslearn_spark.clustering import KShape, TimeSeriesKMeans
    from tslearn_spark.preprocessing import resample, transform_mean_variance

    base = _events_series(spark, sf_dir)
    ts16 = transform_mean_variance(resample(base, 16)).cache()
    ts16.count()  # materialize: pandas-UDF stages need plain-attribute inputs
    km = TimeSeriesKMeans(n_clusters=3, metric="euclidean", max_iter=5, random_state=0)
    km.fit(ts16)
    kmeans_lab = km.predict(ts16).select(
        "series_id", F.col("cluster").alias("kmeans_cluster")
    )
    ts32 = resample(base.where(F.size("values") >= 2), 32).cache()
    ts32.count()
    ks = KShape(n_clusters=3, max_iter=4, random_state=0).fit(ts32)
    kshape_lab = ks.predict(ts32).select(
        "series_id", F.col("cluster").alias("kshape_cluster")
    )
    return kmeans_lab.join(kshape_lab, "series_id", "left")


# Lloyd input: every user with >=16 events, floor()-quantized, exactly
# 16 values — equal length as euclidean k-means requires; integer data
# keeps every Lloyd quantity exact (see clustering_labels docstring)
_KM_INT_SQL = """
    WITH ranked AS (
        SELECT user_id, CAST(floor(value) AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id AS series_id,
           transform(array_sort(collect_list(struct(rn, v))),
                     s -> array(s.v)) AS values
    FROM ranked WHERE rn <= 16
    GROUP BY user_id
    HAVING count(*) = 16
"""

KM_MAX_ITER = 4  # shared literal: the oracle unrolls exactly this many


def clustering_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euclidean Lloyd's k-means under the HASH GATE (kmeans.py:471-859:
    explicit-init branch :625-632, assignment :390-395, positionwise-mean
    update :544-600, final labels_ :696).

    Runs the REAL full training algorithm — 4 Lloyd iterations of the
    distributed assign UDF + the single grouped-aggregate M-step, then
    the labels_ assignment under the final centers — from an EXPLICIT
    init (the 3 smallest-id series, a documented reference feature:
    init=ndarray) on floor()-quantized 16-length series.  Every quantity
    the label chain depends on is cross-engine exact: the M-step
    averages RAW series values, so each center value is one exact
    integer sum / count division at EVERY iteration (never an
    accumulation of floats), and each assignment argmin compares
    per-cluster squared sums whose gaps dwarf associativity ulp; exact
    ties (possible on integer iteration-1 distances) replay np.argmin's
    first-minimum as ORDER BY (dist, cluster).  tol=0.0 disables the
    inertia early-break so both engines run exactly KM_MAX_ITER stages.
    The randomized-init flows stay measured/replayed via
    clustering_labels_full (k-means++ Lloyd + KShape)."""
    import numpy as np

    from tslearn_spark.clustering import TimeSeriesKMeans

    load_tables(spark, sf_dir)
    ts = spark.sql(_KM_INT_SQL).localCheckpoint()
    init = [
        np.asarray(r["values"], dtype=np.float64)
        for r in ts.orderBy("series_id").limit(3).collect()
    ]
    km = TimeSeriesKMeans(n_clusters=3, metric="euclidean",
                          max_iter=KM_MAX_ITER, tol=0.0, init=init)
    km.fit(ts)
    return km.labels_.select("series_id", "cluster")


def kernel_kmeans_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KernelKMeans(gak) fit on even ids, predict on odd ids via the
    cross-Gram (kmeans.py:136-457 incl. predict :433-455).  Rows-only
    (DP kernel)."""
    from tslearn_spark.clustering import KernelKMeans
    from tslearn_spark.preprocessing import resample, transform_mean_variance

    ts = transform_mean_variance(
        resample(_events_series(spark, sf_dir), 16)
    ).localCheckpoint()
    train = ts.where(F.col("series_id") % 2 == 0)
    test = ts.where(F.col("series_id") % 2 == 1)
    kk = KernelKMeans(n_clusters=3, kernel="gak", max_iter=5, random_state=0,
                      kernel_params={"sigma": 2.0}).fit(train)
    return kk.predict(test).select("series_id", "cluster")


def kernel_kmeans_assign_tiny(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel k-means ASSIGNMENT criterion under the hash gate
    (kmeans.py:390-455): dist(i, C) = 2 - 2*sum_{j in C} w_j K_ij /
    sum_{j in C} w_j over a GAK Gram.

    Runs the REAL distributed path — the cross-Gram cdist machinery and
    KernelKMeans.predict's edges->aggregate->argmin chain — on the tiny
    integer series with FIXED labels (series_id % 3), so DuckDB can
    replay it exactly: the GAK DP is the same recursive CTE the
    cdist_dtw_tiny gate uses (sigma=100), the criterion is one grouped
    aggregate over those kernel values, and the argmin is a window with
    the engine's (dist asc, cluster asc) tie order.  This puts the one
    SQL-expressible step of the kernel-kmeans family under the value
    hash; the iterative fit stays covered by kernel_kmeans_predict's
    engine-free pytest replay (tests/test_driver_queries.py)."""
    from tslearn_spark.clustering import KernelKMeans

    load_tables(spark, sf_dir)
    tiny = _tiny_int_series(spark)
    kk = KernelKMeans(n_clusters=3, kernel="gak",
                      kernel_params={"sigma": 100.0})
    kk.labels_ = tiny.select(
        "series_id", (F.col("series_id") % 3).cast("int").alias("cluster")
    )
    kk._df = tiny
    kk._labw = tiny.select(F.col("series_id").alias("id2"),
                           F.lit(1.0).alias("_w"))
    out = kk.predict(tiny)
    return out.select("series_id", "cluster",
                      F.round("dist", 6).alias("dist"))


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate ANN — the scale path (rows-only)."""
    from tslearn_spark.pipeline import lsh_topk

    t = load_tables(spark, sf_dir)
    # dim=64: the generated embeddings tables are 64-wide at every sf
    # (pinned by tests/test_driver_queries.py::test_embeddings_width —
    # a width drift would silently bucket truncated dots otherwise);
    # passing it skips the one-row probe job
    emb = t["embeddings"]
    sm = _oracle_sample_mod()
    q = emb.where(F.col("vec_id") % sm == 0) if sm else emb
    out = lsh_topk(q, emb, k=5, bits=6, n_tables=4,
                   dim=64)
    return out.select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")


def silhouette_euclidean_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point silhouette (clustering/utils.py:66-197) under euclidean on
    resampled-16 series with labels user_id % 3 — the full a/b/s chain is
    SQL on both engines, so the clustering-quality layer is hash-gated."""
    from tslearn_spark.preprocessing import resample

    ts = resample(
        _events_series(spark, sf_dir).where(F.size("values") >= 2), 16
    )
    # keep each series as ONE 16-double array row: the all-pairs distance
    # is then a broadcast self-join of n rows with the squared-diff fold
    # in codegen — 16x fewer join rows than the exploded-by-t form this
    # replaced (r6: 5.8s -> sub-second at sf0.1, same hash)
    arr = ts.select(
        F.col("series_id").alias("user_id"),
        (F.col("series_id") % 3).cast("int").alias("cluster"),
        F.expr("transform(values, p -> p[0])").alias("vals"),
    )
    arr.createOrReplaceTempView("_sil_arr")
    sm = _oracle_sample_mod()
    sp = f"AND a.user_id % {sm} = 0" if sm else ""
    # r14: unrolled codegen squared-diff sum over the fixed 16 resampled
    # points (guide §4.1 — the HOF fold is CodegenFallback, interpreted
    # once per pair on the n^2 join); association matches the old fold
    # exactly ((0.0 + z0) + z1 + ...), values bit-identical.
    sq16 = " + ".join(
        f"((a.vals[{i}] - b.vals[{i}]) * (a.vals[{i}] - b.vals[{i}]))"
        for i in range(16)
    )
    return spark.sql(
        f"""
        WITH dists AS (
          SELECT a.user_id AS id1, a.cluster AS c1, b.user_id AS id2,
                 b.cluster AS c2,
                 sqrt((0.0D + {sq16})) AS dist
          FROM _sil_arr a JOIN _sil_arr b ON a.user_id != b.user_id {sp}
        ),
        per AS (
          SELECT id1, c1, c2, avg(dist) AS mean_d
          FROM dists GROUP BY id1, c1, c2
        ),
        a_ AS (SELECT id1, mean_d AS a FROM per WHERE c1 = c2),
        b_ AS (SELECT id1, min(mean_d) AS b FROM per WHERE c1 != c2 GROUP BY id1)
        SELECT a_.id1 AS user_id,
               round(a_.a, 6) AS a,
               round(b_.b, 6) AS b,
               round((b_.b - a_.a) / greatest(a_.a, b_.b), 6) AS s
        FROM a_ JOIN b_ ON a_.id1 = b_.id1
        """
    )


def shapelet_score_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed shapelet scoring under the hash gate: the transform +
    locate pandas-UDF path (shapelets.py:514-586; kernel _min_dists) with
    a DETERMINISTIC bank — shapelet k = the first 4 points of tiny
    integer series k (k < 3) — so DuckDB can replay the exact
    min-over-positions mean-squared scan.  Window sums are exact
    integers, /4 yields exactly-representable quarters, and loc is
    numpy argmin's first-minimum, replayed as min(position) over exact
    ties.  (The learned-bank path stays covered by shapelet_transform,
    whose Adam fit is not SQL-replayable.)"""
    import numpy as np

    from tslearn_spark.shapelets import LearningShapelets

    load_tables(spark, sf_dir)
    tiny = _tiny_int_series(spark)
    seeds = {
        r["series_id"]: r["values"]
        for r in tiny.where(F.col("series_id") < 3).collect()
    }
    model = LearningShapelets()
    model.shapelets_ = [
        np.asarray(seeds[k], dtype=np.float64)[:4] for k in sorted(seeds)
    ]
    dists = model.transform(tiny).select(
        "series_id", F.posexplode("shapelet_dists").alias("shapelet_idx", "min_dist")
    )
    locs = model.locate(tiny).select(
        "series_id", F.posexplode("shapelet_locs").alias("shapelet_idx", "loc")
    )
    return (
        dists.join(F.broadcast(locs), ["series_id", "shapelet_idx"])
        .select("series_id", "shapelet_idx",
                F.round("min_dist", 6).alias("min_dist"), "loc")
    )


def svc_gak_classify_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAK-kernel SVC (svm.py:68-371): distributed Gram, driver SMO dual,
    distributed prediction — 26 train series, gamma='auto', so the SMO
    working-set iteration dynamics are the real multi-pass ones.  NOT
    SQL-replayable (the dual trajectory is float-order dependent); this
    is the KKT-replay twin (tests/test_driver_queries.py verifies dual
    feasibility + margins + every prediction against a naive-GAK Gram).
    The hash-gated roster twin is svc_gak_classify below."""
    from tslearn_spark.preprocessing import transform_mean_variance
    from tslearn_spark.svm import TimeSeriesSVC

    ts = transform_mean_variance(
        _events_series(spark, sf_dir).where(F.col("series_id") < 40)
    )
    labeled = ts.withColumn("label", (F.col("series_id") % 2).cast("string"))
    # modulo split: works at every sf (sf0.001 has only 15 users)
    train = labeled.where(F.col("series_id") % 3 != 0)
    test = labeled.where(F.col("series_id") % 3 == 0)
    clf = TimeSeriesSVC(C=1.0, gamma="auto").fit(train)
    return clf.predict(test)


def svc_gak_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAK-kernel SVC under the HASH GATE (svm.py:68-371: distributed
    Gram svm.py(this engine):160-183, SMO dual svm_solver.py:20-77, ovo
    vote predict :554-587, binary decision_function :661-696).
    svc_gak_classify_full is the replay twin (pytest, sf0.001); SVC
    scale perf is measured by bench's sf1 svc_landmark fit.

    Runs the REAL end-to-end path — distributed normalized-GAK Gram,
    driver SMO, broadcast-dual distributed predict AND the binary
    decision_function — on a one-support-vector-per-class train set
    where the dual is EXACTLY (+C, -C) by clipping: with the normalized
    kernel, eta = 2 - 2*K12 < 2, so the first SMO update's unclipped
    step 2/eta > 1 = C hits the box bound H = C exactly (an IEEE min,
    not an approximation), no free SV exists so b stays 0.0, and the
    second working-set pass terminates on -2*K12 < tol.  The ovo
    machine score is then literally K(q, sv0) - K(q, sv1); the
    RETURNED decision column is the binary sklearn convention
    (positive -> classes_[1], svm.py:679-690), i.e. the sign flip
    K(q, sv1) - K(q, sv0) — which DuckDB replays with the proven
    sigma=100 GAK sum-product CTE (gamma=20000 -> sigma_ =
    sqrt(gamma/2) = 100 exactly; same machinery as
    kernel_kmeans_assign_tiny).  Multi-pass SMO dynamics stay covered
    by svc_gak_classify_full's KKT-verified replay."""
    from tslearn_spark.svm import TimeSeriesSVC

    load_tables(spark, sf_dir)
    tiny = _tiny_int_series(spark)
    labeled = tiny.withColumn(
        "label", (F.col("series_id") % 2).cast("string"))
    train = labeled.where(F.col("series_id") < 2)
    test = labeled.where(F.col("series_id") >= 2)
    clf = TimeSeriesSVC(C=1.0, kernel="gak", gamma=20000.0).fit(train)
    pred = clf.predict(test)
    dec = clf.decision_function(test)
    return pred.join(F.broadcast(dec), "series_id").select(
        "series_id", "prediction", F.round("decision", 6).alias("decision"))


def shapelet_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapelet min-distance transform (shapelets.py:514-540), distributed."""
    from tslearn_spark.preprocessing import resample, transform_mean_variance
    from tslearn_spark.shapelets import LearningShapelets

    ts = transform_mean_variance(
        resample(_events_series(spark, sf_dir).where(F.size("values") >= 2), 32)
    )
    # materialize before the UDF stage: Spark cannot plan a generator over
    # a pandas-UDF whose argument is itself a nested HOF expression
    labeled = ts.withColumn("label", (F.col("series_id") % 3).cast("string")).cache()
    labeled.count()
    clf = LearningShapelets(n_shapelets_per_size={8: 4}, max_iter=50,
                            random_state=0).fit(labeled)
    out = clf.transform(labeled)
    return out.select(
        F.col("series_id").alias("user_id"),
        F.posexplode("shapelet_dists").alias("shapelet_idx", "min_dist"),
    ).select("user_id", "shapelet_idx", F.round("min_dist", 4).alias("min_dist"))


def mlp_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten + MLP classifier (neural_network.py:9-105), rows-only."""
    from tslearn_spark.neural_network import TimeSeriesMLPClassifier
    from tslearn_spark.preprocessing import resample, transform_mean_variance

    ts = transform_mean_variance(
        resample(_events_series(spark, sf_dir).where(F.size("values") >= 2), 16)
    )
    labeled = ts.withColumn("label", (F.col("series_id") % 3).cast("string")).cache()
    labeled.count()
    # max_iter=60: L-BFGS runs one serial job per iteration, and this
    # rows-only query checks the distributed-fit plumbing, not convergence
    clf = TimeSeriesMLPClassifier(hidden_layer_sizes=(32,), max_iter=60,
                                  random_state=0).fit(labeled)
    return clf.predict(labeled)


def stream_tumbling_paa_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window PAA, exercised in batch mode (same plan)."""
    from tslearn_spark.streaming import stream_tumbling_paa

    t = load_tables(spark, sf_dir)
    out = stream_tumbling_paa(t["events"], window_duration="1 hour")
    return _sample_out(out.select(
        "user_id",
        F.col("win_start").cast("string").alias("win_start"),
        F.round("segment_mean", 4).alias("segment_mean"),
        "n_events",
    ), "user_id")


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: z-normalize series; 1-NN banded-DTW classification
    (SURVEY.md §7 Phase 1 slice) on sf0.001 — the full-population perf
    twin (the roster's knn_dtw_classify is its hash-gated sample)."""
    return knn_dtw_classify_full(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries — the driver's correctness gate runs at most
    50 queries in registration order, so all 48 oracled queries come
    first and the 2 rows-only iterative/model queries last; a count or
    time cap then costs only the weakest checks.  (r5 freed two slots:
    cdist_dtw_sample's banded DTW folded into metrics_pair_sample, and
    kmeans_euclidean_clusters + kshape_clusters merged into
    clustering_labels; r10 retired kernel_kmeans_predict — see the
    roster comment below; r11 lifted knn_dtw_classify,
    dba_barycenter_sample, clustering_labels and svc_gak_classify from
    rows-only to hash-gated via integer quantization + DuckDB replay
    oracles; the full-scale randomized variants live on as
    knn_dtw_classify_full — a bench sf0.1 perf twin — and
    clustering_labels_full / svc_gak_classify_full — pytest replay
    twins, their operators' scale perf measured by bench's sf1 fits.)"""
    return {
        # relational passthrough (oracled)
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_orders": q3_top_orders,
        "q5_region_revenue": q5_region_revenue,
        "top_customers_per_segment": top_customers_per_segment,
        "events_hourly_stats": events_hourly_stats,
        "part_brand_stats": part_brand_stats,
        "nation_order_rollup": nation_order_rollup,
        "orders_priority_dist": orders_priority_dist,
        # time-series operators (oracled)
        "ts_scale": ts_scale,
        "ts_envelope": ts_envelope,
        "ts_paa_sax": ts_paa_sax,
        "ts_barycenter": ts_barycenter,
        "ts_resample": ts_resample,
        "ts_paa_dist_pairs": ts_paa_dist_pairs,
        # data-pipeline operators (oracled)
        "dedup_exact": dedup_exact,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_canonical": dedup_canonical,
        "dedup_embedding_cosine": dedup_embedding_cosine,
        "dedup_minhash": dedup_minhash,
        "dedup_minhash_verified": dedup_minhash_verified,
        "dedup_simhash": dedup_simhash,
        "multimodal_features": multimodal_features,
        "multimodal_frame_sample": multimodal_frame_sample,
        "multimodal_video_metadata": multimodal_video_metadata,
        "text_quality": text_quality,
        "ann_cosine_topk": ann_cosine_topk,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_ivf_topk": ann_ivf_topk,
        # streaming batch twins (oracled)
        "stream_tumbling_paa_batch": stream_tumbling_paa_batch,
        "stream_exact_dedup_batch": stream_exact_dedup_batch,
        # similarity joins + relational extensions (oracled)
        "ts_sax_dist_pairs": ts_sax_dist_pairs,
        "ts_lb_keogh_pairs": ts_lb_keogh_pairs,
        "events_running_zscore": events_running_zscore,
        "events_sessionize": events_sessionize,
        "events_asof_orders": events_asof_orders,
        "events_cumulative": events_cumulative,
        "revenue_grouping_sets": revenue_grouping_sets,
        "knn_euclidean_16": knn_euclidean_16,
        "knn_sax_classify": knn_sax_classify,
        "silhouette_euclidean_16": silhouette_euclidean_16,
        "matrix_profile_events": matrix_profile_events,
        "cdist_dtw_tiny": cdist_dtw_tiny,
        "shapelet_score_fixed": shapelet_score_fixed,
        "kernel_kmeans_assign_tiny": kernel_kmeans_assign_tiny,
        # r11: hash-gated via integer quantization (see each docstring)
        "knn_dtw_classify": knn_dtw_classify,
        "dba_barycenter_sample": dba_barycenter_sample,
        "clustering_labels": clustering_labels,
        "svc_gak_classify": svc_gak_classify,
        # non-SQL-expressible (rows-only), heaviest last.  Round 6:
        # metrics_pair_sample left the 50-query roster (its kernels are
        # hash-gated by cdist_dtw_tiny; its engine-free pytest replay in
        # tests/test_driver_queries.py still runs) to free the slot for
        # the oracled kernel_kmeans_assign_tiny above.
        "mlp_classify": mlp_classify,
        "shapelet_transform": shapelet_transform,
        # RETIRED from the roster (r10, deliberately — not by
        # registration order): kernel_kmeans_predict.  It is rows-only
        # (no SQL oracle is possible for the iterative fit), its
        # operator is hash-gated through kernel_kmeans_assign_tiny, and
        # its values are checked by the engine-free numpy replay in
        # tests/test_driver_queries.py — so dropping it keeps the gated
        # set exactly the 50 strongest checks and a future re-ordering
        # can never silently push an ORACLED query past the gate.
    }


def _minhash_coef_values() -> str:
    from tslearn_spark.pipeline.dedup import minhash_coefficients

    coefs = minhash_coefficients(16, seed=42)
    return ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coefs))


def _lsh_plane_values(dim: int = 64, bits: int = 6, n_tables: int = 4,
                      seed: int = 42) -> str:
    """(tbl, bit, i, w) rows for every hyperplane component — the same
    RandomState draws lsh_topk uses, inlined so DuckDB replays the
    bucket assignment bit-for-bit.  i is 1-based to line up with
    generate_subscripts."""
    from tslearn_spark.pipeline.simsearch import _hyperplanes

    rows = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, bits, seed + 1000 * t)
        for b, plane in enumerate(planes):
            for i, w in enumerate(plane):
                rows.append(f"({t}, {b}, {i + 1}, {float(w)!r})")
    return ", ".join(rows)


_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"

_EN_STOP = "['the','and','of','to','in','is','that','it','for','was']"
_DE_STOP = "['der','die','und','das','ist','nicht','ein','mit','auf','sich']"
_FR_STOP = "['le','la','les','et','des','est','dans','que','pour','une']"
_ES_STOP = "['el','la','los','las','es','en','un','una','por','para']"


def _dba_stage_sql(k: int, sz: int, tol: float) -> str:
    """One unrolled DBA E-M stage (center_{k-1} -> center_{k}).

    Forward DP replays the engine's ROW-SCAN float association exactly
    (kernels.py:203-238): row 1 is a pure left-fold cumsum; rows >= 2
    compute cell = s + m with left-fold scalars s (cumsum of costs) and
    m (min-prefix of a - s), a = cost + min(up, diag).  One cell per
    recursion step; every dp row IS one cell, so the full matrix comes
    back as list(cur[j] ORDER BY i, j).  Backtrack replays numpy's
    first-on-tie argmin over (diag, up, left) (kernels.py:522-541).
    The M-step sums SERIES values (integers -> order-free exact sums);
    tol freezing carries a stopped flag so an early delta < tol stage
    passes the center through unchanged, like the engine's break."""
    p, c = k - 1, k
    return f"""
    cl_{c} AS MATERIALIZED (
        SELECT list(c ORDER BY pos) AS cv FROM center_{p}
    ),
    dp_{c} AS (
        SELECT s.sid, s.vals, cc.cv, 1 AS i, 1 AS j,
               CAST([] AS DOUBLE[]) AS prev,
               [(cc.cv[1] - s.vals[1]) * (cc.cv[1] - s.vals[1])] AS cur,
               CAST(0.0 AS DOUBLE) AS sacc, CAST(0.0 AS DOUBLE) AS macc
        FROM ser s, cl_{c} cc
        UNION ALL
        SELECT sid, vals, cv, ni, nj,
               CASE WHEN nj = 1 THEN cur ELSE prev END,
               CASE WHEN ni = 1 THEN list_append(cur, cur[j] + d)
                    WHEN nj = 1 THEN [d + ((d + cur[1]) - d)]
                    ELSE list_append(cur, ns + nm)
               END,
               CASE WHEN ni = 1 THEN 0.0 WHEN nj = 1 THEN d ELSE ns END,
               CASE WHEN ni = 1 THEN 0.0
                    WHEN nj = 1 THEN (d + cur[1]) - d
                    ELSE nm END
        FROM (
            SELECT *,
                   CASE WHEN nj = 1 OR ni = 1 THEN 0.0
                        ELSE sacc + d END AS ns,
                   CASE WHEN nj = 1 OR ni = 1 THEN 0.0
                        ELSE least(macc,
                                   (d + least(prev[nj], prev[nj - 1]))
                                   - (sacc + d)) END AS nm
            FROM (
                SELECT *,
                       (cv[ni] - vals[nj]) * (cv[ni] - vals[nj]) AS d
                FROM (
                    SELECT sid, vals, cv, i, j, prev, cur, sacc, macc,
                           CASE WHEN j < {sz} THEN i ELSE i + 1 END AS ni,
                           CASE WHEN j < {sz} THEN j + 1 ELSE 1 END AS nj
                    FROM dp_{c}
                    WHERE NOT (i = {sz} AND j = {sz})
                )
            )
        )
    ),
    cells_{c} AS MATERIALIZED (
        SELECT sid, list(cur[j] ORDER BY i, j) AS M
        FROM dp_{c} GROUP BY sid
    ),
    bt_{c} AS (
        SELECT sid, M, {sz} AS i, {sz} AS j FROM cells_{c}
        UNION ALL
        SELECT sid, M,
               CASE WHEN i = 1 THEN i
                    WHEN j = 1 THEN i - 1
                    WHEN cd <= cu AND cd <= cl THEN i - 1
                    WHEN cu <= cl THEN i - 1
                    ELSE i END,
               CASE WHEN i = 1 THEN j - 1
                    WHEN j = 1 THEN j
                    WHEN cd <= cu AND cd <= cl THEN j - 1
                    WHEN cu <= cl THEN j
                    ELSE j - 1 END
        FROM (
            SELECT sid, M, i, j,
                   CASE WHEN i > 1 AND j > 1
                        THEN M[(i - 2) * {sz} + j - 1] ELSE 0.0 END AS cd,
                   CASE WHEN i > 1 AND j > 1
                        THEN M[(i - 2) * {sz} + j] ELSE 0.0 END AS cu,
                   CASE WHEN i > 1 AND j > 1
                        THEN M[(i - 1) * {sz} + j - 1] ELSE 0.0 END AS cl
            FROM bt_{c}
            WHERE NOT (i = 1 AND j = 1)
        )
    ),
    new_{c} AS MATERIALIZED (
        SELECT b.i AS pos, sum(s.vals[b.j]) / count(*) AS c
        FROM bt_{c} b JOIN ser s ON s.sid = b.sid
        GROUP BY b.i
    ),
    delta_{c} AS MATERIALIZED (
        SELECT sqrt(sum((n.c - o.c) * (n.c - o.c))) AS dlt
        FROM new_{c} n JOIN center_{p} o ON n.pos = o.pos
    ),
    center_{c} AS MATERIALIZED (
        SELECT n.pos,
               CASE WHEN o.stopped THEN o.c ELSE n.c END AS c,
               o.stopped OR ((NOT o.stopped)
                             AND (SELECT dlt FROM delta_{c}) < {tol!r}) AS stopped
        FROM new_{c} n JOIN center_{p} o ON n.pos = o.pos
    )"""


def _dba_oracle_sql(sz: int = 32, max_iter: int = DBA_MAX_ITER,
                    tol: float = 1e-5) -> str:
    """DuckDB replay of dba_barycenter_sample: init = positionwise mean,
    then ``max_iter`` unrolled E-M stages (see _dba_stage_sql).  All
    CTE stage outputs are MATERIALIZED — DuckDB inlines plain CTEs, and
    center_{{k}} is referenced three times per stage, which would
    re-evaluate the whole prefix exponentially."""
    stages = "".join(_dba_stage_sql(k, sz, tol) + ","
                     for k in range(1, max_iter + 1))
    return f"""
    WITH RECURSIVE
    ranked AS (
        SELECT user_id, floor(value) AS v,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id < 10
    ),
    ser AS MATERIALIZED (
        SELECT user_id AS sid, list(v ORDER BY rn) AS vals
        FROM ranked WHERE rn <= {sz} GROUP BY user_id
    ),
    longv AS (
        SELECT s.sid, g.pos, s.vals[g.pos] AS v
        FROM ser s, range(1, {sz} + 1) g(pos)
    ),
    center_0 AS MATERIALIZED (
        SELECT pos, sum(v) / count(*) AS c, FALSE AS stopped
        FROM longv GROUP BY pos
    ),{stages.rstrip(',')}
    SELECT CAST(pos - 1 AS INT) AS t, round(c, 6) AS bary
    FROM center_{max_iter}
    """


def _km_oracle_sql(sz: int = 16, k: int = 3,
                   max_iter: int = KM_MAX_ITER) -> str:
    """DuckDB replay of clustering_labels: explicit init = the k
    smallest-id series, then ``max_iter`` unrolled Lloyd stages
    (assign = argmin over per-cluster squared sums with the engine's
    (dist asc, cluster asc) tie order; update = positionwise
    sum/count over RAW integer series values, exact on both engines),
    then the final labels_ assignment under center_{{max_iter}}.
    Stage outputs are MATERIALIZED like the DBA oracle's — plain CTE
    inlining re-evaluates chained stages exponentially."""
    def assign(i: int, src: str) -> str:
        return f"""
    d{i} AS (
        SELECT s.sid, c.cluster,
               list_sum(list_transform(generate_series(1, {sz}),
                   t -> (s.vals[t] - c.c[t]) * (s.vals[t] - c.c[t]))) AS d2
        FROM ser s CROSS JOIN {src} c
    ),
    a{i} AS MATERIALIZED (
        SELECT sid, cluster
        FROM (SELECT sid, cluster,
                     row_number() OVER (PARTITION BY sid
                                        ORDER BY d2 ASC, cluster ASC) AS rk
              FROM d{i})
        WHERE rk = 1
    )"""

    stages = []
    for i in range(1, max_iter + 1):
        stages.append(assign(i, f"c{i - 1}") + f""",
    c{i} AS MATERIALIZED (
        SELECT cluster, list(m ORDER BY t) AS c
        FROM (SELECT a.cluster, u.t,
                     sum(s.vals[u.t]) / count(*) AS m
              FROM a{i} a JOIN ser s USING (sid)
              CROSS JOIN (SELECT unnest(generate_series(1, {sz})) AS t) u
              GROUP BY a.cluster, u.t)
        GROUP BY cluster
    )""")
    final = assign(max_iter + 1, f"c{max_iter}")
    return f"""
    WITH
    ranked AS (
        SELECT user_id, floor(value) AS v,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    ser AS MATERIALIZED (
        SELECT user_id AS sid, list(v ORDER BY rn) AS vals
        FROM ranked WHERE rn <= {sz}
        GROUP BY user_id HAVING count(*) = {sz}
    ),
    c0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY sid) - 1 AS INT) AS cluster,
               vals AS c
        FROM (SELECT sid, vals FROM ser ORDER BY sid LIMIT {k})
    ),{','.join(stages)},{final}
    SELECT sid AS series_id, cluster FROM a{max_iter + 1}
    """


def _tiny_gak_cte(pair_pred: str) -> str:
    """Shared DuckDB CTE prefix for the sigma=100 normalized-GAK hash
    gates (kernel_kmeans_assign_tiny, svc_gak_classify): the 12 tiny
    integer series, the pair set selected by ``pair_pred``, the
    sum-product recursive-CTE GAK DP (sigma=100 -> /20000, UNROUNDED),
    and the per-pair end values + self-scores (gres/gself) downstream
    stages normalize with.  ONE definition — a future fix to the
    recurrence or association order cannot desynchronize the gates
    that ride it."""
    return f"""
            WITH RECURSIVE
            tiny AS (
                SELECT user_id, floor(value) AS v,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events WHERE user_id < 12
            ),
            ser AS (
                SELECT user_id AS sid, list(v ORDER BY rn) AS vals, count(*) AS n
                FROM tiny WHERE rn <= 5 + user_id % 4 GROUP BY user_id
            ),
            pairs_le AS (
                SELECT a.sid AS id1, b.sid AS id2, a.vals AS v1, b.vals AS v2,
                       a.n AS n1, b.n AS n2
                FROM ser a JOIN ser b ON {pair_pred}
            ),
            gp AS (
                SELECT id1, id2, n1, n2, v1, v2, 1 AS i, 1 AS j,
                       CAST([] AS DOUBLE[]) AS prev,
                       [exp(-((v1[1] - v2[1]) * (v1[1] - v2[1])) / 20000.0)
                        / (2.0 - exp(-((v1[1] - v2[1]) * (v1[1] - v2[1])) / 20000.0))] AS cur
                FROM pairs_le
                UNION ALL
                SELECT id1, id2, n1, n2, v1, v2,
                       CASE WHEN j < n2 THEN i ELSE i + 1 END,
                       CASE WHEN j < n2 THEN j + 1 ELSE 1 END,
                       CASE WHEN j < n2 THEN prev ELSE cur END,
                       CASE WHEN j < n2
                            THEN list_append(cur,
                                 (exp(-((v1[i] - v2[j + 1]) * (v1[i] - v2[j + 1])) / 20000.0)
                                  / (2.0 - exp(-((v1[i] - v2[j + 1]) * (v1[i] - v2[j + 1])) / 20000.0)))
                                 * ((CASE WHEN i > 1 THEN prev[j + 1] ELSE 0.0 END + cur[j])
                                    + CASE WHEN i > 1 THEN prev[j] ELSE 0.0 END))
                            ELSE [(exp(-((v1[i + 1] - v2[1]) * (v1[i + 1] - v2[1])) / 20000.0)
                                   / (2.0 - exp(-((v1[i + 1] - v2[1]) * (v1[i + 1] - v2[1])) / 20000.0)))
                                  * cur[1]]
                       END
                FROM gp
                WHERE NOT (i = n1 AND j = n2)
            ),
            gres AS (
                SELECT id1, id2, cur[n2] AS unnorm
                FROM gp WHERE i = n1 AND j = n2
            ),
            gself AS (SELECT id1 AS sid, unnorm AS selfv FROM gres WHERE id1 = id2)"""


def oracle_sql() -> dict[str, str]:
    bp = _BPS  # SAX breakpoints, identical literals on both sides
    seg = SAX_SEGMENTS
    sm = _oracle_sample_mod()

    def p(col: str) -> str:
        # Query-side sampling predicate, mirroring the engine-side
        # filter the nine all-pairs/top-k queries apply when the board
        # runs with --sample-mod (see _oracle_sample_mod).  Placed at
        # each oracle's expensive join so DuckDB's pair count drops to
        # O(n^2 / mod) regardless of pushdown.  Empty when unset.
        return f"AND {col} % {sm} = 0" if sm else ""

    def p_odd(col: str) -> str:
        # Odd-preserving variant of p() for knn_sax_classify, whose
        # query side is the odd-id test split: % (2*sm) == 1 keeps only
        # odd keys and is non-empty for any sm (r13 vacuity fix).
        return f"AND {col} % {2 * sm} = 1" if sm else ""

    def pw(col: str) -> str:
        # WHERE-clause variant of p() for the per-key-independent
        # linear queries (window partition / group keys): shrinks the
        # oracle's row count AND the hash-compare set at generated-
        # scale dirs where the full per-event result would be 5M rows.
        return f"WHERE {col} % {sm} = 0" if sm else ""

    return {
        "q1_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   {_base_price_exact(oracle=True)} AS sum_base_price,
                   {_rev_exact(oracle=True)} AS sum_disc_price,
                   {_charge_exact(oracle=True)} AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   {_money_avg_exact('l_extendedprice', oracle=True)} AS avg_price,
                   {_money_avg_exact('l_discount', oracle=True)} AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": f"""
            SELECT o.o_orderkey,
                   {_rev_exact('l.', oracle=True)} AS revenue,
                   o.o_orderdate::VARCHAR AS orderdate,
                   o.o_orderpriority
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
            GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "q5_region_revenue": f"""
            SELECT r.r_name AS region_name,
                   {_rev_exact('l.', oracle=True)} AS revenue,
                   count(*) AS n_lineitems
            FROM region r
            JOIN nation n   ON n.n_regionkey = r.r_regionkey
            JOIN customer c ON c.c_nationkey = n.n_nationkey
            JOIN orders o   ON o.o_custkey   = c.c_custkey
            JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
            JOIN supplier s ON s.s_suppkey   = l.l_suppkey AND s.s_nationkey = c.c_nationkey
            GROUP BY r.r_name
        """,
        "top_customers_per_segment": """
            SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal, rnk::INT AS rnk
            FROM (
              SELECT c_mktsegment, c_custkey, c_acctbal,
                     row_number() OVER (PARTITION BY c_mktsegment
                                        ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
              FROM customer
            ) t WHERE rnk <= 5
        """,
        # multimodal: the deterministic sha256 fake decode replays exactly —
        # feat_vec bytes are the digest repeated twice, so population
        # mean/std over the 64 values equal those over the 32 hash bytes
        "multimodal_features": """
            WITH b AS (SELECT doc_id AS media_id, sha256(text) AS h
                       FROM documents),
            v AS (
              SELECT media_id,
                     ('0x' || substr(h, 2 * i.i + 1, 2))::INT / 255.0 AS byte
              FROM b, range(32) i(i)
            )
            SELECT media_id,
                   round(avg(byte), 6) AS feat_mean,
                   round(stddev_pop(byte), 6) AS feat_std
            FROM v GROUP BY media_id
        """,
        "multimodal_frame_sample": """
            SELECT doc_id AS media_id,
                   unnest(generate_series(
                       0, greatest(octet_length(encode(text)) * 10 - 1, 0), 500
                   ))::INT AS frame_ts_ms
            FROM documents WHERE doc_id % 3 = 0
        """,
        # real container-metadata parse: the Spark side builds an
        # mp4/webm container from closed-form params and PARSES the
        # bytes back (ISO-BMFF box walk / EBML walk); the oracle computes
        # the same closed forms directly, so a hash match proves the
        # byte-level parse recovers every field.  mp4 n_samples counts
        # per-track stsz entries, so it multiplies by the track count.
        "multimodal_video_metadata": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'webm' END
                       AS container,
                   CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'webm' END
                       AS brand,
                   CAST((n_chars * 7) % 100000 + 1000 AS BIGINT)
                       AS duration_ms,
                   CAST(doc_id % 3 + 1 AS INT) AS n_tracks,
                   CAST(CASE WHEN doc_id % 2 = 0
                        THEN (n_chars % 50) * (doc_id % 3 + 1)
                        ELSE 0 END AS BIGINT) AS n_samples,
                   CAST(CASE WHEN doc_id % 2 = 0
                        THEN (n_chars % 50) * (doc_id % 3 + 1)
                             * (128 + (doc_id % 5) * 64)
                        ELSE 0 END AS BIGINT) AS sample_bytes
            FROM documents
        """,
        # streaming first-seen dedup in batch mode: survivor = min doc_id
        # per normalized-content hash (md5 collisions are content-equal at
        # these scales for both engines)
        "stream_exact_dedup_batch": """
            SELECT min(doc_id) AS doc_id
            FROM documents GROUP BY md5(lower(trim(text)))
        """,
        # streaming tumbling-window PAA exercised in batch mode: the same
        # tumbling group-by is plain SQL (Spark 1-hour windows align to
        # epoch hours = date_trunc)
        "stream_tumbling_paa_batch": f"""
            SELECT user_id,
                   date_trunc('hour', ts)::VARCHAR AS win_start,
                   round(avg(value), 4) AS segment_mean,
                   count(*) AS n_events
            FROM events {pw('user_id')} GROUP BY 1, 2
        """,
        "events_hourly_stats": """
            SELECT date_trunc('hour', ts)::VARCHAR AS hour,
                   event_type, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   -- avg from the ROUNDED sum: raw avg() differs by 1 ulp
                   -- across engines (summation order) and the 2-decimal
                   -- event values park averages exactly on round-4
                   -- boundaries; round-4 of the sum is boundary-free, and
                   -- from there both engines do identical IEEE arithmetic
                   floor(round(sum(value), 4) / count(*) * 1e4 + 0.5) / 1e4
                     AS avg_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY date_trunc('hour', ts), event_type
        """,
        "part_brand_stats": """
            SELECT p_brand, count(*) AS n_parts,
                   round(avg(p_retailprice), 4) AS avg_price,
                   round(min(p_retailprice), 2) AS min_price,
                   round(max(p_retailprice), 2) AS max_price,
                   round(avg(p_size), 4) AS avg_size
            FROM part GROUP BY p_brand
        """,
        "nation_order_rollup": """
            SELECT n.n_name AS nation_name, o.o_orderstatus,
                   count(*) AS n_orders,
                   round(sum(o.o_totalprice), 2) AS total_price
            FROM nation n
            JOIN customer c ON c.c_nationkey = n.n_nationkey
            JOIN orders o   ON o.o_custkey = c.c_custkey
            GROUP BY n.n_name, o.o_orderstatus
        """,
        "orders_priority_dist": """
            SELECT o_orderpriority, count(*) AS n_orders,
                   round(avg(o_totalprice), 4) AS avg_total
            FROM orders GROUP BY o_orderpriority
        """,
        "ts_scale": f"""
            WITH s AS ({_EVENTS_LONG_SQL}),
            st AS (
              SELECT user_id, avg(value) AS mu,
                     CASE WHEN stddev_pop(value) = 0 OR stddev_pop(value) IS NULL
                          THEN 1.0 ELSE stddev_pop(value) END AS sd,
                     min(value) AS mn,
                     CASE WHEN max(value) - min(value) = 0 THEN 1.0
                          ELSE max(value) - min(value) END AS rng
              FROM s GROUP BY user_id
            )
            SELECT s.user_id, s.t::INT AS t,
                   round((s.value - st.mu) / st.sd, 6) AS zvalue,
                   round((s.value - st.mn) / st.rng, 6) AS mvalue
            FROM s JOIN st ON s.user_id = st.user_id
            {pw('s.user_id')}
        """,
        "ts_envelope": f"""
            WITH s AS ({_EVENTS_LONG_SQL})
            SELECT user_id, t::INT AS t,
                   round(min(value) OVER w, 6) AS env_lower,
                   round(max(value) OVER w, 6) AS env_upper
            FROM s {pw('user_id')}
            WINDOW w AS (PARTITION BY user_id ORDER BY t
                         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        """,
        "ts_paa_sax": f"""
            WITH s AS ({_EVENTS_LONG_SQL}),
            st AS (
              SELECT user_id, avg(value) AS mu,
                     CASE WHEN stddev_pop(value) = 0 OR stddev_pop(value) IS NULL
                          THEN 1.0 ELSE stddev_pop(value) END AS sd,
                     count(*) AS n
              FROM s GROUP BY user_id HAVING count(*) >= {seg}
            ),
            praw AS (
              SELECT s.user_id, (s.t // (st.n // {seg}))::INT AS seg,
                     round(avg(s.value), 6) AS seg_mean
              FROM s JOIN st ON s.user_id = st.user_id
              WHERE s.t < (st.n // {seg}) * {seg}
              GROUP BY s.user_id, s.t // (st.n // {seg})
            ),
            z AS (
              SELECT s.user_id, s.t, (s.value - st.mu) / st.sd AS z, st.n
              FROM s JOIN st ON s.user_id = st.user_id
              WHERE s.t < (st.n // {seg}) * {seg}
            ),
            paa AS (
              SELECT user_id, (t // (n // {seg}))::INT AS seg, avg(z) AS m
              FROM z GROUP BY user_id, t // (n // {seg})
            ),
            sym AS (
              SELECT user_id, seg,
                     (CASE WHEN m >= {bp[0]!r} THEN 1 ELSE 0 END
                      + CASE WHEN m >= {bp[1]!r} THEN 1 ELSE 0 END
                      + CASE WHEN m >= {bp[2]!r} THEN 1 ELSE 0 END) AS symbol
              FROM paa
            )
            SELECT praw.user_id, praw.seg, praw.seg_mean, sym.symbol
            FROM praw JOIN sym ON praw.user_id = sym.user_id AND praw.seg = sym.seg
        """,
        "ts_barycenter": f"""
            WITH s AS ({_EVENTS_LONG_SQL})
            SELECT t::INT AS t,
                   round(sum(floor(value * 1048576) / 1048576) / sum(1.0), 6)
                       AS bary_value
            FROM s GROUP BY t
        """,
        "ts_resample": f"""
            WITH s AS ({_EVENTS_LONG_SQL}),
            arr AS (SELECT user_id, list(value ORDER BY t) AS v, count(*) AS n
                    FROM s GROUP BY user_id HAVING count(*) >= 2)
            SELECT user_id, i::INT AS t,
                   round(
                     v[(floor(i * (n - 1) / 15.0))::INT + 1]
                       * (1.0 - (i * (n - 1) / 15.0 - floor(i * (n - 1) / 15.0)))
                     + v[(ceil(i * (n - 1) / 15.0))::INT + 1]
                       * (i * (n - 1) / 15.0 - floor(i * (n - 1) / 15.0)),
                   6) AS rvalue
            FROM arr, range(16) r(i) {pw('user_id')}
        """,
        "ts_paa_dist_pairs": f"""
            WITH s AS ({_EVENTS_LONG_SQL}),
            sz AS (SELECT user_id, count(*) AS n FROM s GROUP BY user_id
                   HAVING count(*) >= {seg}),
            paa AS (
              SELECT s.user_id, (s.t // (sz.n // {seg}))::INT AS seg,
                     avg(s.value) AS m, max(sz.n) AS n
              FROM s JOIN sz ON s.user_id = sz.user_id
              WHERE s.t < (sz.n // {seg}) * {seg}
              GROUP BY s.user_id, s.t // (sz.n // {seg})
            )
            SELECT a.user_id AS id1, b.user_id AS id2,
                   round(sqrt(sum((a.m - b.m) * (a.m - b.m)) * max(a.n) / {float(seg)}), 6)
                     AS paa_dist
            FROM paa a JOIN paa b ON a.seg = b.seg AND a.user_id < b.user_id
                 {p('a.user_id')}
            GROUP BY a.user_id, b.user_id
        """,
        "dedup_exact": """
            SELECT md5(lower(trim(text))) AS h,
                   min(doc_id) AS keep_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH words AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
            tok0 AS (
              SELECT DISTINCT doc_id, t.tok
              FROM words, unnest(list_transform(
                     range(1, greatest(len(tk) - 1, 2)),
                     i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS t(tok)
            ),
            -- df_cap = 256, matching the engine's hot-shingle cut
            tok AS (
              SELECT * FROM tok0 WHERE tok NOT IN (
                SELECT tok FROM tok0 GROUP BY tok HAVING count(*) > 256)
            ),
            sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id1, id2, inter, s1.n_tok AS n1, s2.n_tok AS n2,
                   round(inter * 1.0 / (s1.n_tok + s2.n_tok - inter), 6) AS jaccard
            FROM common
            JOIN sizes s1 ON s1.doc_id = id1
            JOIN sizes s2 ON s2.doc_id = id2
            WHERE inter * 1.0 / (s1.n_tok + s2.n_tok - inter) >= 0.5
        """,
        "dedup_embedding_cosine": f"""
            WITH e AS (
              SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings
            ),
            norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
            dots AS (
              SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.v * b.v) AS dot
              FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
                   {p('a.vec_id')}
              GROUP BY 1, 2
            ),
            cos AS (
              SELECT id1, id2,
                     dot / (CASE WHEN na.nrm * nb.nrm = 0 THEN 1.0
                                 ELSE na.nrm * nb.nrm END) AS cosine
              FROM dots
              JOIN norms na ON na.vec_id = id1
              JOIN norms nb ON nb.vec_id = id2
            )
            SELECT id1, id2, round(cosine, 6) AS cosine
            FROM cos WHERE cosine >= 0.35
        """,
        "dedup_canonical": f"""
            WITH RECURSIVE words AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
            tok AS MATERIALIZED (
              SELECT DISTINCT doc_id, t.tok
              FROM words, unnest(list_transform(
                     range(1, greatest(len(tk) - 1, 2)),
                     i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS t(tok)
            ),
            sizes AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            jac AS MATERIALIZED (
              SELECT id1, id2 FROM common
              JOIN sizes s1 ON s1.doc_id = id1
              JOIN sizes s2 ON s2.doc_id = id2
              WHERE inter * 1.0 / (s1.n_tok + s2.n_tok - inter) >= 0.5
            ),
            -- MATERIALIZED is load-bearing on edges/medges: both are
            -- referenced inside recursive steps, and DuckDB re-inlines
            -- plain CTEs there — the whole shingle->jaccard pipeline
            -- would re-run EVERY recursion iteration (measured: 303 s
            -- at sf1 before, seconds after)
            edges AS MATERIALIZED (
              SELECT id1, id2 FROM jac UNION SELECT id2, id1 FROM jac),
            {'''
            -- sampled board (r14): close only components touching a
            -- sampled doc.  mark = nodes reachable from sampled nodes
            -- (= whole components, edges are symmetrized), then the
            -- label closure runs on the marked subgraph only — exact
            -- on those components by closure, and linear in their
            -- size instead of the full duplicate graph
            mark(doc_id) AS (
              SELECT id1 FROM edges WHERE id1 % ''' + str(sm) + ''' = 0
              UNION
              SELECT e.id1 FROM edges e JOIN mark ON mark.doc_id = e.id2
            ),
            medges AS MATERIALIZED (
              SELECT e.id1, e.id2 FROM edges e
              JOIN mark m ON m.doc_id = e.id1
            ),
            reach(doc_id, r) AS (
              SELECT id1, id1 FROM medges
              UNION
              SELECT e.id1, reach.r
              FROM medges e JOIN reach ON reach.doc_id = e.id2
            )''' if sm else '''
            reach(doc_id, r) AS (
              SELECT id1, id1 FROM edges
              UNION
              SELECT e.id1, reach.r
              FROM edges e JOIN reach ON reach.doc_id = e.id2
            )'''}
            SELECT doc_id, min(r) AS keep_doc_id FROM reach GROUP BY doc_id
        """,
        "dedup_minhash": f"""
            WITH tok AS (
              SELECT DISTINCT doc_id, t.tok
              FROM documents, unnest({_TOKS}) AS t(tok)
            ),
            tid AS (
              SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS tid FROM tok
            ),
            coef(h_idx, a, b) AS (VALUES {_minhash_coef_values()})
            SELECT doc_id, h_idx,
                   min((a * tid + b) % 2147483647) AS minhash
            FROM tid, coef
            GROUP BY doc_id, h_idx
        """,
        "dedup_simhash": f"""
            WITH tok AS (
              SELECT DISTINCT doc_id, t.tok
              FROM documents, unnest({_TOKS}) AS t(tok)
            ),
            tid AS (
              SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS tid FROM tok
            ),
            bits AS (
              SELECT doc_id, b.i AS bit,
                     sum(CASE WHEN (tid >> b.i::INT) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM tid, range(32) b(i)
              GROUP BY doc_id, b.i
            )
            SELECT doc_id,
                   sum(CASE WHEN s > 0 THEN (1::BIGINT << bit::INT) ELSE 0 END)::BIGINT
                     AS simhash
            FROM bits GROUP BY doc_id
        """,
        "text_quality": f"""
            WITH hits AS (
              SELECT doc_id,
                     len(list_filter({_TOKS}, t -> list_contains({_EN_STOP}, t))) AS h_en,
                     len(list_filter({_TOKS}, t -> list_contains({_DE_STOP}, t))) AS h_de,
                     len(list_filter({_TOKS}, t -> list_contains({_FR_STOP}, t))) AS h_fr,
                     len(list_filter({_TOKS}, t -> list_contains({_ES_STOP}, t))) AS h_es
              FROM documents
            ),
            lang AS (
              SELECT doc_id,
                     CASE WHEN greatest(h_en, h_de, h_fr, h_es) <= 0 THEN 'unknown'
                          WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                          WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                          WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                          ELSE 'es' END AS pred_lang,
                     greatest(h_en, h_de, h_fr, h_es)::INT AS score
              FROM hits
            ),
            -- range() needs constant bounds in DuckDB; 4096 safely exceeds
            -- the documents.text max length at every sf
            grams AS (
              SELECT d.doc_id,
                     ('0x' || substr(md5(substr(d.text, i.i::INT + 1, 8)), 1, 15))::BIGINT AS g
              FROM documents d, range(4096) i(i)
              WHERE i.i <= greatest(length(d.text) - 8, 0)
            ),
            fp AS (SELECT doc_id, min(g) AS fingerprint FROM grams GROUP BY doc_id)
            SELECT d.doc_id,
                   length(text)::INT AS n_chars_q,
                   len({_TOKS})::INT AS n_words,
                   round(length(text) * 1.0 / greatest(len({_TOKS}), 1), 6) AS mean_word_len,
                   round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   round(length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0
                         / greatest(length(text), 1), 6) AS upper_ratio,
                   round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                         / greatest(length(text), 1), 6) AS digit_ratio,
                   round(len(list_filter({_TOKS}, t -> list_contains({_EN_STOP}, t))) * 1.0
                         / greatest(len({_TOKS}), 1), 6) AS stopword_ratio,
                   len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))::INT
                     AS n_ws_tokens,
                   list_aggregate(
                     list_transform({_TOKS}, w -> ceil(length(w) / 4.0)::BIGINT),
                     'sum')::BIGINT AS n_subwords,
                   lang.pred_lang, lang.score, fp.fingerprint
            FROM documents d
            JOIN lang ON lang.doc_id = d.doc_id
            JOIN fp ON fp.doc_id = d.doc_id
        """,
        "dedup_minhash_verified": f"""
            WITH words AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
            tok AS (
              SELECT DISTINCT doc_id, t.tok
              FROM words, unnest(list_transform(
                     range(1, greatest(len(tk) - 1, 2)),
                     i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS t(tok)
            ),
            tid AS (
              SELECT doc_id, tok,
                     ('0x' || substr(md5(tok), 1, 7))::BIGINT AS tid FROM tok
            ),
            coef(h_idx, a, b) AS (VALUES {_minhash_coef_values()}),
            sig AS (
              SELECT doc_id, h_idx,
                     min((a * tid + b) % 2147483647) AS mh
              FROM tid, coef GROUP BY doc_id, h_idx
            ),
            band AS (
              SELECT doc_id, (h_idx // 4)::INT AS band,
                     list(mh ORDER BY h_idx) AS bsig
              FROM sig GROUP BY doc_id, h_idx // 4
            ),
            cands AS (
              SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
              FROM band a JOIN band b
                ON a.band = b.band AND a.bsig = b.bsig
               AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
            inter AS (
              SELECT c.id1, c.id2, count(*) AS inter
              FROM cands c
              JOIN tok t1 ON t1.doc_id = c.id1
              JOIN tok t2 ON t2.doc_id = c.id2 AND t2.tok = t1.tok
              GROUP BY c.id1, c.id2
            )
            SELECT i.id1, i.id2, i.inter, s1.n AS n1, s2.n AS n2,
                   round(i.inter * 1.0 / (s1.n + s2.n - i.inter), 6) AS jaccard
            FROM inter i
            JOIN sizes s1 ON s1.doc_id = i.id1
            JOIN sizes s2 ON s2.doc_id = i.id2
            WHERE i.inter * 1.0 / (s1.n + s2.n - i.inter) >= 0.5
        """,
        "ts_sax_dist_pairs": f"""
            WITH s AS ({_EVENTS_LONG_SQL}),
            st AS (
              SELECT user_id, avg(value) AS mu,
                     CASE WHEN stddev_pop(value) = 0 OR stddev_pop(value) IS NULL
                          THEN 1.0 ELSE stddev_pop(value) END AS sd,
                     count(*) AS n
              FROM s GROUP BY user_id HAVING count(*) >= {seg}
            ),
            z AS (
              SELECT s.user_id, s.t, (s.value - st.mu) / st.sd AS z, st.n
              FROM s JOIN st ON s.user_id = st.user_id
              WHERE s.t < (st.n // {seg}) * {seg}
            ),
            paa AS (
              SELECT user_id, (t // (n // {seg}))::INT AS seg, avg(z) AS m,
                     max(n) AS n
              FROM z GROUP BY user_id, t // (n // {seg})
            ),
            sym AS (
              SELECT user_id, seg, n,
                     (CASE WHEN m >= {bp[0]!r} THEN 1 ELSE 0 END
                      + CASE WHEN m >= {bp[1]!r} THEN 1 ELSE 0 END
                      + CASE WHEN m >= {bp[2]!r} THEN 1 ELSE 0 END) AS symbol
              FROM paa
            )
            -- MINDIST via the precomputed gap^2 lookup (same literals as
            -- the Spark side; DuckDB lists are 1-based)
            SELECT a.user_id AS id1, b.user_id AS id2,
                   round(sqrt(sum(
                     {_gap2_duck()}[a.symbol + 1][b.symbol + 1]
                   ) * max(a.n) / {float(seg)}), 6) AS sax_dist
            FROM sym a JOIN sym b ON a.seg = b.seg AND a.user_id < b.user_id
                 {p('a.user_id')}
            GROUP BY a.user_id, b.user_id
        """,
        "knn_sax_classify": f"""
            WITH s AS ({_EVENTS_LONG_SQL}),
            st AS (
              SELECT user_id, avg(value) AS mu,
                     CASE WHEN stddev_pop(value) = 0 OR stddev_pop(value) IS NULL
                          THEN 1.0 ELSE stddev_pop(value) END AS sd,
                     count(*) AS n
              FROM s GROUP BY user_id HAVING count(*) >= {seg}
            ),
            z AS (
              SELECT s.user_id, s.t, (s.value - st.mu) / st.sd AS z, st.n
              FROM s JOIN st ON s.user_id = st.user_id
              WHERE s.t < (st.n // {seg}) * {seg}
            ),
            paa AS (
              SELECT user_id, (t // (n // {seg}))::INT AS seg, avg(z) AS m,
                     max(n) AS n
              FROM z GROUP BY user_id, t // (n // {seg})
            ),
            sym AS (
              SELECT user_id, seg, n,
                     (CASE WHEN m >= {bp[0]!r} THEN 1 ELSE 0 END
                      + CASE WHEN m >= {bp[1]!r} THEN 1 ELSE 0 END
                      + CASE WHEN m >= {bp[2]!r} THEN 1 ELSE 0 END) AS symbol
              FROM paa
            ),
            -- squared MINDIST ranks identically to the sqrt the engine
            -- compares (monotone), so the 1-NN choice is hash-stable
            d AS (
              SELECT q.user_id AS id1, c.user_id AS id2,
                     sum(CASE WHEN abs(q.symbol - c.symbol) > 1
                          THEN pow([{bp[0]!r}, {bp[1]!r}, {bp[2]!r}]
                                     [greatest(q.symbol, c.symbol)]
                                   - [{bp[0]!r}, {bp[1]!r}, {bp[2]!r}]
                                     [least(q.symbol, c.symbol) + 1], 2)
                          ELSE 0.0 END) * max(q.n) / {float(seg)} AS d2
              FROM sym q JOIN sym c
                ON q.seg = c.seg AND q.user_id % 2 = 1 AND c.user_id % 2 = 0
                   {p_odd('q.user_id')}
              GROUP BY q.user_id, c.user_id
            ),
            nn AS (
              SELECT id1, id2,
                     row_number() OVER (PARTITION BY id1 ORDER BY d2, id2) AS rn
              FROM d
            )
            SELECT id1 AS series_id, (id2 % 3)::INT AS prediction
            FROM nn WHERE rn = 1
        """,
        "ts_lb_keogh_pairs": f"""
            WITH s AS ({_EVENTS_LONG_SQL}),
            arr AS (SELECT user_id, list(value ORDER BY t) AS v, count(*) AS n
                    FROM s GROUP BY user_id HAVING count(*) >= 2),
            rs AS (
              SELECT user_id, i::INT AS t,
                     v[(floor(i * (n - 1) / 15.0))::INT + 1]
                       * (1.0 - (i * (n - 1) / 15.0 - floor(i * (n - 1) / 15.0)))
                     + v[(ceil(i * (n - 1) / 15.0))::INT + 1]
                       * (i * (n - 1) / 15.0 - floor(i * (n - 1) / 15.0)) AS rvalue
              FROM arr, range(16) r(i)
            ),
            env AS (
              SELECT user_id, t,
                     min(rvalue) OVER w AS lo, max(rvalue) OVER w AS hi
              FROM rs
              WINDOW w AS (PARTITION BY user_id ORDER BY t
                           ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
            )
            SELECT q.user_id AS id1, e.user_id AS id2,
                   round(sqrt(sum(
                     CASE WHEN q.rvalue > e.hi THEN (q.rvalue - e.hi) * (q.rvalue - e.hi)
                          WHEN q.rvalue < e.lo THEN (e.lo - q.rvalue) * (e.lo - q.rvalue)
                          ELSE 0.0 END)), 6) AS lb_keogh
            FROM rs q JOIN env e ON q.t = e.t AND q.user_id < e.user_id
                 {p('q.user_id')}
            GROUP BY q.user_id, e.user_id
        """,
        "events_running_zscore": _RUNNING_Z_SQL.format(
            base=_EVENTS_LONG_SQL, pred=pw("user_id")),
        "events_sessionize": f"""
            WITH flagged AS (
              SELECT user_id, ts, value,
                     CASE WHEN epoch(ts)
                              - epoch(lag(ts) OVER (PARTITION BY user_id
                                                    ORDER BY ts, event_id))
                              > 1800
                          OR lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_session
              FROM events
            ),
            numbered AS (
              SELECT user_id, ts, value,
                     -- ::BIGINT: DuckDB's sum(int) is INT128 and would hash
                     -- as a float; Spark's window sum is BIGINT
                     (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                             ROWS UNBOUNDED PRECEDING))::BIGINT
                       AS session_no
              FROM flagged
            )
            SELECT user_id, session_no, count(*) AS n_events,
                   round(sum(value), 4) AS session_value,
                   min(ts)::VARCHAR AS session_start
            FROM numbered {pw('user_id')}
            GROUP BY user_id, session_no
        """,
        "events_asof_orders": """
            WITH unioned AS (
              SELECT o_custkey AS k, o_orderdate AS t, o_orderkey, o_totalprice,
                     NULL AS event_id, CAST(NULL AS DOUBLE) AS value, 0 AS is_event
              FROM orders
              UNION ALL
              SELECT user_id AS k, ts AS t, NULL, NULL, event_id, value, 1
              FROM events
            ),
            carried AS (
              SELECT k, t, event_id, value, is_event,
                     last_value(o_orderkey IGNORE NULLS) OVER (PARTITION BY k
                         ORDER BY t, is_event, coalesce(event_id, -1),
                                  coalesce(o_orderkey, -1)
                         ROWS UNBOUNDED PRECEDING) AS last_orderkey,
                     last_value(o_totalprice IGNORE NULLS) OVER (PARTITION BY k
                         ORDER BY t, is_event, coalesce(event_id, -1),
                                  coalesce(o_orderkey, -1)
                         ROWS UNBOUNDED PRECEDING) AS last_totalprice
              FROM unioned
            )
            SELECT event_id, k AS user_id, last_orderkey,
                   round(last_totalprice, 2) AS last_totalprice
            FROM carried WHERE is_event = 1
        """,
        "events_cumulative": f"""
            SELECT user_id, event_id,
                   round(sum(value) OVER w, 4) AS cum_sum,
                   -- see events_hourly_stats: divide the rounded sum so both
                   -- engines round identical IEEE quotients
                   floor(round(sum(value) OVER w, 4) / (count(*) OVER w) * 1e6 + 0.5)
                     / 1e6 AS cum_avg,
                   round(min(value) OVER w, 6) AS cum_min,
                   round(max(value) OVER w, 6) AS cum_max
            FROM events {pw('user_id')}
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)
        """,
        "revenue_grouping_sets": f"""
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   {_rev_exact(oracle=True)} AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        "silhouette_euclidean_16": f"""
            WITH s AS (
                SELECT user_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1 AS t,
                       value
                FROM events
            ),
            arr AS (SELECT user_id, list(value ORDER BY t) AS v, count(*) AS n
                    FROM s GROUP BY user_id HAVING count(*) >= 2),
            rs AS (
              SELECT user_id, (user_id % 3)::INT AS cluster, i::INT AS t,
                     v[(floor(i * (n - 1) / 15.0))::INT + 1]
                       * (1.0 - (i * (n - 1) / 15.0 - floor(i * (n - 1) / 15.0)))
                     + v[(ceil(i * (n - 1) / 15.0))::INT + 1]
                       * (i * (n - 1) / 15.0 - floor(i * (n - 1) / 15.0)) AS rvalue
              FROM arr, range(16) r(i)
            ),
            dists AS (
              SELECT a.user_id AS id1, a.cluster AS c1, b.user_id AS id2,
                     b.cluster AS c2,
                     sqrt(sum((a.rvalue - b.rvalue) * (a.rvalue - b.rvalue))) AS dist
              FROM rs a JOIN rs b ON a.t = b.t AND a.user_id != b.user_id
                   {p('a.user_id')}
              GROUP BY a.user_id, a.cluster, b.user_id, b.cluster
            ),
            per AS (
              SELECT id1, c1, c2, avg(dist) AS mean_d
              FROM dists GROUP BY id1, c1, c2
            ),
            a_ AS (SELECT id1, mean_d AS a FROM per WHERE c1 = c2),
            b_ AS (SELECT id1, min(mean_d) AS b FROM per WHERE c1 != c2 GROUP BY id1)
            SELECT a_.id1 AS user_id,
                   round(a_.a, 6) AS a,
                   round(b_.b, 6) AS b,
                   round((b_.b - a_.a) / greatest(a_.a, b_.b), 6) AS s
            FROM a_ JOIN b_ ON a_.id1 = b_.id1
        """,
        "knn_euclidean_16": f"""
            WITH s AS (
                SELECT user_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) - 1 AS t,
                       value
                FROM events
            ),
            arr AS (SELECT user_id, list(value ORDER BY t) AS v, count(*) AS n
                    FROM s GROUP BY user_id HAVING count(*) >= 2),
            rs AS (
              SELECT user_id, i::INT AS t,
                     v[(floor(i * (n - 1) / 15.0))::INT + 1]
                       * (1.0 - (i * (n - 1) / 15.0 - floor(i * (n - 1) / 15.0)))
                     + v[(ceil(i * (n - 1) / 15.0))::INT + 1]
                       * (i * (n - 1) / 15.0 - floor(i * (n - 1) / 15.0)) AS rvalue
              FROM arr, range(16) r(i)
            ),
            dists AS (
              SELECT a.user_id AS user_id, b.user_id AS neighbor_id,
                     sqrt(sum((a.rvalue - b.rvalue) * (a.rvalue - b.rvalue))) AS dist
              FROM rs a JOIN rs b ON a.t = b.t AND a.user_id != b.user_id
                   {p('a.user_id')}
              GROUP BY a.user_id, b.user_id
            ),
            rk AS (
              SELECT user_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM dists
            )
            SELECT user_id, neighbor_id, round(dist, 6) AS dist
            FROM rk WHERE rnk = 1
        """,
        "matrix_profile_events": f"""
            -- m=8, scale=False, exclusion |i-j| <= ceil(m/4) = 2.
            -- d2 uses the SAME dot-product identity as the engine
            -- (sq_i + sq_j - 2*dot): the ~1e-10 gap between the identity
            -- and direct differences would otherwise flip round-6 digits.
            -- range(128) covers the longest events series at every sf.
            WITH s AS ({_EVENTS_LONG_SQL}),
            arr AS (SELECT user_id, list(value ORDER BY t) AS v, count(*) AS n
                    FROM s {pw('user_id')}
                    GROUP BY user_id HAVING count(*) >= 16),
            sqs AS (
              SELECT user_id, i.i AS w,
                     sum(v[(i.i + k.k)::INT + 1] * v[(i.i + k.k)::INT + 1]) AS sq
              FROM arr, range(128) i(i), range(8) k(k)
              WHERE i.i <= n - 8
              GROUP BY user_id, i.i
            ),
            dots AS (
              SELECT a.user_id, i.i AS i, j.j AS j,
                     sum(a.v[(i.i + k.k)::INT + 1] * a.v[(j.j + k.k)::INT + 1]) AS dot
              FROM arr a, range(128) i(i), range(128) j(j), range(8) k(k)
              WHERE i.i <= a.n - 8 AND j.j <= a.n - 8 AND abs(i.i - j.j) > 2
              GROUP BY a.user_id, i.i, j.j
            ),
            d2 AS (
              SELECT d.user_id, d.i, d.j,
                     greatest(si.sq + sj.sq - 2.0 * d.dot, 0.0) AS d2
              FROM dots d
              JOIN sqs si ON si.user_id = d.user_id AND si.w = d.i
              JOIN sqs sj ON sj.user_id = d.user_id AND sj.w = d.j
            )
            SELECT user_id, i::INT AS t, round(sqrt(min(d2)), 6) AS mp
            FROM d2 GROUP BY user_id, i
        """,
        "cdist_dtw_tiny": """
            -- Exact DTW DP as a recursive CTE: one cell per iteration in
            -- row-major order; state = (prev = row i-1 complete, cur =
            -- row i prefix of length j).  Costs are squared diffs of
            -- floor()-int values, so every cell is an exact integer and
            -- the final sqrt is correctly rounded on both engines.
            -- Mirror + zero diagonal replay cdist's self-case emission.
            WITH RECURSIVE
            tiny AS (
                SELECT user_id, floor(value) AS v,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events WHERE user_id < 12
            ),
            ser AS (
                SELECT user_id AS sid, list(v ORDER BY rn) AS vals, count(*) AS n
                FROM tiny WHERE rn <= 5 + user_id % 4 GROUP BY user_id
            ),
            pairs AS (
                SELECT a.sid AS id1, b.sid AS id2, a.vals AS v1, b.vals AS v2,
                       a.n AS n1, b.n AS n2
                FROM ser a JOIN ser b ON a.sid < b.sid
            ),
            dp AS (
                SELECT id1, id2, n1, n2, v1, v2, 1 AS i, 1 AS j,
                       CAST([] AS DOUBLE[]) AS prev,
                       [(v1[1] - v2[1]) * (v1[1] - v2[1])] AS cur
                FROM pairs
                UNION ALL
                SELECT id1, id2, n1, n2, v1, v2,
                       CASE WHEN j < n2 THEN i ELSE i + 1 END,
                       CASE WHEN j < n2 THEN j + 1 ELSE 1 END,
                       CASE WHEN j < n2 THEN prev ELSE cur END,
                       CASE WHEN j < n2
                            THEN list_append(cur,
                                 (v1[i] - v2[j + 1]) * (v1[i] - v2[j + 1])
                                 + CASE WHEN i > 1
                                        THEN least(prev[j + 1], prev[j], cur[j])
                                        ELSE cur[j] END)
                            ELSE [(v1[i + 1] - v2[1]) * (v1[i + 1] - v2[1]) + cur[1]]
                       END
                FROM dp
                WHERE NOT (i = n1 AND j = n2)
            ),
            res AS (
                SELECT id1, id2, round(sqrt(cur[n2]), 6) AS dtw
                FROM dp WHERE i = n1 AND j = n2
            ),
            -- LCSS DP, same row-major single-cell recursion: counts are
            -- exact integers; match = |v1[i]-v2[j]| <= 1.0 over ints
            lp AS (
                SELECT id1, id2, n1, n2, v1, v2, 1 AS i, 1 AS j,
                       CAST([] AS BIGINT[]) AS prev,
                       [CASE WHEN abs(v1[1] - v2[1]) <= 1.0
                             THEN 1::BIGINT ELSE 0::BIGINT END] AS cur
                FROM pairs
                UNION ALL
                SELECT id1, id2, n1, n2, v1, v2,
                       CASE WHEN j < n2 THEN i ELSE i + 1 END,
                       CASE WHEN j < n2 THEN j + 1 ELSE 1 END,
                       CASE WHEN j < n2 THEN prev ELSE cur END,
                       CASE WHEN j < n2
                            THEN list_append(cur,
                                 CASE WHEN abs(v1[i] - v2[j + 1]) <= 1.0
                                      THEN 1 + (CASE WHEN i > 1
                                                THEN prev[j] ELSE 0 END)
                                      ELSE greatest(
                                           CASE WHEN i > 1
                                                THEN prev[j + 1] ELSE 0 END,
                                           cur[j])
                                 END)
                            ELSE [CASE WHEN abs(v1[i + 1] - v2[1]) <= 1.0
                                       THEN 1::BIGINT ELSE cur[1] END]
                       END
                FROM lp
                WHERE NOT (i = n1 AND j = n2)
            ),
            lres AS (
                SELECT id1, id2,
                       round(CAST(cur[n2] AS DOUBLE) / least(n1, n2), 6) AS lcss
                FROM lp WHERE i = n1 AND j = n2
            ),
            -- banded DTW DP (sakoe_chiba radius 2): per-row band
            -- [lo(i), hi(i)] follows the diagonal when n1 != n2
            -- (dtw_variants.py:906-956); out-of-band cells carry +inf
            bp AS (
                SELECT id1, id2, n1, n2, v1, v2, 1 AS i, 1 AS j,
                       CAST([] AS DOUBLE[]) AS prev,
                       [(v1[1] - v2[1]) * (v1[1] - v2[1])] AS cur
                FROM pairs
                UNION ALL
                SELECT id1, id2, n1, n2, v1, v2,
                       CASE WHEN j < n2 THEN i ELSE i + 1 END,
                       CASE WHEN j < n2 THEN j + 1 ELSE 1 END,
                       CASE WHEN j < n2 THEN prev ELSE cur END,
                       CASE WHEN j < n2
                            THEN list_append(cur,
                                 CASE WHEN (j + 1) <
                                           (CASE WHEN n1 > n2
                                                 THEN greatest(1, i - (n1 - n2 + 2))
                                                 ELSE greatest(1, i - 2) END)
                                        OR (j + 1) >
                                           (CASE WHEN n1 > n2
                                                 THEN least(n2, i + 2)
                                                 ELSE least(n2, i + (n2 - n1 + 2)) END)
                                      THEN 'infinity'::DOUBLE
                                      ELSE (v1[i] - v2[j + 1]) * (v1[i] - v2[j + 1])
                                           + CASE WHEN i > 1
                                                  THEN least(prev[j + 1], prev[j], cur[j])
                                                  ELSE cur[j] END
                                 END)
                            ELSE [CASE WHEN 1 <
                                           (CASE WHEN n1 > n2
                                                 THEN greatest(1, (i + 1) - (n1 - n2 + 2))
                                                 ELSE greatest(1, (i + 1) - 2) END)
                                       THEN 'infinity'::DOUBLE
                                       ELSE (v1[i + 1] - v2[1]) * (v1[i + 1] - v2[1])
                                            + cur[1]
                                  END]
                       END
                FROM bp
                WHERE NOT (i = n1 AND j = n2)
            ),
            bres AS (
                SELECT id1, id2, round(sqrt(cur[n2]), 6) AS dtw_band
                FROM bp WHERE i = n1 AND j = n2
            ),
            full_band AS (
                SELECT id1, id2, dtw_band FROM bres
                UNION ALL SELECT id2 AS id1, id1 AS id2, dtw_band FROM bres
                UNION ALL SELECT sid AS id1, sid AS id2, 0.0 AS dtw_band FROM ser
            ),
            full_dtw AS (
                SELECT id1, id2, dtw FROM res
                UNION ALL SELECT id2 AS id1, id1 AS id2, dtw FROM res
                UNION ALL SELECT sid AS id1, sid AS id2, 0.0 AS dtw FROM ser
            ),
            full_lcss AS (
                SELECT id1, id2, lcss FROM lres
                UNION ALL SELECT id2 AS id1, id1 AS id2, lcss FROM lres
                UNION ALL SELECT sid AS id1, sid AS id2, 1.0 AS lcss FROM ser
            ),
            -- soft-DTW / GAK / SBD use the triangle INCLUDING self rows
            -- (soft-DTW self-score is negative, GAK normalization needs
            -- the self DP values) plus the full ordered grid for SBD,
            -- whose shift truncation makes it order-dependent
            pairs_le AS (
                SELECT a.sid AS id1, b.sid AS id2, a.vals AS v1, b.vals AS v2,
                       a.n AS n1, b.n AS n2
                FROM ser a JOIN ser b ON a.sid <= b.sid
            ),
            opairs AS (
                SELECT a.sid AS id1, b.sid AS id2, a.vals AS v1, b.vals AS v2,
                       a.n AS n1, b.n AS n2
                FROM ser a, ser b
            ),
            -- soft-DTW forward DP (gamma=1): border cells reduce to exact
            -- carries (softmin with two +inf args returns the finite arg
            -- bit-exactly); interior softmin replays numpy's association
            -- m - ln((e_up + e_left) + e_diag)
            sp AS (
                SELECT id1, id2, n1, n2, v1, v2, 1 AS i, 1 AS j,
                       CAST([] AS DOUBLE[]) AS prev,
                       [(v1[1] - v2[1]) * (v1[1] - v2[1])] AS cur
                FROM pairs_le
                UNION ALL
                SELECT id1, id2, n1, n2, v1, v2,
                       CASE WHEN j < n2 THEN i ELSE i + 1 END,
                       CASE WHEN j < n2 THEN j + 1 ELSE 1 END,
                       CASE WHEN j < n2 THEN prev ELSE cur END,
                       CASE WHEN j < n2
                            THEN list_append(cur,
                                 (v1[i] - v2[j + 1]) * (v1[i] - v2[j + 1])
                                 + CASE WHEN i > 1 THEN
                                     least(prev[j + 1], least(cur[j], prev[j]))
                                     - ln((exp(least(prev[j + 1], least(cur[j], prev[j])) - prev[j + 1])
                                          + exp(least(prev[j + 1], least(cur[j], prev[j])) - cur[j]))
                                          + exp(least(prev[j + 1], least(cur[j], prev[j])) - prev[j]))
                                   ELSE cur[j] END)
                            ELSE [(v1[i + 1] - v2[1]) * (v1[i + 1] - v2[1]) + cur[1]]
                       END
                FROM sp
                WHERE NOT (i = n1 AND j = n2)
            ),
            sres AS (
                SELECT id1, id2, round(cur[n2], 4) + 0.0 AS softdtw
                FROM sp WHERE i = n1 AND j = n2
            ),
            full_sdtw AS (
                SELECT id1, id2, softdtw FROM sres
                UNION ALL
                SELECT id2 AS id1, id1 AS id2, softdtw FROM sres WHERE id1 <> id2
            ),
            -- GAK sum-product DP: gram = k/(2-k), k = exp(-d2/(2*100^2));
            -- cells replay numpy's gram * ((up + left) + diag)
            gp AS (
                SELECT id1, id2, n1, n2, v1, v2, 1 AS i, 1 AS j,
                       CAST([] AS DOUBLE[]) AS prev,
                       [exp(-((v1[1] - v2[1]) * (v1[1] - v2[1])) / 20000.0)
                        / (2.0 - exp(-((v1[1] - v2[1]) * (v1[1] - v2[1])) / 20000.0))] AS cur
                FROM pairs_le
                UNION ALL
                SELECT id1, id2, n1, n2, v1, v2,
                       CASE WHEN j < n2 THEN i ELSE i + 1 END,
                       CASE WHEN j < n2 THEN j + 1 ELSE 1 END,
                       CASE WHEN j < n2 THEN prev ELSE cur END,
                       CASE WHEN j < n2
                            THEN list_append(cur,
                                 (exp(-((v1[i] - v2[j + 1]) * (v1[i] - v2[j + 1])) / 20000.0)
                                  / (2.0 - exp(-((v1[i] - v2[j + 1]) * (v1[i] - v2[j + 1])) / 20000.0)))
                                 * ((CASE WHEN i > 1 THEN prev[j + 1] ELSE 0.0 END + cur[j])
                                    + CASE WHEN i > 1 THEN prev[j] ELSE 0.0 END))
                            ELSE [(exp(-((v1[i + 1] - v2[1]) * (v1[i + 1] - v2[1])) / 20000.0)
                                   / (2.0 - exp(-((v1[i + 1] - v2[1]) * (v1[i + 1] - v2[1])) / 20000.0)))
                                  * cur[1]]
                       END
                FROM gp
                WHERE NOT (i = n1 AND j = n2)
            ),
            gres AS (
                SELECT id1, id2, cur[n2] AS unnorm
                FROM gp WHERE i = n1 AND j = n2
            ),
            gself AS (SELECT id1 AS sid, unnorm AS selfv FROM gres WHERE id1 = id2),
            gnorm AS (
                SELECT g.id1, g.id2,
                       round(g.unnorm / sqrt(s1.selfv * s2.selfv), 6) AS gak
                FROM gres g
                JOIN gself s1 ON s1.sid = g.id1
                JOIN gself s2 ON s2.sid = g.id2
            ),
            full_gak AS (
                SELECT id1, id2, gak FROM gnorm
                UNION ALL
                SELECT id2 AS id1, id1 AS id2, gak FROM gnorm WHERE id1 <> id2
            ),
            -- SBD: direct-sum NCC over shifts -(n1-1)..(n1-1) — exact
            -- integer shift sums; shifts with no overlap carry the FFT
            -- path's implicit 0
            shifts AS (
                SELECT id1, id2, n1, n2, v1, v2, s.s AS sh
                FROM opairs JOIN range(-7, 8) s(s) ON s.s > -n1 AND s.s < n1
            ),
            ccs AS (
                SELECT p.id1, p.id2, p.sh,
                       coalesce(sum(p.v1[i.i + 1] * p.v2[i.i - p.sh + 1]), 0.0) AS cc
                FROM shifts p LEFT JOIN range(8) i(i)
                  ON i.i < p.n1 AND i.i - p.sh >= 0 AND i.i - p.sh < p.n2
                GROUP BY p.id1, p.id2, p.sh
            ),
            nrms AS (
                SELECT sid, sqrt(list_sum(list_transform(vals, x -> x * x))) AS nrm
                FROM ser
            ),
            sbds AS (
                SELECT c.id1, c.id2,
                       round(greatest(0.0, 1.0 - max(c.cc / (m1.nrm * m2.nrm))), 6) AS sbd
                FROM ccs c
                JOIN nrms m1 ON m1.sid = c.id1
                JOIN nrms m2 ON m2.sid = c.id2
                GROUP BY c.id1, c.id2
            ),
            -- subsequence DTW (dtw_variants.py:746-780,846-903): free
            -- START — row 1 carries the local cost alone (no left
            -- accumulation) — and free END — min over the complete last
            -- row.  Ordered pairs (asymmetric metric); integer cells
            -- stay exact like the full-DTW CTE above.
            up AS (
                SELECT id1, id2, n1, n2, v1, v2, 1 AS i, 1 AS j,
                       CAST([] AS DOUBLE[]) AS prev,
                       [(v1[1] - v2[1]) * (v1[1] - v2[1])] AS cur
                FROM opairs
                UNION ALL
                SELECT id1, id2, n1, n2, v1, v2,
                       CASE WHEN j < n2 THEN i ELSE i + 1 END,
                       CASE WHEN j < n2 THEN j + 1 ELSE 1 END,
                       CASE WHEN j < n2 THEN prev ELSE cur END,
                       CASE WHEN j < n2
                            THEN list_append(cur,
                                 (v1[i] - v2[j + 1]) * (v1[i] - v2[j + 1])
                                 + CASE WHEN i > 1
                                        THEN least(prev[j + 1], prev[j], cur[j])
                                        ELSE 0.0 END)
                            ELSE [(v1[i + 1] - v2[1]) * (v1[i + 1] - v2[1]) + cur[1]]
                       END
                FROM up
                WHERE NOT (i = n1 AND j = n2)
            ),
            ures AS (
                SELECT id1, id2,
                       round(sqrt(list_aggregate(cur, 'min')), 6) AS subseq
                FROM up WHERE i = n1 AND j = n2
            )
            SELECT d.id1, d.id2, d.dtw, l.lcss, b.dtw_band,
                   s.softdtw, g.gak, sb.sbd, u.subseq
            FROM full_dtw d
            JOIN full_lcss l ON d.id1 = l.id1 AND d.id2 = l.id2
            JOIN full_band b ON d.id1 = b.id1 AND d.id2 = b.id2
            JOIN full_sdtw s ON s.id1 = d.id1 AND s.id2 = d.id2
            JOIN full_gak g ON g.id1 = d.id1 AND g.id2 = d.id2
            JOIN sbds sb ON sb.id1 = d.id1 AND sb.id2 = d.id2
            JOIN ures u ON u.id1 = d.id1 AND u.id2 = d.id2
        """,
        # kernel-kmeans assignment replay (kmeans.py:390-455): the GAK
        # Gram is the shared sum-product recursive-CTE DP (_tiny_gak_cte,
        # all self+cross pairs); the criterion 2 - 2*sum(w*K)/sum(w) is
        # one grouped aggregate over it, and the argmin replays the
        # engine's (dist asc, cluster asc) window tie order.
        "kernel_kmeans_assign_tiny": _tiny_gak_cte("a.sid <= b.sid") + """,
            gnorm AS (
                SELECT g.id1, g.id2,
                       g.unnorm / sqrt(s1.selfv * s2.selfv) AS gak
                FROM gres g
                JOIN gself s1 ON s1.sid = g.id1
                JOIN gself s2 ON s2.sid = g.id2
            ),
            gfull AS (
                SELECT id1, id2, gak FROM gnorm
                UNION ALL
                SELECT id2 AS id1, id1 AS id2, gak FROM gnorm WHERE id1 <> id2
            ),
            labels AS (SELECT sid, CAST(sid % 3 AS INTEGER) AS cluster FROM ser),
            scored AS (
                SELECT g.id1, l.cluster,
                       2.0 - 2.0 * sum(1.0 * g.gak) / sum(1.0) AS d2
                FROM gfull g JOIN labels l ON l.sid = g.id2
                GROUP BY g.id1, l.cluster
            ),
            picked AS (
                SELECT id1, cluster, d2,
                       row_number() OVER (PARTITION BY id1
                                          ORDER BY d2, cluster) AS rn
                FROM scored
            )
            SELECT id1 AS series_id, cluster, round(d2, 6) AS dist
            FROM picked WHERE rn = 1
        """,
        # GAK-SVC replay: the one-SV-per-class dual is EXACTLY (+1, -1)
        # with b = 0 (box clipping, see the query docstring), so the
        # returned decision is k(q, sv1) - k(q, sv0) over the shared
        # normalized sigma=100 GAK CTE (pair set: self pairs for
        # normalization + train-x-query cross pairs); vote:
        # k(q,sv0) - k(q,sv1) > 0 -> class '0', ties (d <= 0) to class
        # '1' like the engine's ovo vote.
        "svc_gak_classify": _tiny_gak_cte(
            "a.sid <= b.sid AND (a.sid < 2 OR a.sid = b.sid)") + """,
            kq AS (
                SELECT g.id1 AS t, g.id2 AS q,
                       g.unnorm / sqrt(s1.selfv * s2.selfv) AS k
                FROM gres g
                JOIN gself s1 ON s1.sid = g.id1
                JOIN gself s2 ON s2.sid = g.id2
                WHERE g.id1 < 2 AND g.id2 >= 2
            ),
            dec AS (
                SELECT q,
                       sum(CASE WHEN t = 0 THEN k END) AS k0,
                       sum(CASE WHEN t = 1 THEN k END) AS k1
                FROM kq GROUP BY q
            )
            SELECT q AS series_id,
                   CASE WHEN k0 - k1 > 0 THEN '0' ELSE '1' END AS prediction,
                   round(k1 - k0, 6) AS decision
            FROM dec
        """,
        "knn_dtw_classify": """
            -- 1-NN banded-DTW vote replay: scale-invariant user sample
            -- (~25 train + ~25 test via the shared modulus), lengths
            -- 12..16, radius-5 Sakoe-Chiba band following the diagonal
            -- on unequal lengths (same machinery as cdist_dtw_tiny's
            -- dtw_band at radius 2); integer values keep every DP cell
            -- exact, argmin replays the engine's (dist asc, id2 asc)
            WITH RECURSIVE
            params AS (
                SELECT greatest(2, CAST(round(count(DISTINCT user_id) / 25.0)
                                        AS BIGINT)) AS m
                FROM events
            ),
            ranked AS (
                SELECT e.user_id, floor(e.value) AS v,
                       row_number() OVER (PARTITION BY e.user_id
                                          ORDER BY e.ts, e.event_id) AS rn
                FROM events e, params p WHERE e.user_id % p.m < 2
            ),
            ser AS (
                SELECT r.user_id AS sid, list(r.v ORDER BY r.rn) AS vals,
                       count(*) AS n
                FROM ranked r
                WHERE r.rn <= 12 + r.user_id % 5
                GROUP BY r.user_id
            ),
            pairs AS (
                SELECT q.sid AS id1, t.sid AS id2, q.vals AS v1, t.vals AS v2,
                       q.n AS n1, t.n AS n2
                FROM ser q, ser t, params p
                WHERE q.sid % p.m = 1 AND t.sid % p.m = 0
            ),
            bp AS (
                SELECT id1, id2, n1, n2, v1, v2, 1 AS i, 1 AS j,
                       CAST([] AS DOUBLE[]) AS prev,
                       [(v1[1] - v2[1]) * (v1[1] - v2[1])] AS cur
                FROM pairs
                UNION ALL
                SELECT id1, id2, n1, n2, v1, v2,
                       CASE WHEN j < n2 THEN i ELSE i + 1 END,
                       CASE WHEN j < n2 THEN j + 1 ELSE 1 END,
                       CASE WHEN j < n2 THEN prev ELSE cur END,
                       CASE WHEN j < n2
                            THEN list_append(cur,
                                 CASE WHEN (j + 1) <
                                           (CASE WHEN n1 > n2
                                                 THEN greatest(1, i - (n1 - n2 + 5))
                                                 ELSE greatest(1, i - 5) END)
                                        OR (j + 1) >
                                           (CASE WHEN n1 > n2
                                                 THEN least(n2, i + 5)
                                                 ELSE least(n2, i + (n2 - n1 + 5)) END)
                                      THEN 'infinity'::DOUBLE
                                      ELSE (v1[i] - v2[j + 1]) * (v1[i] - v2[j + 1])
                                           + CASE WHEN i > 1
                                                  THEN least(prev[j + 1], prev[j], cur[j])
                                                  ELSE cur[j] END
                                 END)
                            ELSE [CASE WHEN 1 <
                                           (CASE WHEN n1 > n2
                                                 THEN greatest(1, (i + 1) - (n1 - n2 + 5))
                                                 ELSE greatest(1, (i + 1) - 5) END)
                                       THEN 'infinity'::DOUBLE
                                       ELSE (v1[i + 1] - v2[1]) * (v1[i + 1] - v2[1])
                                            + cur[1]
                                  END]
                       END
                FROM bp
                WHERE NOT (i = n1 AND j = n2)
            ),
            bres AS (
                SELECT id1, id2, sqrt(cur[n2]) AS dist
                FROM bp WHERE i = n1 AND j = n2
            ),
            nn AS (
                SELECT id1, id2,
                       row_number() OVER (PARTITION BY id1
                                          ORDER BY dist ASC, id2 ASC) AS rk
                FROM bres
            )
            SELECT id1 AS series_id, CAST(id2 % 3 AS VARCHAR) AS prediction
            FROM nn WHERE rk = 1
        """,
        "dba_barycenter_sample": _dba_oracle_sql(),
        "clustering_labels": _km_oracle_sql(),
        "shapelet_score_fixed": """
            -- deterministic-bank shapelet scoring: shapelet k = first 4
            -- values of tiny series k; min_dist = min over positions of
            -- mean squared diff (exact int sums, /4 = exact quarters);
            -- loc = first position achieving the min (numpy argmin)
            WITH tiny AS (
                SELECT user_id, floor(value) AS v,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events WHERE user_id < 12
            ),
            ser AS (
                SELECT user_id AS sid, list(v ORDER BY rn) AS vals, count(*) AS n
                FROM tiny WHERE rn <= 5 + user_id % 4 GROUP BY user_id
            ),
            shp AS (
                SELECT sid AS k, vals[1:4] AS sv FROM ser WHERE sid < 3
            ),
            pos AS (
                SELECT s.sid, p.k, s.vals, p.sv,
                       unnest(generate_series(1, s.n - 3)) AS t0
                FROM ser s CROSS JOIN shp p
            ),
            dd_t AS (
                SELECT sid, k, t0,
                       list_sum(list_transform(generate_series(1, 4), i ->
                           (vals[t0 + i - 1] - sv[i]) * (vals[t0 + i - 1] - sv[i])
                       )) / 4.0 AS dd
                FROM pos
            ),
            win AS (
                SELECT sid, k, t0, dd,
                       min(dd) OVER (PARTITION BY sid, k) AS md
                FROM dd_t
            )
            SELECT sid AS series_id,
                   CAST(k AS INT) AS shapelet_idx,
                   round(md, 6) AS min_dist,
                   CAST(min(t0) FILTER (WHERE dd = md) - 1 AS INT) AS loc
            FROM win
            GROUP BY sid, k, md
        """,
        "ann_lsh_topk": f"""
            WITH e AS (
              SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings
            ),
            planes(tbl, bit, i, w) AS (VALUES {_lsh_plane_values()}),
            dots AS (
              SELECT e.vec_id, p.tbl, p.bit, sum(e.v * p.w) AS dot
              FROM e JOIN planes p ON p.i = e.i
              GROUP BY e.vec_id, p.tbl, p.bit
            ),
            buckets AS (
              SELECT vec_id, tbl,
                     sum(CASE WHEN dot > 0 THEN (1::BIGINT << bit::INT)
                         ELSE 0 END)::BIGINT AS bucket
              FROM dots GROUP BY vec_id, tbl
            ),
            cands AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
              FROM buckets q JOIN buckets c
                ON q.tbl = c.tbl AND q.bucket = c.bucket
                   AND q.vec_id != c.vec_id {p('q.vec_id')}
            ),
            norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
            pair_dots AS (
              SELECT cd.query_id, cd.neighbor_id, sum(a.v * b.v) AS dot
              FROM cands cd
              JOIN e a ON a.vec_id = cd.query_id
              JOIN e b ON b.vec_id = cd.neighbor_id AND b.i = a.i
              GROUP BY cd.query_id, cd.neighbor_id
            ),
            cos AS (
              SELECT query_id, neighbor_id,
                     dot / (CASE WHEN na.nrm * nb.nrm = 0 THEN 1.0
                            ELSE na.nrm * nb.nrm END) AS cosine
              FROM pair_dots
              JOIN norms na ON na.vec_id = query_id
              JOIN norms nb ON nb.vec_id = neighbor_id
            ),
            rk AS (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM cos
            )
            SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank::INT AS rank
            FROM rk WHERE rank <= 5
        """,
        # IVF: centroids = 16 lowest-id vectors (deterministic quantizer,
        # replayed exactly); assignment = argmax centroid cosine (ties ->
        # lowest centroid id, matching np.argmax first-max); probes = top-4
        # lists per query; exact rerank within probed lists
        # Both ANN oracles use the engine's normalize-THEN-sum association
        # (x/||x|| per element first, cosine = sum of normalized products)
        # rather than dot/(||a||*||b||): the two associations agree
        # mathematically but can differ in final ulps, and ranking happens
        # BEFORE the displayed round(6) — on near-tie data the quotient
        # form could flip an argmax/rank the engine's BLAS path doesn't.
        # tests/test_pipeline.py (near-tie fixture) pins this agreement on
        # adversarial exact-tie data.
        "ann_ivf_topk": f"""
            WITH e AS (
              SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings
            ),
            norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
            en AS (
              SELECT e.vec_id, e.i,
                     e.v / (CASE WHEN n.nrm = 0 THEN 1.0 ELSE n.nrm END) AS v
              FROM e JOIN norms n ON n.vec_id = e.vec_id
            ),
            cent_ids AS (SELECT vec_id AS cid FROM embeddings ORDER BY vec_id LIMIT 16),
            ce AS (SELECT c.cid, en.i, en.v FROM cent_ids c JOIN en ON en.vec_id = c.cid),
            simc AS (
              SELECT en.vec_id, ce.cid, sum(en.v * ce.v) AS cos
              FROM en JOIN ce ON ce.i = en.i
              GROUP BY en.vec_id, ce.cid
            ),
            ranked AS (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY cos DESC, cid ASC) AS rn
              FROM simc
            ),
            assign AS (SELECT vec_id, cid AS list_id FROM ranked WHERE rn = 1),
            probes AS (SELECT vec_id AS query_id, cid AS list_id
                       FROM ranked WHERE rn <= 4 {p('vec_id')}),
            cand AS (
              SELECT p.query_id, a.vec_id AS neighbor_id
              FROM probes p JOIN assign a ON a.list_id = p.list_id
              WHERE a.vec_id != p.query_id
            ),
            cos AS (
              SELECT c.query_id, c.neighbor_id, sum(a.v * b.v) AS cosine
              FROM cand c
              JOIN en a ON a.vec_id = c.query_id
              JOIN en b ON b.vec_id = c.neighbor_id AND b.i = a.i
              GROUP BY c.query_id, c.neighbor_id
            ),
            rk AS (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM cos
            )
            SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank::INT AS rank
            FROM rk WHERE rank <= 5
        """,
        "ann_cosine_topk": f"""
            WITH e AS (
              SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings
            ),
            norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
            en AS (
              SELECT e.vec_id, e.i,
                     e.v / (CASE WHEN n.nrm = 0 THEN 1.0 ELSE n.nrm END) AS v
              FROM e JOIN norms n ON n.vec_id = e.vec_id
            ),
            cos AS (
              SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                     sum(a.v * b.v) AS cosine
              FROM en a JOIN en b ON a.i = b.i AND a.vec_id != b.vec_id
                   {p('a.vec_id')}
              GROUP BY a.vec_id, b.vec_id
            ),
            rk AS (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM cos
            )
            SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank::INT AS rank
            FROM rk WHERE rank <= 5
        """,
    }
