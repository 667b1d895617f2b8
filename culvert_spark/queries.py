"""Relational operator library (SURVEY.md §2 Tier B).

Every query here is a pure function ``(spark, sf_dir) -> DataFrame`` plus a
matching DuckDB oracle SQL string, registered in ``QUERIES`` / ``ORACLE``.
The reference engine (prasanthj/culvert) implements none of these — it is an
ingest benchmark (SURVEY.md §0) — so this module IS the query surface the
engine exposes, expressed entirely with declarative DataFrame ops so Catalyst
gets pushdown / pruning / join selection / AQE for free.

Determinism & oracle-parity rules used throughout (important — the driver
hash-compares values):

- **Money/measure sums go through DECIMAL.** Per-row arithmetic stays in
  DOUBLE (bit-identical IEEE ops in both engines), the result is cast to
  DECIMAL(18,6) per row, summed exactly, and the final sum cast back to
  DOUBLE. This removes float summation-order nondeterminism entirely (Spark's
  own partition order varies run-to-run, so raw double sums are not even
  self-deterministic).
- **Averages** are exact-decimal sums divided by exact counts in double,
  rounded to 6 places, and only appear in small outputs.
- **Every top-k / limit is totally ordered** (explicit tiebreak column).
- **Aggregate / computed columns are aliased identically** in the DataFrame
  code and the SQL (driver compares by sorted column name).

Scale notes (100 TB design point): region/nation are fixed-cardinality (5/25
rows) and explicitly broadcast; all other joins are left to AQE (which will
pick broadcast at low SF and sort-merge with skew-splitting at high SF).
Filters are expressed directly on scan columns so they push into the parquet
reader; no query collects to the driver.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    """Register a query and (optionally) its DuckDB oracle SQL."""

    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


#: t()'s parquet-schema memo: absolute path -> inferred StructType.
#: Schema inference is the driver-side hot spot of every scan build
#: (measured ~120-165 ms per spark.read.parquet vs ~27 ms with a
#: declared schema — footer fetch + merge per call; round-13, guide §5
#: "the driver should do almost no data work"). The memo caches ONLY the
#: schema (a plain Python value, session-independent): every call still
#: builds a fresh DataFrame with a fresh file listing, so no data,
#: file-index, or plan state is ever reused across runs. Safe because a
#: given path's schema is write-once in every caller (immutable testdata
#: dirs; bench/test corpora go to fresh mkdtemp/tmp_path dirs).
_SCHEMA_MEMO: dict[str, T.StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the per-path schema memo."""
    s = _SCHEMA_MEMO.get(path)
    if s is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[path] = df.schema
        return df
    return spark.read.schema(s).parquet(path)


#: cexpr()'s parsed-expression memo: expression STRING -> unresolved
#: Column. The engine's hot constructors build large CONSTANT expression
#: strings (64-term signed sums / dot products, unrolled CASE chains);
#: F.expr pays the Catalyst SQL parser per call (~25 ms for a 64-term
#: string) and query construction runs inside the bench's timed region
#: (guide §5 — the driver should do almost no work). The memo caches the
#: UNRESOLVED expression tree, which is immutable and session-independent:
#: analysis binds it freshly into every plan that uses it, so no plan
#: instance, schema, or data is ever reused across runs — exactly one
#: parse per distinct string per JVM gateway. Keyed on the py4j gateway so
#: a restarted JVM (new gateway) can never see stale Java objects.
#: One exception to "binds freshly": an aliased string (``x AS y``) parses
#: to an Alias whose exprId is minted once, so every plan in the process
#: reuses that id. A join of two frames that both project the same
#: memoized alias therefore relies on the analyzer's DeduplicateRelations
#: to re-mint the conflicting side's ids.
_EXPR_MEMO: dict[str, Column] = {}
_EXPR_MEMO_GATEWAY: list = [None]


def cexpr(s: str) -> Column:
    """Memoized :func:`pyspark.sql.functions.expr` for constant strings."""
    from pyspark import SparkContext

    gw = getattr(SparkContext, "_gateway", None)
    if gw is not _EXPR_MEMO_GATEWAY[0]:
        _EXPR_MEMO.clear()
        _EXPR_MEMO_GATEWAY[0] = gw
    col = _EXPR_MEMO.get(s)
    if col is None:
        col = F.expr(s)
        _EXPR_MEMO[s] = col
    return col


#: Sessions whose one-time conf contract (UTC / hugeMethodLimit /
#: nanosAsLong, see t() docstring) has been applied. Weak references: a
#: stopped-and-collected session drops out, and a NEW session object —
#: even at a recycled id() — is configured afresh.
_SESSION_CONF_DONE = weakref.WeakSet()


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (lazy; Catalyst prunes/pushes into parquet).

    ``events.ts`` has shipped as TIMESTAMP(NANOS) parquet (which Spark 4
    rejects by default — read as long, ns→µs exact integer division, same
    truncation DuckDB applies) and as naive TIMESTAMP(MICROS) (which Spark 4
    reads as TIMESTAMP_NTZ). Both are normalized to plain TIMESTAMP here so
    every downstream query sees one type; with the session timezone pinned
    to UTC the NTZ→LTZ cast is value-preserving and matches DuckDB's naive
    timestamps regardless of host timezone (the driver calls these
    functions with its own SparkSession).

    The three session confs below (UTC timezone, hugeMethodLimit,
    nanosAsLong) are applied ONCE per SparkSession object and remembered
    in a WeakSet: each ``spark.conf`` access is a py4j round trip and t()
    runs inside the bench's timed region, several times per query
    (guide §5). The once-only semantics match the documented intent — a
    co-resident workload that changes a conf after the first culvert
    read keeps its choice."""
    if spark not in _SESSION_CONF_DONE:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        # Align Spark's whole-stage-codegen bailout with HotSpot's JIT
        # limit (-XX:-DontCompileHugeMethods kicks in at 8000 bytecodes):
        # Spark's default of 65535 lets 8K-64K-bytecode fused stages
        # compile but never JIT, leaving the hot loop in the JVM BYTECODE
        # interpreter — measured 19 s vs 5 s on s_near_dup_lsh_verified at
        # sf0.1, whose Generate→3-join→64-term-dot-residual probe stage
        # fuses past 8K. At 8000 such stages fall back to per-operator
        # compiled projections (each split into JIT-able submethods) —
        # faster than BOTH the fused giant (not JIT'd) and full expression
        # interpretation. DELIBERATE session mutation: the driver hands
        # these functions its own vanilla SparkSession, and this read
        # helper is the engine's only guaranteed entry point, so the
        # execution contract is applied here.
        if (
            spark.conf.get("spark.sql.codegen.hugeMethodLimit", "65535")
            == "65535"
        ):
            spark.conf.set("spark.sql.codegen.hugeMethodLimit", "8000")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _SESSION_CONF_DONE.add(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        df = _read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


#: spread()'s scan-partition probe memo, weak-keyed on the SparkSession
#: (round-14 memo-key hygiene): session -> {(sorted input files,
#: maxPartitionBytes): partition count}. A collected session's entries
#: vanish with it and a new session object — even at a recycled id() —
#: starts empty. The probe (df.rdd.getNumPartitions) costs ~100 ms of
#: DRIVER-side planning per call and the same tables are probed by many
#: queries per session (round-13 optimization, guide §5 "the driver
#: should do almost no data work"); scan split counts depend only on the
#: file set and the split size conf, never on projections/filters, so
#: the memo is exact for the scan-grain frames spread() is documented for.
_SPREAD_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def spread(df: DataFrame) -> DataFrame:
    """Raise parallelism for compute-dense stages (decimal aggregation,
    per-row hashing, dot products) when the upstream scan yields fewer
    partitions than cores — single-row-group parquet files are unsplittable,
    so a tiny file can pin a heavy pipeline to one task. No-op whenever the
    scan already splits (always true at real scale). Apply AFTER filters so
    predicate pushdown into the scan is preserved. Contract: call on
    SCAN-GRAIN frames (a scan plus projections/filters) — the memoized
    probe keys on the scan's file set; a mis-keyed hit could only add or
    skip a repartition (layout, never values — every consumer is
    partition-invariant by the oracle contract)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    files: tuple = ()
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # non-file-backed frame: fall through, no memo
        pass
    n = None
    per_session = None
    key = None
    if files:
        key = (
            files,
            df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes"),
        )
        per_session = _SPREAD_MEMO.get(df.sparkSession)
        if per_session is None:
            per_session = {}
            _SPREAD_MEMO[df.sparkSession] = per_session
        n = per_session.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if per_session is not None:
            per_session[key] = n
    if n < target:
        return df.repartition(target)
    return df


def dec(c: Column, scale: int = 6) -> Column:
    """Round a per-row double to an exact decimal so sums are exact."""
    return c.cast(T.DecimalType(18, scale))


def dsum(c: Column, alias: str, scale: int = 6) -> Column:
    """Exact decimal sum surfaced as double (deterministic at any
    parallelism, and bit-identical to the DuckDB oracle)."""
    return F.sum(dec(c, scale)).cast("double").alias(alias)


def davg(c: Column, alias: str, scale: int = 6) -> Column:
    """avg = exact decimal sum (as double) / exact count, rounded to 6."""
    return F.round(
        F.sum(dec(c, scale)).cast("double") / F.count(F.lit(1)), 6
    ).alias(alias)


# SQL fragments for the same patterns (DuckDB side).
def _sql_dsum(expr: str, alias: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


def _sql_davg(expr: str, alias: str, scale: int = 6) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT(*), 6) AS {alias}"
    )


# Integer-scaled twins: round each row to a fixed scale, sum as LONG, and
# divide once at the end.  Same determinism guarantee as the DECIMAL path
# (exact integer arithmetic commutes under any partitioning) at ~2x the
# throughput — DECIMAL sums run outside the primitive fast path of the
# hash aggregate, 64-bit longs inside it.  Range: a LONG holds 9.2e18, so
# cents (scale 2) sums are safe past $9e14 of turnover — orders of
# magnitude beyond a 100 TB TPC-H corpus; scale 6 (micros) is reserved
# for unit-interval columns (discounts) where the sum stays tiny.
def lsum(c: Column, alias: str, scale: int = 2) -> Column:
    m = 10**scale
    return (
        (F.sum(F.round(c * m).cast("long")) / float(m))
        .alias(alias)
    )


def lavg(c: Column, alias: str, scale: int = 2) -> Column:
    m = 10**scale
    return F.round(
        (F.sum(F.round(c * m).cast("long")) / float(m)) / F.count(F.lit(1)), 6
    ).alias(alias)


def _sql_lsum(expr: str, alias: str, scale: int = 2) -> str:
    m = 10**scale
    return (
        f"CAST(SUM(CAST(ROUND(({expr}) * {m}) AS BIGINT)) AS DOUBLE) / {m}"
        f" AS {alias}"
    )


def _sql_lavg(expr: str, alias: str, scale: int = 2) -> str:
    m = 10**scale
    return (
        f"ROUND(CAST(SUM(CAST(ROUND(({expr}) * {m}) AS BIGINT)) AS DOUBLE)"
        f" / {m} / COUNT(*), 6) AS {alias}"
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_lsum('l_quantity', 'sum_qty')},
           {_sql_lsum('l_extendedprice', 'sum_base_price')},
           {_sql_lsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {_sql_lsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {_sql_lavg('l_quantity', 'avg_qty')},
           {_sql_lavg('l_extendedprice', 'avg_price')},
           {_sql_lavg('l_discount', 'avg_disc', 6)},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation with map-side partial
    aggregation. Flagship query. Filter pushes to the parquet scan.

    Money aggregates use the integer-scaled (cents) sum path: exact and
    partitioning-invariant like the DECIMAL path, but the 64-bit longs
    stay inside the primitive fast path of the hash aggregate — measured
    ~2x faster on this scan-dominated query. Discounts average at micros
    (scale 6) since their domain is the unit interval.

    Deliberately NO spread(): the post-decode work is primitive long sums,
    so when the test file is one unsplittable row group the single-task
    partial aggregate (decode is serial either way) beats paying a
    full-row round-robin shuffle just to parallelize cheap adds —
    measured 0.76 s vs 1.08 s at sf0.1. At real scale the scan splits by
    itself and partial aggregation parallelizes with it; spread() stays
    reserved for hashing/regex/dot-product stages where per-row compute
    dominates the exchange."""
    # Aggregates built from the SAME engine-portable SQL strings the
    # DuckDB oracle uses (_sql_lsum/_sql_lavg): one py4j round trip per
    # aggregate instead of one per Column operator — construction runs
    # inside the bench's timed region (guide §5). Operator-identical to
    # the old Column DSL (verified by normalized plan diff + oracle).
    li = t(spark, sf_dir, "lineitem")
    price, disc = "l_extendedprice", "l_discount"
    return (
        li.filter("l_shipdate <= cast('2000-09-02' as timestamp)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_sql_lsum("l_quantity", "sum_qty")),
            F.expr(_sql_lsum(price, "sum_base_price")),
            F.expr(_sql_lsum(f"{price} * (1 - {disc})", "sum_disc_price")),
            F.expr(
                _sql_lsum(
                    f"{price} * (1 - {disc}) * (l_tax + 1)", "sum_charge"
                )
            ),
            F.expr(_sql_lavg("l_quantity", "avg_qty")),
            F.expr(_sql_lavg(price, "avg_price")),
            F.expr(_sql_lavg(disc, "avg_disc", 6)),
            F.expr("count(1) AS count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q06_revenue_forecast",
    f"""
    SELECT {_sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective conjunctive filter + global agg.
    All four predicates push down to the parquet scan."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        "l_shipdate >= cast('1997-01-01' as timestamp)"
        " AND l_shipdate < cast('1998-01-01' as timestamp)"
        " AND l_discount BETWEEN 0.03 AND 0.07"
        " AND l_quantity < 24"
    ).agg(
        F.expr(_sql_dsum("l_extendedprice * l_discount", "revenue")),
        F.expr("count(1) AS n_items"),
    )


@register(
    "q_order_status_dist",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def q_order_status_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key groupBy with count/sum/min/max (min/max are exact on raw
    doubles, no decimal needed)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_price"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@register(
    "q_distinct_users_per_type",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count-distinct per group (expands to a two-phase partial/final
    aggregate under AQE; no driver-side work)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


#: Fixed materialization point for the YSB oracle: the Spark query writes
#: the deterministic generated table here and the DuckDB oracle reads the
#: very same files, turning a generated-data workload into a hash-checked
#: one (VERDICT r1 item 5).
_YSB_CACHE = os.path.join(os.path.dirname(os.path.dirname(__file__)), ".cache", "ysb_events.parquet")


@register(
    "y_ysb_windowed_counts",
    f"""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', event_time),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           ad_type,
           COUNT(*) AS n
    FROM read_parquet('{_YSB_CACHE}/*.parquet')
    WHERE event_type = 'view'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def y_ysb_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's implied downstream workload (SURVEY §0.5, the Yahoo
    Streaming Benchmark shape credited at Stream.java:150): filter to view
    events → project → 10-minute tumbling windows per ad_type → count.
    Runs on the deterministic generated culvert table (100k rows, seed 42).
    The generated rows are materialized to ``_YSB_CACHE`` so the DuckDB
    oracle aggregates the exact same parquet bytes (``time_bucket`` ==
    Spark ``window``: both floor to epoch-aligned 10-minute boundaries)."""
    from culvert_spark.generator import generate

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    generate(spark, 100_000, seed=42).write.mode("overwrite").parquet(_YSB_CACHE)
    ev = spark.read.parquet(_YSB_CACHE)
    return (
        ev.filter(F.col("event_type") == "view")
        .select("ad_type", "event_time")
        .groupBy(F.window("event_time", "10 minutes").alias("w"), "ad_type")
        .agg(F.count(F.lit(1)).alias("n"))
        # String-typed window label: collect paths are lossy for raw
        # timestamps on non-UTC hosts (non-Arrow toPandas mislocalizes
        # DST-ambiguous local times), and a UTC-formatted string survives
        # any collect path bit-identically.
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "ad_type",
            "n",
        )
        .orderBy("window_start", "ad_type")
    )


#: DuckDB expression that regenerates one deterministic UUID-pool column
#: exactly as ``generator._uuid_shaped`` derives it (md5 of
#: ``uuid<seed>|<column>|<row % POOL_SIZE>`` reshaped per UUID_SEGMENTS) —
#: the oracle recomputes the VALUES independently instead of re-reading
#: Spark's output. The derivation constants (prefix format, pool size,
#: segment widths) are IMPORTED from the generator rather than restated,
#: so a generator format change breaks this oracle loudly at import time
#: instead of leaving a stale second literal copy (round-7 ADVICE).
def _uuid_oracle_expr(col: str, seed: int = 42) -> str:
    from culvert_spark.generator import (
        POOL_SIZE,
        UUID_SEGMENTS,
        uuid_pool_prefix,
    )

    h = f"md5('{uuid_pool_prefix(seed, col)}' || CAST(i % {POOL_SIZE} AS VARCHAR))"
    parts, off = [], 1
    for seg in UUID_SEGMENTS:
        parts.append(f"substr({h}, {off}, {seg})")
        off += seg
    return f"concat_ws('-', {', '.join(parts)}) AS {col}"


@register(
    "y_generator_uuid_parity",
    f"""
    SELECT i AS row_id,
           {_uuid_oracle_expr("user_id")},
           {_uuid_oracle_expr("page_id")},
           {_uuid_oracle_expr("ad_id")},
           ['banner','modal','sponsored-search','mail','mobile']
             [(i % 5) + 1] AS ad_type,
           ['view','click','purchase'][(i % 3) + 1] AS event_type
    FROM range(0, 5000) t(i)
    ORDER BY row_id
    """,
)
def y_generator_uuid_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator value-hash parity: DuckDB REGENERATES the three UUID-pool
    columns (md5-derived, per-column salt) and the two round-robin dict
    columns from first principles and must match Spark byte-for-byte.

    This is the driver-visible guard for the exact bug class round 6 found
    by eyeball: a seed-only salt CSE'd user_id/page_id/ad_id into one shared
    pool (byte-identical per row), invisible to y_ysb_windowed_counts
    because that workload never reads the UUID columns. Here the oracle
    derives each column's pool independently, so any cross-column coupling,
    pool-index drift, or reshaping change hash-mismatches immediately.
    Covers the deterministic-derivation columns only: the xxhash64-based
    types (ip_address, event_time) have no DuckDB twin function and are
    pinned by pytest distribution tests instead (SURVEY §5.1)."""
    from culvert_spark.generator import generate

    return (
        generate(spark, 5_000, seed=42, keep_row_id=True)
        .select(
            "row_id", "user_id", "page_id", "ad_id", "ad_type", "event_type"
        )
        .orderBy("row_id")
    )


@register(
    "q_approx_percentile",
    """
    SELECT o_orderstatus,
           quantile_disc(o_totalprice, 0.5) AS p50,
           quantile_disc(o_totalprice, 0.9) AS p90,
           quantile_disc(o_totalprice, 0.99) AS p99
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the 100 TB percentile
    path (exact percentile holds each group in memory; the sketch is
    bounded).  Emitted as three scalar double columns (an array column
    breaks order-insensitive canonicalization downstream).  Oracle: with
    accuracy >> group cardinality the sketch is exact and returns an actual
    data value, which is precisely DuckDB's quantile_disc (verified
    bit-identical at sf0.01/sf0.1).  At 100 TB drop accuracy to ~10k:
    bounded memory, rank error <= n/accuracy."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("approx_percentile(o_totalprice, 0.5, 100000)").alias("p50"),
            F.expr("approx_percentile(o_totalprice, 0.9, 100000)").alias("p90"),
            F.expr("approx_percentile(o_totalprice, 0.99, 100000)").alias("p99"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_approx_distinct",
    """
    SELECT COUNT(DISTINCT user_id)  AS exact_users,
           COUNT(DISTINCT event_id) AS exact_events,
           1 AS users_within_2pct,
           1 AS events_within_2pct,
           CAST(NULL AS BIGINT) AS users_est_if_deviant,
           CAST(NULL AS BIGINT) AS events_est_if_deviant
    FROM events
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the scale path for distinct
    counting at 100 TB (exact COUNT DISTINCT shuffles every distinct value;
    HLL++ ships a fixed 2^p-register sketch per partition).  Tolerance
    oracle: HLL++ estimates are engine-specific, so the hash-checked
    contract is (exact counts, estimate-within-2%-of-exact flags); the
    estimate itself is deterministic for fixed data, making the flag a
    stable pass/fail signal rather than a flaky one.  The
    *_est_if_deviant columns stay NULL while the bound holds and carry
    the offending estimate in any future mismatch diff (the repo-wide
    tolerance-oracle debuggability pattern)."""
    ev = t(spark, sf_dir, "events")
    agg = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_id").alias("exact_events"),
        F.approx_count_distinct("user_id", 0.01).alias("au"),
        F.approx_count_distinct("event_id", 0.01).alias("ae"),
    )
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) <= 0.02 * F.col(e)
    )
    return agg.select(
        "exact_users",
        "exact_events",
        within("au", "exact_users").cast("int").alias("users_within_2pct"),
        within("ae", "exact_events").cast("int").alias("events_within_2pct"),
        F.when(~within("au", "exact_users"), F.col("au"))
        .cast("bigint")
        .alias("users_est_if_deviant"),
        F.when(~within("ae", "exact_events"), F.col("ae"))
        .cast("bigint")
        .alias("events_est_if_deviant"),
    )


@register(
    "q_percentiles",
    """
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark percentile() ==
    DuckDB quantile_cont(), verified bit-identical: both sort and linearly
    interpolate at rank p*(n-1)). At 100 TB swap for approx_percentile —
    exact percentile holds the full group in memory per key."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
            F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_stats_corr",
    """
    WITH comp AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy) / (CAST(n AS DOUBLE) * (n - 1)), 6)
             AS covar_samp,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
    FROM comp
    ORDER BY l_returnflag
    """,
)
def q_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation & sample covariance of (quantity, price) per return flag,
    computed deterministically from exact-decimal component sums (built-in
    corr()/covar_samp() stream doubles in partition order and are not
    reproducible run-to-run — this formulation is, and is what you'd use at
    100 TB where a second pass is unaffordable)."""
    li = t(spark, sf_dir, "lineitem")
    qn, pr = F.col("l_quantity"), F.col("l_extendedprice")
    d38 = lambda c: c.cast(T.DecimalType(38, 6))
    comp = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d38(qn)).cast("double").alias("sx"),
        F.sum(d38(pr)).cast("double").alias("sy"),
        F.sum(d38(qn * qn)).cast("double").alias("sxx"),
        F.sum(d38(pr * pr)).cast("double").alias("syy"),
        F.sum(d38(qn * pr)).cast("double").alias("sxy"),
    )
    n = F.col("n")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n.cast("double") * (n - 1)
    )
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return comp.select(
        "l_returnflag",
        "n",
        F.round(cov, 6).alias("covar_samp"),
        F.round(corr, 6).alias("corr"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Rollup / cube / grouping sets
# ---------------------------------------------------------------------------


@register(
    "q_rollup_orders",
    f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           o_orderstatus,
           COUNT(*) AS n_orders,
           {_sql_dsum('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY ROLLUP (CAST(EXTRACT(year FROM o_orderdate) AS INT), o_orderstatus)
    ORDER BY o_year NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (year → status → grand total)."""
    o = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    return (
        o.rollup("o_year", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy(
            F.col("o_year").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


@register(
    "q_cube_lineitem",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           {_sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "q_grouping_sets_events",
    f"""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n,
           {_sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(date_trunc('day', ts) AS TIMESTAMP)), ())
    ORDER BY event_type NULLS FIRST, day NULLS FIRST
    """,
)
def q_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL over a temp view."""
    ev = t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT event_type, date_trunc('day', ts) AS day,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM _gs_events
        GROUP BY GROUPING SETS ((event_type), (date_trunc('day', ts)), ())
        ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST
        """
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q03_shipping_priority",
    f"""
    SELECT l_orderkey,
           {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered 3-way join → grouped agg → total-order top-k.
    Both join keys are equi-joins; AQE picks broadcast vs sort-merge by
    runtime size. The final limit-10 is a TakeOrdered, not a full sort."""
    cutoff = "cast('1998-03-15' as timestamp)"
    c = t(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    o = t(spark, sf_dir, "orders").filter(f"o_orderdate < {cutoff}")
    li = t(spark, sf_dir, "lineitem").filter(f"l_shipdate > {cutoff}")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.expr(
                _sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q05_regional_revenue",
    f"""
    SELECT n_name,
           {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q05_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. nation/region are fixed-cardinality
    (25/5 rows at ANY scale factor) and explicitly broadcast; the
    customer⋈orders⋈lineitem chain shuffles on its keys and AQE handles
    skew. Local-supplier condition c_nationkey = s_nationkey kept."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        "o_orderdate >= cast('1996-01-01' as timestamp)"
        " AND o_orderdate < cast('1997-01-01' as timestamp)"
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.expr(
                _sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "q07_nation_volume",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
           {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    GROUP BY sn.n_name, cn.n_name, CAST(EXTRACT(year FROM l_shipdate) AS INT)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.
    The two nation dims broadcast; disjunctive pair filter applied after."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    sn = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue. Join + agg + top-20."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q_semi_join_urgent",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
              AND o_totalprice > 300000)
    ORDER BY c_custkey
    """,
)
def q_semi_join_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with at least one big urgent order.
    Semi joins never duplicate the probe side — no distinct needed."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 300000)
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "q_anti_join_no_big_order",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    ORDER BY c_custkey
    """,
)
def q_anti_join_no_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers that never placed a 400k+ order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "q_outer_join_order_counts",
    f"""
    SELECT c_custkey,
           COUNT(o_orderkey) AS n_orders,
           {_sql_dsum('o_totalprice', 'total_spend')}
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)
def q_outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + agg: order count per customer incl. zero-order
    customers (COUNT over a nullable key counts non-nulls in both engines)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count(F.col("o_orderkey")).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_spend"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q_range_pred_join",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_fast_items,
           {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate <  o_orderdate + INTERVAL 60 DAY
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_range_pred_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join with an additional range predicate (band join): lineitems
    shipped within 60 days of their order. The equi key carries the shuffle;
    the range predicate is evaluated post-match (no cross product)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < o.o_orderdate + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        o.join(li, cond)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_fast_items"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_asof_prior_view",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_view_ts
      FROM events
    )
    SELECT event_id, user_id, ts, prior_view_ts
    FROM seq WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def q_asof_prior_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (latest view at-or-before each purchase, per user),
    implemented the scale-correct way: a single sort-based window carry
    instead of a join — O(n log n) with no pair explosion, equivalent to
    DuckDB's ASOF JOIN. This is the pattern that survives 100 TB; the naive
    join+row_number explodes on |views|x|purchases| per user."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.withColumn(
            "prior_view_ts",
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "prior_view_ts")
        .orderBy("event_id")
    )


@register(
    "q_cross_join_region_status",
    """
    SELECT r_name, s.o_orderstatus, COALESCE(a.n_orders, 0) AS n_orders
    FROM region
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    LEFT JOIN (
      SELECT r2.r_name AS rn, o_orderstatus AS st, COUNT(*) AS n_orders
      FROM orders, customer, nation, region r2
      WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        AND n_regionkey = r2.r_regionkey
      GROUP BY r2.r_name, o_orderstatus
    ) a ON a.rn = r_name AND a.st = s.o_orderstatus
    ORDER BY r_name, s.o_orderstatus
    """,
)
def q_cross_join_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join of two tiny domains to densify a sparse aggregate (every
    region x status combination, zero-filled). Cross join is safe here
    because both sides are provably tiny (5 regions x 3 statuses)."""
    r = t(spark, sf_dir, "region").select("r_name")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    statuses = o.select("o_orderstatus").distinct()
    counts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("rn"), F.col("o_orderstatus").alias("st"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        r.crossJoin(statuses)
        .join(
            counts,
            (F.col("rn") == F.col("r_name")) & (F.col("st") == F.col("o_orderstatus")),
            "left",
        )
        .select(
            "r_name",
            "o_orderstatus",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders"),
        )
        .orderBy("r_name", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "q_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
)
def q_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number (the scalable top-k: one shuffle on the
    partition key, no global sort)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "rn",
        )
        .orderBy("o_custkey", "rn")
    )


@register(
    "q_running_customer_total",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROW_NUMBER() OVER w AS order_seq,
           CAST(lag(o_totalprice) OVER w AS DOUBLE) AS prev_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_spend
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, order_seq
    """,
)
def q_running_customer_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals + lag + row_number over one totally-ordered window
    (single shuffle, sort within partition; decimal running sum is exact)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.row_number().over(w).alias("order_seq"),
            F.lag("o_totalprice").over(w).cast("double").alias("prev_price"),
            F.sum(dec(F.col("o_totalprice")))
            .over(w)
            .cast("double")
            .alias("running_spend"),
        )
        .orderBy("o_custkey", "order_seq")
    )


@register(
    "q_top_customer_per_nation",
    f"""
    WITH spend AS (
      SELECT c_custkey, c_name, n_name,
             {_sql_dsum('o_totalprice', 'total_spend')}
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name, n_name
    )
    SELECT n_name, c_custkey, c_name, total_spend
    FROM (SELECT *, RANK() OVER (PARTITION BY n_name
                                 ORDER BY total_spend DESC, c_custkey) AS rk
          FROM spend)
    WHERE rk = 1
    ORDER BY n_name
    """,
)
def q_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level: join+agg then rank-per-group. Shows agg feeding a window."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    o = t(spark, sf_dir, "orders")
    spend = (
        c.join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("o_totalprice"), "total_spend"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("total_spend").desc(), F.col("c_custkey")
    )
    return (
        spend.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") == 1)
        .select("n_name", "c_custkey", "c_name", "total_spend")
        .orderBy("n_name")
    )


@register(
    "q_latest_event_per_user",
    """
    SELECT user_id, event_id, ts, event_type
    FROM (SELECT user_id, event_id, ts, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'keep latest per key' dedup — row_number, not
    dropDuplicates, because dropDuplicates keeps an arbitrary row."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
        .orderBy("user_id")
    )


@register(
    "q_range_frame_window",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_90d,
           COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW
           ) AS n_orders_90d
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-based): trailing-90-day
    spend per customer. The frame bound is on epoch seconds, so ties in
    order-date are handled identically in both engines (RANGE includes all
    peers, unlike ROWS)."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-90 * 86400, 0)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.sum(dec(F.col("o_totalprice")))
            .over(w)
            .cast("double")
            .alias("spend_90d"),
            F.count(F.lit(1)).over(w).alias("n_orders_90d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "q_higher_order_array_funcs",
    """
    SELECT label,
           COUNT(*) AS n,
           ROUND(MIN(sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (a, b) -> a + b))), 6) AS min_norm,
           ROUND(MAX(sqrt(list_reduce(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 (a, b) -> a + b))), 6) AS max_norm,
           CAST(MAX(len(list_filter(embedding, x -> x > 0))) AS BIGINT)
             AS max_positive_dims
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
)
def q_higher_order_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform / aggregate / filter) over
    the embedding column: L2 norms via a left-fold — Spark's aggregate()
    and DuckDB's list_reduce fold in the same order, so the doubles are
    bit-identical before rounding."""
    e = t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double") * x.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    n_pos = F.size(F.filter(F.col("embedding"), lambda x: x > 0))
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(norm), 6).alias("min_norm"),
            F.round(F.max(norm), 6).alias("max_norm"),
            F.max(n_pos).cast("bigint").alias("max_positive_dims"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "q_set_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 250000
    ORDER BY c_custkey
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) of two key sets."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = o.filter(F.col("o_totalprice") > 250000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.intersect(b).orderBy("c_custkey")


@register(
    "q_set_except",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ORDER BY c_custkey
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return a.exceptAll(b.distinct()).distinct().orderBy("c_custkey")


@register(
    "q_union_active_parties",
    """
    SELECT k, kind FROM (
      SELECT DISTINCT c_custkey AS k, 'customer' AS kind
      FROM customer WHERE c_acctbal > 9000
      UNION
      SELECT DISTINCT s_suppkey AS k, 'supplier' AS kind
      FROM supplier WHERE s_acctbal > 9000
    )
    ORDER BY kind, k
    """,
)
def q_union_active_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) across two differently-shaped inputs, unified by
    projection (unionByName)."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    a = (
        c.filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("k"), F.lit("customer").alias("kind"))
        .distinct()
    )
    b = (
        s.filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_suppkey").alias("k"), F.lit("supplier").alias("kind"))
        .distinct()
    )
    return a.unionByName(b).distinct().orderBy("kind", "k")


@register(
    "q_set_ops_all",
    """
    SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 5000
    INTERSECT ALL
    SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ORDER BY k
    """,
)
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics — preserves duplicate counts,
    unlike the distinct set ops in q_set_intersect/q_set_except)."""
    c = t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_nationkey").alias("k")
    )
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("k")
    )
    return a.intersectAll(b).orderBy("k")


@register(
    "q_except_all",
    """
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ORDER BY k
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference)."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    )
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    return a.exceptAll(b).orderBy("k")


@register(
    "q_math_funcs",
    """
    SELECT l_linenumber,
           CAST(SUM(CAST(abs(l_extendedprice - 30000.0) AS DECIMAL(18,6))) AS DOUBLE) AS sum_abs_dev,
           CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_floor_qty,
           CAST(SUM(CAST(ceil(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_ceil_disc,
           ROUND(CAST(SUM(CAST(sqrt(l_quantity) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_sqrt_qty,
           CAST(SUM(CAST(mod(CAST(l_orderkey AS BIGINT), 97) AS BIGINT)) AS BIGINT) AS sum_mod,
           CAST(MAX(greatest(l_tax, l_discount)) AS DOUBLE) AS max_rate,
           CAST(MIN(least(l_tax, l_discount)) AS DOUBLE) AS min_rate,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_linenumber
    ORDER BY l_linenumber
    """,
)
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar functions (abs/floor/ceil/sqrt/mod/greatest/least) inside
    exact aggregation (decimal casts absorb any libm ulps before summing)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linenumber")
        .agg(
            dsum(F.abs(F.col("l_extendedprice") - 30000.0), "sum_abs_dev"),
            F.sum(F.floor(F.col("l_quantity")).cast("bigint"))
            .cast("bigint")
            .alias("sum_floor_qty"),
            F.sum(F.ceil(F.col("l_discount") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_ceil_disc"),
            F.round(
                F.sum(dec(F.sqrt(F.col("l_quantity")))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_sqrt_qty"),
            F.sum(
                F.pmod(F.col("l_orderkey").cast("bigint"), F.lit(97)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("sum_mod"),
            F.max(F.greatest(F.col("l_tax"), F.col("l_discount")))
            .cast("double")
            .alias("max_rate"),
            F.min(F.least(F.col("l_tax"), F.col("l_discount")))
            .cast("double")
            .alias("min_rate"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_linenumber")
    )


# ---------------------------------------------------------------------------
# Scalar functions: strings, dates, JSON
# ---------------------------------------------------------------------------


@register(
    "q_string_funcs_parts",
    """
    SELECT UPPER(p_type) AS type_u,
           CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT) AS brand_num,
           COUNT(*) AS n_parts,
           CAST(MIN(p_retailprice) AS DOUBLE) AS min_price,
           MIN(p_name) AS first_name
    FROM part
    WHERE p_size BETWEEN 5 AND 30 AND p_name LIKE '%o%'
    GROUP BY UPPER(p_type), CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INT)
    ORDER BY type_u, brand_num
    """,
)
def q_string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: upper, LIKE, regexp_extract; grouped over derived
    keys."""
    p = t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_size").between(5, 30) & F.col("p_name").like("%o%"))
        .withColumn("type_u", F.upper("p_type"))
        .withColumn(
            "brand_num",
            F.regexp_extract(F.col("p_brand"), r"([0-9]+)", 1).cast("int"),
        )
        .groupBy("type_u", "brand_num")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("p_retailprice").cast("double").alias("min_price"),
            F.min("p_name").alias("first_name"),
        )
        .orderBy("type_u", "brand_num")
    )


@register(
    "q_json_props",
    f"""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           {_sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY CAST(json_extract(props, '$.k') AS BIGINT) % 10
    ORDER BY k_bucket
    """,
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props column (get_json_object =
    DuckDB json_extract), bucketed aggregate."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "sum_value"))
        .orderBy("k_bucket")
    )


@register(
    "q_date_math_shipping",
    """
    SELECT o_orderstatus,
           CAST(MIN(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS min_lag_days,
           CAST(MAX(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS max_lag_days,
           ROUND(CAST(SUM(date_diff('day', o_orderdate, l_shipdate)) AS DOUBLE)
                 / COUNT(*), 6) AS avg_lag_days,
           COUNT(*) AS n
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_date_math_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic (datediff) aggregated — integer-exact everywhere."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    joined = o.join(li, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") >= F.col("o_orderdate")
    )
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.min(lag_days).cast("bigint").alias("min_lag_days"),
            F.max(lag_days).cast("bigint").alias("max_lag_days"),
            F.round(
                F.sum(lag_days).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_lag_days"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q_from_json_struct",
    f"""
    SELECT event_type,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit struct schema (the scale-correct JSON
    path: parse once into a typed column, not one get_json_object call per
    field), then map_* access and integer aggregation."""
    ev = t(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p", F.from_json(F.col("props"), "struct<k: bigint>")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.min(F.col("p.k")).cast("bigint").alias("min_k"),
            F.max(F.col("p.k")).cast("bigint").alias("max_k"),
            F.sum(F.col("p.k")).cast("bigint").alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "q_map_functions",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS k_mod,
           COUNT(*) AS n
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
    GROUP BY 1
    ORDER BY k_mod
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column functions: JSON → map<string,bigint> via from_json,
    then map_keys / element_at / map_filter. The oracle checks the final
    integer aggregate (DuckDB has no Spark map type; the map ops themselves
    are exercised Spark-side)."""
    ev = t(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string, bigint>")
    parsed = ev.select(
        m.alias("pm"),
    ).select(
        F.element_at(F.col("pm"), "k").alias("k"),
        F.size(F.map_keys(F.col("pm"))).alias("n_keys"),
    )
    return (
        parsed.filter(F.col("k").isNotNull() & (F.col("n_keys") >= 1))
        .withColumn("k_mod", F.col("k") % 5)
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("k_mod")
    )


# ---------------------------------------------------------------------------
# Time windows (batch shape of the streaming ops)
# ---------------------------------------------------------------------------


@register(
    "q_hourly_event_counts",
    f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n,
           {_sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def q_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate via F.window (same operator the
    streaming path uses; epoch-aligned so it equals date_trunc('hour'))."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value"), "sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "q_sliding_window_counts",
    """
    WITH slid AS (
      SELECT u.window_start, e.event_type
      FROM events e,
           UNNEST([CAST(date_trunc('hour', e.ts) AS TIMESTAMP),
                   CAST(date_trunc('hour', e.ts) - INTERVAL 1 HOUR AS TIMESTAMP)])
             AS u(window_start)
    )
    SELECT window_start, event_type, COUNT(*) AS n
    FROM slid
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (2h length, 1h slide): every event lands in exactly two
    epoch-aligned windows. Oracle expands the two candidate starts manually."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
    )


@register(
    "q_sessionize_events",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    marked AS (
      SELECT user_id, us,
             CASE WHEN prev_us IS NULL
                       OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM seq
    ),
    sess AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             MAX(us) - MIN(us) AS dur_us
      FROM sess GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(MAX(dur_us) AS BIGINT) AS max_session_us,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM per_session
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap). Timestamps compared
    in integer microseconds so both engines are exact. This is the batch
    twin of the streaming session_window operator.

    Giant-key guard (adaptive): sessions are built via
    :func:`culvert_spark.twolevel.sessionize_session_rows`, which probes
    the total row count (metadata-cheap — total rows exactly upper-bound
    any one user's rows) and, above that bound, the exact max rows per
    user (round 14 — the largest per-key unit a window task cannot
    split) and only engages the two-level plan — lag → gap
    flag → running sum inside (user_id, day) sub-partitions, then a
    day-boundary merge over per-user session runs (structurally ≤ 48
    runs/day at a 30-min gap) — when a single window task could actually
    be pinned. Small inputs keep the classic one-exchange plan, so the
    guard costs nothing at benchmark scale and sessions spanning midnight
    still merge exactly as the single-pass sessionizer would at 100 TB."""
    from culvert_spark.twolevel import sessionize_session_rows

    ev = t(spark, sf_dir, "events")
    per_session = sessionize_session_rows(ev).select(
        "user_id",
        "n_events",
        (F.col("max_us") - F.col("min_us")).alias("dur_us"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.max("dur_us").cast("bigint").alias("max_session_us"),
            F.max("n_events").cast("bigint").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


@register(
    "q_sessionize_auto",
    """
    WITH seq AS (
      SELECT user_id, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events
    ),
    sess AS (
      SELECT user_id,
             SUM(CASE WHEN prev_us IS NULL
                       OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us
                     ROWS UNBOUNDED PRECEDING) AS session_id
      FROM seq
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sess GROUP BY user_id, session_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
             CAST(SUM(n_events) AS BIGINT) AS n_events,
             CAST(MAX(n_events) AS BIGINT) AS max_session_events
      FROM per_session
    )
    SELECT c.case_name, c.decided_mode,
           t.n_sessions, t.n_events, t.max_session_events
    FROM (VALUES ('above_threshold', 'two_level'),
                 ('below_threshold', 'single'))
         c(case_name, decided_mode)
    CROSS JOIN tot t
    ORDER BY case_name
    """,
)
def q_sessionize_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adaptive sessionize guard's AUTO DECISION as a driver row
    (round-7 verdict item 6): run ``mode="auto"`` on BOTH sides of the
    row-count threshold — once with the production cutoff (test scale is
    below it, so auto must pick ``single``) and once with the cutoff
    forced to 0 (every non-empty input is "large", so auto must pick
    ``two_level``) — and report, per case, the decision actually taken
    plus the session-level invariants of the resulting rows. The oracle
    states the decisions as literals and computes the session stats once
    (both decided plans are exact, so their stats are identical); a
    regression in either the decision probe or either decided plan
    hash-mismatches.

    This pins the DECISION LOGIC in the record — q_sessionize_events
    pins the default path and the plan gates pin the forced two_level
    shape, but neither proves auto flips where it should. Scale: two
    metadata-cheap count() probes plus both sessionize plans at test
    scale; at 100 TB a user runs mode='auto' once — this row exists for
    the record, not as a pipeline."""
    from culvert_spark.twolevel import (
        SMALL_INPUT_ROWS,
        auto_mode,
        sessionize_session_rows,
    )

    ev = t(spark, sf_dir, "events")
    out = None
    for case_name, cutoff in (
        ("above_threshold", 0),
        ("below_threshold", SMALL_INPUT_ROWS),
    ):
        decided = auto_mode(ev, cutoff)
        # mode="auto" (not mode=decided) is deliberate: the row's claim
        # is that the INTEGRATED auto path executes the plan it
        # reports, so the sessionizer must make its own decision. Since
        # round 13 the repeat probes are memo hits (twolevel's probe
        # memos key on the scan file set), so the price is one count()
        # job plus — for the cutoff=0 case only, whose total always
        # exceeds the cutoff — one max-rows-per-user probe (round-14
        # skew-aware guard; any non-empty input has max ≥ 1 > 0, so the
        # decided modes are unchanged) per session, not four.
        stats = (
            sessionize_session_rows(ev, mode="auto", small_rows=cutoff)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                F.sum("n_events").cast("bigint").alias("n_events"),
                F.max("n_events").cast("bigint").alias("max_session_events"),
            )
            .select(
                F.lit(case_name).alias("case_name"),
                F.lit(decided).alias("decided_mode"),
                "n_sessions",
                "n_events",
                "max_session_events",
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out.orderBy("case_name")


# ---------------------------------------------------------------------------
# Pivot
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_pivot_user_event_values",
    f"""
    SELECT user_id,
           {', '.join(
        f"CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = '{et}') AS DOUBLE) AS {et}"
        for et in _EVENT_TYPES
    )}
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_pivot_user_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (explicit values avoid the extra
    distinct-scan pass — required practice at scale)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(dec(F.col("value"))).cast("double"))
        .orderBy("user_id")
    )


@register(
    "q_unpivot_rates",
    """
    SELECT l_orderkey, l_linenumber, rate_kind,
           CAST(rate AS DOUBLE) AS rate
    FROM (
      SELECT l_orderkey, l_linenumber, 'discount' AS rate_kind,
             l_discount AS rate
      FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax' AS rate_kind, l_tax AS rate
      FROM lineitem WHERE l_orderkey < 100)
    ORDER BY l_orderkey, l_linenumber, rate_kind
    """,
)
def q_unpivot_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT via stack(): wide (discount, tax) columns to long
    (rate_kind, rate) rows — the inverse of q_pivot_user_event_values.
    stack() is a generator expression: no shuffle, row fan-out inline in
    the scan stage."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.expr(
                "stack(2, 'discount', l_discount, 'tax', l_tax) "
                "AS (rate_kind, rate)"
            ),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "rate_kind",
            F.col("rate").cast("double").alias("rate"),
        )
        .orderBy("l_orderkey", "l_linenumber", "rate_kind")
    )


# ---------------------------------------------------------------------------
# Subquery shapes: correlated, scalar, EXISTS / NOT EXISTS, HAVING
# ---------------------------------------------------------------------------


@register(
    "q02_cheapest_part_per_type",
    """
    SELECT p.p_type, p.p_partkey, p.p_name,
           CAST(p.p_retailprice AS DOUBLE) AS p_retailprice
    FROM part p
    JOIN (SELECT p_type, MIN(p_retailprice) AS min_price
          FROM part GROUP BY p_type) m
      ON p.p_type = m.p_type AND p.p_retailprice = m.min_price
    ORDER BY p.p_type, p.p_partkey
    """,
)
def q02_cheapest_part_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min-per-group subquery, decorrelated the
    scale-correct way — aggregate once, join back on (group, min). The
    aggregate side is tiny (one row per p_type) and broadcasts."""
    p = t(spark, sf_dir, "part")
    m = p.groupBy(F.col("p_type").alias("mt")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        p.join(
            broadcast(m),
            (p.p_type == F.col("mt")) & (p.p_retailprice == F.col("min_price")),
        )
        .select(
            "p_type",
            "p_partkey",
            "p_name",
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
        .orderBy("p_type", "p_partkey")
    )


@register(
    "q04_priority_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q04_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join (never duplicates
    the probe side), then a tiny grouped count."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q08_market_share",
    f"""
    WITH all_nations AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           ROUND(
             CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                  THEN CAST(volume AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE), 6
           ) AS mkt_share,
           CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS total_volume
    FROM all_nations
    GROUP BY o_year ORDER BY o_year
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional revenue per year —
    conditional aggregation over a join chain with broadcast dims."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n1), c.c_nationkey == F.col("cn_key"))
        .join(broadcast(r), F.col("cr_key") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(broadcast(n2), s.s_nationkey == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", dec(vol))
                ).cast("double")
                / F.sum(dec(vol)).cast("double"),
                6,
            ).alias("mkt_share"),
            dsum(vol, "total_volume"),
        )
        .orderBy("o_year")
    )


@register(
    "q09_profit_by_nation_year",
    f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           {_sql_dsum('l_extendedprice * (1 - l_discount) - 0.9 * p_retailprice * l_quantity', 'profit')}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, CAST(EXTRACT(year FROM o_orderdate) AS INT)
    ORDER BY nation, o_year
    """,
)
def q09_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue - modeled cost) by supplier nation
    and year; the p_name filter prunes the part dim before the join."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.9 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(dsum(profit, "profit"))
        .orderBy("nation", "o_year")
    )


@register(
    "q11_supplier_concentration",
    f"""
    WITH per_supp AS (
      SELECT l_suppkey,
             {_sql_dsum('l_extendedprice * (1 - l_discount)', 'supp_rev')}
      FROM lineitem GROUP BY l_suppkey
    ),
    total AS (SELECT CAST(SUM(CAST(supp_rev AS DECIMAL(18,6))) AS DOUBLE)
                       AS total_rev,
                     COUNT(*) AS n_supp
              FROM per_supp)
    SELECT l_suppkey, supp_rev
    FROM per_supp, total
    WHERE supp_rev > 1.05 * total_rev / n_supp
    ORDER BY supp_rev DESC, l_suppkey
    """,
)
def q11_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups exceeding a fraction of a global scalar
    aggregate. The scalar (one row) cross-joins back as a broadcast —
    no second scan of the fact table."""
    li = t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(dsum(rev, "supp_rev"))
    total = per_supp.agg(
        F.sum(dec(F.col("supp_rev"))).cast("double").alias("total_rev"),
        F.count(F.lit(1)).alias("n_supp"),
    )
    # Threshold is relative to the MEAN supplier share so the query selects
    # rows at any scale factor (an absolute share cutoff returns nothing
    # once the supplier count grows).
    return (
        per_supp.crossJoin(broadcast(total))
        .filter(
            F.col("supp_rev") > 1.05 * F.col("total_rev") / F.col("n_supp")
        )
        .select("l_suppkey", "supp_rev")
        .orderBy(F.col("supp_rev").desc(), F.col("l_suppkey"))
    )


@register(
    "q12_priority_case_agg",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_case_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: CASE-conditional counts inside one aggregation
    (one pass, no per-branch scans)."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — per-customer order counts
    (left join keeps zero-order customers), then the histogram of counts."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q14_promo_share",
    """
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
             6) AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue percentage for one month (conditional
    share of an exact-decimal sum)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", dec(rev)).otherwise(
        dec(F.lit(0.0))
    )
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        F.round(
            100.0 * F.sum(promo).cast("double") / F.sum(dec(rev)).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {_sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: view + scalar-subquery max. The max (one row)
    broadcasts back onto the per-supplier aggregate."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .crossJoin(broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_variety",
    """
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO'
      AND p_size IN (5, 10, 15, 20, 25, 30)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier variety per (brand, size) with a NOT IN
    exclusion subquery → left-anti join, then count-distinct."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30)
    )
    bad = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 7 == 0)
        .select("s_suppkey")
    )
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), F.col("p_brand"), F.col("p_size"))
    )


@register(
    "q17_below_avg_quantity",
    """
    WITH pa AS (
      SELECT l_partkey AS pk, 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*)) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem JOIN pa ON l_partkey = pk
    WHERE l_quantity < half_avg_qty
    """,
)
def q17_below_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average, decorrelated into an
    aggregate + equi-join back on the part key (the only shape that scales:
    one shuffle on l_partkey, no re-scan per row)."""
    li = t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            0.5
            * (
                F.sum(dec(F.col("l_quantity"))).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("half_avg_qty")
    )
    return (
        li.join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (F.sum(dec(F.col("l_extendedprice"))).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@register(
    "q18_large_orders",
    f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           {_sql_dsum('l_quantity', 'total_qty')}
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 180)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery → left-semi join
    against the qualifying key set, then join + re-aggregate + top-k."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec(F.col("l_quantity"))).alias("q"))
        .filter(F.col("q") > 180)
        .select(F.col("l_orderkey").alias("big_key"))
    )
    o = t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == F.col("big_key"), "left_semi"
    )
    c = t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity"), "total_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "q19_disjunctive_brackets",
    f"""
    SELECT {_sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 35)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def q19_disjunctive_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brackets across both join
    sides — the equi key still carries the join; brackets filter post-match."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    b = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return j.filter(b).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q21_sole_late_supplier",
    """
    WITH l1 AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM (
            SELECT li3.l_orderkey AS k3, li3.l_suppkey AS s3
            FROM lineitem li3 JOIN orders o3 ON li3.l_orderkey = o3.o_orderkey
            WHERE o3.o_orderstatus = 'F'
              AND li3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY) l3
          WHERE l3.k3 = l1.l_orderkey AND l3.s3 <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    multi-supplier finished order — correlated EXISTS and NOT EXISTS over
    self-joins, decorrelated into left-semi and left-anti joins on the
    order key."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    # EXISTS another supplier on the same order (any lineitem).
    other = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    ).alias("l2")
    with_other = l1.join(
        other,
        (F.col("l1.l_orderkey") == F.col("k2"))
        & (F.col("l1.l_suppkey") != F.col("s2")),
        "left_semi",
    )
    # NOT EXISTS another LATE supplier on the same order.
    late2 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    ).alias("l3")
    sole = with_other.join(
        late2,
        (F.col("l1.l_orderkey") == F.col("k3"))
        & (F.col("l1.l_suppkey") != F.col("s3")),
        "left_anti",
    )
    s = t(spark, sf_dir, "supplier")
    return (
        sole.join(s, F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


@register(
    "q22_idle_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS ab
      FROM customer WHERE c_acctbal > 5000
    )
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS (left-anti)
    — rich customers with no RECENT order (since 2000-06-01), grouped by
    segment. ("never ordered" selects zero rows on this data — every
    customer has orders — which would make the oracle check trivial.)

    avg threshold note: AVG over doubles is order-dependent in general;
    here it is computed once on a small filtered set and both engines use
    the same compensated mean at this scale (verified by the oracle gate)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    ab = (
        c.filter(F.col("c_acctbal") > 5000)
        .agg(
            (
                F.sum(dec(F.col("c_acctbal"), 6)).cast("double")
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp")
    )
    return (
        c.crossJoin(broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal"), "totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q20_supplier_part_share",
    """
    WITH shipped AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
    ), thresh AS (
      SELECT CAST(SUM(CAST(qty AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avg_qty
      FROM shipped
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM shipped, thresh WHERE qty > 1.1 * avg_qty)
    ORDER BY s_suppkey
    """,
)
def q20_supplier_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp table in this schema, so lineitem
    supplies the quantity side): suppliers that shipped more than 1.1x the
    mean per-supplier quantity of 'red%' parts in 1997. The part filter is
    broadcast into the lineitem scan; the mean-relative threshold (like
    q11) keeps the predicate selective at every scale factor; the final
    membership test is a left-semi join against a tiny aggregate."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    shipped = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(dsum(F.col("l_quantity"), "qty"))
    )
    thresh = shipped.agg(
        (
            F.sum(dec(F.col("qty"))).cast("double") / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    heavy = (
        shipped.crossJoin(broadcast(thresh))
        .filter(F.col("qty") > 1.1 * F.col("avg_qty"))
        .select("l_suppkey")
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@register(
    "q_window_rank_suite",
    """
    SELECT c_custkey, c_mktsegment,
           ntile(4)       OVER w AS bal_quartile,
           percent_rank() OVER w AS bal_pct_rank,
           cume_dist()    OVER w AS bal_cume_dist,
           nth_value(c_name, 3) OVER (
             PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_richest
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_mktsegment, bal_pct_rank, c_custkey
    """,
)
def q_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window coverage: ntile / percent_rank / cume_dist /
    nth_value in one pass over one shuffle (all four share a window spec,
    so Spark plans a single Window node after one exchange on the
    partition key). Ordering includes c_custkey so every rank is
    deterministic; percent_rank and cume_dist are exact integer ratios,
    bit-identical across engines."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            F.ntile(4).over(w).alias("bal_quartile"),
            F.percent_rank().over(w).alias("bal_pct_rank"),
            F.cume_dist().over(w).alias("bal_cume_dist"),
            F.nth_value(F.col("c_name"), 3).over(wfull).alias("third_richest"),
        )
        .orderBy("c_mktsegment", "bal_pct_rank", "c_custkey")
    )


@register(
    "q_agg_funcs_modern",
    """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0)      AS all_positive,
           bool_or(o_orderstatus = 'F')    AS any_finished,
           max_by(o_totalprice, o_orderkey) AS latest_price,
           min_by(o_totalprice, o_orderkey) AS earliest_price,
           ROUND(CAST(median(o_totalprice) AS DOUBLE), 6) AS med_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_agg_funcs_modern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate coverage: count_if / bool_and / bool_or /
    max_by / min_by / median in one grouped pass. max_by/min_by use the
    unique o_orderkey as the ordering key so ties cannot make the result
    nondeterministic; median interpolates the two middle doubles with the
    same IEEE arithmetic in both engines."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
            F.max_by(F.col("o_totalprice"), F.col("o_orderkey")).alias(
                "latest_price"
            ),
            F.min_by(F.col("o_totalprice"), F.col("o_orderkey")).alias(
                "earliest_price"
            ),
            F.round(F.median(F.col("o_totalprice")), 6).alias("med_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_collect_set_segments",
    """
    SELECT n_name,
           array_to_string(list_sort(list_distinct(array_agg(c_mktsegment))),
                           ',') AS segments,
           COUNT(*) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q_collect_set_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set aggregation surfaced deterministically: the set is
    sorted then joined to a string (set iteration order is undefined in
    both engines, so raw arrays would be incomparable). The nation dim is
    broadcast; collect_set keeps at most 5 segment values per group, so
    state stays tiny at any scale."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("c_mktsegment")), ","
            ).alias("segments"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("n_name")
    )


@register(
    "q_histogram_acctbal",
    """
    SELECT CASE WHEN c_acctbal < -1000.0 THEN 0
                WHEN c_acctbal >= 10000.0 THEN 12
                ELSE CAST(FLOOR((c_acctbal - (-1000.0))
                                / ((10000.0 - (-1000.0)) / 11)) AS BIGINT) + 1
           END AS bucket,
           COUNT(*) AS n_cust,
           CAST(MIN(c_acctbal) AS DOUBLE) AS lo,
           CAST(MAX(c_acctbal) AS DOUBLE) AS hi
    FROM customer
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_histogram_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket (DuckDB lacks the function,
    so the oracle spells out the identical floor arithmetic). One grouped
    pass; bucket count is fixed (13) regardless of scale."""
    c = t(spark, sf_dir, "customer")
    return (
        c.select(
            F.width_bucket(
                F.col("c_acctbal"), F.lit(-1000.0), F.lit(10000.0), F.lit(11)
            ).alias("bucket"),
            "c_acctbal",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.min("c_acctbal").cast("double").alias("lo"),
            F.max("c_acctbal").cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "q_sequence_active_months",
    """
    WITH spans AS (
      SELECT o_orderkey,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m0,
             GREATEST(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP),
                      CAST(date_trunc('month', MAX(l_shipdate)) AS TIMESTAMP))
               AS m1
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY o_orderkey, o_orderdate
    )
    SELECT active_month, COUNT(*) AS n_active
    FROM (
      SELECT unnest(generate_series(m0, m1, INTERVAL 1 MONTH))
               AS active_month
      FROM spans
    )
    GROUP BY active_month
    ORDER BY active_month
    """,
)
def q_sequence_active_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-sequence generation + explode: each Q1-1997 order is active
    from its order month through its last ship month; count active orders
    per month. sequence()/explode() is the Spark idiom for row-generating
    table functions (DuckDB: generate_series + unnest). The per-order
    span is bounded (months, not rows), so explode fan-out is constant."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    spans = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.date_trunc("month", F.col("o_orderdate")).alias("m0"),
            # This synthetic data does not enforce ship-after-order, so
            # clamp the span end to keep sequence() boundaries valid.
            F.greatest(
                F.date_trunc("month", F.col("o_orderdate")),
                F.date_trunc("month", F.col("last_ship")),
            ).alias("m1"),
        )
    )
    return (
        spans.select(
            F.explode(
                F.sequence(
                    F.col("m0"), F.col("m1"), F.expr("interval 1 month")
                )
            ).alias("active_month")
        )
        .groupBy("active_month")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("active_month")
    )


@register(
    "q_bitwise_agg",
    """
    SELECT l_returnflag,
           CAST(bit_and(l_linenumber) AS BIGINT) AS lines_and,
           CAST(bit_or(l_linenumber)  AS BIGINT) AS lines_or,
           CAST(bit_xor(l_linenumber) AS BIGINT) AS lines_xor
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate coverage (bit_and / bit_or / bit_xor) — order-
    independent by construction, single grouped pass with map-side
    partial aggregation."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.bit_and("l_linenumber").cast("bigint").alias("lines_and"),
            F.bit_or("l_linenumber").cast("bigint").alias("lines_or"),
            F.bit_xor("l_linenumber").cast("bigint").alias("lines_xor"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q_posexplode_tokens",
    """
    SELECT doc_id, pos, tok
    FROM (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
      WHERE doc_id % 50 = 0
    )
    WHERE pos < 8
    ORDER BY doc_id, pos
    """,
)
def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode coverage: ordinal-position explode of a split array (the
    lateral-view idiom for token streams). A modulus filter keeps the doc
    sample a fixed fraction at every scale; the pos<8 cap bounds fan-out
    per document. DuckDB spells the same thing as generate_subscripts +
    unnest. Explode runs inside whole-stage codegen — no shuffle at all
    until the final presentation sort."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    return (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
        )
        .filter(F.col("pos") < 8)
        .orderBy("doc_id", "pos")
    )


@register(
    "q_null_handling_funcs",
    """
    SELECT c_custkey,
           nullif(c_mktsegment, 'BUILDING')            AS seg_or_null,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'suppressed')
                                                       AS seg_filled,
           CAST(least(c_acctbal, 0.0) AS DOUBLE)       AS overdraft,
           CAST(greatest(c_acctbal, 0.0) AS DOUBLE)    AS credit,
           (c_acctbal IS NOT NULL AND c_acctbal < 0)   AS is_negative
    FROM customer
    WHERE c_custkey % 10 = 0
    ORDER BY c_custkey
    """,
)
def q_null_handling_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling scalar coverage: nullif / coalesce / least / greatest
    and null-safe boolean composition. Pure projection — Catalyst folds it
    into the scan stage; the modulus filter is pushed down so a 10% sample
    is read at any scale."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    return (
        c.select(
            "c_custkey",
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias(
                "seg_or_null"
            ),
            F.coalesce(
                F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
                F.lit("suppressed"),
            ).alias("seg_filled"),
            F.least(F.col("c_acctbal"), F.lit(0.0))
            .cast("double")
            .alias("overdraft"),
            F.greatest(F.col("c_acctbal"), F.lit(0.0))
            .cast("double")
            .alias("credit"),
            (F.col("c_acctbal").isNotNull() & (F.col("c_acctbal") < 0)).alias(
                "is_negative"
            ),
        )
        .orderBy("c_custkey")
    )


@register(
    "q_like_predicates",
    """
    SELECT p_brand,
           CAST(count_if(p_name LIKE '%bolt%') AS BIGINT)           AS n_like,
           CAST(count_if(p_name ILIKE 'BLUE%') AS BIGINT)           AS n_ilike,
           CAST(count_if(regexp_matches(p_type, '^(SMALL|MEDIUM)$'))
                AS BIGINT)                                          AS n_rlike,
           CAST(count_if(p_name NOT LIKE '%o%') AS BIGINT)          AS n_not_like
    FROM part
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def q_like_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-predicate coverage: LIKE / ILIKE / RLIKE (regexp) / NOT
    LIKE, aggregated per brand so the result stays dim-sized at any scale.
    All four predicates evaluate inside codegen; the grouped count_if
    aggregation is partial-then-final (map-side combine)."""
    p = t(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(
            F.count_if(F.col("p_name").like("%bolt%")).alias("n_like"),
            F.count_if(F.col("p_name").ilike("BLUE%")).alias("n_ilike"),
            F.count_if(F.col("p_type").rlike("^(SMALL|MEDIUM)$")).alias(
                "n_rlike"
            ),
            F.count_if(~F.col("p_name").like("%o%")).alias("n_not_like"),
        )
        .orderBy("p_brand")
    )


@register(
    "q_rollup_grouping_id",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS status_aggregated,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    ORDER BY gid, o_orderstatus, o_orderpriority
    """,
)
def q_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping_id() / grouping() markers over a rollup: gid is the bitmask
    of aggregated-away keys (leftmost key = most significant bit — the same
    convention in Spark and DuckDB), letting a consumer separate detail
    rows, per-status subtotals, and the grand total in one result. Rollup
    is one shuffle; the marker columns are computed in the aggregate, not
    as a second pass."""
    o = t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.grouping("o_orderstatus").cast("bigint").alias(
                "status_aggregated"
            ),
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "sum_price"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


@register(
    "q_first_last_value",
    """
    SELECT c_custkey, c_mktsegment,
           first_value(c_name) OVER w AS richest_in_segment,
           last_value(c_name)  OVER w AS poorest_in_segment
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING)
    QUALIFY c_custkey % 20 = 0
    ORDER BY c_custkey
    """,
)
def q_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value over a full-partition frame: every customer
    row sees its segment's richest and poorest customer. The frame must be
    UNBOUNDED..UNBOUNDED (the default last_value frame ends at CURRENT ROW,
    which silently returns the current row instead of the partition max —
    the classic window-frame trap). The window computes over full
    partitions; the modulus sample is applied after (QUALIFY in the
    oracle), keeping output a fixed fraction at any scale."""
    c = t(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            F.first_value(F.col("c_name")).over(w).alias(
                "richest_in_segment"
            ),
            F.last_value(F.col("c_name")).over(w).alias(
                "poorest_in_segment"
            ),
        )
        .filter(F.col("c_custkey") % 20 == 0)
        .orderBy("c_custkey")
    )


@register(
    "q_fuzzy_name_match",
    """
    WITH names AS (
      SELECT DISTINCT p_name,
             split_part(p_name, ' ', 2) AS block
      FROM part)
    SELECT a.block,
           a.p_name AS name_a,
           b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM names a JOIN names b
      ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY a.block, name_a, name_b
    """,
)
def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string matching: near-identical product names (edit
    distance <= 3) found WITHIN a blocking key (the product noun), the
    classic entity-resolution shape. Blocking turns the O(n^2) all-pairs
    edit-distance scan into an equi-join on the block plus per-block
    pairing — at 100 TB the block key bounds every candidate set, and
    ``levenshtein`` runs JVM-side (identical algorithm in DuckDB, so the
    oracle hash-checks the distances themselves)."""
    p = t(spark, sf_dir, "part")
    names = (
        p.select("p_name")
        .distinct()
        .withColumn("block", F.split(F.col("p_name"), " ").getItem(1))
    )
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("block").alias("block")
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("block").alias("block_b")
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(
            b,
            (F.col("block") == F.col("block_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .filter(lev <= 3)
        .select("block", "name_a", "name_b", lev.alias("edit_dist"))
        .orderBy("block", "name_a", "name_b")
    )


@register(
    "q_string_agg_names",
    """
    SELECT n.n_name AS nation,
           COUNT(*) AS n_vips,
           string_agg(c.c_name, ',' ORDER BY c.c_name) AS vip_names
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > 9000
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def q_string_agg_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (the LISTAGG / string_agg family):
    per-nation comma-joined list of high-balance customer names in
    deterministic order. Spark spells it collect_list → array_sort →
    concat_ws — identical output to DuckDB's ORDER BY'd string_agg, and
    the sort is per-group (bounded by the filter), never global."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.filter(F.col("c_acctbal") > 9000)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_vips"),
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias(
                "vip_names"
            ),
        )
        .orderBy("nation")
    )


@register(
    "q_runtime_filter_prefilter_join",
    """
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM orders o
    WHERE o.o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_acctbal > 9500)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_runtime_filter_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime min/max (zone-map style) prefilter before an exact
    semi-join — the runtime-filter pattern that matters at 100 TB: reduce
    the (small) key set to [min, max], prefilter the fact scan with a
    range predicate (cheap, pushable to parquet row-group stats, NO false
    negatives), then run the exact semi-join on the survivors only. The
    output is EXACT — the prefilter can only let extra rows through, never
    drop true matches — so the DuckDB oracle is the plain semi-join. Spark
    injects the same idea itself (runtime bloom/DPP filters); spelling it
    out keeps the technique testable and portable to selective key sets
    where the optimizer doesn't fire."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    vips = c.filter(F.col("c_acctbal") > 9500).select("c_custkey")
    key_range = vips.agg(
        F.min("c_custkey").alias("k_lo"), F.max("c_custkey").alias("k_hi")
    )
    prefiltered = o.join(broadcast(key_range)).filter(
        F.col("o_custkey").between(F.col("k_lo"), F.col("k_hi"))
    )
    return (
        prefiltered.join(vips, prefiltered.o_custkey == vips.c_custkey,
                         "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .orderBy("o_orderpriority")
    )
