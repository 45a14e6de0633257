"""Query registry — the correctness + benchmark surface.

Each entry pairs a Spark DataFrame program (the engine under test) with an
ANSI/DuckDB oracle SQL string. Names, output column names, and value shapes
are aligned exactly (the driver hash-compares values after sorting columns
by name — see repo README / driver contract).

Determinism rules used throughout:
- every float output is ``round(x, N)`` in BOTH engines;
- every top-k is ordered with a unique-key tiebreak;
- rank-on-rounded for similarity scores so both engines rank identically.

Coverage map: every §2.5 family and every extension family has at least
one representative in the 50-entry driver window, with within-family
variants parked in ``_TAIL_VARIANTS`` (tests/test_window_order.py keeps
the map total and the window covered). ALL registered queries carry a
full DuckDB oracle — including the iterative/trained pipelines (k-means,
PQ, IVF-PQ, BPE, the logistic-regression quality classifier), whose
oracles unroll their training iterations in SQL, and the LSH/MinHash
families, whose determinism contracts (rank-on-rounded, capped buckets,
id tiebreaks) were built so hash-compare is possible at all.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from astro_sdk_spark.engine import drop_managed_table
from astro_sdk_spark.functions.dedup import exact_dedup, minhash_near_dup, simhash_near_dup
from astro_sdk_spark.functions.similarity import ann_recall, cosine_topk, lsh_bucket_join
from astro_sdk_spark.functions.text import (
    lang_id,
    quality_score,
    token_stats,
)
from astro_sdk_spark.operators.merge import merge_insert_plan, merge_update_plan

# --------------------------------------------------------------------------
# helpers


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (direct parquet scan → full pushdown).

    events.parquet has shipped ``ts`` both as parquet TIMESTAMP(NANOS) (which
    Spark only reads as long nanos via the legacy conf) and as plain
    timestamp[us]; branch on the dtype Spark actually sees so either physical
    layout yields the same logical schema: a µs TIMESTAMP_NTZ ``ts`` (matches
    what DuckDB sees) plus raw epoch-nanos ``ts_ns`` for exact arithmetic.
    Session tz pinned to UTC so LTZ→NTZ conversion is wall-clock-stable
    regardless of host tz.

    Every registry query reads its tables through here, so this is also
    where the harness-agnostic worker-import guarantee lives: the
    driver's session may have been created before this package was on
    any path (foreign cwd), and the Arrow-UDF queries need workers to
    import it — ship the package via addPyFile once per context.
    """
    from astro_sdk_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    # Reader-HANDLE registry (not result caching): ``spark.read.parquet``
    # costs ~80 ms of driver work per call (footer/schema read + relation
    # construction), paid on EVERY query construction although the
    # DataFrame it returns is immutable. A catalog-registered table would
    # get exactly this from Spark's own relation cache (spark.table());
    # direct-path reads don't, so keep the lazy handle per
    # (session, sf_dir, table). Every execution still scans the parquet
    # data from disk — only the plan-node construction is reused.
    # applicationId keys the context lifetime: a stopped-and-recreated
    # session gets a fresh id (stale handles are never served), unlike
    # id(spark), which the allocator may reuse after GC
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _T_READERS.get(key)
    if cached is not None:
        return cached
    df = _t_uncached(spark, sf_dir, name)
    _T_READERS[key] = df
    return df


_T_READERS: dict = {}


def _t_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_dtype = dict(df.dtypes).get("ts", "")
        if ts_dtype == "bigint":  # TIMESTAMP(NANOS) surfaced as long nanos
            ts_col = F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            ts_ns_col = F.col("ts")
        else:  # timestamp / timestamp_ntz — native µs timestamp
            ts_col = F.col("ts").cast("timestamp_ntz")
            ts_ns_col = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        return df.select(
            "event_id",
            ts_col.alias("ts"),
            ts_ns_col.cast("bigint").alias("ts_ns"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def q(name: str, oracle: str | None):
    def deco(fn):
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


# Non-vacuity allowlists (tools/check_oracle.py + tests/test_nonvacuity.py):
# an empty result hash-matches an empty oracle trivially, so a query that
# returns 0 rows proves nothing — q_tpch_q10 sat green-but-vacuous for three
# rounds on an out-of-range date window. Every registered query must return
# >=1 row at sf0.01 unless listed in VACUOUS_OK (intentional empties —
# currently none); VACUOUS_OK_SMALL_SF adds the selective queries whose
# predicates legitimately match nothing below sf0.01.
VACUOUS_OK: frozenset[str] = frozenset()
VACUOUS_OK_SMALL_SF: frozenset[str] = frozenset({"q_correlated_agg", "q_tpch_q22"})


# Exact money aggregation — the device the sf0.1 sweep forced on the
# events queries, applied to every 2-decimal sum/avg: parallel double
# accumulation differs at ~1 ulp between engines and round() lands it
# on half boundaries. Per-row values are exact centi-unit integers;
# the ACCUMULATOR is DECIMAL(38,0) on the Spark side (a BIGINT sum
# would wrap past ±9.2e16 cents at extreme scale) and DuckDB's native
# HUGEINT sum on the oracle side — both exact, and both convert the
# same integer to the same correctly-rounded double at the end. The
# multi-factor products (price·(1−disc), price·(1−disc)·(1+tax)) use
# the same scheme at 1e-4 / 1e-6 dollar fixed-point scale: per-row
# BIGINT products are bounded (≤ ~4e11), only the sum needs width.
def _cents(col: str):
    return F.round(F.col(col) * 100).cast("bigint")


def _dsum(col):
    """Overflow-proof exact integer sum: DECIMAL(38,0) accumulator."""
    return F.sum(col.cast("decimal(38,0)"))


def CS(col: str):
    """Exact sum of a 2-decimal column (Spark side)."""
    return _dsum(_cents(col)).cast("double") / 100


def CAVG(col: str, digits: int):
    """Exact-sum average of a 2-decimal column, floor-pinned (Spark)."""
    s = float(10**digits)
    raw = _dsum(_cents(col)).cast("double") / (F.count(_cents(col)) * 100)
    return F.floor(raw * F.lit(s) + F.lit(0.5)) / F.lit(s)


def _SQL_CS(col: str) -> str:
    """The same exact sum as engine-neutral SQL text (DuckDB sums BIGINT
    into a HUGEINT accumulator — already exact)."""
    return f"CAST(sum(CAST(round({col} * 100) AS BIGINT)) AS DOUBLE) / 100"


# Two-factor extension: cents(price)·(100−cents(disc)) is an exact
# BIGINT at 1e-4-dollar scale per row; the DECIMAL(38,0)/HUGEINT sum
# removes any per-group row bound.
_REV_EXACT_SQL = (
    "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)"
    " / 10000"
)


def _rev_exact():
    return (
        _dsum(
            _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
        ).cast("double")
        / 10000
    )


# Three-factor charge: price·(1−disc)·(1+tax) at 1e-6-dollar scale —
# exact integers end to end, replacing round(sum(double)) whose
# product-rounding drifted with accumulation order.
_CHARGE_EXACT_SQL = (
    "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    " * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS DOUBLE)"
    " / 1000000"
)


def _charge_exact():
    return (
        _dsum(
            _cents("l_extendedprice")
            * (F.lit(100) - _cents("l_discount"))
            * (F.lit(100) + _cents("l_tax"))
        ).cast("double")
        / 1000000
    )


def _SQL_CAVG(col: str, digits: int) -> str:
    s = float(10**digits)
    inner = (
        f"CAST(sum(CAST(round({col} * 100) AS BIGINT)) AS DOUBLE)"
        f" / (count({col}) * 100)"
    )
    return f"floor({inner} * {s} + 0.5) / {s}"


# --------------------------------------------------------------------------
# 1. Aggregation — flagship: TPC-H Q1-style pricing summary


@q(
    "q_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)       AS sum_qty,
           {_SQL_CS("l_extendedprice")}    AS sum_base_price,
           {_REV_EXACT_SQL} AS sum_disc_price,
           {_CHARGE_EXACT_SQL} AS sum_charge,
           {_SQL_CAVG("l_quantity", 4)}    AS avg_qty,
           {_SQL_CAVG("l_extendedprice", 4)} AS avg_price,
           {_SQL_CAVG("l_discount", 4)}    AS avg_disc,
           count(*)                        AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact money aggregation across the board (see CS/CAVG/_rev_exact/
    _charge_exact above): sum_qty is already exact (integer-valued
    doubles); the multi-factor disc_price/charge sums are exact
    fixed-point integer products under a DECIMAL(38,0) accumulator."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            CS("l_extendedprice").alias("sum_base_price"),
            _rev_exact().alias("sum_disc_price"),
            _charge_exact().alias("sum_charge"),
            CAVG("l_quantity", 4).alias("avg_qty"),
            CAVG("l_extendedprice", 4).alias("avg_price"),
            CAVG("l_discount", 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@q(
    "q_filter_project",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 100000
      AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
    """,
)
def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_totalprice") > 100000)
            & (F.col("o_orderdate").cast("date") >= F.lit("1995-01-01").cast("date"))
        )
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    )


@q(
    "q_distinct_counts",
    """
    SELECT count(DISTINCT o_custkey)       AS n_cust,
           count(DISTINCT o_orderpriority) AS n_prio,
           count(*)                        AS n_orders
    FROM orders
    """,
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderpriority").alias("n_prio"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@q(
    "q_group_having",
    f"""
    SELECT o_custkey, count(*) AS n_orders, {_SQL_CS("o_totalprice")} AS spend
    FROM orders GROUP BY o_custkey HAVING count(*) >= 12
    """,
)
def q_group_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            CS("o_totalprice").alias("spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@q(
    "q_rollup",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@q(
    "q_cube",
    f"""
    SELECT l_returnflag, l_linestatus, {_SQL_CAVG("l_discount", 4)} AS avg_disc
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        CAVG("l_discount", 4).alias("avg_disc")
    )


# --------------------------------------------------------------------------
# 2. Joins


@q(
    "q_join_agg",
    f"""
    SELECT c_mktsegment, count(*) AS n_orders,
           {_SQL_CS("o_totalprice")} AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
    GROUP BY c_mktsegment
    """,
)
def q_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.filter(F.col("o_orderdate").cast("date") >= F.lit("1995-01-01").cast("date"))
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            CS("o_totalprice").alias("revenue"),
        )
    )


@q(
    "q_region_revenue",
    f"""
    SELECT n_name, {_REV_EXACT_SQL} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    GROUP BY n_name
    """,
)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name").isin("ASIA", "EUROPE"))),
              n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_rev_exact().alias("revenue"))
    )


@q(
    "q_semi_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .join(urgent, F.col("c_custkey") == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


# --------------------------------------------------------------------------
# 3. Window functions


@q(
    "q_window_topk",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


@q(
    "q_window_running",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 100 AS running_spend,
           lag(o_orderkey) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS prev_orderkey
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    ordering = [F.col("o_orderdate").cast("date"), F.col("o_orderkey")]
    w = Window.partitionBy("o_custkey").orderBy(*ordering)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(_cents("o_totalprice")).over(wsum).cast("double") / 100).alias(
            "running_spend"
        ),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


@q(
    "q_topk_order",
    """
    SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
)
def q_topk_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(20)
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"))
    )


# --------------------------------------------------------------------------
# 4. Set operations


@q(
    "q_set_ops",
    """
    SELECT 'union' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 7000)
    UNION ALL
    SELECT 'intersect' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 7000)
    UNION ALL
    SELECT 'except' AS op, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 7000)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 7000).select("c_custkey")
    return (
        building.union(rich).distinct().select(F.lit("union").alias("op"), "c_custkey")
        .unionByName(
            building.intersect(rich).select(F.lit("intersect").alias("op"), "c_custkey")
        )
        .unionByName(
            building.exceptAll(rich).distinct().select(F.lit("except").alias("op"), "c_custkey")
        )
    )


# --------------------------------------------------------------------------
# 5. Scalar functions


@q(
    "q_scalar_funcs",
    """
    SELECT p_partkey,
           upper(p_brand)                       AS brand_u,
           substr(p_name, 1, 10)                AS name10,
           length(p_type)                       AS type_len,
           round(p_retailprice * 1.1, 2)        AS inflated,
           CASE WHEN p_size > 25 THEN 'L'
                WHEN p_size > 10 THEN 'M'
                ELSE 'S' END                    AS size_class,
           concat(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size
    FROM part
    """,
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 10).alias("name10"),
        F.length("p_type").alias("type_len"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("inflated"),
        F.when(F.col("p_size") > 25, "L")
        .when(F.col("p_size") > 10, "M")
        .otherwise("S")
        .alias("size_class"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
    )


@q(
    "q_date_funcs",
    f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           count(*) AS n, {_SQL_CS("o_totalprice")} AS total
    FROM orders GROUP BY 1
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            CS("o_totalprice").alias("total"),
        )
    )


@q(
    "q_json_extract",
    """
    SELECT event_type,
           floor(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                      AS DOUBLE)
                 / count(json_extract_string(props, '$.k'))
                 * 10000.0 + 0.5) / 10000.0 AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg of exact integer sums, floor-pinned: the sums are identical in
    both engines, and the pin removes the engines' divergent round()
    half-handling on the identical quotient (the quotient-vs-sum rule:
    fixed-point SUMS snap to their grid under round(), QUOTIENTS sit
    arbitrarily close to half boundaries)."""
    e = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    raw = F.sum(k).cast("double") / F.count(k)
    return (
        e.groupBy("event_type")
        .agg(
            (F.floor(raw * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
                "avg_k"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# 6. Events / time series (batch equivalents of the streaming ops)


@q(
    "q_events_tumbling",
    """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point sum (value has 2 decimals): the integer total is exact
    and order-independent, where round(sum(double), 2) carries the
    parallel-accumulation ulp onto the rounding boundary (the divergence
    the sf0.1 sweep caught on the sliding twin)."""
    e = T(spark, sf_dir, "events")
    cv = F.round(F.col("value") * 100).cast("bigint")
    return (
        e.groupBy(F.window("ts", "10 minutes").start.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cv).cast("double") / 100).alias("total_value"),
        )
    )


@q(
    "q_events_sessions",
    """
    WITH gaps AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      FROM events),
    flags AS (
      SELECT user_id,
             CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1
                  ELSE 0 END AS is_new
      FROM gaps)
    SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM flags GROUP BY user_id
    """,
)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min gap). Epoch seconds via floor — identical
    boundary semantics in both engines (ns div 1e9 == floor(epoch(µs)))."""
    e = T(spark, sf_dir, "events").withColumn(
        "sec", F.expr("ts_ns div 1000000000")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_sec", F.lag("sec").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_sec").isNull() | ((F.col("sec") - F.col("prev_sec")) > 1800), 1
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(
            F.sum("is_new").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# 7. Merge / append semantics (operator plans vs SQL oracles)

_MERGE_ORACLE_UPDATE = """
    WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
    src AS (
      SELECT o_orderkey, round(o_totalprice * 2, 2) AS new_price
      FROM orders WHERE o_orderkey % 3 = 0)
    SELECT t.o_orderkey,
           round(CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
                      ELSE t.o_totalprice END, 2) AS o_totalprice,
           t.o_orderstatus
    FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
    UNION ALL
    SELECT s.o_orderkey, round(s.new_price, 2) AS o_totalprice,
           NULL AS o_orderstatus
    FROM src s WHERE NOT EXISTS (
      SELECT 1 FROM tgt t WHERE t.o_orderkey = s.o_orderkey)
"""


@q("q_merge_update", _MERGE_ORACLE_UPDATE)
def q_merge_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises merge_update_plan (the real operator's plan builder) against
    a pure-SQL oracle. Docstring parity: SURVEY §2.3 'update' semantics."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    tgt = o.filter(F.col("o_orderkey") % 2 == 0)
    src = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", F.round(F.col("o_totalprice") * 2, 2).alias("new_price"))
    )
    merged = merge_update_plan(
        tgt,
        src,
        cmap={"o_orderkey": "o_orderkey", "new_price": "o_totalprice"},
        keys=["o_orderkey"],
    )
    return merged.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderstatus"
    )


_MERGE_ORACLE_IGNORE = """
    WITH tgt AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0),
    src AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0)
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM tgt
    UNION ALL
    SELECT s.o_orderkey, round(s.o_totalprice, 2) AS o_totalprice FROM src s
    WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.o_orderkey = s.o_orderkey)
"""


@q("q_merge_ignore", _MERGE_ORACLE_IGNORE)
def q_merge_ignore(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tgt = o.filter(F.col("o_orderkey") % 2 == 0)
    src = o.filter(F.col("o_orderkey") % 3 == 0)
    inserted = merge_insert_plan(
        tgt, src, cmap={c: c for c in tgt.columns}, keys=["o_orderkey"]
    )
    return tgt.unionByName(inserted).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@q(
    "q_append_map",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice,
           NULL AS o_orderstatus
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_append_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append with a column map: unmapped target columns → NULL
    (reference semantics databases/base.py:666-696)."""
    o = T(spark, sf_dir, "orders")
    tgt = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    src = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_totalprice")
    appended = src.withColumn("o_orderstatus", F.lit(None).cast("string"))
    return tgt.unionByName(appended).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderstatus"
    )


# --------------------------------------------------------------------------
# 6b. Extended relational coverage: as-of/range joins, grouping sets,
#     pivot, richer windows, correlated aggregates, string functions


@q(
    "q_asof_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id
    FROM p LEFT JOIN LATERAL (
      SELECT event_id FROM events v
      WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
      ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) v ON true
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each purchase ↔ latest prior view by the same user),
    expressed as the scalable union + last(ignoreNulls) window — ONE shuffle
    on user_id, no per-row range probe. Ties at equal ts resolve to the
    max view event_id (union orders views before purchases at equal ts,
    then by event_id). The oracle states the same semantics as a LATERAL
    top-1 lookup."""
    e = T(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("v_id"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("tag"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("v_id"),
        "event_id",
        F.lit(1).alias("tag"),
    )
    unioned = views.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", F.coalesce("v_id", "event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("last_view", F.last("v_id", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("last_view").alias("view_id"),
        )
    )


@q(
    "q_range_join",
    f"""
    WITH bands(band, lo, hi) AS (
      VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
             ('high', 150000.0, 1000000000.0))
    SELECT band, count(*) AS n, {_SQL_CAVG("o_totalprice", 2)} AS avg_price
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (non-equi) join against a broadcast band table — the plan is a
    BroadcastNestedLoopJoin over 3 rows, not a shuffle."""
    o = T(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
         ("high", 150000.0, 1000000000.0)],
        "band string, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            CAVG("o_totalprice", 2).alias("avg_price"),
        )
    )


@q(
    "q_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS total
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact centi-unit sum device is engine-neutral SQL text — the
    Spark side runs the SAME statement."""
    li = T(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_qgs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100 AS total
        FROM _qgs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@q(
    "q_pivot",
    """
    SELECT o_orderstatus,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p_urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p_high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p_medium,
           count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p_notspec,
           count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p_low
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (explicit values skip the extra
    distinct-scan Spark otherwise runs to discover pivot columns)."""
    o = T(spark, sf_dir, "orders")
    out = o.groupBy("o_orderstatus").pivot("o_orderpriority", _PRIORITIES).count()
    renames = ["p_urgent", "p_high", "p_medium", "p_notspec", "p_low"]
    for old, new in zip(_PRIORITIES, renames):
        out = out.withColumnRenamed(old, new)
    # Spark pivot-count yields NULL for empty cells; DuckDB FILTER yields 0
    return out.select(
        "o_orderstatus", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in renames]
    )


@q(
    "q_window_extended",
    """
    SELECT o_orderkey, o_custkey,
           ntile(4) OVER w AS quartile,
           lead(o_orderkey) OVER w AS next_order,
           first_value(o_orderkey) OVER w AS first_order,
           CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                      * (count(*) OVER (PARTITION BY o_custkey))
                      - sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        OVER (PARTITION BY o_custkey)
                AS DOUBLE) / 100 AS diff_x_n
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wa = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.first("o_orderkey").over(w).alias("first_order"),
        # n*price - sum in exact centi-unit integers end to end: the
        # double form accumulated ~1 ulp drift that round(_, 2) had to
        # absorb; integer window sums are order-independent, and both
        # engines convert the same integer to the same double
        (
            (
                _cents("o_totalprice") * F.count(F.lit(1)).over(wa)
                - F.sum(_cents("o_totalprice")).over(wa)
            ).cast("double")
            / 100
        ).alias("diff_x_n"),
    )


@q(
    "q_correlated_agg",
    """
    SELECT p_partkey, p_brand, round(p_retailprice, 2) AS price
    FROM part p
    WHERE p_retailprice > 1.05 * (
      SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)
    """,
)
def q_correlated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate filter (TPC-H Q17 shape): parts priced >15%
    above their brand average. Decorrelated by hand into a broadcast join
    with the per-brand aggregate — the plan Catalyst's subquery
    decorrelation produces, stated explicitly."""
    p = T(spark, sf_dir, "part")
    brand_avg = p.groupBy(F.col("p_brand").alias("b")).agg(
        F.avg("p_retailprice").alias("brand_avg")
    )
    return (
        p.join(F.broadcast(brand_avg), p.p_brand == brand_avg.b)
        .filter(F.col("p_retailprice") > 1.05 * F.col("brand_avg"))
        .select("p_partkey", "p_brand", F.round("p_retailprice", 2).alias("price"))
    )


@q(
    "q_string_funcs",
    """
    SELECT p_partkey,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           replace(p_type, ' ', '_') AS type_snake,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           string_split(p_brand, '#')[2] AS brand_num,
           strpos(p_name, 'a') AS first_a
    FROM part
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.split("p_brand", "#").getItem(1).alias("brand_num"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
    )


@q(
    "q_events_sliding",
    """
    WITH w AS (
      SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'])
               AS window_start,
             event_type,
             CAST(round(value * 100) AS BIGINT) AS cv
      FROM events)
    SELECT window_start, event_type, count(*) AS n,
           floor(CAST(sum(cv) AS DOUBLE) / (count(*) * 100) * 10000.0 + 0.5)
             / 10000.0 AS avg_value
    FROM w GROUP BY window_start, event_type
    """,
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min / 5 min slide) — the batch shape of
    streaming/ops.sliding_window_agg. Each event lands in exactly two
    windows (starts at its 5-min bucket and the one before), which is how
    the DuckDB oracle states it.

    avg runs on exact fixed-point integers (value has 2 decimals) with a
    floor-pin — round(avg(double), 4) flipped on ~0.2% of sf0.1 groups
    because parallel double accumulation lands on rounding boundaries
    (caught by the full sf0.1 sweep; the gapfill/rolling_stats
    value_scale device, applied here)."""
    e = T(spark, sf_dir, "events")
    cv = F.round(F.col("value") * 100).cast("bigint")
    avg_exact = F.sum(cv).cast("double") / (F.count(F.lit(1)) * 100)
    return (
        e.groupBy(
            F.window("ts", "10 minutes", "5 minutes").start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(avg_exact * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
                "avg_value"
            ),
        )
    )


@q(
    "q_training_pipeline",
    """
    WITH scored AS (
      SELECT doc_id, text, source,
             array_length(string_split(text, ' ')) AS n_tokens,
             array_length(list_distinct(string_split(text, ' ')))
               / CAST(array_length(string_split(text, ' ')) AS DOUBLE) AS ttr
      FROM documents WHERE lang = 'en'),
    kept AS (
      SELECT * FROM scored WHERE n_tokens >= 20 AND ttr >= 0.3),
    deduped AS (
      SELECT min(doc_id) AS doc_id, any_value(source) AS source
      FROM kept GROUP BY text)
    SELECT d.source, count(*) AS n_docs
    FROM (SELECT k.source FROM deduped dd JOIN kept k ON k.doc_id = dd.doc_id) d
    GROUP BY d.source
    """,
)
def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation: language filter → length +
    lexical-diversity quality gate → exact dedup (keep min doc_id per
    text) → per-source yield counts. The shape of a real corpus-prep job;
    one scan, one dedup shuffle, one count shuffle."""
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = (
        d.filter(F.col("lang") == "en")
        .withColumn("n_tokens", F.size(toks))
        .withColumn("ttr", F.size(F.array_distinct(toks)) / F.size(toks))
    )
    kept = scored.filter((F.col("n_tokens") >= 20) & (F.col("ttr") >= 0.3))
    deduped = kept.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    survivors = kept.join(deduped.select("doc_id"), on="doc_id", how="left_semi")
    return survivors.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# 7b. Data-quality checks (single-pass aggregate plans)


@q(
    "q_check_column",
    """
    SELECT CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS o_custkey__null_check,
           count(DISTINCT o_orderstatus) AS o_orderstatus__distinct_check,
           count(o_orderkey) - count(DISTINCT o_orderkey)
             AS o_orderkey__unique_check,
           round(min(o_totalprice), 2) AS o_totalprice__min,
           round(max(o_totalprice), 2) AS o_totalprice__max
    FROM orders
    """,
)
def q_check_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """check_column's single-pass aggregate plan: every (column, check)
    slot in ONE scan (reference runs one query per check via
    SQLColumnCheckOperator — at 100 TB that is N scans vs 1)."""
    from astro_sdk_spark.operators.data_validation import column_check_aggs

    o = T(spark, sf_dir, "orders")
    aggs, _ = column_check_aggs(
        {
            "o_custkey": {"null_check": {}},
            "o_orderstatus": {"distinct_check": {}},
            "o_orderkey": {"unique_check": {}},
            "o_totalprice": {"min": {}, "max": {}},
        }
    )
    return o.agg(*aggs).select(
        "o_custkey__null_check",
        "o_orderstatus__distinct_check",
        "o_orderkey__unique_check",
        F.round("o_totalprice__min", 2).alias("o_totalprice__min"),
        F.round("o_totalprice__max", 2).alias("o_totalprice__max"),
    )


@q(
    "q_check_table",
    """
    SELECT count(*) > 0 AS row_count_positive,
           bool_and(o_totalprice > 0) AS prices_positive,
           bool_and(o_orderkey IS NOT NULL) AS keys_not_null
    FROM orders
    """,
)
def q_check_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """check_table's one-row plan: row-level statements are bool_and-wrapped
    (aggregate statements detected by analysis probe and used as-is), so a
    single row returns whatever the table size
    (reference check_table.py:55-60)."""
    from astro_sdk_spark.operators.data_validation import build_check_table_sql

    o = T(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_qct_orders")
    sql = build_check_table_sql(
        spark,
        "_qct_orders",
        {
            "row_count_positive": {"check_statement": "COUNT(*) > 0"},
            "prices_positive": {"check_statement": "o_totalprice > 0"},
            "keys_not_null": {"check_statement": "o_orderkey IS NOT NULL"},
        },
    )
    return spark.sql(sql)


# --------------------------------------------------------------------------
# 8. Dedup / text / similarity extensions


@q(
    "q_dedup_exact",
    """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(T(spark, sf_dir, "documents"))


@q(
    "q_bloom_dedup",
    """
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM documents c WHERE c.doc_id < 200 AND c.text = d.text)
    """,
)
def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered exact cross-corpus dedup (functions/bloom.py):
    corpus = docs with doc_id < 200, batch = the full table; result must
    equal the plain anti-join (the filter only removes the corpus-sized
    shuffle, never rows) — which is exactly what the oracle's NOT EXISTS
    verifies. Tail query; family covered in-window by q_dedup_exact."""
    from astro_sdk_spark.functions.bloom import bloom_dedup

    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 200).select("text")
    return bloom_dedup(
        docs.select("doc_id", "lang", "n_chars", "text"),
        corpus,
        "text",
        n_bits=1 << 16,
    ).select("doc_id", "lang", "n_chars")


@q(
    "q_token_stats",
    """
    SELECT doc_id,
           length(text) AS n_chars_actual,
           array_length(string_split(text, ' ')) AS n_tokens,
           array_length(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           round(array_length(list_distinct(string_split(text, ' ')))
                 / CAST(array_length(string_split(text, ' ')) AS DOUBLE), 4) AS ttr,
           round((length(text) - (array_length(string_split(text, ' ')) - 1))
                 / CAST(array_length(string_split(text, ' ')) AS DOUBLE), 4) AS avg_token_len
    FROM documents
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(T(spark, sf_dir, "documents"))


_QUALITY_ORACLE = """
    WITH tok AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             array_length(string_split(text, ' ')) AS n_tokens,
             array_length(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents),
    scored AS (
      SELECT doc_id, n_tokens,
             n_distinct / CAST(n_tokens AS DOUBLE) AS ttr,
             len(list_filter(toks, t -> list_contains(
               ['the','a','of','and','to','in','is','it','for','on'], t)))
               / CAST(n_tokens AS DOUBLE) AS sw,
             CASE WHEN n_tokens BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END AS len_ok
      FROM tok)
    SELECT doc_id, n_tokens, round(ttr, 4) AS ttr, round(sw, 4) AS stopword_ratio,
           round(len_ok * 0.4 + least(ttr * 2, 1.0) * 0.3
                 + least(sw * 10, 1.0) * 0.3, 4) AS quality_score
    FROM scored
"""


@q("q_quality_score", _QUALITY_ORACLE)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(T(spark, sf_dir, "documents"))


@q(
    "q_embedding_topk",
    """
    WITH qs AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(
               CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS cosine
      FROM qs q JOIN embeddings c ON q.vec_id <> c.vec_id),
    ranked AS (
      SELECT query_id, cand_id, cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      FROM scored)
    SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 10
    """,
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb.filter(F.col("vec_id") < 8), emb, k=10, round_digits=4
    )


@q(
    "q_lang_distribution",
    """
    SELECT lang, source, count(*) AS n_docs,
           floor(CAST(sum(n_chars) AS DOUBLE) / count(n_chars)
                 * 10000.0 + 0.5) / 10000.0 AS avg_chars
    FROM documents GROUP BY lang, source
    """,
)
def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer sums are exact in both engines; the floor-pin removes the
    engines' divergent round() half-handling on the identical quotient
    (the quotient-vs-sum rule)."""
    d = T(spark, sf_dir, "documents")
    raw = F.sum("n_chars").cast("double") / F.count("n_chars")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.floor(raw * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "avg_chars"
        ),
    )


# DuckDB word-k-shingles of lower(text), distinct — mirrors shingles_col().
_DUCK_SHINGLES_K3 = r"""
    CASE WHEN len(string_split_regex(trim(lower(text)), '\s+')) >= 3
      THEN list_distinct(list_transform(
             range(1, len(string_split_regex(trim(lower(text)), '\s+')) - 1),
             i -> array_to_string(string_split_regex(trim(lower(text)), '\s+')[i:i+2], ' ')))
      ELSE [array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')]
    END
"""

# Raw (multiset) variant — repetition metrics need occurrence counts, so
# no list_distinct (mirrors shingles_col(distinct=False)).
_DUCK_SHINGLES_K3_RAW = r"""
    CASE WHEN len(string_split_regex(trim(lower(text)), '\s+')) >= 3
      THEN list_transform(
             range(1, len(string_split_regex(trim(lower(text)), '\s+')) - 1),
             i -> array_to_string(string_split_regex(trim(lower(text)), '\s+')[i:i+2], ' '))
      ELSE [array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')]
    END
"""

def _duck_jaccard_pairs(
    src: str,
    pair_cond: str = "a.doc_id < b.doc_id",
    carry_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB CTE fragment computing exact-Jaccard candidate pairs from a
    prior CTE ``src`` with columns ``(doc_id, s)`` (``s`` = DISTINCT
    shingles): defines ``tok``/``lens``/``common``/``pairs`` where
    ``pairs = (id_a, id_b, inter, la, lb)``. INVERTED-INDEX shape — only
    pairs sharing >= 1 shingle ever materialize (identical result to the
    all-pairs ``list_intersect`` scan for any threshold > 0, since
    inter=0 pairs can never qualify), but cost is sum(df^2) over
    shingles instead of |docs|^2 intersections: the sf0.1 all-pairs form
    ran 45+ minutes per oracle, this runs in seconds. Equivalence to the
    old form is pinned by the hash gate at sf0.001/sf0.01.
    ``carry_cols`` ride along on ``tok`` so ``pair_cond`` can reference
    them (e.g. a split label as ``a.split``/``b.split``)."""
    carry = "".join(f", {c}" for c in carry_cols)
    return f"""tok AS (SELECT doc_id{carry}, unnest(s) AS g FROM {src}),
    lens AS (SELECT doc_id, len(s) AS n FROM {src}),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM tok a JOIN tok b ON a.g = b.g AND {pair_cond}
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b, inter, la.n AS la, lb.n AS lb
      FROM common
      JOIN lens la ON la.doc_id = id_a
      JOIN lens lb ON lb.doc_id = id_b)"""


_INCREMENTAL_ORACLE = f"""
    WITH sh AS (SELECT doc_id, {_DUCK_SHINGLES_K3} AS s FROM documents),
    {_duck_jaccard_pairs("sh", pair_cond="a.doc_id >= 250 AND b.doc_id < 250")}
    SELECT id_a AS new_id, id_b AS corpus_id,
           round(inter / CAST(la + lb - inter AS DOUBLE), 4) AS jaccard
    FROM pairs WHERE inter / CAST(la + lb - inter AS DOUBLE) >= 0.5
"""


@q("q_incremental_neardup", _INCREMENTAL_ORACLE)
def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: docs with id ≥ 250 are the incoming batch, the
    rest the accepted corpus. Same exact-Jaccard oracle argument as
    q_minhash_neardup (all true pairs at j ≥ 0.9 → LSH recall ≈ 1)."""
    from astro_sdk_spark.functions.dedup import incremental_near_dup

    d = T(spark, sf_dir, "documents")
    pairs = incremental_near_dup(
        d.filter(F.col("doc_id") >= 250),
        d.filter(F.col("doc_id") < 250),
        num_hashes=32,
        bands=8,
        threshold=0.5,
    )
    return pairs.select("new_id", "corpus_id", F.round("jaccard", 4).alias("jaccard"))


_DUCK_SHINGLES_K2 = r"""
    CASE WHEN len(string_split_regex(trim(lower(text)), '\s+')) >= 2
      THEN list_distinct(list_transform(
             range(1, len(string_split_regex(trim(lower(text)), '\s+'))),
             i -> array_to_string(string_split_regex(trim(lower(text)), '\s+')[i:i+1], ' ')))
      ELSE [array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')]
    END
"""


@q(
    "q_percentiles",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
           round(quantile_cont(o_totalprice, 0.5), 2)  AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2)  AS p90,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` == DuckDB
    ``quantile_cont``, both linear interpolation). The approximate
    ``approx_percentile``/HLL family deliberately has no oracle entry —
    approximation results are engine-specific by design."""
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        *[
            F.round(F.expr(f"percentile(o_totalprice, {p})"), 2).alias(name)
            for p, name in [(0.25, "p25"), (0.5, "p50"), (0.9, "p90"), (0.99, "p99")]
        ]
    )


@q(
    "q_histogram",
    """
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram via floor division (width_bucket is not
    portable to the oracle engine; the arithmetic is)."""
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


_TOP_NGRAMS_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {_DUCK_SHINGLES_K2} AS s FROM documents),
    grams AS (SELECT doc_id, unnest(s) AS g FROM toks)
    SELECT g AS bigram, count(*) AS doc_freq
    FROM grams GROUP BY g
    ORDER BY doc_freq DESC, bigram LIMIT 20
"""


@q("q_top_ngrams", _TOP_NGRAMS_ORACLE)
def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top bigrams by document frequency (per-doc distinct
    shingles → explode → count), ordered deterministically. The corpus
    vocabulary/statistics pass of a training-data pipeline."""
    from astro_sdk_spark.functions.dedup import shingles_col

    d = T(spark, sf_dir, "documents")
    return (
        d.select(F.explode(shingles_col(F.col("text"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("bigram"))
        .limit(20)
    )


@q(
    "q_doc_fingerprint",
    r"""
    SELECT count(*) AS n_docs,
           count(DISTINCT lower(regexp_replace(text, '\s+', ' ', 'g')))
             AS n_distinct_fp
    FROM documents
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint distinctness: the 64-bit xxhash64 fingerprint itself is
    not DuckDB-computable, but its defining property is — the number of
    distinct fingerprints must equal the number of distinct normalized
    texts (collision probability at 500–5000 docs over 64 bits < 1e-12)."""
    from astro_sdk_spark.functions.text import doc_fingerprint

    d = T(spark, sf_dir, "documents")
    return d.select(doc_fingerprint(F.col("text")).alias("fp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct_fp"),
    )


@q(
    "q_bpe_token_count",
    r"""
    SELECT doc_id,
           array_length(string_split_regex(trim(text), '\s+'))
             + (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))
             AS n_bpe_tokens
    FROM documents
    """,
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-word token estimate (words + punctuation marks) —
    both engines' \\w is ASCII word chars, so counts align exactly."""
    from astro_sdk_spark.functions.text import bpe_ish_token_count

    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens")
    )


# --------------------------------------------------------------------------
# time-series gap filling (functions/timeseries.py) — the hypertable
# time_bucket_gapfill shape: bucket → per-group dense grid → linear
# interpolation, all replicated in SQL (epoch-ns arithmetic, range()
# grids, IGNORE NULLS windows).

_GAPFILL_ORACLE = """
    WITH ev AS (
      SELECT user_id, epoch_ns(ts) AS tn, value FROM events),
    obs AS (
      -- exact fixed-point average: integer sum / count (order-free),
      -- mirroring gapfill's value_scale=100 device
      SELECT user_id, tn - (tn % 7200000000000) AS b,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / (count(value) * 100) AS v
      FROM ev GROUP BY 1, 2),
    rng AS (
      SELECT user_id, min(b) AS mn, max(b) AS mx FROM obs GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(range(mn, mx + 7200000000000, 7200000000000)) AS b
      FROM rng),
    dense AS (
      SELECT g.user_id, g.b, o.v, o.v IS NULL AS filled
      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.b = g.b),
    ctx AS (
      SELECT user_id, b, v, filled,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY b
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY b
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      FROM dense)
    SELECT user_id, b AS bucket_ns,
           floor((CASE WHEN v IS NOT NULL THEN v
                       WHEN nb IS NOT NULL AND pb IS NOT NULL
                         THEN pv + (nv - pv) * ((b - pb) / (nb - pb))
                       ELSE pv END) * 10000 + 0.5) / 10000 AS v,
           filled
    FROM ctx
"""


@q("q_events_gapfill", _GAPFILL_ORACLE)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled 2-hour per-user value series with linear interpolation
    (functions/timeseries.py:gapfill) — dense-grid generation and both
    interpolation windows hash-matched against the SQL replica."""
    from astro_sdk_spark.functions.timeseries import gapfill

    ev = T(spark, sf_dir, "events")
    return gapfill(
        ev, bucket_ns=7_200_000_000_000, fill="linear", value_scale=100
    )


# --------------------------------------------------------------------------
# edit-distance similarity join (functions/fuzzy.py). The oracle is the
# quadratic cross-join predicate itself — the implementation must equal
# it exactly while never materializing the cross product (q-gram prefix
# filter + codegen levenshtein verify).

_FUZZY_ORACLE = """
    WITH c AS (
      SELECT c_custkey AS id, c_name AS name FROM customer
      WHERE c_custkey <= 300)
    SELECT a.id AS id_a, b.id AS id_b,
           levenshtein(a.name, b.name) AS dist
    FROM c a JOIN c b ON a.id < b.id
    WHERE levenshtein(a.name, b.name) <= 1
"""


@q("q_fuzzy_join", _FUZZY_ORACLE)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self edit-distance join over customer names at d=1 (names that
    differ in one digit): prefix-filtered candidates, never all-pairs,
    hash-matched against the brute-force oracle."""
    from astro_sdk_spark.functions.fuzzy import edit_distance_join

    cust = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 300)
        .select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    )
    return edit_distance_join(cust, max_dist=1)


# --------------------------------------------------------------------------
# exact n-gram Jaccard similarity join (functions/fuzzy.py:jaccard_join).
# Same oracle philosophy as q_fuzzy_join: the brute-force quadratic
# predicate IS the oracle, and the prefix-filtered implementation must
# EQUAL it (not approximate it — that distinction is what separates this
# from the MinHash family, whose oracles rest on a recall argument at
# the chosen parameters). inter/size arithmetic is all-integer, so the
# jaccard double divides identically in both engines.

_JACCARD_JOIN_ORACLE = f"""
    WITH sh AS (SELECT doc_id, {_DUCK_SHINGLES_K3} AS s FROM documents),
    {_duck_jaccard_pairs("sh")}
    SELECT id_a, id_b,
           round(inter / CAST(la + lb - inter AS DOUBLE), 4) AS jaccard
    FROM pairs WHERE inter / CAST(la + lb - inter AS DOUBLE) >= 0.7
"""


@q("q_jaccard_join", _JACCARD_JOIN_ORACLE)
def q_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard self-join over documents at τ=0.7 via
    AllPairs/PPJoin prefix filtering — hash-EQUAL to the cross-join
    oracle, never materializing the cross product."""
    from astro_sdk_spark.functions.fuzzy import jaccard_join

    d = T(spark, sf_dir, "documents")
    # pre_dedup collapses byte-identical texts before the prefix join and
    # expands the result back — same exact answer, flood-proof plan
    pairs = jaccard_join(d, threshold=0.7, shingle_k=3, pre_dedup=True)
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


# --------------------------------------------------------------------------
# stream-stream interval join (streaming/ops.py:stream_stream_join) run
# in its batch mode: the SAME operator powers the watermarked live-stream
# join (state bounded by watermark+interval — tests/test_streaming.py
# proves stream≡batch), so gating the static result here puts the join
# class itself under the hash gate. Values pass through untransformed,
# so doubles and timestamps compare bit-identically.

_STREAM_JOIN_ORACLE = """
    WITH v AS (SELECT event_id, ts, user_id, value FROM events
               WHERE event_type = 'view'),
         c AS (SELECT event_id, ts, user_id, value FROM events
               WHERE event_type = 'click')
    SELECT v.user_id AS user_id, v.event_id AS event_id, v.ts AS ts,
           v.value AS value, c.event_id AS event_id_r, c.ts AS ts_r,
           c.value AS value_r
    FROM v JOIN c ON v.user_id = c.user_id
     AND v.ts >= c.ts - INTERVAL 15 MINUTE
     AND v.ts <= c.ts + INTERVAL 15 MINUTE
"""


@q("q_stream_join", _STREAM_JOIN_ORACLE)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """views ⋈ clicks per user within ±15 minutes — the stream-stream
    interval join evaluated on static frames (identical code path to the
    watermarked streaming deployment)."""
    from astro_sdk_spark.streaming.ops import stream_stream_join

    ev = T(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "event_id", "ts", "user_id", "value"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    return stream_stream_join(v, c, on="user_id", within="15 minutes")


# --------------------------------------------------------------------------
# unpivot/melt — the inverse of q_pivot's wide reshape: measure columns
# become (metric, value) rows. Idiomatic Spark (DataFrame.unpivot, the
# built-in STACK-based rewrite — pure projection, zero shuffle); the
# oracle is the portable UNION ALL expansion. Values pass through
# unchanged (no arithmetic), so doubles compare bit-identically.

_UNPIVOT_MEASURES = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_UNPIVOT_ORACLE = " UNION ALL ".join(
    f"""
    SELECT l_orderkey, l_linenumber, '{c}' AS metric,
           CAST({c} AS DOUBLE) AS value
    FROM lineitem WHERE l_orderkey % 997 = 1"""
    for c in _UNPIVOT_MEASURES
)


@q("q_unpivot", _UNPIVOT_ORACLE)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt four lineitem measures into (metric, value) rows for a keyed
    slice — the wide→long reshape that complements q_pivot. Plan is a
    single projection (expand), no shuffle, full column pruning."""
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 997 == 1)
    return li.select(
        "l_orderkey", "l_linenumber", *_UNPIVOT_MEASURES
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        list(_UNPIVOT_MEASURES),
        "metric",
        "value",
    )


# --------------------------------------------------------------------------
# fixed-point PageRank (functions/graph.py). The oracle unrolls the
# iterations in SQL CTEs — the q_ivf_trained device — which is possible
# only because the rank arithmetic is all-BIGINT (integer division for
# contributions and damping): float PageRank would diverge between the
# engines' summation orders at ~1e-16 and flip rank boundaries. The
# graph is the bidirected customer↔supplier trade graph.

_PAGERANK_ITERS = 3


def _pagerank_oracle(iters: int) -> str:
    parts = [
        """
    WITH half AS (
      SELECT DISTINCT 'c' || o_custkey AS s, 's' || l_suppkey AS d
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT s, d FROM half UNION SELECT d, s FROM half),
    deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
    nodes AS (SELECT DISTINCT s AS n FROM e UNION SELECT DISTINCT d FROM e),
    pr0 AS (SELECT n, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    c{i} AS (
      SELECT e.d AS n, CAST(sum(p.pr // deg.deg) AS BIGINT) AS s
      FROM e JOIN pr{i - 1} p ON e.s = p.n JOIN deg ON e.s = deg.s
      GROUP BY e.d),
    pr{i} AS (
      SELECT nodes.n,
             CAST(150000 + (85 * coalesce(c{i}.s, 0)) // 100 AS BIGINT) AS pr
      FROM nodes LEFT JOIN c{i} ON nodes.n = c{i}.n)"""
        )
    parts.append(
        f"""
    SELECT n AS node, pr FROM pr{iters} ORDER BY pr DESC, n LIMIT 20"""
    )
    return "".join(parts)


@q("q_pagerank", _pagerank_oracle(_PAGERANK_ITERS))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three fixed-point PageRank rounds over the bidirected
    customer↔supplier trade graph; top-20 nodes, rank-desc with a node-id
    tiebreak. Hash-exact vs the SQL-unrolled iterations — BIGINT
    arithmetic end-to-end (see functions/graph.py)."""
    from astro_sdk_spark.functions._cache import track
    from astro_sdk_spark.functions.graph import pagerank

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # dedup the directed half ONCE and persist it: the bidirecting union
    # reads both branches from cache instead of running the
    # orders⋈lineitem join twice (Spark does not share union subtrees —
    # the LSH self-join lesson), and the pre-deduped pairs make
    # pagerank's own dropDuplicates shuffle a pass-through
    half = track(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # the union of a distinct pair set with its swap is distinct by
    # construction (prefixes make the two directions disjoint)
    pr = pagerank(edges, iters=_PAGERANK_ITERS, assume_deduped=True)
    return pr.orderBy(F.desc("pr"), F.asc("node")).limit(20)


# --------------------------------------------------------------------------
# profile_table — the one-pass column profiler (operators/data_validation).

_PROFILE_ORACLE = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS "column", count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_value,
           CAST(max({c}) AS VARCHAR) AS max_value
    FROM documents"""
    for c in ("doc_id", "text", "lang", "source", "n_chars")
)


@q("q_profile_table", _PROFILE_ORACLE)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile_table over documents: every column's nulls/distincts/
    min/max from ONE aggregate pass (the check_column single-scan
    device), reshaped on the driver from the single aggregated row."""
    from astro_sdk_spark.operators.data_validation import profile_table

    return profile_table(T(spark, sf_dir, "documents"), spark=spark)


# --------------------------------------------------------------------------
# BPE vocabulary training (functions/bpe.py; Sennrich et al. 2016). The
# oracle replicates SIX whole merge rounds in SQL: word counts → pair
# counts → lexicographic-tiebreak argmax → greedy left-to-right merge
# application via list_reduce — the same unrolled-iteration device as the
# q_ivf_trained Lloyd rounds. A green hash proves the distributed count
# AND the driver-side merge loop end-to-end.

_BPE_K = 6


def _bpe_merge_sql(src: str, b: str, carry: str) -> str:
    """Greedy left-to-right application of merge CTE ``b`` to the symbol
    lists of CTE ``src`` (list_reduce; identical scan semantics to the
    Python trainer/encoder). ``carry`` = the non-symbol column kept."""
    return f"""
      SELECT {carry}, list_reduce(
               list_transform(syms, s -> [s]),
               (acc, x) -> CASE WHEN acc[-1] = {b}.l AND x[1] = {b}.r
                           THEN list_append(acc[1:len(acc)-1], {b}.l || {b}.r)
                           ELSE list_concat(acc, x) END) AS syms
      FROM {src} CROSS JOIN {b}"""


def _bpe_oracle(k: int, encode: bool = False) -> str:
    rounds = []
    for i in range(1, k + 1):
        rounds.append(f"""
    pc{i} AS (
      SELECT p[1] AS l, p[2] AS r, sum(cnt) AS c FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
                                     i -> [syms[i], syms[i+1]])) AS p, cnt
        FROM w{i - 1}) GROUP BY 1, 2),
    b{i} AS (SELECT l, r FROM pc{i} ORDER BY c DESC, l, r LIMIT 1),
    w{i} AS ({_bpe_merge_sql(f'w{i - 1}', f'b{i}', 'cnt')})""")
    head = (
        r"""
    WITH words AS (
      SELECT word, count(*) AS cnt FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        FROM documents)
      WHERE word <> '' GROUP BY word),
    w0 AS (
      SELECT list_append(string_split_regex(word, ''), '</w>') AS syms, cnt
      FROM words),"""
        + ",".join(rounds)
    )
    if not encode:
        finals = "\n    UNION ALL ".join(
            f"SELECT {i} AS merge_rank, l AS lhs, r AS rhs FROM b{i}"
            for i in range(1, k + 1)
        )
        return head + f"\n    {finals}\n    ORDER BY merge_rank"
    # encode mode: apply the k learned merges to every DOCUMENT word.
    # Rank-priority encoding equals sequential application in rank order
    # (a later merge consumes symbols but can never create an adjacency
    # for an earlier one), so k chained passes replicate apply_bpe.
    doc_rounds = ",".join(
        f"\n    dw{i} AS ({_bpe_merge_sql(f'dw{i - 1}', f'b{i}', 'doc_id')})"
        for i in range(1, k + 1)
    )
    return (
        head
        + r""",
    dw0 AS (
      SELECT doc_id, list_append(string_split_regex(word, ''), '</w>') AS syms
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        FROM documents)
      WHERE word <> ''),"""
        + doc_rounds
        + f"""
    SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_bpe_tokens
    FROM dw{k} GROUP BY doc_id"""
    )


@q("q_bpe_train", _bpe_oracle(_BPE_K))
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE merge table on the documents corpus (distributed word
    counting + bounded driver merge loop, functions/bpe.py). max_words is
    far above the corpus' distinct-word count at every test SF, so the
    Spark cap and the uncapped oracle see identical vocabularies."""
    from astro_sdk_spark.functions.bpe import merges_df, train_bpe

    docs = T(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=_BPE_K, max_words=500_000)
    return merges_df(spark, merges)


@q("q_bpe_encode", _bpe_oracle(_BPE_K, encode=True))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full tokenizer pipeline under the gate: train six merges on the
    corpus, then ENCODE every document with them (apply_bpe's Arrow
    rank-priority encoder) and count tokens per doc. The oracle chains
    six list_reduce merge passes over the exploded document words —
    rank-priority encoding equals sequential rank-order application, so
    the two decompositions must agree token-for-token."""
    from astro_sdk_spark.functions.bpe import apply_bpe, train_bpe

    docs = T(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=_BPE_K, max_words=500_000)
    return apply_bpe(docs, merges).select(
        "doc_id", F.col("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens")
    )


# ---- LSH / heuristic extension queries with exact oracles ----------------
#
# Oracle strategy: LSH outputs are hash-dependent, so either (a) the oracle
# brute-forces the EXACT answer and the LSH parameters are chosen for 100%
# recall on the corpus (minhash: all true pairs sit at jaccard ≥ 0.9, miss
# probability ≈ (1-j⁴)⁸ < 2·10⁻⁴ per pair), or (b) the oracle REPLICATES the
# pipeline bit-for-bit in DuckDB — possible because the hyperplanes are
# driver-computed literals we can inline into SQL, and the simhash entry
# uses an md5-derived 60-bit hash both engines compute identically.

_MINHASH_ORACLE = f"""
    WITH sh AS (SELECT doc_id, {_DUCK_SHINGLES_K3} AS s FROM documents),
    {_duck_jaccard_pairs("sh")}
    SELECT id_a, id_b,
           round(inter / CAST(la + lb - inter AS DOUBLE), 4) AS jaccard
    FROM pairs WHERE inter / CAST(la + lb - inter AS DOUBLE) >= 0.5
"""


@q("q_minhash_neardup", _MINHASH_ORACLE)
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, jaccard ≥ 0.5. The oracle is the exact
    all-pairs Jaccard answer: with 32 hashes / 8 bands and every true pair
    at jaccard ≥ 0.9 in this corpus, LSH recall is 1 - (1-j⁴)⁸ > 0.9998 per
    pair, and the exact-Jaccard verify step removes all false positives —
    so the approximate pipeline IS exact here (verified at sf0.01/sf0.1)."""
    pairs = minhash_near_dup(
        T(spark, sf_dir, "documents"), num_hashes=32, bands=8, threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


# Connected components of the exact near-dup graph, via a recursive CTE:
# reach(n, m) holds for every m in n's component (edges are symmetrized),
# so min(m) per n is the component's canonical (smallest) id.
_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE sh AS (SELECT doc_id, {_DUCK_SHINGLES_K3} AS s FROM documents),
    {_duck_jaccard_pairs("sh")},
    apairs AS (
      SELECT id_a, id_b FROM pairs
      WHERE inter / CAST(la + lb - inter AS DOUBLE) >= 0.5),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM apairs
      UNION
      SELECT id_b, id_a FROM apairs),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)
    SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id
"""


@q("q_dedup_clusters", _CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical dedup groups: MinHash near-dup pairs (exact at these
    params, see q_minhash_neardup) → connected components via iterative
    min-label propagation. The oracle computes the same components from
    the exact all-pairs Jaccard graph with a recursive CTE."""
    from astro_sdk_spark.functions.dedup import minhash_near_dup, near_dup_clusters

    pairs = minhash_near_dup(
        T(spark, sf_dir, "documents"), num_hashes=32, bands=8, threshold=0.5
    )
    return near_dup_clusters(pairs)


# SimHash replicated bit-for-bit: 60-bit md5-derived shingle hash, per-bit
# ±1 votes, 4×16-bit block LSH, exact hamming verify.
_SIMHASH_ORACLE = f"""
    WITH toks AS (SELECT doc_id, {_DUCK_SHINGLES_K2} AS s FROM documents),
    sh AS (SELECT doc_id, unnest(s) AS g FROM toks),
    h AS (SELECT doc_id,
                 CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS h
          FROM sh),
    votes AS (
      SELECT doc_id, t.b AS b,
             sum(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN range(60) t(b) GROUP BY doc_id, t.b),
    sim AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
      FROM votes GROUP BY doc_id),
    blocked AS (
      SELECT doc_id, simhash, t.b AS block,
             (simhash >> (t.b * 16)) & 65535 AS key
      FROM sim CROSS JOIN range(4) t(b)),
    cands AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS ha, b.simhash AS hb
      FROM blocked a JOIN blocked b USING (block, key)
      WHERE a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cands WHERE bit_count(xor(ha, hb)) <= 8
"""


@q("q_simhash_neardup", _SIMHASH_ORACLE)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with the md5-derived 60-bit hash (cross-engine
    deterministic) so the DuckDB oracle replicates signatures bit-for-bit.
    The xxhash64 variant (hash_fn default) is the faster production path
    with identical plan shape."""
    pairs = simhash_near_dup(
        T(spark, sf_dir, "documents"), max_hamming=8, hash_fn="md5"
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _duck_lang_scores() -> str:
    from astro_sdk_spark.functions.text import _LANG_MARKERS

    parts = []
    for lang, markers in _LANG_MARKERS.items():
        arr = "[" + ", ".join("'" + m + "'" for m in markers) + "]"
        parts.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"len(list_filter(w, t -> list_contains({arr}, t))) AS hits FROM toks"
        )
    return " UNION ALL ".join(parts)


_LANG_ID_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    scores AS ({_duck_lang_scores()}),
    best AS (
      SELECT doc_id, lang, hits,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
      FROM scores)
    SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred
    FROM best WHERE rn = 1
"""


@q("q_lang_id", _LANG_ID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID. array_max over (hits, lang) structs picks
    max hits with lexicographically-largest lang tiebreak — mirrored by the
    oracle's ORDER BY hits DESC, lang DESC."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(F.col("text")).alias("lang_pred"))


_EMB_DIM = 64  # fixed by the testdata generator (all SFs)


def _duck_band_sigs(bits: int, bands: int, seed: int) -> str:
    """DuckDB expression list replicating banded_signatures: the hyperplanes
    are the same driver-computed literals the Spark plan broadcasts."""
    from astro_sdk_spark.functions.similarity import random_hyperplanes

    flat = random_hyperplanes(_EMB_DIM, bits * bands, seed)
    structs = []
    for b in range(bands):
        terms = []
        for i in range(bits):
            plane = "[" + ", ".join(repr(x) for x in flat[b * bits + i]) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(embedding, {plane}) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        structs.append(f"{{'band': {b}, 'sig': {' + '.join(terms)}}}")
    return "[" + ", ".join(structs) + "]"


def _ann_lsh_ctes(bits: int, bands: int, seed: int) -> str:
    return f"""
    sigs AS (
      SELECT vec_id, embedding, unnest({_duck_band_sigs(bits, bands, seed)}) AS u
      FROM embeddings),
    flat AS (SELECT vec_id, u.band AS band, u.sig AS sig FROM sigs),
    qb AS (SELECT * FROM flat WHERE vec_id < 8),
    cands AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
      FROM qb q JOIN flat c USING (band, sig) WHERE q.vec_id <> c.vec_id),
    scored AS (
      SELECT query_id, cand_id,
             round(list_cosine_similarity(
               CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])), 4) AS cosine
      FROM cands
      JOIN embeddings qe ON qe.vec_id = query_id
      JOIN embeddings ce ON ce.vec_id = cand_id),
    ranked AS (
      SELECT query_id, cand_id, cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      FROM scored)"""


_ANN_LSH_ORACLE = f"""
    WITH {_ann_lsh_ctes(8, 4, 42)}
    SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 10
"""


@q("q_ann_lsh", _ANN_LSH_ORACLE)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN. The oracle replicates the full pipeline (signatures
    from the same inlined hyperplanes, bucket join, exact rescore) — it
    checks the implementation, while q_ann_recall quantifies retrieval
    quality against the exact baseline."""
    emb = T(spark, sf_dir, "embeddings")
    return lsh_bucket_join(
        emb.filter(F.col("vec_id") < 8), emb, dim=_EMB_DIM,
        bits=8, bands=4, k=10, round_digits=4,
    )


_ANN_RECALL_ORACLE = f"""
    WITH {_ann_lsh_ctes(8, 4, 42)},
    lsh AS (SELECT query_id, cand_id FROM ranked WHERE rank <= 10),
    ex_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(
               CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS cosine
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 8),
    ex_ranked AS (
      SELECT query_id, cand_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      FROM ex_scored)
    SELECT e.query_id,
           round(count(l.cand_id) / CAST(count(*) AS DOUBLE), 4) AS recall
    FROM ex_ranked e
    LEFT JOIN lsh l ON l.query_id = e.query_id AND l.cand_id = e.cand_id
    WHERE e.rank <= 10
    GROUP BY e.query_id
"""


@q("q_ann_recall", _ANN_RECALL_ORACLE)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the LSH ANN path vs the exact brute-force baseline —
    the quality metric VERDICT asked the ANN path to report."""
    emb = T(spark, sf_dir, "embeddings")
    return ann_recall(
        emb.filter(F.col("vec_id") < 8), emb, dim=_EMB_DIM, bits=8, bands=4, k=10
    )


# --------------------------------------------------------------------------
# Avro container round-trip — the §2.4 format-matrix extension (avro.py).
# documents.parquet → single-file .avro (stdlib writer, deflate) →
# split-parallel distributed read → aggregate; the oracle aggregates the
# same rows straight from parquet, so a green hash proves the whole codec
# (zigzag varints, block framing, deflate, sync-scan splits) end-to-end.

_AVRO_ORACLE = """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(length(text)) AS BIGINT) AS total_text_len
    FROM documents GROUP BY lang
"""


@q("q_load_avro", _AVRO_ORACLE)
def q_load_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro ingest path (engine.py read_file AVRO branch → avro.py
    read_avro_distributed): stage the documents table as one Avro
    container file, read it back split-parallel, aggregate per lang.
    Staged fresh on every call — the writer is deterministic and the
    corpus is small relative to the queries that scan it repeatedly."""
    import tempfile

    from astro_sdk_spark.avro import (
        read_avro_distributed,
        spark_to_avro_schema,
        write_avro,
    )

    docs = T(spark, sf_dir, "documents")
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    stage = os.path.join(tempfile.gettempdir(), f"astro_avro_stage_{sf_tag}.avro")
    tmp = stage + ".tmp"
    schema = spark_to_avro_schema(docs.schema, name="documents")
    write_avro(
        tmp,
        (r.asDict() for r in docs.toLocalIterator()),
        schema,
        codec="deflate",
    )
    os.replace(tmp, stage)
    back = read_avro_distributed(spark, stage)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_len"),
    )


_IVF_ORACLE = """
    WITH cent AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < 16),
    cand AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assign_scored AS (
      SELECT cand_id, cent_id,
             row_number() OVER (
               PARTITION BY cand_id
               ORDER BY round(list_cosine_similarity(v, cvec), 4) DESC, cent_id) AS rk
      FROM cand CROSS JOIN cent),
    assigned AS (SELECT cand_id, cent_id FROM assign_scored WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 8),
    probe_scored AS (
      SELECT query_id, cent_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, cvec), 4) DESC, cent_id) AS rk
      FROM q CROSS JOIN cent),
    probes AS (SELECT query_id, cent_id FROM probe_scored WHERE rk <= 4),
    pairs AS (
      SELECT DISTINCT p.query_id, a.cand_id
      FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
      WHERE p.query_id <> a.cand_id),
    scored AS (
      SELECT pr.query_id, pr.cand_id,
             round(list_cosine_similarity(q.qv, c.v), 4) AS cosine
      FROM pairs pr
      JOIN q ON q.query_id = pr.query_id
      JOIN cand c ON c.cand_id = pr.cand_id),
    ranked AS (
      SELECT query_id, cand_id, cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      FROM scored)
    SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 10
"""


@q("q_ivf_topk", _IVF_ORACLE)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: inverted lists under cosine-nearest centroid
    assignment, queries probe their 4 nearest of 16 centroids (here a
    deterministic id-sample; k-means slots into the same contract). The
    oracle replicates assignment, probing, and rescoring exactly."""
    from astro_sdk_spark.functions.similarity import ivf_topk

    emb = T(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.filter(F.col("vec_id") < 8),
        emb,
        centroids=emb.filter(F.col("vec_id") < 16),
        nprobe=4,
        k=10,
    )


@q("q_ann_persist", _IVF_ORACLE)
def q_ann_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANN index (functions/ann_index.py): centroids + inverted
    lists live as managed tables; the corpus is indexed in TWO disjoint
    batches (build on even ids, ann_index_add on odd ids) and queried
    from storage. The oracle is the ONE-SHOT IVF computation over the
    full corpus (same as q_ivf_topk) — hash equality proves incremental
    add is exactly equivalent to a full rebuild, the property that lets a
    100 TB similarity service index new data without rescanning the
    corpus."""
    from astro_sdk_spark.functions.ann_index import (
        ann_index_add,
        ann_index_topk,
        build_ann_index,
        drop_ann_index,
    )

    emb = T(spark, sf_dir, "embeddings")
    idx = "q_ann_idx"
    drop_ann_index(spark, idx)
    build_ann_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0), idx,
        centroids=emb.filter(F.col("vec_id") < 16),
    )
    ann_index_add(spark, emb.filter(F.col("vec_id") % 2 == 1), idx)
    return ann_index_topk(
        spark, emb.filter(F.col("vec_id") < 8), idx, nprobe=4, k=10
    )


_EMB_NEARDUP_ORACLE = f"""
    WITH sigs AS (
      SELECT vec_id, embedding, unnest({{SIGS}}) AS u
      FROM embeddings),
    flat AS (SELECT vec_id, embedding, u.band AS band, u.sig AS sig FROM sigs),
    cands AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(a.embedding AS DOUBLE[]) AS ea, CAST(b.embedding AS DOUBLE[]) AS eb
      FROM flat a JOIN flat b USING (band, sig) WHERE a.vec_id < b.vec_id)
    SELECT id_a, id_b,
           round(list_cosine_similarity(ea, eb), 4) AS cosine
    FROM cands WHERE list_cosine_similarity(ea, eb) >= 0.25
"""


@q("q_embedding_neardup", None)  # oracle attached below after helper defined
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via hyperplane-LSH banding; oracle
    replicates the pipeline with the same inlined hyperplanes. Threshold is
    low (0.25) because this corpus has no engineered embedding near-dups
    (max pairwise cosine ≈ 0.51) — the check exercises the bucketing +
    rescore machinery on real collisions."""
    from astro_sdk_spark.functions.dedup import embedding_near_dup

    emb = T(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup(
        emb, dim=_EMB_DIM, threshold=0.25, bits=6, bands=8, seed=42
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


_REGISTRY["q_embedding_neardup"] = (
    q_embedding_neardup,
    _EMB_NEARDUP_ORACLE.replace("{SIGS}", _duck_band_sigs(6, 8, 42)),
)


# --------------------------------------------------------------------------
# 10. Training-pipeline sampling, splitting, and sequence packing
# (functions/sampling.py — deterministic md5-bucket decisions, so the
# oracle reproduces them bit-for-bit; see module docstring for the
# engine-portable hash construction)

_DUCK_BUCKET = (
    "CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)||'{salt}'),1,15) AS BIGINT)"
    " % {gran}"
)


@q(
    "q_train_split",
    f"""
    WITH b AS (
      SELECT n_chars,
             {_DUCK_BUCKET.format(salt="v1", gran=10000)} AS bucket
      FROM documents),
    labeled AS (
      SELECT CASE WHEN bucket < 9000 THEN 'train'
                  WHEN bucket < 9500 THEN 'val'
                  ELSE 'test' END AS split, n_chars
      FROM b)
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM labeled GROUP BY split
    """,
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-keyed train/val/test split (90/5/5) + per-split
    yield. Pure projection + one count shuffle; rows never migrate between
    splits when the corpus grows (unlike randomSplit)."""
    from astro_sdk_spark.functions.sampling import deterministic_split

    d = T(spark, sf_dir, "documents")
    out = deterministic_split(
        d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, salt="v1"
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@q(
    "q_stratified_sample",
    f"""
    WITH b AS (
      SELECT source,
             {_DUCK_BUCKET.format(salt="mix", gran=10000)} AS bucket
      FROM documents)
    SELECT source, count(*) AS n_docs FROM b
    WHERE bucket < CASE source WHEN 'src0' THEN 10000
                               WHEN 'src1' THEN 5000
                               WHEN 'src2' THEN 2500
                               ELSE 1000 END
    GROUP BY source
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: keep a deterministic per-source
    fraction (src0 100%, src1 50%, src2 25%, rest 10%). One filter riding
    whole-stage codegen; no shuffle before the final count."""
    from astro_sdk_spark.functions.sampling import stratified_sample

    d = T(spark, sf_dir, "documents")
    kept = stratified_sample(
        d, "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        key_col="doc_id", default_fraction=0.1, salt="mix",
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


@q(
    "q_seq_packing",
    f"""
    WITH t AS (
      SELECT doc_id, array_length(string_split(text, ' ')) AS n_tokens,
             {_DUCK_BUCKET.format(salt="pk", gran=8)} AS bucket
      FROM documents),
    w AS (
      SELECT bucket, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - n_tokens AS tape_start
      FROM t),
    p AS (
      SELECT bucket, n_tokens,
             CAST(floor(tape_start / 2048) AS BIGINT) AS chunk,
             tape_start - CAST(floor(tape_start / 2048) AS BIGINT) * 2048
               AS pack_offset
      FROM w)
    SELECT bucket, count(DISTINCT chunk) AS n_packs, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           max(pack_offset) AS max_offset
    FROM p GROUP BY bucket
    """,
)
def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style 2048-token windows)
    over 8 independent hash-bucket tapes, summarized per bucket. One hash
    shuffle + per-bucket window sort — no global sort at any scale."""
    from astro_sdk_spark.functions.sampling import concat_chunk_pack

    d = T(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " "))
    )
    packed = concat_chunk_pack(
        d, "doc_id", "n_tokens", budget=2048, n_buckets=8, salt="pk"
    )
    return packed.groupBy("bucket").agg(
        F.countDistinct("pack_id").alias("n_packs"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max("pack_offset").alias("max_offset"),
    )


# --------------------------------------------------------------------------
# End-to-end dedup keep-list + parameter-plumbing variants


_KEEPLIST_ORACLE = f"""
    WITH RECURSIVE reps AS (
      SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
    sh AS (SELECT doc_id, {_DUCK_SHINGLES_K3} AS s FROM reps),
    {_duck_jaccard_pairs("sh")},
    apairs AS (
      SELECT id_a, id_b FROM pairs
      WHERE inter / CAST(la + lb - inter AS DOUBLE) >= 0.5),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM apairs
      UNION
      SELECT id_b, id_a FROM apairs),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
    comp AS (SELECT id, min(label) AS lbl FROM reach GROUP BY id)
    SELECT r.doc_id FROM reps r LEFT JOIN comp c ON r.doc_id = c.id
    WHERE c.id IS NULL OR c.lbl = r.doc_id
"""


@q("q_dedup_keeplist", _KEEPLIST_ORACLE)
def q_dedup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical keep-list: exact dedup → MinHash near-dup clusters → keep
    min id per cluster ∪ singletons (functions/dedup.py:dedup_corpus).
    Oracle recomputes it from the exact all-pairs Jaccard graph (LSH is
    exact at these params — see q_minhash_neardup)."""
    from astro_sdk_spark.functions.dedup import dedup_corpus

    return dedup_corpus(
        T(spark, sf_dir, "documents"), num_hashes=32, bands=8, threshold=0.5
    )


@q("q_neardup_renamed_cols", _MINHASH_ORACLE)
def q_neardup_renamed_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup pipeline through NON-default id/text column names —
    exercises the parameter plumbing end-to-end against the same exact
    oracle as q_minhash_neardup (results must be identical)."""
    d = T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("ident"), F.col("text").alias("body")
    )
    pairs = minhash_near_dup(
        d, text_col="body", id_col="ident", num_hashes=32, bands=8, threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


# --------------------------------------------------------------------------
# Corpus-cleaning extensions: PII redaction, decontamination, repetition

# The synthetic corpus has no PII, so both engines inject identical
# deterministic PII strings first — the oracle then replays the exact
# RE2-compatible patterns from functions/cleaning.py.
_PII_INJECT_SPARK = (
    "concat(text, case when doc_id % 3 = 0 then "
    "concat(' contact u', cast(doc_id as string), '@example.com on 10.0.0.', "
    "cast(doc_id % 256 as string)) else '' end, "
    "case when doc_id % 5 = 0 then ' ssn 123-45-6789 or call +1 555 123 4567' "
    "else '' end)"
)
_PII_INJECT_DUCK = (
    "text || CASE WHEN doc_id % 3 = 0 THEN "
    "' contact u' || CAST(doc_id AS VARCHAR) || '@example.com on 10.0.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) ELSE '' END || "
    "CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789 or call +1 555 123 4567' "
    "ELSE '' END"
)


def _duck_pii_oracle() -> str:
    from astro_sdk_spark.functions.cleaning import PII_PATTERNS

    email, ipv4, ssn, phone = (
        PII_PATTERNS["email"],
        PII_PATTERNS["ipv4"],
        PII_PATTERNS["ssn"],
        PII_PATTERNS["phone"],
    )
    red = f"regexp_replace(t, '{email}', '[email]', 'g')"
    red = f"regexp_replace({red}, '{ipv4}', '[ipv4]', 'g')"
    red = f"regexp_replace({red}, '{ssn}', '[ssn]', 'g')"
    red = f"regexp_replace({red}, '{phone}', '[phone]', 'g')"
    return f"""
    WITH inj AS (SELECT doc_id, {_PII_INJECT_DUCK} AS t FROM documents),
    c AS (
      SELECT doc_id, {red} AS text_redacted,
             len(regexp_extract_all(t, '{email}')) AS n_email,
             len(regexp_extract_all(t, '{ipv4}')) AS n_ipv4,
             len(regexp_extract_all(t, '{ssn}')) AS n_ssn,
             len(regexp_extract_all(t, '{phone}')) AS n_phone
      FROM inj)
    SELECT doc_id, text_redacted,
           CAST(n_email AS BIGINT) AS n_email,
           CAST(n_ipv4 AS BIGINT) AS n_ipv4,
           CAST(n_ssn AS BIGINT) AS n_ssn,
           CAST(n_phone AS BIGINT) AS n_phone,
           CAST(n_email + n_ipv4 + n_ssn + n_phone AS BIGINT) AS n_pii
    FROM c WHERE n_email + n_ipv4 + n_ssn + n_phone > 0
    """


@q("q_pii_redaction", _duck_pii_oracle())
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/cleaning.py:redact_pii): deterministic PII
    injected identically in both engines, then the same RE2-safe patterns
    redact + count per kind. Returns only docs that had PII."""
    from astro_sdk_spark.functions.cleaning import redact_pii

    d = T(spark, sf_dir, "documents").withColumn(
        "text", F.expr(_PII_INJECT_SPARK)
    )
    out = redact_pii(d)
    return out.filter(F.col("n_pii") > 0).select(
        "doc_id",
        F.col("text_redacted"),
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_ssn").cast("long").alias("n_ssn"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_pii").cast("long").alias("n_pii"),
    )


_DECONTAM_ORACLE = f"""
    WITH sh AS (SELECT doc_id, {_DUCK_SHINGLES_K3} AS s FROM documents),
    bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
    corp AS (
      SELECT doc_id, unnest(list_distinct(s)) AS g FROM sh
      WHERE doc_id % 97 <> 0)
    SELECT doc_id, count(*) AS n_benchmark_ngrams
    FROM corp JOIN bench USING (g) GROUP BY doc_id
"""


@q("q_decontaminate", _DECONTAM_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (functions/cleaning.py:decontaminate):
    every 97th doc acts as the 'eval set'; corpus docs sharing any distinct
    3-gram with it are flagged with their overlap count. Broadcast semi-
    join shape — benchmark n-gram sets are tiny at any corpus scale."""
    from astro_sdk_spark.functions.cleaning import decontaminate

    d = T(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench)


_REPETITION_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\\s+') AS tk
      FROM documents),
    sh AS (SELECT doc_id, {_DUCK_SHINGLES_K3_RAW} AS s FROM documents),
    g AS (SELECT doc_id, unnest(s) AS gm FROM sh),
    freq AS (SELECT doc_id, gm, count(*) AS c FROM g GROUP BY doc_id, gm),
    top AS (
      SELECT doc_id, max(c) AS topc, CAST(sum(c) AS BIGINT) AS ng,
             count(*) AS nd
      FROM freq GROUP BY doc_id)
    SELECT t.doc_id,
           round(1.0 - len(list_distinct(tk)) / CAST(len(tk) AS DOUBLE), 4)
             AS dup_token_frac,
           round((ng - nd) / CAST(ng AS DOUBLE), 4) AS dup_ngram_frac,
           round(topc / CAST(ng AS DOUBLE), 4) AS top_ngram_frac
    FROM toks t JOIN top USING (doc_id)
"""


@q("q_repetition_stats", _REPETITION_ORACLE)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition metrics (Gopher-style rules) in one
    projection pass; the top-n-gram count is a sorted-array linear fold,
    never the O(n²) per-gram rescan. Oracle recomputes via explode +
    group-count."""
    from astro_sdk_spark.functions.cleaning import repetition_stats

    return repetition_stats(T(spark, sf_dir, "documents"))


_LINE_DEDUP_ORACLE = """
    WITH chunked AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 range(1, CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) + 1),
                 i -> array_to_string(
                        string_split(text, ' ')[(i-1)*8+1 : i*8], ' ')
               ), chr(10)) AS t2
      FROM documents),
    lines AS (
      SELECT doc_id,
             unnest(string_split(t2, chr(10))) AS line,
             generate_subscripts(string_split(t2, chr(10)), 1) AS pos
      FROM chunked),
    marked AS (
      SELECT doc_id, pos, line,
             (row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
              OR length(line) < 1) AS keep
      FROM lines)
    SELECT doc_id,
           coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE keep), '') AS text,
           count(*) AS n_lines,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept
    FROM marked GROUP BY doc_id
"""


@q("q_line_dedup", _LINE_DEDUP_ORACLE)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level corpus dedup (functions/cleaning.py:line_dedup):
    drop every duplicate occurrence of a line corpus-wide, keep the first
    (lowest id, position), reassemble documents in order. The synthetic
    corpus has no newlines, so both engines first chunk each text into
    deterministic 8-token lines — the dedup machinery under test is
    identical to what a real multi-line crawl would see (~5% of lines at
    sf0.01 are corpus-level duplicates, from the planted near-dup docs)."""
    from astro_sdk_spark.functions.cleaning import line_dedup

    docs = T(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    nl = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(1), nl),
        lambda i: F.array_join(F.slice(toks, (i - 1) * 8 + 1, 8), " "),
    )
    chunked = docs.select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    return line_dedup(chunked)


# --------------------------------------------------------------------------
# Product quantization (functions/pq.py): encode + ADC top-k.
# Codebooks here are the subvectors of the 16 lowest vec_ids (deterministic,
# same device as q_ivf_topk's id-sample centroids) so the oracle can rebuild
# them; the k-means-trained path is exercised in tests/test_pq.py.

_PQ_ORACLE = """
    WITH cwsrc AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 16),
    cb AS (
      SELECT s.s AS sub, code_id,
             list_slice(v, s.s*16 + 1, s.s*16 + 16) AS cvec
      FROM cwsrc CROSS JOIN range(4) s(s)),
    docs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subv AS (
      SELECT vec_id, s.s AS sub, list_slice(v, s.s*16 + 1, s.s*16 + 16) AS sv
      FROM docs CROSS JOIN range(4) s(s)),
    dists AS (
      SELECT d.vec_id, d.sub, cb.code_id,
             list_sum(list_transform(range(1, 17),
                      i -> (d.sv[i] - cb.cvec[i]) * (d.sv[i] - cb.cvec[i])))
               AS dist
      FROM subv d JOIN cb USING (sub)),
    codes AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn
        FROM dists) WHERE rn = 1),
    qd AS (
      SELECT s.vec_id AS query_id, cb.sub, cb.code_id,
             list_sum(list_transform(range(1, 17),
                      i -> (s.sv[i] - cb.cvec[i]) * (s.sv[i] - cb.cvec[i])))
               AS qdist
      FROM subv s JOIN cb USING (sub) WHERE s.vec_id < 8),
    adc AS (
      SELECT qd.query_id, c.vec_id, sum(qd.qdist) AS adist
      FROM codes c JOIN qd ON c.sub = qd.sub AND c.code_id = qd.code_id
      GROUP BY qd.query_id, c.vec_id),
    ranked AS (
      SELECT query_id, vec_id, round(adist, 4) AS adist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY round(adist, 4), vec_id) AS rank
      FROM adc)
    SELECT query_id, vec_id, adist, rank FROM ranked WHERE rank <= 10
"""


@q("q_pq_topk", _PQ_ORACLE)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: encode every embedding into 4 sub-codes
    (16 codewords each), then ADC top-10 for 8 queries. The oracle
    replicates encode + table-lookup scoring exactly from the same
    deterministic codebooks."""
    from astro_sdk_spark.functions.pq import pq_encode, pq_topk

    emb = T(spark, sf_dir, "embeddings")
    cw = (
        emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    m, dsub = 4, 16
    codebooks = [
        [[float(r.embedding[s * dsub + t]) for t in range(dsub)] for r in cw]
        for s in range(m)
    ]
    codes = pq_encode(emb, codebooks)
    return pq_topk(codes, codebooks, emb.filter(F.col("vec_id") < 8), k=10)


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup): nearest-centroid clustering + within-cluster
# pairwise cosine. Centroids = the 16 lowest vec_ids (the same deterministic
# device as q_ivf_topk) so the oracle replicates assignment exactly; the
# k-means-trained path is exercised in tests.

_SEMANTIC_ORACLE = """
    WITH cent AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < 16),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assign_scored AS (
      SELECT vec_id, cent_id,
             row_number() OVER (
               PARTITION BY vec_id
               ORDER BY round(list_cosine_similarity(v, cvec), 4) DESC,
                        cent_id) AS rk
      FROM v CROSS JOIN cent),
    assigned AS (SELECT vec_id, cent_id FROM assign_scored WHERE rk = 1),
    m AS (SELECT a.cent_id, v.vec_id, v.v FROM v JOIN assigned a USING (vec_id)),
    pairs AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             round(list_cosine_similarity(x.v, y.v), 4) AS cosine
      FROM m x JOIN m y
        ON x.cent_id = y.cent_id AND x.vec_id < y.vec_id)
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.2
"""


@q("q_semantic_dedup", _SEMANTIC_ORACLE)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-dup (functions/dedup.py:semantic_dedup):
    nearest-of-16-centroids assignment (broadcast, the IVF build pass),
    then within-cluster pairwise cosine >= 0.2. Threshold is low because
    this corpus has no engineered embedding near-dups (max pairwise cosine
    ~0.51) — the check exercises clustering + co-partitioned pairing on
    real collisions."""
    from astro_sdk_spark.functions.dedup import semantic_dedup

    emb = T(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, centroids=emb.filter(F.col("vec_id") < 16), threshold=0.2
    )


_TFIDF_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS dft FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dft), 4) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tf, tfidf,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, tf, CAST(rank AS BIGINT) AS rank, tfidf
    FROM ranked WHERE rank <= 3
"""


@q("q_tfidf", _TFIDF_ORACLE)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (functions/text.py:tf_idf):
    tokenize once, three key-partitioned shuffles (tf groupBy, term-window
    document frequency, per-doc rank), corpus N broadcast as a one-row
    aggregate. Oracle recomputes the identical unsmoothed formula."""
    from astro_sdk_spark.functions.text import tf_idf

    out = tf_idf(T(spark, sf_dir, "documents"), top_n=3)
    return out.select(
        "doc_id", "term", "tf", F.col("rank").cast("long").alias("rank"), "tfidf"
    )


@q(
    "q_domain_mix",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {_DUCK_BUCKET.format(salt="mix", gran=10000)}
          < CAST((CASE source WHEN 'src0' THEN 0.5
                              WHEN 'src1' THEN 0.25
                              WHEN 'src2' THEN 0.0
                              ELSE 1.0 END) * 10000 AS BIGINT)
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture rebalancing (functions/sampling.py:domain_mix):
    keep 50% of src0, 25% of src1, none of src2, all else — decisions are
    pure hash-bucket projections, so the oracle reproduces exact
    membership, not just proportions."""
    from astro_sdk_spark.functions.sampling import domain_mix

    docs = T(spark, sf_dir, "documents")
    return domain_mix(
        docs, rates={"src0": 0.5, "src1": 0.25, "src2": 0.0}, salt="mix"
    ).select("doc_id", "source")


_LM_SCORE_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents),
    model AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
    tot AS (SELECT sum(c) AS T, count(*) AS V FROM model),
    lp AS (
      SELECT t.doc_id,
             ln((coalesce(m.c, 0) + 1.0) / (tot.T + 1.0 * (tot.V + 1))) AS lp
      FROM toks t LEFT JOIN model m USING (term) CROSS JOIN tot)
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(lp), 4) AS avg_logprob,
           round(exp(-avg(lp)), 4) AS perplexity
    FROM lp GROUP BY doc_id
"""


@q("q_lm_score", _LM_SCORE_ORACLE)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (functions/text.py:lm_score): add-1
    unigram model fit on the corpus, every document scored by mean token
    log-prob + perplexity. Model build and scoring are term-keyed
    shuffles; normalizers ride in as a one-row broadcast aggregate."""
    from astro_sdk_spark.functions.text import lm_score

    return lm_score(T(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# IVF-PQ composition (IVFADC): coarse inverted lists + PQ codes, query
# ADC-scans only its probed lists. Oracle = q_ivf_topk's assignment/probes
# (rounded-cosine rank) + q_pq_topk's encode/table-lookup, with the ADC
# join restricted to (query, probed-cent) pairs. Self-matches kept (the
# pq_topk contract — a vector's ADC distance to its own code is nonzero).

_IVFPQ_ORACLE = """
    WITH cent AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < 16),
    docs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assign_scored AS (
      SELECT d.vec_id AS cand_id, cent_id,
             row_number() OVER (
               PARTITION BY d.vec_id
               ORDER BY round(list_cosine_similarity(v, cvec), 4) DESC, cent_id) AS rk
      FROM docs d CROSS JOIN cent),
    assigned AS (SELECT cand_id, cent_id FROM assign_scored WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 8),
    probe_scored AS (
      SELECT query_id, cent_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, cvec), 4) DESC, cent_id) AS rk
      FROM q CROSS JOIN cent),
    probes AS (SELECT query_id, cent_id FROM probe_scored WHERE rk <= 4),
    cwsrc AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 16),
    cb AS (
      SELECT s.s AS sub, code_id,
             list_slice(v, s.s*16 + 1, s.s*16 + 16) AS cvec
      FROM cwsrc CROSS JOIN range(4) s(s)),
    subv AS (
      SELECT vec_id, s.s AS sub, list_slice(v, s.s*16 + 1, s.s*16 + 16) AS sv
      FROM docs CROSS JOIN range(4) s(s)),
    dists AS (
      SELECT d.vec_id, d.sub, cb.code_id,
             list_sum(list_transform(range(1, 17),
                      i -> (d.sv[i] - cb.cvec[i]) * (d.sv[i] - cb.cvec[i])))
               AS dist
      FROM subv d JOIN cb USING (sub)),
    codes AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn
        FROM dists) WHERE rn = 1),
    qd AS (
      SELECT s.vec_id AS query_id, cb.sub, cb.code_id,
             list_sum(list_transform(range(1, 17),
                      i -> (s.sv[i] - cb.cvec[i]) * (s.sv[i] - cb.cvec[i])))
               AS qdist
      FROM subv s JOIN cb USING (sub) WHERE s.vec_id < 8),
    adc AS (
      SELECT p.query_id, c.vec_id, sum(qd.qdist) AS adist
      FROM codes c
      JOIN assigned a ON a.cand_id = c.vec_id
      JOIN probes p ON p.cent_id = a.cent_id
      JOIN qd ON qd.sub = c.sub AND qd.code_id = c.code_id
             AND qd.query_id = p.query_id
      GROUP BY p.query_id, c.vec_id),
    ranked AS (
      SELECT query_id, vec_id, round(adist, 4) AS adist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY round(adist, 4), vec_id) AS rank
      FROM adc)
    SELECT query_id, vec_id, adist, rank FROM ranked WHERE rank <= 10
"""


@q("q_ivfpq_topk", _IVFPQ_ORACLE)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ / IVFADC (functions/pq.py:ivfpq_topk): candidates live as
    (cent_id, pq_code) inverted lists; 8 queries probe their 4 nearest of
    16 centroids and ADC-scan only those lists. Same deterministic
    codebook/centroid devices as q_pq_topk / q_ivf_topk so the oracle
    replicates every stage."""
    from astro_sdk_spark.functions.pq import ivfpq_topk

    emb = T(spark, sf_dir, "embeddings")
    cw = (
        emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    m, dsub = 4, 16
    codebooks = [
        [[float(r.embedding[s * dsub + t]) for t in range(dsub)] for r in cw]
        for s in range(m)
    ]
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 8),
        emb,
        centroids=emb.filter(F.col("vec_id") < 16),
        codebooks=codebooks,
        nprobe=4,
        k=10,
    )


_ANN_STATS_ORACLE = """
    WITH cent AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < 16),
    cand AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
    assign_scored AS (
      SELECT cand_id, cent_id,
             row_number() OVER (
               PARTITION BY cand_id
               ORDER BY round(list_cosine_similarity(v, cvec), 4) DESC,
                        cent_id) AS rk
      FROM cand CROSS JOIN cent),
    assigned AS (SELECT cand_id, cent_id FROM assign_scored WHERE rk = 1),
    counts AS (
      SELECT cent_id, count(*) AS n_rows FROM assigned GROUP BY cent_id),
    tot AS (
      SELECT sum(n_rows) AS total, avg(n_rows) AS mean FROM counts)
    SELECT cent_id, n_rows,
           round(CAST(n_rows AS DOUBLE) / total, 6) AS frac,
           round(CAST(n_rows AS DOUBLE) / mean, 4) AS imbalance
    FROM counts CROSS JOIN tot
"""


@q("q_ann_stats", _ANN_STATS_ORACLE)
def q_ann_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index health report (functions/ann_index.py:
    ann_index_stats): per-list row counts, corpus fraction, and
    imbalance vs the mean list — the maintenance diagnostic that decides
    when to compact (file growth) or retrain (hot centroids). The oracle
    recomputes the full assignment (argmax rounded cosine, lowest-id
    tiebreak — the shared IVF determinism contract) and the same
    normalized stats in SQL; the ``files`` column is physical layout,
    not data, so it stays outside the hash (pinned by the compaction
    payoff test instead)."""
    from astro_sdk_spark.functions.ann_index import (
        ann_index_stats,
        build_ann_index,
        drop_ann_index,
    )

    emb = T(spark, sf_dir, "embeddings")
    idx = "q_ann_stats_idx"
    drop_ann_index(spark, idx)
    build_ann_index(spark, emb, idx, centroids=emb.filter(F.col("vec_id") < 16))
    return ann_index_stats(spark, idx).select(
        "cent_id", F.col("rows").alias("n_rows"), "frac", "imbalance"
    )


@q("q_annpq_persist", _IVFPQ_ORACLE)
def q_annpq_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ index (functions/ann_index.py, kind='pq'): the
    inverted lists hold PQ CODES — bytes per vector, the IVFADC layout a
    100 TB similarity service actually stores — partitioned by cent_id,
    with codebooks/centroids/meta as sibling tables. The corpus is
    indexed in TWO disjoint batches (build on even ids, ann_index_add on
    odd ids) and queried from storage through the shared ADC scan
    (pq.py:ivfpq_scan_lists). The oracle is the ONE-SHOT IVFPQ
    computation (q_ivfpq_topk's) — hash equality proves incremental
    add == full rebuild for the coded index too."""
    from astro_sdk_spark.functions.ann_index import (
        ann_index_add,
        ann_index_topk,
        build_ann_index,
        drop_ann_index,
    )

    emb = T(spark, sf_dir, "embeddings")
    cw = (
        emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    m, dsub = 4, 16
    codebooks = [
        [[float(r.embedding[s * dsub + t]) for t in range(dsub)] for r in cw]
        for s in range(m)
    ]
    idx = "q_annpq_idx"
    drop_ann_index(spark, idx)
    build_ann_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0), idx,
        centroids=emb.filter(F.col("vec_id") < 16), codebooks=codebooks,
    )
    ann_index_add(spark, emb.filter(F.col("vec_id") % 2 == 1), idx)
    return ann_index_topk(
        spark, emb.filter(F.col("vec_id") < 8), idx, nprobe=4, k=10
    )


# --------------------------------------------------------------------------
# Trained k-means centroids under the oracle gate: seeds are an explicit,
# engine-agnostic id set (stride 31 — present at every SF), and the oracle
# unrolls both Lloyd iterations in SQL: assign by argmax over the cosine
# ROUNDED to 4 digits (ties → lowest cent_id), mirroring the trainer's
# np.round-before-argmax determinism contract — raw unrounded dots would
# let a ~1e-16 matmul-vs-list_sum summation difference flip a near-tied
# assignment. Elementwise mean of raw vectors per cluster, renormalize;
# empty clusters keep their previous centroid (LEFT JOIN + CASE).

_IVF_TRAINED_SEEDS = [31 * i for i in range(16)]

_IVF_TRAINED_ORACLE = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent_id, v
      FROM v WHERE vec_id % 31 = 0 AND vec_id <= 465),
    c0 AS (
      SELECT cent_id,
             list_transform(v, x -> x / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS c
      FROM seeds),
    a1 AS (
      SELECT v.vec_id, c0.cent_id,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY round(list_dot_product(v.v, c0.c)
                                  / greatest(sqrt(list_dot_product(v.v, v.v)), 1e-12), 4)
                                  DESC, c0.cent_id) AS rk
      FROM v CROSS JOIN c0),
    asg1 AS (SELECT vec_id, cent_id FROM a1 WHERE rk = 1),
    el1 AS (
      SELECT a.cent_id,
             unnest(range(len(v.v))) AS pos,
             unnest(v.v) AS val
      FROM asg1 a JOIN v USING (vec_id)),
    m1 AS (
      SELECT cent_id, list(m ORDER BY pos) AS mv
      FROM (SELECT cent_id, pos, avg(val) AS m FROM el1 GROUP BY cent_id, pos)
      GROUP BY cent_id),
    c1 AS (
      SELECT c0.cent_id,
             CASE WHEN m1.cent_id IS NULL THEN c0.c
                  ELSE list_transform(m1.mv,
                         x -> x / greatest(sqrt(list_dot_product(m1.mv, m1.mv)), 1e-12))
             END AS c
      FROM c0 LEFT JOIN m1 USING (cent_id)),
    a2 AS (
      SELECT v.vec_id, c1.cent_id,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY round(list_dot_product(v.v, c1.c)
                                  / greatest(sqrt(list_dot_product(v.v, v.v)), 1e-12), 4)
                                  DESC, c1.cent_id) AS rk
      FROM v CROSS JOIN c1),
    asg2 AS (SELECT vec_id, cent_id FROM a2 WHERE rk = 1),
    el2 AS (
      SELECT a.cent_id,
             unnest(range(len(v.v))) AS pos,
             unnest(v.v) AS val
      FROM asg2 a JOIN v USING (vec_id)),
    m2 AS (
      SELECT cent_id, list(m ORDER BY pos) AS mv
      FROM (SELECT cent_id, pos, avg(val) AS m FROM el2 GROUP BY cent_id, pos)
      GROUP BY cent_id),
    c2 AS (
      SELECT c1.cent_id,
             CASE WHEN m2.cent_id IS NULL THEN c1.c
                  ELSE list_transform(m2.mv,
                         x -> x / greatest(sqrt(list_dot_product(m2.mv, m2.mv)), 1e-12))
             END AS c
      FROM c1 LEFT JOIN m2 USING (cent_id)),
    flat AS (
      SELECT cent_id,
             unnest(range(len(c))) AS pos,
             unnest(c) AS val
      FROM c2)
    SELECT cent_id, CAST(pos AS BIGINT) AS pos, round(val, 4) AS val FROM flat
"""


@q("q_ivf_trained", _IVF_TRAINED_ORACLE)
def q_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end k-means trainer under the oracle gate
    (functions/similarity.py:train_centroids): 2 Lloyd iterations, k=16,
    seeded from an explicit id set so DuckDB replicates the seeding; the
    oracle unrolls both iterations in SQL. Output is the trained centroid
    matrix exploded to (cent_id, pos, val) — 16×64 rounded values, a
    stronger trainer check than any downstream probe."""
    from astro_sdk_spark.functions.similarity import train_centroids

    emb = T(spark, sf_dir, "embeddings")
    cents = train_centroids(emb, k=16, iters=2, seed_ids=_IVF_TRAINED_SEEDS)
    return cents.select(
        F.col("vec_id").alias("cent_id"),
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "cent_id",
        F.col("pos").cast("long").alias("pos"),
        F.round("val", 4).alias("val"),
    )


# --------------------------------------------------------------------------
# IVF-PQ with TRAINED codebooks: the FULL train → encode → probe → ADC-scan
# pipeline under the hash gate. train_pq runs 2 Lloyd iterations of L2
# k-means per subspace (m=4, k=16 codewords, explicit stride-31 seed ids —
# the q_ivf_trained device) with the round-before-argmin determinism
# contract; the oracle unrolls both iterations in SQL per (sub, code) cell,
# then replays q_ivfpq_topk's assignment/probe/encode/ADC stages against
# the trained codebooks. Encode ranks on round(dist, 4) in BOTH engines —
# trained codewords differ across engines at ~1e-15, so unrounded
# near-tied cells would flip (exact inlined codebooks, as in
# q_ivfpq_topk, don't need this).

_IVFPQ_TRAINED_ORACLE = """
    WITH docs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subv AS (
      SELECT vec_id, s.s AS sub, list_slice(v, s.s*16 + 1, s.s*16 + 16) AS sv
      FROM docs CROSS JOIN range(4) s(s)),
    seedv AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, vec_id
      FROM docs WHERE vec_id % 31 = 0 AND vec_id <= 465),
    cb0 AS (
      SELECT sv.sub, sd.code_id, sv.sv AS cvec
      FROM seedv sd JOIN subv sv USING (vec_id)),
    a1 AS (
      SELECT d.vec_id, d.sub, cb.code_id,
             row_number() OVER (PARTITION BY d.vec_id, d.sub
               ORDER BY round(list_sum(list_transform(range(1, 17),
                        i -> (d.sv[i] - cb.cvec[i]) * (d.sv[i] - cb.cvec[i]))), 4),
                        cb.code_id) AS rk
      FROM subv d JOIN cb0 cb USING (sub)),
    asg1 AS (SELECT vec_id, sub, code_id FROM a1 WHERE rk = 1),
    el1 AS (
      SELECT a.sub, a.code_id,
             unnest(range(len(s.sv))) AS pos, unnest(s.sv) AS val
      FROM asg1 a JOIN subv s ON a.vec_id = s.vec_id AND a.sub = s.sub),
    m1 AS (
      SELECT sub, code_id, list(mn ORDER BY pos) AS mv
      FROM (SELECT sub, code_id, pos, avg(val) AS mn
            FROM el1 GROUP BY sub, code_id, pos)
      GROUP BY sub, code_id),
    cb1 AS (
      SELECT cb0.sub, cb0.code_id,
             CASE WHEN m1.code_id IS NULL THEN cb0.cvec ELSE m1.mv END AS cvec
      FROM cb0 LEFT JOIN m1 ON cb0.sub = m1.sub AND cb0.code_id = m1.code_id),
    a2 AS (
      SELECT d.vec_id, d.sub, cb.code_id,
             row_number() OVER (PARTITION BY d.vec_id, d.sub
               ORDER BY round(list_sum(list_transform(range(1, 17),
                        i -> (d.sv[i] - cb.cvec[i]) * (d.sv[i] - cb.cvec[i]))), 4),
                        cb.code_id) AS rk
      FROM subv d JOIN cb1 cb USING (sub)),
    asg2 AS (SELECT vec_id, sub, code_id FROM a2 WHERE rk = 1),
    el2 AS (
      SELECT a.sub, a.code_id,
             unnest(range(len(s.sv))) AS pos, unnest(s.sv) AS val
      FROM asg2 a JOIN subv s ON a.vec_id = s.vec_id AND a.sub = s.sub),
    m2 AS (
      SELECT sub, code_id, list(mn ORDER BY pos) AS mv
      FROM (SELECT sub, code_id, pos, avg(val) AS mn
            FROM el2 GROUP BY sub, code_id, pos)
      GROUP BY sub, code_id),
    cb AS (
      SELECT cb1.sub, cb1.code_id,
             CASE WHEN m2.code_id IS NULL THEN cb1.cvec ELSE m2.mv END AS cvec
      FROM cb1 LEFT JOIN m2 ON cb1.sub = m2.sub AND cb1.code_id = m2.code_id),
    cent AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < 16),
    assign_scored AS (
      SELECT d.vec_id AS cand_id, cent_id,
             row_number() OVER (
               PARTITION BY d.vec_id
               ORDER BY round(list_cosine_similarity(v, cvec), 4) DESC, cent_id) AS rk
      FROM docs d CROSS JOIN cent),
    assigned AS (SELECT cand_id, cent_id FROM assign_scored WHERE rk = 1),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 8),
    probe_scored AS (
      SELECT query_id, cent_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY round(list_cosine_similarity(qv, cvec), 4) DESC, cent_id) AS rk
      FROM q CROSS JOIN cent),
    probes AS (SELECT query_id, cent_id FROM probe_scored WHERE rk <= 4),
    dists AS (
      SELECT d.vec_id, d.sub, cb.code_id,
             round(list_sum(list_transform(range(1, 17),
                      i -> (d.sv[i] - cb.cvec[i]) * (d.sv[i] - cb.cvec[i]))), 4)
               AS dist
      FROM subv d JOIN cb USING (sub)),
    codes AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, sub ORDER BY dist, code_id) AS rn
        FROM dists) WHERE rn = 1),
    qd AS (
      SELECT s.vec_id AS query_id, cb.sub, cb.code_id,
             list_sum(list_transform(range(1, 17),
                      i -> (s.sv[i] - cb.cvec[i]) * (s.sv[i] - cb.cvec[i])))
               AS qdist
      FROM subv s JOIN cb USING (sub) WHERE s.vec_id < 8),
    adc AS (
      SELECT p.query_id, c.vec_id, sum(qd.qdist) AS adist
      FROM codes c
      JOIN assigned a ON a.cand_id = c.vec_id
      JOIN probes p ON p.cent_id = a.cent_id
      JOIN qd ON qd.sub = c.sub AND qd.code_id = c.code_id
             AND qd.query_id = p.query_id
      GROUP BY p.query_id, c.vec_id),
    ranked AS (
      SELECT query_id, vec_id, round(adist, 4) AS adist,
             row_number() OVER (
               PARTITION BY query_id ORDER BY round(adist, 4), vec_id) AS rank
      FROM adc)
    SELECT query_id, vec_id, adist, rank FROM ranked WHERE rank <= 10
"""


@q("q_ivfpq_trained", _IVFPQ_TRAINED_ORACLE)
def q_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with train_pq-trained codebooks (functions/pq.py:train_pq,
    ivfpq_topk): 2 seeded Lloyd iterations of per-subspace L2 k-means
    train the m=4 × k=16 codebooks inside the query, then the standard
    IVFADC probe/scan runs against them — the full train → encode →
    probe → scan pipeline in one hash-gated row. Encode rounds distances
    to 4 digits in both engines (trained codewords differ at ~1e-15
    across engines)."""
    from astro_sdk_spark.functions.pq import ivfpq_topk, train_pq

    emb = T(spark, sf_dir, "embeddings")
    codebooks = train_pq(
        emb, m=4, k=16, iters=2,
        seed_ids=_IVF_TRAINED_SEEDS, round_digits=4,
    )
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 8),
        emb,
        centroids=emb.filter(F.col("vec_id") < 16),
        codebooks=codebooks,
        nprobe=4,
        k=10,
        encode_round_digits=4,
    )


# --------------------------------------------------------------------------
# Windowed substring dedup (ExactSubstr of Lee et al. 2022, fixed-k
# approximation): every 8-token span whose sequence appeared earlier in the
# corpus is removed, first occurrence kept. The oracle replicates
# tokenization, first-occurrence (row_number over (doc,pos)), span→position
# expansion, anti-join, and ordered reassembly. Sits in the registry tail:
# its family (corpus-content dedup) is represented in-window by q_line_dedup.

_SUBSTR_ORACLE = r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS arr
      FROM documents),
    idx AS (
      SELECT doc_id, arr,
             unnest(range(greatest(len(arr) - 7, 0))) AS pos
      FROM base),
    grams AS (
      SELECT doc_id, pos,
             array_to_string(list_slice(arr, pos + 1, pos + 8), ' ') AS gram
      FROM idx),
    firsts AS (
      SELECT gram, doc_id AS fid, pos AS fpos FROM (
        SELECT gram, doc_id, pos,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        FROM grams) WHERE rn = 1),
    dups AS (
      SELECT g.doc_id, g.pos
      FROM grams g JOIN firsts f USING (gram)
      WHERE g.doc_id <> f.fid OR g.pos <> f.fpos),
    drop_pos AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT doc_id, unnest(range(pos, pos + 8)) AS p FROM dups)),
    toks AS (
      SELECT doc_id, unnest(arr) AS tok, unnest(range(len(arr))) AS pos
      FROM base),
    kept AS (
      SELECT t.doc_id, t.tok, t.pos
      FROM toks t LEFT JOIN drop_pos d
        ON t.doc_id = d.doc_id AND t.pos = d.p
      WHERE d.doc_id IS NULL),
    reass AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id)
    SELECT b.doc_id,
           coalesce(r.text, '') AS text,
           len(b.arr) AS n_tokens,
           len(b.arr) - coalesce(r.n_kept, 0) AS n_removed
    FROM base b LEFT JOIN reass r USING (doc_id)
"""


@q("q_substring_dedup", _SUBSTR_ORACLE)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed substring dedup (functions/cleaning.py:substring_dedup):
    corpus-wide removal of repeated 8-token spans, first occurrence kept,
    whitespace-normalized reassembly. First-occurrence detection is the
    de-skewed groupBy(min(struct)) + join pattern shared with line_dedup."""
    from astro_sdk_spark.functions.cleaning import substring_dedup

    return substring_dedup(T(spark, sf_dir, "documents"), k=8)


# --------------------------------------------------------------------------
# CTAS operator path END-TO-END under the oracle gate: load_file stages the
# parquet into a managed table, transform() renders the identifier-validated
# template and CTAS-materializes the aggregate, and the result is read back
# from the catalog — covering engine.load_file →
# create_table_from_select_statement → catalog read, not just the plan
# builders the merge/append queries exercise. Fixed table names + overwrite
# semantics keep repeated driver runs idempotent.

_TRANSFORM_CTAS_ORACLE = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_price,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
"""


@q("q_transform_ctas", _TRANSFORM_CTAS_ORACLE)
def q_transform_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform → CTAS → read-back (operators/transform.py:run_transform,
    engine.py:create_table_from_select_statement; reference
    python-sdk/src/astro/sql/operators/transform.py:20-191). The one
    CORRECTNESS row that drives the flagship operator layer end-to-end."""
    from astro_sdk_spark.engine import SparkEngine
    from astro_sdk_spark.files import File
    from astro_sdk_spark.operators.load_file import load_file
    from astro_sdk_spark.operators.transform import run_transform
    from astro_sdk_spark.table import Table

    eng = SparkEngine(spark)
    src = Table(name="q_ctas_orders_src")
    load_file(File(f"{sf_dir}/orders.parquet"), src, engine=eng)
    out = run_transform(
        "SELECT o_orderstatus, o_orderpriority, "
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_price, "
        "count(*) AS n_orders "
        "FROM {{ src }} GROUP BY o_orderstatus, o_orderpriority",
        parameters={"src": src},
        output_table=Table(name="q_ctas_orders_agg"),
        engine=eng,
    )
    return spark.table(out.qualified_name)


# --------------------------------------------------------------------------
# write-audit-publish (operators/publish.py): stage → check_table audit →
# atomic swap → read back the LIVE table. Same oracle as the underlying
# SELECT — what the gate adds is that the staged write, the audit pass,
# and the metastore swap all preserve the result bit-for-bit.

_PUBLISH_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS total_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
"""


@q("q_publish", _PUBLISH_ORACLE)
def q_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """publish_table end-to-end: aggregate lineitem, stage it, audit it
    (non-empty + no null keys), swap it live, read it back."""
    from astro_sdk_spark.operators.publish import publish_table

    li = T(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).cast(
                "double"
            )
            / 100
        ).alias("total_price"),
    )
    tgt = publish_table(
        agg,
        "q_publish_tgt",
        table_checks={"not_empty": {"check_statement": "COUNT(*) > 0"}},
        column_checks={"l_returnflag": {"null_check": {"equal_to": 0}}},
        spark=spark,
    )
    return spark.table(tgt.qualified_name)


# --------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023): hashed-bigram bag models for
# the target (lang='en') and raw corpora, per-document log importance
# weight = Σ_features ln p − ln q. The oracle replicates the md5 bucket
# device, both add-1 models (normalized over the raw support), and the
# per-document feature-sum. Multiset bigrams (no list_distinct) — DSIR
# counts occurrences.

_DUCK_SHINGLES_K2_RAW = r"""
    CASE WHEN len(string_split_regex(trim(lower(text)), '\s+')) >= 2
      THEN list_transform(
             range(1, len(string_split_regex(trim(lower(text)), '\s+'))),
             i -> array_to_string(string_split_regex(trim(lower(text)), '\s+')[i:i+1], ' '))
      ELSE [array_to_string(string_split_regex(trim(lower(text)), '\s+'), ' ')]
    END
"""

_DSIR_ORACLE = f"""
    WITH feats AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 10000 AS b
      FROM (SELECT doc_id, unnest({_DUCK_SHINGLES_K2_RAW}) AS g FROM documents)),
    tfeats AS (
      SELECT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 10000 AS b
      FROM (SELECT unnest({_DUCK_SHINGLES_K2_RAW}) AS g FROM documents
            WHERE lang = 'en')),
    rawc AS (SELECT b, count(*) AS cq FROM feats GROUP BY b),
    tgtc AS (SELECT b, count(*) AS ct FROM tfeats GROUP BY b),
    model AS (
      SELECT coalesce(r.b, t.b) AS b,
             coalesce(t.ct, 0) AS ct, coalesce(r.cq, 0) AS cq
      FROM rawc r FULL JOIN tgtc t ON r.b = t.b),
    tot AS (SELECT sum(ct) AS tt, sum(cq) AS qq FROM model),
    lr AS (
      SELECT b,
             ln((ct + 1.0) / (tt + 10000.0)) - ln((cq + 1.0) / (qq + 10000.0))
               AS lr
      FROM model CROSS JOIN tot)
    SELECT f.doc_id, count(*) AS n_feats, round(sum(lr.lr), 4) AS logw
    FROM feats f JOIN lr USING (b)
    GROUP BY f.doc_id
"""


@q("q_dsir_weights", _DSIR_ORACLE)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data-selection weights (functions/sampling.py:dsir_weights):
    every document scored for target-domain (lang='en') likeness via
    hashed-bigram importance ratios — the md5 hash path so the oracle
    replicates bucketing bit-for-bit."""
    from astro_sdk_spark.functions.sampling import dsir_weights

    docs = T(spark, sf_dir, "documents")
    return dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), hash_fn="md5"
    )


# --------------------------------------------------------------------------
# C4 line-level cleaning rules (Raffel et al. 2020 §2.2) — line filtering,
# reassembly, sentence counting, and page-level verdicts all replicated in
# SQL (list_filter + length arithmetic, same as the Spark projection).

_C4_ORACLE = r"""
    WITH staged AS (
      SELECT doc_id,
             regexp_replace(text, '((?:\S+ ){9}\S+) ', '\1.' || chr(10), 'g')
               AS text
      FROM documents),
    base AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines
      FROM staged),
    k AS (
      SELECT doc_id, text, len(lines) AS n_lines,
             list_filter(lines, l ->
               (ends_with(rtrim(l), '.') OR ends_with(rtrim(l), '!')
                OR ends_with(rtrim(l), '?') OR ends_with(rtrim(l), '"'))
               AND len(string_split(
                     trim(regexp_replace(l, '\s+', ' ', 'g')), ' ')) >= 5
             ) AS kept
      FROM base),
    c AS (
      SELECT doc_id, text, n_lines, len(kept) AS n_lines_kept,
             coalesce(array_to_string(kept, chr(10)), '') AS clean_text
      FROM k),
    m AS (
      SELECT doc_id, clean_text, n_lines, n_lines_kept,
             (length(clean_text) - length(replace(clean_text, '.', ''))
              + length(clean_text) - length(replace(clean_text, '!', ''))
              + length(clean_text) - length(replace(clean_text, '?', '')))
               AS n_sentences,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{') AS has_brace
      FROM c)
    SELECT doc_id, clean_text, n_lines, n_lines_kept, n_sentences,
           has_lorem, has_brace,
           (NOT has_lorem AND NOT has_brace AND n_sentences >= 3) AS keep
    FROM m
"""


@q("q_c4_rules", _C4_ORACLE)
def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning pass (functions/cleaning.py:c4_rules): terminal-punct +
    min-words line pruning, lorem-ipsum/brace page rejection, sentence
    floor — one shuffle-free projection over the corpus.

    The synthetic corpus is single-line and unpunctuated (every rule
    would fire vacuously), so the query first stages a line-structured
    variant — every 10th space becomes ``.\\n`` via one deterministic
    regexp (identical non-overlapping semantics in both engines) — and
    runs the rules on that; short trailing remainders then exercise the
    drop path and full 10-word sentences the keep path."""
    from astro_sdk_spark.functions.cleaning import c4_rules

    staged = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.col("text"), r"((?:\S+ ){9}\S+) ", "$1.\n"
        ).alias("text"),
    )
    return c4_rules(staged)


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A1.1) — the standard
# pre-training document filter, as a shuffle-free projection. The oracle
# replicates every metric: word/line splitting, length arithmetic for
# symbol counts, list_filter for bullet/ellipsis/alpha/stopword fractions,
# and the composite verdict on UNROUNDED values (identical arithmetic in
# both engines — all counting, no summation-order ambiguity).

_GOPHER_ORACLE = r"""
    WITH base AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents),
    w AS (
      SELECT doc_id,
             string_split(norm, ' ') AS words,
             string_split(text, chr(10)) AS lines,
             norm
      FROM base),
    m AS (
      SELECT doc_id,
             len(words) AS n_words,
             CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(words) AS mean_wl,
             (length(norm) - length(replace(norm, '#', ''))
              + length(norm) - length(replace(norm, '…', ''))
              + (length(norm) - length(replace(norm, '...', ''))) / 3.0
             ) / len(words) AS symbol_ratio,
             CAST(len(list_filter(lines, l ->
                    starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
                    OR starts_with(ltrim(l), '•'))) AS DOUBLE)
               / len(lines) AS bullet_frac,
             CAST(len(list_filter(lines, l ->
                    ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
                  AS DOUBLE) / len(lines) AS ellipsis_frac,
             CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
                  AS DOUBLE) / len(words) AS alpha_frac,
             len(list_filter(words, x -> x IN
                   ('the','be','to','of','and','that','have','with'))) AS n_stop
      FROM w)
    SELECT doc_id, n_words,
           round(mean_wl, 4) AS mean_word_len,
           round(symbol_ratio, 4) AS symbol_ratio,
           round(bullet_frac, 4) AS bullet_frac,
           round(ellipsis_frac, 4) AS ellipsis_frac,
           round(alpha_frac, 4) AS alpha_frac,
           n_stop,
           (n_words >= 50 AND n_words <= 100000
            AND mean_wl >= 3 AND mean_wl <= 10
            AND symbol_ratio <= 0.1
            AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
            AND alpha_frac >= 0.8 AND n_stop >= 2) AS passes
    FROM m
"""


@q("q_gopher_filter", _GOPHER_ORACLE)
def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules pre-training filter (functions/text.py:gopher_rules):
    per-document word/line quality metrics + composite keep verdict, one
    codegen projection pass over the corpus."""
    from astro_sdk_spark.functions.text import gopher_rules

    return gopher_rules(T(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Continuous-aggregate rollup END-TO-END under the oracle gate: the
# hypertable-style materialized tumbling rollup (streaming/rollup.py) is
# built in two refreshes — an initial build over the first half of the
# events range, then an INCREMENTAL refresh over the full source that
# recomputes only buckets at/after the high-water mark (including the
# boundary bucket that was partial at the first refresh) and upserts via
# the staged swap. The final table state must equal one flat tumbling
# aggregate over all events — which is exactly what the oracle computes,
# so the hash gate proves the incremental path loses and duplicates
# nothing. Sits in the tail: the events family is represented in-window.

_ROLLUP_ORACLE = """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
               AS total_value
    FROM events GROUP BY 1, 2
"""


@q("q_events_rollup", _ROLLUP_ORACLE)
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ContinuousAggregate build + incremental refresh
    (streaming/rollup.py:ContinuousAggregate.refresh): initial
    materialization over events ≤ midpoint, second refresh over the full
    source (bounded to buckets ≥ the high-water mark), read back from the
    managed table."""
    from astro_sdk_spark.streaming.rollup import ContinuousAggregate

    e = T(spark, sf_dir, "events")
    tbl = "q_rollup_events_agg"
    drop_managed_table(spark, tbl)
    lo, hi = e.agg(F.min("ts"), F.max("ts")).collect()[0]
    if lo is None:  # empty source: single full build, no split refresh
        mid = None
    else:
        mid = lo + (hi - lo) / 2
    # the cents device (events.value is a 2-decimal quantity): integer
    # window sums are accumulation-order-free, closing the last
    # round(sum(double)) money-sum site in the registry
    aggs = {
        "n": lambda: F.count(F.lit(1)),
        "total_value": lambda: (
            _dsum(_cents("value")).cast("double") / 100
        ),
    }

    def ca(source):
        return ContinuousAggregate(
            spark, source, tbl, bucket="10 minutes", ts_col="ts",
            group_cols=["event_type"], agg_exprs=aggs,
        )

    if mid is not None:
        ca(e.filter(F.col("ts") <= F.lit(mid))).refresh()  # initial build
    second = ca(e)
    second.refresh()  # incremental: only buckets >= high-water mark
    return second.read()


# --------------------------------------------------------------------------
# Document chunking — overlapping token windows (RAG / fixed-length example
# prep). Pure generator projection; the oracle replays the window geometry
# with generate_series + list slicing.

_CHUNKS_ORACLE = """
    WITH tk AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    st AS (
      SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s FROM tk)
    SELECT doc_id,
           s // 48 AS chunk_id,
           array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text,
           len(t[s + 1 : s + 64]) AS chunk_token_count
    FROM st
"""


@q("q_doc_chunks", _CHUNKS_ORACLE)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (functions/text.py:chunk_documents):
    64-token windows every 48 tokens (16 tokens of left-context overlap),
    one row per chunk — the RAG-index / context-window prep stage."""
    from astro_sdk_spark.functions.text import chunk_documents

    docs = T(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap_tokens=16)


# --------------------------------------------------------------------------
# Funnel conversion — per-user ordered min-aggregate chain (view → click
# → purchase), replayed step-for-step in SQL.

_FUNNEL_ORACLE = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS step_1_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS step_2_ts
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.step_1_ts
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS step_3_ts
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.step_2_ts
      GROUP BY e.user_id)
    SELECT s1.user_id, s1.step_1_ts, s2.step_2_ts, s3.step_3_ts,
           1 + (CASE WHEN s2.step_2_ts IS NOT NULL THEN 1 ELSE 0 END)
             + (CASE WHEN s3.step_3_ts IS NOT NULL THEN 1 ELSE 0 END)
             AS max_step
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


@q("q_funnel", _FUNNEL_ORACLE)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (functions/timeseries.py:funnel):
    view → click → purchase per user, each step strictly after the
    previous step's earliest completion — one user-keyed min-aggregate
    chain, no raw-event window, no per-user arrays."""
    from astro_sdk_spark.functions.timeseries import funnel

    e = T(spark, sf_dir, "events")
    return funnel(e, ["view", "click", "purchase"])


# --------------------------------------------------------------------------
# Cohort retention triangle — distinct (user, week) collapse first, then
# user/cohort-keyed aggregates. Week-truncated dates make period_n an
# exact multiple of 7 days, so the /7 division is integer-exact in both
# engines (no cast-rounding divergence).

_RETENTION_ORACLE = """
    WITH up AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS p
      FROM events),
    c AS (SELECT user_id, min(p) AS cohort FROM up GROUP BY user_id),
    cells AS (
      SELECT c.cohort,
             CAST(date_diff('day', c.cohort, up.p) / 7 AS INT) AS period_n,
             count(*) AS n_active
      FROM up JOIN c ON up.user_id = c.user_id
      GROUP BY c.cohort, CAST(date_diff('day', c.cohort, up.p) / 7 AS INT)),
    sz AS (SELECT cohort, count(*) AS cohort_size FROM c GROUP BY cohort)
    SELECT cells.cohort, period_n, n_active, cohort_size,
           floor(n_active / cohort_size * 10000.0 + 0.5) / 10000.0
             AS retention
    FROM cells JOIN sz ON cells.cohort = sz.cohort
"""


@q("q_retention", _RETENTION_ORACLE)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (functions/timeseries.py:retention):
    users cohorted by first-activity week, per-(cohort, week-offset)
    active counts and fractions — the raw event volume collapses to
    distinct (user, week) pairs in the first aggregate."""
    from astro_sdk_spark.functions.timeseries import retention

    return retention(T(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Robust outlier fences (Tukey IQR) — exact linear-interpolation
# percentiles (the q_percentiles equivalence) feed one-row broadcast
# bounds; the flag compares against the UNROUNDED fences in both engines.

_OUTLIERS_ORACLE = """
    WITH q AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders),
    b AS (
      SELECT q1 - 1.5 * (q3 - q1) AS lo_x, q3 + 1.5 * (q3 - q1) AS hi_x
      FROM q)
    SELECT o_orderkey, o_totalprice,
           floor(lo_x * 10000.0 + 0.5) / 10000.0 AS lo,
           floor(hi_x * 10000.0 + 0.5) / 10000.0 AS hi,
           (o_totalprice < lo_x OR o_totalprice > hi_x) AS is_outlier
    FROM orders CROSS JOIN b
"""


@q("q_outliers", _OUTLIERS_ORACLE)
def q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection
    (operators/data_validation.py:detect_outliers): every order flagged
    against the exact-percentile IQR fences — one aggregate + one
    broadcast projection, per-row flags under the hash gate."""
    from astro_sdk_spark.operators.data_validation import detect_outliers

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return detect_outliers(o, "o_totalprice", method="iqr", k=1.5)


# --------------------------------------------------------------------------
# Unicode NFC normalization — staged NON-vacuously: every 'e' in the
# corpus is decomposed to 'e' + U+0301 (combining acute) in BOTH engines,
# then each engine's own normalizer must compose it back to 'é'. Python
# unicodedata vs DuckDB utf8proc implement the same Unicode standard —
# that shared standard is the oracle contract.

_UNICODE_ORACLE = r"""
    WITH staged AS (
      SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS text
      FROM documents),
    n AS (
      SELECT doc_id, text,
             regexp_replace(nfc_normalize(text),
                            '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS nt
      FROM staged)
    SELECT doc_id, nt AS norm_text,
           length(text) AS n_chars_in, length(nt) AS n_chars_out,
           (nt <> text) AS changed
    FROM n
"""


@q("q_unicode_normalize", _UNICODE_ORACLE)
def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (functions/cleaning.py:normalize_text):
    combining sequences staged into the corpus compose back to
    precomposed characters — the canonicalization every tokenizer/dedup
    stage assumes. One Arrow-batched projection, no shuffle."""
    from astro_sdk_spark.functions.cleaning import normalize_text

    # NB: Spark SQL's chr() is mod-256 (chr(769) → U+0001), so the
    # combining acute rides in as a Python literal
    staged = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit("e"), F.lit("e\u0301")).alias("text"),
    )
    return normalize_text(staged)


# --------------------------------------------------------------------------
# Leakage-safe split: deterministic hash split + cross-boundary
# decontamination (train docs near-dup to holdout docs → 'dropped').
# Same exact-Jaccard oracle argument as q_minhash_neardup (LSH recall ≈ 1
# on this corpus, exact verify removes false positives).

_LEAK_SPLIT_ORACLE = f"""
    WITH b AS (
      SELECT doc_id, text,
             {_DUCK_BUCKET.format(salt="lk", gran=10000)} AS bucket
      FROM documents),
    labeled AS (
      SELECT doc_id, text,
             CASE WHEN bucket < 9000 THEN 'train' ELSE 'test' END AS split
      FROM b),
    sh AS (SELECT doc_id, split, {_DUCK_SHINGLES_K3} AS s FROM labeled),
    {_duck_jaccard_pairs(
        "sh",
        pair_cond="a.split = 'train' AND b.split <> 'train'",
        carry_cols=("split",),
    )},
    leaks AS (
      SELECT DISTINCT id_a AS doc_id FROM pairs
      WHERE inter / CAST(la + lb - inter AS DOUBLE) >= 0.5)
    SELECT l.doc_id,
           CASE WHEN l.split = 'train' AND k.doc_id IS NOT NULL
                THEN 'dropped' ELSE l.split END AS split
    FROM labeled l LEFT JOIN leaks k ON l.doc_id = k.doc_id
"""


@q("q_leakage_split", _LEAK_SPLIT_ORACLE)
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 90/10 split
    (functions/sampling.py:leakage_safe_split): hash membership, then
    every train doc near-dup (exact-verified Jaccard ≥ 0.5) to a test doc
    is relabeled 'dropped' — per-doc labels under the hash gate."""
    from astro_sdk_spark.functions.sampling import leakage_safe_split

    d = T(spark, sf_dir, "documents")
    return leakage_safe_split(d, salt="lk", threshold=0.5).select(
        "doc_id", "split"
    )


# --------------------------------------------------------------------------
# compact_table round-trip: CTAS a fragmented managed table, compact it
# with a clustered (sort_by) layout, read back an aggregate over a range
# predicate — the oracle is the same aggregate on the raw parquet, so a
# compaction that loses/duplicates/corrupts rows hash-mismatches.


@q(
    "q_compact_roundtrip",
    """
    SELECT o_orderstatus,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_price,
           count(*) AS n_orders
    FROM orders WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus
    """,
)
def q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the hash gate
    (engine.py:compact_table): stage orders into a deliberately
    fragmented managed table (16 files), compact to a sorted layout via
    the atomic staged swap, and aggregate the compacted table — content
    must survive the rewrite bit-for-bit."""
    from astro_sdk_spark.engine import SparkEngine
    from astro_sdk_spark.table import Table

    eng = SparkEngine(spark)
    tbl = "q_compact_orders"
    drop_managed_table(spark, tbl)
    T(spark, sf_dir, "orders").repartition(16).write.saveAsTable(tbl)
    stats = eng.compact_table(
        Table(name=tbl), target_file_mb=256, sort_by=["o_orderkey"]
    )
    assert stats["files_after"] <= stats["files_before"]
    return (
        spark.table(tbl)
        .filter(F.col("o_orderkey") % 5 == 0)
        .groupBy("o_orderstatus")
        .agg(
            CS("o_totalprice").alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# Weighted reservoir sampling per group (Efraimidis–Spirakis) — k docs per
# language with probability ∝ n_chars, deterministic via the md5-mantissa
# uniform; the oracle replays key derivation, pow, pin, and ranking.

_WSAMPLE_ORACLE = """
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             floor(pow(
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws'), 1, 13)
                    AS BIGINT) / 4503599627370496.0
                 + 1.0 / 9007199254740992.0,
               1.0 / CAST(n_chars AS DOUBLE)) * 1e12 + 0.5) / 1e12 AS _wkey
      FROM documents WHERE CAST(n_chars AS DOUBLE) > 0),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY lang ORDER BY _wkey DESC, doc_id) AS sample_rank
      FROM keyed)
    SELECT doc_id, lang, n_chars, _wkey, sample_rank
    FROM r WHERE sample_rank <= 5
"""


@q("q_weighted_sample", _WSAMPLE_ORACLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample
    (functions/sampling.py:weighted_sample_per_group): 5 docs per
    language, inclusion probability ∝ n_chars — one key projection + one
    per-group window top-k; md5-mantissa uniforms keep it deterministic
    and SQL-replayable."""
    from astro_sdk_spark.functions.sampling import weighted_sample_per_group

    d = T(spark, sf_dir, "documents")
    return weighted_sample_per_group(
        d, k=5, weight_col="n_chars", group_col="lang",
        salt="ws", hash_fn="md5",
    ).select("doc_id", "lang", "n_chars", "_wkey", "sample_rank")


# --------------------------------------------------------------------------
# Stupid Backoff bigram LM (Brants et al., EMNLP 2007) — the distributed-
# first LM smoothing: bigram ratio when seen, α·unigram otherwise. The
# oracle replays both model tables and the three-branch backoff chain.

_LM_BACKOFF_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
      FROM documents),
    pos AS (
      SELECT doc_id, unnest(tk) AS term,
             unnest(range(1, len(tk) + 1)) AS p, tk
      FROM toks),
    pos2 AS (
      SELECT doc_id, term,
             CASE WHEN p >= 2 THEN tk[p - 1] END AS prev
      FROM pos),
    uni AS (SELECT term, count(*) AS c1 FROM pos2 GROUP BY term),
    tot AS (SELECT sum(c1) AS T, count(*) AS V FROM uni),
    bi AS (
      SELECT prev, term, count(*) AS c2 FROM pos2
      WHERE prev IS NOT NULL GROUP BY prev, term),
    lp AS (
      SELECT s.doc_id,
             CASE
               WHEN b.c2 IS NOT NULL THEN ln(b.c2 / up.c1)
               WHEN s.prev IS NOT NULL THEN
                 ln(0.4 * (coalesce(ut.c1, 0) + 1.0)
                    / (tot.T + 1.0 * (tot.V + 1)))
               ELSE ln((coalesce(ut.c1, 0) + 1.0)
                       / (tot.T + 1.0 * (tot.V + 1)))
             END AS lp
      FROM pos2 s
      LEFT JOIN bi b ON s.prev = b.prev AND s.term = b.term
      LEFT JOIN uni ut ON s.term = ut.term
      LEFT JOIN uni up ON s.prev = up.term
      CROSS JOIN tot)
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(lp), 4) AS avg_logprob,
           round(exp(-avg(lp)), 4) AS perplexity
    FROM lp GROUP BY doc_id
"""


@q("q_lm_backoff", _LM_BACKOFF_ORACLE)
def q_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram LM scoring
    (functions/text.py:bigram_lm_score): bigram and unigram count models
    fit on the corpus in one partial-aggregated shuffle each, every token
    scored through the seen-bigram / α·unigram backoff chain — one order
    of context stronger than q_lm_score's unigram CCNet filter."""
    from astro_sdk_spark.functions.text import bigram_lm_score

    return bigram_lm_score(T(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# UniMax language sampling (Chung et al., ICLR 2023) — closed-form
# water-filling of a character budget across languages with an epoch cap,
# replayed in SQL with the same window scan.

_UNIMAX_ORACLE = """
    WITH sizes0 AS (
      SELECT lang, CAST(sum(n_chars) AS BIGINT) AS corpus_size
      FROM documents GROUP BY lang),
    sizes AS (
      SELECT lang, corpus_size,
             CAST(corpus_size AS DOUBLE) * 1.0 AS cap
      FROM sizes0),
    lev AS (
      SELECT lang, corpus_size, cap,
             row_number() OVER (ORDER BY cap, lang) AS j,
             sum(cap) OVER (ORDER BY cap, lang ROWS UNBOUNDED PRECEDING)
               - cap AS cum_prev,
             count(*) OVER () AS nl
      FROM sizes),
    t AS (
      SELECT *, (100000.0 - cum_prev) / (nl - j + 1) AS tj FROM lev),
    sel AS (SELECT arg_min(tj, j) AS level FROM t WHERE tj <= cap)
    SELECT lang, corpus_size, cap,
           floor(least(cap, coalesce(level, cap)) * 10000.0 + 0.5)
             / 10000.0 AS alloc,
           floor(least(cap, coalesce(level, cap)) / corpus_size * 10000.0
                 + 0.5) / 10000.0 AS epochs
    FROM t CROSS JOIN sel
"""


@q("q_unimax", _UNIMAX_ORACLE)
def q_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (functions/sampling.py:unimax_rates):
    100k characters split across languages with at most 1 epoch per
    language — low-resource languages cap at their corpus size, the rest
    share the water-filling level. One corpus-sized groupBy(lang); the
    waterfall itself runs on the ≤|languages|-row table."""
    from astro_sdk_spark.functions.sampling import unimax_rates

    d = T(spark, sf_dir, "documents")
    return unimax_rates(d, budget=100000.0, size_col="n_chars", max_epochs=1.0)


# --------------------------------------------------------------------------
# Graded contamination score — the GPT-3 Appendix-C overlap measurement
# (fraction of a doc's distinct 3-grams present in the benchmark), where
# q_decontaminate is the boolean drop decision. Zero-hit docs included.

_CONTAM_ORACLE = f"""
    WITH sh AS (SELECT doc_id, {_DUCK_SHINGLES_K3} AS s FROM documents),
    cg AS (
      SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0),
    bg AS (
      SELECT DISTINCT g FROM (
        SELECT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0)),
    j AS (
      SELECT cg.doc_id, CASE WHEN bg.g IS NOT NULL THEN 1 END AS hit
      FROM cg LEFT JOIN bg USING (g))
    SELECT doc_id, count(*) AS n_ngrams, count(hit) AS n_hits,
           floor(count(hit) / count(*) * 10000.0 + 0.5) / 10000.0
             AS contamination
    FROM j GROUP BY doc_id
"""


@q("q_contamination_score", _CONTAM_ORACLE)
def q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark-overlap scoring
    (functions/cleaning.py:contamination_score): every 97th doc is the
    'eval set'; every remaining doc gets the fraction of its distinct
    3-grams that appear there — one broadcast left-join + one
    partial-aggregated groupBy, zero-hit docs included."""
    from astro_sdk_spark.functions.cleaning import contamination_score

    d = T(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_score(corpus, bench)


# --------------------------------------------------------------------------
# SQ8 scalar-quantized ANN — train (per-dim min/max) → encode (byte codes)
# → symmetric integer code-space dot → rank. Every score is an exact
# integer sum, so the oracle replays the WHOLE pipeline with no float in
# the ranking path.

_SQ8_ORACLE = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    n AS (
      SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v),
    codes AS (
      SELECT vec_id,
             unnest(CASE WHEN nrm > 0
               THEN list_transform(
                      e, x -> CAST(floor(x / nrm * 127.0 + 0.5) AS BIGINT))
               ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END) AS c,
             unnest(range(1, len(e) + 1)) AS d
      FROM n),
    q AS (SELECT vec_id AS query_id, d, c AS qc FROM codes WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, codes.vec_id AS cand_id, sum(q.qc * codes.c) AS score
      FROM q JOIN codes ON q.d = codes.d AND q.query_id <> codes.vec_id
      GROUP BY q.query_id, codes.vec_id),
    r AS (
      SELECT query_id, cand_id, CAST(score AS BIGINT) AS score,
             row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, cand_id) AS rank
      FROM scored)
    SELECT query_id, cand_id, score, rank FROM r WHERE rank <= 10
"""


@q("q_sq8_topk", _SQ8_ORACLE)
def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized cosine top-k (functions/sq.py): L2-normalize,
    scale to ±127, integer code dot — the 4×-compressed ANN baseline
    completing the flat/IVF/PQ/SQ family. Scores are exact integers, so
    encode→score→rank is SQL-replayable with zero float tolerance in the
    ranking path."""
    from astro_sdk_spark.functions.sq import sq_topk

    emb = T(spark, sf_dir, "embeddings")
    return sq_topk(emb.filter(F.col("vec_id") < 8), emb, k=10)


# --------------------------------------------------------------------------
# Quality classifier — hashed-bigram logistic regression (the GPT-3/LLaMA
# corpus-curation filter; Brown et al. 2020 App. A, Touvron et al. 2023 §2).
# Training is full-batch GD on a fixed-point micro-unit grid (every
# cross-row sum an exact integer — reduction-order-independent), which is
# what lets the oracle unroll BOTH gradient iterations in SQL and match the
# trained scores bit-for-bit. Label: lang='en' as the trusted class.

_CLASSIFIER_ORACLE = f"""
    WITH feats AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 10000 AS b
      FROM (SELECT doc_id, unnest({_DUCK_SHINGLES_K2_RAW}) AS g FROM documents)),
    labels AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents),
    n AS (SELECT count(*) AS nn FROM documents),
    g1 AS (
      SELECT f.b, sum(500000 - l.y * 1000000) AS gi
      FROM feats f JOIN labels l USING (doc_id) GROUP BY f.b),
    w1 AS (
      SELECT b, 0 - CAST(floor(0.5 * gi / nn + 0.5) AS BIGINT) AS wi
      FROM g1 CROSS JOIN n),
    m2 AS (
      SELECT f.doc_id, sum(w1.wi) AS mi
      FROM feats f JOIN w1 USING (b) GROUP BY f.doc_id),
    r2 AS (
      SELECT m2.doc_id,
             CAST(floor((1.0 / (1.0 + exp(-(mi / 1000000.0))) - l.y)
                        * 1000000.0 + 0.5) AS BIGINT) AS ri
      FROM m2 JOIN labels l USING (doc_id)),
    g2 AS (
      SELECT f.b, sum(r2.ri) AS gi
      FROM feats f JOIN r2 USING (doc_id) GROUP BY f.b),
    w2 AS (
      SELECT coalesce(w1.b, g2.b) AS b,
             coalesce(w1.wi, 0)
               - CAST(floor(0.5 * coalesce(g2.gi, 0) / nn + 0.5) AS BIGINT)
               AS wi
      FROM w1 FULL JOIN g2 ON w1.b = g2.b CROSS JOIN n),
    sc AS (
      SELECT f.doc_id, count(*) AS n_feats, sum(w2.wi) AS mi
      FROM feats f JOIN w2 USING (b) GROUP BY f.doc_id)
    SELECT doc_id, n_feats,
           floor((1.0 / (1.0 + exp(-(mi / 1000000.0)))) * 10000.0 + 0.5)
             / 10000.0 AS score,
           (floor((1.0 / (1.0 + exp(-(mi / 1000000.0)))) * 10000.0 + 0.5)
             / 10000.0) >= 0.5 AS keep
    FROM sc
"""


@q("q_quality_classifier", _CLASSIFIER_ORACLE)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the hashed-bigram logistic-regression quality filter
    (functions/classifier.py) for 2 full-batch GD iterations against the
    lang='en' trusted class, then score the whole corpus with the trained
    ≤10k-row broadcast model. The md5 hash path + integer micro-unit
    arithmetic make both training iterations SQL-replayable."""
    from astro_sdk_spark.functions.classifier import (
        score_text_classifier,
        train_text_classifier,
    )

    docs = T(spark, sf_dir, "documents")
    labeled = docs.withColumn("_y1", (F.col("lang") == "en").cast("int"))
    weights = train_text_classifier(
        labeled, "_y1", n_iters=2, lr=0.5, hash_fn="md5"
    )
    return score_text_classifier(docs, weights, hash_fn="md5")


# --------------------------------------------------------------------------
# HTML → text extraction (functions/cleaning.py:strip_html). Staged
# NON-vacuously: every document is wrapped in real markup — comment,
# style and script subtrees (the script body embeds '<p>' tags and
# entities that MUST NOT leak), block structure, a link, and entities
# including the '&amp;lt;' double-escape whose single-pass decode order
# the chain pins. The oracle replays the identical RE2-safe
# regexp_replace chain, generated from the same pattern constants.


def _strip_html_sql(col: str) -> str:
    """DuckDB expression mirroring strip_html_col, generated from the
    SAME pattern/entity constants the Spark chain uses — the two sides
    cannot drift."""
    from astro_sdk_spark.functions.cleaning import (
        _HTML_ANY_TAG,
        _HTML_BLOCK_CLOSERS,
        _HTML_BR,
        _HTML_DROP_PATTERNS,
        _HTML_ENTITIES,
    )

    def sq(s: str) -> str:
        return s.replace("'", "''")

    expr = col
    for pat in _HTML_DROP_PATTERNS:
        expr = f"regexp_replace({expr}, '{sq(pat)}', '', 'g')"
    expr = f"regexp_replace({expr}, '{sq(_HTML_BLOCK_CLOSERS)}', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '{sq(_HTML_BR)}', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '{sq(_HTML_ANY_TAG)}', '', 'g')"
    for ent, ch in _HTML_ENTITIES:
        expr = f"replace({expr}, '{sq(ent)}', '{sq(ch)}')"
    expr = f"regexp_replace({expr}, '[ \\t]+', ' ', 'g')"
    expr = f"regexp_replace({expr}, ' ?\\n ?', chr(10), 'g')"
    expr = f"regexp_replace({expr}, '\\n{{3,}}', chr(10) || chr(10), 'g')"
    return f"trim({expr})"


_QSH_HEAD = (
    '<html><!-- boilerplate navigation -->'
    '<head><style type="text/css">p { color: red }</style>'
    '<script>var s = "<p>not text</p>"; if (1 < 2) { s += "&amp;"; }'
    "</script></head><body><h1>Doc "
)
_QSH_MID = "</h1><p>"
_QSH_TAIL = (
    "</p><ul><li>alpha</li><li>beta</li></ul>"
    '<a href="https://example.com/x?a=1&amp;b=2">link &amp; more</a>'
    "&nbsp;&lt;end&gt;<br/></body></html>"
)


def _sql_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


_STRIP_HTML_ORACLE = f"""
    WITH staged AS (
      SELECT doc_id,
             {_sql_lit(_QSH_HEAD)} || CAST(doc_id AS VARCHAR)
               || {_sql_lit(_QSH_MID)}
               || replace(text, chr(10), '</p><p>')
               || {_sql_lit(_QSH_TAIL)} AS html
      FROM documents),
    s AS (
      SELECT doc_id, html, {_strip_html_sql("html")} AS pt FROM staged)
    SELECT doc_id, pt AS plain_text,
           length(html) AS n_chars_in, length(pt) AS n_chars_out,
           len(regexp_extract_all(html, '(?i)<a[ \\t\\n\\r>]')) AS n_links,
           len(regexp_extract_all(html, '(?i)<script[ \\t\\n\\r>]')) > 0
             AS had_script
    FROM s
"""


@q("q_strip_html", _STRIP_HTML_ORACLE)
def q_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction (functions/cleaning.py:strip_html) —
    the first pass of every CommonCrawl-style pipeline. Each document is
    wrapped in markup (script/style/comment subtrees, block tags, link,
    double-escaped entities) and the chain must recover the text: one
    whole-stage-codegen projection, no shuffle, no Python."""
    from astro_sdk_spark.functions.cleaning import strip_html

    d = T(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        F.concat(
            F.lit(_QSH_HEAD),
            F.col("doc_id").cast("string"),
            F.lit(_QSH_MID),
            F.replace(F.col("text"), F.lit("\n"), F.lit("</p><p>")),
            F.lit(_QSH_TAIL),
        ).alias("html"),
    )
    return strip_html(staged, text_col="html")


# --------------------------------------------------------------------------
# SCD2 merge (operators/scd.py) — type-2 dimension maintenance: a
# modified snapshot applied to a history table must close changed
# versions, open new ones, insert new keys, and leave unchanged rows
# untouched. The oracle replays the full-outer-join rewrite; IS DISTINCT
# FROM mirrors the plan's null-safe change detection.

_SCD2_ORACLE = """
    WITH tgt AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice AS price,
             DATE '2020-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
             true AS is_current
      FROM orders WHERE o_orderkey % 5 <> 0),
    src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'R' ELSE o_orderstatus END
               AS o_orderstatus,
             -- +1000.0 is EXACT double addition: change detection and the
             -- emitted value are bit-identical across engines (round(x*1.1)
             -- would disagree on half-way cases)
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS price,
             DATE '2021-06-15' AS effective_ts
      FROM orders),
    j AS (
      SELECT t.o_orderkey AS tk, t.o_orderstatus AS tst, t.price AS tp,
             t.valid_from, t.valid_to, t.is_current,
             s.o_orderkey AS sk, s.o_orderstatus AS sst, s.price AS sp,
             s.effective_ts
      FROM tgt t FULL JOIN src s ON t.o_orderkey = s.o_orderkey),
    chg AS (
      SELECT *, (sk IS NOT NULL AND (sst IS DISTINCT FROM tst
                                     OR sp IS DISTINCT FROM tp)) AS changed
      FROM j)
    SELECT tk AS o_orderkey, tst AS o_orderstatus, tp AS price, valid_from,
           CASE WHEN changed THEN effective_ts ELSE valid_to END AS valid_to,
           CASE WHEN changed THEN false ELSE is_current END AS is_current
    FROM chg WHERE tk IS NOT NULL
    UNION ALL
    SELECT sk, sst, sp, effective_ts, CAST(NULL AS DATE), true
    FROM chg WHERE sk IS NOT NULL AND (tk IS NULL OR changed)
"""


@q("q_scd2_merge", _SCD2_ORACLE)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD merge (operators/scd.py:scd2_plan): orders minus the
    %5 keys seeds the dimension; a snapshot that mutates every %3 key
    (status + exact-double price bump) and adds the %5 keys back applies
    on top. One
    full-outer-join shuffle, both output branches reuse the exchange."""
    from astro_sdk_spark.operators.scd import scd2_plan

    o = T(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
        F.to_date(F.lit("2020-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    is_mod = F.col("o_orderkey") % 3 == 0
    source = o.select(
        "o_orderkey",
        F.when(is_mod, F.lit("R")).otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(is_mod, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.to_date(F.lit("2021-06-15")).alias("effective_ts"),
    )
    return scd2_plan(
        target, source, ["o_orderkey"], ["o_orderstatus", "price"]
    )


# --------------------------------------------------------------------------
# table_diff (operators/diff.py) — CDC snapshot compare: a mutated copy
# of orders (every %7 key dropped, %3 status changed, %4 price bumped by
# an exact double, %11 cloned to a fresh key) diffed against the
# original. The oracle replays the null-safe full-outer-join
# classification; concat_ws skips NULLs identically in both engines.

_TABLE_DIFF_ORACLE = """
    WITH oldt AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    newt AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, 'N', o_totalprice
      FROM orders WHERE o_orderkey % 11 = 0),
    j AS (
      SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
             o.o_orderstatus AS os, n.o_orderstatus AS ns,
             o.o_totalprice AS op, n.o_totalprice AS np
      FROM oldt o FULL JOIN newt n ON o.o_orderkey = n.o_orderkey),
    c AS (
      SELECT coalesce(ok, nk) AS o_orderkey,
             CASE WHEN ok IS NULL THEN 'added'
                  WHEN nk IS NULL THEN 'removed'
                  WHEN os IS DISTINCT FROM ns OR op IS DISTINCT FROM np
                    THEN 'changed'
                  ELSE 'unchanged' END AS diff,
             CASE WHEN ok IS NOT NULL AND nk IS NOT NULL THEN
               concat_ws(',',
                 CASE WHEN os IS DISTINCT FROM ns THEN 'o_orderstatus' END,
                 CASE WHEN op IS DISTINCT FROM np THEN 'o_totalprice' END)
             ELSE '' END AS changed_cols
      FROM j)
    SELECT o_orderkey, diff, changed_cols FROM c WHERE diff <> 'unchanged'
"""


@q("q_table_diff", _TABLE_DIFF_ORACLE)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (operators/diff.py:table_diff): added /
    removed / changed classification with per-row changed-column lists —
    one null-safe full-outer-join shuffle, codegen classification, the
    unchanged bulk filtered inside the join stage."""
    from astro_sdk_spark.operators.diff import table_diff

    base = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    kept = base.filter(k % 7 != 0).select(
        "o_orderkey",
        F.when(k % 3 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(k % 4 == 0, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    added = base.filter(k % 11 == 0).select(
        (k + 100000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    return table_diff(base, kept.unionByName(added), ["o_orderkey"])


# --------------------------------------------------------------------------
# Rolling trailing-window features (functions/timeseries.py:rolling_stats)
# — per-user moving avg/sum/min/max/count over the last 3 purchases.
# sum/avg run on fixed-point integers (value has 2 decimals), so sliding
# sums are exact and engine-independent regardless of accumulation
# strategy (Spark re-sums frames; DuckDB uses segment trees — double
# accumulation would differ at ~1 ulp on rounding boundaries).

_ROLLING_ORACLE = """
    WITH p AS (
      SELECT user_id, ts, event_id, value,
             CAST(round(value * 100) AS BIGINT) AS cv
      FROM events WHERE event_type = 'purchase')
    SELECT user_id, ts, value,
           CAST(sum(cv) OVER f AS DOUBLE) / (count(cv) OVER f * 100)
             AS rolling_avg,
           CAST(sum(cv) OVER f AS DOUBLE) / 100 AS rolling_sum,
           min(value) OVER f AS rolling_min,
           max(value) OVER f AS rolling_max,
           count(cv) OVER f AS rolling_count
    FROM p
    WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


@q("q_rolling", _ROLLING_ORACLE)
def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 3-purchase rolling features per user
    (functions/timeseries.py:rolling_stats): one shuffle on user_id,
    exact fixed-point sliding sums, event_id tiebreak pins frame
    contents when timestamps collide."""
    from astro_sdk_spark.functions.timeseries import rolling_stats

    e = T(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return rolling_stats(
        e,
        ts_col="ts",
        group_col="user_id",
        value_col="value",
        frame_rows=3,
        order_keys=("event_id",),
    )


# --------------------------------------------------------------------------
# Rolling z-score anomaly flags (timeseries.py:rolling_anomalies) — the
# metric-stream monitoring primitive. Mean AND std come from exact
# integer sums (σ = √(n·Σx² − (Σx)²)/(n·scale); the radicand is an exact
# integer, so the sqrt input is bit-identical in both engines) and the
# k·σ threshold therefore compares identical doubles — a boolean under
# the hash gate with zero tolerance.

_ANOMALY_ORACLE = """
    WITH p AS (
      SELECT user_id, ts, event_id, value,
             CAST(round(value * 100) AS BIGINT) AS cv
      FROM events WHERE event_type = 'error'),
    w AS (
      SELECT user_id, ts, value,
             CAST(sum(cv) OVER f AS DOUBLE) / (count(cv) OVER f * 100)
               AS rolling_avg,
             sqrt(CAST(count(cv) OVER f * sum(cv * cv) OVER f
                       - sum(cv) OVER f * sum(cv) OVER f AS DOUBLE))
               / (count(cv) OVER f * 100) AS rolling_std,
             count(cv) OVER f AS n
      FROM p
      WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
    SELECT user_id, ts, value, rolling_avg, rolling_std,
           (n >= 3 AND abs(value - rolling_avg) > 2.0 * rolling_std)
             AS is_anomaly
    FROM w
"""


@q("q_anomaly", _ANOMALY_ORACLE)
def q_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over each user's error-event
    values (timeseries.py:rolling_anomalies): trailing-10 window, k=2σ,
    3-point minimum baseline. One shuffle on user_id; the flag compares
    bit-identical doubles (exact-integer mean/std)."""
    from astro_sdk_spark.functions.timeseries import rolling_anomalies

    e = T(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return rolling_anomalies(
        e,
        ts_col="ts",
        frame_rows=10,
        k=2.0,
        min_count=3,
        order_keys=("event_id",),
    )


# --------------------------------------------------------------------------
# Per-event sessionization (timeseries.py:sessionize) — every event gets
# its user's running session number; boundaries on exact integer
# microseconds (unix_micros ≡ epoch_us), 30-minute gap.

_SESSIONIZE_ORACLE = """
    WITH g AS (
      SELECT user_id, event_id, ts,
             epoch_ns(ts) - lag(epoch_ns(ts)) OVER w AS gap_ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, ts,
             (gap_ns IS NULL OR gap_ns > 1800 * CAST(1000000000 AS BIGINT))
               AS is_session_start
      FROM g)
    SELECT user_id, event_id, ts, is_session_start,
           CAST(sum(CASE WHEN is_session_start THEN 1 ELSE 0 END) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS session_n
    FROM s
"""


@q("q_sessionize", _SESSIONIZE_ORACLE)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization of the events table
    (timeseries.py:sessionize): per-event session numbers under the hash
    gate — one shuffle on user_id, lag + running-sum in a single window
    pass."""
    from astro_sdk_spark.functions.timeseries import sessionize

    return sessionize(
        T(spark, sf_dir, "events"),
        gap_seconds=1800,
        order_keys=("event_id",),
        epoch_col="ts_ns",
    )


# --------------------------------------------------------------------------
# Hot-key diagnostic (functions/skew.py:skew_report) — the measurement
# behind every salting decision: top-k hottest keys, corpus fraction
# (floor-pinned), per-key salt suggestion. TakeOrdered top-k, not a
# global window.

_SKEW_REPORT_ORACLE = """
    WITH c AS (
      SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
    r AS (
      SELECT o_custkey, n,
             row_number() OVER (ORDER BY n DESC, o_custkey) AS rank
      FROM c)
    SELECT rank, o_custkey, n,
           floor(n / total * 1000000.0 + 0.5) / 1000000.0 AS frac,
           CAST(ceil(n / 10.0) AS BIGINT) AS salt_suggest
    FROM r CROSS JOIN t
    WHERE rank <= 10
"""


@q("q_skew_report", _SKEW_REPORT_ORACLE)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 hottest order keys by customer
    (functions/skew.py:skew_report): partial-agg count, distributed
    TakeOrdered, one-row total broadcast — the pre-join skew
    measurement, under the hash gate."""
    from astro_sdk_spark.functions.skew import skew_report

    return skew_report(
        T(spark, sf_dir, "orders"),
        keys=["o_custkey"],
        top_k=10,
        target_rows_per_task=10,
    )


# --------------------------------------------------------------------------
# Within-document line dedup (cleaning.py:dedup_lines_in_doc) — staged
# non-vacuously: every document is DOUBLED line-for-line, so the filter
# must drop the entire second copy (except always-kept short lines) and
# reassemble the first in order. Shuffle-free higher-order array filter;
# the oracle replays it with DuckDB's indexed list lambda.

_DOC_LINE_DEDUP_ORACLE = """
    WITH staged AS (
      SELECT doc_id, text || chr(10) || text || chr(10) || 'end' AS text
      FROM documents),
    s AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM staged),
    k AS (
      SELECT doc_id, l,
             list_filter(l, (x, i) -> length(x) < 1
                                      OR list_position(l, x) = i) AS kept
      FROM s)
    SELECT doc_id, array_to_string(kept, chr(10)) AS text,
           len(l) AS n_lines, len(kept) AS n_kept
    FROM k
"""


@q("q_doc_line_dedup", _DOC_LINE_DEDUP_ORACLE)
def q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-line removal
    (cleaning.py:dedup_lines_in_doc) on line-doubled documents: zero
    shuffles, one JVM array filter per row."""
    from astro_sdk_spark.functions.cleaning import dedup_lines_in_doc

    t = F.col("text")
    staged = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(t, F.lit("\n"), t, F.lit("\n"), F.lit("end")).alias("text"),
    )
    return dedup_lines_in_doc(staged)


# --------------------------------------------------------------------------
# Incremental-load freshness semantics (operators/incremental.py):
# the high-water mark derives from the already-loaded subset and the
# strictly-greater filter selects exactly the unloaded suffix. Exact
# integer nanosecond comparison (ts_ns ≡ epoch_ns) — a microsecond-
# truncated timestamp mark would wrongly re-include the max row.

_INCR_CUTOFF_NS = 1705276800 * 1_000_000_000  # 2024-01-15T00:00:00Z

_INCREMENTAL_ORACLE = f"""
    WITH tgt AS (
      SELECT epoch_ns(ts) AS ns FROM events
      WHERE epoch_ns(ts) < {_INCR_CUTOFF_NS}),
    h AS (SELECT max(ns) AS m FROM tgt)
    SELECT event_id, epoch_ns(ts) AS ts_ns
    FROM events CROSS JOIN h
    WHERE epoch_ns(ts) > m
"""


@q("q_incremental_fresh", _INCREMENTAL_ORACLE)
def q_incremental_fresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_append's freshness selection: events before Jan 15
    are 'already loaded'; the query returns exactly the rows strictly
    past that subset's max(ts_ns). The one-row mark is the operator's
    documented driver-side collect (high_water_mark); the filter itself
    pushes down into the scan."""
    e = T(spark, sf_dir, "events")
    tgt = e.filter(F.col("ts_ns") < F.lit(_INCR_CUTOFF_NS))
    hwm = tgt.agg(F.max("ts_ns").alias("m")).collect()[0].m
    return e.filter(F.col("ts_ns") > F.lit(hwm)).select("event_id", "ts_ns")


# --------------------------------------------------------------------------
# Count-min sketch (functions/cms.py) — build over lineitem suppliers,
# query the low-key estimates. The md5 cell hash is the repo-standard
# engine-neutral device, so build + query replay bit-for-bit in SQL.

_CMS_ORACLE = """
    WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    cells AS (
      SELECT ds.d,
             CAST('0x' || substr(md5(ds.d || ':' ||
                                     CAST(l_suppkey AS VARCHAR)), 1, 15)
                  AS BIGINT) % 1024 AS cell
      FROM lineitem CROSS JOIN ds),
    sk AS (SELECT d, cell, count(*) AS n FROM cells GROUP BY d, cell),
    qk AS (SELECT DISTINCT l_suppkey FROM lineitem WHERE l_suppkey <= 20),
    qc AS (
      SELECT l_suppkey, ds.d,
             CAST('0x' || substr(md5(ds.d || ':' ||
                                     CAST(l_suppkey AS VARCHAR)), 1, 15)
                  AS BIGINT) % 1024 AS cell
      FROM qk CROSS JOIN ds)
    SELECT l_suppkey, min(coalesce(n, 0)) AS est
    FROM qc LEFT JOIN sk USING (d, cell)
    GROUP BY l_suppkey
"""


@q("q_cms_counts", _CMS_ORACLE)
def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequencies (functions/cms.py): depth-4 ×
    width-1024 counter grid over lineitem suppliers, low-key estimates
    via the broadcast sketch join — sketch size is independent of input
    cardinality, the 100 TB frequency primitive."""
    from astro_sdk_spark.functions.cms import cms_build, cms_query

    li = T(spark, sf_dir, "lineitem")
    sketch = cms_build(li, "l_suppkey", width=1024, depth=4)
    keys = li.filter(F.col("l_suppkey") <= 20).select("l_suppkey").distinct()
    return cms_query(sketch, keys, "l_suppkey", width=1024, depth=4)


# --------------------------------------------------------------------------
# Point-in-time SCD2 lookup (operators/scd.py:scd2_lookup) — the query
# an SCD2 dimension exists to answer: each lineitem joins the order
# version valid AT its ship date. The dimension is built by scd2_plan
# (1990 seed, 1995-06-15 snapshot), so ship dates straddle the version
# boundary and both versions get traffic; the oracle replays the
# rewrite AND the interval join.

_SCD2_LOOKUP_ORACLE = """
    WITH tgt AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice AS price,
             DATE '1990-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
             true AS is_current
      FROM orders WHERE o_orderkey % 5 <> 0),
    src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN 'R' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1000.0
                  ELSE o_totalprice END AS price,
             DATE '1995-06-15' AS effective_ts
      FROM orders),
    j AS (
      SELECT t.o_orderkey AS tk, t.o_orderstatus AS tst, t.price AS tp,
             t.valid_from, t.valid_to, t.is_current,
             s.o_orderkey AS sk, s.o_orderstatus AS sst, s.price AS sp,
             s.effective_ts
      FROM tgt t FULL JOIN src s ON t.o_orderkey = s.o_orderkey),
    chg AS (
      SELECT *, (sk IS NOT NULL AND (sst IS DISTINCT FROM tst
                                     OR sp IS DISTINCT FROM tp)) AS changed
      FROM j),
    dim AS (
      SELECT tk AS o_orderkey, tst AS o_orderstatus, tp AS price,
             valid_from,
             CASE WHEN changed THEN effective_ts ELSE valid_to END AS valid_to
      FROM chg WHERE tk IS NOT NULL
      UNION ALL
      SELECT sk, sst, sp, effective_ts, CAST(NULL AS DATE)
      FROM chg WHERE sk IS NOT NULL AND (tk IS NULL OR changed)),
    f AS (
      SELECT l_orderkey AS o_orderkey, l_linenumber,
             CAST(l_shipdate AS DATE) AS ship_date
      FROM lineitem)
    SELECT f.o_orderkey, f.l_linenumber, f.ship_date,
           d.o_orderstatus, d.price, d.valid_from
    FROM f LEFT JOIN dim d
      ON f.o_orderkey = d.o_orderkey
     AND f.ship_date >= d.valid_from
     AND (d.valid_to IS NULL OR f.ship_date < d.valid_to)
"""


@q("q_scd2_lookup", _SCD2_LOOKUP_ORACLE)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment over a freshly-built SCD2 dimension:
    one equi-join shuffle on the order key with the validity interval
    as a join residual (not a range-join explosion)."""
    from astro_sdk_spark.operators.scd import scd2_lookup, scd2_plan

    o = T(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
        F.to_date(F.lit("1990-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    is_mod = F.col("o_orderkey") % 3 == 0
    source = o.select(
        "o_orderkey",
        F.when(is_mod, F.lit("R")).otherwise(F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(is_mod, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.to_date(F.lit("1995-06-15")).alias("effective_ts"),
    )
    dim = scd2_plan(
        target, source, ["o_orderkey"], ["o_orderstatus", "price"]
    ).drop("is_current")
    facts = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    return scd2_lookup(facts, dim, ["o_orderkey"], "ship_date").select(
        "o_orderkey",
        "l_linenumber",
        "ship_date",
        "o_orderstatus",
        "price",
        "valid_from",
    )


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep; e.g. DPR,
# Karpukhin et al. 2020 §3.2): for each query, the most-similar
# candidates from OTHER classes — composed entirely from the existing
# cosine_topk API by partitioning on label and unioning the per-label
# calls. Exact-cosine oracle with a label-inequality join.

_HARD_NEG_ORACLE = """
    WITH e AS (
      SELECT vec_id, embedding, vec_id % 4 AS label FROM embeddings),
    qs AS (SELECT * FROM e WHERE vec_id < 8),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(
               CAST(q.embedding AS DOUBLE[]),
               CAST(c.embedding AS DOUBLE[])), 4) AS cosine
      FROM qs q JOIN e c ON q.label <> c.label),
    ranked AS (
      SELECT query_id, cand_id, cosine,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      FROM scored)
    SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
"""


@q("q_hard_negatives", _HARD_NEG_ORACLE)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query top-5 cross-label nearest neighbors in ONE masked
    broadcast scan. The r13 shape unioned one cosine_topk call per label
    partition (queries of label l vs candidates of every other label) —
    4 full corpus scans and 4 rank windows (16 parquet scans in the
    executed plan). Every query carries exactly ONE label, so the union
    of per-label parts IS the single pair set {(q, c) : label(q) ≠
    label(c)} with per-query ranks unchanged — computed here as one
    broadcast join with the label mask in the condition: one corpus
    scan, one window (guide §1.3). Expression chain (cosine → round(4)
    → rank by (cosine desc, cand_id)) is copied verbatim from
    cosine_topk, so results are bit-identical (oracle + canonical hash
    gated)."""
    from astro_sdk_spark.functions.similarity import cosine_similarity_col
    from pyspark.sql.window import Window

    emb = T(spark, sf_dir, "embeddings").withColumn(
        "label", F.pmod(F.col("vec_id"), F.lit(4))
    )
    qs = emb.filter(F.col("vec_id") < 8)
    q_side = qs.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("_ql"),
        F.col("embedding").alias("_qvec"),
    )
    c_side = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("_cl"),
        F.col("embedding").alias("_cvec"),
    )
    scored = c_side.join(
        F.broadcast(q_side),
        (F.col("_ql") != F.col("_cl")) & (F.col("query_id") != F.col("cand_id")),
    ).select(
        "query_id",
        "cand_id",
        F.round(
            cosine_similarity_col(F.col("_qvec"), F.col("_cvec")), 4
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )


# --------------------------------------------------------------------------
# Temperature mixture sampling (sampling.py:temperature_rates) — the
# mT5 n^α rule at α=0.5: IEEE sqrt is bit-identical everywhere, the
# floored micro-unit weights make the total an exact integer sum, and
# rate/alloc floor-pin from identical doubles.

_TEMP_MIX_ORACLE = """
    WITH s AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS corpus_size
      FROM documents GROUP BY lang),
    w AS (
      SELECT lang, corpus_size,
             CAST(floor(sqrt(CAST(corpus_size AS DOUBLE)) * 1000000.0)
                  AS BIGINT) AS weight
      FROM s),
    t AS (SELECT sum(weight) AS tot FROM w)
    SELECT lang, corpus_size, weight,
           floor(CAST(weight AS DOUBLE) / tot * 1000000.0 + 0.5)
             / 1000000.0 AS rate,
           CAST(floor(1000000.0 * (CAST(weight AS DOUBLE) / tot) + 0.5)
                AS BIGINT) AS alloc
    FROM w CROSS JOIN t
"""


@q("q_temperature_mix", _TEMP_MIX_ORACLE)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature allocation of a 1M-sample budget across
    document languages — exact-integer weights, one-row total broadcast
    (whitelisted tf_idf normalizer shape)."""
    from astro_sdk_spark.functions.sampling import temperature_rates

    return temperature_rates(
        T(spark, sf_dir, "documents"), budget=1_000_000, alpha=0.5
    )


# --------------------------------------------------------------------------
# Classic TPC-H report shapes (Q3 shipping priority, Q10 returned-item
# reporting). Revenue = Σ price·(1−disc) is a TWO-FACTOR product — the
# exact device extends: cents(price) · (100 − cents(disc)) is an exact
# BIGINT at 1e-4-dollar scale, so the top-k CUT ranks on exact values
# (a round(sum(double)) rank could flip set membership at a boundary,
# which mere output rounding tolerates but LIMIT does not).

_TPCH_Q3_ORACLE = f"""
    SELECT o.o_orderkey,
           {_REV_EXACT_SQL} AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1995-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1995-03-15'
    GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
"""


@q("q_tpch_q3", _TPCH_Q3_ORACLE)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): top-10 unshipped BUILDING orders by
    revenue. Customer side broadcast, one shuffle on the order key, the
    top-10 via distributed TakeOrdered on the EXACT revenue."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    li = T(spark, sf_dir, "lineitem")
    cut = F.lit("1995-03-15").cast("date")
    return (
        li.filter(F.col("l_shipdate").cast("date") > cut)
        .join(
            o.filter(F.col("o_orderdate").cast("date") < cut),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(_rev_exact().alias("revenue"))
        .select("o_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


_TPCH_Q10_ORACLE = f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {_REV_EXACT_SQL} AS revenue,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1995-10-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1996-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, round(c.c_acctbal, 2)
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
"""


@q("q_tpch_q10", _TPCH_Q10_ORACLE)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by lost
    revenue from returns in a quarter. The tiny nation dim broadcast;
    customer joins UNHINTED (it grows with SF — AQE picks broadcast vs
    shuffle by its real size); exact-rank top-k."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    li = T(spark, sf_dir, "lineitem")
    od = F.col("o_orderdate").cast("date")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (od >= F.lit("1995-10-01").cast("date"))
                & (od < F.lit("1996-01-01").cast("date"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .agg(_rev_exact().alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue", "acctbal")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# TPC-H Q18 (large-volume customer): orders whose total quantity exceeds
# the threshold, joined back to customer, top-100 by order value.
# Quantities are integral — summed as BIGINT, so the HAVING cut is
# exact; o_totalprice passes through unchanged (rank on raw double +
# unique-key tiebreak is engine-identical).

_TPCH_Q18_ORACLE = """
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS BIGINT)) > 200)
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
"""


@q("q_tpch_q18", _TPCH_Q18_ORACLE)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: one partial-aggregated quantity rollup (map-side
    combine on the natural lineitem grouping), the small HAVING
    survivors drive the order/customer joins, top-100 via distributed
    TakeOrdered."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# TPC-H Q14 (promotion effect): % of September-1995 revenue from PROMO
# parts. Both the numerator and denominator are the exact two-factor
# BIGINT revenue (1e-4-dollar units), so the final ratio is one
# double division over identical integers in both engines.

_TPCH_Q14_ORACLE = """
    WITH r AS (
      SELECT CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE CAST(l.l_shipdate AS DATE) >= DATE '1995-09-01'
        AND CAST(l.l_shipdate AS DATE) < DATE '1995-10-01')
    SELECT round(100.0 * sum(CASE WHEN is_promo = 1 THEN rev ELSE 0 END)
                 / sum(rev), 4) AS promo_revenue_pct
    FROM r
"""


@q("q_tpch_q14", _TPCH_Q14_ORACLE)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: month-sliced lineitem joins the part dim (broadcast);
    conditional aggregation produces one row — the promo revenue share
    on exact integer revenue units."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    rev = _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
    sliced = li.filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1995-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1995-10-01").cast("date"))
    )
    joined = sliced.join(
        F.broadcast(p.select("p_partkey", "p_type")),
        sliced.l_partkey == F.col("p_partkey"),
    )
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


# --------------------------------------------------------------------------
# TPC-H Q22 (global sales opportunity), adapted to this schema: the
# reference keys "country" off phone prefixes, which the slimmed
# customer table lacks — c_nationkey plays that role. Eligibility
# (balance above the positive-balance average) is decided ENTIRELY in
# integers: cents(bal)·N > Σcents(bal) avoids the float average whose
# summation order differs between engines.

_TPCH_Q22_ORACLE = """
    WITH pos AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer WHERE c_acctbal > 0),
    stats AS (SELECT sum(bal_c) AS s, count(*) AS n FROM pos),
    eligible AS (
      SELECT p.c_custkey, p.c_nationkey, p.bal_c
      FROM pos p CROSS JOIN stats WHERE p.bal_c * stats.n > stats.s),
    noorder AS (
      SELECT e.* FROM eligible e
      WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = e.c_custkey
          AND CAST(o.o_orderdate AS DATE) >= DATE '1998-01-01'))
    SELECT c_nationkey, count(*) AS numcust,
           CAST(sum(bal_c) AS DOUBLE) / 100 AS totacctbal
    FROM noorder GROUP BY c_nationkey
"""


@q("q_tpch_q22", _TPCH_Q22_ORACLE)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted): above-average-balance customers with no
    RECENT orders (none since 1998-01-01 — the synthetic orders table
    covers every customer, so the raw no-orders-ever cut is vacuous;
    the lapsed-customer window keeps the anti-join meaningful), per
    nation. One-row stats broadcast, integer eligibility cut,
    left-anti against the date-sliced orders, exact money sums."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_nationkey", _cents("c_acctbal").alias("bal_c")
    )
    stats = pos.agg(F.sum("bal_c").alias("_s"), F.count(F.lit(1)).alias("_n"))
    eligible = pos.crossJoin(F.broadcast(stats)).filter(
        F.col("bal_c") * F.col("_n") > F.col("_s")
    )
    recent = o.filter(
        F.col("o_orderdate").cast("date") >= F.lit("1998-01-01").cast("date")
    )
    noorder = eligible.join(
        recent.select("o_custkey"),
        eligible.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return noorder.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        (F.sum("bal_c").cast("double") / 100).alias("totacctbal"),
    )


# --------------------------------------------------------------------------
# TPC-H Q5 (local supplier volume): the classic six-table star join —
# lineitem ⋈ orders ⋈ customer ⋈ supplier (with the LOCAL constraint
# c_nationkey = s_nationkey inside the join) ⋈ nation ⋈ region, revenue
# per nation for a region-year slice. The widest join tree in the
# registry: tiny dims broadcast, the customer⋈supplier locality
# predicate rides the supplier equi-join (no post-filter blowup), and
# the revenue ranks on the exact 1e-4-dollar integers.

_TPCH_Q5_ORACLE = f"""
    SELECT n.n_name, {_REV_EXACT_SQL} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
"""


@q("q_tpch_q5", _TPCH_Q5_ORACLE)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation for ASIA orders placed in 1996, only
    counting lineitems supplied from the customer's own nation. nation
    and region broadcast unconditionally (25 / 5 rows at any SF);
    customer and supplier stay unhinted so AQE sizes them; the year
    filter pushes into the orders scan before any join."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    od = F.col("o_orderdate").cast("date")
    return (
        li.join(
            o.filter(
                (od >= F.lit("1996-01-01").cast("date"))
                & (od < F.lit("1997-01-01").cast("date"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(_rev_exact().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# --------------------------------------------------------------------------
# Null imputation (functions/impute.py) — every %7 event's value is
# nulled out, then repaired with its event type's exact fixed-point
# mean; the flag column marks repaired rows. One partial-agg per type +
# a broadcast join back.

_IMPUTE_ORACLE = """
    WITH staged AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
      FROM events),
    f AS (
      SELECT event_type,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               / (count(value) * 100) AS fill
      FROM staged GROUP BY event_type)
    SELECT s.event_id, s.event_type,
           coalesce(s.value, f.fill) AS value,
           (s.value IS NULL AND f.fill IS NOT NULL) AS _imputed_value
    FROM staged s JOIN f USING (event_type)
"""


@q("q_impute", _IMPUTE_ORACLE)
def q_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mean imputation (functions/impute.py:impute_nulls) with
    the value_scale exact-integer mean — repair values are bit-identical
    in both engines, so the filled column sits under the hash gate."""
    from astro_sdk_spark.functions.impute import impute_nulls

    staged = T(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("value"),
    )
    return impute_nulls(
        staged, ["value"], "mean", group_by="event_type", value_scale=100
    )


# --------------------------------------------------------------------------
# Z-order clustering values (functions/zorder.py) — pure integer math
# (min/max-linear bucket + Morton bit interleave), so the layout key is
# hash-gate exact. The interleave SQL is GENERATED from the same bit
# layout zorder_col uses (output bit = b·n_cols + i).


def _z_interleave_sql(bucket_cols: list[str], bits: int) -> str:
    n = len(bucket_cols)
    terms = [
        f"((({c} >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(bucket_cols)
    ]
    return " | ".join(terms)


_ZORDER_ORACLE = f"""
    WITH bounds AS (
      SELECT CAST(min(o_custkey) AS DOUBLE) AS mn0,
             CAST(max(o_custkey) AS DOUBLE) AS mx0,
             CAST(min(o_totalprice) AS DOUBLE) AS mn1,
             CAST(max(o_totalprice) AS DOUBLE) AS mx1
      FROM orders),
    buckets AS (
      SELECT o_orderkey,
             LEAST(255, CAST(floor((CAST(o_custkey AS DOUBLE) - mn0)
                                   / (mx0 - mn0) * 256.0) AS BIGINT)) AS b0,
             LEAST(255, CAST(floor((CAST(o_totalprice AS DOUBLE) - mn1)
                                   / (mx1 - mn1) * 256.0) AS BIGINT)) AS b1
      FROM orders CROSS JOIN bounds)
    SELECT o_orderkey, {_z_interleave_sql(["b0", "b1"], 8)} AS _zorder
    FROM buckets
"""


@q("q_zorder", _ZORDER_ORACLE)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-values over (o_custkey, o_totalprice) at 8 bits
    (functions/zorder.py:add_zorder): the multi-dimensional clustering
    key compact_table sorts by so parquet stats prune BOTH columns'
    predicates. One one-row bounds broadcast + codegen interleave."""
    from astro_sdk_spark.functions.zorder import add_zorder

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return add_zorder(o, ["o_custkey", "o_totalprice"], bits=8).select(
        "o_orderkey", "_zorder"
    )


# --------------------------------------------------------------------------
# Winsorization (detect_outliers clip=True) — values clamped to the
# EXACT Tukey fences (identical doubles in both engines: exact
# percentiles → identical fence arithmetic → least/greatest of
# identical operands), flags preserved.

_WINSORIZE_ORACLE = """
    WITH q AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders),
    b AS (
      SELECT q1 - 1.5 * (q3 - q1) AS lo_x, q3 + 1.5 * (q3 - q1) AS hi_x
      FROM q)
    SELECT o_orderkey,
           LEAST(hi_x, GREATEST(lo_x, o_totalprice)) AS o_totalprice,
           floor(lo_x * 10000.0 + 0.5) / 10000.0 AS lo,
           floor(hi_x * 10000.0 + 0.5) / 10000.0 AS hi,
           (o_totalprice < lo_x OR o_totalprice > hi_x) AS is_outlier
    FROM orders CROSS JOIN b
"""


@q("q_winsorize", _WINSORIZE_ORACLE)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized order prices (detect_outliers clip=True): repair
    instead of report — clamped values under the hash gate."""
    from astro_sdk_spark.operators.data_validation import detect_outliers

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return detect_outliers(o, "o_totalprice", method="iqr", k=1.5, clip=True)


# --------------------------------------------------------------------------
# CMS mergeability under the gate: two half-corpus sketches merged
# cell-wise must equal the whole-corpus build — the distributed-
# aggregate property that makes the sketch usable across partitions,
# days, and streams, replayed in SQL.

_CMS_MERGE_ORACLE = """
    WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    cells AS (
      SELECT l_orderkey % 2 AS half, ds.d,
             CAST('0x' || substr(md5(ds.d || ':' ||
                                     CAST(l_suppkey AS VARCHAR)), 1, 15)
                  AS BIGINT) % 512 AS cell
      FROM lineitem CROSS JOIN ds),
    halves AS (
      SELECT half, d, cell, count(*) AS n
      FROM cells GROUP BY half, d, cell)
    SELECT d, cell, CAST(sum(n) AS BIGINT) AS n FROM halves GROUP BY d, cell
"""


@q("q_cms_merged", _CMS_MERGE_ORACLE)
def q_cms_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cms_merge of two half-corpus sketches (functions/cms.py): the
    merged cells hash-match the whole-corpus counts the oracle computes
    — mergeability as a verified contract, not just a pytest."""
    from astro_sdk_spark.functions.cms import cms_build, cms_merge

    li = T(spark, sf_dir, "lineitem")
    even = cms_build(
        li.filter(F.col("l_orderkey") % 2 == 0), "l_suppkey", width=512, depth=4
    )
    odd = cms_build(
        li.filter(F.col("l_orderkey") % 2 == 1), "l_suppkey", width=512, depth=4
    )
    return cms_merge(even, odd)


# --------------------------------------------------------------------------
# mergeable quantile sketch (functions/quantiles.py): build per-half
# equi-width fixed-point histograms, merge bucket-wise, evaluate
# p50/p90/p99 — ALL integer arithmetic (cents div width), so the merged
# estimates hash-match the oracle's replication exactly. The q_cms_merged
# pattern applied to the quantile member of the sketch family.

_QSKETCH_ORACLE = """
    WITH halves AS (
      SELECT l_orderkey % 2 AS half,
             CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS bucket,
             count(*) AS n
      FROM lineitem GROUP BY 1, 2),
    merged AS (SELECT bucket, sum(n) AS n FROM halves GROUP BY bucket),
    cum AS (
      SELECT bucket, sum(n) OVER (ORDER BY bucket) AS c,
             (SELECT sum(n) FROM merged) AS total
      FROM merged)
    SELECT CAST(q AS DOUBLE) AS q,
           CAST(min_by(bucket, bucket) * 100 AS DOUBLE) / 100 AS value
    FROM cum CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS q)
    -- IEEE-double multiply in BOTH engines (Spark multiplies doubles):
    -- a DECIMAL q here could ceil differently at exact-integer ranks
    WHERE c >= ceil(CAST(q AS DOUBLE) * total)
    GROUP BY q
"""


@q("q_quantile_sketch", _QSKETCH_ORACLE)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantile_sketch build→merge→query over l_extendedprice split by
    order parity: $1 buckets on exact cents, p50/p90/p99 of the merged
    sketch equal the whole-table build's — mergeability and the integer
    bucket walk both under the hash gate."""
    from astro_sdk_spark.functions.quantiles import (
        quantile_sketch_build,
        quantile_sketch_merge,
        quantile_sketch_query,
    )

    li = T(spark, sf_dir, "lineitem")
    even = quantile_sketch_build(
        li.filter(F.col("l_orderkey") % 2 == 0), "l_extendedprice", width=100
    )
    odd = quantile_sketch_build(
        li.filter(F.col("l_orderkey") % 2 == 1), "l_extendedprice", width=100
    )
    merged = quantile_sketch_merge(even, odd)
    return quantile_sketch_query(merged, [0.5, 0.9, 0.99], width=100)


# --------------------------------------------------------------------------
# grouped quantile sketch: per-key sketches + per-key quantile walks
# (the "p95 per service" monitoring shape). Same all-integer bucket
# arithmetic as q_quantile_sketch, partitioned windows instead of the
# single-cell walk.

_GROUP_QSKETCH_ORACLE = """
    WITH sk AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) // 1000 AS bucket,
             count(*) AS n
      FROM lineitem GROUP BY 1, 2),
    cum AS (
      SELECT l_returnflag, bucket,
             sum(n) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS c,
             sum(n) OVER (PARTITION BY l_returnflag) AS total
      FROM sk)
    SELECT l_returnflag, CAST(q AS DOUBLE) AS q,
           CAST(min(bucket) * 1000 AS DOUBLE) / 100 AS value
    FROM cum CROSS JOIN (SELECT unnest([0.5, 0.95]) AS q)
    WHERE c >= ceil(CAST(q AS DOUBLE) * total)
    GROUP BY l_returnflag, q
"""


@q("q_group_quantiles", _GROUP_QSKETCH_ORACLE)
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag p50/p95 of l_extendedprice via grouped
    quantile_sketch ($10 buckets on exact cents) — per-key partitioned
    cumsum walks, hash-exact vs the oracle's replication."""
    from astro_sdk_spark.functions.quantiles import (
        quantile_sketch_build,
        quantile_sketch_query,
    )

    li = T(spark, sf_dir, "lineitem")
    sk = quantile_sketch_build(li, "l_extendedprice", width=1000, by=["l_returnflag"])
    return quantile_sketch_query(sk, [0.5, 0.95], width=1000, by=["l_returnflag"])


# --------------------------------------------------------------------------
# STREAMING grouped quantiles under the gate: the same per-key sketch as
# q_group_quantiles, but maintained by stream_quantile_ingest(by=...) over
# two micro-batches (order-parity halves of lineitem) through the shared
# sketch store (streaming/store.py — replay watermark, staged swap,
# empty-batch no-op). Mergeability makes the streamed store equal the flat
# whole-table build, so the SAME oracle replication gates the streaming
# path the way q_events_rollup gates the incremental rollup.


@q("q_stream_group_quantiles", _GROUP_QSKETCH_ORACLE)
def q_stream_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag p50/p95 of l_extendedprice computed from a sketch
    table maintained by the STREAMING ingest (foreachBatch over two
    parquet micro-batches), hash-exact vs the flat grouped oracle."""
    import os
    import shutil
    import tempfile

    from astro_sdk_spark.functions.quantiles import quantile_sketch_query
    from astro_sdk_spark.streaming.ops import stream_quantile_ingest
    from astro_sdk_spark.streaming.testing import stage_microbatch_files

    tbl = "q_stream_grp_qsk"
    drop_managed_table(spark, tbl)
    work = tempfile.mkdtemp(prefix="q_stream_grp_")
    try:
        src = stage_microbatch_files(
            [
                T(spark, sf_dir, "lineitem")
                .filter(F.col("l_orderkey") % 2 == parity)
                .select("l_returnflag", "l_extendedprice")
                for parity in (0, 1)
            ],
            os.path.join(work, "src"),
        )
        stream = (
            spark.readStream.schema("l_returnflag string, l_extendedprice double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        query = stream_quantile_ingest(
            stream, "l_extendedprice", tbl, os.path.join(work, "ckpt"),
            width=1000, by=["l_returnflag"],
        )
        if not query.awaitTermination(600):
            query.stop()
            raise TimeoutError("stream_quantile_ingest did not drain in 600s")
        if query.exception() is not None:
            raise query.exception()
    finally:
        # the sketch lives in the warehouse table; the source copies and
        # checkpoint are dead weight once the stream has drained
        shutil.rmtree(work, ignore_errors=True)
    sk = spark.table(tbl).select("l_returnflag", "bucket", "n")
    return quantile_sketch_query(sk, [0.5, 0.95], width=1000, by=["l_returnflag"])


# --------------------------------------------------------------------------
# TPC-H Q7 (volume shipping): the two-nation theta join — revenue shipped
# between a nation pair, split by direction and ship year. Reference
# analogue: the arbitrary-SELECT surface of transform
# (python-sdk/src/astro/sql/operators/transform.py:92-94). Nations are the
# synthetic generator's names; the window covers the data's 1995+ span.

_TPCH_Q7_ORACLE = f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(CAST(l_shipdate AS DATE)) AS l_year,
           {_REV_EXACT_SQL} AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND CAST(l_shipdate AS DATE)
            BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""


@q("q_tpch_q7", _TPCH_Q7_ORACLE)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations, by direction and
    year. Scale shape: the 25-row nation dim broadcasts onto supplier and
    customer FIRST, cutting both to the two nations before the lineitem
    and orders joins ever shuffle — the OR-pair direction predicate then
    filters two small string columns post-join instead of exploding into
    a cartesian. Ship-date window pushes into the lineitem scan."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = T(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    s = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        T(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    sd = F.col("l_shipdate").cast("date")
    return (
        li.filter(
            (sd >= F.lit("1995-01-01").cast("date"))
            & (sd <= F.lit("1996-12-31").cast("date"))
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_3")
                & (F.col("cust_nation") == "NATION_7")
            )
            | (
                (F.col("supp_nation") == "NATION_7")
                & (F.col("cust_nation") == "NATION_3")
            )
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year(sd).alias("l_year")
        )
        .agg(_rev_exact().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# TPC-H Q21 (suppliers who kept orders waiting), adapted to this schema:
# lineitem has no receipt/commit dates, so "late" = shipped more than 100
# days after the order date. The ORACLE keeps the canonical correlated
# EXISTS + NOT EXISTS self-joins on lineitem; the SPARK side is the
# standard scale rewrite — ONE per-order aggregate (distinct suppliers,
# distinct LATE suppliers) joined back, which collapses both correlated
# subqueries into a single shuffle on l_orderkey that the lineitem⋈orders
# join already established (exchange reuse), instead of two more
# lineitem-sized self-join shuffles. The hash gate proves the rewrite
# equals the EXISTS form.

_TPCH_Q21_ORACLE = """
    SELECT n_name, s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND CAST(l1.l_shipdate AS DATE) >
            CAST(o_orderdate AS DATE) + INTERVAL 100 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND CAST(l3.l_shipdate AS DATE) >
                              CAST(o_orderdate AS DATE) + INTERVAL 100 DAY)
      AND s_nationkey = n_nationkey
      AND n_name IN ('NATION_0', 'NATION_1', 'NATION_2',
                     'NATION_3', 'NATION_4')
    GROUP BY n_name, s_name
"""


@q("q_tpch_q21", _TPCH_Q21_ORACLE)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (waiting orders): late lineitems of multi-supplier 'F'
    orders where the row's supplier is the ONLY late one. EXISTS becomes
    ``n_supp >= 2``; NOT EXISTS becomes ``n_late_supp = 1`` (the late row
    itself accounts for the one late supplier). Both come from a WINDOW
    over ONE per-(order, supplier) aggregate ``g`` — late-row multiplicity
    rides along as a count, so numwait is a sum; lineitem is scanned once
    and shuffled once (raw rows), the window shuffles only g, and no
    countDistinct/Expand or self-join ever touches raw rows again.
    supplier/nation resolve at the end on the already-tiny waiting set;
    nation broadcast."""
    of = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("_od"))
    )
    l = (
        T(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("_sd"))
        .join(of, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("_sd") > F.date_add(F.col("_od"), 100)).alias("_late"),
        )
    )
    # Pre-aggregate to one row per (order, supplier), carrying the LATE-row
    # multiplicity — the distinct-supplier counts become plain aggregates
    # over g instead of countDistinct's Expand (which would shuffle every
    # lineitem row twice). The per-order EXISTS/NOT-EXISTS conditions then
    # come from a WINDOW over g partitioned by order: no self-join, no
    # second scan of lineitem — one raw-row shuffle to build g, one
    # g-sized shuffle for the window, done.
    from pyspark.sql import Window

    g = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.col("_late").cast("long")).alias("_n_late_rows")
    )
    w = Window.partitionBy("l_orderkey")
    waiting = (
        g.withColumn("_n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "_n_late",
            F.sum((F.col("_n_late_rows") > 0).cast("long")).over(w),
        )
        .filter(
            (F.col("_n_late_rows") > 0)
            & (F.col("_n_supp") >= 2)
            & (F.col("_n_late") == 1)
        )
    )
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(
            "NATION_0", "NATION_1", "NATION_2", "NATION_3", "NATION_4"
        )
    )
    return (
        waiting.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_name")
        .agg(F.sum("_n_late_rows").alias("numwait"))
    )


# --------------------------------------------------------------------------
# STREAMING grouped CMS under the gate: per-returnflag supplier-frequency
# sketches maintained by stream_sketch_ingest(by=...) over two parity
# micro-batches through the shared sketch store — the CMS twin of
# q_stream_group_quantiles. Mergeability makes the streamed store equal
# the flat whole-table build, so the oracle replicates the md5 grid
# per group and queries the low keys.

_GROUP_CMS_ORACLE = """
    WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    cells AS (
      SELECT l_returnflag, ds.d,
             CAST('0x' || substr(md5(ds.d || ':' ||
                                     CAST(l_suppkey AS VARCHAR)), 1, 15)
                  AS BIGINT) % 512 AS cell
      FROM lineitem CROSS JOIN ds),
    sk AS (SELECT l_returnflag, d, cell, count(*) AS n
           FROM cells GROUP BY 1, 2, 3),
    qk AS (SELECT DISTINCT l_returnflag, l_suppkey
           FROM lineitem WHERE l_suppkey <= 20),
    qc AS (
      SELECT l_returnflag, l_suppkey, ds.d,
             CAST('0x' || substr(md5(ds.d || ':' ||
                                     CAST(l_suppkey AS VARCHAR)), 1, 15)
                  AS BIGINT) % 512 AS cell
      FROM qk CROSS JOIN ds)
    SELECT qc.l_returnflag, qc.l_suppkey, min(coalesce(sk.n, 0)) AS est
    FROM qc LEFT JOIN sk ON sk.l_returnflag = qc.l_returnflag
                        AND sk.d = qc.d AND sk.cell = qc.cell
    GROUP BY 1, 2
"""


@q("q_stream_group_counts", _GROUP_CMS_ORACLE)
def q_stream_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag frequencies of low supplier keys from a grouped CMS
    maintained by the STREAMING ingest (foreachBatch over two parquet
    micro-batches), hash-exact vs the flat grouped oracle replication."""
    import os
    import shutil
    import tempfile

    from astro_sdk_spark.functions.cms import cms_query
    from astro_sdk_spark.streaming.ops import stream_sketch_ingest
    from astro_sdk_spark.streaming.testing import stage_microbatch_files

    tbl = "q_stream_grp_cms"
    drop_managed_table(spark, tbl)
    work = tempfile.mkdtemp(prefix="q_stream_grp_cms_")
    try:
        src = stage_microbatch_files(
            [
                T(spark, sf_dir, "lineitem")
                .filter(F.col("l_orderkey") % 2 == parity)
                .select("l_returnflag", "l_suppkey")
                for parity in (0, 1)
            ],
            os.path.join(work, "src"),
        )
        stream = (
            spark.readStream.schema("l_returnflag string, l_suppkey bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        query = stream_sketch_ingest(
            stream, "l_suppkey", tbl, os.path.join(work, "ckpt"),
            width=512, depth=4, by=["l_returnflag"],
        )
        if not query.awaitTermination(600):
            query.stop()
            raise TimeoutError("stream_sketch_ingest did not drain in 600s")
        if query.exception() is not None:
            raise query.exception()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sk = spark.table(tbl).select("l_returnflag", "d", "cell", "n")
    keys = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 20)
        .select("l_returnflag", "l_suppkey")
        .distinct()
    )
    return cms_query(
        sk, keys, "l_suppkey", width=512, depth=4, by=["l_returnflag"]
    )


# --------------------------------------------------------------------------
# TPC-H Q4 (order priority checking), adapted: an order counts when ANY of
# its lineitems shipped more than 100 days after the order date (the
# schema has no commit/receipt dates). The oracle keeps the correlated
# EXISTS; Spark runs it as a LEFT SEMI join whose condition carries the
# correlation (l_shipdate > o_orderdate + 100) INTO the join — no
# per-order subquery, one pass over lineitem, duplicate matches collapse
# inside the semi-join instead of needing a distinct.

_TPCH_Q4_ORACLE = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND CAST(l_shipdate AS DATE) >
                          CAST(o_orderdate AS DATE) + INTERVAL 100 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@q("q_tpch_q4", _TPCH_Q4_ORACLE)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: 1996 orders with at least one late lineitem, counted per
    priority. The correlated EXISTS compiles to a single left-semi join
    with the date correlation as a join residual — lineitem never
    materializes matches (semi stops at the first), and the orders date
    window pushes into the scan."""
    o = (
        T(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("_od"),
        )
        .filter(
            (F.col("_od") >= F.lit("1996-01-01").cast("date"))
            & (F.col("_od") < F.lit("1997-01-01").cast("date"))
        )
    )
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("_sd")
    )
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("_sd") > F.date_add(F.col("_od"), 100)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# TPC-H Q8 (national market share), adapted to the synthetic names: the
# share of NATION_3 suppliers in the STANDARD-part order volume of ASIA
# customers, per order year. The widest dim fan-in in the registry
# (part + orders + customer + supplier + nation×2 + region around
# lineitem). The share is a ratio of two exact 1e-4-dollar integer sums,
# floor-pinned to 6 digits in both engines.

_TPCH_Q8_ORACLE = """
    WITH all_nations AS (
      SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
        AND CAST(o_orderdate AS DATE)
              BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        AND p_type LIKE 'STANDARD%')
    SELECT o_year,
           floor(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                               THEN vol ELSE 0 END) AS DOUBLE)
                 / CAST(sum(vol) AS DOUBLE) * 1000000 + 0.5)
             / 1000000 AS mkt_share
    FROM all_nations
    GROUP BY o_year
    ORDER BY o_year
"""


@q("q_tpch_q8", _TPCH_Q8_ORACLE)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of ASIA-customer STANDARD-part volume
    by year. nation/region broadcast; part is pre-filtered on p_type
    before joining (column-pruned to the key); the supplier nation rides
    a broadcast so the share's CASE needs no extra join. Numerator and
    denominator are DECIMAL(38) sums of per-row BIGINT volumes — one
    double division at the end, floor-pinned identically in both
    engines."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    p = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_type").like("STANDARD%"))
        .select("p_partkey")
    )
    od = F.col("o_orderdate").cast("date")
    vol = _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
    cust_asia = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_n = (
        s.join(
            F.broadcast(n.select(F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("_snk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", vol)
        .otherwise(F.lit(0))
        .cast("decimal(38,0)")
    )
    den = _dsum(vol)
    share = (
        F.floor(
            num.cast("double") / den.cast("double") * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            o.filter(
                (od >= F.lit("1995-01-01").cast("date"))
                & (od <= F.lit("1996-12-31").cast("date"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(supp_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year(od).alias("o_year"))
        .agg(share.alias("mkt_share"))
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# TPC-H Q6 (forecasting revenue change): the pure scan-side query — no
# join at all; three pushable predicates and one exact fixed-point sum.
# The benchmark's measure of predicate pushdown + codegen throughput.

_TPCH_Q6_ORACLE = """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / 10000 AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@q("q_tpch_q6", _TPCH_Q6_ORACLE)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: discount revenue over a year/discount/quantity slice —
    one scan, every predicate pushed, one map-side-combined exact sum
    (price·disc at 1e-4-dollar integer scale, DECIMAL(38) accumulator)."""
    li = T(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate").cast("date")
    return (
        li.filter(
            (sd >= F.lit("1996-01-01").cast("date"))
            & (sd < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                _dsum(_cents("l_extendedprice") * _cents("l_discount")).cast(
                    "double"
                )
                / 10000
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q13 (customer distribution): the LEFT OUTER + aggregate-of-
# aggregate shape — customers with zero (qualifying) orders must survive
# the join and land in the c_count=0 bucket. No other registry query
# preserves unmatched left rows through a double aggregation.

_TPCH_Q13_ORACLE = """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


@q("q_tpch_q13", _TPCH_Q13_ORACLE)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: how many customers placed how many non-urgent orders,
    INCLUDING the zero-order customers (left join keeps them; count of a
    NULL key is 0). The order-side filter sits in the JOIN condition, not
    a WHERE — a WHERE would delete the unmatched customers the query
    exists to count. Second aggregate runs over one row per customer."""
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# TPC-H Q17 (small-quantity-order revenue): the correlated-scalar-
# subquery shape — rows qualify against THEIR part's average quantity.
# The oracle keeps the canonical correlated subqueries; Spark computes
# per-part (sum, count) once and joins back. The threshold compare is
# pure integers on both sides: qty < 0.2·avg  ⇔  5·qc·n < Σqc (all
# positive), so no engine ever divides.

_TPCH_Q17_ORACLE = """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 700 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND 5 * CAST(round(l_quantity * 100) AS BIGINT)
            * (SELECT count(*) FROM lineitem l2
               WHERE l2.l_partkey = p_partkey)
          < (SELECT sum(CAST(round(l2.l_quantity * 100) AS BIGINT))
             FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


@q("q_tpch_q17", _TPCH_Q17_ORACLE)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost by only filling small orders of one
    brand's parts. The correlated average collapses to ONE per-part
    aggregate over lineitem joined back on partkey (broadcast-friendly:
    the part filter cuts the probe side first), and the 0.2·avg cut is
    the cross-multiplied integer comparison — deterministic at any
    scale, no double accumulation anywhere."""
    li = T(spark, sf_dir, "lineitem")
    p = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    qc = _cents("l_quantity")
    stats = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        _dsum(qc).alias("_sum_qc"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(stats, F.col("l_partkey") == F.col("_pk"))
        .filter(
            F.lit(5) * qc.cast("decimal(38,0)") * F.col("_n")
            < F.col("_sum_qc")
        )
        .agg(
            (_dsum(_cents("l_extendedprice")).cast("double") / 700).alias(
                "avg_yearly"
            )
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q15 (top supplier): a derived aggregate consumed twice — once as
# the join input, once inside a scalar MAX subquery. The revenue compare
# stays on the exact 1e-4-dollar INTEGERS (ties and equality are
# well-defined); only the output column converts to dollars.

_TPCH_Q15_ORACLE = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS total_rev
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) / 10000 AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s_suppkey
"""


@q("q_tpch_q15", _TPCH_Q15_ORACLE)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximal quarterly revenue. The
    per-supplier aggregate is ~|suppliers| rows, so the MAX rides a
    broadcast one-row cross join against it (never against lineitem) and
    the equality is integer-exact — ties return every maximal supplier
    identically in both engines. supplier joins LAST, against at most
    the tied winners."""
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    sd = F.col("l_shipdate").cast("date")
    revenue = (
        li.filter(
            (sd >= F.lit("1996-01-01").cast("date"))
            & (sd < F.lit("1996-04-01").cast("date"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            _dsum(
                _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))
            ).alias("_total_rev")
        )
    )
    mx = revenue.agg(F.max("_total_rev").alias("_mx"))
    winners = (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("_total_rev") == F.col("_mx"))
        .select(
            "supplier_no",
            (F.col("_total_rev").cast("double") / 10000).alias("total_revenue"),
        )
    )
    return (
        winners.join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# TPC-H Q2 / Q9 / Q11 / Q12 / Q16 / Q19 / Q20 — the seven shapes that need
# relations/columns the synthetic schema doesn't ship (partsupp, shipmode,
# container, receipt/commit dates, mfgr). Both engines derive them with
# IDENTICAL deterministic integer arithmetic over existing keys (the
# q_c4_rules staging device): the hash gate therefore still proves the
# join/agg/subquery machinery — the only synthesized thing is the INPUT.
#
# partsupp := the distinct (part, supplier) pairs that actually trade in
# lineitem — mirrors dbgen's referential integrity, where every lineitem
# row references a partsupp row — with availqty/supplycost as key-derived
# integers (supplycost carried in exact integer CENTS `_sc_c` so money
# aggregates stay order-independent, same discipline as _rev_exact).

_PARTSUPP_SQL = """
  partsupp AS (
    SELECT ps_partkey, ps_suppkey,
           CAST((ps_partkey * 31 + ps_suppkey * 17) % 9999 + 1 AS INTEGER)
             AS ps_availqty,
           (ps_partkey * 7919 + ps_suppkey * 104729) % 100000 + 100 AS _sc_c,
           CAST((ps_partkey * 7919 + ps_suppkey * 104729) % 100000 + 100
                AS DOUBLE) / 100 AS ps_supplycost
    FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
          FROM lineitem))
"""


def _synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _PARTSUPP_SQL (see the block comment above)."""
    pairs = (
        T(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .dropDuplicates(["ps_partkey", "ps_suppkey"])
    )
    sc_c = (
        F.col("ps_partkey") * 7919 + F.col("ps_suppkey") * 104729
    ) % 100000 + 100
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 9999 + 1)
        .cast("int")
        .alias("ps_availqty"),
        sc_c.alias("_sc_c"),
        (sc_c.cast("double") / 100).alias("ps_supplycost"),
    )


_TPCH_Q2_ORACLE = f"""
    WITH {_PARTSUPP_SQL},
    eur AS (
      SELECT ps_partkey, ps_suppkey, ps_supplycost,
             s_acctbal, s_name, n_name
      FROM partsupp, supplier, nation, region
      WHERE s_suppkey = ps_suppkey AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey AND r_name = 'EUROPE'),
    minc AS (
      SELECT ps_partkey, min(ps_supplycost) AS _minc
      FROM eur GROUP BY ps_partkey)
    SELECT s_acctbal, s_name, n_name, p_partkey,
           'MFGR_' || CAST(p_partkey % 5 AS VARCHAR) AS p_mfgr,
           ps_supplycost
    FROM part, eur, minc
    WHERE p_partkey = eur.ps_partkey AND p_partkey = minc.ps_partkey
      AND ps_supplycost = _minc
      AND p_size <= 5 AND p_type = 'SMALL'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""


@q("q_tpch_q2", _TPCH_Q2_ORACLE)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted: partsupp synthesized
    (see _PARTSUPP_SQL), p_mfgr key-derived, LIKE-type → equality on the
    single-word p_type domain. Scale shape: the supplier→nation→region
    dim chain broadcasts onto partsupp FIRST (region filter cuts it to
    one region before the big table is touched), the correlated min
    becomes one per-part aggregate joined back (no per-row subquery), and
    part's size/type predicate pushes into its scan. ORDER BY is total
    (acctbal, nation, supplier name, part key) so LIMIT 100 is the same
    set in both engines."""
    ps = _synth_partsupp(spark, sf_dir)
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eur = ps.join(F.broadcast(s), F.col("ps_suppkey") == F.col("s_suppkey"))
    minc = eur.groupBy("ps_partkey").agg(F.min("ps_supplycost").alias("_minc"))
    p = (
        T(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 5) & (F.col("p_type") == "SMALL"))
        .select(
            "p_partkey",
            F.concat(
                F.lit("MFGR_"), (F.col("p_partkey") % 5).cast("string")
            ).alias("p_mfgr"),
        )
    )
    return (
        eur.join(minc, "ps_partkey")
        .filter(F.col("ps_supplycost") == F.col("_minc"))
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_mfgr",
            "ps_supplycost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


_TPCH_Q9_ORACLE = f"""
    WITH {_PARTSUPP_SQL}
    SELECT nation, o_year,
           CAST(sum(amount_e4) AS DOUBLE) / 10000 AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS o_year,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))
               - _sc_c * CAST(round(l_quantity * 100) AS BIGINT)
               AS amount_e4
      FROM part, supplier, lineitem, partsupp, orders, nation
      WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
        AND ps_partkey = l_partkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
"""


@q("q_tpch_q9", _TPCH_Q9_ORACLE)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): multi-fact star — lineitem joins
    part (name filter), synthesized partsupp (supply cost), orders (year)
    and supplier→nation. Profit is computed entirely in 1e-4-dollar
    integer fixed point (price·(1−disc) − supplycost·qty), summed in a
    DECIMAL(38,0)/HUGEINT accumulator, so the result is order-independent
    across any partitioning. Scale shape: the part name filter broadcasts
    onto lineitem first (cuts ~7/8 of rows before any shuffle), the
    partsupp join reuses the (partkey, suppkey) keys, supplier/nation
    broadcast at the end."""
    red = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    sn = (
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(T(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(F.col("o_orderdate").cast("date")).cast("int").alias("o_year"),
    )
    li = (
        T(spark, sf_dir, "lineitem")
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            _synth_partsupp(spark, sf_dir),
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    amount = _cents("l_extendedprice") * (
        F.lit(100) - _cents("l_discount")
    ) - F.col("_sc_c") * _cents("l_quantity")
    return (
        li.groupBy("nation", "o_year")
        .agg((_dsum(amount).cast("double") / 10000).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


_TPCH_Q11_ORACLE = f"""
    WITH {_PARTSUPP_SQL},
    nat AS (
      SELECT ps_partkey, _sc_c * ps_availqty AS v_c
      FROM partsupp, supplier, nation
      WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_3'),
    pv AS (SELECT ps_partkey, sum(v_c) AS value_c FROM nat GROUP BY ps_partkey),
    tot AS (SELECT sum(value_c) AS total_c, count(*) AS n_parts FROM pv)
    SELECT ps_partkey, CAST(value_c AS DOUBLE) / 100 AS value
    FROM pv, tot
    WHERE value_c * n_parts * 10 > 12 * total_c
    ORDER BY value DESC, ps_partkey
"""


@q("q_tpch_q11", _TPCH_Q11_ORACLE)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock), adapted: the fixed 0.0001 fraction
    (which is SF-dependent in dbgen) becomes 1.2× the mean per-part value
    so the result is non-vacuous at every synthetic SF. Value is exact
    integer cents (supplycost_cents × availqty) end to end; the global
    threshold is a one-row broadcast cross join (adjudicated tiny-side
    pattern, same as q_tpch_q15's MAX) and the comparison is pure integer
    arithmetic — no double drift on either side."""
    ps = _synth_partsupp(spark, sf_dir)
    sn = (
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    pv = (
        ps.join(F.broadcast(sn), F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(_dsum(F.col("_sc_c") * F.col("ps_availqty")).alias("value_c"))
    )
    tot = pv.agg(
        F.sum("value_c").alias("total_c"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("value_c") * F.col("n_parts") * 10 > F.lit(12) * F.col("total_c")
        )
        .select(
            "ps_partkey", (F.col("value_c").cast("double") / 100).alias("value")
        )
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


# Q12/Q19 column synthesis: shipmode/container/shipinstruct and the
# commit/receipt dates don't exist in the synthetic lineitem — derive them
# key-deterministically, identically on both sides (see the Q2 block
# comment). Receipt windows are chosen so each canonical predicate
# (commit < receipt, ship < commit) keeps real selectivity.

_L_SHIPMODE_SQL = "'MODE_' || CAST((l_orderkey * 7 + l_linenumber) % 7 AS VARCHAR)"
_L_COMMIT_SQL = (
    "CAST(l_shipdate AS DATE)"
    " + CAST(1 + (l_orderkey * 5 + l_linenumber) % 30 AS INTEGER)"
)
_L_RECEIPT_SQL = (
    f"{_L_COMMIT_SQL}"
    " + CAST((l_orderkey * 11 + l_linenumber * 7) % 20 - 5 AS INTEGER)"
)


def _l_shipmode():
    return F.concat(
        F.lit("MODE_"),
        ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 7).cast("string"),
    )


def _l_commitdate():
    return F.date_add(
        F.col("l_shipdate").cast("date"),
        (1 + (F.col("l_orderkey") * 5 + F.col("l_linenumber")) % 30).cast("int"),
    )


def _l_receiptdate():
    return F.date_add(
        _l_commitdate(),
        ((F.col("l_orderkey") * 11 + F.col("l_linenumber") * 7) % 20 - 5).cast(
            "int"
        ),
    )


_TPCH_Q12_ORACLE = f"""
    SELECT l_shipmode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT l_orderkey, {_L_SHIPMODE_SQL} AS l_shipmode,
             {_L_COMMIT_SQL} AS l_commitdate,
             {_L_RECEIPT_SQL} AS l_receiptdate,
             CAST(l_shipdate AS DATE) AS l_shipdate
      FROM lineitem) l, orders
    WHERE o_orderkey = l_orderkey
      AND l_shipmode IN ('MODE_1', 'MODE_3')
      AND l_commitdate < l_receiptdate
      AND l_shipdate < l_commitdate
      AND l_receiptdate >= DATE '1996-01-01'
      AND l_receiptdate < DATE '1997-01-01'
    GROUP BY l_shipmode
    ORDER BY l_shipmode
"""


@q("q_tpch_q12", _TPCH_Q12_ORACLE)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes & order priority): commit/receipt dates
    and shipmode are key-derived (see module block comment). All lineitem
    predicates are computed column filters evaluated in the scan stage
    (whole-stage codegen, before the orders join shuffles anything);
    priority classification is a conditional count post-join. ship <
    commit is tautologically true by construction (offset ≥ 1 day) but
    kept for shape parity; commit < receipt keeps ~25% of rows."""
    li = (
        T(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            _l_shipmode().alias("l_shipmode"),
            _l_commitdate().alias("l_commitdate"),
            _l_receiptdate().alias("l_receiptdate"),
            F.col("l_shipdate").cast("date").alias("l_shipdate_d"),
        )
        .filter(
            F.col("l_shipmode").isin("MODE_1", "MODE_3")
            & (F.col("l_commitdate") < F.col("l_receiptdate"))
            & (F.col("l_shipdate_d") < F.col("l_commitdate"))
            & (F.col("l_receiptdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_receiptdate") < F.lit("1997-01-01").cast("date"))
        )
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


_TPCH_Q16_ORACLE = f"""
    WITH {_PARTSUPP_SQL}
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp, part
    WHERE p_partkey = ps_partkey
      AND p_brand <> 'Brand#5'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 13, 19, 25, 36, 49)
      AND ps_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_suppkey % 13 = 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@q("q_tpch_q16", _TPCH_Q16_ORACLE)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): the canonical comment-LIKE
    supplier exclusion becomes a key-derived predicate (s_suppkey % 13 —
    the synthetic supplier has no comment column). Scale shape: the
    excluded-supplier set is a broadcast LEFT ANTI join (NOT IN over a
    null-free key column is anti-join semantics), part's brand/type/size
    predicates push into its scan and broadcast onto partsupp, and the
    distinct supplier count is one partial-aggregated groupBy."""
    ps = _synth_partsupp(spark, sf_dir)
    bad = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 13 == 0)
        .select("s_suppkey")
    )
    p = (
        T(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 7, 13, 19, 25, 36, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(F.broadcast(bad), F.col("ps_suppkey") == F.col("s_suppkey"),
                "left_anti")
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


_TPCH_Q19_ORACLE = f"""
    SELECT {_REV_EXACT_SQL} AS revenue
    FROM (
      SELECT l_partkey, l_quantity, l_extendedprice, l_discount,
             {_L_SHIPMODE_SQL} AS l_shipmode,
             (l_orderkey + l_suppkey) % 4 AS l_instr
      FROM lineitem) l, part
    WHERE p_partkey = l_partkey
      AND l_shipmode IN ('MODE_2', 'MODE_5')
      AND l_instr = 1
      AND ((p_brand = 'Brand#12'
            AND 'CONT_' || CAST(p_partkey % 8 AS VARCHAR)
                  IN ('CONT_1', 'CONT_2', 'CONT_3', 'CONT_4')
            AND l_quantity >= 1 AND l_quantity <= 20
            AND p_size BETWEEN 1 AND 10)
        OR (p_brand = 'Brand#23'
            AND 'CONT_' || CAST(p_partkey % 8 AS VARCHAR)
                  IN ('CONT_0', 'CONT_5')
            AND l_quantity >= 10 AND l_quantity <= 30
            AND p_size BETWEEN 1 AND 20)
        OR (p_brand = 'Brand#3'
            AND 'CONT_' || CAST(p_partkey % 8 AS VARCHAR)
                  IN ('CONT_6', 'CONT_7')
            AND l_quantity >= 20 AND l_quantity <= 40
            AND p_size BETWEEN 1 AND 30))
"""


@q("q_tpch_q19", _TPCH_Q19_ORACLE)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): container
    and shipinstruct are key-derived. The canonical form puts the OR block
    in the JOIN condition; the Spark plan keeps the partkey equi-join
    (hash join, never nested-loop) and evaluates the disjunction as a
    post-join filter — Catalyst additionally pushes the extracted common
    conjuncts (shipmode set, instr, the quantity envelope) down into the
    lineitem scan. Revenue is the exact fixed-point sum."""
    p = T(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size",
        F.concat(F.lit("CONT_"), (F.col("p_partkey") % 8).cast("string"))
        .alias("p_container"),
    )
    li = (
        T(spark, sf_dir, "lineitem")
        .select(
            "l_partkey", "l_quantity", "l_extendedprice", "l_discount",
            _l_shipmode().alias("l_shipmode"),
            ((F.col("l_orderkey") + F.col("l_suppkey")) % 4).alias("l_instr"),
        )
        .filter(
            F.col("l_shipmode").isin("MODE_2", "MODE_5")
            & (F.col("l_instr") == 1)
        )
    )
    qty = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_container").isin("CONT_1", "CONT_2", "CONT_3", "CONT_4")
            & (qty >= 1) & (qty <= 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_container").isin("CONT_0", "CONT_5")
            & (qty >= 10) & (qty <= 30)
            & F.col("p_size").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_container").isin("CONT_6", "CONT_7")
            & (qty >= 20) & (qty <= 40)
            & F.col("p_size").between(1, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(_rev_exact().alias("revenue"))
    )


_TPCH_Q20_ORACLE = f"""
    WITH {_PARTSUPP_SQL}
    SELECT s_suppkey, s_name
    FROM supplier, nation
    WHERE s_suppkey IN (
        SELECT ps_suppkey
        FROM partsupp
        WHERE ps_partkey IN
              (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
          AND CAST(ps_availqty AS BIGINT) * 2 > (
              SELECT sum(CAST(l_quantity AS BIGINT))
              FROM lineitem
              WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
                AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
                AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'))
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
    ORDER BY s_name
"""


@q("q_tpch_q20", _TPCH_Q20_ORACLE)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (excess-stock suppliers): nested semi-joins. The
    correlated half-of-shipped-quantity subquery becomes ONE per-(part,
    supplier) aggregate of the 1996 lineitem slice inner-joined back
    (inner = canonical NULL-comparison semantics: a pair with no 1996
    shipments fails the > test); the part-name and supplier-key IN
    subqueries are semi-joins (part set broadcast). Quantities are
    integral by data contract, so the half-stock comparison is exact
    integer arithmetic (availqty·2 > sum qty) on both sides."""
    ps = _synth_partsupp(spark, sf_dir)
    red = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    sd = F.col("l_shipdate").cast("date")
    q96 = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (sd >= F.lit("1996-01-01").cast("date"))
            & (sd < F.lit("1997-01-01").cast("date"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("_qty96"))
    )
    good = (
        ps.join(F.broadcast(red), F.col("ps_partkey") == F.col("p_partkey"),
                "left_semi")
        .join(
            q96,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty").cast("bigint") * 2 > F.col("_qty96"))
        .select("ps_suppkey")
    )
    return (
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(good, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# Driver window ordering.
#
# The correctness driver records the first 50 registry entries
# (CORRECTNESS_r02.json held exactly the first 50 of 54 registered queries),
# so registry order decides which queries get driver-verified rows. Order
# family-first: every operator family keeps at least one representative
# inside the window; within-family variants whose family is already
# represented move to the tail. Tail queries remain fully oracle-checked
# locally via tools/check_oracle.py and the test suite.

_TAIL_VARIANTS = [
    # variant pushed to tail        family representative(s) still in window
    #
    # Round-9 rotation: the driver only verifies the first 50 entries, so
    # long-tail variants never get driver-verified rows. Six variants that
    # had ONLY local verification since round 5 rotate INTO the window
    # (q_window_extended, q_events_rollup, q_fuzzy_join, q_cube,
    # q_merge_ignore, q_date_funcs — removed from this list), and nine
    # multiply-driver-verified queries rotate OUT (added below), keeping
    # every family represented in-window and making room for the three new
    # round-9 queries (q_tpch_q7, q_tpch_q21, q_stream_group_counts).
    "q_window_topk",       # windows: q_window_extended rotated in-window
                           # (driver-verified r2-r8)
    "q_events_sessions",   # events: q_events_tumbling + q_events_rollup
                           # in-window (driver-verified r2-r8)
    "q_semi_anti_join",    # joins: q_join_agg, q_tpch_q21
                           # (anti-join shape) in-window (verified r2-r8)
    "q_rollup",            # grouping analytics: q_grouping_sets + q_cube
                           # in-window (driver-verified r2-r8)
    "q_scalar_funcs",      # scalar fns: q_date_funcs in-window
                           # in-window (driver-verified r2-r8)
    "q_dedup_keeplist",    # dedup-clusters: q_dedup_clusters in-window
                           # (driver-verified r2-r8)
    "q_ivf_trained",       # ANN: q_embedding_topk, q_ivfpq_topk
                           # in-window (driver-verified r5-r8)
    "q_ann_lsh",           # similarity: q_embedding_topk, q_ivfpq_topk
    "q_ann_recall",        # similarity: q_embedding_topk (tailed to make
                           # window room for q_load_avro)
    "q_pq_topk",           # PQ: q_ivfpq_topk runs the same encode+ADC
                           # machinery inside its in-window oracle
    "q_ivfpq_trained",     # PQ: q_ivfpq_topk (in-window) + q_ivf_trained
                           # cover the probe/scan and trainer families
    "q_neardup_renamed_cols",  # minhash: q_minhash_neardup (same oracle)
    "q_window_running",    # windows: q_window_extended (q_window_topk
                           # rotated to tail in round 9)
    "q_doc_fingerprint",   # text: q_quality_score, q_repetition_stats
    "q_stratified_sample", # sampling: q_domain_mix, q_seq_packing
    "q_pivot",             # grouping analytics: q_grouping_sets, q_cube
                           # (q_rollup rotated to tail in round 9)
                           # (tailed to make window room for q_transform_ctas)
    "q_distinct_counts",   # aggregation: q_pricing_summary
    "q_group_having",      # aggregation: q_pricing_summary (tailed to make
                           # window room for q_transform_ctas)
    "q_string_funcs",      # scalar fns: q_date_funcs in-window
                           # (q_scalar_funcs rotated to tail in round 9)
    "q_events_sliding",    # events: q_events_tumbling, q_events_rollup
    "q_histogram",         # distribution: q_percentiles
    "q_lang_distribution", # text: q_lang_id
    "q_bpe_token_count",   # text: q_quality_score, q_repetition_stats
    "q_bpe_train",         # tokenizer training: q_quality_score,
                           # q_repetition_stats in-window (text family)
    "q_bpe_encode",        # tokenizer encode: same family
    "q_events_gapfill",    # events: q_events_tumbling, q_events_rollup
    "q_gopher_filter",     # text quality: q_quality_score (in-window)
    "q_c4_rules",          # cleaning: q_decontaminate in-window
    "q_doc_chunks",        # sampling/example-prep: q_seq_packing in-window
                           # (same window-geometry family)
    "q_contamination_score",  # cleaning: q_decontaminate
                              # in-window (graded variant of decontaminate)
    "q_unimax",            # sampling/mixture: q_domain_mix in-window
                           # in-window (multilingual budget allocation)
    "q_weighted_sample",   # sampling: q_domain_mix,
                           # q_seq_packing in-window (E–S reservoir)
    "q_unicode_normalize",  # cleaning: q_decontaminate
                            # in-window (canonicalization pass)
    "q_outliers",          # data-quality: q_check_table
                           # in-window (robust-fence variant)
    "q_strip_html",        # cleaning: q_decontaminate
                           # in-window (HTML→text extraction pass)
    "q_rolling",           # events: q_events_tumbling in-window
                           # (trailing-window feature variant)
    "q_anomaly",           # events: q_events_tumbling in-window
                           # (rolling z-score monitoring variant)
    "q_skew_report",       # data-quality: q_check_table
                           # in-window (hot-key distribution diagnostic)
    "q_incremental_fresh",  # ctas/operator layer: q_transform_ctas
                            # in-window (incremental-load freshness)
    "q_hard_negatives",    # ann: q_embedding_topk in-window
                           # (cross-label mining composition)
    "q_temperature_mix",   # sampling/mixture: q_train_split, q_domain_mix
                           # in-window (mT5 n^α rule; UniMax's precursor)
    "q_impute",            # data-quality: q_check_table
                           # in-window (null-repair transform)
    "q_zorder",            # ctas/operator-layout: q_transform_ctas,
                           # q_compact_roundtrip in-window
    "q_winsorize",         # data-quality: q_check_table in-window
                           # (clip variant of the q_outliers family)
    "q_unpivot",           # grouping analytics: q_grouping_sets, q_cube
                           # in-window (pivot's inverse reshape)
    #
    # Round-10 rotation: nine r2-r9 veterans rotate OUT to give nine
    # never-driver-verified tail queries their first driver window
    # (q_check_column, q_merge_update, q_scd2_merge, q_quantile_sketch,
    # q_pagerank, q_publish, q_tpch_q13/q15/q17 — removed from this list).
    "q_region_revenue",    # joins: q_join_agg, q_tpch_q7, q_tpch_q21,
                           # q_tpch_q13, q_tpch_q17 in-window
                           # (driver-verified r2-r9)
    "q_json_extract",      # scalar fns: q_date_funcs in-window
                           # (driver-verified r2-r9)
    "q_train_split",       # sampling: q_seq_packing, q_domain_mix
                           # in-window (driver-verified r2-r9)
    "q_token_stats",       # text: q_quality_score, q_repetition_stats
                           # in-window (driver-verified r2-r9)
    "q_pii_redaction",     # cleaning: q_decontaminate in-window
                           # (driver-verified r2-r9)
    "q_line_dedup",        # content-dedup: q_substring_dedup in-window
                           # (driver-verified r2-r9)
    "q_semantic_dedup",    # embedding-dedup: q_embedding_neardup
                           # in-window (driver-verified r5-r9)
    "q_tfidf",             # model scoring: q_lm_score in-window
                           # (driver-verified r2-r9)
    "q_ivf_topk",          # ivf-pq: q_ivfpq_topk, q_ann_persist family
                           # in-window (driver-verified r5-r9)
    #
    # Round-10 additions: two of the seven synthesized-partsupp TPC-H
    # shapes stay at the tail (their families are all represented
    # in-window); local sweeps + pytest cover them at 3 SFs.
    #
    # Round-11 rotation: nine never-driver-verified queries rotate IN
    # (q_tpch_q2, q_tpch_q9, q_tpch_q11, q_tpch_q19, q_tpch_q20,
    # q_ann_persist, q_annpq_persist, q_bloom_dedup, q_jaccard_join,
    # q_compact_roundtrip — removed from this list) and nine r2-r10
    # veterans rotate OUT, keeping every family represented in-window.
    "q_join_agg",          # joins: q_fuzzy_join, q_tpch_q2/q7/q9/q13/q17/
                           # q21 in-window (driver-verified r2-r10)
    "q_correlated_agg",    # subquery: q_tpch_q11, q_tpch_q15 in-window
                           # (driver-verified r2-r10)
    "q_filter_project",    # scan-filter-project: q_tpch_q19 in-window
                           # (driver-verified r2-r10)
    "q_ivfpq_topk",        # ivf-pq: q_ann_persist + q_annpq_persist
                           # in-window — the persisted variants run the
                           # SAME assign/ADC machinery (verified r5-r10)
    "q_dedup_exact",       # exact-dedup: q_bloom_dedup in-window
                           # (driver-verified r2-r10)
    "q_substring_dedup",   # content-dedup: q_jaccard_join in-window
                           # (driver-verified r2-r10)
    "q_transform_ctas",    # ctas-operator: q_publish + q_compact_roundtrip
                           # in-window (driver-verified r2-r10)
    "q_events_tumbling",   # events: q_events_rollup in-window
                           # (driver-verified r2-r10)
    "q_dedup_clusters",    # dedup-clusters: q_pagerank in-window
                           # (driver-verified r2-r10)
    "q_append_map",        # merge-append: q_merge_update, q_merge_ignore,
                           # q_scd2_merge in-window (driver-verified r2-r10)
    #
    # Round-11 addition: the persisted-index maintenance diagnostic
    # enters at the tail (ivf-pq family: q_ann_persist + q_annpq_persist
    # in-window run the same assignment machinery under the hash gate).
    #
    # Round-12 rotation: ten never-driver-verified queries rotate IN
    # (q_ann_stats, q_sq8_topk, q_quality_classifier, q_scd2_lookup,
    # q_table_diff, q_funnel, q_retention, q_tpch_q5, q_tpch_q8,
    # q_tpch_q18 — removed from this list) and ten r2-r11 veterans
    # rotate OUT, keeping every family represented in-window.
    "q_merge_update",      # merge-append: q_merge_ignore, q_scd2_merge,
                           # q_scd2_lookup in-window (verified r2-r11)
    "q_cube",              # grouping-analytics: q_grouping_sets in-window
                           # (driver-verified r2-r11)
    "q_check_column",      # data-quality: q_check_table, q_table_diff
                           # in-window (driver-verified r2-r11)
    "q_embedding_topk",    # ann: q_sq8_topk in-window
                           # (driver-verified r2-r11)
    "q_fuzzy_join",        # joins: q_tpch_q2/q5/q7/q8/q9/q17/q18/q21
                           # in-window (driver-verified r2-r11)
    "q_seq_packing",       # sampling: q_domain_mix in-window
                           # (driver-verified r2-r11)
    "q_lm_score",          # tfidf-scoring: q_quality_classifier in-window
                           # (driver-verified r2-r11)
    "q_publish",           # ctas-operator: q_compact_roundtrip in-window
                           # (driver-verified r2-r11)
    "q_events_rollup",     # events-streaming: q_funnel, q_retention
                           # in-window (driver-verified r2-r11)
    "q_tpch_q13",          # joins: family in-window as above
                           # (driver-verified r10-r11)
    #
    # Round-13 rotation: the ten never-driver-verified queries the r12
    # judge shortlisted rotate IN (q_tpch_q3, q_tpch_q4, q_tpch_q6,
    # q_tpch_q12, q_tpch_q16, q_profile_table, q_dsir_weights,
    # q_leakage_split, q_stream_group_quantiles, q_cms_merged — removed
    # from this list) and ten multiply-driver-verified veterans rotate
    # OUT, keeping every family represented in-window
    # (tests/test_window_order.py enforces the cover).
    "q_merge_ignore",      # merge-append: q_scd2_merge, q_scd2_lookup
                           # in-window (driver-verified r2-r12)
    "q_check_table",       # data-quality: q_profile_table (rotated in),
                           # q_table_diff in-window (verified r2-r12)
    "q_domain_mix",        # sampling: q_dsir_weights + q_leakage_split
                           # rotated in-window (driver-verified r2-r12)
    "q_quality_score",     # text-stats: q_repetition_stats in-window
                           # (driver-verified r2-r12)
    "q_quantile_sketch",   # aggregation/sketches: q_stream_group_quantiles
                           # + q_cms_merged rotated in (verified r10-r12)
    "q_tpch_q7",           # joins: q3/q4/q12/q16 rotated in, q5/q8/q9/
                           # q18/q19/q20 in-window (verified r9-r12)
    "q_tpch_q21",          # joins: q_tpch_q4 (EXISTS semi-join family)
                           # rotated in-window (driver-verified r9-r12)
    "q_tpch_q17",          # joins: family in-window as above
                           # (driver-verified r10-r12)
    "q_tpch_q15",          # subquery: q_tpch_q11 in-window
                           # (driver-verified r10-r12)
    "q_ann_persist",       # ivf-pq: q_annpq_persist + q_ann_stats
                           # in-window (driver-verified r11-r12)
    #
    # Round-14 rotation: ten never-driver-verified queries rotate IN
    # (q_sessionize, q_stream_join, q_group_quantiles, q_cms_counts,
    # q_doc_line_dedup, q_top_ngrams, q_lm_backoff, q_tpch_q10,
    # q_tpch_q14, q_tpch_q22 — removed from this list) and ten
    # multiply-driver-verified veterans rotate OUT, keeping every family
    # represented in-window (tests/test_window_order.py enforces the
    # cover). The three r13 hash-reds (q_tpch_q18, q_tpch_q12,
    # q_cms_merged) stay in-window per the r13 verdict so their oracle
    # BIGINT fix gets driver-confirmed.
    "q_pricing_summary",   # aggregation: q_cms_merged + q_stream_group_*
                           # in-window, q_group_quantiles + q_cms_counts
                           # rotated in (driver-verified r2-r13)
    "q_repetition_stats",  # text-stats: q_top_ngrams rotated in-window
                           # (driver-verified r2-r13)
    "q_funnel",            # events-streaming: q_sessionize + q_stream_join
                           # rotated in-window (driver-verified r12-r13)
    "q_retention",         # events-streaming: as q_funnel
                           # (driver-verified r12-r13)
    "q_quality_classifier",  # tfidf-scoring: q_lm_backoff rotated
                             # in-window (driver-verified r12-r13)
    "q_scd2_merge",        # merge-append: q_scd2_lookup in-window
                           # (driver-verified r12-r13)
    "q_tpch_q5",           # joins: q_tpch_q10/q14/q22 rotated in, q3/q4/
                           # q8/q12/q16/q18/q20 in-window (verified r12-r13)
    "q_tpch_q2",           # joins: family in-window as above
                           # (driver-verified r11-r13)
    "q_tpch_q9",           # joins: family in-window as above
                           # (driver-verified r11-r13)
    "q_tpch_q19",          # scan-filter-project: q_tpch_q6 in-window
                           # (driver-verified r11-r13)
]


def _apply_window_order() -> None:
    for _name in _TAIL_VARIANTS:
        if _name in _REGISTRY:
            _REGISTRY[_name] = _REGISTRY.pop(_name)  # dict move-to-end


_apply_window_order()
