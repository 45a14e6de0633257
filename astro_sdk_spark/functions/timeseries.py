"""Time-series gap filling — the hypertable ``time_bucket_gapfill`` shape.

Dashboards and training-feature pipelines over event streams need dense
regular series; raw events are sparse and irregular. ``gapfill``:

1. buckets events onto a regular grid (integer epoch arithmetic on the
   ``ts_ns`` column the events reader exposes — calendar-proof and
   replicable bit-for-bit in an external SQL oracle) and aggregates per
   (group, bucket);
2. generates each group's missing buckets with ``sequence`` + ``explode``
   — the grid is born distributed (no driver range loop) and its size is
   span/bucket per group, independent of event count;
3. fills empty buckets: ``null`` (mark only), ``locf`` (last observation
   carried forward — one ignore-nulls window), or ``linear``
   (interpolation between the neighboring observations — two ignore-nulls
   windows + one vectorized expression).

Everything is built-in expressions and window functions over a
per-group partitioning — one aggregation shuffle, one join, no Python.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["gapfill", "rolling_stats", "rolling_anomalies", "sessionize"]


def gapfill(
    df: DataFrame,
    bucket_ns: int,
    ts_ns_col: str = "ts_ns",
    group_col: str = "user_id",
    value_col: str = "value",
    agg: str = "avg",
    fill: str = "null",
    round_digits: int | None = 4,
    value_scale: int | None = None,
) -> DataFrame:
    """Dense per-group series: (group, bucket_ns, v, filled).

    ``agg``: avg/sum/min/max/count over events in the bucket. ``fill``:
    ``null`` | ``locf`` | ``linear``. Leading buckets before a group's
    first observation stay null under both fill modes (nothing to carry);
    ``linear`` degrades to locf after the last observation.

    ``value_scale`` (avg only): declare the input as fixed-point with
    that scale (e.g. 100 for 2-decimal prices). The bucket average is
    then computed as exact-integer sum ÷ count — fully order-independent,
    so the result is REPRODUCIBLE bit-for-bit across partitionings,
    re-runs, and engines. Double summation is order-sensitive at ~1 ulp,
    and interpolating averages of fixed-point data lands on rounding
    boundaries constantly — the exact path removes the whole class."""
    if fill not in ("null", "locf", "linear"):
        raise ValueError(f"fill must be null|locf|linear, got {fill!r}")
    if agg not in ("avg", "sum", "min", "max", "count"):
        raise ValueError(f"unsupported agg {agg!r}")
    if bucket_ns <= 0:
        raise ValueError(f"bucket_ns must be positive, got {bucket_ns}")
    if value_scale is not None and agg != "avg":
        raise ValueError("value_scale applies to agg='avg' only")

    bucket = (F.col(ts_ns_col) - F.pmod(ts_ns_col, F.lit(bucket_ns))).alias("_b")
    if value_scale is not None:
        cv = F.round(F.col(value_col) * F.lit(value_scale)).cast("bigint")
        observed = (
            df.select(F.col(group_col).alias("_g"), bucket, cv.alias("_cv"))
            .groupBy("_g", "_b")
            .agg(
                (
                    F.sum("_cv").cast("double")
                    / (F.count("_cv") * F.lit(value_scale))
                ).alias("_v")
            )
        )
    else:
        agg_fn = {
            "avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
            "count": lambda c: F.count(c).cast("double"),
        }[agg]
        observed = (
            df.select(
                F.col(group_col).alias("_g"), bucket, F.col(value_col).alias("_v")
            )
            .groupBy("_g", "_b")
            .agg(agg_fn(F.col("_v")).alias("_v"))
        )
    def _pin(col):
        # engine-agnostic half-up rounding: floor(x·10^d + 0.5)/10^d.
        # Library round() disagrees across engines on doubles a hair
        # under a half boundary (DuckDB's scales-then-rounds path calls
        # 57.4812499…96 → 57.4813 where a decimal-exact HALF_UP gives
        # 57.4812); floor of identical doubles is identical everywhere.
        s = F.lit(float(10 ** round_digits))
        return F.floor(col * s + F.lit(0.5)) / s

    if round_digits is not None and value_scale is None:
        # determinism contract (the nearest_centroids round-before-rank
        # device): parallel aggregation order perturbs avg/sum at ~1e-12,
        # and interpolation carries that onto the final rounding boundary —
        # pin the observations BEFORE they feed the fill arithmetic.
        # (The value_scale path is already exact — no pinning needed.)
        observed = observed.withColumn("_v", _pin(F.col("_v")))
    grid = (
        observed.groupBy("_g")
        .agg(F.min("_b").alias("_mn"), F.max("_b").alias("_mx"))
        .select(
            "_g",
            F.explode(
                F.sequence(F.col("_mn"), F.col("_mx"), F.lit(bucket_ns))
            ).alias("_b"),
        )
    )
    dense = grid.join(observed, ["_g", "_b"], "left").withColumn(
        "filled", F.col("_v").isNull()
    )

    if fill != "null":
        w_prev = (
            Window.partitionBy("_g").orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        prev_v = F.last("_v", ignorenulls=True).over(w_prev)
        if fill == "locf":
            dense = dense.withColumn("_v", prev_v)
        else:  # linear
            # the next observation is the LAST one of a growing frame over
            # the reversed order: Spark evaluates a row-relative frame
            # ending at unboundedFollowing afresh for every row (quadratic
            # in partition size), a growing frame incrementally
            w_next = (
                Window.partitionBy("_g").orderBy(F.desc("_b"))
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            prev_b = F.last(
                F.when(F.col("_v").isNotNull(), F.col("_b")), ignorenulls=True
            ).over(w_prev)
            next_v = F.last("_v", ignorenulls=True).over(w_next)
            next_b = F.last(
                F.when(F.col("_v").isNotNull(), F.col("_b")), ignorenulls=True
            ).over(w_next)
            frac = (F.col("_b") - prev_b) / (next_b - prev_b)
            interp = prev_v + (next_v - prev_v) * frac
            dense = dense.withColumn(
                "_v",
                F.when(F.col("_v").isNotNull(), F.col("_v"))
                .when(next_b.isNotNull() & prev_b.isNotNull(), interp)
                .otherwise(prev_v),  # trailing gap → locf; leading → null
            )

    v = _pin(F.col("_v")) if round_digits is not None else F.col("_v")
    return dense.select(
        F.col("_g").alias(group_col),
        F.col("_b").alias("bucket_ns"),
        v.alias("v"),
        "filled",
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    strict: bool = True,
) -> DataFrame:
    """Ordered funnel conversion: for every user who entered the funnel
    (performed ``steps[0]``), the earliest time each subsequent step was
    completed STRICTLY after the previous step's completion time, plus
    ``max_step`` — the classic product-analytics conversion query
    (view → click → purchase).

    Semantics: step i's timestamp is the user's earliest ``steps[i]``
    event after their step-(i−1) timestamp (``strict=False`` allows
    simultaneous events). A user missing step i has NULL from there on;
    ``max_step`` counts completed steps. Users who never did ``steps[0]``
    are not funnel entrants and are excluded.

    Scale shape: one filtered partial-aggregated groupBy(user) per step,
    chained by user-keyed joins — every shuffle is on the SAME key, so
    AQE/exchange reuse co-locates the whole chain; no window over raw
    events, no per-user arrays (a collect_list walk would buffer every
    event of a hot user; the min-aggregate chain never materializes more
    than one row per user per step). Each iteration references the
    accumulated per-user table ONCE: step i's events LEFT-join onto it
    and the step timestamp is ``min(ts WHERE ts > prev)`` grouped by the
    user plus the carried step columns — a join-then-filter-then-rejoin
    shape would evaluate the whole prefix chain twice per step (the
    filtered aggregate and the left join back), compounding to 2^(i-1)
    scans of the first step's events."""
    if len(steps) < 2:
        raise ValueError(f"funnel needs at least 2 steps, got {list(steps)}")
    ts = F.col(ts_col)
    carry = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("step_1_ts"))
    )
    for i, s in enumerate(steps[1:], start=2):
        prev = f"step_{i-1}_ts"
        cond = ts > F.col(prev) if strict else ts >= F.col(prev)
        carried = [f"step_{n}_ts" for n in range(1, i)]
        # users with no qualifying step-i event keep their row (left
        # join + the conditional min over zero qualifying rows is NULL),
        # exactly like the old filtered-aggregate-then-left-join pair;
        # grouping by the carried step columns is grouping by user
        # (carry has one row per user), they just ride along
        carry = (
            carry.join(
                df.filter(F.col(type_col) == s).select(user_col, ts_col),
                user_col,
                "left",
            )
            .groupBy(user_col, *carried)
            .agg(F.min(F.when(cond, ts)).alias(f"step_{i}_ts"))
        )
    reached = sum(
        (F.col(f"step_{i}_ts").isNotNull().cast("int") for i in range(2, len(steps) + 1)),
        F.lit(1),
    )
    return carry.withColumn("max_step", reached)


def retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
    round_digits: int = 4,
) -> DataFrame:
    """Cohort retention: users are cohorted by the period of their FIRST
    activity; for every (cohort, periods-since-cohort) cell, the count
    and fraction of the cohort still active — the standard retention
    triangle.

    Returns ``(cohort, period_n, n_active, cohort_size, retention)``
    with ``cohort`` a date (period start), ``period_n`` whole periods
    since the cohort period, and ``retention`` pinned with the
    engine-agnostic floor(x·10^d + ½) device.

    Scale shape: distinct (user, period) pairs collapse the raw event
    volume FIRST (one partial-aggregated dedup — at 100 TB this is the
    only pass over events); cohorting, the triangle counts, and the
    cohort sizes are then user- and cohort-keyed aggregates over the
    (users × active-periods)-sized frame. No windows over raw events."""
    if period not in ("day", "week", "month"):
        raise ValueError(f"period must be day/week/month, got {period!r}")
    per = F.date_trunc(period, F.col(ts_col)).cast("date")
    user_periods = df.select(F.col(user_col), per.alias("_p")).distinct()
    cohorts = user_periods.groupBy(user_col).agg(F.min("_p").alias("cohort"))
    if period == "month":
        period_n = (
            (F.year("_p") - F.year("cohort")) * 12
            + (F.month("_p") - F.month("cohort"))
        )
    else:
        days = 7 if period == "week" else 1
        period_n = (F.datediff(F.col("_p"), F.col("cohort")) / days).cast("int")
    cells = (
        user_periods.join(cohorts, user_col)
        .select("cohort", period_n.alias("period_n"), user_col)
        .groupBy("cohort", "period_n")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sizes = cohorts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    pin = float(10**round_digits)
    return cells.join(sizes, "cohort").select(
        "cohort",
        "period_n",
        "n_active",
        "cohort_size",
        (
            F.floor(F.col("n_active") / F.col("cohort_size") * F.lit(pin) + F.lit(0.5))
            / F.lit(pin)
        ).alias("retention"),
    )


def rolling_stats(
    df: DataFrame,
    ts_col: str = "ts_ns",
    group_col: str = "user_id",
    value_col: str = "value",
    frame_rows: int | None = None,
    frame_range: int | None = None,
    stats: Sequence[str] = ("avg", "sum", "min", "max", "count"),
    value_scale: int = 100,
    order_keys: Sequence[str] = (),
) -> DataFrame:
    """Per-group trailing-window features: for every event, aggregates
    over the last ``frame_rows`` observations (ROWS frame) or the last
    ``frame_range`` time units (RANGE frame on the numeric ts) — the
    moving-average / trailing-volume features every monitoring dashboard
    and feature pipeline computes. Exactly one frame kind must be given.

    Returns ``group, ts, value`` plus one ``rolling_<stat>`` column per
    requested stat.

    Determinism: ``sum``/``avg`` run on fixed-point integers
    (``round(value * value_scale)`` as BIGINT — exact, order-independent;
    see gapfill's value_scale) and scale back at the end, so sliding-sum
    results are bit-identical across engines regardless of accumulation
    strategy (Spark re-sums frames; other engines use segment trees —
    double accumulation order differs at ~1 ulp, which lands on rounding
    boundaries). ``order_keys`` extends the within-group ordering for
    ROWS frames when timestamps can tie (frame contents would otherwise
    be nondeterministic — pass the event id).

    Scale shape: ONE shuffle on the group column; each group's window is
    a single sorted run (Spark sorts within partitions — no global sort).
    A hot group serializes into one task: windows cannot partially
    aggregate, so groups are assumed bounded (per-user event counts). For
    unbounded keys, bucket time first (gapfill) and roll over buckets."""
    if (frame_rows is None) == (frame_range is None):
        raise ValueError("exactly one of frame_rows / frame_range required")
    if frame_rows is not None and frame_rows <= 0:
        raise ValueError(f"frame_rows must be positive, got {frame_rows}")
    if frame_range is not None and frame_range <= 0:
        raise ValueError(f"frame_range must be positive, got {frame_range}")
    if value_scale <= 0:
        # non-ANSI division by 0 would silently NULL every sum/avg/std
        raise ValueError(f"value_scale must be positive, got {value_scale}")
    allowed = {"avg", "sum", "min", "max", "count", "std"}
    bad = set(stats) - allowed
    if bad:
        raise ValueError(f"unsupported stats {sorted(bad)}; allowed {sorted(allowed)}")
    if len(set(stats)) != len(tuple(stats)):
        raise ValueError(f"duplicate stats in {tuple(stats)}")

    cv = F.round(F.col(value_col) * F.lit(value_scale)).cast("bigint")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(ts_col).alias("_t"),
        F.col(value_col).alias("_v"),
        cv.alias("_cv"),
        (cv * cv).alias("_cq"),
        *[F.col(k) for k in order_keys],
    )
    if frame_rows is not None:
        w = (
            Window.partitionBy("_g")
            .orderBy("_t", *order_keys)
            .rowsBetween(-(frame_rows - 1), 0)
        )
    else:
        w = (
            Window.partitionBy("_g")
            .orderBy("_t")
            .rangeBetween(-frame_range, 0)
        )

    cols = []
    for s in stats:
        if s == "avg":
            e = (
                F.sum("_cv").over(w).cast("double")
                / (F.count("_cv").over(w) * F.lit(value_scale))
            )
        elif s == "sum":
            e = F.sum("_cv").over(w).cast("double") / F.lit(value_scale)
        elif s == "count":
            e = F.count("_cv").over(w)
        elif s == "std":
            # population std from exact integer sums: σ = √(n·Σx² − (Σx)²)
            # / (n·scale). The radicand is an exact BIGINT, so the sqrt
            # input — and therefore the double result — is bit-identical
            # in every engine. Bounds: |cv| ≤ scale·max|v|; the radicand
            # needs n·Σcv² < 2⁶³ — fine for bounded frames (document:
            # ~1e6-row frames of 2-decimal values up to 1e4).
            n = F.count("_cv").over(w)
            ssum = F.sum("_cv").over(w)
            ssq = F.sum("_cq").over(w)
            e = F.sqrt((n * ssq - ssum * ssum).cast("double")) / (
                n * F.lit(value_scale)
            )
        else:
            e = getattr(F, s)("_v").over(w)
        cols.append(e.alias(f"rolling_{s}"))

    return base.select(
        F.col("_g").alias(group_col),
        F.col("_t").alias(ts_col),
        F.col("_v").alias(value_col),
        *cols,
    )


def rolling_anomalies(
    df: DataFrame,
    ts_col: str = "ts_ns",
    group_col: str = "user_id",
    value_col: str = "value",
    frame_rows: int = 20,
    k: float = 2.0,
    min_count: int = 3,
    value_scale: int = 100,
    order_keys: Sequence[str] = (),
) -> DataFrame:
    """Rolling z-score anomaly flags: an observation is anomalous when it
    sits more than ``k`` trailing-window standard deviations from the
    trailing-window mean (and the window holds at least ``min_count``
    points — early rows can't establish a baseline). The monitoring
    primitive for metric streams: load spikes, price glitches, sensor
    faults.

    Returns ``group, ts, value, rolling_avg, rolling_std, is_anomaly``.

    Determinism: mean and std come from rolling_stats' exact-integer
    sums, so the flag threshold compares bit-identical doubles in every
    engine — no tolerance needed. Same scale shape as rolling_stats: one
    shuffle on the group, windows sorted within partitions."""
    stats = rolling_stats(
        df,
        ts_col=ts_col,
        group_col=group_col,
        value_col=value_col,
        frame_rows=frame_rows,
        stats=("avg", "std", "count"),
        value_scale=value_scale,
        order_keys=order_keys,
    )
    flag = (
        (F.col("rolling_count") >= min_count)
        & (
            F.abs(F.col(value_col) - F.col("rolling_avg"))
            > F.lit(k) * F.col("rolling_std")
        )
    )
    return stats.select(
        group_col,
        ts_col,
        value_col,
        "rolling_avg",
        "rolling_std",
        flag.alias("is_anomaly"),
    )


def sessionize(
    df: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    group_col: str = "user_id",
    order_keys: Sequence[str] = (),
    epoch_col: str | None = None,
    epoch_units_per_second: int = 1_000_000_000,
) -> DataFrame:
    """Per-EVENT session labeling: assign every event its user's running
    session number (1-based), where a gap of more than ``gap_seconds``
    since the previous event opens a new session — the batch counterpart
    of streaming/ops.py:session_window_agg, which emits per-session
    AGGREGATES; this keeps the raw events so downstream features can
    join on (user, session).

    Returns the group/order columns plus ``ts, is_session_start,
    session_n``.

    Boundary determinism: when ``epoch_col`` names an integer epoch
    column (e.g. the events reader's ``ts_ns`` with the default
    nanosecond ``epoch_units_per_second``), gaps are exact integer
    differences — engine- and timezone-independent. Without it, gaps
    fall back to ``unix_micros`` of the timestamp (NTZ values go through
    the session-timezone cast; gap DIFFERENCES cancel the zone offset,
    so only a DST transition inside a gap could shift a boundary).
    ``order_keys`` breaks timestamp ties deterministically.

    Scale shape: one shuffle on the group column; boundary detection is
    a lag + running-sum pair over the SAME window sort, so Spark
    evaluates both in one WindowExec pass. Per-user event counts bound
    the per-task work."""
    if gap_seconds <= 0:
        raise ValueError(f"gap_seconds must be positive, got {gap_seconds}")
    if epoch_col is not None:
        tick = F.col(epoch_col)
        threshold = gap_seconds * epoch_units_per_second
    else:
        t = F.col(ts_col)
        if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
            t = t.cast("timestamp_ltz")
        tick = F.unix_micros(t)
        threshold = gap_seconds * 1_000_000
    w = Window.partitionBy(group_col).orderBy(ts_col, *order_keys)
    prev = F.lag(tick).over(w)
    is_start = prev.isNull() | (tick - prev > F.lit(threshold))
    run = Window.partitionBy(group_col).orderBy(ts_col, *order_keys).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.select(
        group_col,
        *[k for k in order_keys],
        ts_col,
        is_start.alias("is_session_start"),
        F.sum(is_start.cast("int")).over(run).alias("session_n"),
    )
