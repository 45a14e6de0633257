"""gapfill — dense-grid generation, locf/linear fills (functions/timeseries)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from astro_sdk_spark.functions.timeseries import gapfill


def _df(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts_ns long, value double")


def test_grid_is_dense_and_marks_filled(spark):
    df = _df(spark, [(1, 0, 10.0), (1, 35, 40.0)])  # bucket 10 → 0..30
    out = {r.bucket_ns: (r.v, r.filled) for r in gapfill(df, 10).collect()}
    assert set(out) == {0, 10, 20, 30}
    assert out[0] == (10.0, False) and out[30] == (40.0, False)
    assert out[10] == (None, True) and out[20] == (None, True)


def test_locf(spark):
    df = _df(spark, [(1, 0, 10.0), (1, 35, 40.0)])
    out = {r.bucket_ns: r.v for r in gapfill(df, 10, fill="locf").collect()}
    assert out == {0: 10.0, 10: 10.0, 20: 10.0, 30: 40.0}


def test_linear_hand_computed(spark):
    df = _df(spark, [(1, 0, 10.0), (1, 35, 40.0)])
    out = {r.bucket_ns: r.v for r in gapfill(df, 10, fill="linear").collect()}
    assert out == {0: 10.0, 10: 20.0, 20: 30.0, 30: 40.0}


def test_linear_trailing_gap_is_locf_and_multi_group(spark):
    df = _df(
        spark,
        [(1, 0, 10.0), (1, 25, 20.0), (2, 0, 5.0), (2, 45, 1.0)],
    )
    rows = gapfill(df, 10, fill="linear").collect()
    g1 = {r.bucket_ns: r.v for r in rows if r.user_id == 1}
    g2 = {r.bucket_ns: r.v for r in rows if r.user_id == 2}
    assert g1 == {0: 10.0, 10: 15.0, 20: 20.0}
    # group 2: interpolation over 4 gaps of 1/4 each
    assert g2 == {0: 5.0, 10: 4.0, 20: 3.0, 30: 2.0, 40: 1.0}


def test_avg_buckets_multiple_events(spark):
    df = _df(spark, [(1, 0, 10.0), (1, 5, 20.0), (1, 12, 7.0)])
    out = {r.bucket_ns: r.v for r in gapfill(df, 10).collect()}
    assert out == {0: 15.0, 10: 7.0}


def test_exact_fixed_point_path_matches_plain_avg(spark, sf_dir):
    from astro_sdk_spark.queries import T

    ev = T(spark, sf_dir, "events")
    a = gapfill(ev, 7_200_000_000_000, fill="linear", value_scale=100)
    b = gapfill(ev, 7_200_000_000_000, fill="linear")
    rows_a = {(r.user_id, r.bucket_ns): r.v for r in a.collect()}
    rows_b = {(r.user_id, r.bucket_ns): r.v for r in b.collect()}
    assert set(rows_a) == set(rows_b)
    for k in rows_a:  # identical up to the last rounding ulp
        assert rows_a[k] == pytest.approx(rows_b[k], abs=2e-4)


def test_validation(spark):
    df = _df(spark, [(1, 0, 1.0)])
    with pytest.raises(ValueError, match="fill"):
        gapfill(df, 10, fill="bogus")
    with pytest.raises(ValueError, match="agg"):
        gapfill(df, 10, agg="median")
    with pytest.raises(ValueError, match="positive"):
        gapfill(df, 0)
    with pytest.raises(ValueError, match="avg"):
        gapfill(df, 10, agg="sum", value_scale=100)


def test_no_row_relative_frame_to_unbounded_following():
    """Spark evaluates a frame that starts at the current row (or any
    row-relative offset) and ends at ``unboundedFollowing`` afresh for
    every row — quadratic in partition size. The next-value lookup is
    ``last(ignorenulls)`` over the reversed order with a growing frame
    instead (see gapfill). Only whole-partition frames, which start at
    ``unboundedPreceding`` and are computed once per partition, may end
    at ``unboundedFollowing``. (The DuckDB oracle SQL strings are not
    Spark frames and are not checked.)"""
    import pathlib
    import re

    import astro_sdk_spark

    frame = re.compile(
        r"(?:rows|range)Between\(\s*([^,]+?)\s*,\s*Window\.unboundedFollowing"
    )
    bad = []
    for path in pathlib.Path(astro_sdk_spark.__file__).parent.rglob("*.py"):
        for m in frame.finditer(path.read_text()):
            if m.group(1) != "Window.unboundedPreceding":
                bad.append(f"{path.name}: {m.group(0)}")
    assert not bad, f"row-relative frame to unboundedFollowing: {bad}"


# ---------------------------------------------------------------------------
# funnel (ordered conversion)


def _ev(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")


def test_funnel_ordering_is_enforced(spark):
    import datetime as dt

    from astro_sdk_spark.functions.timeseries import funnel

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1 converts in order
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # user 2: purchase BEFORE click → stops at step 2
        (2, t(0), "view"), (2, t(2), "click"), (2, t(1), "purchase"),
        # user 3: never viewed → not a funnel entrant
        (3, t(0), "click"), (3, t(1), "purchase"),
        # user 4: only view
        (4, t(5), "view"),
    ]
    out = {r["user_id"]: r for r in funnel(_ev(spark, rows), ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["max_step"] == 3 and out[1]["step_3_ts"] == t(2)
    assert out[2]["max_step"] == 2 and out[2]["step_3_ts"] is None
    assert out[4]["max_step"] == 1


def test_funnel_strict_vs_lenient_simultaneous(spark):
    import datetime as dt

    from astro_sdk_spark.functions.timeseries import funnel

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0, "view"), (1, t0, "click")]
    strict = funnel(_ev(spark, rows), ["view", "click"]).collect()[0]
    assert strict["max_step"] == 1  # simultaneous doesn't count strictly
    lenient = funnel(_ev(spark, rows), ["view", "click"], strict=False).collect()[0]
    assert lenient["max_step"] == 2


def test_funnel_uses_earliest_completion(spark):
    import datetime as dt

    from astro_sdk_spark.functions.timeseries import funnel

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    # click exists before the FIRST view too — only the one after counts
    rows = [(1, t(5), "view"), (1, t(3), "click"), (1, t(8), "click")]
    out = funnel(_ev(spark, rows), ["view", "click"]).collect()[0]
    assert out["step_2_ts"] == t(8)


def test_funnel_validates_steps(spark):
    import pytest as _pytest

    from astro_sdk_spark.functions.timeseries import funnel

    df = _ev(spark, [])
    with _pytest.raises(ValueError, match="at least 2"):
        funnel(df, ["view"])


# ---------------------------------------------------------------------------
# retention (cohort triangle)


def test_retention_triangle(spark):
    import datetime as dt

    from astro_sdk_spark.functions.timeseries import retention

    d = lambda day: dt.datetime(2024, 1, day)  # Jan 1 2024 is a Monday
    rows = [
        # cohort week 0 (Jan 1): users 1, 2; user 1 returns week 1
        (1, d(1), "view"), (2, d(2), "view"), (1, d(8), "click"),
        # cohort week 1 (Jan 8): user 3, never returns
        (3, d(9), "view"),
        # user 2 also active twice within week 0 — one cell only
        (2, d(3), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {(str(r["cohort"]), r["period_n"]): r for r in retention(df).collect()}
    w0, w1 = "2024-01-01", "2024-01-08"
    assert out[(w0, 0)]["n_active"] == 2 and out[(w0, 0)]["cohort_size"] == 2
    assert out[(w0, 0)]["retention"] == 1.0  # period 0 is always 1.0
    assert out[(w0, 1)]["n_active"] == 1 and out[(w0, 1)]["retention"] == 0.5
    assert out[(w1, 0)]["n_active"] == 1 and out[(w1, 0)]["cohort_size"] == 1
    assert (w1, 1) not in out  # no week-1 activity for cohort 2


def test_retention_monthly_period_arithmetic(spark):
    import datetime as dt

    from astro_sdk_spark.functions.timeseries import retention

    rows = [
        (1, dt.datetime(2024, 11, 15), "x"),
        (1, dt.datetime(2025, 2, 3), "x"),  # 3 months later, across a year
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r["period_n"] for r in retention(df, period="month").collect()}
    assert out == {0, 3}


def test_retention_validates_period(spark):
    import pytest as _pytest

    from astro_sdk_spark.functions.timeseries import retention

    df = spark.createDataFrame([], "user_id long, ts timestamp, event_type string")
    with _pytest.raises(ValueError, match="period"):
        retention(df, period="quarter")


# ---------------------------------------------------------------- rolling


def _rolling_df(spark):
    rows = [
        (1, 100, 10, 1.0),
        (1, 200, 11, 2.0),
        (1, 300, 12, 3.0),
        (1, 400, 13, 4.0),
        (2, 100, 14, 10.0),
        (2, 500, 15, 20.0),
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts_ns long, event_id long, value double"
    )


def test_rolling_rows_frame(spark):
    from astro_sdk_spark.functions.timeseries import rolling_stats

    out = rolling_stats(
        _rolling_df(spark), frame_rows=3, order_keys=("event_id",)
    )
    rows = {(r.user_id, r.ts_ns): r for r in out.collect()}
    # 4th event of user 1: frame = values 2,3,4
    r = rows[(1, 400)]
    assert r.rolling_count == 3 and r.rolling_sum == 9.0
    assert r.rolling_avg == 3.0 and r.rolling_min == 2.0 and r.rolling_max == 4.0
    # leading rows see short frames
    assert rows[(1, 100)].rolling_count == 1
    assert rows[(2, 500)].rolling_count == 2


def test_rolling_range_frame(spark):
    from astro_sdk_spark.functions.timeseries import rolling_stats

    out = rolling_stats(_rolling_df(spark), frame_range=150)
    rows = {(r.user_id, r.ts_ns): r for r in out.collect()}
    # user 1 ts=300: frame covers ts in [150, 300] → values 2, 3
    assert rows[(1, 300)].rolling_count == 2
    assert rows[(1, 300)].rolling_sum == 5.0
    # user 2 ts=500: gap of 400 > 150 → frame is just itself
    assert rows[(2, 500)].rolling_count == 1


def test_rolling_tie_determinism(spark):
    """Two events at the SAME ts: the event_id tiebreak makes frame
    contents deterministic across partitionings."""
    from astro_sdk_spark.functions.timeseries import rolling_stats

    rows = [(1, 100, 1, 5.0), (1, 100, 2, 7.0), (1, 200, 3, 9.0)]
    df = spark.createDataFrame(
        rows, "user_id long, ts_ns long, event_id long, value double"
    )
    out = rolling_stats(
        df.repartition(4), frame_rows=2, order_keys=("event_id",)
    ).collect()
    by_val = {r.value: r for r in out}
    assert by_val[5.0].rolling_count == 1
    assert by_val[7.0].rolling_sum == 12.0  # 5 then 7
    assert by_val[9.0].rolling_sum == 16.0  # 7 then 9


def test_rolling_validates_args(spark):
    import pytest as _pytest

    from astro_sdk_spark.functions.timeseries import rolling_stats

    df = _rolling_df(spark)
    with _pytest.raises(ValueError, match="exactly one"):
        rolling_stats(df)
    with _pytest.raises(ValueError, match="exactly one"):
        rolling_stats(df, frame_rows=3, frame_range=100)
    with _pytest.raises(ValueError, match="unsupported stats"):
        rolling_stats(df, frame_rows=3, stats=("median",))


def test_rolling_std_exact(spark):
    from astro_sdk_spark.functions.timeseries import rolling_stats

    # values 1,2,3 → pop std of frame {1,2,3} = sqrt(2/3)
    out = rolling_stats(
        _rolling_df(spark),
        frame_rows=3,
        stats=("std", "count"),
        order_keys=("event_id",),
    )
    rows = {(r.user_id, r.ts_ns): r for r in out.collect()}
    import math

    assert abs(rows[(1, 300)].rolling_std - math.sqrt(2.0 / 3.0)) < 1e-12
    # single-point frame: zero variance
    assert rows[(1, 100)].rolling_std == 0.0
    assert rows[(2, 100)].rolling_std == 0.0


def test_rolling_anomalies_flags_spike(spark):
    from astro_sdk_spark.functions.timeseries import rolling_anomalies

    rows = [(1, i * 100, i, 10.0 + (0.1 if i % 2 else -0.1)) for i in range(10)]
    rows.append((1, 2000, 99, 500.0))  # spike
    df = spark.createDataFrame(
        rows, "user_id long, ts_ns long, event_id long, value double"
    )
    out = rolling_anomalies(
        df, frame_rows=10, k=2.0, min_count=3, order_keys=("event_id",)
    )
    flagged = [r.ts_ns for r in out.collect() if r.is_anomaly]
    assert flagged == [2000]


def test_rolling_anomalies_min_count_guard(spark):
    """Early rows can't be anomalous — no baseline yet."""
    from astro_sdk_spark.functions.timeseries import rolling_anomalies

    rows = [(1, 100, 1, 1.0), (1, 200, 2, 100.0)]
    df = spark.createDataFrame(
        rows, "user_id long, ts_ns long, event_id long, value double"
    )
    out = rolling_anomalies(df, frame_rows=5, min_count=3).collect()
    assert not any(r.is_anomaly for r in out)


def test_sessionize_gap_boundaries(spark):
    from astro_sdk_spark.functions.timeseries import sessionize

    rows = [
        (1, 0, 1),
        (1, 1800 * 10**9, 2),        # exactly the gap → SAME session
        (1, 3600 * 10**9 + 1, 3),    # 1800s + 1ns later → new session
        (2, 0, 4),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, event_id long")
    out = sessionize(
        df, gap_seconds=1800, ts_col="ts", order_keys=("event_id",),
        epoch_col="ts", epoch_units_per_second=10**9,
    )
    rows_ = {r.event_id: r for r in out.collect()}
    assert rows_[1].session_n == 1 and rows_[1].is_session_start
    assert rows_[2].session_n == 1 and not rows_[2].is_session_start
    assert rows_[3].session_n == 2 and rows_[3].is_session_start
    assert rows_[4].session_n == 1  # per-user numbering


def test_sessionize_timestamp_fallback(spark):
    import datetime as _dt

    from astro_sdk_spark.functions.timeseries import sessionize

    base = _dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1),
        (1, base + _dt.timedelta(minutes=10), 2),
        (1, base + _dt.timedelta(minutes=50), 3),  # 40-min gap → new
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    out = {r.event_id: r for r in sessionize(df, order_keys=("event_id",)).collect()}
    assert out[2].session_n == 1 and out[3].session_n == 2


def test_sessionize_validates_gap(spark):
    import pytest as _pytest

    from astro_sdk_spark.functions.timeseries import sessionize

    df = spark.createDataFrame([], "user_id long, ts timestamp")
    with _pytest.raises(ValueError, match="gap_seconds"):
        sessionize(df, gap_seconds=0)


def test_rolling_validates_scale_and_duplicates(spark):
    import pytest as _pytest

    from astro_sdk_spark.functions.timeseries import rolling_stats

    df = _rolling_df(spark)
    with _pytest.raises(ValueError, match="value_scale"):
        rolling_stats(df, frame_rows=3, value_scale=0)
    with _pytest.raises(ValueError, match="duplicate"):
        rolling_stats(df, frame_rows=3, stats=("avg", "avg"))
