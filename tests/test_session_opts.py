"""Driver JVM option assembly (session._driver_java_options) — pure
string logic, no JVM: the heap pin is unconditional, the pre-touch flag
is opt-in via SPARK_GRAFT_PRETOUCH (long-lived measurement sessions set
it; the test suite's short-lived sessions must never inherit it by
default)."""

from __future__ import annotations

import pytest

from astro_sdk_spark.session import _driver_java_options, _heap_gb


@pytest.fixture(autouse=True)
def _clean_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PRETOUCH", raising=False)


def test_heap_follows_available_memory_on_a_16_gib_host():
    """A 16 GiB host (MemTotal 16,479,424 kB) gets its budget, not a
    floor above it: min(0.5 * avail, 0.35 * total) is 5 GiB when idle,
    and a second session that finds 6 GiB left gets 3 GiB."""
    total = 16_479_424
    assert _heap_gb(total, 15_864_940) == 5
    assert _heap_gb(total, 6 * 1024 * 1024) == 3
    assert _heap_gb(total, 1024 * 1024) == 2        # 2g floor
    assert _heap_gb(128 * 1024 * 1024, 120 * 1024 * 1024) == 16  # 16g cap


def test_heap_pin_always_present():
    assert _driver_java_options("16g") == "-Xms16g"


@pytest.mark.parametrize("val", ["1", "true", "yes"])
def test_pretouch_opt_in(monkeypatch, val):
    monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", val)
    assert _driver_java_options("8g") == "-Xms8g -XX:+AlwaysPreTouch"


@pytest.mark.parametrize("val", ["", "0", "false", "no"])
def test_pretouch_off_by_default_and_on_disable(monkeypatch, val):
    if val:
        monkeypatch.setenv("SPARK_GRAFT_PRETOUCH", val)
    assert "AlwaysPreTouch" not in _driver_java_options("8g")


def test_steal_counter_monotonic_nonnegative():
    """bench._steal_sec: cumulative hypervisor-steal seconds from
    /proc/stat — the per-rep delta fields every timing artifact now
    carries. On Linux it must be a non-negative float and monotonically
    non-decreasing; on platforms without /proc it degrades to None (all
    artifact fields then record null, never a crash)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import bench

    a = bench._steal_sec()
    b = bench._steal_sec()
    if a is None:
        assert b is None
    else:
        assert isinstance(a, float) and a >= 0.0
        assert b >= a
