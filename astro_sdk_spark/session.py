"""SparkSession bootstrap.

The reference keys every operator off an Airflow ``conn_id`` resolved to a
warehouse connection (``python-sdk/src/astro/databases/__init__.py:15-52``).
Here the single execution substrate is one SparkSession; ``conn_id``
collapses to "the session" (SURVEY §1.3).

Defaults are chosen for scale-out behavior that also works on local[N]:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic broadcast selection) — at 100 TB the static shuffle-partition
  number is always wrong in one direction; AQE fixes it at runtime.
- Arrow on for every pandas interchange (Pandas UDFs, toPandas).
- ``spark.sql.shuffle.partitions`` defaults to max(32, defaultParallelism)
  — AQE coalesces down, so err high for big shuffles.
- parquet writer: snappy, v2 pages; reader: vectorized (default).
- on ``local`` masters, Python workers fork from ``astro_sdk_spark._pydaemon``
  (``spark.python.daemon.module``): the stock daemon plus a zipimport cache
  that stops every task re-reading ``pyspark.zip`` (about 100 ms a task on
  Python < 3.12). ``extra_conf`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ENV_CPUS = "SPARK_GRAFT_CPUS"


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make ``astro_sdk_spark`` importable by Python WORKERS of an
    already-running session.

    Workers deserialize pickled UDFs with cloudpickle, which re-imports
    this package — but they inherit PYTHONPATH from the JVM's spawn-time
    environment, so a session created BEFORE this package was on the
    path (an external harness, a notebook with its own session) fails
    every Arrow-UDF query with a worker-side ModuleNotFoundError even
    though the driver imports fine. ``SparkContext.addPyFile`` is the
    post-hoc (and real-cluster) fix: ship the package source as a zip;
    workers put it on sys.path for every subsequent task. Idempotent and
    one-time per context (guarded by a context attribute); ~100 ms to
    zip the package once per process."""
    sc = spark.sparkContext
    if getattr(sc, "_astro_sdk_pyfiles_added", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"astro_sdk_spark_pyfiles_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._astro_sdk_pyfiles_added = True


def _python_daemon_conf(master: str) -> dict[str, str]:
    """The worker-daemon conf for ``master``: our daemon module on local
    masters only, where ``get_session`` has put this package on the
    workers' PYTHONPATH before the JVM starts; a cluster's executors may
    not have it, so they keep the stock ``pyspark.daemon``."""
    if master == "local" or master.startswith("local["):
        return {"spark.python.daemon.module": "astro_sdk_spark._pydaemon"}
    return {}


def _heap_gb(total_kb: int, avail_kb: int) -> int:
    """Local-mode heap in GiB for a box with ``total_kb`` of RAM and
    ``avail_kb`` of it available: half of what is available now, at most
    35% of the machine, clamped to [2, 16].

    Sized from ``MemAvailable`` (what the box can actually give us NOW),
    not ``MemTotal`` — two concurrent local sessions, or other tenants on
    a shared box, each claim a share of what remains rather than each
    claiming 35% of the machine and jointly exhausting it. The 2g floor
    is the heap perfbench and side probes already run at; a floor above
    the budget (it was 8g) pinned a second session on a 16 GiB box past
    what the box had, and the OOM killer took the first one's JVM.

    Cap at 16g (was 64g). Measured on the 32-thread/128 GiB box — a
    Firecracker guest with free page reporting ("Free page reporting
    enabled" in dmesg): every page the guest frees is returned to the
    HOST, and re-touching it pays a host-side fault + zeroing. A 44g heap
    exposes ~11M 4 KiB pages of first-touch per session, which surfaced
    as random 10–130 s stime storms in allocation-heavy jobs (see -Xms
    note in get_session). At 16g the same workloads ran storm-free
    (ingest reps 4.3/2.5/3.0 s vs 31/2.7/7.9 s at 44g) and the heaviest
    memory consumer — the 30×-volume jaccard probe that GC-thrashed at a
    fixed 8g — stays clean: x30 min-of-3 47.0 s at 16g vs 44.0 s at 44g
    (-7%, inside leg noise), with pagerank x30 reps TIGHTER
    (42.7/40.5/42.0). More heap only helps when a stage exceeds execution
    memory; past that it is pure first-touch/reclaim exposure on
    virtualized hosts. -XX:+UseTransparentHugePages was also tried and
    REJECTED: ingest first-rep 131 s (direct-compaction stalls under the
    same page-reporting regime)."""
    budget_kb = min(int(avail_kb * 0.5), int(total_kb * 0.35))
    return max(2, min(16, budget_kb // (1024 * 1024)))


def _default_driver_mem() -> str:
    """Heap for the local[*] JVM (driver == all executors in local
    mode), sized to the MACHINE instead of Spark's 1g-era default (see
    :func:`_heap_gb`). An N-thread local session divides execution
    memory across N concurrent tasks — a fixed 8g on a 32-thread/128 GiB
    box gives each task ~90 MB before sort spill, which is exactly where
    a wide similarity join's array-carrying verify stage lands
    (measured: the same 30×-volume jaccard_join leg GC/spill-thrashed at
    8g and ran clean at machine-proportional heap). Honors
    $SPARK_GRAFT_DRIVER_MEM (documented in README); on a real cluster
    this conf is inert for executors, which size via
    spark.executor.memory."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total_kb = avail_kb = None
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                elif line.startswith("MemAvailable:"):
                    avail_kb = int(line.split()[1])
                if total_kb is not None and avail_kb is not None:
                    break
        if total_kb is None:
            return "8g"
        if avail_kb is None:  # pre-3.14 kernels: conservative fallback
            avail_kb = total_kb // 2
        return f"{_heap_gb(total_kb, avail_kb)}g"
    except Exception:  # noqa: BLE001 - non-Linux / unreadable meminfo
        return "8g"


def _driver_java_options(driver_mem: str) -> str:
    """Driver JVM options derived from the memory sizing plus the
    opt-in pre-touch knob.

    ``SPARK_GRAFT_PRETOUCH=1`` adds ``-XX:+AlwaysPreTouch``: with the
    heap pinned (-Xms == -Xmx) the pages are still only COMMITTED, not
    touched — a query whose allocations walk into virgin heap regions
    pays the kernel's first-touch zeroing mid-query, and on a
    virtualized host that has reclaimed the pages (free-page reporting)
    the fault cost explodes. Measured on the 32-thread box while
    reproducing the bench's residual storm reps: an untouched-heap rep
    of q_embedding_neardup burned 324 s of SYSTEM time + 61 s of steal
    across 1.4 M page faults (wall 14.8 s for a 2.3 s query); with
    pre-touch, six consecutive reps ran 1.3–3.2 s with stime ≤ 4 s and
    zero steal. The trade is ~20–25 s of one-time zeroing at JVM start,
    which is why this is OPT-IN: long-lived measurement/serving
    sessions (bench.py, tools/*) enable it and amortize the start-up
    across hundreds of queries; the test suite's many short-lived
    sessions keep the lazy default."""
    opts = f"-Xms{driver_mem}"
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "") in ("1", "true", "yes"):
        opts += " -XX:+AlwaysPreTouch"
    return opts


def get_session(
    app_name: str = "astro_sdk_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the SparkSession with scale-oriented defaults."""
    # Python workers deserialize pickled UDFs by IMPORTING this package —
    # they inherit PYTHONPATH from the JVM's environment, not the driver's
    # sys.path mutations. A driver launched outside the repo (bench.py
    # from another cwd, a notebook) would otherwise fail every Arrow-UDF
    # query with a worker-side ModuleNotFoundError. Must run before the
    # JVM starts, hence here and not per-query.
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_pkg_root}{os.pathsep}{_pp}" if _pp else _pkg_root
        )
    cpus = os.environ.get(_ENV_CPUS)
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(32, int(cpus) if cpus else 32)

    driver_mem = _default_driver_mem()
    # Pin the initial heap to the max (-Xms == -Xmx). Spark's launcher
    # passes only -Xmx, so G1 grows AND SHRINKS the committed heap at
    # runtime; every allocation-heavy job after an uncommit re-commits
    # tens of GiB and the kernel re-zeroes those pages on first touch.
    # Measured on the 32-thread/128 GiB box (ingest job, identical input,
    # same session): a post-uncommit rep burned 240 s of SYSTEM time
    # (18 cores in the kernel, wall 13–65 s, utime also inflated by the
    # re-warm) vs stime ≈ 0 s and wall 2.3 s once the heap stays
    # committed — a random 5–20× inflation that hit whole bench stages.
    # With -Xms pinned the first allocation storm pays first-touch once
    # (~7 s) and every later job runs clean. -Xms commits VIRTUAL memory
    # only (RSS still grows on touch), so idle sessions stay small;
    # -XX:+AlwaysPreTouch is NOT set by default — it would move the
    # zeroing to JVM start and slow every short-lived session (tests) —
    # but long-lived sessions should set SPARK_GRAFT_PRETOUCH=1 (see
    # _driver_java_options): on a virtualized host that reclaims free
    # pages, lazily-touched heap regions re-fault at catastrophic cost
    # mid-query (measured 324 s stime in one rep), and pre-touching at
    # start-up is the standard big-heap production remedy.
    # A caller-supplied spark.driver.extraJavaOptions wins on conflict.
    driver_opts = _driver_java_options(driver_mem)
    user_opts = (extra_conf or {}).get("spark.driver.extraJavaOptions")
    if user_opts:
        driver_opts = f"{driver_opts} {user_opts}"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.extraJavaOptions", driver_opts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE plans each shuffle starting from initialPartitionNum and
        # coalesces down — the volume knob for shuffle-heavy jobs. It is
        # deliberately NOT raised by default: measured on the 144-query
        # suite, 1024 initial partitions cost +65% wall (128.6s →
        # 213.1s; 256 → +22%) in per-shuffle map-output overhead that
        # tiny queries never earn back. CORRECTION (round 12): an
        # earlier comment here claimed partition widening took
        # 30×-volume jaccard_join 208s → 35s; that A/B did not
        # reproduce on an idle host at ANY width — the real fixes were
        # keeping filters out of sort-merge-join conditions and integer
        # gram ids (functions/fuzzy.py), plus the machine-proportional
        # heap below. Width helps only when a stage exceeds per-task
        # execution memory, and OVER-widening is its own measured cliff
        # (maps × reducers shuffle-file segments). Set it per workload:
        # SPARK_GRAFT_INITIAL_PARTITIONS at session creation, or at
        # runtime around a heavy stage — it is a runtime SQL conf. At
        # cluster scale: initial partitions track input volume; AQE
        # coalesces the small stages for free.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_INITIAL_PARTITIONS", str(shuffle_partitions)
            ),
        )
        # let the planner pick shuffled-hash join when its size conditions
        # are met (guide §3.1/§9): the build side skips the per-partition
        # sort a sort-merge join pays on BOTH sides every time the join
        # runs — measured min-of-2 interleaved A/B at sf0.1: tpch_q7
        # 3.06→2.13s, q21 1.75→1.42s, q9 2.17→1.80s, incremental_neardup
        # 2.99→2.49s, dedup_clusters 3.28→2.87s, dsir_weights 2.05→1.72s;
        # ties elsewhere (worst single loss: tpch_q2 +0.24s). SHJ only
        # replaces SMJ where the planner's size conditions hold (build
        # side per-partition under the broadcast threshold), AQE skew
        # splitting still applies, and sort-merge remains the fallback —
        # the spill-safety trade the guide documents.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # cost-based optimization: consumes ANALYZE TABLE statistics
        # (engine.analyze_table) for join reordering + cardinality estimates
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # janino codegen class cache is a 100-entry LRU by default; a
        # session running many distinct wide-aggregate queries (this
        # library registers 60+) evicts and recompiles constantly —
        # compile is ~70% of a cold LSH-query run. Static conf: must be
        # set before the first session is created.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**_python_daemon_conf(master), **(extra_conf or {})}.items():
        if k == "spark.driver.extraJavaOptions":
            continue  # already merged with the -Xms pin above
        builder = builder.config(k, v)
    return builder.getOrCreate()


def default_session() -> SparkSession:
    """The active session, creating one with defaults if none exists."""
    active = SparkSession.getActiveSession()
    return active if active is not None else get_session()
