"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the same sf, compare row count +
column names + order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
       [--plain] [--oracle-timeout SECONDS]

--oracle-timeout bounds each DUCKDB oracle evaluation (the brute-force
dedup oracles are quadratic+ and can run hours at sf0.1 — see
q_dedup_clusters); a timed-out oracle reports SKIP (not ok, not FAIL)
and the run exits 0 only if everything else matched. Spark-side
evaluation is never interrupted.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, columns):
    """Sort columns by name, canonicalize values, sort rows."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        canon = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = f"{v:.6f}"
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            canon.append(str(v))
        out.append("\x1f".join(canon))
    return sorted(out)


def _run_oracle(con, sql, timeout_s):
    """Execute one oracle; on timeout raise duckdb.InterruptException.

    The oracle runs on a worker thread and the caller joins with a
    timeout, interrupting ONLY while that query is provably still live.
    (The previous threading.Timer design could fire in the window between
    query completion and timer.cancel(), parking the interrupt flag on
    the NEXT query — which was then spuriously SKIPped despite finishing
    well inside the limit.) If the interrupt lands after the worker
    finished anyway, a sacrificial ``SELECT 1`` absorbs the stale flag so
    the next oracle starts clean."""
    if not timeout_s:
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    import threading

    out: dict = {}

    def work():
        try:
            res = con.execute(sql)
            out["cols"] = [d[0] for d in res.description]
            out["rows"] = res.fetchall()
        except BaseException as e:  # noqa: BLE001 - re-raised on the caller
            out["err"] = e

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(timeout_s)
    interrupted = False
    if t.is_alive():
        interrupted = True
        con.interrupt()
        t.join()
    if interrupted and "rows" in out:
        # completed in the is_alive→interrupt window: the flag may be
        # parked on the connection — absorb it before the next query
        try:
            con.execute("SELECT 1").fetchall()
        except duckdb.InterruptException:
            pass
    if "err" in out:
        raise out["err"]
    return out["cols"], out["rows"]


def main():
    raw = [a for a in sys.argv[1:] if a != "--plain"]
    plain = "--plain" in sys.argv[1:]
    oracle_timeout = None
    if "--oracle-timeout" in raw:
        i = raw.index("--oracle-timeout")
        try:
            oracle_timeout = float(raw[i + 1])
        except (IndexError, ValueError):
            sys.exit(
                "usage: check_oracle.py [sf_dir] [query ...] [--plain] "
                "[--oracle-timeout SECONDS] — --oracle-timeout needs a "
                "numeric value"
            )
        raw = raw[:i] + raw[i + 2:]
    args = raw
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set()
    for a in args[1:]:
        only.update(x for x in a.split(",") if x)  # commas OR spaces

    from astro_sdk_spark.queries import (
        VACUOUS_OK,
        VACUOUS_OK_SMALL_SF,
        oracle_queries,
        spark_queries,
    )

    # Non-vacuity gate: an empty result hash-matches an empty oracle
    # trivially, so 0 rows is a FAILURE unless explicitly allowlisted
    # (below sf0.01, selective queries may legitimately match nothing —
    # parse the scale factor out of the directory name rather than
    # string-matching one specific suffix).
    import re

    vacuous_ok = set(VACUOUS_OK)
    m = re.search(r"sf(\d+(?:\.\d+)?)$", os.path.basename(sf_dir.rstrip("/")))
    if m is None:
        # Unparseable directory name: the dataset's scale is unknown, so a
        # legitimately-selective empty (q_correlated_agg on a tiny custom
        # corpus) must not hard-fail — apply the small-SF allowlist and say
        # so, rather than guessing the data is big enough to hit every
        # predicate.
        print(
            f"# warning: cannot parse scale factor from {sf_dir!r} "
            f"(expected .../sf<N>); applying VACUOUS_OK_SMALL_SF "
            f"{sorted(VACUOUS_OK_SMALL_SF)}"
        )
        vacuous_ok |= set(VACUOUS_OK_SMALL_SF)
    elif float(m.group(1)) < 0.01:
        vacuous_ok |= set(VACUOUS_OK_SMALL_SF)

    if plain:
        # the driver's session, verbatim: NO library confs. Queries must
        # self-carry any conf they depend on (e.g. T() sets the events
        # nanos conf at runtime) — this mode catches accidental reliance
        # on get_session's tuned defaults.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from astro_sdk_spark import get_session

        # long-lived session (143 queries + 143 DuckDB oracles): pay the
        # one-time heap pre-touch instead of mid-sweep first-touch storms
        os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
        spark = get_session(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    from astro_sdk_spark.functions._cache import (
        release_intermediates,
        sweep_persistent_rdds,
    )

    oracles = oracle_queries()
    failures = []
    skipped: list[str] = []
    unknown = only - set(spark_queries())
    if unknown:
        # a typo'd name silently matching NOTHING would print the
        # all-match summary vacuously — fail loudly instead
        sys.exit(f"unknown queries requested: {sorted(unknown)}")
    for name, fn in spark_queries().items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        finally:
            # same hygiene as bench.py: drop persisted intermediates and
            # checkpoint blocks per query, or an 80-query run accumulates
            # storage-eviction pressure
            spark.catalog.clearCache()
            release_intermediates()
            sweep_persistent_rdds(spark)
        if len(srows) == 0 and name not in vacuous_ok:
            failures.append(name)
            print(f"FAIL  {name}: VACUOUS — 0 rows (allowlist in queries.py)")
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only, {len(srows)} rows")
            continue
        try:
            ocols, orows = _run_oracle(con, oracles[name], oracle_timeout)
        except duckdb.InterruptException:
            skipped.append(name)
            print(f"SKIP  {name}: oracle exceeded {oracle_timeout}s "
                  f"(spark result unverified, {len(srows)} rows)")
            continue
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"FAIL  {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            continue
        sn, on_ = normalize(srows, scols), normalize(orows, ocols)
        if sn != on_:
            failures.append(name)
            ndiff = sum(1 for a, b in zip(sn, on_) if a != b)
            print(f"FAIL  {name}: {ndiff}/{len(sn)} rows differ")
            for a, b in list(zip(sn, on_))[:200]:
                if a != b:
                    print(f"  spark : {a}")
                    print(f"  oracle: {b}")
                    break
        else:
            print(f"ok    {name}: {len(srows)} rows match")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    if skipped:
        # a skipped oracle is an UNVERIFIED spark result, not a pass —
        # say so in the summary line instead of overstating coverage
        print(
            f"all compared queries match "
            f"({len(skipped)} oracle-timeout SKIPPED: {skipped})"
        )
    else:
        print("all queries match")


if __name__ == "__main__":
    main()
