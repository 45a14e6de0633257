"""Time a subset of registry queries, min-of-N, with per-query calibration.

Usage: python tools/time_queries.py [--sf DIR] [--reps N] q_name [q_name ...]

Prints one JSON line {"queries": {name: min_sec}, "reps": {...}, "calib": s}.
The methodology mirrors bench.py's (warm at sf0.001 first, count() the
result, clearCache + release intermediates between reps) so numbers are
comparable to the headline artifact; the calibration probe bounds host
noise per run. Used for the round's before/after evidence on targeted
optimizations without paying a full 143-query sweep per iteration.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")  # long-lived measurement session
    from astro_sdk_spark import get_session
    from astro_sdk_spark.functions._cache import (
        release_intermediates,
        sweep_persistent_rdds,
    )
    from astro_sdk_spark.queries import spark_queries

    spark = get_session(app_name="time_queries")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    import bench

    calib = bench._calibrate(spark)

    qs = spark_queries()
    out: dict[str, float] = {}
    rep_out: dict[str, list[float]] = {}
    steal_out: dict[str, list] = {}
    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        fn = qs[name]
        try:
            fn(spark, warm_dir).count()
        except Exception as e:  # noqa: BLE001
            print(f"# warm error {name}: {e}", file=sys.stderr)
        spark.catalog.clearCache()
        release_intermediates()
        sweep_persistent_rdds(spark)
        best = None
        rl = []
        sl = []
        for _ in range(reps):
            st0 = bench._steal_sec()
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                st1 = bench._steal_sec()
                sl.append(
                    round(st1 - st0, 2)
                    if st0 is not None and st1 is not None
                    else None
                )
                rl.append(round(dt, 3))
                best = dt if best is None else min(best, dt)
            except Exception as e:  # noqa: BLE001
                print(f"# error {name}: {e}", file=sys.stderr)
            spark.catalog.clearCache()
            release_intermediates()
            sweep_persistent_rdds(spark)
        out[name] = round(best, 3) if best is not None else -1.0
        rep_out[name] = rl
        steal_out[name] = sl
    calib2 = bench._calibrate(spark)
    print(json.dumps({
        "queries": out, "reps": rep_out, "steal": steal_out,
        "calib": [round(calib, 3), round(calib2, 3)],
        "load": round(os.getloadavg()[0], 2),
    }))


if __name__ == "__main__":
    main()
