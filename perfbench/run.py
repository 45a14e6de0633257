#!/usr/bin/env python3
"""Pipeline benchmark for astro_sdk_spark: seeded end-to-end workloads.

    python3 perfbench/run.py --workload elt_nightly --seed 1 --seconds 10 --trace 0
    for w in elt_nightly ann_serving corpus_curate; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 10 --trace 1; done

Each run starts one local Spark session on every core, generates its inputs
from ``--seed``, warms up, then runs the workload's closed loop for its fixed
number of steps, and checks the outputs. Every run measures the same work:
the schedules are sized to take longer than the ``--seconds`` a comparison
asks for, which is recorded but does not change the work. The compared
timings are net of hypervisor steal (see ``noise.Watch``); the record keeps
the plain wall times beside them. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A traced run also prints the per-layer report,
the dominant layer and the tracing overhead. Everything a run writes lives
under ``.perfbench_tmp/`` (deleted at exit) and ``.perfbench_out/`` (the run
record: seed, host noise, output hashes, all metrics).

BENCHMARK.json compares ``elt_nightly`` and ``ann_serving``, which between
them cross every layer. ``corpus_curate`` runs the same way but is left out
of the comparison for its cost: its warm-up alone takes about 35 s and a
run about 85 s, and a comparison makes over twenty runs of each workload
within an hour.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import noise

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str) -> dict:
    """Per-run warehouse, Spark local dirs, JVM temp and derby home, so no
    state from another run (or an orphaned ``spark-warehouse/``) is seen."""
    dirs = {k: os.path.join(run_dir, k) for k in ("warehouse", "local", "tmp", "derby", "work")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # touch the heap at JVM start (set-up) rather than mid-run: first-touch
    # page faults otherwise land in whichever timed call grows the heap
    os.environ.setdefault("SPARK_GRAFT_PRETOUCH", "1")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def sweep_orphans(tmp_root: str) -> None:
    """Delete run directories left by runs that were killed."""
    if not os.path.isdir(tmp_root):
        return
    for name in os.listdir(tmp_root):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(tmp_root, name), ignore_errors=True)


def start_session(dirs: dict):
    from astro_sdk_spark import get_session

    spark = get_session(
        app_name="perfbench",
        master=f"local[{os.cpu_count()}]",
        extra_conf={
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.local.dir": dirs["local"],
            "spark.driver.extraJavaOptions":
                # no hsperfdata file: the JVM would write it under /tmp
                f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['derby']} "
                "-XX:-UsePerfData",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "200",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def next_ids(sc) -> tuple[int, int]:
    """(next job id, next stage id) of the scheduler."""
    dag = sc._jsc.sc().dagScheduler()
    return int(dag.nextJobId()), int(dag.nextStageId())


def bytes_written(sc, first_stage: int, end_stage: int) -> float:
    from spans import stage_rows, wait_for_listener

    wait_for_listener(sc)
    rows = stage_rows(sc, range(first_stage, end_stage))
    return sum(r["output_mb"] for r in rows.values()) * 1024 * 1024


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    total = 0
    for pid in (spark.sparkContext._gateway.proc.pid, os.getpid()):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def timed_loop(wl, first: int, alternate: bool = False):
    """Closed loop over the workload's ``steps`` steps from ``first``.

    Throughput is the median over cycles of the cycle's rows per second of
    steal-net step time: a cycle is one repeat of the schedule, so each
    holds the same kind of work, and a burst of host noise in one cycle does
    not move the median. Each step's wall and steal-net time are recorded.
    With ``alternate`` cycles run untraced, traced, traced, untraced (and
    so on), so traced and untraced steps share the same warm-up state and a
    steady warming drift cancels out of the overhead, which compares the
    median latency of each call made in both kinds of step."""
    sc = wl.spark.sparkContext
    cycles = [[0.0, 0.0] for _ in range(wl.steps // wl.cycle)]  # rows, seconds
    nbytes = 0.0
    lat = {False: {}, True: {}}
    step_jobs, step_s = [], []
    for done in range(wl.steps):
        traced = alternate and (done // wl.cycle) % 4 in (1, 2)
        wl.rec.active = traced
        j0, c0 = next_ids(sc)[0], len(wl.rec.calls)
        watch = noise.Watch()
        r, b, s = wl.step(first + done)
        step_s.append((watch.wall(), watch.net()))
        wl.rec.active = False
        step_jobs.append(next_ids(sc)[0] - j0)
        for name, t, _ in wl.rec.calls[c0:]:
            lat[traced].setdefault(name, []).append(t)
        cycles[done // wl.cycle][0] += r
        cycles[done // wl.cycle][1] += s
        nbytes += b
    out = {"rows": sum(r for r, _ in cycles), "bytes": nbytes,
           "busy_s": sum(s for _, s in cycles),
           "rows_per_s": statistics.median(r / s for r, s in cycles)}
    if alternate:
        both = lat[False].keys() & lat[True].keys()
        out["trace_overhead"] = (sum(statistics.median(lat[False][n]) for n in both)
                                 / sum(statistics.median(lat[True][n]) for n in both))
    return {**out, "step_jobs": step_jobs, "step_wall_net_s": step_s}


def run(args, dirs: dict) -> dict:
    import workloads
    from spans import Recorder, Span, report, resolve

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    whole = noise.Watch()
    t_wall = time.time()
    spark = start_session(dirs)
    t_session = whole.wall()
    sc = spark.sparkContext
    rec = Recorder(sc, f"{args.workload}-{args.seed}", trace=bool(args.trace))
    if args.trace:
        sp = Span(f"{rec.run_id}:session", "session.get_session", "session", t_wall, None,
                  end=t_wall + t_session)
        rec.spans.append(sp)
    rec.active = False
    if args.trace:
        from astro_sdk_spark import SparkEngine

        rec.wrap_class(SparkEngine, "engine")
    wl = workloads.WORKLOADS[args.workload](spark, rec, args.seed, dirs["work"])
    t = time.perf_counter()
    wl.generate()
    t_gen = time.perf_counter() - t
    wl.setup()
    t_load = time.perf_counter() - t - t_gen
    first = wl.warmup()
    t_warm = time.perf_counter() - t - t_gen - t_load
    setup_s, setup_wall_s = whole.net(), whole.wall()

    n_req, n_commits = len(wl.requests), len(wl.commits)
    s0 = next_ids(sc)[1]
    timed = noise.Watch()
    loop = timed_loop(wl, first, alternate=bool(args.trace))
    t_timed = (timed.wall(), timed.net())
    s1 = next_ids(sc)[1]
    lat = wl.requests[n_req:]
    commits = wl.commits[n_commits:]
    attempted = len(rec.calls)
    failed = sum(1 for _, _, ok in rec.calls if not ok)
    t = time.perf_counter()
    failed += wl.check()
    t_check = time.perf_counter() - t
    attempted += wl.n_checks

    out = {
        "setup_s": setup_s,
        "rows_per_s": loop["rows_per_s"],
        "request_p50_ms": statistics.median(lat) * 1000,
        "request_p90_ms": statistics.quantiles(lat, n=10, method="inclusive")[8] * 1000,
        "ingest_batch_s": statistics.median(commits),
        "peak_rss_mb": peak_rss_mb(spark),
        "write_amp": bytes_written(sc, s0, s1) / loop["bytes"],
        "failed_frac": failed / attempted,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "steps": wl.steps, "rows": loop["rows"],
        "busy_s": loop["busy_s"], "timed_wall_net_s": t_timed,
        "step_wall_net_s": loop["step_wall_net_s"], "setup_wall_s": setup_wall_s,
        "latency_samples": len(lat), "commit_samples": len(commits),
        "step_jobs": loop["step_jobs"],
        "setup_parts_s": {"session": t_session, "generate": t_gen, "load": t_load,
                          "warmup": t_warm},
        "check_s": t_check,
        "output_hash": workloads.output_hash(wl.digests),
        "failures": wl.failures, "attempted": attempted, "failed": failed,
        "recall_at_k": getattr(wl, "recall_at_k", None),
        "calls": [(n, round(t, 4), ok) for n, t, ok in rec.calls],
        "end_to_end": out,
    }
    if args.trace:
        record["per_layer"] = resolve(sc, rec)
        record["per_layer"]["trace_overhead"] = loop["trace_overhead"]
        record["per_layer"].update(wl.ratios())
        record["spans"] = [vars(s) for s in rec.spans]
        print(report(args.workload, record["per_layer"], loop["trace_overhead"]))
    record["host_noise"] = noise.snapshot(whole, spark)
    stop(spark)
    return record


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it exits once
    its stdin closes, and takes its Python workers with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    import astro_sdk_spark  # noqa: F401  - fail fast when the library is absent

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sweep_orphans(os.path.join(ROOT, ".perfbench_tmp"))
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    try:
        dirs = isolate(run_dir)
        try:
            record = run(args, dirs)
        except Exception:  # noqa: BLE001 - report the failed run as incorrect
            traceback.print_exc()
            record = None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if record is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"seed": args.seed, "output_hash": record["output_hash"],
                      "steps": record["steps"], "step_jobs": record["step_jobs"],
                      "failed_frac": record["end_to_end"]["failed_frac"],
                      "failures": record["failures"], "host_noise": record["host_noise"]}))
    source = record["per_layer"] if args.trace else record["end_to_end"]
    key = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[key]}
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
