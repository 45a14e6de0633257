"""Tests of the pipeline benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator tests take seconds. The run tests start Spark once per
workload and tracing mode and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import noise  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _files(out: dict) -> list[str]:
    return sorted(v for v in out.values() if isinstance(v, str) and os.path.isfile(v))


def _centers(seed, d):
    gen.ann_corpus(seed, d)
    return np.load(os.path.join(d, "centers.npy"))


GENERATORS = {
    "elt_base": lambda seed, d: _files(gen.elt_base(seed, d)),
    "elt_night": lambda seed, d: _files(gen.elt_night(seed, 3, d)),
    "corpus_shard": lambda seed, d: _files(gen.corpus_shard(seed, 2, d, n=300)),
    "ann_corpus": lambda seed, d: _files(gen.ann_corpus(seed, d)),
    "ann_ingest_batch": lambda seed, d: _files(
        gen.ann_ingest_batch(seed, 4, d, _centers(seed, d))),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, name):
    digests = []
    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        d = tmp_path / sub
        d.mkdir()
        digests.append(gen.file_digest(GENERATORS[name](seed, str(d))))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_query_vectors_follow_the_seed():
    corpus = np.random.default_rng(0).normal(size=(100, gen.DIM)).astype(np.float32)
    a, b, c = (gen.ann_queries(s, 7, corpus).tobytes() for s in (1, 1, 2))
    assert a == b != c


@pytest.mark.parametrize("busy, steal, net", [(3.0, 1.0, 6.0), (3.0, 0.0, 8.0),
                                              (0.0, 0.0, 8.0)])
def test_watch_nets_out_stolen_share_of_wall_time(monkeypatch, busy, steal, net):
    clock = iter([10.0, 18.0])
    cpu = iter([(100.0, 20.0), (100.0 + busy, 20.0 + steal)])
    monkeypatch.setattr(noise.time, "perf_counter", lambda: next(clock))
    monkeypatch.setattr(noise, "cpu_sec", lambda: next(cpu))
    assert noise.Watch().net() == pytest.approx(net)


def test_sweep_orphans_removes_only_dead_runs(tmp_path):
    dead, live = tmp_path / "elt_nightly-999999999", tmp_path / f"elt_nightly-{os.getpid()}"
    dead.mkdir()
    live.mkdir()
    run.sweep_orphans(str(tmp_path))
    assert not dead.exists() and live.exists()


def _git_status() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "status", "--porcelain"],
                             capture_output=True, text=True, timeout=60)
    except OSError:
        return None
    return out.stdout if out.returncode == 0 else None


def _run(cwd, workload: str, trace: int):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "10", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed5-trace{trace}.json")
    with open(path) as fh:
        return result, json.load(fh)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_runs_are_correct_isolated_and_tracing_adds_no_jobs(tmp_path, workload):
    """Untraced and traced runs of the workload's schedule issue the same
    Spark jobs, pass their output checks, ignore orphaned table directories
    in the working directory and leave the git tree as they found it."""
    for table in ("orders", "lineitem", "stg_orders", "stg_lineitem", "rpt_stage",
                  "rpt_revenue", "bench_ann__lists", "bench_ann__meta"):
        orphan = tmp_path / "spark-warehouse" / table
        orphan.mkdir(parents=True)
        (orphan / "part-00000.parquet").write_bytes(b"stale")
    before = _git_status()
    plain, plain_rec = _run(tmp_path, workload, 0)
    traced, traced_rec = _run(tmp_path, workload, 1)
    assert _git_status() == before
    assert plain["correct"] and traced["correct"], (plain_rec["failures"],
                                                    traced_rec["failures"])
    # corpus_curate's job count moves by a job or two between identical
    # untraced runs (adaptive execution cancels stages whose jobs may or may
    # not have started); the other workloads' counts repeat exactly
    slack = 3 if workload == "corpus_curate" else 0
    assert len(plain_rec["step_jobs"]) == len(traced_rec["step_jobs"])
    for a, b in zip(plain_rec["step_jobs"], traced_rec["step_jobs"]):
        assert abs(a - b) <= slack, (plain_rec["step_jobs"], traced_rec["step_jobs"])
    assert plain_rec["output_hash"] == traced_rec["output_hash"]
    layers = traced_rec["per_layer"]
    assert layers["session.calls"] == 1 and layers["trace_overhead"] > 0
    assert layers["operators.calls"] + layers["functions.calls"] > 0
