"""Outside-in spans around the library's public calls, and the per-layer
metrics read back from Spark's own status store.

A ``Recorder`` always times every call the workload makes (the end-to-end
latencies need that). While tracing is active it also opens a span per call:
the span's id becomes the Spark job group of everything the call runs, so
after the run each span's jobs come from
``statusTracker().getJobIdsForGroup`` and their stages' metrics from
``statusStore().lastStageAttempt``. Streaming micro-batch jobs run on the
query's own thread under the query's ``runId`` as job group; the span that
drove the query attaches that group. Nothing is looked up while the
workload runs: spans stay in memory and are resolved once at the end.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("session", "engine", "operators", "functions", "streaming")
LAYER_METRICS = ("calls", "busy_s", "self_s", "driver_s", "jobs", "executor_cpu_s",
                 "gc_s", "input_mb", "shuffle_write_mb", "output_mb", "spill_mb",
                 "failed_tasks")
MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: str
    name: str
    layer: str
    start: float
    parent: str | None
    end: float = 0.0
    groups: list = field(default_factory=list)
    failed: bool = False
    rows_out: int = 0  # rows the call returned, where the caller counts them


class Recorder:
    """Times calls; with ``trace`` also records spans tagged as job groups."""

    def __init__(self, sc, run_id: str, trace: bool):
        self.sc = sc
        self.run_id = run_id
        self.active = trace  # spans are recorded only while active
        self.spans: list[Span] = []
        self.calls: list[tuple[str, float, bool]] = []  # outermost (name, s, ok)
        self._stack: list[Span] = []
        self._depth = 0
        self.glue_group = f"{run_id}:glue"
        if trace:
            sc.setJobGroup(self.glue_group, "benchmark glue")

    @contextmanager
    def span(self, layer: str, name: str):
        """Time one call into ``layer``; the body's Spark jobs join its group."""
        assert layer in LAYERS, layer
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{self.run_id}:{len(self.spans)}", f"{layer}.{name}", layer,
                  time.time(), parent.sid if parent else None)
        sp.groups.append(sp.sid)
        traced = self.active
        if traced:
            self.spans.append(sp)
            self._stack.append(sp)
            self.sc.setJobGroup(sp.sid, sp.name)
        self._depth += 1
        t0 = time.perf_counter()
        try:
            yield sp
        except Exception:
            sp.failed = True
            raise
        finally:
            dt = time.perf_counter() - t0
            sp.end = sp.start + dt
            self._depth -= 1
            if self._depth == 0:
                self.calls.append((sp.name, dt, not sp.failed))
            if traced:
                self._stack.pop()
                self.sc.setJobGroup(self._stack[-1].sid if self._stack
                                    else self.glue_group, "")

    def wrap_class(self, cls, layer: str) -> None:
        """Open a ``layer`` span around every public method of ``cls``, so
        calls the library makes into that layer show up as child spans."""
        import functools

        def wrap(fn):
            @functools.wraps(fn)
            def traced(*args, **kw):
                with self.span(layer, fn.__name__):
                    return fn(*args, **kw)
            return traced

        for name, fn in list(vars(cls).items()):
            if callable(fn) and not name.startswith("_"):
                setattr(cls, name, wrap(fn))

    def attach_group(self, sp: Span, group: str) -> None:
        """Count the jobs of another job group (a streaming query's runId)
        as ``sp``'s own."""
        sp.groups.append(group)


# ------------------------------------------------------------ resolution

def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def _union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _minus(base: tuple[float, float], holes) -> list[tuple[float, float]]:
    """``base`` with the union of ``holes`` cut out."""
    out, cur = [], base[0]
    for a, b in _union(holes):
        a, b = max(a, base[0]), min(b, base[1])
        if b <= a:
            continue
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < base[1]:
        out.append((cur, base[1]))
    return out


def wait_for_listener(sc) -> None:
    """Let the status store catch up with every job event posted so far."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - private API; fall back to a grace period
        time.sleep(1.0)


def stage_rows(sc, stage_ids) -> dict:
    """stage id -> metrics dict, for stages the status store still holds."""
    store = sc._jsc.sc().statusStore()
    out = {}
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(int(sid))
        except Exception:  # noqa: BLE001 - py4j error: stage never ran / evicted
            continue
        out[sid] = {
            "t0": _ms(sd.submissionTime()), "t1": _ms(sd.completionTime()),
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_mb": sd.inputBytes() / MB,
            "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
            "output_mb": sd.outputBytes() / MB,
            "spill_mb": (sd.diskBytesSpilled() + sd.memoryBytesSpilled()) / MB,
            "failed_tasks": sd.numFailedTasks(),
            "input_rows": sd.inputRecords(),
        }
    return out


def resolve(sc, rec: Recorder) -> dict:
    """Per-span jobs and stages -> per-layer and per-entry-point metrics."""
    wait_for_listener(sc)
    tracker = sc.statusTracker()
    span_jobs: dict[str, list[int]] = {}
    for sp in rec.spans:
        jobs = set()
        for g in sp.groups:
            jobs.update(tracker.getJobIdsForGroup(g))
        span_jobs[sp.sid] = sorted(jobs)
    # a shuffle map stage is shared by every later job that reuses it; it
    # ran once, under the earliest job, so that job's span owns it
    owner: dict[int, str] = {}
    for jid, sid in sorted((j, s) for s, js in span_jobs.items() for j in js):
        info = tracker.getJobInfo(jid)
        for st in (info.stageIds if info else ()):
            owner.setdefault(st, sid)
    rows = stage_rows(sc, owner)
    stages_of: dict[str, list[dict]] = defaultdict(list)
    for st, sid in owner.items():
        if st in rows:
            stages_of[sid].append(rows[st])

    children: dict[str, list[Span]] = defaultdict(list)
    by_id = {sp.sid: sp for sp in rec.spans}
    for sp in rec.spans:
        if sp.parent:
            children[sp.parent].append(sp)

    layer = {lay: defaultdict(float) for lay in LAYERS}
    entry: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for sp in rec.spans:
        own = (sp.start, sp.end)
        self_iv = _minus(own, [(c.start, c.end) for c in children[sp.sid]])
        stages = stages_of[sp.sid]
        stage_iv = [(s["t0"], s["t1"]) for s in stages if s["t0"] and s["t1"]]
        driver = sum(_length(_minus(iv, stage_iv)) for iv in self_iv)
        parent = by_id.get(sp.parent)
        outermost = parent is None or parent.layer != sp.layer
        m = layer[sp.layer]
        m["calls"] += 1
        m["busy_s"] += (sp.end - sp.start) if outermost else 0.0
        m["self_s"] += _length(self_iv)
        m["driver_s"] += driver
        m["jobs"] += len(span_jobs[sp.sid])
        for s in stages:
            for k in ("executor_cpu_s", "gc_s", "input_mb", "shuffle_write_mb",
                      "output_mb", "spill_mb", "failed_tasks"):
                m[k] += s[k]
        e = entry[sp.name]
        e["busy_s"] += sp.end - sp.start
        e["jobs"] += len(span_jobs[sp.sid])
        e["calls"] += 1
        e["input_rows"] += sum(s["input_rows"] for s in stages)
        e["rows_out"] += sp.rows_out
    out = {}
    for lay in LAYERS:
        for k in LAYER_METRICS:
            out[f"{lay}.{k}"] = layer[lay][k]
    for name, e in entry.items():
        for k in ("busy_s", "jobs", "calls"):
            out[f"{name}.{k}"] = e[k]
    topk = entry.get("functions.ann_index_topk", {})
    out["functions.ann_index_topk.rows_scanned_per_hit"] = (
        topk["input_rows"] / topk["rows_out"] if topk.get("rows_out") else 0.0)
    out["streaming.jobs_per_batch"] = (
        layer["streaming"]["jobs"] / layer["streaming"]["calls"]
        if layer["streaming"]["calls"] else 0.0)
    return out


def dominant_layer(metrics: dict) -> str:
    """The layer with the most self time in the timed loop (the session
    layer only starts the session, which ``setup_s`` covers)."""
    return max(LAYERS[1:], key=lambda lay: metrics.get(f"{lay}.self_s", 0.0))


def report(workload: str, metrics: dict, overhead: float | None) -> str:
    """The one-page per-layer table for a traced run."""
    lines = [f"== {workload}: per-layer breakdown (traced run) =="]
    hdr = ("layer", "calls", "busy_s", "self_s", "driver_s", "jobs", "cpu_s",
           "gc_s", "in_mb", "shufw_mb", "out_mb", "spill_mb", "fail")
    lines.append("".join(f"{h:>10}" for h in hdr))
    for lay in LAYERS:
        vals = [metrics[f"{lay}.{k}"] for k in LAYER_METRICS]
        lines.append(f"{lay:>10}" + "".join(
            f"{v:>10.0f}" if k in ("calls", "jobs", "failed_tasks") else f"{v:>10.3f}"
            for k, v in zip(LAYER_METRICS, vals)))
    lines.append(f"dominant layer of the timed loop by self time: {dominant_layer(metrics)}")
    if overhead is not None:
        lines.append("tracing overhead (untraced / traced median call latency, "
                     f"1.0 = none): {overhead:.3f}")
    return "\n".join(lines)
