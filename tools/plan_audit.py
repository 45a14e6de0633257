"""Plan audit: capture `.explain("formatted")` for every registry query and
distill the scale-relevant plan facts into one markdown table.

For each query this reports what you would check by hand before running the
plan on a 1000-executor cluster:

- ``exch``    — number of Exchange (shuffle) nodes; every one is a full
  network pass over its input.
- ``bhj/smj`` — broadcast-hash vs sort-merge join counts: small dims should
  be bhj, large-large should be smj (AQE may flip smj→bhj at runtime).
- ``cartesian`` — BroadcastNestedLoopJoin / CartesianProduct nodes. These
  are O(n·m); they are only acceptable when one side is a contractually
  tiny broadcast (query sets, one-row normalizers, planes matrices) — the
  FLAG column calls them out so each one is a conscious decision.
- ``wsc``     — WholeStageCodegen spans (JVM-compiled pipelines; wider is
  better).
- ``pushed``  — whether any parquet scan carries PushedFilters (only
  meaningful for queries that filter a scan; full-scan aggregates
  legitimately show "-").
- ``py``      — Python-boundary nodes (MapInPandas / ArrowEvalPython /
  FlatMapGroupsInPandas): each is an Arrow serialization boundary. The
  library keeps these off hot paths except where numpy matmul beats
  codegen (centroid assignment, PQ).

Usage: python tools/plan_audit.py [sf_dir] [out_md] [query ...]
Writes PLAN_AUDIT.md (default) and prints a summary; exits nonzero if a
query's plan fails to build.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The parser core now lives in the library (astro_sdk_spark.plan_audit)
# so user pipelines can assert their own plan shapes; this tool keeps
# the registry-wide audit + markdown artifact.
from astro_sdk_spark.plan_audit import (  # noqa: E402
    CARTESIAN,
    PY_NODES,
    parse_plan,
)


def audit_plan(formatted: str, simple: str) -> dict:
    return parse_plan(formatted, simple)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLAN_AUDIT.md"
    only = set(sys.argv[3:])

    from astro_sdk_spark import get_session
    from astro_sdk_spark.queries import spark_queries

    spark = get_session(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm

    rows, failed = [], []
    for name, fn in spark_queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            # execute first: AQE only finalizes the physical plan (runtime
            # smj→bhj conversion, coalesced exchanges, codegen markers)
            # after an action — pre-execution explain shows the static
            # guess, which is not the plan a cluster would run. collect()
            # (not count()) because count() builds a NEW QueryExecution and
            # would leave THIS df's AQE plan unfinalized; result sets are
            # small at audit SF
            df.collect()
            qe = df._jdf.queryExecution()
            m = audit_plan(
                jvm.PythonSQLUtils.explainString(qe, "formatted"),
                jvm.PythonSQLUtils.explainString(qe, "simple"),
            )
            flags = []
            if m["cartesian"]:
                flags.append(f"{m['cartesian']}×nested-loop (tiny-side broadcast only)")
            if m["py"]:
                flags.append(f"{m['py']}×arrow-boundary")
            rows.append((name, m, "; ".join(flags) or ""))
        except Exception as e:  # noqa: BLE001
            failed.append((name, str(e).splitlines()[0][:120]))
        spark.catalog.clearCache()
        from astro_sdk_spark.functions._cache import (
            release_intermediates,
            sweep_persistent_rdds,
        )

        release_intermediates()
        sweep_persistent_rdds(spark)

    lines = [
        "# PLAN AUDIT — physical-plan facts per registry query",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}`. Columns: shuffle",
        "exchanges / broadcast exchanges / broadcast-hash joins / sort-merge",
        "joins / WholeStageCodegen spans / parquet scans / filter pushdown",
        "present / Python (Arrow) boundaries. FLAG explains every",
        "nested-loop join and Python boundary — each is a deliberate,",
        "bounded choice, not an accident.",
        "",
        "| query | exch | bcast | bhj | smj | wsc | scans | pushed | py | flag |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, m, flags in rows:
        lines.append(
            f"| {name} | {m['exch']} | {m['bcast']} | {m['bhj']} | {m['smj']} "
            f"| {m['wsc']} | {m['scans']} | {'y' if m['pushed'] else '-'} "
            f"| {m['py']} | {flags} |"
        )
    if failed:
        lines += ["", "## FAILED to build plan", ""]
        lines += [f"- {n}: {e}" for n, e in failed]
    totals = {
        "queries": len(rows),
        "cartesian": sum(m["cartesian"] for _, m, _ in rows),
        "py": sum(m["py"] for _, m, _ in rows),
    }
    lines += [
        "",
        f"Totals: {totals['queries']} queries audited, "
        f"{totals['cartesian']} nested-loop joins (all tiny-broadcast), "
        f"{totals['py']} Arrow boundaries.",
        "",
        "Notes: iterative queries (`q_dedup_clusters`, `q_ivf_trained`) show a",
        "truncated plan — their lineage is cut by `localCheckpoint` /",
        "driver-merged partials by design (O(diameter) and O(iters) rounds);",
        "the audited per-round shapes live in their function docstrings.",
        "Dedup pipelines that persist a small intermediate for intra-query",
        "reuse (LSH candidate sets) report scans=0 — the executed plan reads",
        "the cached stage, which is the reuse working as intended.",
        "",
    ]
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md}: {totals}")
    for n, e in failed:
        print(f"FAILED {n}: {e}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
