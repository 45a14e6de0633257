"""Physical-plan regression gate.

PLAN_AUDIT.md documents why every nested-loop join and Arrow boundary in
the registry is a deliberate, bounded choice — but a document can't fail
CI. This test re-runs the audit machinery (tools/plan_audit.py) over every
registry query at sf0.001 and asserts the plan facts stay inside the
adjudicated envelope:

- nested-loop joins (CartesianProduct / BroadcastNestedLoopJoin) appear
  ONLY in the whitelisted tiny-broadcast sites, never more per query than
  adjudicated;
- Python (Arrow) boundaries appear ONLY in the whitelisted ANN/trainer
  queries, never more per query than adjudicated;
- parquet filter pushdown stays present on every query adjudicated as
  pushing filters.

A failure means a code change drifted a physical plan — fix the plan or
consciously re-adjudicate by editing the whitelist here AND PLAN_AUDIT.md.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# query → max allowed BroadcastNestedLoopJoin/CartesianProduct nodes.
# Each is a contractually tiny broadcast side (query sets, one-row
# normalizers, hyperplane matrices) — see PLAN_AUDIT.md FLAG column.
NESTED_LOOP_WHITELIST = {
    "q_range_join": 1,       # band join against a tiny broadcast range table
    "q_embedding_topk": 1,   # query-set cross: |queries| rows, broadcast
    "q_tfidf": 1,            # corpus-constant (n_docs) one-row broadcast
    "q_lm_score": 1,         # model-normalizer one-row broadcast
    "q_dsir_weights": 1,     # model-totals one-row broadcast (tf_idf device)
    "q_fuzzy_join": 1,       # short-string sliver cross join — bounded by
                             # the alphabet (len ≤ q·d−q+1+d), empty on
                             # customer names; the prefix path owns the rest
    "q_sq8_topk": 1,         # query-set cross: |queries| code rows, broadcast
                             # (the cosine_topk exact-baseline shape)
    "q_unimax": 1,           # water-filling level: one-row broadcast
                             # (tf_idf normalizer device)
    "q_lm_backoff": 1,       # model-normalizer one-row broadcast (the
                             # q_lm_score device, bigram variant)
    "q_outliers": 1,         # one-row fence-bounds broadcast (tf_idf
                             # normalizer device)
    "q_skew_report": 1,      # one-row corpus-total broadcast (tf_idf
                             # normalizer device)
    "q_hard_negatives": 4,   # one query-set cross per label partition —
                             # 4 cosine_topk calls, each the
                             # q_embedding_topk broadcast shape over ≤8
                             # query rows
    "q_temperature_mix": 1,  # one-row weight-total broadcast (tf_idf
                             # normalizer device)
    "q_zorder": 1,           # one-row min/max bounds broadcast (tf_idf
                             # normalizer device)
    "q_winsorize": 1,        # one-row fence-bounds broadcast (the
                             # q_outliers device, clip variant)
    "q_quantile_sketch": 3,  # one-row sketch-total broadcast per quantile
                             # pick (p50/p90/p99 — the tf_idf normalizer
                             # device over ≤range/width sketch cells)
    "q_tpch_q11": 1,         # one-row global-threshold broadcast (the
                             # q_tpch_q15 MAX device, integer-exact)
    "q_ann_stats": 1,        # one-row totals broadcast (sum+mean over the
                             # per-list counts — the tf_idf normalizer
                             # device; output bounded by n_centroids)
}

# query → max allowed Python/Arrow boundary nodes (MapInPandas etc.).
# All are the vectorized numpy-matmul exchange points of the ANN/PQ/
# trainer family — the documented "UDFs only where matmul beats codegen"
# boundary.
PY_BOUNDARY_WHITELIST = {
    "q_ivf_topk": 2,
    "q_embedding_neardup": 1,
    "q_semantic_dedup": 1,
    "q_ivfpq_topk": 3,
    "q_ivfpq_trained": 3,    # same final plan as q_ivfpq_topk; the trainer's
                             # per-iteration passes run eagerly, outside it
    "q_ann_lsh": 2,
    "q_pq_topk": 2,
    "q_ann_recall": 2,       # exact + LSH subtrees may both materialize
    "q_bloom_dedup": 2,      # bitmap probe (vectorized bitset test) — the
                             # broadcast-bloom alternative to a corpus-sized
                             # shuffle; may appear under both union branches
    "q_bpe_encode": 1,       # the BPE encoder itself (apply_bpe mapInPandas)
                             # — tokenizers are Python; Arrow-batched with a
                             # per-batch word cache
    "q_unicode_normalize": 1,  # unicodedata.normalize pandas_udf — Spark
                               # has no Unicode-normalization builtin; one
                               # Arrow-batched projection, no shuffle
    "q_ann_persist": 2,      # query-probe matmul (nearest_centroids) — the
                             # q_ivf_topk boundary; list assignment runs
                             # eagerly at build/add time, outside this plan
                             # — plus _flat_local_topk (r11): the bounded
                             # per-batch pre-rank that caps the global
                             # window's input at batches×k rows per query
    "q_annpq_persist": 1,    # the ADC scan over the persisted coded lists
                             # (ivfpq_scan_lists) — q_ivfpq_topk's boundary;
                             # probe map + encode run eagerly at build/add
}

# queries adjudicated as carrying parquet filter pushdown (PLAN_AUDIT.md
# "pushed" column = y). A regression here means a filter stopped reaching
# the scan.
PUSHDOWN_REQUIRED = [
    "q_pricing_summary", "q_filter_project", "q_join_agg",
    "q_region_revenue", "q_semi_anti_join", "q_set_ops",
    "q_events_tumbling", "q_merge_update", "q_append_map", "q_asof_join",
    "q_range_join", "q_correlated_agg", "q_training_pipeline",
    "q_embedding_topk", "q_incremental_neardup", "q_minhash_neardup",
    "q_ann_recall", "q_ivf_topk", "q_decontaminate", "q_semantic_dedup",
    "q_substring_dedup", "q_ann_lsh", "q_neardup_renamed_cols",
    "q_merge_ignore", "q_events_sliding",
]


@pytest.fixture(scope="module")
def audits(spark):
    from plan_audit import audit_plan

    from astro_sdk_spark.queries import spark_queries

    jvm = spark.sparkContext._jvm
    out: dict[str, dict] = {}
    failed: dict[str, str] = {}
    for name, fn in spark_queries().items():
        try:
            df = fn(spark, SF_DIR)
            df.collect()  # finalize the AQE plan (see tools/plan_audit.py)
            qe = df._jdf.queryExecution()
            out[name] = audit_plan(
                jvm.PythonSQLUtils.explainString(qe, "formatted"),
                jvm.PythonSQLUtils.explainString(qe, "simple"),
            )
        except Exception as e:  # noqa: BLE001
            failed[name] = str(e).splitlines()[0][:160]
        spark.catalog.clearCache()
        from astro_sdk_spark.functions._cache import (
            release_intermediates,
            sweep_persistent_rdds,
        )

        release_intermediates()
        sweep_persistent_rdds(spark)
    assert not failed, f"queries failed to execute at {SF_DIR}: {failed}"
    return out


def test_nested_loop_joins_only_at_whitelisted_sites(audits):
    bad = {
        name: m["cartesian"]
        for name, m in audits.items()
        if m["cartesian"] > NESTED_LOOP_WHITELIST.get(name, 0)
    }
    assert not bad, (
        f"unadjudicated nested-loop joins (query: count, whitelist caps "
        f"{NESTED_LOOP_WHITELIST}): {bad}"
    )


def test_python_boundaries_only_at_whitelisted_sites(audits):
    bad = {
        name: m["py"]
        for name, m in audits.items()
        if m["py"] > PY_BOUNDARY_WHITELIST.get(name, 0)
    }
    assert not bad, (
        f"unadjudicated Python/Arrow boundaries (query: count, whitelist "
        f"caps {PY_BOUNDARY_WHITELIST}): {bad}"
    )


def test_filter_pushdown_still_reaches_scans(audits):
    missing = [
        name
        for name in PUSHDOWN_REQUIRED
        if name in audits and not audits[name]["pushed"]
    ]
    assert not missing, f"filter pushdown regressed (no PushedFilters): {missing}"
