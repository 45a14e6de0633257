"""Warehouse-style ELT publication with astro_sdk_spark.

The nightly-report pattern composed from the operator layer, the way a
scheduled job chains it:

    parquet files
      → load_file            (file → managed table)
      → transform            (templated SQL → staging aggregate)
      → publish_table        (stage → audit → ATOMIC swap: readers
                              never observe a partial or failed result)
      → quantile_sketch      (per-group p50/p95 monitoring summary —
                              mergeable across nightly runs)

Everything before the swap is off the serving path; the cutover is O(1)
metastore metadata. Run at any scale factor:

    python examples/analytics_publish.py [sf_dir]

Returns per-stage row counts plus the monitoring quantiles so a
scheduler can emit them as metrics.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def nightly_report(spark: SparkSession, sf_dir: str) -> dict:
    """Build + publish the revenue report; returns stage frames/metrics."""
    from astro_sdk_spark.engine import SparkEngine
    from astro_sdk_spark.files import File
    from astro_sdk_spark.functions.quantiles import (
        quantile_sketch_build,
        quantile_sketch_query,
    )
    from astro_sdk_spark.operators.load_file import load_file
    from astro_sdk_spark.operators.publish import publish_table
    from astro_sdk_spark.operators.transform import run_transform
    from astro_sdk_spark.table import Table

    eng = SparkEngine(spark)
    # every writer below replaces its table, and clears what a killed
    # earlier run left under the name (SparkEngine's location policy)

    # 1. ELT load: files into managed tables
    orders = Table(name="rpt_orders")
    lineitem = Table(name="rpt_lineitem")
    load_file(File(f"{sf_dir}/orders.parquet"), orders, engine=eng)
    load_file(File(f"{sf_dir}/lineitem.parquet"), lineitem, engine=eng)

    # 2. templated transform into a staging aggregate (CTAS)
    stage = run_transform(
        """
        SELECT o_orderpriority AS priority,
               count(DISTINCT o_orderkey) AS n_orders,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE) / 100 AS revenue
        FROM {{ orders }} JOIN {{ lineitem }} ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        """,
        parameters={"orders": orders, "lineitem": lineitem},
        output_table=Table(name="rpt_stage"),
        engine=eng,
    )
    report = spark.table(stage.qualified_name)

    # 3. audited atomic publication — a failed audit leaves the previous
    #    night's report serving
    publish_table(
        report,
        "rpt_revenue",
        table_checks={"not_empty": {"check_statement": "COUNT(*) > 0"}},
        column_checks={
            "priority": {"null_check": {"equal_to": 0}},
            "revenue": {"min": {"geq_to": 0}},
        },
        spark=spark,
    )
    live = spark.table("rpt_revenue")

    # 4. monitoring: mergeable per-priority price quantiles over the fact
    #    table ($10 buckets) — tomorrow's sketch merges with today's
    sketch = quantile_sketch_build(
        spark.table(lineitem.qualified_name),
        "l_extendedprice",
        width=1000,
        by=["l_returnflag"],
    )
    monitor = quantile_sketch_query(
        sketch, [0.5, 0.95], width=1000, by=["l_returnflag"]
    )

    return {
        "live": live,
        "monitor": monitor,
        "counts": {
            "orders": spark.table(orders.qualified_name).count(),
            "lineitem": spark.table(lineitem.qualified_name).count(),
            "report_rows": live.count(),
        },
    }


if __name__ == "__main__":
    from astro_sdk_spark import get_session

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session(app_name="analytics_publish_example")
    spark.sparkContext.setLogLevel("ERROR")
    out = nightly_report(spark, sf)
    print("counts:", out["counts"])
    out["live"].orderBy("priority").show(10, truncate=False)
    out["monitor"].orderBy("l_returnflag", "q").show(20, truncate=False)
