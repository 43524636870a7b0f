"""Physical-plan audit: prints formatted plans for every registered
query and flags scale smells — missing filter pushdown, row-at-a-time
Python UDFs, cartesian products, global sorts/windows without
partitioning, full-column scans.

Usage: python tools/explain_all.py [sf_dir] [key ...]
"""

from __future__ import annotations

import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def audit(key: str, plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan and "Broadcast" not in plan:
        flags.append("cartesian-no-broadcast")
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time-python")
    if re.search(r"Sort \[.*\] true", plan) and "TakeOrdered" not in plan:
        flags.append("global-sort")
    if "Window" in plan and "windowspecdefinition()" in plan.replace(" ", ""):
        flags.append("unpartitioned-window")
    scans = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    return flags


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import session_cpus

    spark = (
        SparkSession.builder.master(f"local[{session_cpus()}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("explain_all")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    for key, fn in e.queries().items():
        if only and key not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as ex:
            print(f"### {key}: ERROR {type(ex).__name__}: {str(ex).splitlines()[0][:100]}")
            continue
        flags = audit(key, plan)
        print(f"### {key} {'⚠ ' + ','.join(flags) if flags else 'ok'}")
        if only:
            print(plan)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
