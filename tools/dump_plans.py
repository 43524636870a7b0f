"""Dump `.explain("formatted")` for the given keys to files.

Usage: python tools/dump_plans.py <outdir> <suffix> key [key ...]
Writes <outdir>/<key>_<suffix>.txt for each key (the optimization-round
before/after plan evidence; bench-equivalent session conf).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        recommended_session_conf,
        session_cpus,
    )

    cpus = session_cpus()
    builder = SparkSession.builder.master(f"local[{cpus}]")
    for k, v in recommended_session_conf(cpus).items():
        builder = builder.config(k, v)
    spark = (
        builder.config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .appName("dump-plans")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    for key in keys:
        if key not in qs:
            print(f"!! unknown key {key}")
            continue
        df = qs[key](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
