"""Redundant-scan audit — the events_cooccurrence_lift class.

A relation consumed by several subtrees without materialization
replays its whole scan+compute lineage per consumer: the plan stays
CORRECT but a 100 TB input is read N times instead of once (observed:
7 lineitem scans in one cooccurrence plan, with only 1 ReusedExchange
firing).  This audit builds every key's executed plan at a small SF
and counts FileScan occurrences per source table, flagging any table
scanned >= FLAG_AT times in one plan.

Legitimate multi-scan shapes exist (self-joins, two-pass exact
algorithms, semi-join + outer join over the same fact): the
allowlist below names them with the reason, so the audit's value is
the DIFF — a new key joining the list is a review prompt, not
automatically a bug.

Usage: python tools/audit_scans.py [sf_dir] [key ...]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# keys where >= FLAG_AT scans of one table are the algorithm, not waste
ALLOWED = {
    # two-pass exact algorithms (sketch/histogram pass + rank pass)
    "agg_exact_median_twopass": "two-pass exact median reads the fact twice per pass tree",
    "agg_exact_quantile_grouped": "grouped two-pass histogram walk",
    "agg_heavy_hitters_exact": "CMS probe pass + exact HAVING pass",
    # decorrelated subqueries re-scan the fact by design (same shuffle key)
    "sql_api_q18": "IN-subquery rollup + outer join, both on l_orderkey",
    "sql_api_q21": "semi + anti + outer over lineitem, all on l_orderkey",
    "sql_api_q15": "CTE referenced twice (scalar max + join)",
    "sql_api_q17": "correlated avg rollup + fact scan",
    "filter_exists_subquery": "semi + anti over orders",
    # witness keys over planted control-plane rows
    "sim_lsh_dup_witness": (
        "bands base(vec_id<3) UNION planted dups, consumed by both join "
        "sides — 4 pushed-down scans of ~3 rows each, never the corpus"
    ),
    # self-joins on principle
    "join_interval_overlap": "interval x interval self-join",
    "events_forecast_snaive": "t-7 self-join over daily counts",
    "join_bucketed": "bucketed self-side scans are exchange-free",
    "dedup_subset_keyed": "keyed subset anti-join over the same table",
    # cost-gated fan-outs: core.checkpoint_if_large pins these to ONE
    # pass above 256 MB of source; below the gate the replayed scans
    # ride the page cache and beat the checkpoint's block writes
    # (measured 0.3-1.0 s/key in-bench), so the fixture-scale plan
    # this audit sees deliberately fans out
    "events_cooccurrence_lift": "cost-gated checkpoint (checkpoint_if_large)",
    "dq_expectations": "cost-gated checkpoint (checkpoint_if_large)",
    "orders_rfm_segments": "cost-gated checkpoint (checkpoint_if_large)",
    "dedup_ngram_jaccard": "cost-gated checkpoint (checkpoint_if_large)",
    "dedup_containment": "cost-gated checkpoint (checkpoint_if_large)",
    # dim-sized or deliberately-composed multi-scans
    "sql_api_q22": "two scalar aggregate subqueries + anti-join over the "
    "CUSTOMER DIM (not the fact) — identical-ANSI-text parity forbids "
    "restructuring, and 5 dim scans are not a scale cost",
    "scalar_subquery": "the key EXISTS to exercise scalar subqueries",
    "sim_ivf_recall_eval": "offline eval harness composing two standalone "
    "retrieval keys (exact + IVF), each building its own pipeline; "
    "4 corpus scans per evaluation run is the accepted cost of keeping "
    "the two pipelines bit-identical to their production keys",
    "sink_snapshot_diff": "constructs both CDC snapshot versions from the "
    "source table, then diffs — 3 scans are the demo's construction, not "
    "the diff (production diffs two already-materialized snapshots)",
}
FLAG_AT = 3


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import session_cpus

    spark = (
        SparkSession.builder.master(f"local[{session_cpus()}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("audit_scans")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine

    engine.load_all()

    flagged, ok, skipped = [], 0, 0
    for key, fn in engine.QUERIES.items():
        if only and key not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # build/stage failures are their own signal
            print(f"ERR  {key}: {str(exc)[:100]}")
            skipped += 1
            continue
        counts = Counter(re.findall(r"(\w+)\.parquet", plan))
        worst = {t: n for t, n in counts.items() if n >= FLAG_AT}
        if worst and key not in ALLOWED:
            flagged.append((key, worst))
            print(f"FLAG {key}: {worst}")
        else:
            ok += 1
    print(f"\n== {ok} ok, {len(flagged)} flagged, {skipped} errors ==")


if __name__ == "__main__":
    main()
