"""Plan-shape budget — a lockfile for physical-plan regressions.

Correctness gates catch wrong ANSWERS; the bench catches wall-clock
only at fixture scale, where an extra exchange over tiny data is
invisible.  This tool records, per key, the plan-shape numbers that
DO matter at 100 TB — exchange count and per-table FileScan count in
the executed plan — into ``tools/plan_budget.json``, and in check
mode fails any key that EXCEEDS its recorded budget (fewer is fine
and auto-tightens on the next --record).

Workflow:
    python tools/plan_budget.py --record   # refresh the lockfile
    python tools/plan_budget.py            # check current vs lockfile

``--execute`` runs each query (noop-collect) first and reads the
FINAL adaptive plan — without it the shape is the pre-AQE static plan
(isFinalPlan=false), which never reflects runtime broadcast demotions
or skew-join splits.  ``--out=PATH`` redirects the lockfile, so
scale-probe shapes (e.g. the synthesized 10x set, where a planner
regression shows up as a LOST broadcast) live beside the fixture
lockfile instead of overwriting it: per the round-10 verdict the
TPC-H heads' 10x shapes are pinned in tools/plan_budget_x10.json.

EXECUTED-MODE LOCKFILE (r15 verdict ask #5): AQE-final shapes for the
full registry are pinned in ``tools/plan_budget_exec.json``; refresh /
check with ``--execute --out=tools/plan_budget_exec.json
/root/testdata/sf0.01``.  Two rules learned recording it:

* COUNTING — a finalized AdaptiveSparkPlan's toString() renders BOTH
  a "Final Plan" and an "Initial Plan" section, so naive counting
  doubles every node (the r15 2x-on-214-keys reading); shape_of cuts
  the string at the Initial Plan marker.  Never compare an --execute
  run against the static lockfile — modes pin different plans.
* SCALE — executed shapes are DATA-dependent: at sf0.001 AQE's
  empty-relation propagation collapses whole join trees to
  LocalTableScan when a stage materializes 0 rows (sql_api_q7/q11
  read as exchanges=0, joins={}), which reads as a broadcast
  demotion but is emptiness, not strategy.  The exec lockfile
  therefore records at sf0.01 (the driver's own gate scale, where
  every key returns rows); static mode stays at sf0.001 since
  unexecuted shapes are sf-independent.

Shapes also record join-node counts by strategy; check mode fails a
key whose BroadcastHashJoin count DROPPED or whose SortMergeJoin /
ShuffledHashJoin / BroadcastNestedLoopJoin count ROSE vs its budget —
the lost-broadcast regression the exchange count alone can miss (a
broadcast demoted to SMJ adds exchanges on both sides, but only if
neither side was already exchange-adjacent).

A key over budget means a change added an exchange or a table rescan
the author didn't notice — exactly the regression class the round-7
scan audit found by hand (7 hidden lineitem scans in one plan).
New keys (absent from the lockfile) are reported and recorded, never
failed.  Plans are built at sf0.001: exchange/scan counts are
sf-independent by construction (AQE coalesces partition counts, not
exchange nodes).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
BUDGET_PATH = os.path.join(REPO, "tools", "plan_budget.json")


_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)


def strip_initial_sections(plan: str) -> str:
    """Drop every "== Initial Plan ==" SECTION from an executed-plan
    string, by indentation.

    COUNTING RULE (executed mode): once an AdaptiveSparkPlan
    finalizes, toString() renders BOTH its "Final Plan" and its
    "Initial Plan" section, so a naive count sees every Exchange /
    join / scan twice (the r15 verdict's 214-key 2x reading against
    the static lockfile was exactly this).  A simple cut at the first
    marker is ALSO wrong: subquery AdaptiveSparkPlans nest inline
    inside the main Final section with their own Final/Initial pairs
    (sql_api_q11's string interleaves main-final > subquery-final >
    subquery-initial > main-final-continued > main-initial), so the
    cut dropped most of the real final plan and q11 read as a
    broadcast demotion.  Instead, skip each Initial section by
    indentation: the section spans from its marker line to the first
    line indented at or left of the marker.  Static mode renders a
    single section with no markers and passes through unchanged.
    """
    def depth(line: str) -> int:
        # tree depth = column of the first non-tree-drawing character;
        # the prefix alphabet is spaces plus the branch glyphs ": + -
        # |" (a nested subquery renders every line behind a ":" rail,
        # so plain leading-whitespace length misreads its depth).
        # Section content renders AT the marker's "==" column (first
        # child) or deeper (its subtree), so the section spans while
        # depth >= marker depth; the first shallower line — the
        # enclosing tree resuming — ends it.
        i = 0
        while i < len(line) and line[i] in " :+-|":
            i += 1
        return i

    out = []
    skip_depth: int | None = None
    for line in plan.splitlines():
        if skip_depth is not None:
            if line.strip() and depth(line) >= skip_depth:
                continue
            skip_depth = None  # section ended; re-process this line
        if "== Initial Plan ==" in line:
            skip_depth = depth(line)
            continue
        out.append(line)
    return "\n".join(out)


def shape_of(df, execute: bool = False) -> dict:
    if execute:
        # Materialize so AdaptiveSparkPlan finalizes; the collected
        # rows are discarded — only the plan is read.
        df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = strip_initial_sections(plan)
    scans = Counter(re.findall(r"(\w+)\.parquet", plan))
    joins = {n: len(re.findall(rf"\b{n}\b", plan)) for n in _JOIN_NODES}
    return {
        "exchanges": plan.count("Exchange "),
        "scans": dict(sorted(scans.items())),
        "joins": {k: v for k, v in joins.items() if v},
    }


def main() -> None:
    record = "--record" in sys.argv
    execute = "--execute" in sys.argv
    out_path = BUDGET_PATH
    for a in sys.argv[1:]:
        if a.startswith("--out="):
            out_path = a.split("=", 1)[1]
            if not os.path.isabs(out_path):
                out_path = os.path.join(REPO, out_path)
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        recommended_session_conf,
        session_cpus,
    )

    # engine-recommended session conf (codegen class cache sized to the
    # registry — STATIC, build-time only — plus UTC/AQE/Arrow): single
    # source of truth; see core.recommended_session_conf
    # 8 shuffle partitions at any session width: the lockfile was
    # recorded at 8
    builder = SparkSession.builder.master(f"local[{session_cpus()}]")
    for k, v in recommended_session_conf(8).items():
        builder = builder.config(k, v)
    spark = (
        builder.config("spark.ui.enabled", "false")
        .appName("plan_budget")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine

    engine.load_all()

    budget = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            budget = json.load(f)

    current, over, new_keys, errors = {}, [], [], []
    for key, fn in engine.QUERIES.items():
        if only and key not in only:
            continue
        try:
            current[key] = shape_of(fn(spark, sf_dir), execute=execute)
        except Exception as exc:
            errors.append(key)
            print(f"ERR  {key}: {str(exc)[:100]}")
            continue
        if key not in budget:
            new_keys.append(key)
            continue
        b, c = budget[key], current[key]
        overruns = []
        if c["exchanges"] > b["exchanges"]:
            overruns.append(f"exchanges {b['exchanges']} -> {c['exchanges']}")
        for tbl, n in c["scans"].items():
            if n > b["scans"].get(tbl, 0):
                overruns.append(f"{tbl} scans {b['scans'].get(tbl, 0)} -> {n}")
        # join-strategy drift (only when the budget recorded joins):
        # losing a broadcast or gaining a shuffle-side join is the
        # planner regression exchange counts can miss.
        bj, cj = b.get("joins"), c.get("joins", {})
        if bj is not None:
            if cj.get("BroadcastHashJoin", 0) < bj.get("BroadcastHashJoin", 0):
                overruns.append(
                    "BroadcastHashJoin "
                    f"{bj.get('BroadcastHashJoin', 0)} -> "
                    f"{cj.get('BroadcastHashJoin', 0)}"
                )
            for n in ("SortMergeJoin", "ShuffledHashJoin",
                      "BroadcastNestedLoopJoin"):
                if cj.get(n, 0) > bj.get(n, 0):
                    overruns.append(f"{n} {bj.get(n, 0)} -> {cj.get(n, 0)}")
        if overruns:
            over.append(key)
            print(f"OVER {key}: {'; '.join(overruns)}")

    if record or new_keys:
        merged = dict(budget)
        merged.update(current)
        with open(out_path, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)
        if new_keys:
            print(f"recorded {len(new_keys)} new keys")
        if record:
            print(f"lockfile refreshed: {len(merged)} keys")
    print(
        f"\n== {len(current) - len(over)} ok, {len(over)} over budget, "
        f"{len(new_keys)} new, {len(errors)} errors =="
    )
    if over and not record:
        sys.exit(1)


if __name__ == "__main__":
    main()
