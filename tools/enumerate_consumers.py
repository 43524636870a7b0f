"""Mechanically enumerate which query keys consume the shared staging
and MERGE layers (the shared-infra staling rule's consumer set — see
__spark_entry__.py docstring rule 2).

Runs every registered key at sf0.001 with the staging/MERGE entry
points wrapped to record the current key.  Wrapping covers BOTH import
styles: the core module attributes (late `from ..core import ...`
inside function bodies rebinds per call) and every engine submodule's
already-bound module-level names.

Output: JSON {"staging": [keys...], "merge": [keys...]} on stdout.
Usage: python tools/enumerate_consumers.py [sf_dir]
       python tools/enumerate_consumers.py --window [sf_dir]

``--window`` additionally proposes the NEXT driver window: the
enumerated consumer set (only needed if this round edited the shared
staging/MERGE surface — drop them otherwise) padded to 50 slots with
the oldest driver verdicts from CORRECTNESS_r*.json (the verdict-age
rotation queue, oldest first).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine
    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.plans import merge as mm

    engine.load_all()

    state = {"key": None}
    staging_consumers: set[str] = set()
    merge_consumers: set[str] = set()

    def wrap(fn, sink: set):
        def inner(*a, **k):
            if state["key"]:
                sink.add(state["key"])
            return fn(*a, **k)

        inner.__wrapped_original__ = fn
        return inner

    staging_targets = {
        "staging_current": wrap(core.staging_current, staging_consumers),
        "stamp_staging": wrap(core.stamp_staging, staging_consumers),
        "staged_build": wrap(core.staged_build, staging_consumers),
        "read_staged": wrap(core.read_staged, staging_consumers),
    }
    merge_targets = {
        "read_table": wrap(mm.read_table, merge_consumers),
        "write_table": wrap(mm.write_table, merge_consumers),
        "merge_upsert": wrap(mm.merge_upsert, merge_consumers),
        "merge_upsert_partitioned": wrap(mm.merge_upsert_partitioned, merge_consumers),
        "merge_lease": wrap(mm.merge_lease, merge_consumers),
    }
    originals = {**{n: getattr(core, n) for n in staging_targets},
                 **{n: getattr(mm, n) for n in merge_targets}}
    # Patch the defining modules AND every submodule that bound the
    # names at import time.
    for n, w in staging_targets.items():
        setattr(core, n, w)
    for n, w in merge_targets.items():
        setattr(mm, n, w)
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if not name.startswith("ingest_sharepoint_file_to_fabric_lakehouse_spark") or mod in (core, mm):
            continue
        for n, orig in originals.items():
            if getattr(mod, n, None) is orig:
                setattr(mod, n, (staging_targets | merge_targets)[n])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('CHECK_CPUS') or core.session_cpus()}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("enumerate_consumers")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    errs = {}
    for key, fn in engine.QUERIES.items():
        state["key"] = key
        try:
            fn(spark, sf_dir).collect()
        except Exception as ex:  # pragma: no cover - diagnostics only
            errs[key] = repr(ex)[:200]
        state["key"] = None
    out = {
        "sf": sf_dir,
        "staging": sorted(staging_consumers),
        "merge": sorted(merge_consumers),
        "errors": errs,
    }
    if "--window" in sys.argv:
        out["window_proposal"] = _propose_window(
            sorted(staging_consumers | merge_consumers), list(engine.QUERIES)
        )
    print(json.dumps(out, indent=1))
    return 0


def _propose_window(consumers: list[str], all_keys: list[str]) -> dict:
    """Consumers first (pin only if the shared surface was edited this
    round), then the oldest driver verdicts until 50 slots are full."""
    import glob
    import re

    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", f).group(1))
        for k in json.load(open(f)):
            latest[k] = max(latest.get(k, 0), rnd)
    rotation = sorted(
        (k for k in all_keys if k not in set(consumers)),
        key=lambda k: (latest.get(k, 0), k),
    )
    window = (consumers + rotation)[:50]
    return {
        "window_50": window,
        "consumer_slots": min(len(consumers), 50),
        "rotation_slots": max(0, 50 - len(consumers)),
        "oldest_remaining": [
            {"key": k, "latest_verdict_round": latest.get(k, 0)}
            for k in rotation[max(0, 50 - len(consumers)):][:10]
        ],
    }


if __name__ == "__main__":
    raise SystemExit(main())
