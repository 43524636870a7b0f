"""Regenerate __spark_entry__.py's _DRIVER_VERIFIED and _WINDOW_50
blocks for the round-16 window.

Window composition (50 slots), per the r15 verdict's ask #1 and the
standing staleness rules (module docstring of __spark_entry__.py):

* CONSUMER PINS — keys whose executed code this round's edits touched:
  NONE in r16.  The round's engine diff is ``recommended_session_conf``
  (a new core.py function consumed only by the harnesses — bench,
  conftest, check_oracle, plan_budget; no registered query calls it)
  plus harness/tool changes, so no query's executed code changed and
  the staleness policy pins nothing.
* AGE ROTATIONS — all 50 slots go to the OLDEST latest-verdict keys,
  sorted (verdict round, key): after r15 the histogram floor is r09:8,
  then r10:43, so the window is the 8 r09 keys + the first 42 r10
  keys, moving the post-r16 floor to r10.

_DRIVER_VERIFIED is regenerated as (all registered keys) - (window):
every key has a green verdict on record, and window membership is what
marks a verdict as being re-earned this round.

Usage: python tools/gen_entry_window.py [--check]
  --check: print the proposed window and exit without writing.
"""

from __future__ import annotations

import json
import os
import re
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# r16 (optimization round): every key whose EXECUTED code this round's
# optimization edits touch — 14 direct query-body rewrites, the
# conf-dirty mark in join_runtime_bloom, and the mechanical reader set
# of the staged layouts whose write sites changed (enumerated by
# instrumenting core.read_staged over the full registry; see
# OPTIMIZATION_r16.md).  core.prep's memoization is value-identical
# for every caller (same pins, fewer round trips) — adjudicated under
# the r14 _lease_keeper precedent, not staled.
CONSUMER_PINS: list[str] = [
    # r17 optimization-touched keys (query-body rewrites, checkpoint
    # restructures, and every consumer of a re-laid-out staged
    # artifact — bm25 tf/df, LSH truth tables, cdp canon/sigs,
    # lm_docbg, minhash/PPJoin build widths)
    "agg_heavy_hitters_exact", "corpus_dedup_keep_best",
    "corpus_dedup_pipeline", "corpus_quality_pipeline",
    "dedup_containment", "dedup_fuzzy_minhash",
    "dedup_incremental_minhash", "dedup_jaccard_prefix",
    "dedup_lsh_eval", "dedup_minhash_dup_witness",
    "dedup_minhash_pipeline_witness", "dedup_simhash_stats",
    "graph_label_propagation", "graph_link_prediction",
    "graph_triangle_count", "join_runtime_bloom", "search_bm25",
    "search_hybrid_rrf", "sim_lsh_dup_witness", "sim_lsh_recall_eval",
    "sim_pq_adc_topk", "sim_topk_ivfpq", "sink_merge_partitioned",
    "sql_api_q2", "text_boilerplate_ratio", "text_lm_quality",
    # keys whose executed code changed after that window was cut:
    # ingest_pipeline (driver-side delta and log append, new log file
    # layout), graph_bfs_reachability (visited-union checkpoint removed)
    # and sink_delta_merge (REBALANCE-clustered merge writes)
    "graph_bfs_reachability", "ingest_pipeline", "sink_delta_merge",
]

WINDOW_SIZE = 50


def latest_verdicts() -> dict[str, int]:
    import glob

    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(f.split("_r")[1].split(".")[0])
        for k, v in json.load(open(f)).items():
            if isinstance(v, dict):
                latest[k] = rnd
    return latest


def fmt_block(name: str, items: list[str], braces: str) -> str:
    body = ", ".join(f'"{k}"' for k in items)
    wrapped = textwrap.fill(
        body, width=74, initial_indent="    ", subsequent_indent="    "
    )
    o, c = braces
    return f"{name} = {o}\n{wrapped},\n{c}"


def main() -> int:
    import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine

    engine.load_all()
    keys = set(engine.QUERIES)
    latest = latest_verdicts()
    # pins lead; the rest of the window is the oldest-verdict rotation
    # queue, (round, key)-sorted so the floor rises monotonically
    queue = sorted(
        (k for k in latest if k not in CONSUMER_PINS),
        key=lambda k: (latest[k], k),
    )
    window = CONSUMER_PINS + queue[: WINDOW_SIZE - len(CONSUMER_PINS)]
    assert len(set(window)) == len(window), "window has duplicate keys"
    assert len(window) <= WINDOW_SIZE, f"window overflow: {len(window)}"
    missing = [k for k in window if k not in keys]
    assert not missing, f"window keys not in registry: {missing}"
    verified = sorted(keys - set(window))
    if "--check" in sys.argv:
        rot = window[len(CONSUMER_PINS) :]
        print(
            json.dumps(
                {
                    "window": window,
                    "n_verified": len(verified),
                    "rotation_rounds": sorted({latest[k] for k in rot}),
                    "post_round_floor": min(
                        [latest[k] for k in keys if k not in window] or [99]
                    ),
                },
                indent=1,
            )
        )
        return 0

    path = os.path.join(ROOT, "__spark_entry__.py")
    src = open(path).read()
    src = re.sub(
        r"_DRIVER_VERIFIED = \{.*?\n\}",
        fmt_block("_DRIVER_VERIFIED", verified, "{}"),
        src,
        count=1,
        flags=re.S,
    )
    src = re.sub(
        r"_WINDOW_50 = \[.*?\n\]",
        fmt_block("_WINDOW_50", window, "[]"),
        src,
        count=1,
        flags=re.S,
    )
    open(path, "w").write(src)
    print(f"wrote {path}: window={len(window)} verified={len(verified)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
