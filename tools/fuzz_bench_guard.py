"""Randomized stress sweep for bench.interleaved_reruns (v10.1 guard).

The committed hypothesis property (tests/test_bench_guard.py) runs 60
derandomized examples so the suite tally reproduces across machines;
this tool is the OPT-IN heavy sweep — N random single-stall episodes
(default 3000) against the simulated host, any seed — used during the
r15 guard iterations (three 3000-example sweeps, 0 failures each).

Checks the same invariant as the property: for any single contiguous
stall episode, every key's median stays within 1.5x its true cost,
OR the guard honestly reports still_hot > 0 (episode outlived the
resample retries — recorded, not laundered).

Usage: python tools/fuzz_bench_guard.py [N] [SEED]
Exit 1 on any violated invariant (prints the falsifying shape).
"""

from __future__ import annotations

import random
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import bench  # noqa: E402
from test_bench_guard import SimHost, _medians  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260816
    rnd = random.Random(seed)
    fails = escapes = 0
    tot_flag = 0
    for i in range(n):
        n_keys = rnd.randint(5, 40)
        start = rnd.uniform(0, 60)
        dur = rnd.uniform(1, 60)
        factor = rnd.uniform(2.5, 8.0)
        pe = rnd.randint(3, 25)
        keys = [f"k{j:02d}" for j in range(n_keys)]
        host = SimHost(
            {k: 1.0 for k in keys}, stall_from=start, stall_to=start + dur, factor=factor
        )
        samples, errors, meta = bench.interleaved_reruns(
            keys,
            host.measure,
            host.probe,
            probe_every=pe,
            prior_quiet_probe=host.probe_cost,  # as bench.main wires it
        )
        assert not errors
        tot_flag += meta["flagged"]
        if meta["still_hot"]:
            escapes += 1
            continue
        med = _medians({k: 1.0 for k in keys}, samples)
        bad = {k: m for k, m in med.items() if m >= 1.5}
        if bad:
            fails += 1
            print(
                f"FAIL n_keys={n_keys} start={start:.2f} dur={dur:.2f} "
                f"factor={factor:.2f} probe_every={pe}: {bad} (meta {meta})"
            )
            if fails > 5:
                break
    print(
        f"{n} episodes, seed {seed}: {fails} failures, {escapes} honest "
        f"still_hot escapes, mean flagged {tot_flag / max(n, 1):.1f}"
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
