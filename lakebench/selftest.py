"""Self-tests of the benchmark itself.

    python3 lakebench/selftest.py            # every test below
    python3 lakebench/selftest.py NAME ...   # just these

``seeded`` ``checks`` ``names`` need no Spark and take seconds.
``clean_exit`` ``sigterm`` ``bare`` ``repeat`` start the benchmark as a
child process in its own session and take minutes; they assert that
nothing the child started (JVM, ``pyspark.daemon`` workers) is alive
once it has returned.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE]

import gen  # noqa: E402
import metrics  # noqa: E402
from checks import Ops, check_ingest, check_query, check_silver, silver_expectation  # noqa: E402

FOLDERS = ["finance", "assets", "shared"]


def _norm_rows(cols, rows):
    # stand-in for tools/check_oracle.norm_rows: column-sorted, row-sorted
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted((tuple(r[i] for i in order) for r in rows), key=repr)


def _digest(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest() for f in sorted(os.listdir(d))}


def test_seeded() -> None:
    """Same seed → identical inputs; another seed → different ones."""
    def inputs(seed):
        lib = gen.library(seed, FOLDERS, 40)
        cur = {(f.folder, f.name): f for f in lib}
        changes = [gen.manifest(gen.change_set(seed, c, cur, FOLDERS, 0.1)) for c in range(4)]
        silver = gen.silver_seed(seed, 500, 2)
        batches = [sorted(gen.merge_batch(seed, b, silver, 10**8)["o_orderkey"]) for b in range(2)]
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".lakebench_out")) as d:
            gen.tables(seed, d, scale=0.05)
            tables = _digest(d)
        return gen.manifest(lib), changes, batches, tables

    a, b, c = inputs(1), inputs(1), inputs(2)
    assert a == b, "same seed gave different inputs"
    for i, part in enumerate(("library", "change sets", "merge batch keys", "tables")):
        assert a[i] != c[i], f"seeds 1 and 2 gave identical {part}"
    assert any(r[3] < gen.BASE_MTIME for r in a[1][3]), "cycle 3 lacks its backdated copy"


def test_checks() -> None:
    """A dropped or altered row fails its check and shows in failed_op_frac."""
    ops = Ops()
    cols, rows = ["k", "v"], [(1, "a"), (2, "b"), (3, "c")]
    from checks import result_hash

    want = result_hash(cols, rows, _norm_rows)
    assert ops.record("q", check_query(cols, list(reversed(rows)), want, _norm_rows))
    assert not ops.record("q", check_query(cols, rows[:2], want, _norm_rows))
    assert not ops.record("q", check_query(cols, [(1, "a"), (2, "b"), (3, "x")], want, _norm_rows))

    lib = gen.manifest(gen.library(3, FOLDERS, 5))
    assert ops.record("i", check_ingest(list(reversed(lib)), lib))
    assert not ops.record("i", check_ingest(lib[1:], lib))
    assert not ops.record("i", check_ingest(lib[:-1] + [lib[-1][:4] + ("0" * 64,)], lib))
    assert not ops.record("i", check_ingest(lib[:1], []))

    frame = gen.silver_seed(3, 200, 2)
    exp = silver_expectation(frame)
    good = [(y, n, n, s) for y, (n, s) in exp.items()]
    assert ops.record("m", check_silver(good, exp))
    y, n, _, s = good[0]
    assert not ops.record("m", check_silver([(y, n - 1, n - 1, s)] + good[1:], exp))
    assert not ops.record("m", check_silver([(y, n, n, s + Decimal("0.01"))] + good[1:], exp))
    assert not ops.record("m", check_silver([(y, n, n - 1, s)] + good[1:], exp))

    assert ops.attempted == 11 and ops.failed == 8, (ops.attempted, ops.failed)
    assert abs(ops.failed_frac - 8 / 11) < 1e-12


def test_names() -> None:
    """Every emitted name is well-formed and declared in BENCHMARK.json."""
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END, "BENCHMARK.json end_to_end differs from metrics.END_TO_END"
    assert layer == metrics.PER_LAYER, "BENCHMARK.json per_layer differs from metrics.PER_LAYER"
    assert len(layer) <= 128
    for n in list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]:
        assert metrics.NAME.fullmatch(n), n
    assert {w["name"] for w in bench["workloads"]} == set(__import__("workloads").WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()), "setup_s must carry the largest bound"


# --------------------------------------------------------------------------
# process tests


def _session_pids(sid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def _cmdline(pid: int) -> str:
    try:
        return open(f"/proc/{pid}/cmdline", "rb").read().replace(b"\0", b" ").decode(errors="replace")[:120]
    except OSError:
        return "?"


def _run(args: list[str], cwd: str = ROOT, sigterm_after_jvm: float | None = None, timeout: float = 300):
    """Run the benchmark in a new session; return (rc, stdout, leftovers)."""
    p = subprocess.Popen([sys.executable, "lakebench/run.py", *args], cwd=cwd, start_new_session=True,
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if sigterm_after_jvm is not None:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and not any("java" in _cmdline(q) for q in _session_pids(p.pid)):
            time.sleep(0.2)
        time.sleep(sigterm_after_jvm)
        p.send_signal(signal.SIGTERM)
    out, err = p.communicate(timeout=timeout)
    left = [(q, _cmdline(q)) for q in _session_pids(p.pid)]
    if p.returncode and sigterm_after_jvm is None:
        sys.stderr.write(err[-3000:])
    return p.returncode, out, left


def _last_json(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def test_clean_exit() -> None:
    """Smallest configuration, both modes: valid result, nothing left running."""
    for trace, names in ((1, metrics.PER_LAYER), (0, metrics.END_TO_END)):
        rc, out, left = _run(["--workload", "merge_silver", "--seed", "1", "--seconds", "1", "--trace", str(trace)])
        assert rc == 0, rc
        assert not left, f"left running: {left}"
        res = _last_json(out)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, set(res)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
        assert set(res["metrics"]) == set(names)
        assert all(v["unit"] == names[n] for n, v in res["metrics"].items())
    assert not os.path.exists(os.path.join(ROOT, ".lakebench_state"))


def test_sigterm() -> None:
    """SIGTERM mid-run: non-zero exit, no result, no process or state left."""
    t0 = time.monotonic()
    rc, out, left = _run(["--workload", "ingest_bronze", "--seed", "1", "--seconds", "10"], sigterm_after_jvm=8)
    assert rc != 0, "interrupted run exited 0"
    assert not out.strip().endswith("}"), "interrupted run printed a result"
    assert not left, f"left running: {left}"
    assert not os.path.exists(os.path.join(ROOT, ".lakebench_state"))
    print(f"  interrupted run ended {time.monotonic() - t0:.1f}s after start")


def test_bare() -> None:
    """Only BENCHMARK.json and the benchmark's files: fail fast, no result."""
    os.makedirs(os.path.join(ROOT, ".lakebench_out"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".lakebench_out")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "lakebench"), ignore=shutil.ignore_patterns("__pycache__"))
        t0 = time.monotonic()
        rc, out, left = _run(["--workload", "query_mix", "--seed", "1", "--seconds", "10"], cwd=d, timeout=180)
        assert rc != 0 and not out.strip(), (rc, out[-200:])
        assert not left, f"left running: {left}"
        assert time.monotonic() - t0 < 180


def test_repeat() -> None:
    """Two traced runs of one seed give identical per-layer counts."""
    exact = ("spark.jobs", "spark.tasks", "ingest.read_amp", "merge.write_amp", ".compiles",
             "files_landed", "bytes_landed", "log_files", "partitions_touched", "silver_files", "staged_builds")
    for wl in metrics_workloads():
        runs = []
        for _ in range(2):
            rc, out, left = _run(["--workload", wl, "--seed", "7", "--seconds", "1", "--trace", "1"])
            assert rc == 0 and not left, (rc, left)
            runs.append(_last_json(out)["metrics"])
        diff = {n: (runs[0][n]["value"], runs[1][n]["value"]) for n in runs[0]
                if n.endswith(exact) and runs[0][n]["value"] != runs[1][n]["value"]}
        assert not diff, f"{wl}: counts differ between runs: {diff}"


def metrics_workloads() -> list[str]:
    return [w["name"] for w in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]]


TESTS = {n[5:]: f for n, f in globals().items() if n.startswith("test_")}

if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".lakebench_out"), exist_ok=True)
    failed = 0
    for name in sys.argv[1:] or list(TESTS):
        t0 = time.monotonic()
        try:
            TESTS[name]()
            print(f"PASS {name} ({time.monotonic() - t0:.1f}s)", flush=True)
        except AssertionError as ex:
            failed += 1
            print(f"FAIL {name}: {ex}", flush=True)
    sys.exit(1 if failed else 0)
