"""Regression gate: the COMMITTED BENCH_FULL.json must never ship
stall-contaminated (r14 verdict ask #6).

r13 shipped a driver artifact whose rerun ranks 24-55 were inflated
2-6x by one contiguous host stall; `tools/bench_contamination_check.py`
makes that shape mechanical to detect, but as a manual tool it only
protects the rounds where someone remembers to run it.  This test runs
it on every `pytest tests/` invocation, so a contaminated artifact
fails CI the moment it would be committed.

Also pins the tool's CLI arg parsing (ADVICE r14 low #1: the space
form `--threshold 1.8` leaked its value token into the positionals and
crashed on json.load).
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
sys.path.insert(0, ROOT)

import bench_contamination_check as bcc  # noqa: E402

ARTIFACT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_FULL.json")


def test_committed_bench_artifact_is_uncontaminated():
    if not os.path.exists(ARTIFACT):
        pytest.skip("no BENCH_FULL.json committed yet")
    flagged, lines = bcc.check(ARTIFACT, threshold=1.8)
    assert not flagged, (
        "committed BENCH_FULL.json carries the r13 stall signature — "
        "do not ship this artifact:\n" + "\n".join(lines)
    )


def test_parse_args_space_form_threshold_does_not_leak_into_positionals():
    path, thr = bcc.parse_args(["--threshold", "1.8"])
    assert thr == 1.8
    assert path == bcc.DEFAULT_ARTIFACT  # NOT "1.8"


def test_parse_args_equals_form_and_positional():
    path, thr = bcc.parse_args(["--threshold=2.5", "/x/y.json"])
    assert (path, thr) == ("/x/y.json", 2.5)
    path, thr = bcc.parse_args(["/x/y.json", "--threshold", "3.0"])
    assert (path, thr) == ("/x/y.json", 3.0)
    path, thr = bcc.parse_args([])
    assert (path, thr) == (bcc.DEFAULT_ARTIFACT, 1.8)


def test_parse_args_rejects_unknown_flag_and_extra_positional():
    with pytest.raises(SystemExit):
        bcc.parse_args(["--bogus"])
    with pytest.raises(SystemExit):
        bcc.parse_args(["a.json", "b.json"])


def test_parse_args_threshold_bad_value_is_a_clean_usage_error():
    """ADVICE r15: a trailing `--threshold` with no value crashed with a
    raw StopIteration, a non-numeric one with a raw ValueError; both
    must be the same clean SystemExit the other bad inputs raise."""
    with pytest.raises(SystemExit, match="threshold"):
        bcc.parse_args(["--threshold"])
    with pytest.raises(SystemExit, match="threshold"):
        bcc.parse_args(["--threshold", "abc"])
    with pytest.raises(SystemExit, match="threshold"):
        bcc.parse_args(["--threshold=abc"])


def test_committed_drift_bands_match_recomputation():
    """r15 verdict ask #4: bench.py records the per-decile s2/s1+s3/s1
    drift medians into the artifact at write time; the recorded list
    must equal a fresh band_stats() recomputation from `samples` —
    anything else means the artifact's drift summary is stale/forged."""
    import json

    if not os.path.exists(ARTIFACT):
        pytest.skip("no BENCH_FULL.json committed yet")
    d = json.load(open(ARTIFACT))
    if "drift_bands" not in d:
        pytest.skip("pre-r16 artifact: drift_bands not yet recorded")
    assert d["drift_bands"] == bcc.band_stats(d)


def test_jit_retimed_records_are_well_formed():
    """Protocol v10.2: a timed pass-1 that janino-compiled fresh
    classes is re-measured once and recorded under jit_retimed.  Each
    record must carry the full audit tuple, and a retime that itself
    compiled MORE classes than the contaminated pass would mean a
    per-execution-source plan — flag it for investigation rather than
    letting the artifact normalize it."""
    import json

    if not os.path.exists(ARTIFACT):
        pytest.skip("no BENCH_FULL.json committed yet")
    d = json.load(open(ARTIFACT))
    if "jit_retimed" not in d:
        pytest.skip("pre-v10.2 artifact")
    for key, rec in d["jit_retimed"].items():
        assert rec["classes"] > 0, key
        if rec.get("steady_state_compile"):
            # v10.3: the WARM exec compiled too — compilation is
            # per-execution steady state for this key, so no retime
            # happened (it would only have re-measured the same thing);
            # the record documents the event instead
            assert rec["warm_compiled"] > 0, key
            continue
        assert {"classes", "contaminated_sec", "retimed_sec", "retime_compiled"} <= set(rec), key
        assert rec["retime_compiled"] <= rec["classes"] + 4, (
            f"{key}: retime compiled MORE classes than the pass it replaced "
            f"({rec}) — per-execution generated source, investigate"
        )


def test_parallel_calibration_probes_are_recorded():
    """Protocol v10.3 (r16 verdict item 2): the artifact must carry the
    multi-task (shuffle) calibration probe alongside the scalar one —
    three positive samples whose median is the recorded calib_par_sec —
    so a host episode that degrades parallel work while CPU clock stays
    flat is visible in the committed JSON."""
    import json
    import statistics

    if not os.path.exists(ARTIFACT):
        pytest.skip("no BENCH_FULL.json committed yet")
    d = json.load(open(ARTIFACT))
    if d.get("protocol", {}).get("version", 0) < 10.3:
        pytest.skip("pre-v10.3 artifact")
    probes = d["calib_par_probes"]
    assert len(probes) == 3 and all(p > 0 for p in probes), probes
    assert d["calib_par_sec"] == statistics.median(probes)
    assert d["cpus"] > 0


def test_prewarm_record_is_not_inside_the_cold_map():
    """ADVICE r15: the staged-frame prewarm record must live in its own
    top-level `prewarm` field — a pseudo-key inside the per-query cold
    map breaks consumers iterating cold entries as query names."""
    import json

    if not os.path.exists(ARTIFACT):
        pytest.skip("no BENCH_FULL.json committed yet")
    d = json.load(open(ARTIFACT))
    if "prewarm" not in d:
        pytest.skip("pre-r16 artifact: prewarm field not yet recorded")
    assert "__staged_frame_prewarm__" not in d.get("cold", {})
    for rec in d["prewarm"].values():
        assert {"build_pass_sec", "built", "sf", "ts", "source"} <= set(rec)


def test_check_flags_a_synthetic_contaminated_artifact(tmp_path):
    """End-to-end through check(): 30 keys whose reruns are uniformly
    3x the first pass must produce flagged bands; the same artifact
    with warm reruns must not."""
    import json

    hot = {
        "samples": {f"k{i:02d}": [1.0, 3.0, 3.1] for i in range(30)},
        "episode_guard": {"flagged": 0, "resampled": 0, "still_hot": 0},
        "protocol": {"version": 10.1},
    }
    p = tmp_path / "hot.json"
    p.write_text(json.dumps(hot))
    flagged, _ = bcc.check(str(p))
    assert flagged, "uniform 3x rerun inflation must be flagged"

    cool = dict(hot)
    cool["samples"] = {f"k{i:02d}": [1.0, 0.9, 0.95] for i in range(30)}
    p2 = tmp_path / "cool.json"
    p2.write_text(json.dumps(cool))
    flagged, _ = bcc.check(str(p2))
    assert not flagged
