"""Synthetic-stall tests for bench.py's v10 rerun sampler.

The r13 driver bench was contaminated by one contiguous multi-minute
host stall episode during the rerun phase: v9 took a key's two reruns
back-to-back, so the episode inflated BOTH reruns of every key it
covered (2-6x) and the median-of-3 became the stall.  These tests run
:func:`bench.interleaved_reruns` against a simulated clock with an
injected stall window and assert both defenses work:

* interleaving alone keeps the median clean (the episode can cover a
  key in at most one pass), and
* the episode guard flags + resamples the samples taken inside the
  window, so even the flagged samples end up quiet.

No Spark session: `measure`/`probe` are injected fakes, which is
exactly why the sampler is a pure module-level function.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


class SimHost:
    """A host whose wall clock stalls (everything runs ``factor`` x
    slower) inside ``[stall_from, stall_to)`` of simulated time."""

    def __init__(self, true_cost, stall_from, stall_to, factor=4.0):
        self.t = 0.0
        self.true_cost = dict(true_cost)
        self.stall_from = stall_from
        self.stall_to = stall_to
        self.factor = factor
        self.probe_cost = 0.1

    def _run(self, base: float) -> float:
        dt = base * (self.factor if self.stall_from <= self.t < self.stall_to else 1.0)
        self.t += dt
        return dt

    def measure(self, key: str) -> float:
        return self._run(self.true_cost[key])

    def probe(self) -> float:
        return self._run(self.probe_cost)


def _medians(first_pass, rr_samples):
    out = {}
    for k, fp in first_pass.items():
        got = sorted([fp] + rr_samples[k])
        out[k] = got[len(got) // 2]
    return out


def test_episode_mid_pass_medians_survive():
    # 40 keys x 1s: each pass is ~40s of simulated time (plus probes).
    # Stall the middle of pass 2 (t in [10, 30)) at 4x — the window v9
    # demonstrably could not survive when it hit both reruns.
    keys = [f"k{i:02d}" for i in range(40)]
    cost = {k: 1.0 for k in keys}
    host = SimHost(cost, stall_from=10.0, stall_to=30.0, factor=4.0)
    # the first-pass phase is separate in the real bench and not under
    # test: model it as quiet true costs, so the stall window lands
    # entirely inside the rerun phase (the r13 failure shape)
    first_pass = dict(cost)
    samples, errors, meta = bench.interleaved_reruns(
        keys, host.measure, host.probe, probe_every=10
    )
    assert not errors
    assert meta["flagged"] > 0, "a 20s 4x stall must trip the guard"
    assert meta["resampled"] == meta["flagged"]
    # every flagged sample was re-measured after the window: no key's
    # MEDIAN may retain the stall
    med = _medians(first_pass, samples)
    for k, m in med.items():
        assert m < 1.5 * cost[k], f"{k} median {m} kept the stall"


def test_interleaving_alone_protects_median_when_guard_misses():
    # Disable the guard (huge factor threshold): a stall covering half
    # of pass 2 inflates ONE sample per affected key, and the median of
    # [first, s2, s3] still lands on a clean sample — the property the
    # back-to-back v9 protocol lacked by construction.
    keys = [f"k{i:02d}" for i in range(30)]
    cost = {k: 1.0 for k in keys}
    host = SimHost(cost, stall_from=5.0, stall_to=20.0, factor=5.0)
    first_pass = dict(cost)  # quiet first-pass phase (see above)
    samples, errors, meta = bench.interleaved_reruns(
        keys, host.measure, host.probe, probe_every=10, episode_factor=1e9
    )
    assert not errors and meta["flagged"] == 0
    med = _medians(first_pass, samples)
    for k, m in med.items():
        assert m < 1.5 * cost[k], f"{k} median {m} kept the stall"
    # sanity: the stall really did land on some samples
    assert any(v > 2.0 for vs in samples.values() for v in vs)


def test_back_to_back_counterfactual_fails_where_v10_passes():
    # Document WHY the protocol changed: replay the same stall against
    # the v9 shape (both reruns of a key taken consecutively) and show
    # the median keeps the stall for keys inside the window.
    keys = [f"k{i:02d}" for i in range(30)]
    cost = {k: 1.0 for k in keys}
    host = SimHost(cost, stall_from=5.0, stall_to=20.0, factor=5.0)
    first_pass = dict(cost)  # quiet first-pass phase (see above)
    v9_samples = {}
    for k in keys:
        v9_samples[k] = [host.measure(k), host.measure(k)]  # back-to-back
    med = _medians(first_pass, v9_samples)
    assert any(m > 2.0 for m in med.values()), (
        "the counterfactual should show contaminated medians; if this "
        "ever fails the stall window no longer covers any key twice"
    )


def test_resample_still_hot_is_counted_not_hidden():
    # A stall that outlives the passes AND the resamples: the guard
    # must record still_hot > 0 so the artifact shows the episode was
    # not laundered.
    keys = [f"k{i:02d}" for i in range(10)]
    cost = {k: 1.0 for k in keys}
    host = SimHost(cost, stall_from=3.0, stall_to=1e9, factor=5.0)
    samples, errors, meta = bench.interleaved_reruns(
        keys, host.measure, host.probe, probe_every=5
    )
    assert not errors
    assert meta["flagged"] > 0
    assert meta["still_hot"] > 0


def test_measure_error_stops_further_passes_and_keeps_partials():
    keys = ["a", "b", "c"]
    calls = {"b": 0}

    def measure(key):
        if key == "b":
            calls["b"] += 1
            raise RuntimeError("boom")
        return 1.0

    samples, errors, meta = bench.interleaved_reruns(
        keys, measure, lambda: 0.1, probe_every=100
    )
    assert "b" in errors and calls["b"] == 1, "an errored key must not rerun"
    assert samples["a"] == [1.0, 1.0] and samples["c"] == [1.0, 1.0]
    assert samples["b"] == []


def test_flagged_sample_whose_resample_errors_is_nulled():
    # Review finding (r14): a stall-flagged sample whose resample
    # errors must NOT survive into a clean-looking 3-sample median —
    # the sampler nulls it so the caller's partial/min path takes over.
    keys = ["a", "b"]
    cost = {k: 1.0 for k in keys}
    host = SimHost(cost, stall_from=0.5, stall_to=2.5, factor=5.0)
    calls = {"n": 0}

    def measure(key):
        calls["n"] += 1
        if calls["n"] > 4:  # both passes done: fail every resample
            raise RuntimeError("resample boom")
        return host.measure(key)

    samples, errors, meta = bench.interleaved_reruns(
        keys, measure, host.probe, probe_every=1
    )
    assert meta["flagged"] > 0 and meta["resampled"] == 0
    assert errors  # the resample failures are reported
    # every FLAGGED sample whose resample errored must be None — never
    # a live hot value that a 3-sample median would launder.  (A hot
    # sample the probe window missed entirely — key b here, its sample
    # straddles the episode's end — is the interleaving's job: with a
    # quiet first pass its median still lands on a clean sample.)
    assert samples["a"][0] is None, samples["a"]
    for k in keys:
        clean = [v for v in samples[k] if v is not None and v < 1.5]
        assert clean, f"{k}: no usable quiet sample left: {samples[k]}"
        got = sorted([1.0] + [v for v in samples[k] if v is not None])
        assert got[len(got) // 2] < 1.5, f"{k}: median kept the stall"


def test_probe_failures_never_abort_the_phase():
    # Review finding (r14): the probe is a real job that can fail
    # transiently; a failing probe must not kill the rerun phase, and
    # all-baseline-failure disables the guard rather than raising.
    keys = [f"k{i}" for i in range(6)]

    def bad_probe():
        raise RuntimeError("probe boom")

    samples, errors, meta = bench.interleaved_reruns(
        keys, lambda k: 1.0, bad_probe, probe_every=2
    )
    assert not errors
    assert meta["baseline_sec"] is None and meta["flagged"] == 0
    assert all(samples[k] == [1.0, 1.0] for k in keys)

    # mid-phase flake: baseline OK, every checkpoint probe fails ->
    # windows are unjudgeable (not flagged), phase completes, the
    # probe log records the failures as -1.0
    flake = {"n": 0}

    def flaky_probe():
        flake["n"] += 1
        if flake["n"] > 3:  # after the 3 baseline probes
            raise RuntimeError("probe boom")
        return 0.1

    samples, errors, meta = bench.interleaved_reruns(
        keys, lambda k: 1.0, flaky_probe, probe_every=2
    )
    assert not errors and meta["flagged"] == 0
    assert meta["baseline_sec"] == 0.1
    assert meta["probes"] and all(p == -1.0 for p in meta["probes"])


def test_stall_spanning_baseline_probes_is_still_caught():
    """The r14 verdict's falsifying example, pinned as a plain test: a
    stall ALREADY IN PROGRESS when the phase starts used to become the
    v10 baseline (min of 3 phase-start probes), silently disabling the
    guard (flagged=0, still_hot=0) while both interleaved passes of a
    short key list sat inside the episode.  v10.1's run-wide-minimum
    retro-judgment must catch it WITHOUT any prior seed: the
    post-episode probes recover the quiet reference and the hot
    windows are re-judged against it."""
    keys = [f"k{i:02d}" for i in range(5)]
    cost = {k: 1.0 for k in keys}
    host = SimHost(cost, stall_from=0.0, stall_to=17.0, factor=3.0)
    samples, errors, meta = bench.interleaved_reruns(
        keys, host.measure, host.probe, probe_every=3
    )
    assert not errors
    assert meta["flagged"] > 0, f"guard stayed blind: {meta}"
    assert meta["baseline_sec"] == 0.1, "run-wide min must be the QUIET speed"
    med = _medians({k: 1.0 for k in keys}, samples)
    bad = {k: m for k, m in med.items() if m >= 1.5}
    assert not bad, f"stalled-baseline episode leaked into medians: {bad} ({meta})"


def test_noisy_quiet_host_does_not_mass_flag():
    """Overflag regression (r15): the probe job's own quiet
    distribution in a long session spans ~2.4x with NO host stall
    (JIT ramp + post-heavy-key JVM state; the live r15 run measured
    checkpoint probes decaying 0.38 -> 0.16 s).  A strict run-wide-min
    reference read the lucky 0.156 s tail as "quiet" and flagged 220
    of 514 healthy samples — 90+ seconds of wasted resamples and an
    alarmist artifact.  The p25 reference must keep flagging NEAR ZERO
    on this exact shape while the stall tests above keep proving the
    episodes still get caught."""
    keys = [f"k{i:02d}" for i in range(40)]
    cost = {k: 1.0 for k in keys}
    host = SimHost(cost, stall_from=-1.0, stall_to=-1.0, factor=1.0)  # no stall
    # replay the measured decay: early probes ~2.2x the late floor
    seq = [0.34, 0.33, 0.35, 0.31, 0.29, 0.24, 0.21, 0.2, 0.18, 0.17] + [0.16] * 20
    it = iter(seq)

    def noisy_probe():
        try:
            base = next(it)
        except StopIteration:
            base = 0.16
        return host._run(base)

    samples, errors, meta = bench.interleaved_reruns(
        keys, host.measure, noisy_probe, probe_every=10, prior_quiet_probe=0.3
    )
    assert not errors
    total = sum(len(v) for v in samples.values())
    assert meta["flagged"] <= total * 0.1, (
        f"quiet-host probe noise mass-flagged {meta['flagged']}/{total}: {meta}"
    )


def test_few_probes_reference_is_never_the_strict_min():
    """ADVICE r15: plain n//4 indexes the smallest probe whenever 4 or
    fewer pass probes succeeded — a strict min, exactly what the p25
    exists to prevent.  Model heavy probe failure: only the 3 baseline
    probes succeed, one of them a lucky 4x-fast outlier.  The reference
    must NOT be the outlier (which would flag every healthy window)."""
    keys = [f"k{i}" for i in range(12)]
    seq = iter([0.05, 0.2, 0.2])  # lucky outlier + two honest probes

    def probe():
        try:
            return next(seq)
        except StopIteration:
            raise RuntimeError("probe infra down")  # every later probe fails

    samples, errors, meta = bench.interleaved_reruns(
        keys, lambda k: 1.0, probe, probe_every=4
    )
    assert not errors
    assert meta["baseline_sec"] == 0.2, (
        f"reference degraded to the lucky strict-min probe: {meta}"
    )
    assert meta["flagged"] == 0


def test_single_probe_defers_to_prior_seed():
    """With exactly ONE successful pass probe, the reference must be the
    prior quiet seed (a single probe is a strict min by construction);
    without a seed the lone probe is still admitted — better than
    disabling the guard outright."""
    keys = ["a", "b", "c"]

    def one_probe_factory():
        state = {"n": 0}

        def probe():
            state["n"] += 1
            if state["n"] == 1:
                return 0.05  # lone (lucky) probe
            raise RuntimeError("probe infra down")

        return probe

    _, _, meta = bench.interleaved_reruns(
        keys, lambda k: 1.0, one_probe_factory(), probe_every=2,
        prior_quiet_probe=0.2,
    )
    assert meta["baseline_sec"] == 0.2, meta

    _, _, meta = bench.interleaved_reruns(
        keys, lambda k: 1.0, one_probe_factory(), probe_every=2
    )
    assert meta["baseline_sec"] == 0.05, meta  # evidence of last resort


from hypothesis import example, given, settings, strategies as st  # noqa: E402


@given(
    n_keys=st.integers(5, 40),
    start=st.floats(0.0, 60.0),
    dur=st.floats(1.0, 60.0),
    factor=st.floats(2.5, 8.0),
    probe_every=st.integers(3, 25),
)
# the r14 verdict's falsifying example (stall spans the phase-start
# baseline probes — v10's blind spot), pinned so the property checks
# it on EVERY run instead of depending on hypothesis' seed
@example(n_keys=5, start=0.0, dur=17.0, factor=3.0, probe_every=3)
# and the harder shape: a stall covering the ENTIRE pass phase
# including every in-pass probe — only the prior-quiet seed (or the
# still_hot escape) can handle it
@example(n_keys=5, start=0.0, dur=60.0, factor=8.0, probe_every=3)
@settings(max_examples=60, deadline=None, derandomize=True)
def test_property_single_stall_never_owns_a_median(
    n_keys, start, dur, factor, probe_every
):
    """For ANY single contiguous stall episode — including one already
    in progress at phase start (the v10 blind spot) or spanning the
    whole pass phase — v10.1's interleaving + run-wide-min guard must
    keep every key's median within 1.5x its true cost (quiet first
    passes).  The sampler is driven exactly as bench.main drives it:
    with a prior quiet seed from earlier in the session.  The one
    shape excluded by construction is an episode persisting through
    the post-phase resamples — that is exactly what ``still_hot``
    reports, so the property conditions on still_hot == 0.
    ``derandomize=True`` (r14 verdict ask #2): the builder's and the
    judge's runs must check the SAME examples, so the suite tally is
    reproducible across machines."""
    keys = [f"k{i:02d}" for i in range(n_keys)]
    cost = {k: 1.0 for k in keys}
    host = SimHost(cost, stall_from=start, stall_to=start + dur, factor=factor)
    samples, errors, meta = bench.interleaved_reruns(
        keys,
        host.measure,
        host.probe,
        probe_every=probe_every,
        prior_quiet_probe=host.probe_cost,  # models bench.main's early micro probe
    )
    assert not errors
    if meta["still_hot"]:
        return  # episode outlived the retries — reported, not laundered
    med = _medians({k: 1.0 for k in keys}, samples)
    bad = {k: m for k, m in med.items() if m >= 1.5}
    assert not bad, (
        f"stall [{start:.1f},{start + dur:.1f}) x{factor:.1f} "
        f"probe_every={probe_every} leaked into medians: {bad} (meta {meta})"
    )


def test_full_artifact_path_is_per_cpus(tmp_path):
    """v10.3 (r16 verdict item 2): a run at a different core count than
    the canonical BENCH_FULL.json must write a per-cpus sidecar (and
    read its own prior), never clobber the canonical map; same-cpus and
    legacy (no cpus field) priors keep canonical ownership."""
    import json
    import bench

    base = str(tmp_path)
    # no prior at all -> canonical
    p, prior = bench.full_artifact_path(base, 32)
    assert p.endswith("BENCH_FULL.json") and prior == {}
    # canonical prior at 32 cores
    (tmp_path / "BENCH_FULL.json").write_text(json.dumps({"cpus": 32, "queries": {"k": 1.0}}))
    p, prior = bench.full_artifact_path(base, 32)
    assert p.endswith("BENCH_FULL.json") and prior["queries"] == {"k": 1.0}
    # 8-core sweep -> sidecar, with ITS OWN prior
    p8, prior8 = bench.full_artifact_path(base, 8)
    assert p8.endswith("BENCH_FULL.c8.json") and prior8 == {}
    (tmp_path / "BENCH_FULL.c8.json").write_text(json.dumps({"cpus": 8, "queries": {"k": 4.0}}))
    p8, prior8 = bench.full_artifact_path(base, 8)
    assert p8.endswith("BENCH_FULL.c8.json") and prior8["queries"] == {"k": 4.0}
    # legacy prior without cpus field keeps canonical ownership
    (tmp_path / "BENCH_FULL.json").write_text(json.dumps({"queries": {"k": 2.0}}))
    p, prior = bench.full_artifact_path(base, 8)
    assert p.endswith("BENCH_FULL.json") and prior["queries"] == {"k": 2.0}
