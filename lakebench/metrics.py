"""Metric names, units and the result line.

``END_TO_END`` and ``PER_LAYER`` are the single list of what a run may
print; BENCHMARK.json carries the same names (the self-test compares
them).  Every run prints every name of its mode.  A per-layer metric of
an operation the workload does not run reads 0 with 0 samples.

Which layer metric should move which end-to-end metric:

* Spark engine (``<op>.spark.*``, ``<op>.driver_s``) → ``cycle_cpu_s``
  on ingest_bronze and merge_silver, where fixed per-job cost dominates.
* sources.ingest (``ingest_*.ingest.*``): ``read_amp`` and ``log_files``
  → ``cycle_cpu_s`` on ingest_bronze.
* plans.merge (``merge_*.merge.*``): ``write_amp``, ``silver_files`` and
  the merges' ``driver_s`` → ``cycle_cpu_s`` on merge_silver.
* core / operators / functions (``query.<key>.*``): ``compiles`` and
  ``tasks`` → ``cycle_cpu_s`` on query_mix; ``core.staged_builds_setup``
  → ``setup_s`` on query_mix.

The wall time of a cycle is the per-layer ``cycle_s``; the traced run's
``trace.cycle_cpu_s`` minus the untraced ``cycle_cpu_s`` is the tracing
overhead.
"""

from __future__ import annotations

import re
import statistics

from workloads import QueryMix

END_TO_END = {
    "setup_s": "s",  # session start + median of the set-up rounds + warm-up
    # busy CPU time of the machine per rotation of the workload's
    # operations (mean over the run's rotations): the compute a cycle costs
    "cycle_cpu_s": "s",
}

_SPARK = {
    "s": "s", "spark.jobs": "count", "spark.tasks": "count", "spark.job_s": "s", "driver_s": "s",
    "spark.executor_cpu_s": "s", "spark.input_bytes": "B", "spark.output_bytes": "B",
    "spark.shuffle_write_bytes": "B",
}
SPARK_OPS = ["ingest_noop", "ingest_cycle", "merge_narrow", "merge_wide", "silver_read"]
_OP_LAYER = {
    "ingest_cycle": {"ingest.files_landed": "count", "ingest.bytes_landed": "B", "ingest.scan_bytes": "B",
                     "ingest.read_amp": "B/B", "ingest.log_files": "count"},
    "ingest_noop": {"ingest.scan_bytes": "B", "ingest.log_files": "count"},
    "merge_narrow": {"merge.partitions_touched": "count", "merge.bytes_written": "B", "merge.write_amp": "B/B",
                     "merge.silver_files": "count"},
    "merge_wide": {"merge.partitions_touched": "count", "merge.bytes_written": "B", "merge.write_amp": "B/B",
                   "merge.silver_files": "count"},
    "silver_read": {"merge.silver_files": "count"},
}
_QUERY = {"s": "s", "compiles": "count", "tasks": "count"}
_WORKLOAD = {
    "ingest_backfill.s": "s", "ingest_backfill.mb_per_s": "MB/s", "bronze.bytes_per_source_byte": "B/B",
    "merge.rows_per_s": "rows/s", "silver.bytes_per_row": "B/row",
    "core.staged_builds_setup": "count", "core.staged_builds": "count",
    "failed_op_frac": "ratio", "cycle_s": "s", "trace.cycle_cpu_s": "s", "trace.harvest_s_per_op": "s",
    "peak_rss_mb": "MB",  # driver VmHWM + its Spark JVM's VmHWM
}

PER_LAYER = {}
for _op in SPARK_OPS:
    PER_LAYER.update({f"{_op}.{m}": u for m, u in _SPARK.items()})
    PER_LAYER.update({f"{_op}.{m}": u for m, u in _OP_LAYER[_op].items()})
for _k in QueryMix.keys:
    PER_LAYER.update({f"query.{_k}.{m}": u for m, u in _QUERY.items()})
PER_LAYER.update(_WORKLOAD)

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _derived(op: str, c: dict) -> dict:
    """Layer ratios computed per operation, where the work happens."""
    out = {"s": c["wall_s"]}
    if op.startswith("ingest_"):
        out["ingest.scan_bytes"] = c["spark.input_bytes"]
        if c.get("ingest.bytes_landed"):
            out["ingest.read_amp"] = c["spark.input_bytes"] / c["ingest.bytes_landed"]
    if op.startswith("merge_"):
        out["merge.bytes_written"] = c["spark.output_bytes"]
        out["merge.write_amp"] = c["spark.output_bytes"] / c["merge.source_bytes"]
    if op.startswith("query."):
        out["tasks"] = c["spark.tasks"]
    return out


def per_layer(w, tracer, ops, cycles, cpu) -> dict:
    """name → (value, samples).  Operation metrics are medians over the
    run's rotations, whose work is fixed by the seed and ``--seconds``,
    so counts repeat exactly between runs of one seed."""
    samples: dict[str, list[float]] = {}
    for r in tracer.records:
        if r.rot < 0:
            continue
        c = dict(r.counts, wall_s=r.wall_s)
        c.update(_derived(r.op, c))
        for m, v in c.items():
            samples.setdefault(f"{r.op}.{m}", []).append(v)
    values = {n: (statistics.median(samples[n]), len(samples[n])) if n in samples else (0, 0) for n in PER_LAYER}
    values.update({n: (v, 1) for n, v in w.layer_metrics().items()})
    values["failed_op_frac"] = (ops.failed_frac, ops.attempted)
    values["cycle_s"] = (statistics.median(cycles), len(cycles))
    values["trace.cycle_cpu_s"] = (statistics.mean(cpu), len(cpu))
    values["trace.harvest_s_per_op"] = (tracer.harvest_s / max(1, len(tracer.records)), len(tracer.records))
    return values


def result(values: dict, ops, trace: bool) -> dict:
    units = PER_LAYER if trace else END_TO_END
    if set(values) != set(units):
        raise RuntimeError(f"metric set differs from the declared one: {sorted(set(values) ^ set(units))}")
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {n: {"value": float(values[n][0]), "unit": units[n]} for n in units},
        "_n": {n: values[n][1] for n in units},
    }


def print_table(m: dict, n: dict) -> None:
    for name, v in m.items():
        print(f"# {name:<48} {v['value']:>16.6g} {v['unit']:<7} n={n[name]}")
