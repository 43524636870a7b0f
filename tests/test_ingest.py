"""run_ingest contracts not covered by the lifecycle tests in
test_operators.py: its Spark job budget, the pinned ingestion-log
schema, and per-file dead-lettering (A-21)."""

from __future__ import annotations

import os

from ingest_sharepoint_file_to_fabric_lakehouse_spark.sources import ingest

EMPTY_SHA256 = "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"


def _jobs(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_job_budget(spark, tmp_path):
    """Control data must not cost Spark jobs: a no-op re-run is the
    delta's semi join (broadcast + collect), and a one-file change adds
    the bronze landing and the log append.  Schema inference on an
    unpinned read, or a second pass of the delta, breaks the budget."""
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    ingest.make_source_fixture(src)
    ingest.run_ingest(spark, src, bronze)
    log, noop = _jobs(spark, f"ingest-noop-{tmp_path.name}", lambda: ingest.run_ingest(spark, src, bronze))
    assert noop <= 2, f"no-op run launched {noop} Spark jobs"
    n1 = log.count()

    changed = os.path.join(src, "shared", "notes.txt")
    with open(changed, "ab") as f:
        f.write(b" (amended)")
    os.utime(changed, (4102444800, 4102444800))
    log, change = _jobs(spark, f"ingest-change-{tmp_path.name}", lambda: ingest.run_ingest(spark, src, bronze))
    assert change <= 6, f"one-file change run launched {change} Spark jobs"
    assert log.count() == n1 + 1


def test_ingestion_log_schema_matches_the_pinned_constant(spark, tmp_path):
    """Every reader pins LOG_SCHEMA, so a writer column that drifts
    would read back as nulls; the files as written must carry exactly
    the pinned names and types."""
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    ingest.make_source_fixture(src)
    ingest.run_ingest(spark, src, bronze)
    written = spark.read.parquet(os.path.join(bronze, "_ingestion_log")).schema
    pinned = spark.createDataFrame([], ingest.LOG_SCHEMA).schema
    assert [(f.name, f.dataType) for f in written] == [(f.name, f.dataType) for f in pinned]


def test_vanished_file_is_dead_lettered(spark, tmp_path, monkeypatch):
    """A listed file that is gone by the content scan lands with status
    ``error:missing-content`` and the empty-content sha256 (A-21); it
    does not fail the run, and every other file lands as ``ingested``."""
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    ingest.make_source_fixture(src)
    real = ingest.list_source_files

    def listing_with_ghost(root, folders):
        rows = real(root, folders)
        return rows + [
            {
                "file_name": "ghost.csv",
                "folder_name": "finance",
                "file_path": os.path.join(root, "finance", "ghost.csv"),
                "size_bytes": 12,
                "mtime_epoch": max(r["mtime_epoch"] for r in rows),
            }
        ]

    monkeypatch.setattr(ingest, "list_source_files", listing_with_ghost)
    log = ingest.run_ingest(spark, src, bronze)
    got = {
        (r.folder_name, r.file_name): (r.status, r.content_sha256)
        for r in log.select("folder_name", "file_name", "status", "content_sha256").collect()
    }
    assert got.pop(("finance", "ghost.csv")) == ("error:missing-content", EMPTY_SHA256)
    assert len(got) == 9
    assert {s for s, _ in got.values()} == {"ingested"}
