"""run_ingest contracts not covered by the lifecycle tests in
test_operators.py: its Spark job budget, the ingestion log's files and
pinned schema, its time zone, and per-file dead-lettering (A-21)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

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
    """Control data must not cost Spark jobs: the delta and the log
    append run on the driver, so a no-op re-run launches none and a
    one-file change only the bronze landing.  Schema inference on an
    unpinned read, or a Spark pass over the log, breaks the budget."""
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    ingest.make_source_fixture(src)
    ingest.run_ingest(spark, src, bronze)
    log, noop = _jobs(spark, f"ingest-noop-{tmp_path.name}", lambda: ingest.run_ingest(spark, src, bronze))
    assert noop == 0, f"no-op run launched {noop} Spark jobs"
    n1 = log.count()

    changed = os.path.join(src, "shared", "notes.txt")
    with open(changed, "ab") as f:
        f.write(b" (amended)")
    os.utime(changed, (4102444800, 4102444800))
    log, change = _jobs(spark, f"ingest-change-{tmp_path.name}", lambda: ingest.run_ingest(spark, src, bronze))
    assert change <= 2, f"one-file change run launched {change} Spark jobs"
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


def _log_files(bronze: str) -> list[str]:
    return sorted(glob.glob(os.path.join(bronze, "_ingestion_log", "*.parquet")))


def test_landing_run_appends_one_log_file(spark, tmp_path):
    """Each landing run adds exactly one parquet file to the log, and a
    no-op run adds none."""
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    ingest.make_source_fixture(src)
    ingest.run_ingest(spark, src, bronze)
    assert len(_log_files(bronze)) == 1
    ingest.run_ingest(spark, src, bronze)
    assert len(_log_files(bronze)) == 1
    with open(os.path.join(src, "finance", "report_q3.csv"), "wb") as f:
        f.write(b"id,amount\n5,500\n")
    ingest.run_ingest(spark, src, bronze)
    assert len(_log_files(bronze)) == 2


def test_first_run_over_an_empty_library_returns_an_empty_log(spark, tmp_path):
    """A library with nothing to land returns an empty log, not a
    missing-path error; files that appear later ingest normally."""
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    log = ingest.run_ingest(spark, src, bronze)
    assert log.schema == spark.createDataFrame([], ingest.LOG_SCHEMA).schema
    assert log.collect() == []
    ingest.make_source_fixture(src)
    assert ingest.run_ingest(spark, src, bronze).count() == 9


def test_unreadable_log_raises_instead_of_reingesting(spark, tmp_path):
    """Only a missing log means "first run, ingest everything"; a log
    that exists but cannot be read fails the run, and nothing lands."""
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    ingest.make_source_fixture(src)
    os.makedirs(bronze)
    with open(os.path.join(bronze, "_ingestion_log"), "wb") as f:
        f.write(b"not a parquet log")
    with pytest.raises((OSError, ValueError)):  # IO or format error
        ingest.run_ingest(spark, src, bronze)
    assert not os.path.exists(os.path.join(bronze, "bronze_files"))


def test_log_part_written_by_spark_still_reads(spark, tmp_path):
    """A log whose existing part Spark wrote (INT96 ``ingested_at``, as
    earlier versions of the writer left it) still gives a no-op re-run
    and reads back as one log with the new parts; a leftover hidden
    temp file in the log directory is ignored."""
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    ingest.make_source_fixture(src)
    log_path = os.path.join(bronze, "_ingestion_log")
    rows = ingest.run_ingest(spark, src, bronze).collect()
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.createDataFrame(rows, ingest.LOG_SCHEMA).coalesce(1).write.mode("overwrite").parquet(log_path)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    (spark_part,) = _log_files(bronze)
    assert str(pq.read_schema(spark_part).field("ingested_at").type) == "timestamp[ns]"  # INT96
    with open(os.path.join(log_path, ".part-crashed.parquet.tmp"), "wb") as f:
        f.write(b"not parquet")

    log, noop = _jobs(spark, f"ingest-int96-{tmp_path.name}", lambda: ingest.run_ingest(spark, src, bronze))
    assert noop == 0 and log.count() == 9
    changed = os.path.join(src, "shared", "notes.txt")
    with open(changed, "ab") as f:
        f.write(b" (amended)")
    os.utime(changed, (4102444800, 4102444800))
    log = ingest.run_ingest(spark, src, bronze, run_ts="2024-06-02 09:00:00")
    assert len(_log_files(bronze)) == 2
    got = log.groupBy("ingested_at").count().collect()
    want = spark.range(1).select(
        F.to_timestamp(F.lit("2024-06-01 12:00:00")), F.to_timestamp(F.lit("2024-06-02 09:00:00"))
    ).first()
    assert {(r.ingested_at, r["count"]) for r in got} == {(want[0], 9), (want[1], 1)}


@pytest.mark.parametrize("tz", ["Asia/Kuala_Lumpur", "America/New_York", "+08:00"])
def test_log_times_follow_the_session_time_zone(spark, tmp_path, tz):
    """``ingested_at`` is ``to_timestamp(run_ts)`` and the archive
    prefix its ``date_format(.., 'ddMMyyHHmmss')``, both in the session
    time zone; a zone west of UTC still lands every file (the content
    scan's mtime watermark is read in UTC)."""
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    ingest.make_source_fixture(src)
    run_ts = "2024-06-01 12:00:00"
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        rows = ingest.run_ingest(spark, src, bronze, run_ts=run_ts).collect()
        ts = F.to_timestamp(F.lit(run_ts))
        want = spark.range(1).select(ts.alias("at"), F.date_format(ts, "ddMMyyHHmmss").alias("prefix")).first()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert {r.ingested_at for r in rows} == {want.at}
    assert {r.status for r in rows} == {"ingested"}
    names = [r.archive_name for r in rows if r.archive_name is not None]
    assert len(names) == 7
    assert all(n.startswith(want.prefix + "_") for n in names), names
