"""Phase-2 pipeline integration: job → ingest → dedupe → upsert → stats →
archive/quarantine, plus idempotency (SURVEY §5 strategy #2)."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from datapump_spark.jobspec import JobSpec, JobValidationError, scan_job_dir
from datapump_spark.sinks.upsert import ParquetMergeSink
from datapump_spark.streaming.pipeline import AUDIT_TABLE, Pipeline

FIXTURE_DIR = Path(__file__).parent / "data" / "iot"

JOB = {
    "InputFile": "",  # filled per-test
    "TargetOrg": "etl-test",
    "TargetPackage": "iot-test",
    "TargetResource": "air-quality",
    "PrimaryKey": "DateTime,Sensor_id",
    "Dedupe": "last",
    "Truncate": False,
    "Stats": [
        {"Kind": "descriptive"},
        {"Kind": "mode"},
        {"Kind": "H", "GroupBy": "Sensor_id", "DropColumns": "LAT,LONG"},
    ],
}


@pytest.fixture()
def env(tmp_path):
    inbox = tmp_path / "input"
    inbox.mkdir()
    for f in sorted(FIXTURE_DIR.glob("*.csv"))[:2]:
        shutil.copy(f, inbox / f.name)
    return {
        "inbox": inbox,
        "sink": ParquetMergeSink(tmp_path / "lake"),
        "processed": tmp_path / "processed",
        "problems": tmp_path / "problems",
    }


def make_pipeline(spark, env, **overrides):
    job = JobSpec.from_dict({**JOB, "InputFile": str(env["inbox"] / "*.csv"), **overrides})
    return Pipeline(spark, job, env["sink"], env["processed"], env["problems"]), job


def test_end_to_end(spark, env):
    pipe, job = make_pipeline(spark, env)
    result = pipe.run_available()

    assert len(result.processed) == 2 and not result.quarantined
    assert not list(env["inbox"].glob("*.csv"))          # queue drained
    assert len(list(env["processed"].glob("*.csv"))) == 2

    data = env["sink"].read(spark, "air-quality")
    # PK is unique after dedupe+upsert
    assert data.count() == data.select("DateTime", "Sensor_id").distinct().count()
    assert dict(data.dtypes)["DateTime"] == "timestamp"

    # stats tables written with the reference naming convention
    for t in ["air-quality-stats", "air-quality-mode", "air-quality-H"]:
        assert env["sink"].exists(t), t
    hourly = env["sink"].read(spark, "air-quality-H")
    assert "Sensor_id" in hourly.columns and "DateTime" in hourly.columns
    assert "LAT" not in hourly.columns                    # DropColumns applied

    audit = env["sink"].read(spark, AUDIT_TABLE)
    assert audit.where("ok").count() >= 2


@pytest.mark.slow
def test_idempotent_rerun(spark, env):
    pipe, job = make_pipeline(spark, env)
    pipe.run_available()
    before = env["sink"].read(spark, "air-quality").count()

    # re-queue the same file: upsert by PK must not grow the table
    reprocess = sorted(env["processed"].glob("*.csv"))[0]
    shutil.copy(reprocess, env["inbox"] / reprocess.name)
    result = pipe.run_available()
    assert result.processed
    after = env["sink"].read(spark, "air-quality").count()
    assert after == before


def test_quarantine_bad_file(spark, env):
    bad = env["inbox"] / "zone1_airquality_bad.csv"
    bad.write_text("This is not, a valid\nCSV for the job schema\n")
    # Stats=[] : the stats tables of the good-file path are already
    # covered by test_end_to_end; this test is about the routing.
    pipe, job = make_pipeline(spark, env, Stats=[])
    result = pipe.run_available()
    # bad file lands in problems/, good files still process
    assert any("bad" in p for p in result.quarantined)
    assert len(result.processed) == 2
    audit = env["sink"].read(spark, AUDIT_TABLE)
    assert audit.where("NOT ok").count() >= 1


def test_truncate_full_refresh(spark, env):
    pipe, job = make_pipeline(spark, env, Truncate=True, Stats=[])
    pipe.run_available()
    n1 = env["sink"].read(spark, "air-quality").count()
    # re-run the SAME files with truncate: table is rebuilt, not doubled
    for f in env["processed"].glob("*.csv"):
        shutil.copy(f, env["inbox"] / f.name)
    pipe.run_available()
    assert env["sink"].read(spark, "air-quality").count() == n1


def test_jobspec_validation():
    with pytest.raises(JobValidationError, match="missing required"):
        JobSpec.from_dict({"InputFile": "x"})
    with pytest.raises(JobValidationError, match="Dedupe"):
        JobSpec.from_dict({**JOB, "InputFile": "x", "Dedupe": "both"})
    with pytest.raises(JobValidationError, match="Kind"):
        JobSpec.from_dict({**JOB, "InputFile": "x",
                           "Stats": [{"Kind": "NOPE"}]})
    # '' dedupe accepted (reference honors it though its schema forbids it)
    job = JobSpec.from_dict({**JOB, "InputFile": "x", "Dedupe": ""})
    assert job.dedupe == ""
    assert job.stat_table_name(job.stats[0]) == "air-quality-stats"
    assert job.qualified_name == "etl-test-iot-test-air-quality"


def test_scan_job_dir(tmp_path):
    (tmp_path / "a-job.json").write_text("{}")
    (tmp_path / ".hidden-job.json").write_text("{}")
    (tmp_path / "notes.txt").write_text("")
    assert [p.name for p in scan_job_dir(tmp_path)] == ["a-job.json"]


def test_streaming_variant(spark, env, tmp_path):
    pipe, job = make_pipeline(spark, env, Stats=[])
    q = pipe.stream(tmp_path / "ckpt").start()
    q.awaitTermination(120)
    data = env["sink"].read(spark, "air-quality")
    assert data.count() > 0
    assert data.count() == data.select("DateTime", "Sensor_id").distinct().count()


def test_audit_append_only(spark, env):
    """N audit events land as appended part files in ONE table version —
    O(N) total audit I/O, not the O(N^2) read-union-rewrite (VERDICT r1)."""
    pipe, _ = make_pipeline(spark, env, Stats=[])
    pipe.run_available()
    audit_dir = env["sink"].path(AUDIT_TABLE)
    versions = [d for d in audit_dir.glob("v-*") if d.is_dir()]
    assert len(versions) == 1
    assert len(list(versions[0].glob("*.parquet"))) >= 2
    assert env["sink"].read(spark, AUDIT_TABLE).where("ok").count() >= 2


def test_one_csv_read_per_file_and_audit_counts(spark, tmp_path,
                                                 monkeypatch):
    """Each queue file is read once, and the audit's processed / dupes
    counts hold on a file with NULL-PK rows (NULL keys group together,
    as under distinct())."""
    from datapump_spark.streaming import pipeline

    calls = []
    real = pipeline.read_csv_raw
    monkeypatch.setattr(pipeline, "read_csv_raw",
                        lambda spark, path: calls.append(path)
                        or real(spark, path))
    inbox = tmp_path / "input"
    inbox.mkdir()
    (inbox / "a.csv").write_text("Id,Val\n1,a\n1,b\n,x\n,y\n2,z\n")
    (inbox / "b.csv").write_text("Id,Val\n3,c\n4,d\n")
    job = JobSpec.from_dict({
        "InputFile": str(inbox / "*.csv"),
        "TargetOrg": "o", "TargetPackage": "p", "TargetResource": "r",
        "PrimaryKey": "Id", "Dedupe": "last", "Truncate": False,
        "Stats": [{"Kind": "mode"}],
    })
    sink = ParquetMergeSink(tmp_path / "lake")
    Pipeline(spark, job, sink, tmp_path / "done",
             tmp_path / "bad").run_available()
    assert len(calls) == 2
    audit = {Path(r.file).name: (r.processed, r.dupes, r.ok, r.error)
             for r in sink.read(spark, AUDIT_TABLE).collect()}
    assert audit == {"a.csv": (5, 2, True, None),
                     "b.csv": (2, 0, True, None)}


def _write_overlap_files(inbox):
    import os
    import time as _time

    f1 = inbox / "a_old.csv"
    f1.write_text("Id,Val\n1,a\n1,b\n2,x\n")
    f2 = inbox / "b_new.csv"
    f2.write_text("Id,Val\n1,c\n")
    now = _time.time()
    os.utime(f1, (now - 100, now - 100))
    os.utime(f2, (now, now))


def test_streaming_multi_file_trigger_matches_batch(spark, tmp_path):
    """Two files sharing a PK inside ONE trigger: per-file dedupe + the
    newest file winning — identical to run_available's sequential result
    (ADVICE r1: previously depended on partition ordering)."""
    results = {}
    for mode in ("batch", "stream"):
        inbox = tmp_path / mode / "input"
        inbox.mkdir(parents=True)
        _write_overlap_files(inbox)
        sink = ParquetMergeSink(tmp_path / mode / "lake")
        job = JobSpec.from_dict({
            "InputFile": str(inbox / "*.csv"),
            "TargetOrg": "o", "TargetPackage": "p", "TargetResource": "r",
            "PrimaryKey": "Id", "Dedupe": "last", "Truncate": False,
            "Stats": [],
        })
        pipe = Pipeline(spark, job, sink, tmp_path / mode / "done",
                        tmp_path / mode / "bad")
        if mode == "batch":
            pipe.run_available()
        else:
            q = pipe.stream(tmp_path / mode / "ckpt").start()
            q.awaitTermination(120)
        results[mode] = {r.Id: r.Val for r in sink.read(spark, "r").collect()}

    assert results["batch"] == {1: "c", 2: "x"}
    assert results["stream"] == results["batch"]
