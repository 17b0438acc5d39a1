"""Manifest semantics on the driver: latest status wins per key by
committed_at, job_ids sharing one directory stay apart, files written by
the per-day pandas writer of earlier versions read alongside per-batch
files, and resume / summary reads launch no Spark job."""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd

from addax_spark.manifest import Manifest, UnitMetrics


def _jobs_launched(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    out = fn()
    return out, sched.nextJobId() - j0


def _legacy_append(path: str, job_id: str, key: str, status: str, m: UnitMetrics | None = None):
    """One row in one file, the way the per-day pandas writer stored it
    (failed rows leave every metric column null)."""
    vals = vars(m) if m else dict.fromkeys(vars(UnitMetrics()))
    pdf = pd.DataFrame(
        [{"job_id": job_id, "partition_key": key, "status": status, **vals,
          "committed_at": pd.Timestamp.utcnow().tz_localize(None)}]
    )
    pdf["committed_at"] = pdf["committed_at"].astype("datetime64[us]")
    pdf.to_parquet(os.path.join(path, f"m-{time.time_ns()}-{uuid.uuid4().hex[:8]}.parquet"), index=False)


def test_empty_dir(spark, tmp_path):
    man = Manifest(spark, str(tmp_path / "_manifest"), "j")
    assert man.done_keys() == set()
    assert man.metrics_summary() == {
        "units": 0, "rows_read": 0, "chunks_encoded": 0, "bytes_raw": 0, "bytes_compressed": 0,
    }
    assert man.read().count() == 0


def test_latest_status_wins(spark, tmp_path):
    man = Manifest(spark, str(tmp_path / "_manifest"), "j")
    # done -> failed -> done: done, counted once with the latest metrics
    man.mark_done("a", UnitMetrics(10, 1, 160, 20))
    man.mark_failed("a")
    assert "a" not in man.done_keys()
    man.mark_done("a", UnitMetrics(11, 2, 176, 30))
    # failed -> done
    man.mark_failed("b")
    man.mark_done_batch({"b": UnitMetrics(5, 1, 80, 9), "c": UnitMetrics(7, 1, 112, 12)})
    # done -> failed
    man.mark_done("d", UnitMetrics(100, 9, 1600, 200))
    man.mark_failed("d")

    assert man.done_keys() == {"a", "b", "c"}
    assert man.metrics_summary() == {
        "units": 3, "rows_read": 23, "chunks_encoded": 4, "bytes_raw": 368, "bytes_compressed": 51,
    }
    # one file per commit: 7 commits, the batch of two days in one file
    assert len([f for f in os.listdir(man.path) if f.endswith(".parquet")]) == 7
    assert man.read().count() == 8


def test_jobs_sharing_a_directory(spark, tmp_path):
    path = str(tmp_path / "_manifest")
    one, two = Manifest(spark, path, "one"), Manifest(spark, path, "two")
    one.mark_done_batch({"2025-01-01": UnitMetrics(3, 1, 48, 5), "2025-01-02": UnitMetrics(4, 1, 64, 6)})
    two.mark_done("2025-01-01", UnitMetrics(30, 2, 480, 50))
    two.mark_failed("2025-01-02")
    one.mark_failed("2025-01-01")

    assert one.done_keys() == {"2025-01-02"}
    assert two.done_keys() == {"2025-01-01"}
    assert one.metrics_summary()["rows_read"] == 4
    assert two.metrics_summary()["rows_read"] == 30
    assert Manifest(spark, path, "three").done_keys() == set()


def test_legacy_per_day_files_mixed_with_batch_files(spark, tmp_path):
    path = str(tmp_path / "_manifest")
    os.makedirs(path)
    _legacy_append(path, "j", "2025-01-01", "done", UnitMetrics(3, 1, 48, 5, 0.5))
    _legacy_append(path, "j", "2025-01-02", "failed")
    _legacy_append(path, "j", "2025-01-03", "done", UnitMetrics(4, 1, 64, 6, 0.5))
    man = Manifest(spark, path, "j")
    assert man.done_keys() == {"2025-01-01", "2025-01-03"}
    # a new batch file overrides the legacy failed and done rows
    man.mark_done_batch({"2025-01-02": UnitMetrics(7, 2, 112, 9)})
    man.mark_failed("2025-01-03")
    _legacy_append(path, "j", "2025-01-04", "done", UnitMetrics(1, 1, 16, 2))

    assert man.done_keys() == {"2025-01-01", "2025-01-02", "2025-01-04"}
    assert man.metrics_summary() == {
        "units": 3, "rows_read": 11, "chunks_encoded": 4, "bytes_raw": 176, "bytes_compressed": 16,
    }
    got = man.read().filter("status = 'failed'").select("partition_key").collect()
    assert sorted(r.partition_key for r in got) == ["2025-01-02", "2025-01-03"]


def test_reads_launch_no_spark_job(spark, tmp_path):
    man = Manifest(spark, str(tmp_path / "_manifest"), "j")
    for i in range(20):
        man.mark_done(f"2025-01-{i + 1:02d}", UnitMetrics(i, 1, 16 * i, i))
    keys, n_jobs = _jobs_launched(spark, man.done_keys)
    assert len(keys) == 20 and n_jobs == 0
    summary, n_jobs = _jobs_launched(spark, man.metrics_summary)
    assert summary["rows_read"] == sum(range(20)) and n_jobs == 0
