"""Job driver + manifest/resume (FIXTURES.md F4) and retention tests:
interrupt after a strict subset of units, rerun, require identical tier
tables to an uninterrupted run, no duplicate partitions, and per-unit
lineage metrics. Then age tiers out and compact."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from addax_spark import retention, synth
from addax_spark.job import RollupJobSpec, run


@pytest.fixture(scope="module")
def raw_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("jobraw") / "transcripts.parquet")
    synth.transcripts(spark, n_convs=40, avg_turns=30).write.parquet(p)
    return p


def _table(spark, root, tier):
    return (
        spark.read.parquet(f"{root}/tiers")
        .filter(f"tier = '{tier}'")
        .drop("date", "tier")
    )


def test_interrupt_resume_identical(spark, raw_path, tmp_path_factory):
    out_a = str(tmp_path_factory.mktemp("job_uninterrupted"))
    out_b = str(tmp_path_factory.mktemp("job_interrupted"))

    full = run(spark, RollupJobSpec(raw_path, out_a, job_id="full"))
    assert full["units"] == full["units_total"] > 1
    assert full["rows_read"] > 0 and full["bytes_compressed"] > 0

    # interrupted: only 2 units, then resume with the SAME job_id
    part = run(spark, RollupJobSpec(raw_path, out_b, job_id="resume", max_units=2))
    assert part["units"] == 2
    resumed = run(spark, RollupJobSpec(raw_path, out_b, job_id="resume"))
    assert resumed["units_skipped_resume"] == 2
    assert resumed["units"] == full["units"]

    for tier in ["1m", "5m", "1h", "1d"]:
        a, b = _table(spark, out_a, tier), _table(spark, out_b, tier)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier

    # re-running a completed job is a no-op (idempotent)
    again = run(spark, RollupJobSpec(raw_path, out_b, job_id="resume"))
    assert again["units_skipped_resume"] == again["units_total"]
    assert again["units"] == full["units"]

    # lineage: per-unit metrics cover every turn exactly once
    total_turns = spark.read.parquet(raw_path).count()
    assert resumed["rows_read"] == total_turns
    assert resumed["bytes_raw"] == 16 * total_turns


def test_job_tiers_match_direct_rollup(spark, raw_path, tmp_path_factory):
    from addax_spark.operators.rollup import rollup_all_tiers

    out = str(tmp_path_factory.mktemp("job_direct"))
    run(spark, RollupJobSpec(raw_path, out, job_id="direct"))
    raw = spark.read.parquet(raw_path)
    direct = rollup_all_tiers(raw)
    for tier in ["1m", "1d"]:
        got = _table(spark, out, tier)
        exp = direct[tier]
        assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0, tier


def test_salted_writes_knob_identical_output(spark, raw_path, tmp_path_factory):
    """salted_writes=True (pre-r5 bounded-fan-in topology) and the default
    shuffle-free write produce identical tier tables, and the salted layout
    honors the files-per-directory bound."""
    out_u = str(tmp_path_factory.mktemp("job_unsalted"))
    out_s = str(tmp_path_factory.mktemp("job_salted"))
    run(spark, RollupJobSpec(raw_path, out_u, job_id="u"))
    run(spark, RollupJobSpec(raw_path, out_s, job_id="s", salted_writes=True))
    for tier in ["1m", "1d"]:
        a, b = _table(spark, out_u, tier), _table(spark, out_s, tier)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier
    from addax_spark.job import _WRITE_SALT

    troot = f"{out_s}/tiers/tier=1m"
    for d in os.listdir(troot):
        if d.startswith("date="):
            n = len([f for f in os.listdir(f"{troot}/{d}") if f.endswith(".parquet")])
            assert n <= _WRITE_SALT, (d, n)


def test_retention_expire_and_compact(spark, raw_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("job_retention"))
    run(spark, RollupJobSpec(raw_path, out, job_id="ret"))
    dates = retention.list_date_partitions(retention.tier_root(out, "1m"))
    assert len(dates) > 1
    # pretend "now" is far enough that the oldest 1m partition ages out but 1d stays
    now = dt.date.fromisoformat(dates[0]) + dt.timedelta(days=31)
    dropped = retention.expire(out, now, {"1m": 30, "1d": None})
    assert dropped.get("1m") == [dates[0]]
    assert retention.list_date_partitions(retention.tier_root(out, "1m")) == dates[1:]
    assert retention.list_date_partitions(retention.tier_root(out, "1d")) != []  # untouched

    # the ladder: expired date served by a coarser tier
    assert retention.finest_available_tier(out, dt.date.fromisoformat(dates[0]), now,
                                           {"1m": 30, "5m": None, "1h": None, "1d": None}) == "5m"

    # compaction: same rows, fewer files
    root = retention.tier_root(out, "1h")
    before = spark.read.parquet(root).drop("date").cache()
    n_before = before.count()
    nfiles_before = sum(len([f for f in os.listdir(os.path.join(root, p)) if f.endswith(".parquet")])
                        for p in os.listdir(root) if p.startswith("date="))
    assert retention.compact(spark, out, "1h") > 0
    after = spark.read.parquet(root).drop("date")
    nfiles_after = sum(len([f for f in os.listdir(os.path.join(root, p)) if f.endswith(".parquet")])
                       for p in os.listdir(root) if p.startswith("date="))
    assert after.count() == n_before
    assert before.exceptAll(after).count() == 0
    assert nfiles_after <= nfiles_before
    before.unpersist()


def test_date_partitioned_input_discovery(spark, raw_path, tmp_path_factory):
    """date=-partitioned input: units come from a partition LISTING (no data
    scan) and per-unit filters partition-prune; outputs identical to the
    flat-layout run."""
    from addax_spark.job import list_date_partitions

    part_in = str(tmp_path_factory.mktemp("jobraw_part") / "t")
    raw = spark.read.parquet(raw_path)
    raw.withColumn("date", F.to_date("ts")).write.partitionBy("date").parquet(part_in)

    listed = list_date_partitions(spark, part_in)
    exp_days = sorted(
        r.d.isoformat() for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert listed == exp_days
    assert list_date_partitions(spark, raw_path) is None  # flat layout -> fallback

    out_flat = str(tmp_path_factory.mktemp("job_flat"))
    out_part = str(tmp_path_factory.mktemp("job_part"))
    run(spark, RollupJobSpec(raw_path, out_flat, job_id="flatrun"))
    res = run(spark, RollupJobSpec(part_in, out_part, job_id="partrun"))
    assert res["units"] == len(exp_days)
    for tier in ["1m", "1d"]:
        a, b = _table(spark, out_flat, tier), _table(spark, out_part, tier)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tier


def test_zero_chunk_batch_reads_metrics_with_explicit_schema(spark, tmp_path):
    """A listed unit with zero rows (empty date= partition dir) encodes zero
    chunks; its batch's empty partitionBy write leaves no parquet files, and
    the per-day metrics read-back must not die on schema inference (ADVICE
    r5): explicit schema -> empty frame -> zero metrics, and later real
    batches still complete with correct tiers."""
    part_in = str(tmp_path / "t")
    raw = synth.transcripts(spark, n_convs=6, avg_turns=8)
    raw.withColumn("date", F.to_date("ts")).write.partitionBy("date").parquet(part_in)
    # an EARLIER, empty partition: sorts first, so with unit_batch=1 the
    # zero-row unit is the FIRST batch (chunks dir has no files yet)
    os.makedirs(os.path.join(part_in, "date=2024-12-01"))

    out = str(tmp_path / "out")
    res = run(spark, RollupJobSpec(part_in, out, job_id="z", unit_batch=1))
    n_days = raw.select(F.to_date("ts")).distinct().count()
    assert res["units"] == n_days + 1
    assert res["rows_read"] == raw.count()  # empty unit contributed zero

    from addax_spark.operators.rollup import rollup_all_tiers

    exp = rollup_all_tiers(raw)["1m"]
    got = _table(spark, out, "1m")
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_compact_recovers_orphaned_bak(spark, tmp_path):
    """Crash recovery for the compact swap (ADVICE r4): a partition left only
    as hidden .bak_date=<d> (death between the two renames) is restored before
    planning; a stale bak whose live dir exists (death after the swap) is
    dropped in favor of the newer compacted copy."""
    import shutil

    out = str(tmp_path / "ret")
    root = retention.tier_root(out, "1h")
    df = spark.createDataFrame(
        [(f"c{i}", dt.date(2024, 1, 1 + i % 3), i) for i in range(30)],
        "conv_id string, date date, n long",
    )
    df.repartition(2).write.partitionBy("date").parquet(root)
    dates = retention.list_date_partitions(root)
    assert len(dates) == 3
    full = spark.read.parquet(root)
    exp = sorted((r.conv_id, r.n) for r in full.collect())

    # simulate a crash mid-swap: one partition exists only as .bak
    victim = dates[0]
    os.rename(os.path.join(root, f"date={victim}"),
              os.path.join(root, f".bak_date={victim}"))
    assert retention.list_date_partitions(root) == dates[1:]  # invisible

    # and a stale bak beside a live (newer) partition
    stale = dates[1]
    shutil.copytree(os.path.join(root, f"date={stale}"),
                    os.path.join(root, f".bak_date={stale}"))

    assert retention.compact(spark, out, "1h") == 3  # all three live again
    assert retention.list_date_partitions(root) == dates
    assert not any(p.startswith(".bak_date=") for p in os.listdir(root))
    got = sorted((r.conv_id, r.n) for r in spark.read.parquet(root).collect())
    assert got == exp  # no rows lost or duplicated through recovery + compact


def _day_rows(spark, day: str):
    """synth's 2025-01-01 turns moved to ``day``, time of day kept."""
    d0 = dt.date(2025, 1, 1)
    shift = (dt.date.fromisoformat(day) - d0).days
    return (
        synth.transcripts(spark, n_convs=6, avg_turns=8)
        .filter(F.to_date("ts") == F.lit(d0))
        .withColumn("ts", F.col("ts") + F.make_interval(days=F.lit(shift)))
    )


def test_empty_dir_mid_batch(spark, tmp_path):
    """An empty date= dir (only a _SUCCESS marker) between two real days of
    one batch: the batch reads only the dirs holding data, the empty day is
    done with zero metrics, and tiers match a direct rollup."""
    from addax_spark.manifest import Manifest
    from addax_spark.operators.rollup import rollup_all_tiers

    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    for day in ("2025-02-01", "2025-02-03"):
        _day_rows(spark, day).write.parquet(f"{inp}/date={day}")
    os.makedirs(f"{inp}/date=2025-02-02")
    open(f"{inp}/date=2025-02-02/_SUCCESS", "w").close()

    res = run(spark, RollupJobSpec(inp, out, job_id="mid"))
    raw = spark.read.parquet(f"{inp}/date=2025-02-01", f"{inp}/date=2025-02-03")
    assert res["units"] == res["units_total"] == 3
    assert res["rows_read"] == raw.count() > 0
    rows = {
        r.partition_key: r
        for r in Manifest(spark, f"{out}/_manifest", "mid").read().collect()
    }
    assert rows.keys() == {"2025-02-01", "2025-02-02", "2025-02-03"}
    assert all(r.status == "done" for r in rows.values())
    empty = rows["2025-02-02"]
    assert (empty.rows_read, empty.chunks_encoded, empty.bytes_raw, empty.bytes_compressed) == (0, 0, 0, 0)
    for tier in ["1m", "1d"]:
        got, exp = _table(spark, out, tier), rollup_all_tiers(raw)[tier]
        assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0, tier


def _tasks_per_job(spark, fn) -> list[int]:
    """Run ``fn``; the tasks each Spark job it launched ran (a stage reused
    by a later job counts once, in the job that ran it)."""
    sc = spark.sparkContext
    sched = sc._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    fn()
    # the status store is fed by the listener bus: let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, seen, tasks = sc.statusTracker(), set(), []
    for j in range(j0, sched.nextJobId()):
        n = 0
        for sid in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and sid not in seen:
                seen.add(sid)
                n += info.numCompletedTasks + info.numFailedTasks
        tasks.append(n)
    return tasks


def test_increment_cost_independent_of_history(spark, tmp_path):
    """One new day against 3 and against 40 completed days launches the same
    Spark jobs and tasks (no listing of, or manifest scan over, the
    history), no job is larger than the batch's days x shuffle partitions,
    and the day's manifest metrics equal an aggregate of its written chunks."""
    import shutil

    from addax_spark.manifest import Manifest, UnitMetrics

    template, new_day = "2025-01-01", "2025-03-01"
    # the cascade's fixed repartition count stays under the bound below
    spec = lambda inp, out: RollupJobSpec(inp, out, job_id="daily", n_partitions=4)  # noqa: E731
    costs = {}
    for n_hist in (3, 40):
        inp, out = str(tmp_path / f"in{n_hist}"), str(tmp_path / f"out{n_hist}")
        _day_rows(spark, template).write.parquet(f"{inp}/date={template}")
        first = run(spark, spec(inp, out))
        # the rest of the history: hard-linked copies of the template day's
        # input, chunk and tier partitions, one manifest row per day
        man = Manifest(spark, f"{out}/_manifest", "daily")
        unit = UnitMetrics(first["rows_read"], first["chunks_encoded"], first["bytes_raw"],
                           first["bytes_compressed"])
        dirs = [f"{inp}/date={{}}", f"{out}/chunks/date={{}}"] + [
            f"{out}/tiers/tier={t}/date={{}}" for t in ["1m", "5m", "1h", "1d"]]
        for i in range(1, n_hist):
            d = (dt.date.fromisoformat(template) + dt.timedelta(days=i)).isoformat()
            for pattern in dirs:
                shutil.copytree(pattern.format(template), pattern.format(d), copy_function=os.link)
            man.mark_done(d, unit)
        _day_rows(spark, new_day).write.parquet(f"{inp}/date={new_day}")

        costs[n_hist] = _tasks_per_job(spark, lambda: run(spark, spec(inp, out)))

        got = {
            r.partition_key: r
            for r in man.read().filter(F.col("partition_key") == new_day).collect()
        }[new_day]
        exp = (
            spark.read.parquet(f"{out}/chunks")
            .filter(F.col("date") == F.lit(dt.date.fromisoformat(new_day)))
            .agg(F.count("*").alias("nc"), F.sum("n_points").alias("np"),
                 F.sum("bytes_raw").alias("br"), F.sum("bytes_enc").alias("be"))
            .collect()[0]
        )
        assert got.status == "done"
        assert (got.rows_read, got.chunks_encoded, got.bytes_raw, got.bytes_compressed) == (
            exp.np, exp.nc, exp.br, exp.be)
        assert got.rows_read == spark.read.parquet(f"{inp}/date={new_day}").count() > 0

    assert len(costs[3]) == len(costs[40]), costs
    assert sum(costs[3]) == sum(costs[40]), costs
    bound = 1 * int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert max(costs[40]) <= bound, costs
    # one tier write for all tiers, one chunk write, no per-tier action: a
    # Spark job added back per tier or per batch fails here
    assert len(costs[40]) <= 5, costs


@pytest.mark.parametrize(
    "kw",
    [{"tiers": []}, {"tiers": ["1h", "5m"]}, {"tiers": ["1m", "1m"]}, {"tiers": ["1m", "1w"]},
     {"chunk_tier": "2d"}],
    ids=["empty", "descending", "repeated", "unknown", "chunk_tier"],
)
def test_spec_rejects_invalid_tiers(kw):
    """A tier list the cascade cannot merge exactly (or an unknown chunk
    tier) fails at spec construction, not as silently wrong buckets."""
    with pytest.raises(ValueError):
        RollupJobSpec("in", "out", **kw)


def test_spec_rejects_non_dividing_tier_widths(monkeypatch):
    """Increasing widths are not enough: a 7m bucket is no merge of 5m ones."""
    from addax_spark.operators import bucketize

    monkeypatch.setitem(bucketize.TIERS, "7m", 420)
    RollupJobSpec("in", "out", tiers=["1m", "7m"])
    with pytest.raises(ValueError):
        RollupJobSpec("in", "out", tiers=["5m", "7m"])


def test_chunk_write_failure_marks_batch_failed(spark, raw_path, tmp_path, monkeypatch):
    """A failing chunk write (the background writer) fails the run after the
    writer has finished: every day of the batch is marked failed and no
    writer thread is left running; a rerun completes those days."""
    import threading

    from addax_spark import job
    from addax_spark.manifest import Manifest
    from addax_spark.operators.rollup import rollup_all_tiers

    raw = spark.read.parquet(raw_path)
    days = sorted(r.d.isoformat() for r in raw.select(F.to_date("ts").alias("d")).distinct().collect())
    spec = RollupJobSpec(raw_path, str(tmp_path / "out"), job_id="fail", unit_batch=len(days))

    real_encode = job.encode_chunks

    def failing_encode(*args, **kwargs):
        chunks = real_encode(*args, **kwargs)
        return chunks.withColumn("bytes_enc", F.raise_error(F.lit("chunk write failed")).cast("long"))

    monkeypatch.setattr(job, "encode_chunks", failing_encode)
    with pytest.raises(Exception, match="chunk write failed"):
        run(spark, spec)
    latest = Manifest(spark, f"{spec.output_root}/_manifest", "fail")._latest()
    assert sorted(latest["partition_key"]) == days
    assert set(latest["status"]) == {"failed"}
    assert not [t.name for t in threading.enumerate() if t.name.startswith("chunk-write")]

    monkeypatch.setattr(job, "encode_chunks", real_encode)
    res = run(spark, spec)
    assert res["units"] == len(days) and res["units_skipped_resume"] == 0
    assert res["rows_read"] == raw.count()
    for tier, exp in rollup_all_tiers(raw).items():
        got = _table(spark, spec.output_root, tier)
        assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0, tier
