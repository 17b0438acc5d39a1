"""Rollup job driver: spec -> resumable, day-partitioned pipeline run.

The Spark-native re-expression of the reference's job lifecycle
(core/.../job/JobContainer.java:106-189: preHandle -> init -> prepare ->
split -> schedule -> post). Here:

- "split" = day-aligned work units (a day boundary is also a 1m/5m/1h/1d
  bucket boundary and a chunk boundary, so per-day processing is exact);
  at cluster scale the day filter is a partition-pruned scan of the
  Iceberg/parquet `date(ts)` layout.
- "schedule" = Spark's scheduler; per unit the tier cascade runs over ONE
  colocating shuffle on hash(conv_id) (every (conv_id, bucket) grouping is
  then exchange-free — plans.partitioning.colocate_by_series), the chunk
  encode keeps its own column-pruned arrange shuffle, and every write
  action runs on a background thread so driver-serial segments (planning,
  commit, stragglers) overlap the next stage's parallel compute.
- "failover" = the manifest: a rerun skips 'done' units and rewrites only
  its own partitions (dynamic partition overwrite -> idempotent).
- "metrics" = per-unit rows_read / chunks_encoded / bytes_raw /
  bytes_compressed rows in the manifest (the reference's Communication
  counters, CommunicationTool.java:30-120), counted per day by an
  Observation on the chunk write itself (no read-back of the written
  chunks) and committed as one manifest file per batch.

Per-run driver cost is O(batch), not O(history): a date-partitioned input
is read only at the batch's ``date=`` directories, and the manifest is read
on the driver with pyarrow, so neither resume nor the summary lists or
scans the completed days.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .manifest import Manifest, UnitMetrics
from .operators.rollup import rollup_cascade_step, rollup_from_raw
from .operators.bucketize import TIER_ORDER
from .operators.gorilla import encode_chunks

from .plans.partitioning import colocate_by_series, partitions_for_bytes

#: writer-task fan-out per (tier, date) output cell (files per dir bound)
_WRITE_SALT = 8


@dataclass
class RollupJobSpec:
    input_path: str
    output_root: str
    tiers: list[str] = field(default_factory=lambda: list(TIER_ORDER))
    chunk_tier: str = "1d"
    job_id: str = ""
    # colocate=True pre-shuffles FULL raw rows once and CACHES them so every
    # tier + the chunk encode read one shared exchange. Measured at 6M turns
    # / local[8]: the raw-row cache materialization costs MORE (50s) than
    # per-consumer pruned shuffles — and caching raw is impossible at 100 TB.
    # Default False; the TIER CASCADE still gets an uncached conv_id
    # repartition (cheap: replaces the 1m agg's own exchange and makes every
    # cascade step exchange-free), while the chunk encode keeps its own
    # column-pruned arrange shuffle. True remains for small hot slices.
    colocate: bool = False
    n_partitions: int | None = None
    value_expr: str = "length(text)"
    order_cols: tuple[str, ...] = ("ts", "turn_idx")
    max_units: int | None = None  # for tests: stop after N units (resume later)
    # days per checkpoint batch: one dynamic-partition-overwrite write set
    # covers the whole batch (amortizes per-action overhead); the manifest
    # records each day so resume granularity stays per-day
    unit_batch: int = 16
    # salted_writes=True restores the pre-r5 (date, conv-salt) repartition
    # before every partitionBy write: bounds files/dir at _WRITE_SALT and
    # keeps write tasks fine-grained, at the cost of a full extra shuffle
    # per tier — for the 1m tier that shuffle carries last_text, i.e.
    # ~raw-sized bytes. False writes straight from the conv_id-clustered
    # cascade/arrange output (the dynamic-partition writer sorts by date
    # per task): files/dir = n_parts per date.
    #
    # Default None = AUTO (r6, VERDICT r5 item 2): salted when scheduler
    # parallelism >= SPARK_GRAFT_SALTED_MIN_CORES (default 16). The r5
    # interleaved A/Bs showed unsalted winning at local[2]/local[8] (the
    # extra shuffle is the bigger term when write-task churn overlaps
    # compute) but LOSING at local[32] (warm mins 45.0 vs 40.1: n_parts
    # writer tasks x dates small-file churn dominates) — and every
    # downstream consumer (compaction listing, snapshot copies, serving
    # scans) pays the n_parts-files-per-date fan-out again. At cluster
    # scale parallelism is always >= the threshold, so auto = salted =
    # the bounded-files topology, which is also the correct 100 TB layout.
    salted_writes: bool | None = None
    # job-level lifecycle hooks — the reference's preHandle/postHandle
    # (JobContainer.java:106-189): pre_hook(spark, spec) runs before unit
    # discovery, post_hook(spark, spec, summary) after the summary is built
    # (retention sweeps and catalog registration live here)
    pre_hook: object | None = None
    post_hook: object | None = None

    def __post_init__(self):
        if not self.job_id:
            self.job_id = f"rollup-{uuid.uuid4().hex[:12]}"


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop Path, its FileSystem): works for file://, hdfs://, s3a://."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def list_date_partitions(spark: SparkSession, path: str) -> list[str] | None:
    """Hive-style ``date=YYYY-MM-DD`` partition directories under ``path``,
    via the Hadoop FileSystem API (works for file://, hdfs://, s3a://) —
    a pure metadata listing, no data scan. None if the layout isn't
    date-partitioned."""
    p, fs = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    days = [
        st.getPath().getName()[5:]
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName().startswith("date=")
    ]
    return sorted(days) or None


def _has_data(spark: SparkSession, path: str) -> bool:
    """Whether a partition directory holds anything a parquet scan reads: a
    visible file or sub-directory (Spark skips names starting _ or .)."""
    p, fs = _fs_path(spark, path)
    return any(not st.getPath().getName().startswith(("_", ".")) for st in fs.listStatus(p))


#: manifest metric <- chunk column it sums (chunks_encoded counts chunks)
_CHUNK_SUMS = {"rows_read": "n_points", "bytes_raw": "bytes_raw", "bytes_compressed": "bytes_enc"}


def _observe_days(chunks: DataFrame, batch: list[str]) -> tuple[DataFrame, Observation]:
    """Attach the batch's per-day lineage counters to the chunk table: one
    conditional count/sum per (day, metric), accumulated as the rows stream
    into the writer, so the metrics cost no second pass over the chunks."""
    obs = Observation()
    exprs = []
    for i, d in enumerate(batch):
        on_day = F.to_date("chunk_start") == F.lit(dt.date.fromisoformat(d))
        exprs.append(F.count(F.when(on_day, 1)).alias(f"chunks_encoded_{i}"))
        exprs += [F.sum(F.when(on_day, F.col(c))).alias(f"{m}_{i}") for m, c in _CHUNK_SUMS.items()]
    return chunks.observe(obs, *exprs), obs


def run(spark: SparkSession, spec: RollupJobSpec) -> dict:
    """Execute (or resume) a rollup job; returns the metrics summary.

    The summary carries a ``phases`` dict of accumulated per-phase driver
    wall seconds (discover / tier counts / writer join / metrics / manifest)
    — the reference's PerfRecord phase accounting (PerfRecord.java:162-180)
    re-expressed, and the tool for attributing the per-job fixed term that
    caps N->4N scaling efficiency."""
    ph: dict[str, float] = {}

    def _ph(key: str, t0: float) -> None:
        ph[key] = round(ph.get(key, 0.0) + (time.time() - t0), 3)

    t_ph = time.time()
    if spec.pre_hook is not None:
        spec.pre_hook(spark, spec)
    man = Manifest(spark, f"{spec.output_root}/_manifest", spec.job_id)
    _ph("init", t_ph)

    # --- split: enumerate day units. Preferred input layout is
    # date-partitioned (date=YYYY-MM-DD): discovery is a pure partition
    # LISTING and each batch reads only its own date= directories, so a
    # daily increment never lists the history. A flat layout falls back to
    # a ts-column-pruned distinct — a one-column scan of the whole input
    # before any work; fine at test scale, a documented cost at 100 TB
    # (repartition the landing zone by date instead).
    t_ph = time.time()
    days = list_date_partitions(spark, spec.input_path)
    if days is not None:

        def read_batch(batch: list[str]) -> DataFrame | None:
            # a date= dir with no files is left out (schema inference over
            # no files fails); a batch of only such dirs has nothing to read
            dirs = [f"{spec.input_path}/date={d}" for d in batch]
            dirs = [d for d in dirs if _has_data(spark, d)]
            if not dirs:
                return None
            return spark.read.option("basePath", spec.input_path).parquet(*dirs)

    else:
        raw = spark.read.parquet(spec.input_path)
        days = sorted(
            r.d.isoformat() for r in raw.select(F.to_date("ts").alias("d")).distinct().collect()
        )

        def read_batch(batch: list[str]) -> DataFrame | None:
            return raw.filter(F.to_date("ts").isin(batch))

    _ph("discover", t_ph)
    t_ph = time.time()
    done = man.done_keys()
    _ph("manifest_resume", t_ph)
    pending = [d for d in days if d not in done]
    if spec.max_units is not None:
        pending = pending[: spec.max_units]

    n_parts = spec.n_partitions or spark.sparkContext.defaultParallelism * 2

    # partitionOverwriteMode pinned PER WRITE: with a user-supplied
    # session (default static) a batch overwrite would wipe ALL
    # previously written partitions and a resume would delete completed
    # days' output.
    #
    # No repartition before partitionBy: every writer input here (tier
    # cascade output, arranged chunk table) is ALREADY hash(conv_id)-
    # clustered, so the dynamic-partition writer's implicit per-task sort
    # on `date` fans each (tier, date) cell across ALL n_parts tasks —
    # strictly more write parallelism than the old (date, salt)
    # repartition, and it deletes a full extra shuffle per tier (for the
    # 1m tier that shuffle carried last_text, i.e. ~raw-sized bytes;
    # measured the largest single scaling cost in the r5 phase profile).
    # Cost: files/dir = n_parts per date instead of _WRITE_SALT; callers
    # that need few-big-files (small coarse tiers at modest scale) can
    # pass salted=True to restore the bounded fan-in.
    wsalt = F.pmod(F.xxhash64("conv_id"), F.lit(_WRITE_SALT))
    if spec.salted_writes is None:
        min_cores = int(os.environ.get("SPARK_GRAFT_SALTED_MIN_CORES", "16"))
        salted = spark.sparkContext.defaultParallelism >= min_cores
    else:
        salted = spec.salted_writes

    def _write_partitioned(df: DataFrame, part_col: str, path: str) -> None:
        out = df.withColumn("date", F.to_date(part_col))
        if salted:
            out = out.repartition(F.col("date"), wsalt)
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("date").parquet(path)

    batches = [
        pending[i : i + spec.unit_batch] for i in range(0, len(pending), spec.unit_batch)
    ]
    for batch in batches:
        t0 = time.time()
        sl = read_batch(batch)
        if sl is None:
            # nothing on disk for any of its days: no rows, no output
            wall_each = (time.time() - t0) / len(batch)
            man.mark_done_batch({d: UnitMetrics(wall_s=wall_each) for d in batch})
            continue
        cached_raw = False
        if spec.colocate:
            sl = colocate_by_series(sl, n_parts).cache()
            cached_raw = True

        # Writer-thread pool: every write action runs on a background thread
        # so its serial segments (driver planning, output commit, straggler
        # tail) overlap the next stage's parallel compute. Measured at 6M
        # turns (BENCH.md r3): batch wall 63 -> 35 s at local[8], and the
        # fitted per-job fixed term drops ~20 -> ~11 s, which is what moves
        # the N->4N scaling efficiency.
        write_errors: list[BaseException] = []
        writers: list[threading.Thread] = []

        def _spawn(fn):
            def g():
                try:
                    fn()
                except BaseException as e:  # noqa: BLE001 — re-raised after join
                    write_errors.append(e)

            th = threading.Thread(target=g, daemon=True)
            th.start()
            writers.append(th)

        cached_tiers: list[DataFrame] = []
        try:
            if cached_raw:
                # materialize the shared colocated cache BEFORE the chunk
                # write thread and the cascade race it (unmaterialized-cache
                # race duplicates the colocating shuffle)
                t_ph = time.time()
                sl.count()
                _ph("colocate_cache", t_ph)
            # chunk pipeline first and on its own thread: the Python-worker
            # encode overlaps the JVM-side tier aggregates. NOT cached — the
            # write thread is its only consumer (the per-day metrics are an
            # Observation on that same write), so the encode streams
            # straight into the writer with no columnar-cache
            # materialization.
            chunks, chunk_obs = _observe_days(
                encode_chunks(
                    sl,
                    value=F.expr(spec.value_expr).cast("double"),
                    chunk_tier=spec.chunk_tier,
                    order_cols=list(spec.order_cols),
                ),
                batch,
            )
            _spawn(lambda: _write_partitioned(chunks, "chunk_start", f"{spec.output_root}/chunks"))

            # Tier cascade over a conv-colocated input: ONE shuffle on
            # hash(conv_id), after which the 1m aggregation AND every cascade
            # step satisfy their (conv_id, bucket) clustered distribution
            # without further exchanges (plans.partitioning.colocate_by_series;
            # exchange-free plan asserted in tests/test_rollup_parity.py).
            # Each tier is cached and MATERIALIZED (count) before the next
            # derives from it and before its write thread starts — the cached
            # subtree must be the exact plan both consumers reference, and
            # racing an unmaterialized cache duplicates the upstream compute
            # (measured +25% at local[2]).
            slc = sl if spec.colocate else sl.repartition(n_parts, "conv_id")
            cur: DataFrame | None = None
            for i, t in enumerate(spec.tiers):
                cur = (
                    rollup_from_raw(slc, t, value=F.expr(spec.value_expr))
                    if cur is None
                    else rollup_cascade_step(cur, t)
                )
                if i + 1 < len(spec.tiers):
                    # two consumers (write thread + next cascade step):
                    # cache and MATERIALIZE before either touches it
                    cur = cur.cache()
                    t_ph = time.time()
                    cur.count()
                    _ph(f"tier_{t}_count", t_ph)
                    cached_tiers.append(cur)
                # LAST tier: the write thread is the only consumer — no
                # cache/count driver action; the thread computes the (narrow,
                # exchange-free) final cascade step from the cached parent
                _spawn(
                    lambda df=cur, t=t: _write_partitioned(
                        df, "bucket_start", f"{spec.output_root}/tiers/tier={t}"
                    )
                )
            t_ph = time.time()
            for th in writers:
                th.join()
            _ph("writers_join", t_ph)
            if write_errors:
                raise write_errors[0]
            # the chunk write has committed, so its observation is final
            # (reading it while the write is unfinished would block)
            t_ph = time.time()
            m = chunk_obs.get
            _ph("metrics_collect", t_ph)
            wall_each = (time.time() - t0) / len(batch)
            man.mark_done_batch(
                {
                    day: UnitMetrics(
                        rows_read=m[f"rows_read_{i}"] or 0,
                        chunks_encoded=m[f"chunks_encoded_{i}"],
                        bytes_raw=m[f"bytes_raw_{i}"] or 0,
                        bytes_compressed=m[f"bytes_compressed_{i}"] or 0,
                        wall_s=wall_each,
                    )
                    for i, day in enumerate(batch)
                }
            )
        except Exception:
            for day in batch:
                man.mark_failed(day)
            raise
        finally:
            # ALWAYS drain the writer threads — on the failure path too:
            # leaving daemon writers running would race a retry/resume run
            # committing into the same output directories
            for th in writers:
                th.join()
            for c in cached_tiers:
                c.unpersist()
            if cached_raw:
                sl.unpersist()

    t_ph = time.time()
    summary = man.metrics_summary()
    _ph("manifest_summary", t_ph)
    summary["units_total"] = len(days)
    summary["units_skipped_resume"] = len(done)
    summary["phases"] = ph
    if spec.post_hook is not None:
        spec.post_hook(spark, spec, summary)
    return summary
