"""The workloads. Each one prepares its inputs from the seed (set-up),
runs a closed loop of operations for the measured period, then checks every
operation's output against a DuckDB recomputation from the raw input
(untimed).

- ingest_rollup: full ``job.run`` over a bench.py-shaped transcripts table.
- daily_increments: one new ``date=`` partition per ``job.run`` against an
  output root that already holds a long history of completed days.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from . import gen
from .harness import tree_cpu_s

TIERS = ["1m", "5m", "1h", "1d"]
TIER_COLS = (
    "conv_id, bucket_start::TIMESTAMP AS bucket_start, turn_count, sum_len, min_len, "
    "max_len, avg_len, last_ts::TIMESTAMP AS last_ts, last_turn_idx, last_text"
)

# Input sizes. Chosen so one run of each workload, set-up included, takes
# about a minute on a 4-core host.
INGEST_TURNS = 20_000
INCR_HISTORY_DAYS = 200
INCR_SPARE_DAYS = 40
INCR_CONVS, INCR_AVG_TURNS = 20, 500
INCR_DAY_TURNS = 150  # ~8 per (conversation, day)
DAY0 = dt.date(2025, 1, 1)
DAY_US = 86_400_000_000

#: an untraced run makes at least OPS operations and goes on until its
#: measured period is over; a traced run makes exactly OPS, so per-layer
#: totals compare across runs
OPS = 2


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object
    trace: bool
    log: object
    ops: list = field(default_factory=list)  # {"kind", "wall", "turns", ...}
    failed: int = 0
    stats: dict = field(default_factory=dict)  # counts for the per-layer metrics

    def duck(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        return con

    def keep_going(self, t_start: float) -> bool:
        return len(self.ops) < OPS or (
            not self.trace and time.perf_counter() - t_start < self.seconds)

    def add(self, key: str, v) -> None:
        self.stats[key] = self.stats.get(key, 0) + v


def _raw_sql(glob: str | list[str]) -> str:
    files = f"'{glob}'" if isinstance(glob, str) else "[" + ", ".join(f"'{g}'" for g in glob) + "]"
    return (
        "SELECT conv_id, turn_idx, text, ts::TIMESTAMP AS ts "
        f"FROM read_parquet({files}, hive_partitioning=false)"
    )


def _diff_rows(con, a: str, b: str) -> int:
    return con.execute(
        f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b})) UNION ALL "
        f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))"
    ).df().iloc[:, 0].sum()


def _listing(root: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``root``."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def run_job(ctx: Ctx, spec, turns: int) -> dict:
    """``job.run`` inside a span; in traced runs also the files it added."""
    from addax_spark import job

    before = _listing(spec.output_root) if ctx.trace else (0, 0)
    with ctx.tracer.span("job.run") as sp:
        summary = job.run(ctx.spark, spec)
    if ctx.trace:
        with ctx.tracer.span("check.listing"):
            after = _listing(spec.output_root)
        sp.attrs.update(
            phases=summary["phases"], turns=turns,
            units_done=summary["units_total"] - summary["units_skipped_resume"],
        )
        ctx.add("output.files_written", after[0] - before[0])
        ctx.add("output.bytes_written", after[1] - before[1])
        ctx.add("output.turns", turns)
        ctx.stats["manifest.files"] = len(os.listdir(f"{spec.output_root}/_manifest"))
    return summary


def timed_op(ctx: Ctx, kind: str, fn, **info) -> None:
    """One measured operation: its wall, and a failure counted, not raised."""
    ctx.tracer.set_op(len(ctx.ops))
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    ok = True
    try:
        fn()
    except Exception as e:  # noqa: BLE001 - a failed operation is counted and the loop goes on
        ctx.log(f"{kind}: FAILED {type(e).__name__}: {e}")
        ctx.failed += 1
        ok = False
    wall = time.perf_counter() - t0
    ctx.tracer.set_op(None)
    ctx.ops.append({"kind": kind, "wall": wall, "ok": ok, "cpu_s": tree_cpu_s() - cpu0, **info})


def check_tiers(ctx: Ctx, con, raw_glob: str | list[str], root: str, date: str = "*") -> int:
    """Rows by which the written tiers differ from the oracle (all tiers)."""
    from addax_spark import api

    bad = 0
    for t in TIERS:
        exp = api.oracle_rollup_sql(t, _raw_sql(raw_glob))
        got = f"SELECT {TIER_COLS} FROM read_parquet('{root}/tiers/tier={t}/date={date}/*.parquet')"
        bad += _diff_rows(con, f"SELECT * FROM ({exp})", got)
        ctx.add("rollup.rows_out", con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0])
    return bad


def check_chunks(ctx: Ctx, con, raw_glob: str | list[str], root: str, n_turns: int, n_sample: int,
                 rng, date: str = "*") -> int:
    """Chunk point total equals the input turns, and sampled chunks decode
    back to the raw ``(ts, length(text))`` points exactly. Returns the
    number of failed checks."""
    from addax_spark.operators import gorilla

    ch = f"read_parquet('{root}/chunks/date={date}/*.parquet')"
    n_chunks, n_points, b_raw, b_enc = con.execute(
        f"SELECT count(*), sum(n_points), sum(bytes_raw), sum(bytes_enc) FROM {ch}"
    ).fetchone()
    ctx.add("gorilla.chunks", n_chunks)
    ctx.add("gorilla.points", n_points)
    ctx.add("gorilla.bytes_raw", b_raw)
    ctx.add("gorilla.bytes_enc", b_enc)
    bad = int(n_points != n_turns)
    if bad:
        ctx.log(f"chunks hold {n_points} points, input has {n_turns} turns")
    keys = con.execute(
        f"SELECT conv_id, chunk_start::TIMESTAMP FROM {ch} ORDER BY 1, 2"
    ).fetchall()
    for i in rng.choice(len(keys), min(n_sample, len(keys)), replace=False):
        conv, start = keys[int(i)]
        blob = con.execute(
            f"SELECT chunk FROM {ch} WHERE conv_id = ? AND chunk_start::TIMESTAMP = ?",
            [conv, start],
        ).fetchone()[0]
        ts, vals = gorilla.decode(bytes(blob))
        exp = con.execute(
            f"SELECT epoch_us(ts) AS t, length(text)::DOUBLE AS v FROM ({_raw_sql(raw_glob)}) "
            "WHERE conv_id = ? AND ts >= ? AND ts < ? + INTERVAL 1 DAY ORDER BY ts, turn_idx",
            [conv, start, start],
        ).df()
        if not (np.array_equal(ts, exp.t.to_numpy()) and np.array_equal(vals, exp.v.to_numpy())):
            ctx.log(f"chunk {conv} {start} does not decode to its raw points")
            bad += 1
    return bad


def gorilla_kernels(ctx: Ctx, con, raw_glob: str | list[str]) -> None:
    """In-process codec throughput on per-(conv, day) point arrays drawn
    from the workload's own input: encode_many over all of them, encode one
    chunk at a time, decode_many over the encoded blobs."""
    from addax_spark.operators import gorilla

    pts = con.execute(
        f"SELECT conv_id, epoch_us(ts) AS t, length(text)::DOUBLE AS v, "
        f"epoch_us(ts) // 86400000000 AS day FROM ({_raw_sql(raw_glob)}) "
        "ORDER BY conv_id, day, ts, turn_idx"
    ).df()
    key = pts.conv_id.to_numpy(dtype=object) + "|" + pts.day.astype(str).to_numpy(dtype=object)
    cut = np.flatnonzero(key[1:] != key[:-1]) + 1
    offsets = np.concatenate([[0], cut, [len(pts)]]).astype(np.int64)
    t, v = pts.t.to_numpy(np.int64), pts.v.to_numpy(np.float64)

    def best(fn, reps=3):
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            walls.append(time.perf_counter() - t0)
        return min(walls), out

    with ctx.tracer.span("gorilla.encode_many"):
        w_many, blobs = best(lambda: gorilla.encode_many(t, v, offsets))
    with ctx.tracer.span("gorilla.encode"):
        w_one, _ = best(lambda: [
            gorilla.encode(t[a:b], v[a:b]) for a, b in zip(offsets[:-1], offsets[1:])
        ])
    with ctx.tracer.span("gorilla.decode_many"):
        w_dec, _ = best(lambda: gorilla.decode_many(blobs))
    n = len(pts)
    ctx.stats["gorilla.encode_many_points_per_s"] = n / w_many
    ctx.stats["gorilla.encode_points_per_s"] = n / w_one
    ctx.stats["gorilla.decode_many_points_per_s"] = n / w_dec


# ============================================================ ingest_rollup


def ingest_setup(ctx: Ctx) -> dict:
    from addax_spark.job import RollupJobSpec

    raw = f"{ctx.work}/ingest_in"
    with ctx.tracer.span("setup.generate"):
        # bench.py's shape: 1% hot conversations at 43x, gap holes, ~100
        # points per (conversation, day) chunk
        pdf = gen.transcripts(ctx.seed, n_convs=int(INGEST_TURNS / (100 * 1.42)), avg_turns=100)
        gen.write(pdf, raw)
    if not ctx.trace:
        with ctx.tracer.span("setup.warmup"):
            run_job(ctx, RollupJobSpec(raw, f"{ctx.work}/ingest_warm", job_id="ingest"), len(pdf))
            shutil.rmtree(f"{ctx.work}/ingest_warm")
    return {"raw": raw, "turns": len(pdf)}


def ingest_loop(ctx: Ctx, st: dict) -> None:
    from addax_spark.job import RollupJobSpec

    t_start = time.perf_counter()
    while ctx.keep_going(t_start):
        out = f"{ctx.work}/ingest_out{len(ctx.ops)}"
        spec = RollupJobSpec(st["raw"], out, job_id="ingest")
        timed_op(ctx, "ingest", lambda: run_job(ctx, spec, st["turns"]),
                 turns=st["turns"], root=out)


def _tier_fingerprint(con, root: str) -> list:
    return [
        con.execute(
            f"SELECT count(*), sum(turn_count), sum(sum_len), sum(hash(conv_id, bucket_start, last_text)) "
            f"FROM read_parquet('{root}/tiers/tier={t}/*/*.parquet')"
        ).fetchone()
        for t in TIERS
    ]


def ingest_check(ctx: Ctx, st: dict) -> None:
    """The first operation's output is checked in full against the oracle;
    every later one must match its tier fingerprint and point count."""
    rng = np.random.default_rng(ctx.seed)
    raw_glob = f"{st['raw']}/*.parquet"
    con = ctx.duck()
    try:
        first = None
        for i, op in enumerate(ctx.ops):
            if not op["ok"]:
                continue
            root = op["root"]
            if first is None:
                bad = check_tiers(ctx, con, raw_glob, root)
                bad += check_chunks(ctx, con, raw_glob, root, st["turns"], 20, rng)
                first = _tier_fingerprint(con, root)
                if ctx.trace:
                    gorilla_kernels(ctx, con, raw_glob)
            else:
                (n_points,) = con.execute(
                    f"SELECT sum(n_points) FROM read_parquet('{root}/chunks/*/*.parquet')"
                ).fetchone()
                bad = int(_tier_fingerprint(con, root) != first) + int(n_points != st["turns"])
            if bad:
                ctx.log(f"ingest op {i}: {bad} wrong rows or checks")
                ctx.failed += 1
            shutil.rmtree(root, ignore_errors=True)
    finally:
        con.close()


# ========================================================= daily_increments


def incr_setup(ctx: Ctx) -> dict:
    """Generates the template day and the spare days, runs the job over the
    template day, then lays down the rest of the history as copies (hard
    links) of the template day's raw partition, tier and chunk partitions,
    with one manifest row per day written through ``Manifest.mark_done``:
    the layout a completed daily job leaves behind, without running the job
    INCR_HISTORY_DAYS times."""
    from addax_spark.job import RollupJobSpec
    from addax_spark.manifest import Manifest, UnitMetrics

    stage, inp, out = f"{ctx.work}/incr_stage", f"{ctx.work}/incr_in", f"{ctx.work}/incr_out"
    with ctx.tracer.span("setup.generate"):
        # the same conversations spread over the template day (index 0) and
        # the spare days that follow the history: each turn keeps its time
        # of day and moves to a seeded day; every day gets INCR_DAY_TURNS
        n_days = INCR_SPARE_DAYS + 1
        pdf = gen.transcripts(ctx.seed, INCR_CONVS, INCR_AVG_TURNS, hot=False)
        rng = np.random.default_rng(ctx.seed + 1)
        pdf = pdf.iloc[np.sort(rng.choice(len(pdf), n_days * INCR_DAY_TURNS, replace=False))].copy()
        pick = rng.permutation(len(pdf)) % n_days
        day = np.where(pick == 0, 0, pick + INCR_HISTORY_DAYS - 1)
        pdf["ts_us"] = gen.EPOCH_US + day * DAY_US + pdf["ts_us"] % DAY_US
        per_day = {}
        for i, part in pdf.groupby(day):
            d = (DAY0 + dt.timedelta(days=int(i))).isoformat()
            gen.write(part, f"{stage}/date={d}", files=1)
            per_day[d] = len(part)
        days = sorted(per_day)
        template = days[0]
        os.makedirs(inp)
        os.rename(f"{stage}/date={template}", f"{inp}/date={template}")
    with ctx.tracer.span("setup.history"):
        summary = run_job(ctx, RollupJobSpec(inp, out, job_id="daily"), per_day[template])
        man = Manifest(ctx.spark, f"{out}/_manifest", "daily")
        unit = UnitMetrics(summary["rows_read"], summary["chunks_encoded"], summary["bytes_raw"],
                           summary["bytes_compressed"])
        dirs = [f"{inp}/date={{}}", f"{out}/chunks/date={{}}"] + [
            f"{out}/tiers/tier={t}/date={{}}" for t in TIERS]
        for i in range(1, INCR_HISTORY_DAYS):
            d = (DAY0 + dt.timedelta(days=i)).isoformat()
            for pattern in dirs:
                shutil.copytree(pattern.format(template), pattern.format(d), copy_function=os.link)
            man.mark_done(d, unit)
    st = {"stage": stage, "in": inp, "out": out, "days": days, "per_day": per_day, "next": 1}
    if not ctx.trace:
        # the template day's job.run leaves the increment's own paths cold:
        # without this, the first timed increments fall from ~10 s to ~7 s
        # one after another: their median would measure JIT warm-up
        with ctx.tracer.span("setup.warmup"):
            _increment(ctx, st, _next_day(st))
    return st


def _next_day(st: dict) -> str:
    """Make the next staged day visible to the job (untimed)."""
    d = st["days"][st["next"]]
    st["next"] += 1
    os.rename(f"{st['stage']}/date={d}", f"{st['in']}/date={d}")
    return d


def _increment(ctx: Ctx, st: dict, d: str) -> None:
    from addax_spark.job import RollupJobSpec

    run_job(ctx, RollupJobSpec(st["in"], st["out"], job_id="daily"), st["per_day"][d])


def incr_loop(ctx: Ctx, st: dict) -> None:
    t_start = time.perf_counter()
    while ctx.keep_going(t_start) and st["next"] < len(st["days"]):
        d = _next_day(st)
        timed_op(ctx, "increment", lambda: _increment(ctx, st, d), turns=st["per_day"][d], date=d)


def incr_check(ctx: Ctx, st: dict) -> None:
    rng = np.random.default_rng(ctx.seed)
    con = ctx.duck()
    try:
        for op in ctx.ops:
            if not op["ok"]:
                continue
            d = op["date"]
            raw_glob = f"{st['in']}/date={d}/*.parquet"
            bad = check_tiers(ctx, con, raw_glob, st["out"], date=d)
            bad += check_chunks(ctx, con, raw_glob, st["out"], op["turns"], 3, rng, date=d)
            if bad:
                ctx.log(f"increment {d}: {bad} wrong rows or checks")
                ctx.failed += 1
        if ctx.trace:
            gorilla_kernels(ctx, con, [f"{st['in']}/date={op['date']}/*.parquet" for op in ctx.ops])
    finally:
        con.close()


@dataclass
class Workload:
    setup: object
    loop: object
    check: object


# why each workload exists is recorded in BENCHMARK.json
WORKLOADS = {
    "ingest_rollup": Workload(ingest_setup, ingest_loop, ingest_check),
    "daily_increments": Workload(incr_setup, incr_loop, incr_check),
}
