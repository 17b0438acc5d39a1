#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One process, one SparkSession at
local[4], one closed-loop client. Inputs are generated from ``--seed``;
every operation's output is checked against DuckDB after the measured
period. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans to ``.perfbench_out/``.

Everything the run writes lives under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

CORES = 4
DRIVER_MEM = "4g"


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _spark_conf(work: str, trace: bool) -> dict:
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": mem,
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # a fixed heap size, so the driver's footprint does not depend on
        # when the collector decides to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{mem} -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _instrument(tracer) -> None:
    """Spans around the calls into each module's public functions."""
    from addax_spark import job, manifest, retention, serving
    from addax_spark.operators import gapfill, gorilla, rollup

    from .harness import wrap
    from .workloads import _listing

    for m in ("done_keys", "metrics_summary", "mark_done", "mark_failed", "read"):
        wrap(tracer, manifest.Manifest, m, f"manifest.{m}")
    for owner in (job, rollup):
        wrap(tracer, owner, "rollup_from_raw", "rollup.rollup_from_raw")
        wrap(tracer, owner, "rollup_cascade_step", "rollup.rollup_cascade_step")
    for owner in (job, gorilla):
        wrap(tracer, owner, "encode_chunks", "gorilla.encode_chunks")
    for owner in (serving, gorilla):
        wrap(tracer, owner, "decode_chunks", "gorilla.decode_chunks")
    for owner in (serving, gapfill):
        wrap(tracer, owner, "gapfill", "gapfill.gapfill")
    wrap(tracer, retention, "expire", "retention.expire")

    compact = retention.compact

    def traced_compact(spark, output_root, tier, dates=None, **kw):
        root = retention.tier_root(output_root, tier)
        parts = dates if dates is not None else retention.list_date_partitions(root)
        before = [_listing(f"{root}/date={d}") for d in parts]
        with tracer.span("retention.compact", tier=tier) as sp:
            n = compact(spark, output_root, tier, dates, **kw)
        after = [_listing(f"{root}/date={d}") for d in parts]
        sp.attrs.update(
            rewritten=n, files_before=sum(f for f, _ in before),
            bytes_before=sum(b for _, b in before), files_after=sum(f for f, _ in after),
        )
        return n

    retention.compact = traced_compact


def _stop(spark, seen_pids: set[int]) -> None:
    """Stop the SparkContext, end the JVM and wait for every process this
    run started (the JVM and its Python workers) to be gone."""
    from pyspark import SparkContext

    from .harness import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 20
    pids = set(descendants(os.getpid())) | seen_pids
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and p != os.getpid()]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from .harness import MemSampler, NullTracer, Tracer, parse_event_log
    from .metrics import end_to_end, per_layer
    from .workloads import WORKLOADS, Ctx

    t_setup = time.perf_counter()
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    try:
        from addax_spark.session import get_spark

        spark = None
        tracer = Tracer(job_ids=lambda: _next_job_id(spark)) if trace else NullTracer()
        with MemSampler() as mem:
            with tracer.span("session.start"):
                spark = get_spark("perfbench", cores=CORES, shuffle_partitions=2 * CORES,
                                  extra_conf=_spark_conf(work, trace))
            try:
                query_walls, q_att, q_failed = {}, 0, 0
                if trace:
                    from .contract import run_pass, write_tables

                    _instrument(tracer)
                    # the contract pass comes first: it also warms the JVM,
                    # so the workload's set-up skips its warm-up operation
                    sf = f"{work}/contract_tables"
                    with tracer.span("setup.contract_tables"):
                        write_tables(seed, sf)
                    query_walls, q_att, q_failed = run_pass(spark, sf, tracer, _log)
                ctx = Ctx(spark, work, seed, seconds, tracer, trace, _log)
                wl = WORKLOADS[workload]
                st = wl.setup(ctx)
                setup_s = time.perf_counter() - t_setup
                wl.loop(ctx, st)
                with tracer.span("check.workload"):
                    wl.check(ctx, st)
                attempted, failed = len(ctx.ops) + q_att, ctx.failed + q_failed
                if trace:
                    tracer.close()
            finally:
                _stop(spark, mem.seen)
        if trace:
            (log_file,) = os.listdir(f"{work}/eventlog")
            jobs = parse_event_log(f"{work}/eventlog/{log_file}")
            metrics = per_layer(tracer, jobs, ctx.stats, ctx.ops, query_walls)
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(f"{out_dir}/trace_{workload}_{seed}.json", "w", encoding="utf-8") as f:
                json.dump({"spans": tracer.dump(), "jobs": jobs, "metrics": metrics}, f, default=str)
            info = {}
        else:
            metrics, info = end_to_end(ctx.ops, ctx.stats, setup_s, mem.peak_mb)
        info.update(workload=workload, seed=seed, op_walls=[o["wall"] for o in ctx.ops],
                    op_cpu_s=[o["cpu_s"] for o in ctx.ops])
        return {"info": info, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass


def _next_job_id(spark) -> int | None:
    """The id the DAG scheduler gives the next Spark job; job ids rise by
    one per job, whatever thread or job group submits it."""
    if spark is None:
        return None
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def main(argv=None) -> int:
    from .metrics import E2E, PER_LAYER
    from .workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    res = run(a.workload, a.seed, a.seconds, bool(a.trace))
    units = dict((n, u) for n, u, *_ in (PER_LAYER if a.trace else E2E))
    print(json.dumps({"info": res["info"]}), flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    from perfbench.run import main as _main

    sys.exit(_main())
