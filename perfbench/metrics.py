"""Metric names, units and how each is derived.

End-to-end metrics come from an untraced run; every workload reports all
of them, with "operation" meaning that workload's unit of work (a full
``job.run``, or one daily increment). Per-layer metrics come from a traced
run and are totals over the whole run (set-up, the fixed number of traced
operations, and the contract-suite pass), unless the name says otherwise.
The serving, gapfill and retention layers are reached through the
contract-suite entries that call them.
"""

from __future__ import annotations

from statistics import median

from .contract import FAMILIES
from .harness import ancestors, innermost_span, self_times, tail

E2E = [
    # name, unit, better, bound. The wall-time bounds are the widest
    # allowed: on a shared 4-core host the quartile spread over ten seeds
    # measured 0.05-0.09, and up to 0.29 while the host's speed drifted;
    # setup_s keeps the largest bound.
    ("op_p50_s", "s", "lower", 0.25),
    ("op_tail_s", "s", "lower", 0.25),
    ("turns_per_s", "1/s", "higher", 0.25),
    ("compression_ratio", "ratio", "higher", 0.05),
    ("peak_pss_mb", "MB", "lower", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

QUERIES = [q for fam in FAMILIES.values() for q in fam]

PER_LAYER = (
    [("session.start_s", "s")]
    + [("job.wall_s", "s")]
    + [(f"job.phase.{p}_s", "s") for p in (
        "init", "discover", "manifest_resume", "tier_count", "writers_join",
        "metrics_collect", "manifest_summary")]
    + [("job.unattributed_s", "s"), ("job.spark_jobs", "count"), ("job.spark_tasks", "count"),
       ("job.tasks_failed", "count"), ("job.units_done", "count")]
    + [("manifest.done_keys_s", "s"), ("manifest.metrics_summary_s", "s"),
       ("manifest.files", "count"), ("manifest.spark_jobs", "count")]
    + [("rollup.cascade_s", "s"), ("rollup.turns_per_s", "1/s"), ("rollup.rows_out", "count")]
    + [("gorilla.encode_many_points_per_s", "1/s"), ("gorilla.encode_points_per_s", "1/s"),
       ("gorilla.decode_many_points_per_s", "1/s"), ("gorilla.encode_chunks_s", "s"),
       ("gorilla.decode_chunks_s", "s"), ("gorilla.chunks", "count"),
       ("gorilla.points_per_chunk", "count"), ("gorilla.bits_per_point", "bits")]
    + [("gapfill.locf_s", "s"), ("gapfill.linear_s", "s"), ("gapfill.rows_out", "count")]
    + [("serving.query_range_s", "s"), ("serving.read_points_s", "s"),
       ("serving.rows_returned", "count"), ("serving.files_scanned", "count"),
       ("serving.spark_jobs", "count")]
    + [("retention.expire_s", "s"), ("retention.compact_s", "s"),
       ("retention.partitions_rewritten", "count"), ("retention.bytes_rewritten", "bytes"),
       ("retention.files_before", "count"), ("retention.files_after", "count")]
    + [("output.files_written", "count"), ("output.stored_bytes_per_turn", "bytes")]
    + [(f"query.{q}_s", "s") for q in QUERIES]
    + [(f"api.{fam}_queries_s", "s") for fam in FAMILIES]
    + [("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
       ("spark.shuffle_write_bytes", "bytes"), ("spark.shuffle_read_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.python_worker_boot_s", "s"),
       ("spark.python_worker_run_s", "s"), ("spark.python_bytes_sent", "bytes"),
       ("spark.python_bytes_returned", "bytes")]
    + [("trace.wall_s", "s"), ("trace.accounted_s", "s"), ("trace.op_p50_s", "s")]
)

#: contract entries that are serving.query_range / serving.read_points calls
SERVING_RANGE_QUERIES = {"serving_range", "serving_range_filled", "serving_range_linear"}
SERVING_POINT_QUERIES = {"serving_points"}


def end_to_end(ops: list[dict], stats: dict, setup_s: float, peak_pss_mb: float) -> dict:
    walls = [o["wall"] for o in ops if o["ok"]] or [o["wall"] for o in ops]
    tail_v, tail_pct, n = tail(walls)
    return {
        "op_p50_s": median(walls),
        "op_tail_s": tail_v,
        "turns_per_s": sum(o.get("turns", 0) for o in ops if o["ok"]) / sum(walls),
        "compression_ratio": stats["gorilla.bytes_raw"] / stats["gorilla.bytes_enc"],
        "peak_pss_mb": peak_pss_mb,
        "setup_s": setup_s,
    }, {"op_tail_percentile": tail_pct, "op_samples": n}


def per_layer(tracer, jobs: dict, stats: dict, ops: list[dict], query_walls: dict) -> dict:
    """Per-layer metrics from the spans, the event log's per-job task
    metrics and the workload's counters."""
    spans = tracer.spans
    selfs = self_times(spans)
    owner = {j: innermost_span(spans, j) for j in jobs}

    def dur(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    def jobs_under(names) -> list[int]:
        return [j for j, sp in owner.items()
                if any(a.name in names for a in ancestors(spans, sp))]

    def jsum(ids, key) -> float:
        return sum(jobs[j][key] for j in ids)

    runs = [s for s in spans if s.name == "job.run"]

    def phase(match) -> float:
        return sum(v for s in runs for p, v in s.attrs.get("phases", {}).items() if match(p))

    tier_count = phase(lambda p: p.startswith("tier_") and p.endswith("_count"))
    phases_all = phase(lambda p: True)
    job_ids = jobs_under({"job.run"})
    rollup_s = tier_count + dur("rollup.rollup_from_raw") + dur("rollup.rollup_cascade_step")
    turns_in = sum(s.attrs.get("turns", 0) for s in runs)

    range_names = {f"query.{q}" for q in SERVING_RANGE_QUERIES}
    point_names = {f"query.{q}" for q in SERVING_POINT_QUERIES}
    serving = [s for s in spans if s.name in range_names | point_names]
    fills = [s for s in spans if s.name in ("query.serving_range_filled", "query.serving_range_linear")]
    compacts = [s for s in spans if s.name == "retention.compact"]

    return {
        "session.start_s": dur("session.start"),
        "job.wall_s": dur("job.run"),
        **{f"job.phase.{k}_s": phase(lambda p, k=k: p == k) for k in (
            "init", "discover", "manifest_resume", "writers_join", "metrics_collect",
            "manifest_summary")},
        "job.phase.tier_count_s": tier_count,
        "job.unattributed_s": dur("job.run") - phases_all,
        "job.spark_jobs": len(job_ids),
        "job.spark_tasks": jsum(job_ids, "tasks"),
        "job.tasks_failed": jsum(job_ids, "tasks_failed"),
        "job.units_done": sum(s.attrs.get("units_done", 0) for s in runs),
        "manifest.done_keys_s": dur("manifest.done_keys"),
        "manifest.metrics_summary_s": dur("manifest.metrics_summary"),
        "manifest.files": stats.get("manifest.files", 0),
        "manifest.spark_jobs": len(jobs_under({s.name for s in spans if s.name.startswith("manifest.")})),
        "rollup.cascade_s": rollup_s,
        "rollup.turns_per_s": turns_in / rollup_s if rollup_s else 0.0,
        "rollup.rows_out": stats.get("rollup.rows_out", 0),
        "gorilla.encode_many_points_per_s": stats["gorilla.encode_many_points_per_s"],
        "gorilla.encode_points_per_s": stats["gorilla.encode_points_per_s"],
        "gorilla.decode_many_points_per_s": stats["gorilla.decode_many_points_per_s"],
        # the chunk encode is the only Python stage under job.run, and the
        # decode the only one under the point read and the codec round trip
        "gorilla.encode_chunks_s": jsum(job_ids, "python_worker_run_ms") / 1000,
        "gorilla.decode_chunks_s": jsum(jobs_under(point_names | {"query.gorilla_roundtrip"}),
                                        "python_worker_run_ms") / 1000,
        "gorilla.chunks": stats["gorilla.chunks"],
        "gorilla.points_per_chunk": stats["gorilla.points"] / stats["gorilla.chunks"],
        "gorilla.bits_per_point": 8 * stats["gorilla.bytes_enc"] / stats["gorilla.points"],
        "gapfill.locf_s": query_walls.get("serving_range_filled", 0.0),
        "gapfill.linear_s": query_walls.get("serving_range_linear", 0.0),
        "gapfill.rows_out": sum(s.attrs.get("rows", 0) for s in fills),
        "serving.query_range_s": sum(s.end - s.start for s in serving if s.name in range_names),
        "serving.read_points_s": sum(s.end - s.start for s in serving if s.name in point_names),
        "serving.rows_returned": sum(s.attrs.get("rows", 0) for s in serving),
        "serving.files_scanned": sum(s.attrs.get("files", 0) for s in serving),
        "serving.spark_jobs": len(jobs_under(range_names | point_names)),
        "retention.expire_s": dur("retention.expire"),
        "retention.compact_s": dur("retention.compact"),
        "retention.partitions_rewritten": sum(s.attrs.get("rewritten", 0) for s in compacts),
        "retention.bytes_rewritten": sum(s.attrs.get("bytes_before", 0) for s in compacts),
        "retention.files_before": sum(s.attrs.get("files_before", 0) for s in compacts),
        "retention.files_after": sum(s.attrs.get("files_after", 0) for s in compacts),
        "output.files_written": stats.get("output.files_written", 0),
        "output.stored_bytes_per_turn": stats.get("output.bytes_written", 0)
        / max(1, stats.get("output.turns", 0)),
        **{f"query.{q}_s": query_walls.get(q, 0.0) for q in QUERIES},
        **{f"api.{fam}_queries_s": sum(query_walls.get(q, 0.0) for q in qs)
           for fam, qs in FAMILIES.items()},
        "spark.task_run_s": sum(j["run_ms"] for j in jobs.values()) / 1000,
        "spark.task_cpu_s": sum(j["cpu_ns"] for j in jobs.values()) / 1e9,
        "spark.gc_s": sum(j["gc_ms"] for j in jobs.values()) / 1000,
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs.values()),
        "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs.values()),
        "spark.spill_bytes": sum(j["spill"] for j in jobs.values()),
        "spark.python_worker_boot_s": sum(j["python_worker_boot_ms"] for j in jobs.values()) / 1000,
        "spark.python_worker_run_s": sum(j["python_worker_run_ms"] for j in jobs.values()) / 1000,
        "spark.python_bytes_sent": sum(j["python_bytes_sent"] for j in jobs.values()),
        "spark.python_bytes_returned": sum(j["python_bytes_returned"] for j in jobs.values()),
        "trace.wall_s": tracer.root.end - tracer.root.start,
        "trace.accounted_s": sum(v for k, v in selfs.items() if k != tracer.root.id),
        "trace.op_p50_s": median([o["wall"] for o in ops]),
    }
