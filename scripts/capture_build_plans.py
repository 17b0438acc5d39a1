#!/usr/bin/env python
"""Capture `.explain("formatted")` for the SHARED-BUILD pipelines (r6).

Since r6 the minhash trio (minhash_dedup / dedup_clusters / corpus_keep)
and the gorilla trio (roundtrip / chunk_stats / chunk_counts) read a
once-per-process written build table, so their entry plans are mostly a
parquet scan; the interesting plans — the ones the optimization claims are
about — belong to the build pipelines themselves. This captures those into
plans/<tag>/_build_*.txt so plan-shape claims stay checkable offline.

`_build_tier_write` is `job.run`'s all-tier write over a parquet copy of
synth transcripts: one Exchange (the conv_id repartition) and no
InMemoryTableScan.

Usage: python scripts/capture_build_plans.py [out_dir] [suffix]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from addax_spark import job as _job  # noqa: E402
from addax_spark import synth  # noqa: E402
from addax_spark.operators import dedup as _dedup  # noqa: E402
from addax_spark.operators import gorilla as _gorilla  # noqa: E402
from addax_spark.session import DEFAULT_SF_DIR, cpu_count, get_spark  # noqa: E402


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "_after"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    spark = get_spark("plans", cores=cpu_count(),
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    os.makedirs(out_dir, exist_ok=True)

    def cap(name, df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"_build_{name}{suffix}.txt"), "w") as f:
            f.write(plan)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = _dedup.minhash_lsh_pairs(docs, threshold=0.5)
    cap("minhash_pairs", pairs)
    cap("dedup_clusters", _dedup.dedup_clusters(docs, pairs))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value"),
    )
    cap("gorilla_encode", _gorilla.encode_chunks(
        pts, value="value", chunk_tier="1d", order_cols=["ts", "turn_idx"]))

    tmp = tempfile.mkdtemp(prefix="capture_plans_")
    raw = os.path.join(tmp, "transcripts.parquet")
    synth.transcripts(spark, n_convs=40, avg_turns=30).write.mode("overwrite").parquet(raw)
    spec = _job.RollupJobSpec(raw, "")
    n_parts = spark.sparkContext.defaultParallelism * 2
    cap("tier_write", _job._build_tier_write(spark.read.parquet(raw), spec, n_parts))
    shutil.rmtree(tmp)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cap("embedding_lsh_pairs", _dedup.embedding_lsh_pairs(
        emb, threshold=0.45, n_planes=3, n_tables=20))


if __name__ == "__main__":
    main()
