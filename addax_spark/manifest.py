"""Per-partition checkpoint + lineage/metrics manifest (north_rule:
"resumable from per-partition checkpoints with lineage + metrics ...
persisted to an Iceberg manifest table").

Spark-native re-expression of the reference's failover + accounting
machinery: task retry/requeue (core/.../taskgroup/TaskGroupContainer.java:
150-246) becomes *job-level* resume — a rerun skips work units whose
partition_key is already 'done' in the manifest — and the Communication
counters (core/.../statistics/communication/CommunicationTool.java:30-120)
become explicit metric columns per work unit.

Storage: an append-only parquet directory of manifest rows, one row per
work unit (day). Each commit writes one new file — one per checkpoint
batch, holding that batch's per-day rows — under a hidden temporary name
and renames it into place, so a reader sees whole commits only; the latest
status per key wins by committed_at (ties: the later file). The rows are
tiny (one per day), so the driver reads them with pyarrow: resume and the
summary launch no Spark job however long the history. On a cluster with an
Iceberg catalog the same rows go to an Iceberg table via MERGE; the
protocol is identical.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid
from dataclasses import asdict, dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from .schema import MANIFEST

_ARROW_TYPES = {
    "string": pa.string(),
    "long": pa.int64(),
    "double": pa.float64(),
    # naive micros: what Spark reads back as TIMESTAMP (and what the
    # pandas-written files of earlier versions hold)
    "timestamp": pa.timestamp("us"),
}
#: schema.MANIFEST as an arrow schema; files with all-null metric columns
#: (failed rows written by pandas) are cast to it on read
_ARROW = pa.schema([(f.name, _ARROW_TYPES[f.dataType.typeName()]) for f in MANIFEST])


@dataclass
class UnitMetrics:
    rows_read: int = 0
    chunks_encoded: int = 0
    bytes_raw: int = 0
    bytes_compressed: int = 0
    wall_s: float = 0.0


class Manifest:
    """Checkpoint/lineage log keyed by (job_id, partition_key)."""

    def __init__(self, spark: SparkSession, path: str, job_id: str):
        self.spark = spark
        self.path = path
        self.job_id = job_id
        os.makedirs(path, exist_ok=True)

    def _append(self, rows: list[dict]) -> None:
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        table = pa.Table.from_pylist(
            [{**r, "job_id": self.job_id, "committed_at": now} for r in rows], schema=_ARROW
        )
        # one file per commit, renamed into place: atomic, append-only, no
        # read-modify-write; the time_ns prefix orders files by commit
        name = f"m-{time.time_ns()}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.path, name))

    def mark_done(self, partition_key: str, m: UnitMetrics) -> None:
        self.mark_done_batch({partition_key: m})

    def mark_done_batch(self, units: dict[str, UnitMetrics]) -> None:
        """Commit every unit of a checkpoint batch in one file (one row each)."""
        self._append(
            [{"partition_key": k, "status": "done", **asdict(m)} for k, m in units.items()]
        )

    def mark_failed(self, partition_key: str) -> None:
        self._append([{"partition_key": partition_key, "status": "failed"}])

    def _table(self) -> pa.Table:
        """Every manifest row, all jobs, in commit-file order."""
        files = sorted(f for f in os.listdir(self.path) if f.endswith(".parquet"))
        return pads.dataset(
            [os.path.join(self.path, f) for f in files], schema=_ARROW, format="parquet"
        ).to_table()

    def _latest(self) -> pd.DataFrame:
        """Latest row per partition key of this job (latest status wins)."""
        pdf = self._table().filter(pads.field("job_id") == self.job_id).to_pandas()
        # stable sort keeps file (commit) order among equal timestamps
        return pdf.sort_values("committed_at", kind="stable").drop_duplicates(
            "partition_key", keep="last"
        )

    def read(self) -> DataFrame:
        return self.spark.createDataFrame(self._table().to_pandas(), MANIFEST)

    def done_keys(self) -> set[str]:
        """Latest-status-wins set of completed partition keys for this job."""
        latest = self._latest()
        return set(latest.loc[latest["status"] == "done", "partition_key"])

    def metrics_summary(self) -> dict:
        """Unit count and metric sums over this job's completed units."""
        latest = self._latest()
        done = latest[latest["status"] == "done"]
        cols = ["rows_read", "chunks_encoded", "bytes_raw", "bytes_compressed"]
        return {"units": len(done), **{c: int(done[c].sum()) for c in cols}}
