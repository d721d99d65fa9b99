"""Per-partition lineage records + per-epoch throughput metrics.

BASELINE.json:6: "Per-partition lineage records (source offset range ->
target snapshot id -> row counts/bytes) and throughput metrics are emitted
to a metrics table."

Lineage granularity is the table partition (= bucket) and data file; counts
and order-column ranges come from the parquet footer stats the commit
already recorded, bytes from the file size (driver-side, O(#files) — no
extra Spark job, SURVEY.md §4.3 "only manifests cross the driver").
Each epoch appends one small parquet file per metrics table; the metrics
tables are themselves plain parquet directories readable by any engine.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from .table import SnapshotTable

LINEAGE_SCHEMA = pa.schema(
    [
        ("job_id", pa.string()),
        ("epoch_id", pa.int64()),
        ("snapshot_id", pa.int64()),
        ("bucket", pa.int32()),
        ("file", pa.string()),
        ("rows", pa.int64()),
        ("bytes", pa.int64()),
        ("min_lsn", pa.int64()),
        ("max_lsn", pa.int64()),
        ("src_min_lsn", pa.int64()),  # source offset range of the epoch
        ("src_max_lsn", pa.int64()),
        ("committed_at", pa.timestamp("us")),
    ]
)

EPOCH_METRICS_SCHEMA = pa.schema(
    [
        ("job_id", pa.string()),
        ("epoch_id", pa.int64()),
        ("snapshot_id", pa.int64()),
        ("events", pa.int64()),
        ("upserts", pa.int64()),
        ("deletes", pa.int64()),
        ("quarantined", pa.int64()),
        ("affected_buckets", pa.int32()),
        ("files_written", pa.int32()),
        ("seconds", pa.float64()),
        ("events_per_sec", pa.float64()),
        # shuffle traffic attributable to this epoch (bytes; null when the
        # Spark UI/REST endpoint is disabled) — THE number to watch for
        # scaling: efficiency loss at 4N cores tracks bytes-through-memory
        ("shuffle_read_bytes", pa.int64()),
        ("shuffle_write_bytes", pa.int64()),
        ("input_bytes", pa.int64()),
        ("output_bytes", pa.int64()),
        ("committed_at", pa.timestamp("us")),
    ]
)


def shuffle_totals(spark) -> dict[str, int] | None:
    """Cumulative app-level shuffle read/write bytes via the Spark UI REST
    API (public, stable). Returns None when the UI is disabled (the
    default for this engine — callers sample deltas only in bench/metrics
    sessions that enable it)."""
    import json as _json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app = spark.sparkContext.applicationId
    try:
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages", timeout=5) as r:
            stages = _json.load(r)
    except Exception:
        return None
    return {
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        # scan + sink volume — lets the epoch metrics show where the
        # memory-bandwidth budget actually goes (shuffle vs I/O)
        "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
        "output_bytes": sum(s.get("outputBytes", 0) for s in stages),
    }


def _append(dir_path: str, schema: pa.Schema, rows: list[dict]) -> None:
    if not rows:
        return
    os.makedirs(dir_path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    tmp = os.path.join(dir_path, f".tmp-{uuid.uuid4().hex}")
    pq.write_table(table, tmp, compression="zstd")
    os.rename(tmp, os.path.join(dir_path, f"part-{uuid.uuid4().hex[:12]}.parquet"))


class MetricsTable:
    """Append-only metrics/lineage tables under one root directory."""

    def __init__(self, root: str):
        self.root = root
        self.lineage_dir = os.path.join(root, "lineage")
        self.epochs_dir = os.path.join(root, "epochs")

    def emit_lineage(
        self,
        job_id: str,
        epoch_id: int,
        snapshot_id: int,
        files_by_bucket: dict[int, list[str]],
        src_min_lsn: int | None,
        src_max_lsn: int | None,
        table: SnapshotTable,
    ) -> list[dict]:
        """One lineage row per file the epoch committed. Rows and the
        order column's bounds come from the footer stats ``commit``
        recorded (``meta['file_stats']``); bytes from the file size."""
        now = int(time.time() * 1_000_000)
        fstats = table.meta.get("file_stats", {})
        rows = []
        for bucket, files in sorted(files_by_bucket.items()):
            for f in files:
                rel = os.path.relpath(f, table.root)
                st = fstats.get(rel, {})
                lo, hi = st.get("cols", {}).get(table.order_col, (None, None))
                rows.append(
                    {
                        "job_id": job_id,
                        "epoch_id": epoch_id,
                        "snapshot_id": snapshot_id,
                        "bucket": bucket,
                        "file": rel,
                        "rows": st.get("rows"),
                        "bytes": os.path.getsize(f),
                        "min_lsn": lo,
                        "max_lsn": hi,
                        "src_min_lsn": src_min_lsn,
                        "src_max_lsn": src_max_lsn,
                        "committed_at": now,
                    }
                )
        _append(self.lineage_dir, LINEAGE_SCHEMA, rows)
        return rows

    def emit_epoch(self, row: dict) -> None:
        row = dict(row)
        row.setdefault("committed_at", int(time.time() * 1_000_000))
        _append(self.epochs_dir, EPOCH_METRICS_SCHEMA, [row])
