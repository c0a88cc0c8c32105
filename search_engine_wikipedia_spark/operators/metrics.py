"""Per-partition table metrics from parquet footers — no Spark job.

The north rule asks for "per-stage metrics (docs/sec indexed,
queries/sec served) emitted per partition".  Stage timings and
per-segment lineage already land in the ``manifests`` table
(sources/catalog.py); this module adds the PER-PARTITION view: row and
byte counts for every parquet file of a catalog table, read from file
footers alone (pyarrow metadata — a few KB per file), so a 100 TB
index can be audited for skew without scanning a single data page.

The practical use at scale is ``skew_report``: head-term skew in the
postings table, a straggling doc-range shard, or a tombstone-compaction
that left a lopsided bucket all show up as ``max_rows / mean_rows``
outliers here LONG before they show up as a slow query.
"""

from __future__ import annotations

import os

from ..sources import catalog

__all__ = ["table_partition_metrics", "skew_report",
           "emit_partition_metrics"]


def _partition_values(rel: str) -> dict:
    """Parse hive-style ``key=value`` path segments."""
    out: dict = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            try:
                out[k] = int(v)
            except ValueError:
                out[k] = v
    return out


def table_partition_metrics(root: str, name: str) -> list[dict]:
    """One row per parquet file the snapshot lists: path relative to
    the table dir, parsed partition values, row count and byte size —
    footer reads only."""
    import pyarrow.parquet as pq

    base = catalog.table_path(root, name)
    out = []
    for f in sorted(catalog.table_files(root, name) or []):
        rel = os.path.relpath(f, base)
        md = pq.ParquetFile(f).metadata
        out.append({
            "file": rel,
            "partition": _partition_values(rel),
            "rows": md.num_rows,
            "bytes": os.path.getsize(f),
            "row_groups": md.num_row_groups,
        })
    return out


def skew_report(root: str, name: str, top: int = 5) -> dict:
    """Partition-skew summary for a catalog table.

    ``skew_ratio`` is max/mean rows per file: ~1 means balanced; a big
    ratio names exactly which partition needs salting or a smaller
    ``maxPartitionBytes``.  ``top`` heaviest files are listed so the
    offender is identifiable (e.g. the tbucket holding a head term).
    """
    parts = table_partition_metrics(root, name)
    if not parts:
        return {"table": name, "n_files": 0}
    rows = sorted(p["rows"] for p in parts)
    n = len(rows)
    mean = sum(rows) / n
    heaviest = sorted(parts, key=lambda p: -p["rows"])[:top]
    return {
        "table": name,
        "n_files": n,
        "total_rows": sum(rows),
        "total_bytes": sum(p["bytes"] for p in parts),
        "mean_rows": round(mean, 1),
        "p50_rows": rows[n // 2],
        "max_rows": rows[-1],
        "skew_ratio": round(rows[-1] / mean, 2) if mean else None,
        "top": [{"file": p["file"], "rows": p["rows"],
                 "bytes": p["bytes"]} for p in heaviest],
    }


def emit_partition_metrics(spark, root: str, names: list[str]) -> int:
    """Append one lineage row PER PARQUET FILE of each named table to
    the index's ``manifests`` table (stage ``metrics:<table>``,
    partition_id = file ordinal, n_docs = rows, bytes = size) and
    return the number of rows emitted.  This is the queryable twin of
    ``table_partition_metrics`` — downstream jobs can join it instead
    of re-reading footers."""
    rows = []
    for name in names:
        for i, p in enumerate(table_partition_metrics(root, name)):
            rows.append({
                "stage": f"metrics:{name}",
                "partition_id": i,
                "seg_id": p["partition"].get(
                    "seg_id", p["partition"].get("tbucket")),
                "n_docs": p["rows"],
                "bytes": p["bytes"],
                "checksum": p["file"],
            })
    if rows:
        catalog.append_lineage(spark, root, rows)
    return len(rows)
