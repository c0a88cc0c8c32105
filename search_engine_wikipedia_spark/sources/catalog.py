"""Table layer: parquet tables with commit manifests and resume.

The reference's index "commit" is Whoosh's segment flush
(``indexing/index.py:132-136``); open-or-build is
``index.exists_in``/``open_dir`` (``index.py:65-84``).  Our equivalents:

* every stage writes a parquet directory plus a ``_MANIFEST.json``
  written only AFTER the parquet job succeeds — the manifest is the
  commit marker, written to a tmp file and renamed into place
  (``write_json``, the one atomic JSON writer: manifests, the schema
  meta and the maintenance journals all go through it),
* two overwrite helpers, each with a FIXED per-write mode that never
  reads or touches the session's ``partitionOverwriteMode``:
  ``write_table`` replaces the whole table (static) and commits;
  ``overwrite_partitions`` replaces only the partitions present in the
  new data (dynamic) and leaves the commit to the caller,
* ``is_complete``/``read`` implement open-or-build resume,
* ``_SCHEMA.json`` is the index's one settings record
  (``read_schema_meta``), as Whoosh stores its schema in the index:
  ``IndexBuilder.build`` records the analyzers, tbucket count, segment
  count and shard size there, and every reader, maintenance op and
  crash replay reads them back instead of taking them as arguments,
* per-partition lineage rows (seg_id, n_docs, n_terms, bytes, checksum)
  are appended to a ``manifests`` parquet table — the north_rule's
  per-partition lineage requirement,
* ``file_stats`` is the one parquet footer walk (per-file row count and
  column min/max) behind ``footer_stats`` and compaction's file pruning.

On a real deployment this module is the seam where Iceberg slots in
(``writeTo(...).createOrReplace()``, hidden ``bucket(term)``
partitioning, snapshot-based resume): the sandbox has no Iceberg
runtime jar, so the parquet fallback is the tested path and the Iceberg
path is gated behind a config check.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_MANIFEST.json"


def table_path(root: str, name: str) -> str:
    return os.path.join(root, name)


CATALOG_CONF = "spark.sewiki.catalog"


def catalog_name(spark: SparkSession) -> str | None:
    """Name of THIS ENGINE's table catalog, or None (parquet-dir mode).

    Opt-in via ``spark.sewiki.catalog=<name>`` — a dedicated conf, not
    a sniff for any ``spark.sql.catalog.*`` key: a session that happens
    to carry an unrelated catalog (someone else's lakehouse) must not
    flip every index read onto a namespace that doesn't hold our
    tables.  When the conf IS set, the matching
    ``spark.sql.catalog.<name>`` implementation must exist — a dangling
    pointer fails fast here instead of as a confusing
    table-not-found at first read."""
    name = spark.conf.get(CATALOG_CONF, None)
    if not name:
        return None
    if spark.conf.get(f"spark.sql.catalog.{name}", None) is None:
        raise ValueError(
            f"{CATALOG_CONF}={name!r} but spark.sql.catalog.{name} is "
            f"not configured — set both (the catalog implementation "
            f"class and this opt-in) or neither"
        )
    return name


def iceberg_enabled(spark: SparkSession) -> bool:
    """True when this engine's own catalog is configured (see
    ``catalog_name``)."""
    return catalog_name(spark) is not None


def write_table(
    df: DataFrame,
    root: str,
    name: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    meta: dict | None = None,
) -> str:
    """Write a stage table + commit manifest.  Returns the path."""
    path = table_path(root, name)
    spark = df.sparkSession
    cat = catalog_name(spark)
    if cat is not None:
        writer = df.writeTo(f"{cat}.{name}")
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return path
    # static, whatever the session says: a full overwrite must not keep
    # partitions the new data lacks
    writer = df.write.mode(mode).option("partitionOverwriteMode", "static")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    commit(path, meta)
    record_table_schema(root, name, df.schema)
    return path


def overwrite_partitions(df: DataFrame, path: str, col: str) -> None:
    """Replace exactly the ``col=`` partitions present in ``df`` (dynamic
    partition overwrite, set per write); every other partition's files
    are untouched.  Does NOT commit: callers that write in several
    batches commit once, after the last one."""
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(col).parquet(path))


def write_json(path: str, obj: dict) -> None:
    """Write ``obj`` as JSON atomically: tmp file, then rename."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)  # atomic on posix


def commit(path: str, meta: dict | None = None) -> None:
    """Write the manifest commit marker after a successful job."""
    p = Path(path)
    files = sorted(f for f in p.rglob("*.parquet"))
    manifest = {
        "committed_at": time.time(),
        "n_files": len(files),
        "bytes": sum(f.stat().st_size for f in files),
        "files": [
            {"path": str(f.relative_to(p)), "bytes": f.stat().st_size}
            for f in files
        ],
        **(meta or {}),
    }
    write_json(str(p / MANIFEST_NAME), manifest)


def manifest(root: str, name: str) -> dict | None:
    f = Path(table_path(root, name)) / MANIFEST_NAME
    if not f.exists():
        return None
    return json.loads(f.read_text())


def is_complete(root: str, name: str) -> bool:
    """A stage is complete iff its commit manifest exists AND every file
    it recorded still exists with the recorded size (cheap checksum)."""
    m = manifest(root, name)
    if m is None:
        return False
    p = Path(table_path(root, name))
    for entry in m.get("files", []):
        f = p / entry["path"]
        if not f.exists() or f.stat().st_size != entry["bytes"]:
            return False
    return True


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read a stage table — the read half of the Iceberg seam: with a
    catalog configured the table is resolved by name (snapshot reads,
    hidden-partition pruning come free); otherwise the parquet dir."""
    cat = catalog_name(spark)
    if cat is not None:
        return spark.table(f"{cat}.{name}")
    return spark.read.parquet(table_path(root, name))


def table_exists(root: str, name: str) -> bool:
    """True iff the table dir holds at least one parquet file.

    A bare ``os.path.exists`` is NOT the right presence test: a crash
    while a batch was CREATING a table can leave the directory with
    only Spark's ``_SUCCESS``/manifest markers and zero parquet files
    (``ingest.recover_incomplete`` now removes such dirs, but readers
    stay defensive — a parquet-less dir would otherwise make
    ``spark.read.parquet`` fail schema inference on every later op)."""
    p = Path(table_path(root, name))
    if not p.exists():
        return False
    return any(p.rglob("*.parquet"))


def drop_table(root: str, name: str) -> None:
    import shutil

    path = table_path(root, name)
    if os.path.exists(path):
        shutil.rmtree(path)


# ---------------------------------------------------------------------------
# Index settings record (reference WikiSchema, stored in the index)
# ---------------------------------------------------------------------------
SCHEMA_META_NAME = "_SCHEMA.json"
# every output-shaping build setting; segment_batches only splits the
# segment phase into commits and is not recorded
SETTINGS = ("text_analyzer", "title_analyzer", "n_term_buckets",
            "n_segments", "shard_size")


def write_schema_meta(root: str, meta: dict) -> None:
    os.makedirs(root, exist_ok=True)
    write_json(os.path.join(root, SCHEMA_META_NAME), meta)


def read_schema_meta(root: str) -> dict:
    """The index's settings record: the ``SETTINGS`` that
    ``IndexBuilder.build`` recorded, plus the per-table schema registry.
    Every reader and maintenance op takes its settings from here, so a
    writer cannot disagree with the index it writes to.  Raises
    ``ValueError`` naming each missing setting: a guessed tbucket
    modulus prunes (or rewrites) the wrong partitions, a guessed shard
    size re-merges head terms into a layout no build produced."""
    meta = read_schema_meta_or_none(root) or {}
    missing = [k for k in SETTINGS if k not in meta]
    if missing:
        raise ValueError(
            f"index at {root} records no {', '.join(missing)} in "
            f"{SCHEMA_META_NAME}; rebuild it with IndexBuilder.build"
        )
    return meta


def read_schema_meta_or_none(root: str) -> dict | None:
    p = Path(root) / SCHEMA_META_NAME
    if not p.exists():
        return None
    return json.loads(p.read_text())


def record_table_schema(root: str, name: str, schema) -> None:
    """Record a table's committed (column, type) list in the index's
    schema meta — the authoritative reference the append guard checks
    against.  Re-inferring from the directory is NOT equivalent: Spark
    samples one footer for inference, so a dir already poisoned with
    mixed physical types can LIE depending on which file gets sampled,
    and the guard would then wave through exactly the drift it exists
    to block."""
    meta = read_schema_meta_or_none(root) or {}
    tables = meta.setdefault("tables", {})
    tables[name] = [[f.name, f.dataType.simpleString()]
                    for f in schema.fields]
    write_schema_meta(root, meta)


def recorded_table_schema(root: str, name: str) -> list | None:
    """The (column, type) list recorded at write time, or None for
    tables from builds older than the registry."""
    meta = read_schema_meta_or_none(root) or {}
    entry = meta.get("tables", {}).get(name)
    if entry is None:
        return None
    return [(c, t) for c, t in entry]


# ---------------------------------------------------------------------------
# Per-partition lineage rows (the `manifests` table of SURVEY.md §1.4)
# ---------------------------------------------------------------------------
def append_lineage(
    spark: SparkSession, root: str, rows: list[dict]
) -> None:
    """Append lineage rows (stage, seg_id, n_docs, n_terms, bytes,
    checksum, build_ts) to the manifests table.

    Written with pyarrow directly from the driver — the rows are
    driver-held metadata (a few per stage), and a Spark
    createDataFrame→write round trip here costs a whole job per call;
    builds/appends/compacts emit lineage several times each.  The file
    schema mirrors ``schemas.MANIFESTS`` exactly (timestamp in µs), so
    Spark reads the mixed-writer directory transparently."""
    import datetime as dt
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    schema = pa.schema([
        ("stage", pa.string()),
        ("seg_id", pa.int32()),
        ("partition_id", pa.int32()),
        ("n_docs", pa.int64()),
        ("n_terms", pa.int64()),
        ("bytes", pa.int64()),
        ("checksum", pa.string()),
        ("build_ts", pa.timestamp("us")),
    ])
    def _i(v):
        return None if v is None else int(v)  # numpy scalars → python

    cols = {
        "stage": [r.get("stage") for r in rows],
        "seg_id": [_i(r.get("seg_id")) for r in rows],
        "partition_id": [_i(r.get("partition_id")) for r in rows],
        "n_docs": [_i(r.get("n_docs")) for r in rows],
        "n_terms": [_i(r.get("n_terms")) for r in rows],
        "bytes": [_i(r.get("bytes")) for r in rows],
        "checksum": [r.get("checksum") for r in rows],
    }
    cols["build_ts"] = [now] * len(rows)
    table = pa.Table.from_pydict(cols, schema=schema)
    path = Path(table_path(root, "manifests"))
    path.mkdir(parents=True, exist_ok=True)
    tmp = path / f".lineage-{uuid.uuid4().hex}.parquet.tmp"
    pq.write_table(table, tmp)
    tmp.rename(path / tmp.name[1:-len(".tmp")])  # atomic visibility


def read_lineage(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(table_path(root, "manifests"))


def file_stats(path: str, col: str | None = None):
    """Yield ``(file, n_rows, min, max)`` per parquet file under
    ``path``, read from the file FOOTERS — no Spark job, no data pages.
    min/max are None when ``col`` is None, the file lacks ``col``, or
    any of its row groups lacks statistics."""
    import pyarrow.parquet as pq

    for f in sorted(Path(path).rglob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        mn = mx = None
        leaves = [md.schema.column(i).path for i in range(md.num_columns)]
        if col is not None and col in leaves:
            ci = leaves.index(col)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                if st is None or not st.has_min_max:
                    mn = mx = None
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        yield str(f), md.num_rows, mn, mx


def footer_stats(root: str, name: str,
                 col: str | None = None) -> tuple[int, object, object]:
    """(num_rows, min, max) of a column across a parquet table's file
    footers (``file_stats``).  min/max are None when ``col`` is None or
    any non-empty file lacks statistics.  Parquet-dir path only: with an
    Iceberg catalog the caller should keep the DataFrame agg (the
    manifest-based planner makes it metadata-only there too)."""
    n_rows, mn, mx = 0, None, None
    have_stats = col is not None
    for _, n, fmn, fmx in file_stats(table_path(root, name), col):
        n_rows += n
        if not n:
            continue
        if fmn is None:
            have_stats = False
        elif have_stats:
            mn = fmn if mn is None else min(mn, fmn)
            mx = fmx if mx is None else max(mx, fmx)
    if not have_stats:
        mn = mx = None
    return n_rows, mn, mx


def read_table_arrow(root: str, name: str, columns: list[str] | None = None):
    """Read a SMALL table directly into a pyarrow Table on the driver —
    no Spark job.  For driver-held metadata sets (tombstones between
    compactions, schema/stat sidecars); anything row-scaled stays on
    ``read_table``."""
    import pyarrow.dataset as ds

    files = sorted(str(f) for f in
                   Path(table_path(root, name)).rglob("*.parquet"))
    if not files:  # committed-but-empty tables keep one empty part
        raise FileNotFoundError(table_path(root, name))
    return ds.dataset(files, format="parquet").to_table(columns=columns)


def completed_segments(spark: SparkSession, root: str, stage: str) -> set[int]:
    """Seg ids recorded as complete for a stage (segment-level resume).
    A segment's lineage row lands after its files, so before the
    stage's table exists there is nothing to read (a fresh build runs
    no lineage scan)."""
    if not all(Path(table_path(root, t)).exists()
               for t in (stage, "manifests")):
        return set()
    df = read_lineage(spark, root).where(f"stage = '{stage}'")
    return {int(r.seg_id) for r in df.select("seg_id").distinct().collect()}
