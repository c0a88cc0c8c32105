"""Table layer: parquet tables behind one snapshot commit, and resume.

The reference's index "commit" is Whoosh's segment flush
(``indexing/index.py:132-136``): a writer adds segment files and one
commit makes them visible; open-or-build is ``index.exists_in``/
``open_dir`` (``index.py:65-84``).  Our equivalents:

* ``<root>/_SNAPSHOT.json`` is the index's one commit point.  It holds
  an ``id``, the live parquet files of every table (``tables``, paths
  relative to the root, so a copied tree stays valid) and ``retired``,
  the files the latest commit dropped.  Only ``commit`` writes it,
  through ``write_json`` (tmp file, then rename),
* every write adds new, uniquely named files to its table dir, in the
  usual ``tbucket=``/``seg_id=`` layout, and never replaces one:
  ``write_table`` lists the new files in the snapshot and drops the
  files it replaces (all of them, some partitions', or none — an
  append).  An empty table is a table with no files,
* ``transaction`` opens a working snapshot: writes inside it land
  there, reads see them, and one commit publishes them on exit — an
  exception publishes nothing.  Outside one, each write commits its
  own table,
* readers pin a snapshot: ``read_table`` reads the files it lists,
  with ``basePath`` at the table dir (tbucket partition pruning holds)
  and the schema from the registry (no schema-inference job);
  ``arrow_dataset`` reads the same files with pyarrow on the driver,
  for lookups that run no Spark job,
* ``sweep`` is the one recovery rule: the writer deletes every table
  file the snapshot neither lists nor retires — a crashed op's orphans,
  and the files retired one commit earlier, so a pinned reader stays
  valid through the next commit,
* ``_SCHEMA.json`` is the index's one settings record
  (``read_schema_meta``), as Whoosh stores its schema in the index:
  ``IndexBuilder.build`` records the analyzers, tbucket count, segment
  count and shard size there, and every reader and maintenance op
  reads them back instead of taking them as arguments; it also holds
  every table's schema,
* per-partition lineage rows (seg_id, n_docs, n_terms, bytes, checksum)
  are appended to a ``manifests`` parquet table — the north_rule's
  per-partition lineage requirement, an append-only log outside the
  snapshot,
* ``file_stats`` is the one parquet footer walk (per-file row count and
  column min/max) behind ``footer_stats`` and compaction's file pruning.

On a real deployment this module is the seam where Iceberg slots in
(``writeTo(...).createOrReplace()``, hidden ``bucket(term)``
partitioning, snapshot-based resume): the sandbox has no Iceberg
runtime jar, so the parquet fallback is the tested path and the Iceberg
path is gated behind a config check.  Under a catalog no snapshot is
written: the catalog is the commit point.
"""

from __future__ import annotations

import contextlib
import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SNAPSHOT_NAME = "_SNAPSHOT.json"
# tables a pinned reader serves from (SearchIndex, the relational
# referee): a commit retires the files it drops from them.  Files
# dropped from the writer-only tables go at the sweep after the commit.
PINNED = ("docs", "field_stats", "postings", "tombstones", "pagerank")
# root realpath → working snapshot of the transaction open on it
_WORKING: dict[str, dict] = {}


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


# ---------------------------------------------------------------------------
# The snapshot: the one commit point
# ---------------------------------------------------------------------------
def _key(root: str) -> str:
    return os.path.realpath(root)


def read_snapshot(root: str) -> dict | None:
    """The published snapshot, or None when nothing was committed."""
    p = os.path.join(root, SNAPSHOT_NAME)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def snapshot(root: str) -> dict:
    """The snapshot this process reads and writes: the open
    transaction's working snapshot, else the published one."""
    return (_WORKING.get(_key(root)) or read_snapshot(root)
            or {"id": 0, "tables": {}, "retired": []})


def commit(root: str, snap: dict | None = None) -> None:
    """Publish ``snap`` — by default the open transaction's working
    snapshot — as the index's snapshot, atomically."""
    if snap is None:
        snap = _WORKING[_key(root)]
    prev = read_snapshot(root)
    snap["id"] = (prev["id"] if prev else 0) + 1
    write_json(os.path.join(root, SNAPSHOT_NAME), snap)


def in_transaction(root: str) -> bool:
    return _key(root) in _WORKING


@contextlib.contextmanager
def transaction(root: str):
    """Run the body against a working snapshot of ``root`` and publish
    it with one commit when the body returns; an exception publishes
    nothing (its files are orphans for the next ``sweep``)."""
    key = _key(root)
    pub = snapshot(root)
    _WORKING[key] = {"id": pub["id"], "tables": dict(pub["tables"]),
                     "retired": []}
    try:
        yield
        commit(root)
    finally:
        del _WORKING[key]


def _stage(root: str, name: str, add=(), drop=None,
           keep: bool = True) -> None:
    """List ``add`` and unlist ``drop`` (relative paths; None: every
    listed file) in table ``name`` of the working snapshot — outside a
    transaction, of a copy of the published one, committed at once.
    ``keep=False`` removes the table from the snapshot."""
    snap = _WORKING.get(_key(root))
    own = snap is None
    if own:
        snap = snapshot(root)
        snap["retired"] = []
    old = snap["tables"].pop(name, [])
    gone = set(old if drop is None else drop)
    if keep:
        snap["tables"][name] = [f for f in old if f not in gone] + sorted(add)
    if name in PINNED:
        snap["retired"] += [f for f in old if f in gone]
    if own:
        commit(root, snap)


def _disk_files(root: str, name: str) -> set[str]:
    """Every file under table ``name``'s dir, relative to the root —
    the one listing of a table dir: the sweep, and ``write_table``
    naming the files its Spark job added."""
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(table_path(root, name)) for f in files
    }


def sweep(root: str) -> None:
    """Delete every table file that the snapshot neither lists nor
    retires, and the dirs left empty.  Writer-only: the caller holds
    the writer lock (or is the one builder of the index)."""
    if not os.path.isdir(root):
        return
    snap = snapshot(root)
    keep = {f for files in snap["tables"].values() for f in files}
    keep |= set(snap["retired"])
    keep |= {os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
             for f in keep}  # Hadoop's checksum sidecars
    names = [d.name for d in os.scandir(root)
             if d.is_dir() and d.name != "manifests"]
    for name in names:
        for rel in _disk_files(root, name) - keep:
            os.remove(os.path.join(root, rel))
        for d, _, _ in os.walk(table_path(root, name), topdown=False):
            with contextlib.suppress(OSError):
                os.rmdir(d)  # only an empty dir goes


# ---------------------------------------------------------------------------
# Tables
# ---------------------------------------------------------------------------
def write_table(
    df: DataFrame,
    root: str,
    name: str,
    partition_by: list[str] | None = None,
    drop: list[str] | None = None,
) -> str:
    """Write ``df`` as new files of table ``name`` and list them in the
    snapshot, unlisting ``drop`` — files of the table as
    ``table_files`` names them; None: all of them (a full overwrite),
    []: none (an append).  Returns the table path."""
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
    before = _disk_files(root, name)
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    record_table_schema(root, name, df.schema)
    added = [f for f in _disk_files(root, name) - before
             if f.endswith(".parquet")
             and not os.path.basename(f).startswith((".", "_"))]
    _stage(root, name, added,
           None if drop is None else [os.path.relpath(f, root) for f in drop])
    return path


def write_json(path: str, obj: dict) -> None:
    """Write ``obj`` as JSON atomically: tmp file, then rename."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)  # atomic on posix


def table_files(root: str, name: str,
                snap: dict | None = None) -> list[str] | None:
    """Paths of the files ``snap`` (default: ``snapshot(root)``) lists
    for table ``name``, or None when it lists no such table."""
    files = (snap or snapshot(root))["tables"].get(name)
    return None if files is None else [os.path.join(root, f) for f in files]


def _partition(rel: str, col: str) -> int | None:
    for part in rel.split(os.sep):
        if part.startswith(f"{col}="):
            return int(part[len(col) + 1:])
    return None


def partition_files(root: str, name: str, col: str, values) -> list[str]:
    """The listed files of table ``name`` in its ``col=`` partitions
    whose value is in ``values``."""
    values = set(values)
    return [f for f in table_files(root, name) or []
            if _partition(os.path.relpath(f, root), col) in values]


def table_exists(root: str, name: str, snap: dict | None = None) -> bool:
    """True iff the snapshot lists table ``name`` (empty or not)."""
    return table_files(root, name, snap) is not None


def read_table(spark: SparkSession, root: str, name: str,
               snap: dict | None = None) -> DataFrame:
    """Read a stage table — the read half of the Iceberg seam: with a
    catalog configured the table is resolved by name (snapshot reads,
    hidden-partition pruning come free); otherwise the files ``snap``
    (default: ``snapshot(root)``) lists."""
    cat = catalog_name(spark)
    if cat is not None:
        return spark.table(f"{cat}.{name}")
    files = table_files(root, name, snap)
    if files is None:
        raise FileNotFoundError(f"the snapshot of {root} has no table "
                                f"{name!r}")
    cols = recorded_table_schema(root, name)
    schema = cols and ", ".join(f"`{c}` {t}" for c, t in cols)
    if not files:
        return spark.createDataFrame([], schema)
    reader = spark.read.option("basePath", table_path(root, name))
    if schema:
        reader = reader.schema(schema)
    # Spark lists more paths than this threshold with a Spark job; the
    # files are named, so the listing is a stat per file on the driver
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(max(int(prev), len(files))))
    try:
        return reader.parquet(*files)
    finally:
        spark.conf.set(key, prev)


def drop_table(root: str, name: str) -> None:
    """Remove table ``name`` from the snapshot."""
    _stage(root, name, keep=False)


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
    against and the schema ``read_table`` reads with.  Re-inferring
    from the files is NOT equivalent: Spark samples one footer for
    inference, so a table already poisoned with mixed physical types
    can LIE depending on which file gets sampled, and the guard would
    then wave through exactly the drift it exists to block."""
    meta = read_schema_meta_or_none(root) or {}
    tables = meta.setdefault("tables", {})
    tables[name] = [[f.name, f.dataType.simpleString()]
                    for f in schema.fields]
    write_schema_meta(root, meta)


def recorded_table_schema(root: str, name: str) -> list | None:
    """The (column, type) list recorded at write time, or None for a
    table the registry does not know."""
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


def file_stats(root: str, name: str, col: str | None = None):
    """Yield ``(file, n_rows, min, max)`` per file the snapshot lists
    for table ``name``, read from the file FOOTERS — no Spark job, no
    data pages.  min/max are None when ``col`` is None, the file lacks
    ``col``, or any of its row groups lacks statistics."""
    import pyarrow.parquet as pq

    for f in table_files(root, name) or []:
        md = pq.ParquetFile(f).metadata
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
        yield f, md.num_rows, mn, mx


def footer_stats(root: str, name: str,
                 col: str | None = None) -> tuple[int, object, object]:
    """(num_rows, min, max) of a column across a parquet table's file
    footers (``file_stats``).  min/max are None when ``col`` is None or
    any non-empty file lacks statistics.  Parquet-dir path only: with an
    Iceberg catalog the caller should keep the DataFrame agg (the
    manifest-based planner makes it metadata-only there too)."""
    n_rows, mn, mx = 0, None, None
    have_stats = col is not None
    for _, n, fmn, fmx in file_stats(root, name, col):
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


def arrow_dataset(root: str, name: str, snap: dict | None = None):
    """The files ``snap`` (default: ``snapshot(root)``) lists for table
    ``name`` as a ``pyarrow.dataset`` on the driver — no Spark job — or
    None when it lists none.  Hive partitions (``tbucket=``,
    ``seg_id=``) are parsed from the path below the table dir only, so
    a ``k=v`` dir above it (in the root) is not taken for a partition.
    A filtered scan skips the files and row groups whose partition value
    or footer min/max rules out a comparison in the filter (pyarrow
    checks no ``is_in`` against footers)."""
    import pyarrow.dataset as ds

    files = table_files(root, name, snap)
    if not files:
        return None
    return ds.dataset(files, format="parquet", partitioning="hive",
                      partition_base_dir=table_path(root, name))


def completed_segments(spark: SparkSession, root: str, stage: str) -> set[int]:
    """Seg ids of the ``seg_id=`` partitions the snapshot lists for a
    stage (segment-level resume): the segment phase commits each batch
    after its lineage rows, so a listed segment is a finished one."""
    return {_partition(os.path.relpath(f, root), "seg_id")
            for f in table_files(root, stage) or []} - {None}
