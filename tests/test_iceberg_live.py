"""Jar-gated LIVE Iceberg contract test (Pillow-pattern).

The Iceberg seam in ``sources/catalog.py`` is pinned by mocked tests in
``test_resume.py`` (exact writeTo/partitionedBy/createOrReplace and
``spark.table`` calls).  This file is the other half of the contract:
when an Iceberg runtime jar IS on the classpath (any deployment built
with ``--packages org.apache.iceberg:iceberg-spark-runtime-...``), the
same seam is exercised for real against a hadoop-type catalog in a tmp
warehouse — round-trip write/read, hidden partitioning, snapshot
history, and snapshot-addressable resume (time travel to the
pre-replace snapshot).  In this sandbox no jar is present, so the whole
module skips with a recorded reason; off-sandbox it self-activates, the
same way the PIL decode contract test does in ``test_multimodal.py``.
"""

import pytest

from search_engine_wikipedia_spark.sources import catalog


def _iceberg_jar_present(spark) -> bool:
    """True iff the Iceberg Spark runtime is loadable in this JVM."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


@pytest.fixture()
def ice(spark, tmp_path):
    """Configure a hadoop-type Iceberg catalog named ``sewiki_it`` in a
    tmp warehouse and opt the engine into it; tear down fully so the
    shared session's parquet-fallback tests stay untouched.  V2
    catalogs are resolved lazily on first reference, so runtime conf is
    sufficient — no session restart needed."""
    if not _iceberg_jar_present(spark):
        pytest.skip(
            "no Iceberg runtime jar on the classpath (sandbox); this "
            "contract test self-activates on deployments launched with "
            "iceberg-spark-runtime — the mocked seam tests in "
            "test_resume.py pin the same calls meanwhile"
        )
    name = "sewiki_it"
    spark.conf.set(f"spark.sql.catalog.{name}",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{name}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{name}.warehouse",
                   (tmp_path / "warehouse").as_uri())
    spark.conf.set(catalog.CATALOG_CONF, name)
    try:
        yield name
    finally:
        for k in (catalog.CATALOG_CONF,
                  f"spark.sql.catalog.{name}.warehouse",
                  f"spark.sql.catalog.{name}.type",
                  f"spark.sql.catalog.{name}"):
            spark.conf.unset(k)


def test_live_roundtrip_and_hidden_partitioning(spark, ice, tmp_path):
    """write_table routes through writeTo/partitionedBy/createOrReplace
    into a REAL Iceberg table; read_table resolves it by name and the
    rows round-trip; the partition column lands in the table's
    partition spec (Iceberg metadata, not directory layout)."""
    df = spark.range(20).selectExpr(
        "concat('t', id) AS term",
        "cast(id % 4 AS int) AS tbucket",
        "cast(id AS int) AS df",
    )
    root = str(tmp_path / "iceroot")
    catalog.write_table(df, root, "postings", partition_by=["tbucket"])

    got = catalog.read_table(spark, root, "postings")
    assert got.count() == 20
    assert {r["term"] for r in got.collect()} == \
        {f"t{i}" for i in range(20)}
    # parquet fallback must NOT have run alongside the catalog write
    assert catalog.read_snapshot(root) is None

    part = spark.sql(f"SELECT * FROM {ice}.postings.partitions")
    assert part.count() >= 1  # spec applied: per-partition metadata rows


def test_live_snapshot_history_and_resume(spark, ice, tmp_path):
    """createOrReplace is snapshot-isolated: each write_table adds a
    snapshot, the previous one stays addressable, and a resume/rollback
    reads the PRE-replace data via time travel — the catalog-native
    analogue of the parquet path's manifest-checked stage resume."""
    root = str(tmp_path / "iceroot2")
    v1 = spark.range(5).selectExpr("cast(id AS long) AS doc_id")
    catalog.write_table(v1, root, "docs")
    snaps1 = spark.sql(
        f"SELECT snapshot_id FROM {ice}.docs.snapshots "
        "ORDER BY committed_at").collect()
    assert len(snaps1) >= 1
    first = snaps1[-1]["snapshot_id"]

    v2 = spark.range(9).selectExpr("cast(id AS long) AS doc_id")
    catalog.write_table(v2, root, "docs")
    snaps2 = spark.sql(
        f"SELECT snapshot_id FROM {ice}.docs.snapshots").collect()
    assert len(snaps2) > len(snaps1)

    assert catalog.read_table(spark, root, "docs").count() == 9
    old = spark.sql(
        f"SELECT * FROM {ice}.docs VERSION AS OF {first}")
    assert old.count() == 5  # pre-replace snapshot still serves
