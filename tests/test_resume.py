"""Checkpoint/resume (north rule: "resumable from checkpoint with
per-partition lineage").

Simulates executor/driver loss mid-segment-phase via fault injection,
then resumes and asserts (a) completed segments are NOT recomputed
(segment-level lineage drives the skip) and (b) the resumed index is
byte-identical to a clean single-shot build.
"""

import pandas as pd
import pytest

from search_engine_wikipedia_spark import schemas
from search_engine_wikipedia_spark.operators import build as build_mod
from search_engine_wikipedia_spark.sources import catalog


@pytest.fixture(scope="module")
def pages_df(spark, corpus):
    return spark.createDataFrame(pd.DataFrame(corpus), schema=schemas.PAGES)


def _postings_fingerprint(spark, root):
    rows = (
        catalog.read_table(spark, root, "postings")
        .select("term", "field", "shard_id", "n_shards", "term_df",
                "term_cf", "df", "cf", "doc_ids", "tfs", "fls")
        .collect()
    )
    return sorted(
        (r["term"], r["field"], r["shard_id"], r["n_shards"], r["term_df"],
         r["term_cf"], r["df"], r["cf"], bytes(r["doc_ids"]),
         bytes(r["tfs"]), bytes(r["fls"]))
        for r in rows
    )


def test_segment_failure_resume_identical(spark, pages_df, tmp_path,
                                          monkeypatch):
    clean_root = str(tmp_path / "clean")
    build_mod.IndexBuilder(
        spark, clean_root, n_segments=4, shard_size=200
    ).build(pages_df, resume=False)
    clean = _postings_fingerprint(spark, clean_root)

    # --- faulty build: die on the 3rd segment batch --------------------
    root = str(tmp_path / "faulty")
    calls = {"n": 0}
    orig = build_mod.build_segments

    def flaky(tf):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected executor loss")
        return orig(tf)

    monkeypatch.setattr(build_mod, "build_segments", flaky)
    builder = build_mod.IndexBuilder(
        spark, root, n_segments=4, shard_size=200, segment_batches=4
    )
    with pytest.raises(RuntimeError, match="injected"):
        builder.build(pages_df, resume=True)

    done = catalog.completed_segments(spark, root, "postings_seg")
    assert len(done) == 2, done  # two batches committed before the loss

    # --- resume: only the missing segments run -------------------------
    monkeypatch.setattr(build_mod, "build_segments", orig)
    calls_before = calls["n"]
    tokenized = []
    orig_tf = build_mod.term_freqs

    def counting_tf(docs, *a, **kw):
        tokenized.extend(r["doc_id"] for r in docs.select("doc_id").collect())
        return orig_tf(docs, *a, **kw)

    monkeypatch.setattr(build_mod, "term_freqs", counting_tf)
    resumed = build_mod.IndexBuilder(
        spark, root, n_segments=4, shard_size=200, segment_batches=4
    )
    resumed.build(pages_df, resume=True)
    # the docs stage was skipped entirely (no re-timing), and the
    # resume tokenized exactly the docs of the two segments it lacked
    assert "docs" not in resumed.metrics
    assert calls["n"] == calls_before  # our counter: orig restored
    docs = catalog.read_table(spark, root, "docs")
    seg_of = build_mod.segment_of(4, resumed.n_docs)
    lacking = sorted(r["doc_id"] for r in docs.where(
        seg_of.isin(sorted({0, 1, 2, 3} - done))).collect())
    assert 0 < len(lacking) < docs.count()
    assert sorted(tokenized) == lacking

    assert catalog.completed_segments(spark, root, "postings_seg") == {
        0, 1, 2, 3}
    assert _postings_fingerprint(spark, root) == clean


def test_crash_between_write_and_lineage_no_duplicates(spark, pages_df,
                                                       tmp_path, monkeypatch):
    """The atomicity window: segment parquet COMMITS, then the driver
    dies before the lineage row lands.  Resume must re-run that segment
    WITHOUT duplicating its postings (dynamic partition overwrite makes
    the re-run idempotent)."""
    clean_root = str(tmp_path / "clean")
    build_mod.IndexBuilder(
        spark, clean_root, n_segments=4, shard_size=200
    ).build(pages_df, resume=False)
    clean = _postings_fingerprint(spark, clean_root)

    root = str(tmp_path / "faulty")
    orig_lineage = catalog.append_lineage
    seg_calls = {"n": 0}

    def dying_lineage(spark_, root_, rows):
        if rows and rows[0].get("stage") == "postings_seg":
            seg_calls["n"] += 1
            if seg_calls["n"] == 2:
                # parquet job for batch 2 already committed; lineage lost
                raise RuntimeError("injected driver loss before lineage")
        return orig_lineage(spark_, root_, rows)

    monkeypatch.setattr(build_mod.catalog, "append_lineage", dying_lineage)
    with pytest.raises(RuntimeError, match="injected"):
        build_mod.IndexBuilder(
            spark, root, n_segments=4, shard_size=200, segment_batches=4
        ).build(pages_df, resume=True)

    # batch 2's files are on disk but unrecorded — the crash window
    done = catalog.completed_segments(spark, root, "postings_seg")
    assert len(done) == 1, done
    orphan_rows = (
        spark.read.parquet(catalog.table_path(root, "postings_seg")).count()
    )
    assert orphan_rows > 0

    monkeypatch.setattr(build_mod.catalog, "append_lineage", orig_lineage)
    build_mod.IndexBuilder(
        spark, root, n_segments=4, shard_size=200, segment_batches=4
    ).build(pages_df, resume=True)
    assert catalog.completed_segments(spark, root, "postings_seg") == {
        0, 1, 2, 3}
    assert _postings_fingerprint(spark, root) == clean


def _persistent_rdd_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_build_releases_caches(spark, pages_df, tmp_path):
    """IndexBuilder.build must not leave new session-lifetime caches
    (the cleaned-corpus cache of assign_doc_ids is released after the
    docs table commits)."""
    before = _persistent_rdd_ids(spark)
    build_mod.IndexBuilder(
        spark, str(tmp_path / "idx"), n_segments=2, shard_size=200
    ).build(pages_df, resume=False)
    leaked = _persistent_rdd_ids(spark) - before
    assert leaked == set(), leaked


def test_resume_noop_when_complete(spark, pages_df, tmp_path):
    root = str(tmp_path / "idx")
    build_mod.IndexBuilder(
        spark, root, n_segments=2, shard_size=200
    ).build(pages_df, resume=False)
    again = build_mod.IndexBuilder(spark, root, n_segments=2, shard_size=200)
    again.build(pages_df, resume=True)
    assert again.metrics == {}  # every stage skipped via manifests


def test_iceberg_seam_routes_through_writeTo(spark, monkeypatch, tmp_path):
    """When an Iceberg catalog is configured, write_table must route
    through the DataFrameWriterV2 seam (`writeTo("idx.<name>")` +
    `partitionedBy(col...)` + `createOrReplace`) instead of the parquet
    fallback.  The sandbox has no Iceberg runtime jar, so the catalog
    side is mocked — this pins the seam's API so a jar-present
    deployment exercises the exact calls asserted here."""
    calls: dict = {}

    class FakeV2Writer:
        def __init__(self, table):
            calls["table"] = table

        def partitionedBy(self, *cols):
            calls["partitioned_by"] = [str(c) for c in cols]
            return self

        def createOrReplace(self):
            calls["created"] = True

    monkeypatch.setattr(catalog, "catalog_name", lambda s: "idx")
    df = spark.range(4).selectExpr("id AS term", "cast(id % 2 AS int) AS tbucket")
    # patch the concrete class (pyspark.sql.classic.DataFrame in Spark 4+
    # overrides the pyspark.sql.DataFrame base)
    monkeypatch.setattr(type(df), "writeTo",
                        lambda self, table: FakeV2Writer(table),
                        raising=True)
    catalog.write_table(df, str(tmp_path / "iceroot"), "postings",
                        partition_by=["tbucket"])
    assert calls["table"] == "idx.postings"
    assert calls["created"] is True
    assert len(calls["partitioned_by"]) == 1
    assert "tbucket" in calls["partitioned_by"][0]
    # the parquet fallback (snapshot commit) must NOT have run
    assert catalog.read_snapshot(str(tmp_path / "iceroot")) is None


def test_iceberg_enabled_is_a_dedicated_opt_in(spark):
    """The gate keys on the DEDICATED ``spark.sewiki.catalog`` conf —
    absent in the test session (parquet fallback is the tested path) —
    and specifically NOT on a sniff for any ``spark.sql.catalog.*``
    key: a session carrying someone else's lakehouse catalog must not
    flip index reads onto a namespace that doesn't hold our tables."""
    assert catalog.iceberg_enabled(spark) is False
    spark.conf.set("spark.sql.catalog.other", "org.example.SomeCatalog")
    try:
        assert catalog.iceberg_enabled(spark) is False  # unrelated
        spark.conf.set(catalog.CATALOG_CONF, "other")
        assert catalog.catalog_name(spark) == "other"  # explicit opt-in
    finally:
        spark.conf.unset("spark.sql.catalog.other")
        spark.conf.unset(catalog.CATALOG_CONF)


def test_dangling_catalog_opt_in_fails_fast(spark):
    """spark.sewiki.catalog naming a catalog with no implementation
    conf is a misconfiguration — fail at the gate, not as a confusing
    table-not-found at first read."""
    spark.conf.set(catalog.CATALOG_CONF, "ghost")
    try:
        with pytest.raises(ValueError, match="spark.sql.catalog.ghost"):
            catalog.catalog_name(spark)
    finally:
        spark.conf.unset(catalog.CATALOG_CONF)


def test_maintenance_refuses_under_catalog(spark, tmp_path):
    """The maintenance ops implement the parquet-DIR protocol
    (journaled file snapshots, hard-link swaps) — file writes a table
    catalog never sees.  With a catalog configured they must refuse
    loudly instead of silently diverging the directory from the
    catalog's snapshot (readers would serve stale data forever); the
    Iceberg-native equivalents are DELETE FROM / MERGE INTO /
    rewrite_data_files."""
    from search_engine_wikipedia_spark.operators import ingest

    spark.conf.set("spark.sql.catalog.lake", "org.example.SomeCatalog")
    spark.conf.set(catalog.CATALOG_CONF, "lake")
    try:
        root = str(tmp_path / "cat_idx")
        for op in (
            lambda: ingest.append_pages(spark, root, spark.range(0)),
            lambda: ingest.delete_urls(spark, root, ["u"]),
            lambda: ingest.compact(spark, root),
            lambda: ingest.optimize_segments(spark, root),
        ):
            with pytest.raises(NotImplementedError,
                               match="parquet-dir maintenance"):
                op()
    finally:
        spark.conf.unset("spark.sql.catalog.lake")
        spark.conf.unset(catalog.CATALOG_CONF)


def test_iceberg_seam_routes_reads_through_table(spark, monkeypatch,
                                                 tmp_path):
    """The read half of the seam: with a catalog configured,
    read_table resolves by NAME (`spark.table("idx.<name>")` —
    snapshot reads, hidden-partition pruning), not by parquet path."""
    seen = {}
    real = spark.range(3).selectExpr("id AS doc_id")

    def fake_table(name):
        seen["name"] = name
        return real

    monkeypatch.setattr(catalog, "catalog_name", lambda s: "idx")
    monkeypatch.setattr(spark, "table", fake_table, raising=True)
    got = catalog.read_table(spark, str(tmp_path / "noexist"), "docs")
    assert seen["name"] == "idx.docs"
    assert got is real  # no parquet path touched (dir doesn't exist)


def _crash_segment_batch(monkeypatch, n):
    """Make ``build_segments`` raise on its ``n``-th call."""
    orig = build_mod.build_segments
    calls = {"n": 0}

    def flaky(tf):
        calls["n"] += 1
        if calls["n"] == n:
            raise RuntimeError("injected executor loss")
        return orig(tf)

    monkeypatch.setattr(build_mod, "build_segments", flaky)


def test_resume_refuses_changed_settings(spark, pages_df, tmp_path,
                                         monkeypatch):
    """A build that crashed in its segment phase resumes only with the
    settings it recorded: a different segment count or shard size
    would finish the index with stages that disagree."""
    root = str(tmp_path / "idx")
    _crash_segment_batch(monkeypatch, 3)
    with pytest.raises(RuntimeError, match="injected"):
        build_mod.IndexBuilder(
            spark, root, n_segments=4, shard_size=200, segment_batches=4
        ).build(pages_df, resume=True)
    monkeypatch.undo()
    for changed in ({"n_segments": 2, "shard_size": 200},
                    {"n_segments": 4, "shard_size": 50}):
        with pytest.raises(ValueError, match="pass resume=False"):
            build_mod.IndexBuilder(
                spark, root, segment_batches=4, **changed
            ).build(pages_df, resume=True)


def test_fresh_build_drops_the_old_index_state(spark, corpus, tmp_path):
    """``resume=False`` over an existing index starts from an empty
    directory: the old index's tombstones, pagerank and lineage hold
    doc_ids of another corpus and must not survive."""
    from search_engine_wikipedia_spark.operators import ingest
    from search_engine_wikipedia_spark.operators.pagerank import (
        build_pagerank_stage,
    )
    from search_engine_wikipedia_spark.plans.query import SearchIndex

    root = str(tmp_path / "idx")
    old = spark.createDataFrame(pd.DataFrame(corpus[:150]),
                                schema=schemas.PAGES)
    build_mod.IndexBuilder(spark, root, n_segments=2).build(
        old, resume=False)
    build_pagerank_stage(spark, root)
    urls = [r["url"] for r in catalog.read_table(spark, root, "docs")
            .orderBy("doc_id").limit(37).collect()]
    assert ingest.delete_urls(spark, root, urls) == 37

    new = spark.createDataFrame(pd.DataFrame(corpus[150:]),
                                schema=schemas.PAGES)
    build_mod.IndexBuilder(spark, root, n_segments=2).build(
        new, resume=False)
    for name in ("tombstones", "pagerank"):
        assert not catalog.table_exists(root, name), name
    assert SearchIndex(spark, root).tombstones.size == 0
    n_docs = catalog.read_table(spark, root, "docs").count()
    lineage = [(r["stage"], r["n_docs"]) for r in
               catalog.read_lineage(spark, root)
               .where("stage = 'docs'").collect()]
    assert lineage == [("docs", n_docs)]


def test_resumed_rebuild_ignores_the_old_index(spark, corpus, tmp_path,
                                               monkeypatch):
    """A ``resume=False`` rebuild that crashes in its segment phase and
    is then resumed serves the new corpus only: the old build's segment
    lineage and committed postings are gone, not trusted."""
    old = spark.createDataFrame(pd.DataFrame(corpus[:150]),
                                schema=schemas.PAGES)
    new = spark.createDataFrame(pd.DataFrame(corpus[150:]),
                                schema=schemas.PAGES)
    clean_root = str(tmp_path / "clean")
    build_mod.IndexBuilder(
        spark, clean_root, n_segments=4, shard_size=200
    ).build(new, resume=False)

    root = str(tmp_path / "rebuilt")
    settings = {"n_segments": 4, "shard_size": 200, "segment_batches": 4}
    build_mod.IndexBuilder(spark, root, **settings).build(
        old, resume=False)
    _crash_segment_batch(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="injected"):
        build_mod.IndexBuilder(spark, root, **settings).build(
            new, resume=False)
    monkeypatch.undo()
    build_mod.IndexBuilder(spark, root, **settings).build(new, resume=True)
    assert _postings_fingerprint(spark, root) == _postings_fingerprint(
        spark, clean_root)
