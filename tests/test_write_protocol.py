"""The maintenance write protocol: every public maintenance op sweeps
the files of a crashed append on entry, full overwrites replace every
partition whatever the session's ``partitionOverwriteMode`` says, a
crashed append leaves the shard layout as it was, and a table without
a recorded schema is refused instead of re-inferred."""

import json
import os
import shutil

import pandas as pd
import pytest

from search_engine_wikipedia_spark import schemas
from search_engine_wikipedia_spark.operators import ingest
from search_engine_wikipedia_spark.operators.build import (
    IndexBuilder,
    term_freqs,
)
from search_engine_wikipedia_spark.sources import catalog

from tests.test_ingest import _term_stats_fingerprint, _unlisted_files

SHARD = 200


def _pages_df(spark, pages):
    if not pages:
        return spark.createDataFrame([], schema=schemas.PAGES)
    return spark.createDataFrame(pd.DataFrame(pages), schema=schemas.PAGES)


def _crash_once(monkeypatch, name):
    """Make ``ingest.<name>`` raise on its first call only."""
    orig = getattr(ingest, name)
    calls = {"n": 0}

    def dying(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError(f"injected crash at {name}")
        return orig(*a, **kw)

    monkeypatch.setattr(ingest, name, dying)


@pytest.fixture(scope="module")
def base_index(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("protocol_base"))
    IndexBuilder(spark, root, n_segments=4, shard_size=SHARD).build(
        _pages_df(spark, corpus[:150]), resume=False)
    return root


def _copy(base, tmp_path, name):
    root = str(tmp_path / name)
    shutil.copytree(base, root)
    return root


_NOOP_OPS = {
    "append_pages": lambda spark, root: ingest.append_pages(
        spark, root, _pages_df(spark, [])),
    "upsert_pages": lambda spark, root: ingest.upsert_pages(
        spark, root, _pages_df(spark, [])),
    "delete_urls": lambda spark, root: ingest.delete_urls(spark, root, []),
    "delete_where": lambda spark, root: ingest.delete_where(
        spark, root, "false"),
    "compact": lambda spark, root: ingest.compact(
        spark, root),
    "optimize_segments": lambda spark, root: ingest.optimize_segments(
        spark, root, max_segments=1000),
}


@pytest.mark.parametrize("op", sorted(_NOOP_OPS))
def test_every_maintenance_entry_settles_a_crashed_append(
        spark, corpus, base_index, tmp_path, monkeypatch, op):
    """Each public maintenance op, called with no-op arguments, sweeps
    the files of a crashed append, which published nothing."""
    root = _copy(base_index, tmp_path, op)
    pre = _term_stats_fingerprint(spark, root)
    _crash_once(monkeypatch, "build_segments")
    snap_id = catalog.read_snapshot(root)["id"]
    with pytest.raises(RuntimeError, match="injected"):
        ingest.append_pages(spark, root, _pages_df(spark, corpus[150:180]))
    assert catalog.read_snapshot(root)["id"] == snap_id

    _NOOP_OPS[op](spark, root)
    assert not _unlisted_files(root)
    assert _term_stats_fingerprint(spark, root) == pre


def test_full_overwrite_ignores_dynamic_session_mode(spark, corpus,
                                                     tmp_path):
    """A rebuild over an existing root replaces every tbucket partition
    even when the session defaults to dynamic partition overwrite — no
    term of the previous index may survive — and leaves the session
    conf as it found it."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        root = str(tmp_path / "rebuilt")
        IndexBuilder(spark, root, n_segments=2, shard_size=SHARD,
                     n_term_buckets=4096).build(
            _pages_df(spark, corpus[:120]), resume=False)
        IndexBuilder(spark, root, n_segments=2, shard_size=SHARD,
                     n_term_buckets=4096).build(
            _pages_df(spark, corpus[200:220]), resume=False)
        assert spark.conf.get(key) == "dynamic"
    finally:
        spark.conf.set(key, prev)
    b_terms = {r["term"] for r in term_freqs(catalog.read_table(
        spark, root, "docs")).select("term").distinct().collect()}
    posted = {r["term"] for r in catalog.read_table(
        spark, root, "postings").select("term").distinct().collect()}
    assert posted and posted <= b_terms, sorted(posted - b_terms)[:10]


def _shard_counts(spark, root):
    return sorted(
        (r["term"], r["field"], int(r["n"]))
        for r in catalog.read_table(spark, root, "postings")
        .groupBy("term", "field").count().withColumnRenamed("count", "n")
        .collect()
    )


@pytest.mark.parametrize("crash_at", ["build_segments", "remerge"])
def test_crash_recovery_keeps_the_appends_shard_size(
        spark, corpus, tmp_path, monkeypatch, crash_at):
    """A crashed append publishes nothing and the next entry sweeps
    its files: the head-term shard layout equals the pre-crash
    index's."""
    root = str(tmp_path / "sharded")
    IndexBuilder(spark, root, n_segments=4, shard_size=20).build(
        _pages_df(spark, corpus[:200]), resume=False)
    pre = _shard_counts(spark, root)
    assert any(n > 1 for _, _, n in pre)  # some term has df > 20

    _crash_once(monkeypatch, crash_at)
    snap_id = catalog.read_snapshot(root)["id"]
    with pytest.raises(RuntimeError, match="injected"):
        ingest.append_pages(spark, root, _pages_df(spark, corpus[200:240]))
    assert catalog.read_snapshot(root)["id"] == snap_id
    monkeypatch.undo()
    assert ingest.delete_urls(spark, root, []) == 0
    assert not _unlisted_files(root)
    assert _shard_counts(spark, root) == pre


def test_append_refuses_table_without_recorded_schema(
        spark, corpus, base_index, tmp_path):
    """The append guard never re-infers a schema from the directory: an
    existing table with no entry in the schema registry is refused."""
    root = _copy(base_index, tmp_path, "no_schema")
    path = os.path.join(root, catalog.SCHEMA_META_NAME)
    with open(path) as f:
        meta = json.load(f)
    del meta["tables"]["docs"]
    catalog.write_schema_meta(root, meta)
    with pytest.raises(ValueError, match="no schema recorded"):
        ingest.append_pages(spark, root, _pages_df(spark, corpus[150:160]))


def _layout(spark, root):
    """Per (term, field): its shard count and the tbucket of every row."""
    return sorted(
        (r["term"], r["field"], int(r["n_shards"]), int(r["tbucket"]))
        for r in catalog.read_table(spark, root, "postings")
        .select("term", "field", "n_shards", "tbucket").distinct()
        .collect()
    )


def test_maintenance_follows_the_recorded_settings(spark, corpus,
                                                    tmp_path):
    """Append, upsert and compact take no settings: they re-merge with
    the shard size and tbucket count the build recorded, so the result
    equals a fresh build over the survivors with those settings.  16
    segments keep the segment count from capping any shard count at
    this corpus size, so the shard layout depends on df alone."""
    settings = {"n_segments": 16, "shard_size": 20, "n_term_buckets": 64}
    root = str(tmp_path / "maintained")
    IndexBuilder(spark, root, **settings).build(
        _pages_df(spark, corpus[:150]), resume=False)
    assert ingest.append_pages(
        spark, root, _pages_df(spark, corpus[150:200])) > 0
    indexed = {r["url"] for r in catalog.read_table(spark, root, "docs")
               .select("url").collect()}
    updated = [dict(p, text=(p["text"] or "") + " qqrevised")
               for p in corpus[:150] if p["url"] in indexed][:3]
    assert ingest.upsert_pages(spark, root, _pages_df(spark, updated)) == (
        3, 3)
    assert ingest.compact(spark, root) == 3

    fresh = str(tmp_path / "fresh")
    revised = {p["url"]: p for p in updated}
    IndexBuilder(spark, fresh, **settings).build(
        _pages_df(spark, [revised.get(p["url"], p) for p in corpus[:200]]),
        resume=False)
    assert any(n > 1 for _, _, n, _ in _layout(spark, fresh))
    assert _layout(spark, root) == _layout(spark, fresh)
    assert (_term_stats_fingerprint(spark, root)
            == _term_stats_fingerprint(spark, fresh))
