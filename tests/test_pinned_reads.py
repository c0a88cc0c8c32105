"""The interactive read path: ``SearchIndex`` serves postings, wildcard
expansion, tombstones, PageRank and doc metadata from the files of its
pinned snapshot with pyarrow — no Spark job — and returns what a Spark
read of the same pinned tables returns."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_wikipedia_spark import schemas
from search_engine_wikipedia_spark.operators import ingest
from search_engine_wikipedia_spark.operators.build import IndexBuilder
from search_engine_wikipedia_spark.plans.query import (
    POSTING_COLS, SearchIndex, WikiSearcher,
)
from search_engine_wikipedia_spark.sources import catalog
from search_engine_wikipedia_spark.synth import QUERIES

from tests.test_delete import _victim_urls

GUI = dict(limit=10, exp=True, page_rank=True, with_meta=True)
KEYS = [("text", "roman"), ("title", "roman"), ("text", "empir"),
        ("text", "histori"), ("title", "zzzabsent")]


@pytest.fixture(scope="module")
def ranked_tombstoned(spark, built_index, tmp_path_factory):
    """A copy of the session index (it has a pagerank table) with the
    top 3 hits of QUERIES[2] tombstoned."""
    root = str(tmp_path_factory.mktemp("pinned") / "idx")
    shutil.copytree(built_index[0], root)
    victims = _victim_urls(spark, root, QUERIES[2], k=3)
    assert ingest.delete_urls(spark, root, victims) == 3
    return root


def _spark_doc_meta(spark, root, snap, ids):
    rows = (catalog.read_table(spark, root, "docs", snap)
            .where(F.col("doc_id").isin(ids))
            .select("doc_id", "url", "title", "clean_text").collect())
    return {r["doc_id"]: r.asDict() for r in rows}


def _spark_pagerank(spark, root, snap, ids):
    rows = (catalog.read_table(spark, root, "pagerank", snap)
            .where(F.col("doc_id").isin(ids)).collect())
    return {r["doc_id"]: r["pr"] for r in rows}


def _plain(row):
    return {c: bytes(row[c]) if isinstance(row[c], (bytes, bytearray))
            else row[c] for c in POSTING_COLS}


def _assert_reads_match_spark(spark, root, index):
    snap = index.snapshot
    n = index.stats.n_docs
    for ids in ([0, 7, n // 2, n - 1, -5, 10 ** 9], [10 ** 9], []):
        assert index.doc_meta(ids) == _spark_doc_meta(spark, root, snap, ids)
        assert index.pagerank_for(ids) == _spark_pagerank(
            spark, root, snap, ids)
    assert index.doc_meta([0, n - 1])  # not vacuous
    assert index.pagerank_for([0, n - 1])

    plists = index.fetch_postings(KEYS)
    scan = catalog.read_table(spark, root, "postings", snap)
    for field, term in KEYS:
        want = (scan.where((F.col("field") == field)
                           & (F.col("term") == term))
                .select(*POSTING_COLS).orderBy("shard_id").collect())
        got = plists[(field, term)]
        assert [_plain(r) for r in want] == (
            [] if got is None else [_plain(r) for r in got.shards])
    assert plists[("text", "roman")] is not None
    assert plists[("title", "zzzabsent")] is None


def test_interactive_search_runs_no_spark_job(spark, ranked_tombstoned):
    """Opening a reader, a cold GUI-flag search, its hot repeat and a
    wildcard query run no Spark job on an index with pagerank and
    tombstones."""
    sc = spark.sparkContext
    group = "interactive_no_job"
    sc.setJobGroup(group, "interactive path job count")
    try:
        index = SearchIndex(spark, ranked_tombstoned)
        searcher = WikiSearcher(index)
        cold = searcher.search(QUERIES[2], **GUI)
        hot = searcher.search(QUERIES[2], **GUI)
        wild = searcher.search("rob*", **GUI)
        tombstones = index.tombstones
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    assert tombstones.size == 3
    assert cold == dict(hot, time_second=cold["time_second"])
    for res in (cold, wild):
        assert res["docs"]
        assert not {d["doc_id"] for d in res["docs"]} & set(
            tombstones.tolist())
        assert any(d["page_rank"] != -1 for d in res["docs"])
        assert all(d["link"].startswith("https://") for d in res["docs"])


def test_reads_match_spark_reads_of_the_pinned_tables(
        spark, ranked_tombstoned):
    _assert_reads_match_spark(spark, ranked_tombstoned,
                              SearchIndex(spark, ranked_tombstoned))


def test_reader_opened_before_compact_reads_its_snapshot(
        spark, ranked_tombstoned, tmp_path):
    """A reader opened before ``compact`` and first read after it still
    serves the snapshot it pinned, from the files compact retired."""
    root = str(tmp_path / "idx")
    shutil.copytree(ranked_tombstoned, root)
    before = SearchIndex(spark, root)
    dead = before.tombstones.tolist()
    assert ingest.compact(spark, root) == 3
    assert catalog.read_snapshot(root)["id"] != before.snapshot["id"]

    _assert_reads_match_spark(spark, root, before)
    # the tombstoned docs are still in the pinned docs table
    assert set(before.doc_meta(dead)) == set(dead)
    assert SearchIndex(spark, root).tombstones.size == 0


def test_lookup_opens_only_files_whose_footer_range_holds_a_key(
        spark, built_index, tmp_path):
    """The docs files hold disjoint doc_id ranges; once a reader has
    loaded their footers, a doc_id lookup skips the files whose range
    holds none of its ids — it still answers with one of them gone."""
    root = str(tmp_path / "idx")
    shutil.copytree(built_index[0], root)
    index = SearchIndex(spark, root)
    want = index.doc_meta([0, 1])
    ranges = sorted(
        (mn, mx, f) for f, _, mn, mx in catalog.file_stats(root, "docs",
                                                           "doc_id"))
    assert len(ranges) > 1 and ranges[0][0] == 0
    last_lo, last_hi, last_file = ranges[-1]
    assert last_lo > 1
    os.remove(last_file)
    assert index.doc_meta([0, 1]) == want
    with pytest.raises(FileNotFoundError):
        index.doc_meta([last_hi])


def test_root_path_with_an_equals_sign(spark, corpus, tmp_path):
    """Hive partitions are parsed below each table dir: an ``x=1`` dir
    in the index root is no partition column, and the index serves the
    same results as a copy of it under a plain path."""
    root = str(tmp_path / "x=1" / "idx")
    pages = spark.createDataFrame(pd.DataFrame(corpus[:120]),
                                  schema=schemas.PAGES)
    IndexBuilder(spark, root, n_segments=2, shard_size=200).build(
        pages, resume=False)
    plain = str(tmp_path / "plain" / "idx")
    shutil.copytree(root, plain)

    for name in ("docs", "postings", "field_stats"):
        names = catalog.arrow_dataset(root, name).schema.names
        assert "x" not in names, (name, names)
    got = WikiSearcher(SearchIndex(spark, root))
    want = WikiSearcher(SearchIndex(spark, plain))
    hits = 0
    for q in QUERIES[:6] + ["rob*"]:
        res = got.search(q, **GUI)
        ref = want.search(q, **GUI)
        assert res["docs"] == ref["docs"], q
        hits += len(res["docs"])
    assert hits
