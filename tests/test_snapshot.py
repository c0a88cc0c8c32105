"""The snapshot commit: a reader pins the snapshot published when it
opened and serves it through later commits, and a crash at publish
leaves the committed index serving and its files swept."""

import json
import os
import shutil

import pandas as pd
import pytest

from search_engine_wikipedia_spark import schemas
from search_engine_wikipedia_spark.operators import ingest
from search_engine_wikipedia_spark.operators.build import IndexBuilder
from search_engine_wikipedia_spark.plans.query import SearchIndex, WikiSearcher
from search_engine_wikipedia_spark.sources import catalog
from search_engine_wikipedia_spark.synth import QUERIES

from tests.test_delete import _victim_urls
from tests.test_ingest import _term_stats_fingerprint, _unlisted_files


def _pages_df(spark, pages):
    return spark.createDataFrame(pd.DataFrame(pages), schema=schemas.PAGES)


def _results(index, queries):
    s = WikiSearcher(index)
    out = {}
    for q in queries:
        res = s.search(q, limit=10, exp=False, page_rank=False,
                       with_meta=True)
        out[q] = sorted((round(d["score"], 6), d["link"])
                        for d in res["docs"])
    return out


@pytest.fixture(scope="module")
def tombstoned(spark, corpus, tmp_path_factory):
    """250 pages with the top 3 hits of QUERIES[2] tombstoned; returns
    (root, victims, R) with R a fresh reader's results on QUERIES[:6]."""
    root = str(tmp_path_factory.mktemp("snap_base"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:250]), resume=False)
    victims = _victim_urls(spark, root, QUERIES[2], k=3)
    assert ingest.delete_urls(spark, root, victims) == 3
    return root, victims, _results(SearchIndex(spark, root), QUERIES[:6])


def test_reader_opened_during_compact_sees_the_committed_index(
        spark, tombstoned, tmp_path, monkeypatch):
    base, _, want = tombstoned
    root = str(tmp_path / "idx")
    shutil.copytree(base, root)
    orig = ingest.reencode_segments
    seen = []

    def reader_mid_compact(*a, **kw):
        if not seen:  # compact has rewritten docs
            seen.append(_results(SearchIndex(spark, root), QUERIES[:6]))
        return orig(*a, **kw)

    monkeypatch.setattr(ingest, "reencode_segments", reader_mid_compact)
    assert ingest.compact(spark, root) == 3
    assert seen == [want]


def test_reader_opened_before_compact_keeps_its_snapshot(
        spark, corpus, tombstoned, tmp_path):
    base, victims, want = tombstoned
    root = str(tmp_path / "idx")
    shutil.copytree(base, root)
    before = SearchIndex(spark, root)
    _results(before, QUERIES[:3])  # caches some terms, not all
    assert ingest.compact(spark, root) == 3

    assert _results(before, QUERIES[:6]) == want
    fresh = str(tmp_path / "fresh")
    IndexBuilder(spark, fresh, n_segments=4, shard_size=200).build(
        _pages_df(spark, [p for p in corpus[:250]
                          if p["url"] not in set(victims)]),
        resume=False)
    after = _results(SearchIndex(spark, root), QUERIES[:6])
    assert after == _results(SearchIndex(spark, fresh), QUERIES[:6])
    assert after != want

    retired = catalog.read_snapshot(root)["retired"]
    assert retired
    assert all(os.path.exists(os.path.join(root, f)) for f in retired)
    ingest.delete_urls(spark, root, [])
    assert not any(os.path.exists(os.path.join(root, f)) for f in retired)


@pytest.fixture(scope="module")
def lifecycle_base(spark, corpus, tmp_path_factory):
    """150 pages in 4 segments, one appended segment, 3 tombstones."""
    root = str(tmp_path_factory.mktemp("snap_lifecycle"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:150]), resume=False)
    assert ingest.append_pages(spark, root,
                               _pages_df(spark, corpus[150:170])) > 0
    victims = _victim_urls(spark, root, QUERIES[1], k=3)
    assert ingest.delete_urls(spark, root, victims) == 3
    return root


def _ops(spark, root, corpus):
    docs = catalog.read_table(spark, root, "docs")
    live = docs.join(catalog.read_table(spark, root, "tombstones"),
                     "doc_id", "left_anti")
    urls = sorted(r["url"] for r in live.select("url").collect())
    by_url = {p["url"]: p for p in corpus}
    revised = [dict(by_url[u], text=by_url[u]["text"] + " qqrevised")
               for u in urls[:3]]
    return {
        "append_pages": lambda: ingest.append_pages(
            spark, root, _pages_df(spark, corpus[170:200])),
        "upsert_pages": lambda: ingest.upsert_pages(
            spark, root, _pages_df(spark, revised)),
        "delete_urls": lambda: ingest.delete_urls(spark, root, urls[3:6]),
        "compact": lambda: ingest.compact(spark, root),
        "optimize_segments": lambda: ingest.optimize_segments(
            spark, root, max_segments=2),
    }


def _state(spark, root):
    index = SearchIndex(spark, root, max_tombstone_frac=None)
    return (_term_stats_fingerprint(spark, root),
            sorted(index.tombstones.tolist()),
            _results(index, QUERIES[:4]))


@pytest.mark.parametrize("op", ["append_pages", "upsert_pages",
                                "delete_urls", "compact",
                                "optimize_segments"])
def test_crash_at_publish_keeps_the_committed_index(
        spark, corpus, lifecycle_base, tmp_path, monkeypatch, op):
    """A crash inside ``catalog.commit``, after the op wrote every file
    but before its snapshot lands: the index serves the pre-op state,
    the next entry sweeps the op's files, and a replay equals an
    uncrashed run."""
    clean = str(tmp_path / "clean")
    shutil.copytree(lifecycle_base, clean)
    want_out = _ops(spark, clean, corpus)[op]()
    want = _state(spark, clean)

    root = str(tmp_path / "crashed")
    shutil.copytree(lifecycle_base, root)
    pre = _state(spark, root)
    orig = catalog.write_json

    def dying(path, obj):
        if os.path.basename(path) == catalog.SNAPSHOT_NAME:
            with open(path + ".tmp", "w") as f:
                json.dump(obj, f)
            raise RuntimeError("injected crash at publish")
        return orig(path, obj)

    monkeypatch.setattr(catalog, "write_json", dying)
    with pytest.raises(RuntimeError, match="injected"):
        _ops(spark, root, corpus)[op]()
    monkeypatch.undo()
    assert _state(spark, root) == pre
    assert _unlisted_files(root)  # the op did write its files

    assert ingest.delete_urls(spark, root, []) == 0  # the next entry
    assert not _unlisted_files(root)
    assert _ops(spark, root, corpus)[op]() == want_out  # the replay
    assert _state(spark, root) == want
