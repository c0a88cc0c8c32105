"""Deletes: tombstones must hide docs from every query path immediately
(global stats unchanged — Lucene live-docs semantics), and ``compact``
must leave an index statistically identical to a fresh build over the
surviving corpus (score equality by url), crash-safely and idempotently.
"""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_wikipedia_spark import schemas
from search_engine_wikipedia_spark.operators import ingest
from search_engine_wikipedia_spark.operators.build import (
    IndexBuilder,
    term_freqs,
)
from search_engine_wikipedia_spark.plans.query import (
    SearchIndex,
    WikiSearcher,
    search_batch,
    search_batch_relational,
    search_many_broadcast,
)
from search_engine_wikipedia_spark.sources import catalog
from search_engine_wikipedia_spark.synth import QUERIES


def _pages_df(spark, corpus_slice):
    return spark.createDataFrame(pd.DataFrame(corpus_slice),
                                 schema=schemas.PAGES)


def _build(spark, root, pages_df):
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        pages_df, resume=False)


def _search_by_url(spark, root, queries, limit=10):
    s = WikiSearcher(SearchIndex(spark, root))
    out = {}
    for q in queries:
        res = s.search(q, limit=limit, exp=False, page_rank=False,
                       with_meta=True)
        out[q] = sorted(
            (round(d["score"], 6), d["link"]) for d in res["docs"]
        )
    return out


def _victim_urls(spark, root, query, k=3):
    """urls of the top-k hits for ``query`` — docs that demonstrably
    rank, so their disappearance is observable."""
    s = WikiSearcher(SearchIndex(spark, root))
    res = s.search(query, limit=k, exp=False, page_rank=False)
    return [d["link"] for d in res["docs"]]


@pytest.fixture(scope="module")
def deleted_index(spark, corpus, tmp_path_factory):
    """Index over 250 pages with the top hits of QUERIES[0] tombstoned.
    Returns (root, victim_urls, pre_delete_results)."""
    root = str(tmp_path_factory.mktemp("del_idx"))
    _build(spark, root, _pages_df(spark, corpus[:250]))
    # pre-delete snapshot DEEPER than the post-delete limit: removing
    # k=3 victims promotes ranks 11-13 into the post top-10, and those
    # must still be found (with identical scores) in the pre snapshot
    pre = _search_by_url(spark, root, QUERIES[:8], limit=20)
    victims = _victim_urls(spark, root, QUERIES[0], k=3)
    n = ingest.delete_urls(spark, root, victims)
    assert n == len(victims)
    return root, victims, pre


def test_tombstoned_docs_vanish_survivor_scores_identical(spark,
                                                          deleted_index):
    """Deleted docs stop ranking on every query; every surviving result
    keeps its EXACT pre-delete score (stats not recomputed until
    compact)."""
    root, victims, pre = deleted_index
    post = _search_by_url(spark, root, QUERIES[:8])
    vset = set(victims)
    for q in QUERIES[:8]:
        assert not {u for _, u in post[q]} & vset, q
        # survivors scored identically: post ⊆ pre with equal scores
        assert set(post[q]) <= set(pre[q]), q
    # and the flagship query demonstrably lost its victims
    assert set(pre[QUERIES[0]]) - set(post[QUERIES[0]])


def test_delete_is_idempotent(spark, deleted_index):
    root, victims, _ = deleted_index
    assert ingest.delete_urls(spark, root, victims) == 0


def test_all_query_paths_agree_on_live_docs(spark, deleted_index):
    """The distributed batch kernel, the broadcast serving path and the
    relational referee all apply the same live-docs filter."""
    root, victims, _ = deleted_index
    idx = SearchIndex(spark, root)
    dead_ids = set(int(d) for d in idx.tombstones)
    assert len(dead_ids) == len(victims)
    qs = QUERIES[:6]
    batch = search_batch(idx, qs, limit=10, exp=False, page_rank=False)
    bc = search_many_broadcast(idx, qs, limit=10)
    rel = search_batch_relational(idx, qs, limit=10)
    for name, df in [("batch", batch), ("broadcast", bc), ("rel", rel)]:
        hit = {int(r["doc_id"]) for r in df.select("doc_id").collect()}
        assert not hit & dead_ids, name

    def key(df):
        return sorted(
            (int(r["query_id"]), int(r["rank"]), int(r["doc_id"]))
            for r in df.collect()
        )

    assert key(batch) == key(bc) == key(rel)


def test_compact_equals_fresh_build_over_survivors(spark, corpus,
                                                   tmp_path_factory):
    """After compact: same term stats and same BM25 scores (by url) as a
    from-scratch build over the corpus minus the deleted pages; the
    tombstones table is gone and doc metadata of victims is dropped."""
    root = str(tmp_path_factory.mktemp("cmp_idx"))
    _build(spark, root, _pages_df(spark, corpus[:250]))
    victims = _victim_urls(spark, root, QUERIES[1], k=3)
    assert ingest.delete_urls(spark, root, victims) == 3
    assert ingest.compact(spark, root) == 3

    survivors = [p for p in corpus[:250] if p["url"] not in set(victims)]
    fresh = str(tmp_path_factory.mktemp("cmp_fresh"))
    _build(spark, fresh, _pages_df(spark, survivors))

    from tests.test_ingest import _term_stats_fingerprint

    assert (_term_stats_fingerprint(spark, root)
            == _term_stats_fingerprint(spark, fresh))
    got = _search_by_url(spark, root, QUERIES[:10])
    want = _search_by_url(spark, fresh, QUERIES[:10])
    assert got == want
    assert not catalog.table_exists(root, "tombstones")
    docs_urls = {r["url"] for r in catalog.read_table(spark, root, "docs")
                 .select("url").collect()}
    assert not docs_urls & set(victims)
    # compact with nothing tombstoned is a no-op
    assert ingest.compact(spark, root) == 0


def test_compact_rewrites_only_touched_buckets(spark, corpus,
                                               tmp_path_factory):
    """Deleting a doc with a tiny exotic vocabulary must rewrite only
    the tbucket partitions its terms hash into — O(touched), not
    O(index)."""
    import datetime as dt
    from pathlib import Path

    root = str(tmp_path_factory.mktemp("cb_idx"))
    extra = [{
        "url": f"https://en.wikipedia.org/wiki/Zz_{k}",
        "warc_ts": dt.datetime(2024, 6, 1), "html": b"",
        "text": " ".join(f"zzword{j}" for j in range(8)) * 3,
        "lang": "en",
    } for k in range(2)]
    IndexBuilder(spark, root, n_segments=4, shard_size=200,
                 n_term_buckets=256).build(
        _pages_df(spark, corpus[:250] + extra), resume=False)

    post = Path(root, "postings")

    def snapshot():
        return {
            str(f.relative_to(post)): (f.stat().st_size, f.stat().st_mtime_ns)
            for f in post.rglob("*.parquet")
        }

    before = snapshot()
    assert ingest.delete_urls(spark, root, [extra[0]["url"]]) == 1
    assert ingest.compact(spark, root) == 1
    after = snapshot()

    def bucket_of(rel):
        return rel.split("/")[0]

    changed = {bucket_of(p) for p in set(before) ^ set(after)}
    changed |= {bucket_of(p) for p in before.keys() & after.keys()
                if before[p] != after[p]}
    frac = len(changed) / len({bucket_of(p) for p in after})
    assert frac < 0.10, (sorted(changed), frac)
    # zzwords survive via extra[1]; the deleted doc's postings are gone
    seg = catalog.read_table(spark, root, "postings_seg")
    assert seg.where(F.col("term") == "zzword0").agg(
        F.sum("df")).collect()[0][0] == 1


def test_compact_drops_bucket_whose_terms_all_died(spark, corpus,
                                                   tmp_path_factory):
    """If every term hashing into a tbucket vanishes with the deleted
    doc, the snapshot must list no file of that partition any more."""
    import datetime as dt

    from search_engine_wikipedia_spark.functions.hashing import term_bucket

    root = str(tmp_path_factory.mktemp("dead_idx"))
    solo = {
        "url": "https://en.wikipedia.org/wiki/Solo_vocab",
        "warc_ts": dt.datetime(2024, 6, 1), "html": b"",
        "text": " ".join(f"vvuniq{j}" for j in range(6)) * 4,
        "lang": "en",
    }
    IndexBuilder(spark, root, n_segments=2, shard_size=200,
                 n_term_buckets=4096).build(
        _pages_df(spark, corpus[:100] + [solo]), resume=False)
    # with 4096 buckets over a tiny vocab, at least one of the solo
    # doc's terms should own its bucket exclusively
    from search_engine_wikipedia_spark.functions.porter import stem

    solo_terms = {stem(f"vvuniq{j}") for j in range(6)}
    all_terms = {
        r["term"] for r in term_freqs(catalog.read_table(spark, root, "docs"))
        .select("term").distinct().collect()
    }
    solo_buckets = {term_bucket(t, 4096) for t in solo_terms}
    other_buckets = {term_bucket(t, 4096)
                     for t in all_terms - solo_terms}
    exclusive = solo_buckets - other_buckets
    assert exclusive, "fixture needs an exclusively-owned bucket"

    assert ingest.delete_urls(spark, root, [solo["url"]]) == 1
    assert ingest.compact(spark, root) == 1
    for b in exclusive:
        assert not catalog.partition_files(root, "postings", "tbucket", [b])
    # queries still work and never return the dead doc
    res = _search_by_url(spark, root, QUERIES[:4])
    for q, hits in res.items():
        assert all("Solo_vocab" not in u for _, u in hits)


def test_compact_crash_is_recovered_by_next_op(spark, corpus,
                                               tmp_path_factory,
                                               monkeypatch):
    """A crash mid-compact publishes nothing (tombstones still listed),
    so the next maintenance call re-runs the whole compact."""
    root = str(tmp_path_factory.mktemp("crash_cmp"))
    _build(spark, root, _pages_df(spark, corpus[:250]))
    victims = _victim_urls(spark, root, QUERIES[2], k=2)
    assert ingest.delete_urls(spark, root, victims) == 2

    orig = ingest.reencode_segments
    calls = {"n": 0}

    def dying(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash mid-compact")
        return orig(*a, **kw)

    monkeypatch.setattr(ingest, "reencode_segments", dying)
    with pytest.raises(RuntimeError, match="injected"):
        ingest.compact(spark, root)
    # tombstones survive the crash → compact re-runs idempotently
    assert catalog.table_exists(root, "tombstones")
    assert ingest.compact(spark, root) == 2

    survivors = [p for p in corpus[:250] if p["url"] not in set(victims)]
    fresh = str(tmp_path_factory.mktemp("crash_fresh"))
    _build(spark, fresh, _pages_df(spark, survivors))
    from tests.test_ingest import _term_stats_fingerprint

    assert (_term_stats_fingerprint(spark, root)
            == _term_stats_fingerprint(spark, fresh))


def test_selective_rewrite_touches_only_files_holding_dead_docs(
        spark, tmp_path):
    """compact's table pass is O(touched files): a file whose doc_id
    footer range holds no dead doc must stay listed in the snapshot (no
    data copied), and only intersecting files are rewritten."""
    import numpy as np

    def dead(ids):
        return (np.array(ids, dtype=np.int64),
                spark.createDataFrame([(i,) for i in ids], "doc_id long"))

    root = str(tmp_path)
    df = (spark.range(0, 400).selectExpr(
        "id AS doc_id", "concat('u', id) AS url")
        .repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id"))
    catalog.write_table(df, root, "docs")
    before = set(catalog.table_files(root, "docs"))
    assert len(before) == 4

    # dead ids all live in one file's range
    n = ingest._selective_rewrite(root, "docs", *dead([5, 6, 7]))
    assert n == 1
    after = set(catalog.table_files(root, "docs"))
    preserved = before & after
    assert len(preserved) == 3  # untouched files: still listed, no copy
    got = sorted(r["doc_id"] for r in
                 catalog.read_table(spark, root, "docs").collect())
    assert got == [i for i in range(400) if i not in (5, 6, 7)]

    # a dead set nothing intersects runs no job and changes nothing
    assert ingest._selective_rewrite(root, "docs", *dead([9999])) == 0


@pytest.mark.parametrize("crash_at", ["pre_commit", "post_commit"])
def test_crash_mid_first_delete_does_not_brick_index(
        spark, corpus, tmp_path_factory, monkeypatch, crash_at):
    """The FIRST delete_urls on an index CREATES the tombstones table.
    A crash in that window must not brick the index: the snapshot does
    not list the just-born table, searches still serve, and re-running
    the delete (whose entry sweeps the crashed files) converges.
    ``pre_commit`` = dir + markers exist and a snapshot without any
    tombstone file was published; ``post_commit`` = parquet landed but
    was never published.
    """
    root = str(tmp_path_factory.mktemp(f"crash_del_{crash_at}"))
    _build(spark, root, _pages_df(spark, corpus[:120]))
    victims = _victim_urls(spark, root, QUERIES[1], k=2)
    pre = _search_by_url(spark, root, QUERIES[:4])

    orig = ingest._append_table

    def dying(df, r, name):
        if name == "tombstones":
            if crash_at == "post_commit":
                orig(df, r, name)
            else:  # dir + commit markers only, zero parquet files
                path = catalog.table_path(r, name)
                os.makedirs(path, exist_ok=True)
                open(os.path.join(path, "_SUCCESS"), "w").close()
                catalog.commit(r)
            raise RuntimeError("injected crash mid-delete")
        return orig(df, r, name)

    monkeypatch.setattr(ingest, "_append_table", dying)
    with pytest.raises(RuntimeError, match="injected"):
        ingest.delete_urls(spark, root, victims)
    monkeypatch.setattr(ingest, "_append_table", orig)

    # a fresh reader must not see half-applied tombstones as presence
    # (pre_commit: a parquet-less dir is no table)
    if crash_at == "pre_commit":
        assert not catalog.table_exists(root, "tombstones")
        assert SearchIndex(spark, root).tombstones.size == 0
        assert _search_by_url(spark, root, QUERIES[:4]) == pre

    # every maintenance entry sweeps the batch's files, then converges:
    # the re-run marks BOTH victims again (nothing half-deleted)
    assert ingest.delete_urls(spark, root, victims) == len(victims)
    post = _search_by_url(spark, root, QUERIES[:4])
    assert not {u for _, u in post[QUERIES[1]]} & set(victims)
    # and the rest of the lifecycle still works end-to-end
    assert ingest.compact(spark, root) == len(victims)
    assert not catalog.table_exists(root, "tombstones")


def test_mass_delete_rewrite_plan_has_no_inlist(spark, tmp_path_factory,
                                                monkeypatch):
    """A 100k-tombstone compact rewrite must not materialize the dead
    ids into the plan: a literal ``isin`` of that size blows up the
    Catalyst expression tree / codegen, while a left-anti join against
    the tombstones TABLE keeps the plan O(1) in the tombstone count
    (AQE broadcasts a small dead set, shuffles a huge one).  Exercises
    ``_selective_rewrite`` directly on a synthetic flat table so the
    dead set can be realistically large without building a 100k-doc
    index; footer pruning must still keep the untouched files."""
    import numpy as np

    root = str(tmp_path_factory.mktemp("mass_del"))
    n_docs, n_dead = 200_000, 100_000
    catalog.write_table(
        spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            (F.col("id") * 2).alias("payload"))
        .repartition(8, "doc_id")
        .sortWithinPartitions("doc_id"),
        root, "docs")
    # dead = the low half of the id space → the files whose footer
    # range sits entirely in the high half stay listed
    dead = np.arange(n_dead, dtype=np.int64)
    ingest._append_table(
        spark.range(n_dead).select(F.col("id").alias("doc_id")),
        root, "tombstones")

    plans = []
    orig = ingest._survivors

    def spy(df, dead_df):
        out = orig(df, dead_df)
        plans.append(out._jdf.queryExecution().toString())
        return out

    monkeypatch.setattr(ingest, "_survivors", spy)
    n_rewritten = ingest._selective_rewrite(
        root, "docs", dead,
        catalog.read_table(spark, root, "tombstones").select("doc_id"))
    assert n_rewritten > 0
    assert plans, "rewrite ran no survivor filter"
    for p in plans:
        assert " IN (" not in p and "isin" not in p, \
            "driver-held id list leaked into the plan"
        assert "LeftAnti" in p
    survivors = catalog.read_table(spark, root, "docs")
    assert survivors.count() == n_docs - n_dead
    assert survivors.agg(F.min("doc_id")).collect()[0][0] == n_dead
    assert (survivors.where(F.col("payload") != F.col("doc_id") * 2)
            .count() == 0)  # column order/values survived the rewrite


def test_full_compact_plans_have_no_inlist(spark, corpus,
                                           tmp_path_factory, monkeypatch):
    """End-to-end compact on a real index: every survivor-filter plan
    it executes is an anti-join, never an IN-list, and results still
    match the fresh-build equivalence the other tests assert."""
    root = str(tmp_path_factory.mktemp("compact_plan"))
    _build(spark, root, _pages_df(spark, corpus[:150]))
    victims = _victim_urls(spark, root, QUERIES[2], k=3)
    assert ingest.delete_urls(spark, root, victims) == len(victims)

    plans = []
    orig = ingest._survivors

    def spy(df, dead_df):
        out = orig(df, dead_df)
        plans.append(out._jdf.queryExecution().toString())
        return out

    monkeypatch.setattr(ingest, "_survivors", spy)
    assert ingest.compact(spark, root) == len(victims)
    assert len(plans) == 1  # docs
    for p in plans:
        assert " IN (" not in p and "isin" not in p
        assert "LeftAnti" in p
    post = _search_by_url(spark, root, QUERIES[:4])
    assert not {u for _, u in post[QUERIES[2]]} & set(victims)


def test_delete_where_predicate_takedown(spark, corpus,
                                         tmp_path_factory):
    """delete_where tombstones exactly the docs matching a SQL
    predicate over the docs table — the domain-takedown shape — with
    no driver-side victim list, inheriting the full tombstone
    lifecycle (idempotent re-run, vanish-everywhere, live counts)."""
    from search_engine_wikipedia_spark.sources import catalog as CAT

    root = str(tmp_path_factory.mktemp("delw_idx"))
    _build(spark, root, _pages_df(spark, corpus[:120]))
    docs = CAT.read_table(spark, root, "docs")
    pred = "url LIKE '%1_'"  # urls whose second-to-last char is 1
    expected = {r["url"] for r in docs.where(pred).select("url").collect()}
    assert 5 <= len(expected) <= 30  # predicate actually selects a band

    n = ingest.delete_where(spark, root, pred)
    assert n == len(expected)
    # idempotent: re-running the same predicate tombstones nothing new
    assert ingest.delete_where(spark, root, pred) == 0

    tomb = {r["url"]
            for r in CAT.read_table(spark, root, "tombstones").collect()}
    assert tomb == expected
    # tombstoned docs vanish from search results immediately
    s = WikiSearcher(SearchIndex(spark, root))
    for q in QUERIES[:4]:
        res = s.search(q, limit=20, exp=False, page_rank=False)
        hits = {d["link"] for d in res["docs"]}
        assert not (hits & expected), (q, hits & expected)


def test_tombstone_budget_guard(spark, corpus, tmp_path_factory):
    """The serving-path tombstone set is driver-held, bounded only by
    compaction cadence — so the cadence is a CONTRACT: a default
    reader refuses to serve once un-compacted deletes exceed
    max_tombstone_frac of the corpus, pointing at compact; an explicit
    None opt-out (and a post-compact reopen) serves normally."""
    from search_engine_wikipedia_spark.plans.query import (
        TombstoneBudgetError,
    )

    root = str(tmp_path_factory.mktemp("budget_idx"))
    _build(spark, root, _pages_df(spark, corpus[:100]))
    idx = SearchIndex(spark, root)
    all_urls = [
        r["url"] for r in catalog.read_table(spark, root, "docs")
        .select("url").collect()
    ]
    # delete 60% > the 0.5 default budget
    assert ingest.delete_urls(spark, root, all_urls[:60]) == 60

    idx = SearchIndex(spark, root)                 # default-configured
    with pytest.raises(TombstoneBudgetError, match="compact"):
        WikiSearcher(idx).search(QUERIES[0], limit=5, exp=False,
                                 page_rank=False, with_meta=False)
    # a refusal must not poison the reader: fixing the index (compact)
    # and re-searching through the SAME object works
    with pytest.raises(TombstoneBudgetError):
        _ = idx.tombstones

    # explicit opt-out serves with the full exclusion set
    relaxed = SearchIndex(spark, root, max_tombstone_frac=None)
    assert relaxed.tombstones.size == 60
    res = WikiSearcher(relaxed).search(QUERIES[0], limit=5, exp=False,
                                       page_rank=False, with_meta=False)
    assert all(d["doc_id"] not in set(relaxed.tombstones.tolist())
               for d in res["docs"])

    # compact empties the budget; the default reader serves again
    ingest.compact(spark, root)
    after = SearchIndex(spark, root)
    assert after.tombstones.size == 0
    assert WikiSearcher(after).search(
        QUERIES[0], limit=5, exp=False, page_rank=False,
        with_meta=False)["n_res"] >= 0
