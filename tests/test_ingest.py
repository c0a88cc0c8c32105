"""Incremental ingest: appending pages to a built index must be
equivalent to a from-scratch build over the union corpus — same global
term statistics, same BM25 scores (doc_id assignment may differ, so
comparisons key on url) — idempotent on replay, and drivable as a
stream via foreachBatch."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from search_engine_wikipedia_spark import schemas
from search_engine_wikipedia_spark.functions import codec
from search_engine_wikipedia_spark.operators import ingest
from search_engine_wikipedia_spark.operators.build import (
    IndexBuilder,
    term_freqs,
)
from search_engine_wikipedia_spark.plans.query import SearchIndex, WikiSearcher
from search_engine_wikipedia_spark.sources import catalog
from search_engine_wikipedia_spark.synth import QUERIES


def _pages_df(spark, corpus_slice):
    return spark.createDataFrame(pd.DataFrame(corpus_slice),
                                 schema=schemas.PAGES)


@pytest.fixture(scope="module")
def incremental_root(spark, corpus, tmp_path_factory):
    """Index built on the first 200 pages, then 100 appended."""
    root = str(tmp_path_factory.mktemp("inc_idx"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:200]), resume=False)
    n = ingest.append_pages(spark, root, _pages_df(spark, corpus[200:]))
    assert n > 0  # some synth pages are redirects → filtered, like S3
    return root


def _term_stats_fingerprint(spark, root):
    return sorted(
        (r["term"], r["field"], int(r["term_df"]), int(r["term_cf"]))
        for r in catalog.read_table(spark, root, "postings")
        .select("term", "field", "term_df", "term_cf").distinct().collect()
    )


def _unlisted_files(root):
    """Parquet files under the table dirs that the snapshot neither
    lists nor retires."""
    from pathlib import Path

    snap = catalog.read_snapshot(root)
    known = {f for files in snap["tables"].values() for f in files}
    known |= set(snap["retired"])
    return sorted(
        rel for d in Path(root).iterdir()
        if d.is_dir() and d.name != "manifests"
        for rel in (str(f.relative_to(root)) for f in d.rglob("*.parquet"))
        if rel not in known
    )


def _segment_postings(root):
    """seg_id → the (term, field, doc_id, tf, fl) rows its postings_seg
    blobs decode to (pyarrow, driver-side)."""
    t = catalog.arrow_dataset(root, "postings_seg").to_table(
        columns=["seg_id", "term", "field", "doc_ids", "tfs", "fls"])
    out = {}
    for r in t.to_pylist():
        d, tf, fl = codec.decode_postings(r["doc_ids"], r["tfs"], r["fls"])
        out.setdefault(r["seg_id"], set()).update(
            (r["term"], r["field"], int(a), int(b), int(c))
            for a, b, c in zip(d, tf, fl))
    return out


def _tokenized_docs(spark, root):
    """The (term, field, doc_id, tf, fl) rows ``build.term_freqs`` gives
    for the index's docs table (default analyzers)."""
    return {tuple(r) for r in term_freqs(
        catalog.read_table(spark, root, "docs"))
        .select("term", "field", "doc_id", "tf", "fl").collect()}


def _search_by_url(spark, root, queries, limit=10):
    s = WikiSearcher(SearchIndex(spark, root))
    out = {}
    for q in queries:
        res = s.search(q, limit=limit, exp=False, page_rank=False,
                       with_meta=True)
        # tie-robust key: equal-scored docs may order differently when
        # doc_id assignment differs
        out[q] = sorted(
            (round(d["score"], 6), d["link"]) for d in res["docs"]
        )
    return out


def test_incremental_equals_full_rebuild(spark, corpus, built_index,
                                         incremental_root):
    full_root, _ = built_index  # from-scratch build over all 300 pages
    assert (_term_stats_fingerprint(spark, incremental_root)
            == _term_stats_fingerprint(spark, full_root))
    fs_inc = {r["field"]: (r["total_len"], r["doc_count"], r["avg_len"])
              for r in catalog.read_table(
                  spark, incremental_root, "field_stats").collect()}
    fs_full = {r["field"]: (r["total_len"], r["doc_count"], r["avg_len"])
               for r in catalog.read_table(
                   spark, full_root, "field_stats").collect()}
    assert fs_inc == fs_full
    got = _search_by_url(spark, incremental_root, QUERIES[:12])
    want = _search_by_url(spark, full_root, QUERIES[:12])
    assert got == want


def _field_sums(df, col):
    return {r["field"]: int(r["t"])
            for r in df.groupBy("field").agg(F.sum(col).alias("t")).collect()}


def test_field_stats_are_postings_cf_sums_through_maintenance(
        spark, corpus, tmp_path_factory):
    """field_stats holds, per field, Σ fl over the docs (recounted here
    by re-tokenizing the docs table) and the docs row count, and that
    Σ fl is the postings' Σ cf — after a build, an append, a delete and
    a compact, with no per-doc stats table in the snapshot."""
    root = str(tmp_path_factory.mktemp("fs_idx"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:200]), resume=False)

    def check():
        assert "doc_stats" not in catalog.read_snapshot(root)["tables"]
        n = catalog.read_table(spark, root, "docs").count()
        lens = _field_sums(
            term_freqs(catalog.read_table(spark, root, "docs"))
            .select("doc_id", "field", "fl").distinct(), "fl")
        want = {f: (lens.get(f, 0), n, lens.get(f, 0) / n)
                for f in ("text", "title")}
        got = {r["field"]: (r["total_len"], r["doc_count"], r["avg_len"])
               for r in catalog.read_table(
                   spark, root, "field_stats").collect()}
        assert got == want
        assert _field_sums(catalog.read_table(spark, root, "postings"),
                           "cf") == lens

    check()
    assert ingest.append_pages(spark, root,
                               _pages_df(spark, corpus[200:])) > 0
    check()
    victims = [r["url"] for r in catalog.read_table(spark, root, "docs")
               .orderBy("doc_id").select("url").collect()][::20]
    assert ingest.delete_urls(spark, root, victims) == len(victims)
    check()
    assert ingest.compact(spark, root) == len(victims)
    check()


def test_segments_decode_to_the_docs_tokens_through_maintenance(
        spark, corpus, tmp_path_factory):
    """No op keeps a copy of the tokenizer output: after a build, two
    appends, a delete + compact and an optimize, the snapshot lists
    only docs, postings_seg, postings and field_stats, and every
    segment's blobs decode to exactly the rows
    ``build.term_freqs`` gives for the docs in its doc range; the
    segments' ranges are disjoint, ascend with seg_id, and together
    hold every doc's rows."""
    root = str(tmp_path_factory.mktemp("seg_tok_idx"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:150]), resume=False)

    def check():
        assert set(catalog.read_snapshot(root)["tables"]) == {
            "docs", "postings_seg", "postings", "field_stats"}
        want = _tokenized_docs(spark, root)
        segs = _segment_postings(root)
        got = set()
        prev_hi = -1
        for seg_id in sorted(segs):
            rows = segs[seg_id]
            lo, hi = min(r[2] for r in rows), max(r[2] for r in rows)
            assert prev_hi < lo, (seg_id, prev_hi, lo)
            assert rows == {r for r in want if lo <= r[2] <= hi}, seg_id
            got |= rows
            prev_hi = hi
        assert got == want

    check()
    for lo, hi in ((150, 220), (220, 300)):
        assert ingest.append_pages(
            spark, root, _pages_df(spark, corpus[lo:hi])) > 0
        check()
    assert len(catalog.completed_segments(spark, root, "postings_seg")) == 6
    victims = [r["url"] for r in catalog.read_table(spark, root, "docs")
               .orderBy("doc_id").select("url").collect()][5::17]
    assert ingest.delete_urls(spark, root, victims) == len(victims)
    assert ingest.compact(spark, root) == len(victims)
    check()
    assert ingest.optimize_segments(spark, root, max_segments=2) == 2
    check()


def test_append_is_idempotent_on_replay(spark, corpus, incremental_root):
    """Re-appending already-ingested urls is a no-op (the foreachBatch
    replay scenario)."""
    before = _term_stats_fingerprint(spark, incremental_root)
    n = ingest.append_pages(
        spark, incremental_root, _pages_df(spark, corpus[200:]))
    assert n == 0
    assert _term_stats_fingerprint(spark, incremental_root) == before


def test_delta_segment_has_higher_doc_range(spark, incremental_root):
    """The monotone-salt invariant: the delta segment's doc ids all
    exceed the base segments' (so merged shards stay doc-sorted)."""
    ranges = {
        seg: (min(r[2] for r in rows), max(r[2] for r in rows))
        for seg, rows in _segment_postings(incremental_root).items()
    }
    delta = max(ranges)
    for s, (lo, hi) in ranges.items():
        if s != delta:
            assert hi < ranges[delta][0], (s, ranges)


def test_stream_ingest_foreachbatch(spark, corpus, built_index,
                                    tmp_path_factory):
    """Continuous ingest: base build + a 2-file page stream appended via
    foreachBatch (availableNow) ends up equivalent to the full build."""
    full_root, _ = built_index
    root = str(tmp_path_factory.mktemp("stream_idx"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:200]), resume=False)

    feed = str(tmp_path_factory.mktemp("page_feed"))
    _pages_df(spark, corpus[200:]).repartition(2).write.mode(
        "overwrite").parquet(feed)
    stream = (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = ingest.stream_ingest(
        spark, root, stream,
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt")),
    )
    q.awaitTermination(300)
    assert not q.isActive
    assert (_term_stats_fingerprint(spark, root)
            == _term_stats_fingerprint(spark, full_root))


@pytest.mark.parametrize("crash_at", ["term_freqs", "build_segments"])
def test_crash_mid_append_rolls_back_and_reapplies(spark, corpus,
                                                   tmp_path_factory,
                                                   monkeypatch, crash_at):
    """A crash partway through append_pages (after the docs append, the
    scenario where url-dedup would otherwise silently no-op the replay)
    must publish nothing and re-apply cleanly."""
    full_root = str(tmp_path_factory.mktemp("full"))
    IndexBuilder(spark, full_root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:250]), resume=False)
    full = _term_stats_fingerprint(spark, full_root)

    root = str(tmp_path_factory.mktemp("crash_idx"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:200]), resume=False)

    orig = getattr(ingest, crash_at)
    calls = {"n": 0}

    def dying(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash mid-append")
        return orig(*a, **kw)

    monkeypatch.setattr(ingest, crash_at, dying)
    snap_id = catalog.read_snapshot(root)["id"]
    with pytest.raises(RuntimeError, match="injected"):
        ingest.append_pages(spark, root, _pages_df(spark, corpus[200:250]))
    assert catalog.read_snapshot(root)["id"] == snap_id

    # replay (as foreachBatch would): sweep + full re-apply
    n = ingest.append_pages(spark, root, _pages_df(spark, corpus[200:250]))
    assert n > 0
    assert not _unlisted_files(root)
    assert _term_stats_fingerprint(spark, root) == full


def test_append_schema_guard_rejects_type_drift(spark, incremental_root):
    """An append whose column types differ from the committed table
    (e.g. an int32 doc_id into the int64 docs table) must fail fast —
    parquet itself has no writer-side schema check, and a silent drift
    poisons every subsequent read."""
    bad = spark.range(1).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit("http://x/A").alias("url"),
        F.lit("A").alias("title"),
        F.lit("body").alias("clean_text"),
        F.array(F.lit("B")).alias("links"),
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        ingest._assert_append_schema(bad, incremental_root, "docs")


def test_appended_doc_ids_stay_int64(spark, incremental_root):
    """All docs parquet footers carry ONE physical type for doc_id."""
    import pyarrow.parquet as pq
    from pathlib import Path

    types = {
        str(pq.read_schema(str(f)).field("doc_id").type)
        for f in Path(incremental_root, "docs").rglob("*.parquet")
    }
    assert types == {"int64"}, types


def test_tiered_merge_rewrites_only_delta_buckets(spark, corpus,
                                                  tmp_path_factory):
    """A small-vocabulary delta must rewrite ONLY the tbucket partitions
    containing its terms (dynamic partition overwrite); every other
    bucket's parquet files stay byte-identical — the O(delta), not
    O(index), re-merge.  With buckets sized to the vocabulary the
    touched fraction is a few % (here: ~12 delta terms over 256
    buckets)."""
    import datetime as dt
    from pathlib import Path

    root = str(tmp_path_factory.mktemp("tiered_idx"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200,
                 n_term_buckets=256).build(
        _pages_df(spark, corpus[:250]), resume=False)

    post = Path(root, "postings")

    def snapshot():
        return {
            str(f.relative_to(post)): (f.stat().st_size, f.stat().st_mtime_ns)
            for f in post.rglob("*.parquet")
        }

    before = snapshot()
    text = " ".join(f"qqword{j}" for j in range(10)) * 3
    delta = [{
        "url": f"https://en.wikipedia.org/wiki/Tiered_{k}",
        "warc_ts": dt.datetime(2024, 6, 1), "html": b"",
        "text": text, "lang": "en",
    } for k in range(2)]
    n = ingest.append_pages(spark, root, _pages_df(spark, delta))
    assert n == 2
    after = snapshot()

    def bucket_of(rel):
        return rel.split("/")[0]

    changed = {bucket_of(p) for p in set(before) ^ set(after)}
    changed |= {bucket_of(p) for p in before.keys() & after.keys()
                if before[p] != after[p]}
    all_buckets = {bucket_of(p) for p in after}
    frac = len(changed) / len(all_buckets)
    assert frac < 0.10, (sorted(changed), frac)

    # and the tiered result equals a from-scratch build over the union
    full_root = str(tmp_path_factory.mktemp("tiered_full"))
    IndexBuilder(spark, full_root, n_segments=4, shard_size=200,
                 n_term_buckets=256).build(
        _pages_df(spark, corpus[:250] + delta), resume=False)
    assert (_term_stats_fingerprint(spark, root)
            == _term_stats_fingerprint(spark, full_root))


def test_upsert_recrawl_replaces_content(spark, corpus, tmp_path_factory):
    """The recrawl flow: upserting changed pages must serve the NEW
    content immediately (old copy tombstoned, new copy ranks), and
    after compact the index equals a fresh build over the updated
    corpus."""
    root = str(tmp_path_factory.mktemp("ups_idx"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:200]), resume=False)
    indexed = {r["url"] for r in catalog.read_table(spark, root, "docs")
               .select("url").collect()}
    updated = [dict(p, text="qqrecrawl fresh revision content " * 5)
               for p in corpus[:200] if p["url"] in indexed][:3]
    new_urls = {p["url"] for p in updated}

    n_dead, n_new = ingest.upsert_pages(
        spark, root, _pages_df(spark, updated))
    assert (n_dead, n_new) == (3, 3)

    # the new revision ranks for its new vocabulary, on the SAME urls
    res = _search_by_url(spark, root, ["qqrecrawl"])
    assert {u for _, u in res["qqrecrawl"]} == new_urls
    # old copies are tombstoned history: live doc count is stable
    idx = SearchIndex(spark, root)
    assert len(idx.tombstones) == 3

    # physical removal, then parity with a fresh build over the
    # updated corpus
    assert ingest.compact(spark, root) == 3
    fresh = str(tmp_path_factory.mktemp("ups_fresh"))
    updated_corpus = [p for p in corpus[:200]
                      if p["url"] not in new_urls] + updated
    IndexBuilder(spark, fresh, n_segments=4, shard_size=200).build(
        _pages_df(spark, updated_corpus), resume=False)
    assert (_term_stats_fingerprint(spark, root)
            == _term_stats_fingerprint(spark, fresh))
    got = _search_by_url(spark, root, QUERIES[:8] + ["qqrecrawl"])
    want = _search_by_url(spark, fresh, QUERIES[:8] + ["qqrecrawl"])
    assert got == want


def test_stream_upsert_recrawls_changed_pages(spark, corpus,
                                              tmp_path_factory):
    """stream_ingest(upsert=True): a feed mixing NEW pages and CHANGED
    revisions of already-indexed pages converges, after compact, to a
    fresh build over the final corpus state."""
    root = str(tmp_path_factory.mktemp("sups_idx"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:200]), resume=False)
    indexed = {r["url"] for r in catalog.read_table(spark, root, "docs")
               .select("url").collect()}
    changed = [dict(p, text="qqstreamed updated revision " * 4)
               for p in corpus[:200] if p["url"] in indexed][:2]
    feed_pages = changed + list(corpus[200:230])

    feed = str(tmp_path_factory.mktemp("ups_feed"))
    _pages_df(spark, feed_pages).repartition(2).write.mode(
        "overwrite").parquet(feed)
    stream = (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = ingest.stream_ingest(
        spark, root, stream,
        checkpoint_dir=str(tmp_path_factory.mktemp("ups_ckpt")),
        upsert=True,
    )
    q.awaitTermination(300)
    assert not q.isActive

    # new revisions rank on their urls before any compaction
    res = _search_by_url(spark, root, ["qqstreamed"])
    assert {u for _, u in res["qqstreamed"]} == {p["url"] for p in changed}

    ingest.compact(spark, root)
    final_corpus = [p for p in corpus[:200]
                    if p["url"] not in {c["url"] for c in changed}]
    final_corpus += feed_pages
    fresh = str(tmp_path_factory.mktemp("sups_fresh"))
    IndexBuilder(spark, fresh, n_segments=4, shard_size=200).build(
        _pages_df(spark, final_corpus), resume=False)
    assert (_term_stats_fingerprint(spark, root)
            == _term_stats_fingerprint(spark, fresh))


def _seg_ids(root):
    from pathlib import Path
    return sorted(int(p.name.split("=")[1]) for p in
                  Path(root, "postings_seg").glob("seg_id=*"))


def test_optimize_segments_coalesces_and_preserves_results(
        spark, corpus, tmp_path_factory):
    """forceMerge: many delta segments coalesce into max_segments
    row-balanced consecutive groups with identical term stats and
    search results; subsequent appends continue from the new max."""
    root = str(tmp_path_factory.mktemp("opt_idx"))
    IndexBuilder(spark, root, n_segments=6, shard_size=200).build(
        _pages_df(spark, corpus[:150]), resume=False)
    for lo, hi in ((150, 180), (180, 210), (210, 240)):
        ingest.append_pages(spark, root, _pages_df(spark, corpus[lo:hi]))
    assert len(_seg_ids(root)) == 9
    pre_fp = _term_stats_fingerprint(spark, root)
    pre_res = _search_by_url(spark, root, QUERIES[:8])

    assert ingest.optimize_segments(spark, root, max_segments=3) == 3
    assert _seg_ids(root) == [0, 1, 2]
    assert catalog.completed_segments(spark, root, "postings_seg") == {
        0, 1, 2}
    assert _term_stats_fingerprint(spark, root) == pre_fp
    assert _search_by_url(spark, root, QUERIES[:8]) == pre_res
    # already-small index is a no-op
    assert ingest.optimize_segments(spark, root, max_segments=8) == 3

    # lifecycle interplay: append lands as seg 3; delete+compact green
    n = ingest.append_pages(spark, root, _pages_df(spark, corpus[240:260]))
    assert n > 0
    assert max(_seg_ids(root)) == 3
    victims = [r["url"] for r in catalog.read_table(spark, root, "docs")
               .orderBy("doc_id").limit(2).select("url").collect()]
    assert ingest.delete_urls(spark, root, victims) == 2
    assert ingest.compact(spark, root) == 2
    res = _search_by_url(spark, root, QUERIES[:4])
    assert all(u not in set(victims) for hits in res.values()
               for _, u in hits)


def test_optimize_crash_resumes_from_next_maintenance_op(
        spark, corpus, tmp_path_factory, monkeypatch):
    """A crash mid-optimize publishes nothing; the next maintenance op
    (its replay) sweeps the crashed files and re-runs it, and the index
    converges."""
    root = str(tmp_path_factory.mktemp("optc_idx"))
    IndexBuilder(spark, root, n_segments=5, shard_size=200).build(
        _pages_df(spark, corpus[:150]), resume=False)
    ingest.append_pages(spark, root, _pages_df(spark, corpus[150:190]))
    pre_fp = _term_stats_fingerprint(spark, root)

    orig = ingest.reencode_segments
    calls = {"n": 0}

    def dying(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash mid-optimize")
        return orig(*a, **kw)

    monkeypatch.setattr(ingest, "reencode_segments", dying)
    snap_id = catalog.read_snapshot(root)["id"]
    with pytest.raises(RuntimeError, match="injected"):
        ingest.optimize_segments(spark, root, max_segments=2)
    assert catalog.read_snapshot(root)["id"] == snap_id

    # the replay re-runs it, then an append lands as the next segment
    ingest.optimize_segments(spark, root, max_segments=2)
    assert not _unlisted_files(root)
    ingest.append_pages(spark, root, _pages_df(spark, corpus[190:210]))
    assert max(_seg_ids(root)) == 2  # 2 coalesced + 1 new delta
    # stats = pre-optimize stats plus exactly the appended delta — spot
    # check by re-deriving the full fingerprint from a fresh build
    fresh = str(tmp_path_factory.mktemp("optc_fresh"))
    IndexBuilder(spark, fresh, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:210]), resume=False)
    assert (_term_stats_fingerprint(spark, root)
            == _term_stats_fingerprint(spark, fresh))
    assert pre_fp != _term_stats_fingerprint(spark, root)  # delta landed


def test_append_falls_back_when_footer_stats_missing(
        spark, corpus, tmp_path_factory):
    """footer_stats returns (n_rows, None, None) when any row group
    lacks min/max statistics (a writer with statistics disabled); the
    maintenance scalar reads must fall back to the DataFrame agg, not
    TypeError on int(None)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    root = str(tmp_path_factory.mktemp("nostats_idx"))
    IndexBuilder(spark, root, n_segments=2, shard_size=200).build(
        _pages_df(spark, corpus[:120]), resume=False)
    # strip statistics from the docs footers in place
    for f in Path(root, "docs").glob("*.parquet"):
        t = pq.read_table(str(f))
        pq.write_table(t, str(f), write_statistics=False)
        # Spark wrote a Hadoop checksum sidecar; the in-place
        # rewrite invalidates it (ChecksumException on read)
        crc = f.parent / f".{f.name}.crc"
        if crc.exists():
            crc.unlink()
    n_rows, mn, mx = catalog.footer_stats(root, "docs", "doc_id")
    assert n_rows > 0 and mn is None and mx is None  # scenario is real
    pre_max = catalog.read_table(spark, root, "docs").agg(
        F.max("doc_id")).collect()[0][0]

    n = ingest.append_pages(spark, root, _pages_df(spark, corpus[120:160]))
    assert n > 0
    docs = catalog.read_table(spark, root, "docs")
    lo = docs.where(F.col("doc_id") > pre_max).agg(
        F.min("doc_id")).collect()[0][0]
    assert lo == pre_max + 1  # ids continued after the true max
    assert docs.select("doc_id").distinct().count() == docs.count()


def test_append_guard_uses_recorded_schema_not_inference(
        spark, corpus, tmp_path_factory):
    """The append guard must check against the schema RECORDED at write
    time (_SCHEMA.json table registry), not a re-inference of the dir:
    once a dir is poisoned with a drifted physical type, inference
    samples a footer and can report the DRIFTED type — the guard would
    then wave through exactly the class of corruption it exists to
    block.  Here the dir is fully poisoned to int32 (so any sampled
    footer lies), yet the recorded int64 schema still rejects an int32
    append and still accepts a correct int64 one."""
    root = str(tmp_path_factory.mktemp("schema_reg"))
    IndexBuilder(spark, root, n_segments=2, shard_size=200).build(
        _pages_df(spark, corpus[:60]), resume=False)
    assert catalog.recorded_table_schema(root, "docs") is not None

    docs_path = catalog.table_path(root, "docs")
    good = spark.read.parquet(docs_path)
    drifted = good.withColumn("doc_id", F.col("doc_id").cast("int"))
    # poison: replace EVERY file with the int32 variant, so a dir
    # re-inference deterministically reports the lie
    import shutil
    tmp = docs_path + ".poison"
    drifted.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(docs_path)
    import os
    os.rename(tmp, docs_path)
    inferred = spark.read.parquet(docs_path).schema["doc_id"].dataType
    assert inferred.simpleString() == "int"  # inference now lies

    with pytest.raises(ValueError, match="append schema mismatch"):
        ingest._assert_append_schema(drifted, root, "docs")
    # and the registry is authoritative for the CORRECT shape too
    ingest._assert_append_schema(good, root, "docs")


def test_first_append_registers_table_schema(spark, corpus,
                                             tmp_path_factory):
    """A table born from a maintenance append (tombstones) registers
    its schema at creation, so later appends are guarded against the
    record from day one."""
    root = str(tmp_path_factory.mktemp("schema_tomb"))
    IndexBuilder(spark, root, n_segments=2, shard_size=200).build(
        _pages_df(spark, corpus[:60]), resume=False)
    assert catalog.recorded_table_schema(root, "tombstones") is None
    url = catalog.read_table(spark, root, "docs").select(
        "url").first()["url"]
    assert ingest.delete_urls(spark, root, [url]) == 1
    rec = catalog.recorded_table_schema(root, "tombstones")
    assert rec is not None and ("doc_id", "bigint") in rec


def test_concurrent_maintenance_writer_refuses_cleanly(
        spark, corpus, tmp_path_factory):
    """Two maintenance writers on the same index must not interleave
    journals: the second refuses with MaintenanceLockError while the
    first's lock is held by a LIVE process (simulated with pid 1 —
    always alive, never ours), and no journal or table write happens."""
    import json as _json
    import os
    import time

    root = str(tmp_path_factory.mktemp("locked_idx"))
    IndexBuilder(spark, root, n_segments=2, shard_size=200).build(
        _pages_df(spark, corpus[:60]), resume=False)
    lock = os.path.join(root, ingest._LOCK_NAME)
    import socket
    with open(lock, "w") as f:
        _json.dump({"pid": 1, "host": socket.gethostname(),
                    "ts": time.time()}, f)
    before = sorted(os.listdir(root))
    for op in (
        lambda: ingest.append_pages(
            spark, root, _pages_df(spark, corpus[60:80])),
        lambda: ingest.delete_urls(spark, root, ["http://x/none"]),
        lambda: ingest.compact(spark, root),
        lambda: ingest.optimize_segments(spark, root),
    ):
        with pytest.raises(ingest.MaintenanceLockError, match="locked"):
            op()
    assert sorted(os.listdir(root)) == before  # nothing half-applied
    os.remove(lock)


def test_stale_maintenance_lock_is_broken(spark, corpus,
                                          tmp_path_factory):
    """A lock left by a CRASHED writer (dead pid on this host) must not
    wedge the index forever: the next writer breaks it and proceeds
    through normal journal-based crash recovery."""
    import json as _json
    import os
    import socket
    import subprocess
    import time

    root = str(tmp_path_factory.mktemp("stale_lock_idx"))
    IndexBuilder(spark, root, n_segments=2, shard_size=200).build(
        _pages_df(spark, corpus[:60]), resume=False)
    # a real pid that existed and is now dead
    proc = subprocess.Popen(["true"])
    proc.wait()
    lock = os.path.join(root, ingest._LOCK_NAME)
    with open(lock, "w") as f:
        _json.dump({"pid": proc.pid, "host": socket.gethostname(),
                    "ts": time.time()}, f)
    n = ingest.append_pages(spark, root,
                            _pages_df(spark, corpus[60:100]))
    assert n > 0
    assert not os.path.exists(lock)  # released after the op

    # TTL fallback (the cross-host case): old timestamp, foreign host
    with open(lock, "w") as f:
        _json.dump({"pid": 1, "host": "some-other-host",
                    "ts": time.time() - ingest._LOCK_TTL_SEC - 60}, f)
    assert ingest.delete_urls(spark, root, ["http://x/none"]) == 0
    assert not os.path.exists(lock)


def test_upsert_replay_is_exactly_once(spark, corpus, tmp_path_factory):
    """The streaming-replay scenario: an epoch's upsert fully applies,
    the process dies BEFORE the checkpoint commits, and foreachBatch
    re-runs the same batch.  The replay must be a full no-op — without
    content-aware tombstoning it would tombstone the just-ingested
    (now live) copy and re-ingest a ghost under a new doc_id, inflating
    df/N until the next compact (scores drift vs a non-crashed run)."""
    root = str(tmp_path_factory.mktemp("replay_idx"))
    IndexBuilder(spark, root, n_segments=4, shard_size=200).build(
        _pages_df(spark, corpus[:200]), resume=False)
    indexed = {r["url"] for r in catalog.read_table(spark, root, "docs")
               .select("url").collect()}
    batch = [dict(p, text="qqreplay new revision body " * 4)
             for p in corpus[:200] if p["url"] in indexed][:3]
    batch += list(corpus[200:220])  # plus some brand-new pages

    n_dead, n_new = ingest.upsert_pages(
        spark, root, _pages_df(spark, batch))
    assert n_dead == 3 and n_new > 0
    fp = _term_stats_fingerprint(spark, root)
    res = _search_by_url(spark, root, QUERIES[:6] + ["qqreplay"])
    n_tomb = len(SearchIndex(spark, root).tombstones)

    # the epoch replay: identical batch, applied again
    assert ingest.upsert_pages(
        spark, root, _pages_df(spark, batch)) == (0, 0)
    assert _term_stats_fingerprint(spark, root) == fp
    assert _search_by_url(spark, root, QUERIES[:6] + ["qqreplay"]) == res
    assert len(SearchIndex(spark, root).tombstones) == n_tomb
    # each upserted url has exactly ONE live copy (no ghosts)
    live = catalog.read_table(spark, root, "docs").join(
        catalog.read_table(spark, root, "tombstones").select("doc_id"),
        "doc_id", "left_anti")
    dup = (live.groupBy("url").count().where("count > 1").count())
    assert dup == 0

    # and a THIRD revision of the same urls still upserts (the
    # unchanged-skip must key on content, not on "seen before")
    batch3 = [dict(p, text="qqreplay third revision " * 4)
              for p in batch[:3]]
    assert ingest.upsert_pages(
        spark, root, _pages_df(spark, batch3)) == (3, 3)
