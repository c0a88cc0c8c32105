"""Rank-identity: Spark engine == oracle on the reference query set.

north_rule gate: top-k docIDs and scores rank-identical to the
reference semantics (re-derived by tests/oracle.py) for the 30 queries
of ``/root/reference/indexing/evaluation.py:22-30``, across group
modes, weighting models, boosts, expansion and PageRank blend.
"""

import numpy as np
import pytest

from search_engine_wikipedia_spark.plans.query import SearchIndex, WikiSearcher
from search_engine_wikipedia_spark.synth import QUERIES

TOL = 1e-9


@pytest.fixture(scope="module")
def searcher(spark, built_index):
    root, oracle = built_index
    idx = SearchIndex(spark, root)
    return WikiSearcher(idx), oracle


def _assert_match(res, expected, query, ctx=""):
    got = [(d["doc_id"], d["score"]) for d in res["docs"]]
    assert [g[0] for g in got] == [e[0] for e in expected], (
        f"{query} {ctx}: docs {got} != {expected}"
    )
    for (gd, gs), (ed, es) in zip(got, expected):
        assert abs(gs - es) < TOL, f"{query} {ctx}: score {gs} != {es} @doc {gd}"


@pytest.mark.parametrize("group", ["AND", "OR"])
def test_rank_identity_all_queries(searcher, group):
    s, oracle = searcher
    for q in QUERIES:
        expected = oracle.search(q, limit=10, group=group)
        res = s.search(q, limit=10, exp=False, page_rank=False, group=group,
                       with_meta=False)
        _assert_match(res, expected, q, group)


def test_rank_identity_expansion(searcher):
    s, oracle = searcher
    for q in QUERIES:
        expected = oracle.search(q, limit=10, exp=True, group="AND")
        res = s.search(q, limit=10, exp=True, page_rank=False, group="AND",
                       with_meta=False)
        _assert_match(res, expected, q, "exp")


def test_rank_identity_wsd_context_queries(searcher):
    """Queries where WSD selects a NON-first sense from context (the
    synonym set — and therefore the expanded result list — depends on
    the Wu-Palmer argmax, not just fixture order)."""
    s, oracle = searcher
    for q in ["apple computer", "Steve Jobs", "Mars war god",
              "Mean Average Precision"]:
        expected = oracle.search(q, limit=10, exp=True, group="OR")
        res = s.search(q, limit=10, exp=True, page_rank=False, group="OR",
                       with_meta=False)
        _assert_match(res, expected, q, "wsd")


@pytest.mark.parametrize("weighting", ["TF_IDF", "FREQUENCY"])
def test_rank_identity_other_models(searcher, weighting):
    s, oracle = searcher
    for q in QUERIES[:10]:
        expected = oracle.search(q, limit=10, weighting=weighting, group="OR")
        res = s.search(q, limit=10, exp=False, page_rank=False, group="OR",
                       weighting=weighting, with_meta=False)
        _assert_match(res, expected, q, weighting)


def test_rank_identity_boosts(searcher):
    s, oracle = searcher
    for q in ["Roman Empire", "Solar energy", "Apple"]:
        expected = oracle.search(q, limit=10, text_boost=0.7, title_boost=2.0,
                                 group="AND")
        res = s.search(q, limit=10, exp=False, page_rank=False,
                       text_boost=0.7, title_boost=2.0, group="AND",
                       with_meta=False)
        _assert_match(res, expected, q, "boosts")


def test_limit_and_tie_order(searcher):
    s, oracle = searcher
    for q in ["Maya", "Precision"]:
        expected = oracle.search(q, limit=25, group="OR")
        res = s.search(q, limit=25, exp=False, page_rank=False, group="OR",
                       with_meta=False)
        _assert_match(res, expected, q, "limit25")


def test_pagerank_values_match_oracle(spark, built_index):
    from search_engine_wikipedia_spark.sources import catalog

    root, oracle = built_index
    engine_pr = {
        int(r["doc_id"]): float(r["pr"])
        for r in catalog.read_table(spark, root, "pagerank").collect()
    }
    oracle_pr = oracle.pagerank()
    assert set(engine_pr) == set(oracle_pr)
    for d, p in oracle_pr.items():
        assert abs(engine_pr[d] - p) < 1e-9, d
    # sanity: hub pages (low ids get most in-links in synth) rank high
    assert sum(engine_pr.values()) == pytest.approx(1.0, abs=1e-6)


def test_edges_match_oracle(spark, built_index):
    from search_engine_wikipedia_spark.sources import catalog

    root, oracle = built_index
    engine_edges = {
        (int(r["src"]), int(r["dst"]))
        for r in catalog.read_table(spark, root, "edges").collect()
    }
    assert engine_edges == oracle.edges()


def test_blended_search_matches_oracle(searcher):
    s, oracle = searcher
    for q in QUERIES:
        expected = oracle.search(q, limit=10, page_rank=True, group="AND")
        res = s.search(q, limit=10, exp=False, page_rank=True, group="AND",
                       with_meta=False)
        got = [(d["doc_id"], d["final_score"]) for d in res["docs"]]
        assert [g[0] for g in got] == [e[0] for e in expected], q
        for (gd, gs), (ed, es) in zip(got, expected):
            assert abs(gs - es) < 1e-6, (q, gd)


def test_batched_matches_interactive(spark, built_index):
    from search_engine_wikipedia_spark.plans.query import (
        SearchIndex,
        WikiSearcher,
        search_batch,
    )

    root, _ = built_index
    idx = SearchIndex(spark, root)
    s = WikiSearcher(idx)
    qs = list(QUERIES)
    batch = search_batch(idx, qs, limit=10, exp=True, page_rank=True).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query"], []).append(r)
    for q in qs:
        rows = sorted(by_q.get(q, []), key=lambda r: r["final_rank"])
        inter = s.search(q, limit=10, exp=True, page_rank=True,
                         with_meta=False)
        assert [int(r["doc_id"]) for r in rows] == [
            d["doc_id"] for d in inter["docs"]
        ], q
        for r, d in zip(rows, inter["docs"]):
            assert abs(float(r["final_score"]) - d["final_score"]) < 1e-9, q


def test_doc_ids_are_dense_url_ranks(spark, built_index):
    from search_engine_wikipedia_spark.sources import catalog

    root, oracle = built_index
    docs = catalog.read_table(spark, root, "docs").select(
        "doc_id", "url").collect()
    engine = {int(r["doc_id"]): r["url"] for r in docs}
    expected = {d: v[0] for d, v in oracle.docs.items()}
    assert engine == expected


def test_clean_text_byte_identity_in_table(spark, built_index):
    from search_engine_wikipedia_spark.sources import catalog

    root, oracle = built_index
    rows = catalog.read_table(spark, root, "docs").select(
        "doc_id", "clean_text", "links").collect()
    for r in rows:
        d = int(r["doc_id"])
        assert r["clean_text"] == oracle.docs[d][2]
        assert list(r["links"]) == oracle.docs[d][3]


def test_search_many_broadcast_rank_identical(spark, built_index):
    """Broadcast-postings serving plan == join-based batch plan."""
    from search_engine_wikipedia_spark.plans.query import (
        SearchIndex, search_batch, search_many_broadcast,
    )

    root, oracle = built_index
    idx = SearchIndex(spark, root)
    queries = ["Roman Empire", "Solar energy", "DNA", "Maya"]
    a = search_batch(idx, queries, limit=10, exp=False,
                     page_rank=False).collect()
    b = search_many_broadcast(idx, queries, limit=10).collect()
    ka = sorted((r["query_id"], r["rank"], r["doc_id"],
                 round(r["score"], 9)) for r in a)
    kb = sorted((r["query_id"], r["rank"], r["doc_id"],
                 round(r["score"], 9)) for r in b)
    assert ka == kb


def test_repeated_queries_rank_identical_per_repeat(spark, built_index):
    """Both distributed plans parse each distinct text once and share
    the tree across its repeats: every repeat of a text gets the same
    (rank, doc_id, score) rows, and the two plans agree."""
    from search_engine_wikipedia_spark.plans.query import (
        SearchIndex, search_batch, search_many_broadcast,
    )

    root, _ = built_index
    idx = SearchIndex(spark, root)
    queries = ["Roman Empire", "DNA", "Roman Empire", "Maya", "DNA",
               "Roman Empire"]
    plans = {
        "batch": search_batch(idx, queries, limit=10, exp=True,
                              page_rank=False).collect(),
        "bcast": search_many_broadcast(idx, queries, limit=10,
                                       exp=True).collect(),
    }
    per_text = {}
    for plan, rows in plans.items():
        by_qid = {}
        for r in rows:
            by_qid.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], round(r["score"], 9)))
        for qid, q in enumerate(queries):
            got = sorted(by_qid.get(qid, []))
            assert got, (plan, q)
            per_text.setdefault(q, got)
            assert got == per_text[q], (plan, qid, q)


def test_search_batch_blend_schema_without_pagerank_table(
        spark, built_index, tmp_path):
    """``page_rank=True`` on an index with no pagerank table still
    returns the blended columns: the blend runs over an empty PR map
    (mult 1.0, final_score = score, final_rank = rank)."""
    import shutil

    from search_engine_wikipedia_spark.plans.query import (
        SearchIndex, search_batch,
    )
    from search_engine_wikipedia_spark.sources import catalog

    root, _ = built_index
    copy = str(tmp_path / "no_pagerank")
    shutil.copytree(root, copy)
    catalog.drop_table(copy, "pagerank")
    idx = SearchIndex(spark, copy)
    rows = search_batch(idx, ["Roman Empire", "DNA"], limit=10, exp=False,
                        page_rank=True).collect()
    assert rows
    for r in rows:
        assert r["mult"] == 1.0
        assert r["final_score"] == r["score"]
        assert r["final_rank"] == r["rank"]


def test_index_without_bucket_count_is_refused(spark, built_index,
                                               tmp_path):
    """An index whose _SCHEMA.json records no ``n_term_buckets`` is
    refused by the reader and by maintenance, not served with a guessed
    bucket modulus."""
    import shutil

    from search_engine_wikipedia_spark.operators import ingest
    from search_engine_wikipedia_spark.plans.query import SearchIndex
    from search_engine_wikipedia_spark.sources import catalog

    root, _ = built_index
    copy = str(tmp_path / "no_buckets")
    shutil.copytree(root, copy)
    meta = catalog.read_schema_meta(copy)
    del meta["n_term_buckets"]
    catalog.write_schema_meta(copy, meta)
    assert "n_term_buckets" not in catalog.read_schema_meta_or_none(copy)
    with pytest.raises(ValueError, match="n_term_buckets"):
        SearchIndex(spark, copy)
    with pytest.raises(ValueError, match="n_term_buckets"):
        ingest.remerge(spark, copy, delta_seg=0)


def test_fetch_postings_size_guard(spark, built_index):
    """A capped SearchIndex refuses to collect a head term's postings
    into the driver and points at the distributed plan."""
    from search_engine_wikipedia_spark.plans.query import SearchIndex

    root, _ = built_index
    idx = SearchIndex(spark, root, max_postings_per_term=1)
    with pytest.raises(ValueError, match="search_batch"):
        idx.fetch_postings([("text", "roman")])
    # the default cap (10M) never fires at corpus scale; explicit
    # None opts out of the pre-check entirely
    assert SearchIndex(spark, root).fetch_postings([("text", "roman")])
    assert SearchIndex(
        spark, root, max_postings_per_term=None
    ).fetch_postings([("text", "roman")])


def test_default_cap_routes_hot_term_to_search_batch(
        spark, built_index, monkeypatch):
    """A DEFAULT-configured SearchIndex (no cap argument) refuses a
    term whose term_df exceeds ``DEFAULT_MAX_POSTINGS_PER_TERM``,
    while the distributed ``search_batch`` plan — which never collects
    postings — answers the same query.

    The corpus is small, so instead of building a 10M-posting term we
    shrink the module default: the index is still opened through the
    DEFAULT code path (no ``max_postings_per_term`` argument)."""
    from search_engine_wikipedia_spark.plans import query as Q

    root, _ = built_index
    # "roman" appears in many fixture docs; cap below its term_df
    monkeypatch.setattr(Q, "DEFAULT_MAX_POSTINGS_PER_TERM", 1)
    idx = Q.SearchIndex(spark, root)          # default-configured
    assert idx.max_postings_per_term == 1
    searcher = Q.WikiSearcher(idx)
    with pytest.raises(Q.HotTermError, match="search_batch"):
        searcher.search("Roman Empire", limit=10, exp=False,
                        page_rank=False, with_meta=False)
    rows = Q.search_batch(idx, ["Roman Empire"], limit=10, exp=False,
                          page_rank=False).collect()
    assert len(rows) > 0


def test_n_res_is_whoosh_estimated_length(searcher):
    """``n_res`` mirrors Whoosh ``results.estimated_length()``
    (searcher.py:106) = Query.estimate_size: Term→df, Or→sum, And→min
    — NOT the exact matched count."""
    from search_engine_wikipedia_spark.functions.textproc import (
        analyze_text, analyze_title,
    )

    s, oracle = searcher

    def group_estimate(word):
        est = 0
        tt, ti = analyze_text(word), analyze_title(word)
        if tt:
            est += len(oracle.postings.get(("text", tt[0]), {}))
        if ti:
            est += len(oracle.postings.get(("title", ti[0]), {}))
        return est

    for q, group in [("Roman Empire", "AND"), ("Solar energy", "OR"),
                     ("DNA", "AND")]:
        ests = [group_estimate(w) for w in q.split()]
        expected = min(ests) if group == "AND" else sum(ests)
        res = s.search(q, limit=5, exp=False, page_rank=False, group=group,
                       with_meta=False)
        assert res["n_res"] == expected, (q, res["n_res"], expected)
