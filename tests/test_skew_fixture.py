"""Adversarial head-term skew fixture for the salted global merge.

The skew gate in ``test_metrics.py`` runs on a benign Zipf-ish corpus;
this file stresses the mechanism it guards.  One term is injected into
~50% of documents — the web-scale shape (a stopword-class token over a
crawl) that makes a single (term, field) reduce group hold half the
corpus.  ``merge_segments`` (operators/build.py:352-446) must take the
monotone-salt path for exactly that term: S = ceil(df/shard_size)
doc-range shards, each a contiguous disjoint slice, whose concatenation
is byte-equal to the unsalted posting list.

The negative control builds the SAME corpus with salting effectively
disabled (shard_size larger than the corpus): the head term then lands
in ONE merge group holding df ≈ n_docs/2 postings — the exact
per-group memory bound the salt exists to enforce is violated, which
is what this fixture would catch if salting regressed.
"""

import numpy as np
import pandas as pd
import pytest

from search_engine_wikipedia_spark import schemas, synth
from search_engine_wikipedia_spark.functions import codec
from search_engine_wikipedia_spark.operators import metrics as M
from search_engine_wikipedia_spark.operators.build import IndexBuilder
from search_engine_wikipedia_spark.sources import catalog

HOT = "zqhotterm"      # not in the synth vocabulary; stems to itself
SHARD_SIZE = 50        # hot df ~= 140 >> shard_size -> S shards


def _hot_corpus():
    """The standard 300-page synth corpus with HOT appended to the
    text of every even-numbered page (~50% of non-redirect docs),
    uniformly across the doc-id range so the seg_id-monotone salt has
    segments of comparable hot-df to split."""
    pages = [synth.make_page(i, 300) for i in range(300)]
    for i, p in enumerate(pages):
        if i % 2 == 0 and not p["text"].startswith("#REDIRECT"):
            p["text"] = p["text"] + f" {HOT} appears here."
    return pages


def _build(spark, root, pages, shard_size):
    df = spark.createDataFrame(pd.DataFrame(pages), schema=schemas.PAGES)
    IndexBuilder(spark, root, n_segments=4,
                 shard_size=shard_size).build(df, resume=False)


@pytest.fixture(scope="module")
def skew_indexes(spark, tmp_path_factory):
    pages = _hot_corpus()
    salted = str(tmp_path_factory.mktemp("skew_salted"))
    unsalted = str(tmp_path_factory.mktemp("skew_unsalted"))
    _build(spark, salted, pages, shard_size=SHARD_SIZE)
    _build(spark, unsalted, pages, shard_size=10**9)  # salting disabled
    return salted, unsalted


def _postings_for(spark, root, term):
    from pyspark.sql import functions as F

    return (
        catalog.read_table(spark, root, "postings")
        .where((F.col("term") == term) & (F.col("field") == "text"))
        .select("shard_id", "n_shards", "term_df", "df",
                "doc_ids", "tfs", "fls")
        .orderBy("shard_id")
        .collect()
    )


def test_salted_merge_shards_the_head_term(spark, skew_indexes):
    """(a) the monotone-salt path is actually taken: the head term
    splits into S = ceil(df/shard_size) contiguous disjoint doc-range
    shards whose per-group size honors the merge memory bound, and
    whose concatenation equals the unsalted posting list exactly."""
    salted, unsalted = skew_indexes
    srows = _postings_for(spark, salted, HOT)
    urows = _postings_for(spark, unsalted, HOT)

    assert len(urows) == 1 and urows[0]["n_shards"] == 1
    term_df = urows[0]["term_df"]
    assert term_df >= 120                      # ~50% of 300 minus redirects

    expect_s = -(-term_df // SHARD_SIZE)       # ceil
    n_shards = srows[0]["n_shards"]
    assert n_shards == min(expect_s, 4)        # capped by n_segments=4
    assert n_shards > 1
    assert [r["shard_id"] for r in srows] == list(range(n_shards))
    assert all(r["term_df"] == term_df for r in srows)
    assert sum(r["df"] for r in srows) == term_df

    # per-group memory bound: no salted group holds more than ~2x the
    # target (uniform doc spread -> df/S per shard; 2x absorbs the
    # segment-boundary granularity of the seg_id-monotone salt)
    assert max(r["df"] for r in srows) <= 2 * SHARD_SIZE

    # contiguous disjoint ranges, ascending in shard_id; concatenation
    # is content-identical to the unsalted list
    decoded = [codec.decode_postings(bytes(r["doc_ids"]), bytes(r["tfs"]),
                                     bytes(r["fls"])) for r in srows]
    for (a, _, _), (b, _, _) in zip(decoded, decoded[1:]):
        assert a.max() < b.min()
    cat = [np.concatenate([d[k] for d in decoded]) for k in range(3)]
    ref = codec.decode_postings(bytes(urows[0]["doc_ids"]),
                                bytes(urows[0]["tfs"]),
                                bytes(urows[0]["fls"]))
    for got, want in zip(cat, ref):
        np.testing.assert_array_equal(got, want)


def test_unsalted_build_violates_the_group_bound(spark, skew_indexes):
    """The negative control the round-4 review asked for: the same
    corpus built with salting disabled concentrates the head term in
    ONE merge group whose size breaks the per-group bound the salted
    build honors — i.e. this fixture FAILS a salting regression."""
    _, unsalted = skew_indexes
    urows = _postings_for(spark, unsalted, HOT)
    assert len(urows) == 1
    assert urows[0]["df"] > 2 * SHARD_SIZE     # the violated invariant


def test_skew_report_stays_bounded_post_merge(spark, skew_indexes):
    """(b) the adversarial corpus does not unbalance the PHYSICAL
    layout: tbucket files stay within the same gate bounds as the
    benign corpus (the head term's shards all hash to one tbucket, but
    S extra rows among ~32-file layouts is noise, and the docs table is
    untouched by term skew)."""
    salted, _ = skew_indexes
    postings = M.skew_report(salted, "postings")
    assert postings["n_files"] >= 8
    assert postings["skew_ratio"] <= 3.0, postings
    docs = M.skew_report(salted, "docs")
    assert docs["skew_ratio"] <= 2.0, docs


def test_head_term_queries_rank_identically(spark, skew_indexes):
    """Rank identity across the salted and unsalted builds for queries
    that HIT the head term — the salt must be invisible to scoring."""
    from search_engine_wikipedia_spark.plans.query import (
        SearchIndex, WikiSearcher,
    )

    salted, unsalted = skew_indexes
    for q in (HOT, f"{HOT} spark", f"{HOT} OR window"):
        res = []
        for root in (salted, unsalted):
            s = WikiSearcher(SearchIndex(spark, root))
            out = s.search(q, limit=10, exp=False, page_rank=False)
            res.append([(d["doc_id"], round(d["score"], 6))
                        for d in out["docs"]])
        assert res[0] == res[1], q
