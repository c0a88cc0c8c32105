"""Randomized maintenance-sequence equivalence (LSM lifecycle fuzz).

A SEEDED random interleaving of the full maintenance surface —
``append_pages`` / ``upsert_pages`` / ``delete_urls`` / ``delete_where``
/ ``compact`` / ``optimize_segments`` — over a small corpus must leave
an index statistically identical (term-stats fingerprint + BM25 scores
by url) to a FRESH build over the logically surviving corpus.  The
pairwise interplay tests in test_ingest/test_delete pin each op's
contract; this pins the lifecycle's closure property: any op ORDER
converges to the same state.  The crash variant additionally injects a
failure into a randomly chosen journaled seam mid-sequence and replays
the crashed op (exactly what a foreachBatch driver retry does) — the
recovery machinery must converge to the same fresh-build state.
"""

import random

import pandas as pd
import pytest

from search_engine_wikipedia_spark import schemas, synth
from search_engine_wikipedia_spark.operators import ingest
from search_engine_wikipedia_spark.operators.build import IndexBuilder
from search_engine_wikipedia_spark.synth import QUERIES

from tests.test_delete import _search_by_url
from tests.test_ingest import _term_stats_fingerprint

N_POOL = 400
SHARD = 200

# Seams every op's write path routes through (the same ones the
# targeted crash tests patch): tokenize, segment encode — from tokens
# (append) or from blobs (compact, optimize), one seam — and table
# append.
CRASH_SEAMS = ("term_freqs", ("build_segments", "reencode_segments"),
               "_append_table")


def _pages_df(spark, pages):
    return spark.createDataFrame(pd.DataFrame(pages), schema=schemas.PAGES)


def _build(spark, root, pages):
    IndexBuilder(spark, root, n_segments=4, shard_size=SHARD).build(
        _pages_df(spark, pages), resume=False)


def _indexed(page) -> bool:
    """Mirror of docs_from_pages' scan filters (lang + redirect)."""
    return (page["lang"] == "en"
            and not (page["text"] or "").startswith("#REDIRECT"))


class _Sequence:
    """Shared op driver: applies a random op to BOTH the real index and
    the expected url->page dict, returning a thunk so the crash variant
    can re-invoke (replay) the exact same call."""

    def __init__(self, spark, root, rng, pool):
        self.spark, self.root, self.rng = spark, root, rng
        self.base, self.feed = pool[:150], pool[150:]
        _build(spark, root, self.base)
        self.live = {p["url"]: p for p in self.base}
        self.feed_at = 0
        self.rev = 0

    def indexed_urls(self):
        return sorted(u for u, p in self.live.items() if _indexed(p))

    def step(self, op):
        """Returns (engine_thunk, commit_expected) or None if the op
        degenerates (nothing to act on) this round."""
        spark, root, rng = self.spark, self.root, self.rng
        if op == "append":
            if self.feed_at >= len(self.feed):
                return None
            chunk = self.feed[self.feed_at:self.feed_at + 25]
            self.feed_at += 25
            df = _pages_df(spark, chunk)

            def commit():
                for p in chunk:
                    self.live.setdefault(p["url"], p)
            return (lambda: ingest.append_pages(spark, root, df), commit)
        if op == "upsert":
            urls = self.indexed_urls()
            victims = rng.sample(urls, min(5, len(urls)))
            if not victims:
                return None
            self.rev += 1
            batch = [dict(self.live[u],
                          text=self.live[u]["text"]
                          + f" zzrevision{self.rev}")
                     for u in victims]
            df = _pages_df(spark, batch)

            def commit():
                for p in batch:
                    self.live[p["url"]] = p
            return (lambda: ingest.upsert_pages(spark, root, df), commit)
        if op == "delete_urls":
            urls = self.indexed_urls()
            victims = rng.sample(urls, min(4, len(urls)))
            if not victims:
                return None

            def commit():
                for u in victims:
                    self.live.pop(u)
            return (lambda: ingest.delete_urls(spark, root, victims),
                    commit)
        if op == "delete_where":
            suffix = str(rng.randrange(10))

            def commit():
                for u in [u for u in self.live if u.endswith(suffix)]:
                    self.live.pop(u)
            return (lambda: ingest.delete_where(
                spark, root, f"url LIKE '%{suffix}'"), commit)
        if op == "compact":
            return (lambda: ingest.compact(spark, root),
                    lambda: None)
        if op == "optimize":
            return (lambda: ingest.optimize_segments(spark, root),
                    lambda: None)
        raise AssertionError(op)

    def assert_equals_fresh_build(self, tmp_path_factory, tag, trace):
        # converge: tombstoned stats differ from fresh by design
        # (Lucene live-docs semantics) — the claim is post-compact
        ingest.compact(self.spark, self.root)
        fresh = str(tmp_path_factory.mktemp(tag))
        _build(self.spark, fresh,
               sorted(self.live.values(), key=lambda p: p["url"]))
        assert (_term_stats_fingerprint(self.spark, self.root)
                == _term_stats_fingerprint(self.spark, fresh)), trace
        got = _search_by_url(self.spark, self.root, QUERIES[:10])
        want = _search_by_url(self.spark, fresh, QUERIES[:10])
        assert got == want, trace


OPS = ["append", "upsert", "delete_urls", "delete_where",
       "compact", "optimize"]


@pytest.mark.parametrize("seed", [7, 23])
def test_random_maintenance_sequence_equals_fresh_build(
        spark, tmp_path_factory, seed):
    rng = random.Random(seed)
    seq = _Sequence(spark, str(tmp_path_factory.mktemp(f"fuzz{seed}")),
                    rng, [synth.make_page(i, N_POOL) for i in range(N_POOL)])
    trace = []
    for _ in range(8):
        op = rng.choice(OPS)
        trace.append(op)
        planned = seq.step(op)
        if planned is None:
            continue
        run, commit = planned
        run()
        commit()
    seq.assert_equals_fresh_build(tmp_path_factory, f"fuzz{seed}_fresh",
                                  trace)


# seeds chosen so the injection demonstrably FIRES (asserted below) on
# three distinct (op, seam) pairs: 11 = upsert @ _append_table,
# 13 = compact @ segment encode, 41 = append @ segment encode
@pytest.mark.parametrize("seed", [11, 13, 41])
def test_random_crash_and_replay_converges(
        spark, tmp_path_factory, monkeypatch, seed):
    """One op in the random sequence dies at a randomly chosen journaled
    seam; the driver-style replay of the SAME op (plus the preamble
    recovery every later op runs) must converge to the fresh build."""
    rng = random.Random(seed)
    seq = _Sequence(spark, str(tmp_path_factory.mktemp(f"cfuzz{seed}")),
                    rng, [synth.make_page(i, N_POOL) for i in range(N_POOL)])
    crash_step = rng.randrange(2, 6)
    seam = rng.choice(CRASH_SEAMS)
    trace = [f"crash@{crash_step}:{seam}"]
    crashed = {"fired": False}
    for step in range(8):
        op = rng.choice(OPS)
        trace.append(op)
        planned = seq.step(op)
        if planned is None:
            continue
        run, commit = planned
        if step == crash_step:
            names = seam if isinstance(seam, tuple) else (seam,)
            origs = {n: getattr(ingest, n) for n in names}
            calls = {"n": 0}

            def dying(orig):
                def fn(*a, **kw):
                    calls["n"] += 1
                    if calls["n"] == 1:
                        crashed["fired"] = True
                        raise RuntimeError("injected lifecycle crash")
                    return orig(*a, **kw)
                return fn

            for n, orig in origs.items():
                monkeypatch.setattr(ingest, n, dying(orig))
            try:
                run()
            except RuntimeError:
                pass  # the op may not route through this seam at all
            finally:
                for n, orig in origs.items():
                    monkeypatch.setattr(ingest, n, orig)
            if crashed["fired"]:
                run()  # foreachBatch-style replay of the same op
        else:
            run()
        commit()
    assert crashed["fired"], trace  # pinned seeds must exercise a crash
    seq.assert_equals_fresh_build(tmp_path_factory, f"cfuzz{seed}_fresh",
                                  trace)
