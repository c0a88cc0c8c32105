"""Seeded inputs for the benchmark workloads.

The corpus is ``synth.generate_pages_df(spark, N_DOCS)``, a pure function
of ``N_DOCS``; the seed picks everything else (query order, cold targets,
upsert and delete victims).  Everything here is pure Python so the
same seed gives identical lists without a Spark session.
"""

from __future__ import annotations

import hashlib
import json
import random

N_DOCS = 5000

# Head filler terms of the synthetic corpus, paired into AND queries.
HEAD_QUERIES = [
    "history culture", "science nature", "river mountain", "music art",
    "trade harbor", "kingdom republic", "ancient city", "war peace",
    "language literature", "climate species",
]

# Share of the corpus revised by the upsert and removed by the delete.
VICTIM_FRAC = 0.01
# Interactive ops of each kind (hot, cold) per second of --seconds.  Each
# kind is reported on its own (a trimmed mean over its ops), so this only
# sets how many samples each figure gets; no metric mixes the kinds.
# At 3 a 5-second run holds 15 + 15 serve ops, which a 4-core host
# answers in about 8 s of wall time with the GUI flags.
KIND_OPS_PER_SECOND = 3
# Titles run through both batch plans and searched (cold, then hot)
# between set-up and the timed window, so the window finds the JIT and
# Spark's Python workers warm (see workloads.warm_up and the README).
WARMUP_TITLES = 4


def reference_queries() -> list[str]:
    from search_engine_wikipedia_spark import synth

    return list(synth.QUERIES)


def hot_queries() -> list[str]:
    return reference_queries() + HEAD_QUERIES


def page_is_indexed(i: int, n_docs: int = N_DOCS) -> bool:
    """Survives the reference filters: lang='en' and not a redirect
    (as ``synth.make_page`` generates them; the build check counts the
    survivors from the corpus parquet itself, see ``workloads.corpus``)."""
    from search_engine_wikipedia_spark import synth

    page = synth.make_page(i, n_docs)
    return page["lang"] == "en" and not page["text"].startswith("#REDIRECT")


def indexed_ids(n_docs: int = N_DOCS) -> list[int]:
    return [i for i in range(n_docs) if page_is_indexed(i, n_docs)]


def serve_ops(seed: int, seconds: int, n_docs: int = N_DOCS) -> list[dict]:
    """Interactive op list: ``seconds * KIND_OPS_PER_SECOND`` hot ops and
    as many cold ones, in seeded order.  Hot ops walk seeded shuffles of
    the reference and head-term queries (all terms warmed in set-up).
    A cold op is the title of an indexed doc no other op queries, so its
    7-digit number term was never fetched.
    """
    from search_engine_wikipedia_spark import synth

    rng = random.Random(f"serve-{seed}")
    n = max(1, seconds * KIND_OPS_PER_SECOND)
    hot: list[str] = []
    while len(hot) < n:
        hot += rng.sample(hot_queries(), len(hot_queries()))
    ops = [{"kind": "hot", "query": q} for q in hot[:n]]
    ops += [{"kind": "cold", "query": synth.title_for(i),
             "url": synth.url_for(i)}
            for i in rng.sample(indexed_ids(n_docs), n)]
    rng.shuffle(ops)
    return ops


def warmup_queries(seed: int, exclude_urls=(), n_docs: int = N_DOCS
                   ) -> list[str]:
    """Titles of ``WARMUP_TITLES`` seeded indexed docs whose urls are not
    in ``exclude_urls``, each listed twice (a cold ask, then a hot one)."""
    from search_engine_wikipedia_spark import synth

    rng = random.Random(f"warmup-{seed}")
    skip = set(exclude_urls)
    ids = [i for i in indexed_ids(n_docs) if synth.url_for(i) not in skip]
    titles = [synth.title_for(i) for i in rng.sample(ids, WARMUP_TITLES)]
    return titles + titles


def build_plan(seed: int, seconds: int, n_docs: int = N_DOCS) -> dict:
    """Delete and upsert victims (disjoint, 1 % of the indexed docs
    each) and the query burst on the reader reopened after the delete:
    the titles of ``seconds * KIND_OPS_PER_SECOND - 1`` untouched docs
    and of one deleted doc, each asked once ``cold`` (its number term
    not yet fetched by this reader), then all asked again ``hot`` (every
    term now cached), in a second seeded order.
    """
    from search_engine_wikipedia_spark import synth

    rng = random.Random(f"build-{seed}")
    ids = indexed_ids(n_docs)
    k = max(1, int(len(ids) * VICTIM_FRAC))
    picked = rng.sample(ids, 2 * k)
    delete, upsert = sorted(picked[:k]), sorted(picked[k:])
    rest = [i for i in ids if i not in set(picked)]

    n = max(2, seconds * KIND_OPS_PER_SECOND)
    titles = [{"query": synth.title_for(i), "url": synth.url_for(i)}
              for i in rng.sample(rest, n - 1)]
    titles.append({"query": synth.title_for(rng.choice(delete)),
                   "url": None})  # deleted: its page must not come back
    rng.shuffle(titles)
    again = rng.sample(titles, len(titles))
    burst = ([dict(t, kind="cold") for t in titles]
             + [dict(t, kind="hot") for t in again])
    return {"delete": delete, "upsert": upsert, "burst": burst}


def revision_marker(i: int) -> str:
    return f"revisionmark{i:07d}"


def revised_page(i: int, n_docs: int = N_DOCS) -> dict:
    """Page ``i`` with a unique marker word appended to its text."""
    from search_engine_wikipedia_spark import synth

    page = synth.make_page(i, n_docs)
    page["text"] = page["text"] + f" Revised edition {revision_marker(i)}. "
    return page


def fingerprint(obj) -> str:
    blob = json.dumps(obj, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]
