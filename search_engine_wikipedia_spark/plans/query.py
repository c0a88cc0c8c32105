"""Query parsing, execution, PageRank blend, result assembly.

Re-derivation of the reference query lifecycle
(``indexing/searching/searcher.py:61-142``):

1. multifield parse: each whitespace token → ``(text:analyzed OR
   title:analyzed)`` with per-field boosts (MultifieldPlugin;
   ``searcher.py:53-55,:86``); tokens grouped by AND (default) or OR
   (``searcher.py:23-25,:87``); a token whose analysis is empty in a
   field (stopword) drops that field term, and the token disappears
   entirely if both analyses are empty (Whoosh qparser behavior),
2. optional expansion: ``( orig ) OR ( syn1 OR syn2 … )^0.5``
   (``queryExpansion.py:161-174``) — the 0.5 group boost multiplies the
   synonym term boosts,
3. top-k by the selected weighting model (BM25F default),
4. optional PageRank blend: for the k results only, ``mult =
   round(1 + (pr/max_pr_in_results)^4, 5)``, ``final = score·mult``,
   then a stable re-sort by final desc (``searcher.py:108-118,:123-142``,
   ``graph.py:178-211``).  NOTE the reference multiplies by the
   5-decimal-ROUNDED value from ``getRank(ids, 5)`` — reproduced here.

One core, three transports.  Every serving plan runs the same steps:
``_parse_distinct`` parses each distinct query text once into a
picklable tree spec plus its ``(field, term)`` posting keys,
``SearchIndex._key_filter`` prunes the postings read to those keys'
tbucket partitions and term/field values, ``_topk`` rebuilds the tree,
binds its postings and runs the block-max kernel, and ``blend_pagerank``
is the one PageRank blend.  The plans differ only in how postings reach
the kernel:

* ``WikiSearcher.search`` — driver fetch into the reader's term cache,
  a pyarrow read of the pinned snapshot's files with no Spark job;
* ``search_many_broadcast`` / ``serving_partition_stats`` — one
  broadcast posting cache shared by every task (``_broadcast_runner``);
* ``search_batch`` — a shuffle join of the postings against the query
  fan-out, for query floods and terms too hot for the driver.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass
from typing import Any as _tAny

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import term_bucket
from ..functions.textproc import analyze_text, analyze_title
from ..operators import wand
from ..operators.build import term_freqs
from ..operators.wand import (
    And, GlobalStats, Not, Or, PostingList, Scorer, Term, Weighting,
)
from ..sources import catalog
from . import expansion as expansion_mod
from . import qsyntax

BASE_URL = "https://en.wikipedia.org/wiki/"  # searcher.py:27
PR_ALPHA = 4  # graph.py:194
PR_ROUND = 5  # searcher.py:135


# ---------------------------------------------------------------------------
# Parser (Q1/Q2)
# ---------------------------------------------------------------------------
DEFAULT_ANALYZERS = {"text": analyze_text, "title": analyze_title}


def token_node(word: str, text_boost: float, title_boost: float,
               analyzers: dict | None = None) -> Or | None:
    """One query word → Or([text:analyzed, title:analyzed]) (multifield).

    ``analyzers`` = the index's recorded per-field chains (A3/A2 by
    default); a query MUST be analyzed with the same chain the index
    was built with or its terms never match the vocabulary."""
    az = analyzers or DEFAULT_ANALYZERS
    terms = []
    t_text = az["text"](word)
    t_title = az["title"](word)
    if t_text:
        terms.append(Term("text", t_text[0], text_boost))
    if t_title:
        terms.append(Term("title", t_title[0], title_boost))
    if not terms:
        return None
    return Or(terms)


def _syntax_leaf(word, text_boost: float, title_boost: float,
                 analyzers: dict | None, index):
    """qsyntax.Word → leaf node (analysis + multifield + wildcards)."""
    az = analyzers or DEFAULT_ANALYZERS
    if word.is_pattern:
        if index is None:
            raise qsyntax.QuerySyntaxError(
                f"wildcard query {word.text!r} needs an open index to "
                "expand against the vocabulary; pass index= to parse_query"
            )
        fields = ([word.field] if word.field in ("text", "title")
                  else ["text", "title"])
        leaves = []
        for f in fields:
            fb = text_boost if f == "text" else title_boost
            for t in index.expand_pattern(f, word.text.lower()):
                leaves.append(Term(f, t, word.boost * fb))
        if not leaves:
            return None
        return leaves[0] if len(leaves) == 1 else Or(leaves)
    if word.field == "id_page":
        # deviation (documented in qsyntax): the ID field isn't in our
        # postings, so this leaf matches nothing
        return Term("id_page", word.text, word.boost)
    if word.field is not None:
        toks = az[word.field](word.text)
        if not toks:
            return None
        fb = text_boost if word.field == "text" else title_boost
        return Term(word.field, toks[0], word.boost * fb)
    return token_node(word.text, text_boost * word.boost,
                      title_boost * word.boost, analyzers)


def parse_query(
    text: str,
    group: str = "AND",
    text_boost: float = 1.0,
    title_boost: float = 1.0,
    expand: bool = False,
    expander: expansion_mod.Expander | None = None,
    analyzers: dict | None = None,
    index=None,
):
    """→ (tree, expansion_tokens).

    Plain whitespace queries take the legacy multifield path; queries
    using Whoosh syntax (AND/OR/NOT, parens, ``field:``, ``^boost``,
    wildcards, quotes) route through ``plans.qsyntax`` — see its
    docstring for the exact supported surface and deviations.
    ``index`` (a ``SearchIndex``) is only needed for wildcard patterns,
    which expand against the built vocabulary.
    """
    exp_tokens: list[str] = []
    if expand:
        expander = expander or expansion_mod.Expander()
        exp_tokens = expander.expansion(text)

    if qsyntax.has_syntax(text):
        orig = qsyntax.parse_syntax(
            text, group,
            lambda w: _syntax_leaf(w, text_boost, title_boost,
                                   analyzers, index),
        )
    else:
        nodes = [token_node(w, text_boost, title_boost, analyzers)
                 for w in text.split()]
        nodes = [n for n in nodes if n is not None]
        if not nodes:
            orig = None
        elif len(nodes) == 1:
            orig = nodes[0]
        else:
            orig = And(nodes) if group == "AND" else Or(nodes)

    if expand and exp_tokens:
        syn_nodes = [
            token_node(w, text_boost * 0.5, title_boost * 0.5, analyzers)
            for w in exp_tokens
        ]
        syn_nodes = [n for n in syn_nodes if n is not None]
        if syn_nodes:
            syn_group = Or(syn_nodes) if len(syn_nodes) > 1 else syn_nodes[0]
            orig = Or([orig, syn_group]) if orig is not None else syn_group
    return orig, exp_tokens


def tree_terms(node) -> list[Term]:
    if node is None:
        return []
    if isinstance(node, Term):
        return [node]
    if isinstance(node, Not):
        return tree_terms(node.child)
    out = []
    for c in node.children:
        out.extend(tree_terms(c))
    return out


# ---------------------------------------------------------------------------
# Index handle: loads the catalog tables, binds postings to query trees
# ---------------------------------------------------------------------------
POSTING_COLS = [
    "term", "field", "shard_id", "n_shards", "term_df", "df",
    "doc_ids", "tfs", "fls", "block_last", "block_max_tf", "block_min_fl",
    "block_doc_off", "block_tf_off", "block_fl_off",
]


@dataclass
class IndexStats:
    n_docs: int
    avg_len: dict


# Default driver-side posting-fetch cap (postings per term).  Memory
# math: a collected posting row is the delta+varbyte doc_id/tf/fl blobs
# (~2-4 bytes/posting compressed) plus Row overhead amortized across
# the ~128k-posting blocks, so 10M postings ≈ 30-80 MB of blobs and a
# comparable transient decode buffer — well inside any sane driver
# heap, while a web-scale head term (10^9+ postings, multi-GB) is
# refused before a single blob leaves parquet.  Opt OUT (uncapped)
# requires an explicit ``max_postings_per_term=None``.
DEFAULT_MAX_POSTINGS_PER_TERM = 10_000_000

# sentinel: distinguishes "caller said None = uncapped" from "caller
# said nothing = default cap", and lets tests monkeypatch the module
# default without re-binding the __init__ signature.  Typed ``Any`` so
# the ``int | None`` parameter annotations it defaults stay honest to
# type checkers (the resolved attribute is always int/float or None).
_CAP_DEFAULT: "_tAny" = object()


class HotTermError(ValueError):
    """A query term's posting list exceeds the driver-fetch cap; the
    query must run through the distributed ``search_batch`` plan."""


# Serving-path tombstone budget, as a fraction of indexed docs.  The
# driver-held tombstone set is bounded by COMPACTION CADENCE, not by
# any mechanism — the same reasoning Lucene applies to its live-docs
# bitset — and this constant turns that operator-discipline assumption
# into a contract: a reader that would hold more than this fraction of
# the corpus as int64 dead-ids refuses with "compact first" instead of
# silently ballooning driver memory and per-query exclusion cost.
# 0.5 mirrors Lucene's natural ceiling (beyond half-dead, a segment is
# pure waste); pass ``max_tombstone_frac=None`` to disable.
DEFAULT_MAX_TOMBSTONE_FRAC = 0.5


class TombstoneBudgetError(RuntimeError):
    """Un-compacted deletes exceed the serving budget; run
    ``ingest.compact`` before reopening readers."""


class SearchIndex:
    """Open a built index (reference ``openOrBuild`` read path).

    The interactive lookups run no Spark job: the field stats read at
    open, ``tombstones``, ``fetch_postings``, ``expand_pattern``,
    ``pagerank_for`` and ``doc_meta`` all go through ``_read``, a
    pyarrow read of the files of the snapshot pinned at open.  Each
    table's dataset is built once per reader with its file footers
    loaded, so a lookup opens only the files and row groups whose
    partition value or footer min/max can hold its keys: the footers
    parquet writes are the elimination index, and the snapshot
    records no statistics of its own.  The distributed plans read the
    same pinned files through Spark (``table``, ``postings_scan``).

    ``max_postings_per_term`` guards the driver-side posting fetch: at
    web scale a head term's blobs are GBs, and collecting them into the
    driver (the interactive/serving cache path) is a driver-OOM hazard.
    Before any blob column is read, a read of only ``(field, term,
    term_df)`` checks the requested terms, and a term over the cap
    raises ``HotTermError`` with a pointer to the distributed
    ``search_batch`` plan, which never collects postings.  The cap
    defaults ON (``DEFAULT_MAX_POSTINGS_PER_TERM``) so the unsafe
    collect requires an explicit ``max_postings_per_term=None`` opt-out.
    """

    def __init__(self, spark: SparkSession, index_dir: str,
                 max_postings_per_term: int | None = _CAP_DEFAULT,
                 max_tombstone_frac: float | None = _CAP_DEFAULT):
        from ..functions.textproc import ANALYZERS

        self.spark = spark
        self.index_dir = index_dir
        self.max_postings_per_term = (
            DEFAULT_MAX_POSTINGS_PER_TERM
            if max_postings_per_term is _CAP_DEFAULT
            else max_postings_per_term
        )
        self.max_tombstone_frac = (
            DEFAULT_MAX_TOMBSTONE_FRAC
            if max_tombstone_frac is _CAP_DEFAULT
            else max_tombstone_frac
        )
        # analyze queries with the chains the index was BUILT with, and
        # prune with the tbucket count it was written with
        meta = catalog.read_schema_meta(index_dir)
        self.analyzer_names = meta
        self.analyzers = {
            "text": ANALYZERS[meta["text_analyzer"]],
            "title": ANALYZERS[meta["title_analyzer"]],
        }
        self.n_term_buckets = meta["n_term_buckets"]
        # every table is served from the snapshot published at open: a
        # commit after it retires files this reader still reads, and
        # they stay on disk through the next commit
        self.snapshot = catalog.read_snapshot(index_dir)
        self._datasets: dict = {}
        fs = self._read("field_stats",
                        ["field", "doc_count", "avg_len"]).to_pylist()
        self.stats = GlobalStats(
            n_docs=int(fs[0]["doc_count"]),
            # Whoosh avg_field_length falls back to 1 when 0
            avg_len={r["field"]: (float(r["avg_len"]) or 1.0) for r in fs},
        )
        self._term_cache: dict = {}
        self._tombstones: "np.ndarray | None" = None

    def table(self, name: str) -> DataFrame:
        return catalog.read_table(self.spark, self.index_dir, name,
                                  self.snapshot)

    def has_table(self, name: str) -> bool:
        return catalog.table_exists(self.index_dir, name, self.snapshot)

    @functools.cached_property
    def postings(self) -> DataFrame:
        """The pinned postings table, for the distributed plans."""
        return self.table("postings")

    def _read(self, name: str, columns: list[str],
              **isin) -> pa.Table | None:
        """``columns`` of the rows of pinned table ``name`` whose column
        ``c`` holds one of the values ``isin[c]``, for every ``c``; None
        when the table has no files.

        A pyarrow scan of the snapshot's files: the table's dataset and
        its footers are loaded on first use and kept, so a lookup pays
        neither a Spark job nor a footer read.  Under a table catalog
        there are no snapshot files, and this is a Spark read of the
        catalog's table."""
        if catalog.iceberg_enabled(self.spark):
            qualified = f"{catalog.catalog_name(self.spark)}.{name}"
            if not self.spark.catalog.tableExists(qualified):
                return None
            df = self.table(name)
            for c, values in isin.items():
                df = df.where(F.col(c).isin(values))
            return df.select(*columns).toArrow()
        if name not in self._datasets:
            dset = catalog.arrow_dataset(self.index_dir, name, self.snapshot)
            for frag in dset.get_fragments() if dset is not None else ():
                frag.ensure_complete_metadata()
            self._datasets[name] = dset
        dset = self._datasets[name]
        if dset is None:
            return None
        where = None
        for c, values in isin.items():
            e = pc.field(c).isin(values)
            if values:
                # pyarrow checks no is_in against footer min/max; the
                # key range lets it skip the files and row groups
                # outside it (docs files hold disjoint doc_id ranges)
                e &= (pc.field(c) >= min(values)) & (
                    pc.field(c) <= max(values))
            where = e if where is None else where & e
        return dset.to_table(columns=columns, filter=where)

    # -- postings fetch ------------------------------------------------------
    def _key_filter(self, keys) -> dict:
        """The postings pruning for ``keys`` ((field, term) pairs): the
        tbucket partitions of their terms, then their term/field values.
        Buckets are computed driver-side (functions/hashing.py XXH64
        parity with F.xxhash64)."""
        terms = sorted({t for _, t in keys})
        return {
            "tbucket": sorted({term_bucket(t, self.n_term_buckets)
                               for t in terms}),
            "term": terms,
            "field": sorted({f for f, _ in keys}),
        }

    def postings_scan(self, keys) -> DataFrame:
        """The Spark postings table pruned to ``keys``: ``_key_filter``
        reaches the parquet reader as partition / pushed filters."""
        scan = self.postings
        for c, values in self._key_filter(keys).items():
            scan = scan.where(F.col(c).isin(values))
        return scan

    def fetch_postings(self, keys: list[tuple[str, str]]) -> dict:
        """(field, term) → PostingList, read into the term cache."""
        missing = [k for k in keys if k not in self._term_cache]
        if missing:
            flt = self._key_filter(missing)
            if self.max_postings_per_term is not None:
                # no blob column is read before the cap check passes
                heads = self._read("postings", ["field", "term", "term_df"],
                                   **flt)
                want = set(missing)
                heavy = [] if heads is None else [
                    r for r in heads.filter(
                        pc.field("term_df") > self.max_postings_per_term
                    ).to_pylist() if (r["field"], r["term"]) in want]
                if heavy:
                    worst = max(heavy, key=lambda r: r["term_df"])
                    raise HotTermError(
                        f"term {worst['field']}:{worst['term']!r} has "
                        f"{worst['term_df']} postings > cap "
                        f"{self.max_postings_per_term}; route this query "
                        "through the distributed search_batch plan instead "
                        "of the driver posting cache"
                    )
            rows = self._read("postings", POSTING_COLS, **flt)
            grouped: dict = {}
            for r in rows.to_pylist() if rows is not None else []:
                grouped.setdefault((r["field"], r["term"]), []).append(r)
            for k in missing:
                self._term_cache[k] = PostingList.from_rows(
                    k[0], k[1], grouped.get(k, []))
        return {k: self._term_cache[k] for k in keys}

    def expand_pattern(self, field: str, pattern: str,
                       cap: int = qsyntax.MAX_PATTERN_TERMS) -> list[str]:
        """Vocabulary terms matching a Whoosh wildcard ``pattern``.

        A dictionary scan of the postings table that reads only the
        (field, term) columns (no blobs): the literal prefix before the
        first wildcard filters first, then the full anchored regex.
        tbucket partition pruning can't apply (the bucket is a hash of
        the whole term).  Deterministic: sorted distinct terms, capped
        at ``cap``.
        """
        rows = self._read("postings", ["term"], field=[field])
        if rows is None:
            return []
        terms = rows["term"]
        prefix = qsyntax.pattern_prefix(pattern)
        if prefix:
            terms = terms.filter(pc.starts_with(terms, pattern=prefix))
        terms = terms.filter(pc.match_substring_regex(
            terms, pattern=qsyntax.pattern_regex(pattern)))
        return pc.unique(terms).sort()[:cap].to_pylist()

    # -- tombstones (deletes since the last compaction) -------------------
    @property
    def tombstones(self) -> np.ndarray:
        """Sorted doc_ids deleted but not yet compacted away.

        Cached after the first read; the set is the pinned snapshot's,
        so a reader sees later deletes by reopening the index.
        Driver-held by design: the set is bounded by compaction
        cadence (``ingest.compact`` empties it), the same reasoning
        Lucene uses for its live-docs bitset."""
        if self._tombstones is None:
            rows = self._read("tombstones", ["doc_id"])
            self._tombstones = np.sort(
                np.empty(0, dtype=np.int64) if rows is None
                else rows["doc_id"].to_numpy().astype(np.int64))
            if self.max_tombstone_frac is not None:
                frac = self._tombstones.size / max(1, self.stats.n_docs)
                if frac > self.max_tombstone_frac:
                    n = self._tombstones.size
                    self._tombstones = None  # don't cache a refusal
                    raise TombstoneBudgetError(
                        f"{n} un-compacted tombstones = {frac:.0%} of "
                        f"{self.stats.n_docs} indexed docs, over the "
                        f"serving budget max_tombstone_frac="
                        f"{self.max_tombstone_frac}; run ingest.compact"
                        f"() on {self.index_dir!r} (or open with "
                        "max_tombstone_frac=None to override)"
                    )
        return self._tombstones

    # -- auxiliary tables ------------------------------------------------
    def pagerank_for(self, doc_ids: list[int]) -> dict[int, float]:
        rows = self._read("pagerank", ["doc_id", "pr"],
                          doc_id=[int(d) for d in doc_ids])
        if rows is None:
            return {}
        return dict(zip(rows["doc_id"].to_pylist(), rows["pr"].to_pylist()))

    def doc_meta(self, doc_ids: list[int]) -> dict[int, dict]:
        rows = self._read("docs", ["doc_id", "url", "title", "clean_text"],
                          doc_id=[int(d) for d in doc_ids])
        return {} if rows is None else {
            r["doc_id"]: r for r in rows.to_pylist()}


# ---------------------------------------------------------------------------
# PageRank blend (Q7) — shared by driver & batched paths
# ---------------------------------------------------------------------------
def blend_pagerank(doc_ids, scores, pr_map: dict[int, float]):
    """Reference __combinedScore + getRank semantics on the top-k rows.

    mult(doc) = round(1 + (pr/max_rel)^alpha, 5); missing doc → raw 1
    (searcher.py:139 ``values_page_rank.get(id, 1)``); final =
    score · mult; stable re-sort by final desc keeps the BM25
    (score desc, doc asc) order for ties (python ``sorted`` is stable,
    searcher.py:110).
    Returns (order, final_scores, mult_values).
    """
    n = len(doc_ids)
    if n == 0:
        return np.arange(0), np.asarray(scores), {}
    prs = [pr_map.get(int(d)) for d in doc_ids]
    present = [p for p in prs if p is not None]
    mults = np.ones(n, dtype=np.float64)
    mult_map = {}
    if present:
        max_rel = max(present)
        for i, (d, p) in enumerate(zip(doc_ids, prs)):
            if p is not None:
                normalized = p / max_rel if max_rel else 0.0
                m = round(1.0 + normalized ** PR_ALPHA, PR_ROUND)
                mults[i] = m
                mult_map[int(d)] = m
    final = np.asarray(scores, dtype=np.float64) * mults
    order = np.argsort(-final, kind="stable")
    return order, final, mult_map


# ---------------------------------------------------------------------------
# Searcher (interactive, driver-side kernel)
# ---------------------------------------------------------------------------
class WikiSearcher:
    """Reference ``WikiSearcher.search`` surface (searcher.py:61-120)."""

    def __init__(self, index: SearchIndex,
                 expander: expansion_mod.Expander | None = None):
        self.index = index
        self.expander = expander or expansion_mod.Expander()

    def search(
        self,
        text: str,
        limit: int = 10,
        exp: bool = True,
        page_rank: bool = True,
        text_boost: float = 1.0,
        title_boost: float = 1.0,
        weighting: str = Weighting.BM25F,
        group: str = "AND",
        with_meta: bool = True,
    ) -> dict:
        t0 = time.perf_counter()
        tree, exp_tokens = parse_query(
            text, group=group, text_boost=text_boost,
            title_boost=title_boost, expand=exp, expander=self.expander,
            analyzers=self.index.analyzers, index=self.index,
        )
        if tree is None:
            return {"time_second": 0.0, "expanded": exp_tokens if exp else [],
                    "n_res": 0, "docs": []}
        plists = self.index.fetch_postings(sorted(_posting_keys(tree)))
        doc_ids, scores, n_res = _topk(
            _tree_spec(tree), plists.get, self.index.stats, weighting,
            self.index.tombstones, limit)
        runtime = time.perf_counter() - t0

        pr_map = self.index.pagerank_for(doc_ids.tolist()) if page_rank else {}
        order, final, mult_map = blend_pagerank(doc_ids, scores, pr_map) \
            if page_rank else (np.arange(doc_ids.size), scores, {})

        docs_out = []
        meta = self.index.doc_meta(doc_ids.tolist()) if with_meta else {}
        q_tokens = [t.text for t in tree_terms(tree) if t.field == "text"]
        for i in order:
            d = int(doc_ids[i])
            m = meta.get(d, {})
            docs_out.append({
                "doc_id": d,
                "link": m.get("url", BASE_URL),
                "title": m.get("title", ""),
                "highlight": make_highlight(
                    m.get("clean_text", ""), q_tokens,
                    transform=_hl_transform(
                        self.index.analyzer_names["text_analyzer"]),
                ) if with_meta else "",
                "final_score": float(final[i]),
                "score": float(scores[i]),
                # searcher.py:117: rounded multiplier, or -1 if absent
                "page_rank": mult_map.get(d, -1) if page_rank else "Disabled",
            })
        return {
            "time_second": runtime,
            "expanded": exp_tokens if exp else [],
            "n_res": int(n_res),
            "docs": docs_out,
        }


# ---------------------------------------------------------------------------
# Highlights (Q8) — Whoosh-faithful fragmenter / scorer / formatter.
#
# Re-derivation of the public Whoosh 2.7.4 highlight pipeline invoked by
# the reference as ``result.highlights("text", top=2)`` (searcher.py:115)
# with the default ``Highlighter``: ContextFragmenter(maxchars=200,
# surround=20), BasicFragmentScorer, HtmlFormatter(tagname="b",
# between="..."), order=FIRST (fragments re-sorted by start position
# after top-N selection), minscore=1.  The stored field text is
# retokenized with the field's analyzer chain (A3 for "text": tokenize,
# lowercase, stop/minsize filter, Porter stem) keeping character
# offsets; a token "matches" when its analyzed text is one of the
# query's stemmed terms for the field.
# ---------------------------------------------------------------------------
HL_MAXCHARS = 200        # ContextFragmenter default
HL_SURROUND = 20
HL_CHARLIMIT = 2 ** 15   # whoosh DEFAULT_CHARLIMIT
HL_MAXCLASSES = 5        # HtmlFormatter default


@dataclass
class Fragment:
    """A candidate snippet: char range + the analyzed tokens inside."""

    startchar: int
    endchar: int
    tokens: list          # [(stemmed_text, start, end, matched)]

    @property
    def matches(self):
        return [t for t in self.tokens if t[3]]

    @property
    def matched_terms(self):
        return frozenset(t[0] for t in self.matches)


def _hl_transform(analyzer_name: str):
    """Per-token transform of the text-field analyzer chain, for the
    highlighter's retokenize pass (tokenize/lower/stop are shared)."""
    from ..functions.porter import stem as _stem
    from ..functions.textproc import fold_accents, lemmatize_noun

    return {
        "text": _stem,
        "text_accent": lambda t: fold_accents(_stem(t)),
        "text_lemma": lemmatize_noun,
    }.get(analyzer_name, lambda t: t)


def _analyze_with_chars(text: str, charlimit: int = HL_CHARLIMIT,
                        transform=None):
    """Text-field analyzer over ``text`` with char offsets (retokenize
    mode); ``transform`` is the chain's per-token tail (Porter stem for
    the default A3)."""
    from ..functions.porter import stem as _stem
    from ..functions.textproc import MIN_TOKEN_SIZE, STOP_WORDS, TOKEN_PATTERN

    transform = transform or _stem
    for m in TOKEN_PATTERN.finditer(text):
        if charlimit and m.end() > charlimit:
            return
        tok = m.group(0).lower()
        if len(tok) >= MIN_TOKEN_SIZE and tok not in STOP_WORDS:
            yield transform(tok), m.start(), m.end()


def context_fragments(text: str, matched_terms: set,
                      maxchars: int = HL_MAXCHARS,
                      surround: int = HL_SURROUND,
                      transform=None) -> list[Fragment]:
    """Whoosh ContextFragmenter.fragment_tokens: a sliding token window
    keeps ≤``surround`` chars of *token* text before a hit; a hit opens
    a countdown of ``surround`` (plus any unused before-context) chars
    after it; the fragment closes when the countdown expires or the
    window reaches ``maxchars``.  Lengths count analyzed-token chars
    only (whitespace between tokens is free), exactly as Whoosh does.
    """
    out: list[Fragment] = []
    current: list = []
    currentlen = 0
    countdown = -1

    def close():
        frag_tokens = list(current)
        start = max(0, frag_tokens[0][1] - surround)
        end = min(len(text), frag_tokens[-1][2] + surround)
        out.append(Fragment(start, end, [
            (tt, ts, te, tt in matched_terms) for tt, ts, te in frag_tokens
        ]))

    for tt, ts, te in _analyze_with_chars(text, transform=transform):
        if tt in matched_terms:
            countdown = surround
            # unused before-context rolls into the after-countdown
            countdown += max(0, surround - currentlen)
        current.append((tt, ts, te))
        length = te - ts
        currentlen += length
        if countdown >= 0:
            countdown -= length
            if countdown < 0 or currentlen >= maxchars:
                close()
                current = []
                currentlen = 0
                countdown = -1
        else:
            while current and currentlen > surround:
                old = current.pop(0)
                currentlen -= old[2] - old[1]
    if countdown >= 0 and current:
        close()
    return out


def basic_fragment_score(frag: Fragment) -> float:
    """Whoosh BasicFragmentScorer: Σ matched-token boosts (1.0 here),
    multiplied by 100 × |distinct matched terms| to favor diversity."""
    score = float(len(frag.matches))
    score *= (len(frag.matched_terms) * 100) or 1
    return score


def html_format(text: str, frags: list[Fragment], tagname: str = "b",
                between: str = "...") -> str:
    """Whoosh HtmlFormatter: matched tokens wrapped as
    ``<b class="match termN">orig</b>``, fragments joined by ``...``.

    Parity details (whoosh/highlight.py HtmlFormatter._format_fragment):
    ``seen`` is keyed on the ANALYZED token text (``t.text``), so
    stem-equal surface variants ('runs'/'running') share one termN
    class; both the matched token surface and the inter-match text are
    html-escaped (cgi.escape semantics: ``& < >`` only, quotes left)."""
    from html import escape

    seen: dict[str, int] = {}
    parts = []
    for f in frags:
        index = f.startchar
        buf = []
        for tt, ts, te, matched in f.tokens:
            if not matched:
                continue
            orig = escape(text[ts:te], quote=False)
            if tt in seen:
                termnum = seen[tt]
            else:
                termnum = len(seen) % HL_MAXCLASSES
                seen[tt] = termnum
            buf.append(escape(text[index:ts], quote=False))
            buf.append(
                f'<{tagname} class="match term{termnum}">{orig}</{tagname}>'
            )
            index = te
        buf.append(escape(text[index:f.endchar], quote=False))
        parts.append("".join(buf))
    return between.join(parts)


def make_highlight(clean_text: str, stemmed_terms: list[str],
                   top: int = 2, minscore: float = 1.0,
                   transform=None) -> str:
    """``result.highlights("text", top=2)`` semantics end-to-end:
    fragment → score → take top-``top`` with score ≥ ``minscore`` →
    re-sort by position (order=FIRST) → HTML-format joined by '...'.
    ``transform`` = the index text analyzer's per-token tail (see
    ``_hl_transform``) so non-default schemas highlight correctly."""
    if not clean_text or not stemmed_terms:
        return ""
    frags = context_fragments(clean_text, set(stemmed_terms),
                              transform=transform)
    scored = sorted(
        ((basic_fragment_score(f), f) for f in frags),
        key=lambda sf: (-sf[0], sf[1].startchar),
    )[:top]
    best = [f for s, f in scored if s >= minscore]
    best.sort(key=lambda f: f.startchar)
    return html_format(clean_text, best)


# ---------------------------------------------------------------------------
# The query core every serving plan shares
# ---------------------------------------------------------------------------
RESULT_SCHEMA = (
    "query_id int, query string, rank int, doc_id long, score double, "
    "n_res long"
)


def _posting_keys(tree) -> set:
    """(field, term) keys of the tree's postings-backed leaves (an
    ``id_page`` leaf has no postings and binds to nothing)."""
    return {(t.field, t.text) for t in tree_terms(tree)
            if t.field in ("text", "title")}


def _parse_distinct(index: SearchIndex, queries: list[str], group: str,
                    exp: bool) -> tuple[dict, dict]:
    """Parse each DISTINCT query text once, with one Expander for the
    whole list (serving workloads repeat queries; re-parsing per
    occurrence is pure driver-side cost) → ({text: picklable tree
    spec}, {text: set of (field, term) posting keys})."""
    expander = expansion_mod.Expander()
    specs, keys = {}, {}
    for q in dict.fromkeys(queries):
        tree, _ = parse_query(q, group=group, expand=exp, expander=expander,
                              analyzers=index.analyzers, index=index)
        specs[q] = _tree_spec(tree)
        keys[q] = _posting_keys(tree)
    return specs, keys


def _topk(spec, lookup, stats: GlobalStats, weighting: str,
          exclude: np.ndarray, limit: int):
    """The one kernel call: rebuild the tree from its spec, bind each
    leaf to ``lookup((field, term))`` (a PostingList or None) and run
    the block-max top-k → (doc_ids, scores, n_res)."""
    tree = _tree_from_spec(spec)
    for t in tree_terms(tree):
        t.plist = lookup((t.field, t.text))
    return Scorer(stats, model=weighting, exclude=exclude).topk(tree, limit)


def _blend_query(pdf: pd.DataFrame) -> pd.DataFrame:
    """One query's top-k rows plus their nullable ``pr`` → the rows
    blended by ``blend_pagerank`` in rank order, with ``final_score``,
    ``mult`` (1.0 for a doc without a rank) and ``final_rank``."""
    pdf = pdf.sort_values("rank", ignore_index=True)
    doc_ids = pdf["doc_id"].to_numpy()
    pr_map = {int(d): float(p) for d, p in zip(doc_ids, pdf["pr"])
              if pd.notna(p)}
    order, final, mult_map = blend_pagerank(
        doc_ids, pdf["score"].to_numpy(), pr_map)
    final_rank = np.empty(len(pdf), dtype=np.int32)
    final_rank[order] = np.arange(1, len(pdf) + 1, dtype=np.int32)
    return pdf.drop(columns="pr").assign(
        final_score=final,
        mult=[mult_map.get(int(d), 1.0) for d in doc_ids],
        final_rank=final_rank,
    )


# ---------------------------------------------------------------------------
# Batched query evaluation — one distributed job for a query set
# ---------------------------------------------------------------------------
def search_batch(
    index: SearchIndex,
    queries: list[str],
    limit: int = 10,
    exp: bool = True,
    page_rank: bool = True,
    group: str = "AND",
    weighting: str = Weighting.BM25F,
) -> DataFrame:
    """Evaluate many queries in ONE Spark job (the scalable path).

    Plan: parse each distinct text on the driver (tiny), ship the
    (query, field, term) fan-out as a DataFrame, join it against the
    pruned postings scan (broadcast the fan-out side — it is a few
    hundred rows), then ``groupBy(query_id).applyInPandas`` runs the
    same block-max kernel per query with only that query's postings.
    Returns (query_id, query, rank, doc_id, score, n_res, final_score),
    plus (mult, final_rank) with ``page_rank``.
    """
    spark = index.spark
    specs, keys = _parse_distinct(index, queries, group, exp)
    fan = spark.createDataFrame(
        [(qid, f, t) for qid, q in enumerate(queries) for f, t in keys[q]],
        "query_id int, field string, term string",
    )
    # scan pruning: a broadcast join does NOT push the probe-side term
    # values into the parquet reader, so the join reads the batch
    # vocabulary's pruned scan, not the ENTIRE postings table
    joined = index.postings_scan(set().union(*keys.values())).join(
        F.broadcast(fan), ["field", "term"], "inner"
    ).select("query_id", *POSTING_COLS)

    stats = index.stats
    trees_b = spark.sparkContext.broadcast(
        {qid: (q, specs[q]) for qid, q in enumerate(queries)}
    )
    # tombstones ride one broadcast to every kernel task (tiny between
    # compactions; compact() empties the table)
    tomb_b = spark.sparkContext.broadcast(index.tombstones)

    def run_query(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iat[0])
        q, spec = trees_b.value[qid]
        rows_by_key: dict = {}
        for r in pdf.to_dict("records"):
            rows_by_key.setdefault((r["field"], r["term"]), []).append(r)
        doc_ids, scores, n_res = _topk(
            spec, lambda k: PostingList.from_rows(*k, rows_by_key.get(k, [])),
            stats, weighting, tomb_b.value, limit)
        return pd.DataFrame({
            "query_id": qid,
            "query": q,
            "rank": np.arange(1, doc_ids.size + 1, dtype=np.int32),
            "doc_id": doc_ids.astype(np.int64),
            "score": scores,
            "n_res": np.int64(n_res),
        })

    # explicit exchange: groupBy().applyInPandas inserts a hash
    # partitioning that AQE coalesces by BYTE size — posting blobs for a
    # query batch are few MB, so the whole batch would collapse into ONE
    # task and the per-query WAND kernels would run serially.  A user
    # repartition is never coalesced; the groupBy below reuses it (no
    # second exchange).  Partition count = min(|Q|, cores): one kernel
    # per task at full parallelism without empty-partition overhead.
    n_kernel_parts = max(1, min(len(queries),
                                spark.sparkContext.defaultParallelism))
    results = (
        joined.repartition(n_kernel_parts, "query_id")
        .groupBy("query_id").applyInPandas(run_query, schema=RESULT_SCHEMA)
    )

    if not page_rank:
        return results.withColumn("final_score", F.col("score"))

    # Two-step lookup so the corpus-sized pagerank table is never
    # broadcast (one row per document — OOM at 10^12 docs) and never
    # shuffled: (1) inner-join pr against the tiny k·|Q| candidate-id
    # set with the TINY side hinted (inner joins may build either
    # side, so this streams pr once), then (2) left-join the now
    # ≤k·|Q|-row pr subset back onto results.  A single outer join
    # can't do this: BroadcastHashJoin must build the non-preserved
    # side, which here is the corpus-sized one.
    # results (the WAND-kernel output) now feeds two consumers — the
    # id set and the final join — so materialize it once.
    # localCheckpoint, NOT persist(): a SQL persist registers the plan
    # in the session CacheManager, which holds the storage blocks until
    # an explicit unpersist()/clearCache() — the ContextCleaner does
    # not reclaim SQL cache entries on GC, so every page_rank=True
    # batch in a long-lived serving session would leak executor
    # storage.  localCheckpoint's RDD blocks ARE ContextCleaner-
    # reclaimed when the DataFrame is GC'd (same pattern as
    # ingest.delete_urls), and eager=True runs the Python kernels
    # exactly once.  Tradeoff: checkpointing truncates lineage, so on
    # a real cluster an executor lost while holding these blocks fails
    # the batch instead of recomputing — acceptable for a retryable
    # serving query, where the alternative (persist) leaks storage
    # across a long-lived session.
    if index.has_table("pagerank"):
        results = results.localCheckpoint()
        pr = index.table("pagerank")
        pr_hits = pr.join(
            F.broadcast(results.select("doc_id").distinct()), "doc_id")
        results = results.join(F.broadcast(pr_hits), "doc_id", "left")
    else:
        # no pagerank table: the same blend over an empty PR map, so
        # the output schema never depends on the index
        results = results.withColumn("pr", F.lit(None).cast("double"))
    return results.groupBy("query_id").applyInPandas(
        _blend_query,
        schema=RESULT_SCHEMA + ", final_score double, mult double, "
        "final_rank int",
    )


def search_batch_relational(
    index: SearchIndex,
    queries: list[str],
    limit: int = 10,
    group: str = "AND",
    exp: bool = False,
) -> DataFrame:
    """BM25F top-k computed WITHOUT the WAND kernel or the codec: a
    pure relational plan over the pinned ``docs`` table, tokenized here
    with the index's recorded analyzers (``build.term_freqs``), and
    ``field_stats`` — an independent referee for the block-max engine
    path (same parse, same Whoosh scoring formula, same tie-break) that
    trusts no posting the build wrote, so it checks the segments, the
    merge, the codec and the kernel together; used by the
    ``wand_consistency`` driver query.

    Semantics mirror the Scorer: each query token is an OR group over
    its (text:stemmed, title:token) leaves; AND requires every group
    matched; a doc's score sums every matched leaf.  Ranking uses
    (raw score desc, doc asc) — the kernel's tie order; exact ties
    have identical leaf sets so both paths agree on the break.

    ``exp=True`` mirrors the expansion tree ``Or([And(groups), syn])``:
    synonym leaves (boost 0.5) join the fan-out UNGATED
    (group_id = -1).  Under AND, a doc scores
    ``(all groups matched ? Σ main leaves : 0) + Σ matched syn
    leaves`` and qualifies if either side matched — exactly Whoosh's
    sum-of-matched-children for that tree shape.  Under OR the tree is
    flat, so syn leaves are simply more leaves.  NOT + expansion is
    refused: the kernel's Not only guards the And branch while this
    referee's anti-join is global, so the shapes genuinely differ.
    """
    spark = index.spark
    fan_rows = []
    neg_rows = []  # (query_id, field, term): any-match exclusion
    n_groups = {}
    syn_qids = set()
    expander = expansion_mod.Expander() if exp else None
    for qid, q in enumerate(queries):
        tree, _ = parse_query(q, group=group, expand=False,
                              analyzers=index.analyzers, index=index)
        if exp:
            # same construction as parse_query(expand=True): synonym
            # token_nodes at half boost, joined as an ungated branch
            for w in expander.expansion(q):
                node = token_node(w, 0.5, 0.5, index.analyzers)
                for t in tree_terms(node):
                    fan_rows.append((qid, -1, t.field, t.text,
                                     float(t.boost)))
                    syn_qids.add(qid)
        if tree is None:
            n_groups[qid] = 0
            continue
        groups = tree.children if isinstance(tree, And) else [tree]
        pos_groups = []
        for g in groups:
            if isinstance(g, Not):
                # supported negation shapes: Term or Or-of-Terms — the
                # kernel's any-leaf-matches semantics map to a per-term
                # anti-join.  (NOT of an And-group has no relational
                # twin here; the kernel path still evaluates it.)
                ch = g.child
                leaves = ch.children if isinstance(ch, Or) else [ch]
                if not all(isinstance(c, Term) for c in leaves):
                    raise NotImplementedError(
                        "relational referee supports NOT only over a "
                        "term / multifield term group"
                    )
                for t in leaves:
                    neg_rows.append((qid, t.field, t.text))
            else:
                if group != "AND" and any(
                    isinstance(t, Not) for t in getattr(g, "children", [])
                ):
                    raise NotImplementedError(
                        "relational referee: NOT inside an OR group"
                    )
                pos_groups.append(g)
        n_groups[qid] = len(pos_groups) if group == "AND" else 1
        for gi, g in enumerate(pos_groups):
            for t in tree_terms(g):
                fan_rows.append((qid, gi, t.field, t.text, float(t.boost)))
    # exclusions and synonym branches only interact WITHIN one query:
    # refuse a query that has both, not a batch where different
    # queries happen to contribute one each
    neg_qids = {qid for qid, _, _ in neg_rows}
    if exp and neg_qids & syn_qids:
        raise NotImplementedError(
            "relational referee: NOT combined with expansion in the "
            "same query — the kernel's Not guards only the original "
            "And branch, this referee's exclusion is per-query-global; "
            "shapes differ"
        )
    fan = spark.createDataFrame(
        fan_rows,
        "query_id int, group_id int, field string, term string, boost double",
    )
    # a query whose original tree vanished (all tokens stopworded) can
    # still rank via its synonym branch: keep it with n_groups=0, the
    # AND gate (0 matched == 0 needed) then passes its main side
    need = spark.createDataFrame(
        [(qid, n) for qid, n in n_groups.items()
         if n > 0 or qid in syn_qids],
        "query_id int, n_groups int",
    )
    tf = term_freqs(index.table("docs"), index.analyzers["text"],
                    index.analyzers["title"])
    df_t = (
        tf.join(F.broadcast(fan.select("field", "term").distinct()),
                ["field", "term"])
        .groupBy("field", "term").agg(F.count("*").alias("df"))
    )
    stats = index.stats
    avg_map = spark.createDataFrame(
        [(f, float(v)) for f, v in stats.avg_len.items()],
        "field string, avgfl double",
    )
    k1, b = wand.K1, wand.B
    leaf = (
        tf.join(F.broadcast(fan), ["field", "term"])
        .join(F.broadcast(df_t), ["field", "term"])
        .join(F.broadcast(avg_map), "field")
        .withColumn(
            "idf",
            F.log(F.lit(float(stats.n_docs)) / (F.col("df") + 1)) + F.lit(1.0),
        )
        .withColumn("w", F.col("tf") * F.col("boost"))
        .withColumn(
            "leaf_score",
            F.col("idf") * F.col("w") * F.lit(k1 + 1.0)
            / (F.col("w") + F.lit(k1)
               * (F.lit(1.0 - b) + F.lit(b) * F.col("fl") / F.col("avgfl"))),
        )
    )
    scored = (
        leaf.groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.when(F.col("group_id") >= 0, F.col("leaf_score"))
                  .otherwise(0.0)).alias("main_score"),
            F.sum(F.when(F.col("group_id") < 0, F.col("leaf_score"))
                  .otherwise(0.0)).alias("syn_score"),
            F.count_distinct(
                F.when(F.col("group_id") >= 0, F.col("group_id"))
            ).alias("g_matched"),
            F.max(F.when(F.col("group_id") < 0, 1).otherwise(0))
            .alias("syn_matched"),
        )
        .join(F.broadcast(need), "query_id")
    )
    if group == "AND":
        # Or([And(groups), syn]): the And branch contributes only when
        # complete; the syn branch contributes whenever matched
        scored = (
            scored
            .withColumn("main_ok",
                        F.col("g_matched") == F.col("n_groups"))
            .where(F.col("main_ok") | (F.col("syn_matched") == 1))
            .withColumn(
                "score",
                F.when(F.col("main_ok"), F.col("main_score"))
                .otherwise(F.lit(0.0)) + F.col("syn_score"),
            )
        )
    else:
        # flat Or: every matched leaf sums, any match qualifies
        scored = scored.withColumn(
            "score", F.col("main_score") + F.col("syn_score"))
    if neg_rows:
        negfan = spark.createDataFrame(
            neg_rows, "query_id int, field string, term string"
        )
        excl = (
            tf.join(F.broadcast(negfan), ["field", "term"])
            .select("query_id", "doc_id").distinct()
        )
        scored = scored.join(excl, ["query_id", "doc_id"], "left_anti")
    # tombstoned (deleted, not yet compacted) docs never rank — same
    # live-docs filter the kernel applies, so the referee stays a twin
    tomb = index.tombstones
    if tomb.size:
        scored = scored.where(~F.col("doc_id").isin(
            [int(d) for d in tomb]))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= limit)
        .select("query_id", "rank", "doc_id",
                F.round("score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# Broadcast posting-cache serving
# ---------------------------------------------------------------------------
def _broadcast_runner(index: SearchIndex, queries: list[str], limit: int,
                      group: str, weighting: str, slices_per_core: int,
                      exp: bool):
    """The broadcast serving plan as an RDD with one element per task
    partition: ``(partition_id, n_queries, kernel_sec, rows)``, each
    row ``(query_id, query, rank, doc_id, score, n_res)``.

    The whole query set's postings come from ONE pruned scan and are
    pre-decoded on the driver (``PostingList.prepare``), so every
    executor worker unpickles ready numpy arrays instead of re-running
    the VB decode per process, and per-query lookups skip block
    decoding entirely."""
    sc = index.spark.sparkContext
    specs, keys = _parse_distinct(index, queries, group, exp)
    plists = index.fetch_postings(sorted(set().union(*keys.values())))
    for pl in plists.values():
        if pl is not None:
            pl.prepare()
    b_plists = sc.broadcast(plists)
    b_specs = sc.broadcast(specs)
    b_tomb = sc.broadcast(index.tombstones)
    stats = index.stats

    def run(pid, items):
        t0 = time.perf_counter()
        n, rows = 0, []
        for qid, q in items:
            spec = b_specs.value[q]
            if spec is None:
                continue
            doc_ids, scores, n_res = _topk(
                spec, b_plists.value.get, stats, weighting, b_tomb.value,
                limit)
            n += 1
            rows.extend((qid, q, r, int(d), float(s), int(n_res))
                        for r, (d, s) in enumerate(zip(doc_ids, scores), 1))
        yield pid, n, time.perf_counter() - t0, rows

    n_slices = max(1, slices_per_core * sc.defaultParallelism)
    return (sc.parallelize(list(enumerate(queries)), numSlices=n_slices)
            .mapPartitionsWithIndex(run))


def search_many_broadcast(
    index: SearchIndex,
    queries: list[str],
    limit: int = 10,
    group: str = "AND",
    weighting: str = Weighting.BM25F,
    slices_per_core: int = 4,
    exp: bool = False,
) -> DataFrame:
    """Serve a query workload against a BROADCAST posting cache.

    The right plan when queries repeat or share a compact hot-term set
    (the common serving regime): ``search_batch``'s join would ship one
    copy of every matched posting blob PER QUERY through the shuffle,
    while here each executor receives the distinct blobs exactly once
    (torrent broadcast) and queries parallelize as cheap tasks over
    them.  Rank-identical to ``search_batch(page_rank=False)``.
    """
    rows = _broadcast_runner(index, queries, limit, group, weighting,
                             slices_per_core, exp).flatMap(lambda p: p[3])
    return index.spark.createDataFrame(rows, RESULT_SCHEMA)


def serving_partition_stats(
    index: SearchIndex,
    queries: list[str],
    limit: int = 10,
    group: str = "AND",
    weighting: str = Weighting.BM25F,
    slices_per_core: int = 4,
    exp: bool = False,
) -> list[dict]:
    """Per-PARTITION serving metrics: run the broadcast serving plan
    and return one row per task partition — ``partition_id``, queries
    evaluated, kernel seconds, queries/sec.  The north rule's
    "queries/sec served emitted per partition": a skewed slice (one
    pathological query dominating a task) shows up here as a
    queries_per_sec outlier, the serving twin of
    ``metrics.skew_report``.  Driver-side list — bounded by task count.
    """
    parts = _broadcast_runner(index, queries, limit, group, weighting,
                              slices_per_core, exp).map(lambda p: p[:3])
    return [
        {"partition_id": pid, "n_queries": n, "kernel_sec": round(sec, 4),
         "queries_per_sec": round(n / sec, 1) if sec > 0 else None}
        for pid, n, sec in parts.collect()
    ]


# -- picklable tree spec (dataclasses with numpy members don't ship well) --
def _tree_spec(node):
    if node is None:
        return None
    if isinstance(node, Term):
        return ("t", node.field, node.text, node.boost)
    if isinstance(node, Not):
        return ("n", _tree_spec(node.child))
    tag = "a" if isinstance(node, And) else "o"
    return (tag, [_tree_spec(c) for c in node.children])


def _tree_from_spec(spec):
    if spec is None:
        return None
    if spec[0] == "t":
        return Term(spec[1], spec[2], spec[3])
    if spec[0] == "n":
        return Not(_tree_from_spec(spec[1]))
    children = [_tree_from_spec(c) for c in spec[1]]
    return And(children) if spec[0] == "a" else Or(children)
