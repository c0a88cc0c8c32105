"""Top-k scoring kernel: query trees, BM25F, block-max pruning.

Semantics re-derived from Whoosh 2.7.4 (the reference's engine):

* query tree = And/Or over per-token ``(text:stemmed OR title:token)``
  pairs (MultifieldPlugin; reference ``searcher.py:53-55``, comment
  ``:40-41``),
* a doc's score is the sum of the scores of every *matching* leaf whose
  And-ancestors are fully satisfied (Whoosh Union/Intersection matchers
  both sum their children),
* BM25F: ``idf·(w·(K1+1))/(w + K1·((1−B) + B·fl/avgfl))`` with
  ``w = tf·boost``, ``idf = ln(N/(df+1)) + 1``, K1=1.2, B=0.75 (Whoosh
  defaults; selected at ``searcher.py:18-21,:57``),
* TF_IDF: ``w·idf``;  Frequency: ``w``  (``searcher.py:18-21``),
* ties broken by ascending doc id (Whoosh TopCollector ordering).

Execution is block-at-a-time and fully vectorized:

* conjunctive (AND) evaluation is a skip-based intersection — terms
  ordered by df, and for every further term only the blocks whose
  ``[first_doc, block_last]`` range intersects the current candidate
  set are VB-decoded (``codec.decode_blocks`` random access),
* disjunctive (OR) evaluation is MaxScore-style with per-block upper
  bounds (block-max WAND family, Ding & Suel SIGIR'11): children are
  seeded in descending upper-bound order, seeding stops once the
  remaining subtrees' summed bounds cannot beat the running θ (k-th
  score), and inside a seeding term, blocks whose block-level bound
  plus the remaining children's bounds fall below θ are skipped
  without decoding.

The same kernel runs driver-side for interactive queries and inside
``applyInPandas`` for the batched query-evaluation path.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field

import numpy as np

from ..functions import codec

K1, B = 1.2, 0.75


# ---------------------------------------------------------------------------
# Scoring models (Q5)
# ---------------------------------------------------------------------------
def idf(n_docs: int, df: int) -> float:
    return math.log(n_docs / (df + 1)) + 1.0


def bm25_score(idf_v, w, fl, avgfl):
    return idf_v * (w * (K1 + 1.0)) / (w + K1 * ((1.0 - B) + B * fl / avgfl))


class Weighting:
    BM25F = "BM25F"
    TF_IDF = "TF_IDF"
    FREQUENCY = "FREQUENCY"


def leaf_scores(model, idf_v, tf, fl, boost, avgfl):
    """Vectorized per-posting leaf score."""
    w = tf.astype(np.float64) * boost
    if model == Weighting.BM25F:
        return bm25_score(idf_v, w, fl.astype(np.float64), avgfl)
    if model == Weighting.TF_IDF:
        return w * idf_v
    return w


def leaf_upper_bound(model, idf_v, max_tf, min_fl, boost, avgfl):
    """Max possible leaf score (monotone ↑ tf, ↓ fl for BM25)."""
    w = float(max_tf) * boost
    if model == Weighting.BM25F:
        return bm25_score(idf_v, w, float(min_fl), avgfl)
    if model == Weighting.TF_IDF:
        return w * idf_v
    return w


# ---------------------------------------------------------------------------
# Posting-list handle: shard rows + lazy block decoding
# ---------------------------------------------------------------------------
@dataclass
class PostingList:
    """Decoded-on-demand posting data for one (field, term)."""

    field: str
    term: str
    term_df: int                      # global df → idf
    shards: list = dc_field(default_factory=list)  # rows in shard order
    _cache: dict = dc_field(default_factory=dict)

    @classmethod
    def from_rows(cls, field: str, term: str, rows: list) -> "PostingList | None":
        """rows: mapping-like with the POSTINGS columns, any order."""
        if not rows:
            return None
        rows = sorted(rows, key=lambda r: r["shard_id"])
        return cls(field=field, term=term, term_df=int(rows[0]["term_df"]),
                   shards=rows)

    # -- block metadata across shards (concatenated, doc-sorted) ----------
    def block_meta(self):
        if "meta" not in self._cache:
            last, mtf, mfl, shard_ix, blk_ix = [], [], [], [], []
            for si, r in enumerate(self.shards):
                bl = r["block_last"]
                last.extend(bl)
                mtf.extend(r["block_max_tf"])
                mfl.extend(r["block_min_fl"])
                shard_ix.extend([si] * len(bl))
                blk_ix.extend(range(len(bl)))
            self._cache["meta"] = (
                np.asarray(last, dtype=np.int64),
                np.asarray(mtf, dtype=np.int64),
                np.asarray(mfl, dtype=np.int64),
                np.asarray(shard_ix, dtype=np.int64),
                np.asarray(blk_ix, dtype=np.int64),
            )
        return self._cache["meta"]

    @property
    def max_tf(self) -> int:
        return int(self.block_meta()[1].max())

    @property
    def min_fl(self) -> int:
        return int(self.block_meta()[2].min())

    @property
    def n_postings(self) -> int:
        return int(sum(int(r["df"]) for r in self.shards))

    def decode_all(self):
        if "all" not in self._cache:
            parts = [
                codec.decode_postings(r["doc_ids"], r["tfs"], r["fls"])
                for r in self.shards
            ]
            self._cache["all"] = tuple(
                np.concatenate([p[i] for p in parts]) for i in range(3)
            )
        return self._cache["all"]

    def prepare(self) -> "PostingList":
        """Eagerly decode + memoize everything the serving kernel needs.

        The broadcast-serving plan (``search_many_broadcast``) calls
        this ON THE DRIVER before broadcasting: workers then unpickle
        ready numpy arrays instead of each VB-decoding the hot set —
        the per-worker warmup that capped query-batch scaling
        efficiency.
        """
        self.block_meta()
        self.decode_all()
        if "shard_off" not in self._cache:
            dfs = np.array([int(r["df"]) for r in self.shards],
                           dtype=np.int64)
            self._cache["shard_off"] = np.concatenate(
                [[0], np.cumsum(dfs)])
        return self

    def decode_selected_blocks(self, global_block_ids: np.ndarray):
        """Decode selected (global) blocks → (docs, tfs, fls), doc-sorted."""
        last, _, _, shard_ix, blk_ix = self.block_meta()
        if global_block_ids.size == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z.copy(), z.copy()
        if "all" in self._cache and "shard_off" in self._cache:
            # fast path: slice the pre-decoded concatenation
            d, t, f = self._cache["all"]
            off = self._cache["shard_off"]
            si = shard_ix[global_block_ids]
            lo = off[si] + blk_ix[global_block_ids] * codec.BLOCK_SIZE
            hi = np.minimum(off[si + 1], lo + codec.BLOCK_SIZE)
            idx = np.concatenate(
                [np.arange(a, b) for a, b in zip(lo, hi)])
            return d[idx], t[idx], f[idx]
        parts_d, parts_t, parts_f = [], [], []
        for si in np.unique(shard_ix[global_block_ids]):
            sel = global_block_ids[shard_ix[global_block_ids] == si]
            r = self.shards[int(si)]
            d, t, f = codec.decode_blocks(
                r["doc_ids"], r["tfs"], r["fls"],
                list(r["block_doc_off"]), list(r["block_tf_off"]),
                list(r["block_fl_off"]), blk_ix[sel],
            )
            parts_d.append(d)
            parts_t.append(t)
            parts_f.append(f)
        return (
            np.concatenate(parts_d),
            np.concatenate(parts_t),
            np.concatenate(parts_f),
        )

    def blocks_for_docs(self, docs: np.ndarray) -> np.ndarray:
        """Global block ids whose range may contain any of ``docs``."""
        last = self.block_meta()[0]
        ix = np.searchsorted(last, docs, side="left")
        ix = ix[ix < last.size]
        return np.unique(ix)

    def lookup(self, docs: np.ndarray):
        """(tf, fl, present_mask) of this list at the given sorted docs,
        decoding only the blocks that can contain them (or probing the
        pre-decoded arrays directly when ``prepare()`` ran)."""
        n = docs.size
        tf = np.zeros(n, dtype=np.int64)
        fl = np.ones(n, dtype=np.int64)
        present = np.zeros(n, dtype=bool)
        if n == 0 or self.n_postings == 0:
            return tf, fl, present
        if "all" in self._cache:
            d, t, f = self._cache["all"]
        else:
            blocks = self.blocks_for_docs(docs)
            d, t, f = self.decode_selected_blocks(blocks)
        if d.size == 0:
            return tf, fl, present
        pos = np.searchsorted(d, docs)
        ok = pos < d.size
        hit = np.zeros(n, dtype=bool)
        hit[ok] = d[pos[ok]] == docs[ok]
        tf[hit] = t[pos[hit]]
        fl[hit] = f[pos[hit]]
        present[hit] = True
        return tf, fl, present


# ---------------------------------------------------------------------------
# Query tree
# ---------------------------------------------------------------------------
@dataclass
class Term:
    field: str
    text: str
    boost: float = 1.0
    plist: PostingList | None = None  # bound at execution time


@dataclass
class And:
    children: list


@dataclass
class Or:
    children: list


@dataclass
class Not:
    """Whoosh ``NOT x`` (qparser OperatorsPlugin): excludes docs
    matching the child, contributes no score (Whoosh AndNot keeps the
    positive side's score).  Supported directly under a root ``And``
    (the AndGroup default the reference uses, ``searcher.py:23-24``);
    the parser normalizes other placements or rejects them."""

    child: object


@dataclass
class GlobalStats:
    n_docs: int
    avg_len: dict  # field -> avg analyzed length


class Scorer:
    """Evaluates a bound query tree against global stats.

    ``exclude`` is an optional sorted int64 doc_id array of TOMBSTONED
    documents (deleted since the last compaction): excluded docs are
    dropped from every seed set before scoring, so they can never
    appear in a top-k, while global stats (df/N/avgfl) intentionally
    keep counting them until ``ingest.compact`` physically removes them
    — Lucene's delete semantics, and the reason survivor scores are
    bit-identical before vs after a delete."""

    def __init__(self, stats: GlobalStats, model: str = Weighting.BM25F,
                 exclude: np.ndarray | None = None):
        self.stats = stats
        self.model = model
        self.exclude = (
            np.asarray(exclude, dtype=np.int64)
            if exclude is not None and len(exclude) else None
        )

    def _drop_excluded(self, docs: np.ndarray) -> np.ndarray:
        if self.exclude is None or docs.size == 0:
            return docs
        return docs[~np.isin(docs, self.exclude, assume_unique=True)]

    # -- leaf helpers -------------------------------------------------------
    def _leaf_idf(self, t: Term) -> float:
        df = t.plist.term_df if t.plist is not None else 0
        return idf(self.stats.n_docs, df)

    def upper_bound(self, node) -> float:
        if isinstance(node, Not):
            return 0.0  # a negation never adds score
        if isinstance(node, Term):
            if node.plist is None or node.plist.n_postings == 0:
                return 0.0
            return leaf_upper_bound(
                self.model, self._leaf_idf(node), node.plist.max_tf,
                node.plist.min_fl, node.boost, self.stats.avg_len[node.field],
            )
        return sum(self.upper_bound(c) for c in node.children)

    # -- exact evaluation at given docs (selective block decode) ----------
    def score_at(self, node, docs: np.ndarray):
        """→ (match_mask, scores) at the given sorted doc array."""
        if isinstance(node, Not):
            m, _ = self.score_at(node.child, docs)
            return ~m, np.zeros(docs.size, dtype=np.float64)
        if isinstance(node, Term):
            scores = np.zeros(docs.size, dtype=np.float64)
            if node.plist is None:
                return np.zeros(docs.size, dtype=bool), scores
            tf, fl, present = node.plist.lookup(docs)
            if present.any():
                scores[present] = leaf_scores(
                    self.model, self._leaf_idf(node), tf[present],
                    fl[present], node.boost, self.stats.avg_len[node.field],
                )
            return present, scores
        if isinstance(node, And):
            match = np.ones(docs.size, dtype=bool)
            total = np.zeros(docs.size, dtype=np.float64)
            for c in node.children:
                m, s = self.score_at(c, docs)
                match &= m
                total = total + s
            total[~match] = 0.0
            return match, total
        # Or: sum of matching children
        match = np.zeros(docs.size, dtype=bool)
        total = np.zeros(docs.size, dtype=np.float64)
        for c in node.children:
            m, s = self.score_at(c, docs)
            # only matched children contribute (s is 0 where unmatched)
            total = total + np.where(m, s, 0.0)
            match |= m
        total[~match] = 0.0
        return match, total

    # -- exhaustive candidates (exact; used as fallback + in tests) -------
    def candidates_exhaustive(self, node) -> np.ndarray:
        if isinstance(node, Not):
            # a negation cannot enumerate matches (it would be the whole
            # corpus minus the child); callers filter via score_at
            return np.empty(0, dtype=np.int64)
        if isinstance(node, Term):
            if node.plist is None or node.plist.n_postings == 0:
                return np.empty(0, dtype=np.int64)
            return node.plist.decode_all()[0]
        if isinstance(node, And):
            pos = [c for c in node.children if not isinstance(c, Not)]
            neg = [c for c in node.children if isinstance(c, Not)]
            if not pos:  # bare NOT matches nothing (Whoosh standalone Not)
                return np.empty(0, dtype=np.int64)
            sets = [self.candidates_exhaustive(c) for c in pos]
            sets.sort(key=len)
            out = sets[0]
            for s in sets[1:]:
                if out.size == 0:
                    break
                out = out[np.isin(out, s, assume_unique=True)]
            for n in neg:
                if out.size == 0:
                    break
                m, _ = self.score_at(n, out)
                out = out[m]
            return out
        parts = [self.candidates_exhaustive(c) for c in node.children]
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(parts))

    # -- conjunctive skip-intersection -------------------------------------
    def _and_candidates(self, node: And) -> np.ndarray:
        """Intersection of child match sets, decoding rare lists first and
        probing big lists block-selectively."""
        kids = sorted(
            node.children,
            key=lambda c: self._node_size(c),
        )
        cand = self._seed_docs(kids[0])
        for c in kids[1:]:
            if cand.size == 0:
                return cand
            m, _ = self.score_at(c, cand)
            cand = cand[m]
        return cand

    def _node_size(self, node) -> int:
        if isinstance(node, Not):
            # sorts negations LAST in the And intersection order: they
            # can only filter, never seed
            return self.stats.n_docs
        if isinstance(node, Term):
            return node.plist.n_postings if node.plist else 0
        if isinstance(node, And):
            return min((self._node_size(c) for c in node.children), default=0)
        return sum(self._node_size(c) for c in node.children)

    def _seed_docs(self, node) -> np.ndarray:
        """All docs that can match the node (exact for Term/Or; for And,
        the full intersection)."""
        if isinstance(node, Not):
            # seeding from a negation would be the whole corpus; an And
            # whose cheapest child is a Not has no positive seed → empty
            # (Whoosh: a standalone NOT query returns no results)
            return np.empty(0, dtype=np.int64)
        if isinstance(node, Term):
            if node.plist is None or node.plist.n_postings == 0:
                return np.empty(0, dtype=np.int64)
            return node.plist.decode_all()[0]
        if isinstance(node, And):
            return self._and_candidates(node)
        parts = [self._seed_docs(c) for c in node.children]
        parts = [p for p in parts if p.size]
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(parts))

    # -- pruned seeding for a Term child under a root Or -------------------
    def _term_seed_pruned(self, t: Term, theta: float, others_ub: float) -> np.ndarray:
        """Docs of term t from blocks whose block-level upper bound plus
        the other children's bounds can still beat θ (block-max skip)."""
        if t.plist is None or t.plist.n_postings == 0:
            return np.empty(0, dtype=np.int64)
        last, mtf, mfl, _, _ = t.plist.block_meta()
        avgfl = self.stats.avg_len[t.field]
        idf_v = self._leaf_idf(t)
        # per-block UB = leaf score at (max_tf, min_fl) — exact for all
        # three models (score is ↑ in tf and, for BM25, ↓ in fl)
        block_ub = leaf_scores(self.model, idf_v, mtf, mfl, t.boost, avgfl)
        # >= θ, not > θ: a doc scoring exactly θ can still enter the
        # top-k on the ascending-doc-id tie break
        keep = np.flatnonzero(block_ub + others_ub >= theta)
        if keep.size == 0:
            return np.empty(0, dtype=np.int64)
        d, _, _ = t.plist.decode_selected_blocks(keep)
        return d

    # -- result-count estimate (Whoosh estimated_length) -------------------
    def estimate_size(self, node) -> int:
        """Whoosh ``Query.estimate_size``: Term → df, And → min of
        children, Or → sum of children.  This is the value the
        reference surfaces as ``results.estimated_length()``
        (searcher.py:106) — the optimized top-k search skips blocks, so
        Whoosh reports the query's df-based estimate, not an exact
        matched count."""
        if isinstance(node, Not):
            return self.stats.n_docs  # Whoosh Not.estimate_size = doc_count
        if isinstance(node, Term):
            return node.plist.term_df if node.plist is not None else 0
        if isinstance(node, And):
            return min(
                (self.estimate_size(c) for c in node.children), default=0)
        return sum(self.estimate_size(c) for c in node.children)

    # -- top-k --------------------------------------------------------------
    def topk(self, node, k: int):
        """Exact top-k: (doc_ids, scores, estimated_length).

        Root And → skip-intersection then score.
        Root Or → MaxScore seeding with block-max pruning.
        """
        if isinstance(node, Not):
            # standalone negation: no positive component to seed from
            return (np.empty(0, dtype=np.int64),
                    np.empty(0, dtype=np.float64), 0)
        if isinstance(node, Term) or isinstance(node, And):
            cand = self._drop_excluded(self._seed_docs(node))
            m, s = self.score_at(node, cand)
            cand, s = cand[m], s[m]
            return self._take(cand, s, k) + (self.estimate_size(node),)

        # Root Or
        children = list(node.children)
        ubs = np.array([self.upper_bound(c) for c in children])
        order = np.argsort(-ubs)
        children = [children[i] for i in order]
        ubs = ubs[order]
        suffix_ub = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])

        scored_docs = np.empty(0, dtype=np.int64)
        scored_vals = np.empty(0, dtype=np.float64)
        theta = -np.inf
        for i, child in enumerate(children):
            # remaining children (incl. this one) can't beat θ → done
            # (strict <: a θ-tying doc can still win on doc-id order)
            if scored_vals.size >= k and suffix_ub[i] < theta:
                break
            if isinstance(child, Term) and np.isfinite(theta) and scored_vals.size >= k:
                seeds = self._term_seed_pruned(child, theta, suffix_ub[i + 1])
            else:
                seeds = self._seed_docs(child)
            seeds = self._drop_excluded(seeds)
            if seeds.size == 0:
                continue
            fresh = seeds[~np.isin(seeds, scored_docs, assume_unique=True)]
            if fresh.size == 0:
                continue
            m, s = self.score_at(node, fresh)
            fresh, s = fresh[m], s[m]
            scored_docs = np.concatenate([scored_docs, fresh])
            scored_vals = np.concatenate([scored_vals, s])
            srt = np.argsort(scored_docs)
            scored_docs, scored_vals = scored_docs[srt], scored_vals[srt]
            if scored_vals.size >= k:
                theta = np.partition(scored_vals, -k)[-k]
        d, s = self._take(scored_docs, scored_vals, k)
        return d, s, self.estimate_size(node)

    @staticmethod
    def _take(docs: np.ndarray, scores: np.ndarray, k: int):
        """Top-k by (score desc, doc asc) — Whoosh tie order."""
        if docs.size == 0:
            return docs, scores
        order = np.lexsort((docs, -scores))[:k]
        return docs[order], scores[order]
