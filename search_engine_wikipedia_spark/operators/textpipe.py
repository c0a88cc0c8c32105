"""Training-data pipeline operators over a ``documents`` table.

The large-scale companion to the inverted-index build: the operations a
100 TB web-text → training-data pipeline needs, each expressed as a
**pure relational Spark plan** (built-in ``pyspark.sql.functions`` only
— zero Python UDFs, so every stage stays inside whole-stage codegen and
Catalyst pushes filters/pruning into the scan).

Input schema (driver testdata ``documents.parquet``)::

    doc_id bigint, text string, lang string, source string, n_chars bigint

Operators
---------
* ``tokens``/``tokens_tf``          — analyzer-chain tokenization (A2
  semantics minus stemming: Whoosh tokenizer regex, lowercase, stopword
  + minsize filter) as a native plan (I1 analogue).
* ``term_stats``/``doc_token_stats``/``corpus_stats`` — df/cf and field
  statistics (I4).
* ``bm25_topk``/``bm25_score_all``  — the Whoosh BM25F scoring formula
  (Q5: ``idf = ln(N/(df+1))+1``, k1=1.2, b=0.75) as a relational plan
  with AND/OR group semantics (Q2) and (score desc, doc_id asc)
  tie-breaks (Q6).
* ``batch_topk``                    — many queries in one job (window
  top-k per query; the batched-evaluation shape of plans/query.py).
* ``resolve_edges``/``pagerank_iterations`` — G2-style equi-join edge
  derivation + fixed-iteration damped power method (G3) usable where no
  explicit link column exists.
* dedup family: ``dedup_exact`` (hash groupBy), ``minhash_signatures``
  + ``lsh_candidate_pairs`` (MinHash + banded LSH), ``simhash32``,
  ``ngram_jaccard_pairs`` (shingle self-join).
* text analysis: ``quality_scores``, ``lang_id``, ``token_counts``,
  ``doc_fingerprints`` (every-k-th-token digest).

Scale notes (100 TB): every operator here is shuffle-minimal —
tokenize/shingle/score stages are narrow maps over the scan; the only
wide exchanges are the keyed aggregations (term, band-bucket, shingle)
which AQE handles; candidate-pair self-joins join on high-cardinality
keys (band hash / shingle), never on raw text.  Nothing collects to the
driver.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textproc import STOP_WORDS
from .wand import B, K1

# Whoosh 2.7.4 default tokenizer pattern (analyzers.py:13-33 chain);
# identical in Java regex (Spark) and RE2 (DuckDB oracle) for ASCII.
TOKEN_RE = r"\w+(?:\.?\w+)*"
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"   # BPE-ish pretokenizer classes
STOPWORDS = sorted(STOP_WORDS)


def _spread(df: DataFrame) -> DataFrame:
    """Ensure the scan parallelism matches the session's cores.

    Local-scale guard: a small parquet file arrives as ONE input split,
    serializing every downstream tokenize/shingle stage.  At real scale
    (100 TB ⇒ thousands of splits ≥ defaultParallelism) this is a
    no-op, so the extra shuffle exists only where it's free.

    The check reads the scan's file list (cheap driver-side listing) —
    NOT ``df.rdd`` (which forces a full plan→RDD conversion per call).
    Non-scan inputs report no files and take the repartition, which is
    the safe default for the tiny literal DataFrames that produce them.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # pragma: no cover - defensive
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def token_array(col: Column) -> Column:
    """lower → Whoosh-regex tokenize → stopword/minsize filter (A2)."""
    arr = F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), F.lit(0))
    return F.filter(
        arr,
        lambda t: (F.length(t) >= 2) & ~t.isin(*STOPWORDS),
    )


def raw_token_array(col: Column) -> Column:
    """lower + tokenize only (A1 ``SimpleAnalyzer_`` semantics)."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), F.lit(0))


# ---------------------------------------------------------------------------
# Tokenization + statistics (I1 / I4 analogues, single-field)
# ---------------------------------------------------------------------------
def tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, term) — one row per token occurrence."""
    return _spread(documents).select(
        "doc_id", F.explode(token_array(F.col("text"))).alias("term")
    )


def tokens_tf(documents: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — the map-side tf aggregation of I1."""
    return tokens(documents).groupBy("doc_id", "term").agg(
        F.count("*").alias("tf")
    )


def term_stats(documents: DataFrame) -> DataFrame:
    """(term, df, cf) — document/collection frequency (I4)."""
    return tokens_tf(documents).groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )


def doc_token_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_distinct) for every document (0 if none)."""
    t = tokens(documents).groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("term").alias("n_distinct"),
    )
    return (
        documents.select("doc_id").join(t, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
        )
    )


def corpus_stats(documents: DataFrame) -> DataFrame:
    """One row: (doc_count, total_tokens, avg_len) — field_stats analogue."""
    return doc_token_stats(documents).agg(
        F.count("*").alias("doc_count"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens") / F.count("*")).alias("avg_len"),
    )


# ---------------------------------------------------------------------------
# BM25 relational scoring (Q5/Q6/Q2 as a Catalyst plan)
# ---------------------------------------------------------------------------
def _tf_lens_stats(documents: DataFrame, cache: bool = True):
    """Shared (tf, lens, corpus-stats) trio for the BM25 plans.

    ``tf`` is cached when ``cache=True``: lens (per-doc length) and the
    global stats are both derived from it, and the scoring join probes
    it again — one tokenize pass instead of three.  Callers that cache
    MUST release (``tf.unpersist()``) once materialized; callers that
    can't control the consumption point (``bm25_score_all``) pass
    ``cache=False`` and accept re-tokenization instead of leaking a
    session-lifetime cache.  On a 100 TB deployment these come from
    the index build (operators/build.py), not an inline cache: the
    per-doc lengths are the ``fl`` its postings carry, the global stats
    its ``field_stats`` table.
    """
    tf = tokens_tf(documents)
    if cache:
        tf = tf.cache()
    lens = (
        documents.select("doc_id")
        .join(tf.groupBy("doc_id").agg(F.sum("tf").alias("n")), "doc_id",
              "left")
        .select("doc_id", F.coalesce("n", F.lit(0)).alias("n_tokens"))
    )
    g = lens.agg(
        F.count("*").alias("doc_count"),
        (F.sum("n_tokens") / F.count("*")).alias("avg_len"),
    ).withColumn("_k", F.lit(1))
    return tf, lens, g



def _bm25_weight() -> Column:
    """Whoosh BM25 weight of a (doc, term) row over the columns
    ``doc_count``, ``df``, ``tf``, ``n_tokens`` and ``avg_len``:
    ``idf·tf·(k1+1)/(tf+k1·(1−b+b·len/avg))`` with
    ``idf = ln(N/(df+1)) + 1``."""
    idf = F.log(F.col("doc_count") / (F.col("df") + F.lit(1))) + F.lit(1.0)
    return (
        idf * F.col("tf") * F.lit(K1 + 1.0)
        / (F.col("tf") + F.lit(K1)
           * (F.lit(1.0 - B)
              + F.lit(B) * F.col("n_tokens") / F.col("avg_len")))
    )


def bm25_score_all(documents: DataFrame, terms: list[str],
                   match_all: bool = True) -> DataFrame:
    """(doc_id, score) for every matching doc, unrounded.

    Returns a PURE plan (no hidden cache): the caller can consume it
    whenever, with nothing to release afterwards — the cost is that the
    tokenize stage recomputes per consumer.  ``bm25_topk`` is the fast
    path: it caches the shared tokenize table and releases it after
    eagerly materializing its k rows."""
    return _bm25_score_all(documents, terms, match_all, cache=False)[0]


def _bm25_score_all(documents: DataFrame, terms: list[str],
                    match_all: bool = True, cache: bool = True):
    """→ (scored DataFrame, the cached tf it holds), unrounded.

    Whoosh BM25: ``idf = ln(N/(df+1)) + 1``; per-term
    ``idf·tf·(k1+1)/(tf + k1·(1−b + b·fl/avgfl))`` summed over matched
    query terms.  AND group keeps docs matching all terms.  The plan:
    tf agg → broadcast semi-join on query terms → two scalar-subquery
    style broadcast joins for (N, avgfl) and per-term df → sum.
    """
    spark = documents.sparkSession
    tf, lens, g = _tf_lens_stats(documents, cache=cache)
    qterms = spark.createDataFrame([(t,) for t in terms], "term string")
    df_t = (
        tf.join(F.broadcast(qterms), "term")
        .groupBy("term").agg(F.count("*").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .join(lens, "doc_id")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(g), "_k")
        .withColumn("w", _bm25_weight())
        .groupBy("doc_id")
        .agg(F.sum("w").alias("score"), F.count("*").alias("n_matched"))
    )
    if match_all:
        scored = scored.where(F.col("n_matched") == len(terms))
    return scored.select("doc_id", "score"), tf


def bm25_topk(documents: DataFrame, terms: list[str], k: int = 10,
              match_all: bool = True) -> DataFrame:
    """Top-k by (round(score,6) desc, doc_id asc) — deterministic.

    Eagerly materializes the k-row result and releases the shared tf
    cache (`_tf_lens_stats`) so repeated calls in one session don't
    accumulate cached tokenize tables."""
    scored, tf = _bm25_score_all(documents, terms, match_all)
    topk = (
        scored
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    out = topk.localCheckpoint(eager=True)
    tf.unpersist()
    return out


def bm25_andnot_topk(documents: DataFrame, terms: list[str],
                     exclude_terms: list[str], k: int = 10) -> DataFrame:
    """Top-k BM25 over an AND group, excluding docs containing ANY of
    ``exclude_terms`` — the relational twin of the engine's Whoosh
    ``a AND NOT b`` queries (plans/qsyntax.py; reference parser
    OperatorsPlugin NOT, searcher.py:53-55).

    Plan: the AND scoring plan plus one broadcast anti-join on the
    (small, distinct) excluded-doc set — negation never scores, it only
    filters, exactly like the WAND kernel's ``Not`` node.
    """
    spark = documents.sparkSession
    scored, tf = _bm25_score_all(documents, terms, match_all=True)
    nq = spark.createDataFrame([(t,) for t in exclude_terms], "term string")
    excl = (
        tf.join(F.broadcast(nq), "term").select("doc_id").distinct()
    )
    topk = (
        scored.join(excl, "doc_id", "left_anti")
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    out = topk.localCheckpoint(eager=True)
    tf.unpersist()
    return out


def bm25_prefix_topk(documents: DataFrame, prefix: str,
                     k: int = 10) -> DataFrame:
    """Top-k BM25 over EVERY vocabulary term starting with ``prefix``
    (the wildcard-rewrite baseline behind the engine's ``euro*``
    queries, plans/qsyntax.py).

    The prefix predicate lands on the tokenized table directly — no
    driver-side dictionary round-trip — and per-term df is computed for
    exactly the matched vocabulary.  Scoring = OR-group BM25 (sum over
    matched terms), Whoosh Wildcard semantics.
    """
    tf, lens, g = _tf_lens_stats(documents)
    m = tf.where(F.col("term").startswith(prefix))
    df_t = m.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        m.join(F.broadcast(df_t), "term")
        .join(lens, "doc_id")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(g), "_k")
        .withColumn("w", _bm25_weight())
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    topk = (
        scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    )
    out = topk.localCheckpoint(eager=True)
    tf.unpersist()
    return out


def batch_topk(documents: DataFrame, queries: dict[int, list[str]],
               k: int = 5) -> DataFrame:
    """Many OR-queries in ONE job → (query_id, rank, doc_id, score).

    The batched-evaluation shape: the (query_id, term) fan-out is
    broadcast against the tf table, scores aggregate per (query, doc),
    and a per-query window takes top-k.
    """
    spark = documents.sparkSession
    tf, lens, g = _tf_lens_stats(documents)
    fan = spark.createDataFrame(
        [(qid, t) for qid, ts in queries.items() for t in ts],
        "query_id int, term string",
    )
    df_t = (
        tf.join(F.broadcast(fan.select("term").distinct()), "term")
        .groupBy("term").agg(F.count("*").alias("df"))
    )
    scored = (
        tf.join(F.broadcast(fan), "term")
        .join(F.broadcast(df_t), "term")
        .join(lens, "doc_id")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(g), "_k")
        .withColumn("w", _bm25_weight())
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
    # k·|Q| rows — materialize eagerly and release the shared tf cache
    out = topk.localCheckpoint(eager=True)
    tf.unpersist()
    return out


# ---------------------------------------------------------------------------
# Link-graph derivation + fixed-iteration PageRank (G2/G3 over documents)
# ---------------------------------------------------------------------------
def resolve_edges(documents: DataFrame, links_per_doc: int = 5) -> DataFrame:
    """G2 equi-join analogue where no explicit link column exists.

    Each document "links" to the owners of its top-``links_per_doc``
    terms (by tf desc, term asc); a term's owner is the lowest doc_id
    containing it — the title→id resolution join of ``graph.py:99-119``
    re-expressed: links explode → inner equi-join → distinct.
    """
    tf = tokens_tf(documents)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    top_terms = (
        tf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= links_per_doc)
        .select(F.col("doc_id").alias("src"), "term")
    )
    owners = tf.groupBy("term").agg(F.min("doc_id").alias("dst"))
    return (
        top_terms.join(owners, "term")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def pagerank_iterations(documents: DataFrame, edges: DataFrame,
                        n_iter: int = 5, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration damped power method with uniform dangling mass.

    Same Berkhin formulation as operators/pagerank.py (tmp = C·inflow;
    leaked = (1−Σtmp)/N), run for exactly ``n_iter`` iterations so an
    unrolled-SQL oracle can mirror it.  → (doc_id, pr) unrounded.
    """
    nodes = documents.select("doc_id")
    n_docs = nodes.count()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    graph = edges.join(outdeg, "src").cache()
    ranks = nodes.select("doc_id", F.lit(1.0 / n_docs).alias("pr"))
    prev_tmp = None
    for _ in range(n_iter):
        contribs = (
            graph.join(ranks, graph["src"] == ranks["doc_id"])
            .select(F.col("dst").alias("doc_id"),
                    (F.col("pr") / F.col("outdeg")).alias("w"))
            .groupBy("doc_id").agg(F.sum("w").alias("inflow"))
        )
        tmp = (
            nodes.join(contribs, "doc_id", "left")
            .select(
                "doc_id",
                (F.lit(damping) * F.coalesce("inflow", F.lit(0.0)))
                .alias("tmp"),
            )
        ).cache()
        total = tmp.agg(F.sum("tmp")).collect()[0][0] or 0.0
        # the collect above materialized the new cache; the previous
        # iteration's table is dead — release it so storage stays
        # bounded at ONE (doc_id, tmp) table regardless of n_iter.
        if prev_tmp is not None:
            prev_tmp.unpersist()
        prev_tmp = tmp
        ranks = tmp.select(
            "doc_id",
            (F.col("tmp") + F.lit((1.0 - total) / n_docs)).alias("pr"),
        )
    graph.unpersist()
    return ranks


# ---------------------------------------------------------------------------
# Deduplication family
# ---------------------------------------------------------------------------
def train_split(documents: DataFrame,
                weights: tuple = (("train", 0.9), ("val", 0.05),
                                  ("test", 0.05)),
                salt: str = "v1") -> DataFrame:
    """(doc_id, split) deterministic hash-based train/val/test split.

    The split a 100 TB training pipeline needs: STABLE under
    re-partitioning, re-ingestion and cluster-size changes (no
    rand()/sample(), which reshuffle membership every run), keyed only
    on (doc_id, salt).  ``u = first 8 md5 hex digits / 2^32`` is
    uniform on [0, 1); a doc lands in the first label whose cumulative
    weight exceeds its u.  Pure narrow map — zero shuffles, whole-stage
    codegen, trivially reproducible in any other engine (the DuckDB
    oracle recomputes it bit-for-bit).  Changing ``salt`` produces an
    independent re-split; keeping it pins membership forever.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"),
                               F.lit(":" + salt))), 1, 8),
            16, 10,
        ).cast("long") / F.lit(float(2 ** 32))
    )
    total = sum(w for _, w in weights)
    expr = F.lit(weights[-1][0])
    acc = 0.0
    cuts = []
    for label, w in weights[:-1]:
        acc += w / total
        cuts.append((label, acc))
    for label, cut in reversed(cuts):
        expr = F.when(u < F.lit(cut), F.lit(label)).otherwise(expr)
    return documents.select("doc_id", expr.alias("split"))


def dedup_exact(documents: DataFrame) -> DataFrame:
    """(doc_id, content_hash, is_dup) — exact dedup via hash groupBy.

    ``is_dup`` marks every doc except the lowest doc_id per content
    hash; at scale this is one shuffle on a 32-hex-char key.
    """
    w = Window.partitionBy("content_hash")
    return (
        documents.select("doc_id", F.md5("text").alias("content_hash"))
        .withColumn("is_dup", F.col("doc_id") > F.min("doc_id").over(w))
        .select("doc_id", "content_hash", "is_dup")
    )


def shingle_array(n: int = 3, col: str = "text") -> Column:
    """array<string> of word-``n``-gram shingles (with duplicates).

    NOTE: references its token array 5×; use ``_doc_shingles`` inside
    operators so the tokenizer regexp is materialized ONCE per row
    (Catalyst inlines multi-referenced aliases only when cheap, so the
    two-projection form keeps one regexp evaluation)."""
    arr = raw_token_array(F.col(col))
    return _shingles_of(arr, n)


def _shingles_of(arr: Column, n: int) -> Column:
    return F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(arr, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _doc_shingles(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh array<string>) with the tokenizer regexp evaluated
    once per row (its alias is expensive ⇒ CollapseProject keeps the
    projection boundary)."""
    toks = _spread(documents).select(
        "doc_id", raw_token_array(F.col("text")).alias("toks")
    )
    return toks.select(
        "doc_id", _shingles_of(F.col("toks"), n).alias("sh")
    )


def shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word-``n``-gram shingles."""
    return (
        _doc_shingles(documents, n)
        .select("doc_id", F.explode("sh").alias("shingle"))
        .distinct()
    )


def minhash_signatures(documents: DataFrame, n_hashes: int = 16,
                       shingle_n: int = 3) -> DataFrame:
    """(doc_id, seed, mh) MinHash signature rows.

    Hash family: ``md5(seed || ':' || shingle)`` compared as strings —
    deterministic, engine-agnostic (the SQL oracle reproduces it
    exactly), uniform enough for Jaccard estimation.

    Plan shape (the 100 TB story): a pure NARROW map — the per-seed
    minima are computed per document with higher-order functions
    (``transform`` + ``array_min`` over the in-row shingle array), so
    the operator needs ZERO shuffles and no row explosion (the previous
    formulation exploded shingles×seeds before a groupBy — 16× the
    shuffle volume of the corpus).  ``array_min`` over the md5 array is
    duplicate-insensitive, so the shingle-distinct shuffle is avoided
    too.  Docs with no shingles emit no rows (array_min(∅) = null,
    filtered), matching the aggregate formulation and the SQL oracle.
    """
    base = _doc_shingles(documents, shingle_n)

    def hashes_of(s: Column) -> Column:
        return F.array(*[
            F.md5(F.concat(F.lit(f"{seed}:"), s))
            for seed in range(n_hashes)
        ])

    # ONE fold over the shingle array with a 16-slot accumulator
    # (least() ignores nulls, so the all-null init acts as +inf and an
    # empty array stays all-null → filtered).  A single reference to
    # ``sh`` keeps Catalyst from inlining the shingle construction into
    # 16 sibling expressions.
    mins = F.aggregate(
        F.col("sh"),
        F.array_repeat(F.lit(None).cast("string"), n_hashes),
        lambda acc, s: F.zip_with(
            acc, hashes_of(s), lambda a, h: F.least(a, h)
        ),
    )
    return (
        base.select("doc_id", F.posexplode(mins).alias("seed", "mh"))
        .where(F.col("mh").isNotNull())
    )


def lsh_candidate_pairs(signatures: DataFrame, rows_per_band: int = 4
                        ) -> DataFrame:
    """MinHash-LSH banding: (a, b) candidate near-dup pairs.

    Signatures are grouped into bands of ``rows_per_band`` rows; a pair
    is a candidate iff some band's concatenated signature matches.  The
    join key is ``(band, md5(band signature))`` — high-cardinality, so
    the self-join is shuffle-friendly at scale.

    The band table is persisted across the self-join: Catalyst does not
    reuse the exchange between the two re-aliased sides of this
    generator-bearing self-join plan, so without the persist the whole
    upstream signature pipeline would run TWICE.  Bands are 4 short
    rows per doc; a 100 TB deployment lands them as a table (the LSH
    "index") before pairing, which this persist stands in for.
    """
    bands = (
        signatures
        .withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                        lambda x: x["mh"],
                    ),
                    ",",
                )
            ).alias("band_key")
        )
    ).persist()
    right = bands.select(
        F.col("doc_id").alias("b"), "band", "band_key"
    )
    pairs = (
        bands.select(F.col("doc_id").alias("a"), "band", "band_key")
        .join(right, ["band", "band_key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # materialize the (small) pair set eagerly so the band table can be
    # released immediately — a lingering persist would evict other
    # caches for the rest of the session
    out = pairs.localCheckpoint(eager=True)
    bands.unpersist()
    return out


def ngram_jaccard_pairs(documents: DataFrame, shingle_n: int = 3,
                        k: int = 20,
                        max_shingle_df: int | None = 1000) -> DataFrame:
    """Top-``k`` pairs by exact n-gram Jaccard similarity.

    |∩| via a shingle self-join, |∪| = |A|+|B|−|∩|.  Deterministic
    order: (round(jaccard,6) desc, a, b).

    Scale guard: an uncapped shingle self-join is O(df²) per shingle —
    one boilerplate phrase shared by 10⁶ docs would emit 10¹² pairs.
    ``max_shingle_df`` drops shingles with df above the cap from the
    JOIN side before pairing (they carry ~no similarity signal; set
    sizes for the union stay exact, so the reported Jaccard is a lower
    bound for pairs that relied on hot shingles).  The cap DEFAULTS ON
    (1000) so the production path is never accidentally O(df²); pass
    ``max_shingle_df=None`` explicitly only where exactness is required
    (the sf0.01 oracle corpus has < 1000 docs, so the default cap is a
    no-op there and the exact-SQL oracle still matches).  Very-hot-key
    dedup routes to ``lsh_candidate_pairs``, bucketed by construction.
    """
    # persisted: three consumers (both self-join sides + set sizes)
    # would otherwise each recompute the tokenize→shingle→distinct
    # pipeline — Catalyst does not reuse the exchange across the
    # re-aliased sides of the self-join.  At 100 TB the shingle set is
    # landed as a table before pairing; the persist stands in for that.
    sh = shingles(documents, shingle_n).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
            .where(F.col("sdf") > max_shingle_df)
            .select("shingle")
        )
        # |hot| ≤ total_postings/cap — usually small, but at web scale
        # (10^13 shingle postings / cap 1000 → up to 10^10 hot rows)
        # an unconditional broadcast hint is an OOM; leave the choice
        # to AQE.  When it picks a shuffled anti-join, the hash
        # partitioning on `shingle` is the SAME one the self-join
        # below needs, so the exchange is reused, not added.
        sh_j = sh.join(hot, "shingle", "left_anti")
    else:
        sh_j = sh
    left = sh_j.select(F.col("doc_id").alias("a"), "shingle")
    right = sh_j.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        left.join(right, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count("*").alias("n_inter"))
    )
    topk = (
        inter
        .join(sizes.select(F.col("doc_id").alias("a"),
                           F.col("n_sh").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"),
                           F.col("n_sh").alias("nb")), "b")
        .select(
            "a", "b",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(k)
    )
    # eager top-k materialization, then release the shingle table (see
    # the persist note above — a lingering cache evicts others)
    out = topk.localCheckpoint(eager=True)
    sh.unpersist()
    return out


def simhash32(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) 32-bit tf-weighted SimHash fingerprint.

    Token hash = first 8 hex chars of md5 as uint32; bit b of the
    fingerprint is set iff Σ_tokens tf·(2·bit_b(h)−1) > 0.

    Plan shape: ONE groupBy(doc_id) with 32 bitwise sum aggregates
    (``(h >> b) & 1`` — exact long arithmetic, codegen-only).  The
    shuffle carries the map-side-combined partial sums — one 32-long
    row per (partition, doc) — instead of the 32-row-per-posting
    explode of the naive formulation (32× the tf table's volume).
    The SQL oracle keeps the explode formulation (DuckDB-side cost is
    irrelevant); results are identical by construction.
    """
    tf = tokens_tf(documents)
    h = F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
    base = tf.select("doc_id", "tf", h.alias("h"))
    bit_sums = base.groupBy("doc_id").agg(*[
        F.sum(
            F.col("tf")
            * (2 * F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) - 1)
        ).alias(f"s{b}")
        for b in range(32)
    ])
    fingerprint = None
    for b in range(32):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return bit_sums.select("doc_id", fingerprint.alias("simhash"))


# ---------------------------------------------------------------------------
# Text analysis: quality, language-ID, token counts, fingerprints
# ---------------------------------------------------------------------------
def quality_scores(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, alpha_ratio, stop_ratio, quality).

    Heuristic quality score: alpha-char density, length saturation and
    stopword-rate closeness to English prose — all native expressions.
    """
    arr = token_array(F.col("text"))
    raw = raw_token_array(F.col("text"))
    n_raw = F.size(raw)
    n_stop = F.size(raw) - F.size(arr)  # minsize<2 tokens are rare; proxy
    alpha = (
        F.length(F.regexp_replace(F.lower("text"), r"[^a-z]", ""))
        / F.greatest(F.length("text"), F.lit(1))
    )
    stop_ratio = n_stop / F.greatest(n_raw, F.lit(1))
    quality = F.round(
        F.lit(0.5) * alpha
        + F.lit(0.3) * F.least(F.lit(1.0), n_raw / F.lit(100.0))
        + F.lit(0.2) * (F.lit(1.0) - F.abs(stop_ratio - F.lit(0.3))),
        6,
    )
    return documents.select(
        "doc_id",
        F.size(arr).alias("n_tokens"),
        F.round(alpha, 6).alias("alpha_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        quality.alias("quality"),
    )


def lang_id(documents: DataFrame, threshold: float = 0.08) -> DataFrame:
    """(doc_id, stop_hit_ratio, lang_pred) — stopword-density n-gram
    heuristic: English iff the Whoosh-stoplist hit rate ≥ threshold."""
    raw = raw_token_array(F.col("text"))
    hits = F.size(F.filter(raw, lambda t: t.isin(*STOPWORDS)))
    ratio = hits / F.greatest(F.size(raw), F.lit(1))
    return documents.select(
        "doc_id",
        F.round(ratio, 6).alias("stop_hit_ratio"),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("und"))
        .alias("lang_pred"),
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpeish_tokens, analyzer_tokens)."""
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), F.lit(0)))
        .alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), F.lit(0)))
        .alias("bpeish_tokens"),
        F.size(token_array(F.col("text"))).alias("analyzer_tokens"),
    )


def doc_fingerprints(documents: DataFrame, stride: int = 8) -> DataFrame:
    """(doc_id, fingerprint) — digest of every ``stride``-th token.

    A cheap locality-insensitive fingerprint (order-preserving token
    sampling + md5), the relational cousin of rolling-hash winnowing.
    """
    raw = raw_token_array(F.col("text"))
    sampled = F.filter(raw, lambda t, i: i % stride == 0)
    return documents.select(
        "doc_id",
        F.md5(F.concat_ws(" ", sampled)).alias("fingerprint"),
    )
