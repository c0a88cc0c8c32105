"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: full inverted-index build + block-max-WAND
BM25 batch query over the sf0.001 ``documents`` table.

``queries()`` / ``oracle_sql()`` — one entry per operator family from
SURVEY.md §2 plus the training-data pipeline operators
(dedup / similarity / text-analysis).  Every SQL-expressible operator
has a DuckDB oracle built from the same shared fragments; the
WAND/stemming engine path and the multimodal stub are rows-only.

All scores are rounded to 6 decimals (PageRank 8) **before** ranking in
both engines, and every ordering ties-breaks on ids, so Spark and
DuckDB agree exactly despite float summation-order differences
(noise ~1e-15 « rounding quantum).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_wikipedia_spark.functions.textproc import STOP_WORDS
from search_engine_wikipedia_spark.operators import ann, components, textpipe as tp

# ---------------------------------------------------------------------------
# Shared constants — identical in both engines
# ---------------------------------------------------------------------------
TOKEN_RE = tp.TOKEN_RE
BPE_RE = tp.BPE_RE
STOP_SQL = "(" + ", ".join(f"'{w}'" for w in sorted(STOP_WORDS)) + ")"
STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in sorted(STOP_WORDS)) + "]"

AND_TERMS = ["spark", "join", "fast"]
OR_TERMS = ["window", "batch", "shuffle"]
# Whoosh-syntax surface (plans/qsyntax.py): "spark join NOT window" /
# "s*" rewrites — relational twins of the engine's Not node + wildcard
ANDNOT_TERMS = ["spark", "join"]
ANDNOT_EXCLUDE = ["window"]
PREFIX_Q = "s"
BATCH_QUERIES = {0: ["spark", "join"], 1: ["hash", "merge"],
                 2: ["customer", "filter", "scan"]}
PROBE_IDS = [0, 1, 2, 3, 4]
ENGINE_QUERIES = [
    "spark join fast", "hash merge", "customer filter scan",
    "window batch", "slow scan big", "row column vector",
    "data small filter", "agg batch spark", "merge join hash",
    "query value table",
]

# DuckDB fragments (documents is a pre-registered view) -----------------
TOK_CTE = f"""
tok AS (
  SELECT d.doc_id, t.term
  FROM (SELECT doc_id,
               regexp_extract_all(lower(text), '{TOKEN_RE}') AS arr
        FROM documents) d, unnest(d.arr) AS t(term)
  WHERE length(t.term) >= 2 AND t.term NOT IN {STOP_SQL}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term)
"""

LENS_CTE = """
lens AS (
  SELECT d.doc_id, coalesce(t.n, 0) AS n_tokens
  FROM documents d
  LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
             FROM tok GROUP BY doc_id) t USING (doc_id)
),
g AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS DOUBLE)/count(*) AS avg_len
      FROM lens)
"""


def _bm25_sql(terms: list[str], match_all: bool, k: int) -> str:
    vals = ", ".join(f"('{t}')" for t in terms)
    having = f"WHERE nm = {len(terms)}" if match_all else ""
    return f"""
WITH {TOK_CTE}, {LENS_CTE},
q AS (SELECT * FROM (VALUES {vals}) AS v(term)),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf JOIN q USING (term) GROUP BY term),
s AS (
  SELECT tf.doc_id,
         sum((ln(CAST(g.n_docs AS DOUBLE)/(dfq.df + 1)) + 1.0)
             * tf.tf * 2.2
             / (tf.tf + 1.2*(0.25 + 0.75*lens.n_tokens/g.avg_len))
            ) AS score,
         count(*) AS nm
  FROM tf JOIN q USING (term) JOIN dfq USING (term)
       JOIN lens USING (doc_id) CROSS JOIN g
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM s {having}
ORDER BY score DESC, doc_id LIMIT {k}
"""


def _bm25_andnot_sql(terms: list[str], exclude: list[str], k: int) -> str:
    vals = ", ".join(f"('{t}')" for t in terms)
    nvals = ", ".join(f"('{t}')" for t in exclude)
    return f"""
WITH {TOK_CTE}, {LENS_CTE},
q AS (SELECT * FROM (VALUES {vals}) AS v(term)),
nq AS (SELECT * FROM (VALUES {nvals}) AS v(term)),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf JOIN q USING (term) GROUP BY term),
excl AS (SELECT DISTINCT doc_id FROM tf JOIN nq USING (term)),
s AS (
  SELECT tf.doc_id,
         sum((ln(CAST(g.n_docs AS DOUBLE)/(dfq.df + 1)) + 1.0)
             * tf.tf * 2.2
             / (tf.tf + 1.2*(0.25 + 0.75*lens.n_tokens/g.avg_len))
            ) AS score,
         count(*) AS nm
  FROM tf JOIN q USING (term) JOIN dfq USING (term)
       JOIN lens USING (doc_id) CROSS JOIN g
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM s
WHERE nm = {len(terms)} AND doc_id NOT IN (SELECT doc_id FROM excl)
ORDER BY score DESC, doc_id LIMIT {k}
"""


def _bm25_prefix_sql(prefix: str, k: int) -> str:
    return f"""
WITH {TOK_CTE}, {LENS_CTE},
m AS (SELECT * FROM tf WHERE term LIKE '{prefix}%'),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM m GROUP BY term),
s AS (
  SELECT m.doc_id,
         sum((ln(CAST(g.n_docs AS DOUBLE)/(dfq.df + 1)) + 1.0)
             * m.tf * 2.2
             / (m.tf + 1.2*(0.25 + 0.75*lens.n_tokens/g.avg_len))
            ) AS score
  FROM m JOIN dfq USING (term)
       JOIN lens USING (doc_id) CROSS JOIN g
  GROUP BY m.doc_id
)
SELECT doc_id, round(score, 6) AS score FROM s
ORDER BY score DESC, doc_id LIMIT {k}
"""


def _edges_sql() -> str:
    return """
edges AS (
  SELECT DISTINCT s.src, o.dst
  FROM (SELECT doc_id AS src, term
        FROM (SELECT doc_id, term,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tf DESC, term) AS rn
              FROM tf) WHERE rn <= 5) s
  JOIN (SELECT term, min(doc_id) AS dst FROM tf GROUP BY term) o
       USING (term)
  WHERE s.src != o.dst
)
"""


def _pagerank_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    ctes = [
        "outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg "
        "FROM edges GROUP BY src)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)",
        "r0 AS (SELECT doc_id, 1.0/nn.n AS pr FROM documents CROSS JOIN nn)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS doc_id, sum(r.pr/o.outdeg) AS inflow "
            f"FROM edges e JOIN r{i-1} r ON e.src = r.doc_id "
            f"JOIN outdeg o ON e.src = o.src GROUP BY e.dst)"
        )
        ctes.append(
            f"t{i} AS (SELECT d.doc_id, {damping}*coalesce(c.inflow, 0.0) "
            f"AS tmp FROM documents d LEFT JOIN c{i} c USING (doc_id))"
        )
        ctes.append(
            f"r{i} AS (SELECT doc_id, tmp + (1.0 - (SELECT sum(tmp) "
            f"FROM t{i}))/(SELECT n FROM nn) AS pr FROM t{i})"
        )
    return (
        f"WITH {TOK_CTE}, {_edges_sql()}, " + ",\n".join(ctes)
        + f"\nSELECT doc_id, round(pr, 8) AS pr FROM r{n_iter}"
    )


# k-means coarse-quantizer oracle (unrolled Lloyd iterations) ----------
KM_K, KM_ITER, KM_DIM = 8, 3, 64


def _kmeans_ctes(k: int = KM_K, n_iter: int = KM_ITER,
                 dim: int = KM_DIM) -> str:
    """CTE chain ending in final centroids ``c{n_iter}`` and final
    assignment ``af`` — mirrors operators/ann.py:kmeans_fit exactly
    (init = k lowest vec_ids; dist and means rounded to 6 before any
    ranking; empty cells keep the previous centroid)."""
    rng = f"range(1, {dim + 1})"

    def sqd(e: str, c: str) -> str:
        return (f"round(list_sum(list_transform({rng}, "
                f"j -> ({e}[j]-{c}[j])*({e}[j]-{c}[j]))), 6)")

    parts = [
        "e AS (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS emb FROM embeddings)",
        f"c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 "
        f"AS INTEGER) AS cell, list_transform(emb, x -> round(x, 6)) AS cent "
        f"FROM (SELECT * FROM e ORDER BY vec_id LIMIT {k}))",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"a{i} AS (SELECT vec_id, cell FROM ("
            f"SELECT e.vec_id, c.cell, row_number() OVER "
            f"(PARTITION BY e.vec_id ORDER BY {sqd('e.emb', 'c.cent')}, "
            f"c.cell) AS rn FROM e CROSS JOIN c{i-1} c) WHERE rn = 1)"
        )
        parts.append(
            f"u{i} AS (SELECT a.cell, p.j AS pos, "
            f"round(avg(e.emb[p.j]), 6) AS v "
            f"FROM a{i} a JOIN e USING (vec_id), unnest({rng}) AS p(j) "
            f"GROUP BY a.cell, p.j)"
        )
        parts.append(
            f"c{i} AS (SELECT c.cell, CASE WHEN count(u.v) = 0 "
            f"THEN any_value(c.cent) ELSE list(u.v ORDER BY u.pos) END "
            f"AS cent FROM c{i-1} c LEFT JOIN u{i} u USING (cell) "
            f"GROUP BY c.cell)"
        )
    parts.append(
        f"af AS (SELECT vec_id, cell FROM ("
        f"SELECT e.vec_id, c.cell, row_number() OVER "
        f"(PARTITION BY e.vec_id ORDER BY {sqd('e.emb', 'c.cent')}, "
        f"c.cell) AS rn FROM e CROSS JOIN c{n_iter} c) WHERE rn = 1)"
    )
    return ",\n".join(parts)


def _kmeans_centroids_sql() -> str:
    return (
        f"WITH {_kmeans_ctes()}\n"
        f"SELECT cell, CAST(p.j - 1 AS INTEGER) AS pos, cent[p.j] AS val "
        f"FROM c{KM_ITER}, unnest(range(1, {KM_DIM + 1})) AS p(j)"
    )


def _neardup_sql(threshold: float = 0.4) -> str:
    rng = f"range(1, {KM_DIM + 1})"
    return f"""
WITH {_kmeans_ctes()},
x AS (SELECT a.vec_id, a.cell, e.emb FROM af a JOIN e USING (vec_id)),
p AS (
  SELECT xa.vec_id AS a, xb.vec_id AS b,
         round(list_sum(list_transform({rng}, j -> xa.emb[j]*xb.emb[j]))
               / sqrt(list_sum(list_transform({rng}, j -> xa.emb[j]*xa.emb[j]))
                    * list_sum(list_transform({rng}, j -> xb.emb[j]*xb.emb[j]))),
               6) AS cos
  FROM x xa JOIN x xb ON xa.cell = xb.cell AND xa.vec_id < xb.vec_id
)
SELECT a, b, cos FROM p WHERE cos >= {threshold}
"""


def _ivf_trained_sql(k: int = 5) -> str:
    rng = f"range(1, {KM_DIM + 1})"
    probe_sql = ", ".join(str(p) for p in PROBE_IDS)
    return f"""
WITH {_kmeans_ctes()},
pr AS (SELECT q.vec_id AS qid, q.cell, e.emb AS qe
       FROM af q JOIN e USING (vec_id) WHERE q.vec_id IN ({probe_sql})),
cand AS (SELECT a.vec_id, a.cell, e.emb AS de
         FROM af a JOIN e USING (vec_id)),
c AS (
  SELECT pr.qid, cand.vec_id,
         round(list_sum(list_transform({rng}, j -> pr.qe[j]*cand.de[j]))
               / sqrt(list_sum(list_transform({rng}, j -> pr.qe[j]*pr.qe[j]))
                    * list_sum(list_transform({rng}, j -> cand.de[j]*cand.de[j]))),
               6) AS cos
  FROM pr JOIN cand ON pr.cell = cand.cell AND cand.vec_id != pr.qid
),
r AS (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY cos DESC, vec_id)
                  AS INTEGER) AS rank FROM c)
SELECT qid, rank, vec_id, cos FROM r WHERE rank <= {k}
"""


SHINGLE_CTE = f"""
sh AS (
  SELECT DISTINCT b.doc_id, u.shingle
  FROM (SELECT doc_id,
               list_transform(range(1, len(arr) - 1),
                              i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
               AS shs
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '{TOKEN_RE}') AS arr
              FROM documents)) b, unnest(b.shs) AS u(shingle)
)
"""

SIG_CTE = """
sig AS (
  SELECT doc_id, CAST(s.seed AS INTEGER) AS seed,
         min(md5(s.seed || ':' || shingle)) AS mh
  FROM sh CROSS JOIN unnest(range(0, 16)) AS s(seed)
  GROUP BY doc_id, s.seed
)
"""

# MinHash-LSH pairs → connected components (transitive closure), used
# by the dedup_components / dedup_keep_best oracles
COMP_CTES = """
bands AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, seed // 4
),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
       ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
sym AS (SELECT a AS u, b AS v FROM pairs
        UNION SELECT b, a FROM pairs),
walk(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u
  WHERE s.v <> w.u
),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         FROM walk GROUP BY u),
labels AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
"""


# ---------------------------------------------------------------------------
# Engine (WAND) path — cached index build over documents-as-pages
# ---------------------------------------------------------------------------
def _documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.concat(F.lit("https://docs.example/d_"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _input_fingerprint(sf_dir: str) -> str:
    """Cheap stat-based fingerprint of the input documents table
    (file names + sizes + mtimes) — no data read."""
    import glob
    import hashlib

    p = os.path.join(sf_dir, "documents.parquet")
    paths = (
        sorted(glob.glob(os.path.join(p, "**", "*"), recursive=True))
        if os.path.isdir(p) else [p]
    )
    h = hashlib.md5()
    for f in paths:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(
                f"{os.path.relpath(f, sf_dir)}:{st.st_size}:"
                f"{int(st.st_mtime)};".encode()
            )
    return h.hexdigest()


def _engine_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, cached under /tmp) the full inverted index over the
    sf_dir documents table; returns the index root.

    The cached tree records the INPUT fingerprint and the builder's
    settings: if the testdata changed, or the tree was built with other
    settings (or before they were recorded), the index is dropped and
    rebuilt instead of silently serving results built from other data
    or being refused by the build's settings check.  So is a tree with
    no committed snapshot (``_SNAPSHOT.json``), which lists no table to
    resume from; otherwise the build resumes from the snapshot.
    """
    import json
    import shutil

    from search_engine_wikipedia_spark.operators.build import IndexBuilder
    from search_engine_wikipedia_spark.sources import catalog

    tag = os.path.basename(os.path.normpath(sf_dir))
    root = f"/tmp/sewiki_index_{tag}"
    builder = IndexBuilder(spark, root, n_segments=8, shard_size=100_000)
    want = {"fingerprint": _input_fingerprint(sf_dir),
            "settings": builder.settings}
    fp_file = os.path.join(root, "_INPUT.json")
    if os.path.exists(root):
        recorded = {}
        if os.path.exists(fp_file):
            with open(fp_file) as f:
                recorded = json.load(f)
        if ({k: recorded.get(k) for k in want} != want
                or catalog.read_snapshot(root) is None):
            shutil.rmtree(root)
    # fingerprint is written BEFORE the build: a crash mid-build then
    # leaves a tree whose recorded fingerprint still matches the input,
    # so the next invocation RESUMES from the committed snapshot
    # instead of rmtree-ing the partial build (stale-input detection is
    # unaffected — a mismatch is what triggers the rebuild above)
    os.makedirs(root, exist_ok=True)
    with open(fp_file, "w") as f:
        json.dump({**want, "sf_dir": sf_dir}, f)
    builder.build(_documents_as_pages(spark, sf_dir), resume=True)
    return root


def _wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine: SPIMI build → salted merge → block-max WAND batch."""
    from search_engine_wikipedia_spark.plans.query import SearchIndex, search_batch

    root = _engine_index(spark, sf_dir)
    idx = SearchIndex(spark, root)
    res = search_batch(idx, ENGINE_QUERIES, limit=10, exp=False,
                       page_rank=False, group="AND")
    return res.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score")
    ).orderBy("query_id", "rank")


# Marker token that cannot occur in the synthetic corpus vocabulary —
# lets the lifecycle oracle detect WHICH revision of a doc is serving
# from content alone.
UPSERT_MARKER = "ZZUPSERTMARKER"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _lifecycle_scratch(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Clone the cached sf index into a fresh scratch root for a
    mutating lifecycle query.  Pid-suffixed so concurrent harness
    processes on one host cannot rmtree each other's tree while a
    lazily-evaluated result DataFrame is still reading it.  On entry,
    the trees of processes that have since exited are removed: nothing
    else would ever reclaim them."""
    import glob
    import shutil

    tag = os.path.basename(os.path.normpath(sf_dir))
    prefix = f"/tmp/sewiki_{kind}_{tag}_"
    for old in glob.glob(glob.escape(prefix) + "*"):
        pid = old[len(prefix):]
        if pid.isdigit() and not _pid_alive(int(pid)):
            shutil.rmtree(old, ignore_errors=True)
    root = _engine_index(spark, sf_dir)
    scratch = f"{prefix}{os.getpid()}"
    if os.path.exists(scratch):
        shutil.rmtree(scratch)
    shutil.copytree(root, scratch)
    return scratch


def _recrawl_batch(docs: DataFrame, modulus: int, remainder: int,
                   url_prefix: str, marker: str, ts: str) -> DataFrame:
    """Pages-shaped batch: every indexed doc with
    ``doc_id % modulus == remainder``, re-emitted under ``url_prefix``
    with marker-prefixed content (coalesced — a NULL text must still
    carry the marker, or the content-hash/is-updated checks read the
    wrong revision)."""
    return (
        docs.where(
            (F.col("lang") == "en")
            & ~F.coalesce(F.col("text"), F.lit("")).startswith("#REDIRECT")
            & (F.col("doc_id") % modulus == remainder)
        )
        .select(
            F.concat(F.lit(url_prefix),
                     F.col("doc_id").cast("string")).alias("url"),
            F.lit(ts).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            F.concat(F.lit(marker + " "),
                     F.coalesce(F.col("text"), F.lit(""))).alias("text"),
            F.col("lang"),
        )
    )


def _maintenance_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance lifecycle through the real engine, oracle-gated.

    1. copy the cached sf index to a scratch root;
    2. ``upsert_pages`` a recrawl batch: every indexed doc with
       ``doc_id % 5 == 0`` recrawled with CHANGED content (a marker
       prefix) — content-hash gating must tombstone exactly the old
       copies and serve the new revisions;
    3. ``delete_where`` a predicate takedown (``doc_id % 7 == 3``,
       parsed from the url) — victim set stays distributed, no driver
       list;
    4. ``compact`` — physically remove every tombstoned row;
    5. read back the live docs table: per surviving doc, the original
       id plus whether the UPDATED revision is the one serving.

    The DuckDB oracle derives the same table arithmetically from the
    raw ``documents`` input, so rows+schema+hash gate upsert
    exactly-once semantics (delete-then-add per
    ``org.apache.lucene...updateDocument``; reference has no
    maintenance surface — this is engine capability beyond it),
    predicate deletes, and compact convergence end-to-end under the
    driver harness, not just pytest.
    """
    from search_engine_wikipedia_spark.operators import ingest
    from search_engine_wikipedia_spark.sources import catalog

    scratch = _lifecycle_scratch(spark, sf_dir, "lifecycle")
    recrawl = _recrawl_batch(
        _docs(spark, sf_dir), 5, 0, "https://docs.example/d_",
        UPSERT_MARKER, "2026-02-01 00:00:00")
    ingest.upsert_pages(spark, scratch, recrawl)
    ingest.delete_where(
        spark, scratch,
        "CAST(regexp_extract(url, '_([0-9]+)$', 1) AS BIGINT) % 7 = 3")
    ingest.compact(spark, scratch)

    live = catalog.read_table(spark, scratch, "docs")
    return live.select(
        F.regexp_extract("url", "_([0-9]+)$", 1).cast("long").alias("doc_id"),
        F.when(F.col("clean_text").startswith(UPSERT_MARKER), 1)
         .otherwise(0).alias("is_updated"),
    ).orderBy("doc_id")


# Marker prefix for the append batch — distinct content, so the batch
# can never collide with the base corpus on any content-hash guard.
APPEND_MARKER = "APPENDBATCH"


def _append_optimize_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest lifecycle through the real engine,
    oracle-gated.

    1. copy the cached sf index to a scratch root;
    2. ``append_pages`` a delta batch of NEW urls (every third base doc
       re-crawled under an ``x_``-prefixed url with marker content) —
       a continuous-crawl ingest step landing as an LSM delta segment;
    3. ``optimize_segments`` — forceMerge the delta segments back into
       row-balanced groups;
    4. read back the live docs table: per doc, the original id and
       which batch (base=0, appended delta=1) it arrived in.

    The DuckDB oracle derives the same table arithmetically from the
    raw ``documents`` input, so the driver harness gates append
    visibility and optimize's no-rows-lost invariant end-to-end (the
    deeper incremental==rebuild rank identity stays pytest-gated in
    ``tests/test_ingest.py``).
    """
    from search_engine_wikipedia_spark.operators import ingest
    from search_engine_wikipedia_spark.sources import catalog

    scratch = _lifecycle_scratch(spark, sf_dir, "appendopt")
    delta = _recrawl_batch(
        _docs(spark, sf_dir), 3, 1, "https://docs.example/x_",
        APPEND_MARKER, "2026-03-01 00:00:00")
    ingest.append_pages(spark, scratch, delta)
    ingest.optimize_segments(spark, scratch)

    live = catalog.read_table(spark, scratch, "docs")
    return live.select(
        F.regexp_extract("url", "_([0-9]+)$", 1).cast("long").alias("doc_id"),
        F.when(F.col("url").contains("/x_"), 1).otherwise(0).alias("batch"),
    ).orderBy("doc_id", "batch")


def _events(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet"))


def _events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time aggregation (the batch twin of the
    streaming plan in streaming/events.py — same transform)."""
    from search_engine_wikipedia_spark.streaming import events as ev

    out = ev.windowed_counts(_events(spark, sf_dir), "1 hour")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return out.select(
        F.date_format("window_start", fmt).alias("window_start"),
        F.date_format("window_end", fmt).alias("window_end"),
        "event_type", "n_events", "sum_value",
    )


def _events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (gap 30 min; end = last event + gap)."""
    from search_engine_wikipedia_spark.streaming import events as ev

    out = ev.sessionize(_events(spark, sf_dir), "30 minutes")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "user_id",
        F.date_format("session_start", fmt).alias("session_start"),
        F.date_format("session_end", fmt).alias("session_end"),
        "n_events", "sum_value",
    )


EVENTS_WINDOWED_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour',
                '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2, 3
"""

EVENTS_SESSIONIZED_SQL = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid FROM o)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL '30 minutes',
                '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, sid
"""


def _wand_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal cross-check for the flagship WAND path: every doc in
    the block-max kernel's top-10 (per ENGINE_QUERIES, AND group) must
    appear, with the same BM25F score, in an INDEPENDENT relational
    plan over the same index's ``docs`` table, tokenized afresh with
    its recorded analyzers, and its ``field_stats``
    (plans/query.py:search_batch_relational — no WAND, no codec, no
    stored posting), so the segment encode, the merge, the codec and
    the kernel are checked together.

    The join is per (query, doc) — not per rank — with a 2e-6 score
    tolerance: the two paths sum float leaf scores in different orders,
    so a doc sitting exactly on a 1e-6 rounding boundary may round one
    ulp apart (and near-ties may swap ranks); the relational side runs
    with limit slack so a boundary doc can't fall off its top-k.  A
    real defect (wrong doc set / formula drift) shows up as a missing
    join partner or a score gap ≫ tolerance.  ``agree`` must be true on
    every row; rows-only for the driver (Porter stemming is not
    SQL-expressible), asserted in tests/test_entry_contract.py."""
    from search_engine_wikipedia_spark.plans.query import (
        SearchIndex, search_batch, search_batch_relational,
    )

    root = _engine_index(spark, sf_dir)
    idx = SearchIndex(spark, root)
    wres = (
        search_batch(idx, ENGINE_QUERIES, limit=10, exp=False,
                     page_rank=False, group="AND")
        .select("query_id", "rank", "doc_id",
                F.round("score", 6).alias("wand_score"))
    )
    rel = search_batch_relational(
        idx, ENGINE_QUERIES, limit=15, group="AND"  # slack for boundary
    ).select("query_id", "doc_id",
             F.col("rank").alias("rel_rank"),
             F.col("score").alias("rel_score"))
    return (
        wres.join(rel, ["query_id", "doc_id"], "left")
        .select(
            "query_id", "rank", "doc_id", "wand_score",
            "rel_rank", "rel_score",
            (
                F.col("rel_score").isNotNull()
                & (F.abs(F.col("wand_score") - F.col("rel_score")) <= 2e-6)
            ).alias("agree"),
        )
        .orderBy("query_id", "rank")
    )


#: Whoosh-syntax workload over the engine corpus vocabulary — NOT /
#: parens / field: / ^boost / wildcards, all forms the relational
#: referee supports (the NOT-of-group form is referee-rejected by
#: design, covered in tests/test_qsyntax.py instead)
SYNTAX_ENGINE_QUERIES = [
    "spark AND NOT window",
    "hash NOT merge",
    "(spark join) OR window",
    "customer OR filter scan",
    "title:spark",
    "text:merge title:join",
    "spark^3 join",
    "sp* fast",
    "j?in hash",
    "merge AND NOT sc*",
]

# OR-grouping consistency workload: the syntax surface minus NOT —
# under OR juxtaposition a NOT lands inside an Or group, a shape whose
# relational twin genuinely doesn't exist (the referee raises
# NotImplementedError; the kernel still evaluates it, and the AND
# batch above covers every NOT query) — plus two plain multifield
# queries so the OR default-grouping path itself is exercised.
SYNTAX_OR_ENGINE_QUERIES = [
    q for q in SYNTAX_ENGINE_QUERIES if "NOT" not in q
] + ["hash merge slow", "window batch"]

# expansion-ON consistency workload: plain multifield queries whose
# tokens carry fixture synonyms that occur in the engine corpus
# (sort→order/kind/form, join→merge/union, scan→table_scan/sweep),
# so the Or([And(orig), syn^0.5]) tree ranks some docs through the
# synonym branch alone.  NOT is excluded by design: the relational
# referee's global anti-join and the kernel's branch-scoped Not
# genuinely differ on that shape (it raises NotImplementedError).
EXPANSION_ENGINE_QUERIES = [
    "sort spark",
    "join customer",
    "scan window",
    "sort join big",
    "filter scan",
]


def _syntax_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way one-batch agreement for the query-SYNTAX surface:
    every (query, doc) in the block-max kernel's batched top-10
    (``search_batch``) must appear with the same BM25F score in BOTH
    independent batch paths — the broadcast posting-cache plan
    (``search_many_broadcast``) and the WAND-free relational referee
    (``search_batch_relational``) — for a workload of NOT / parens /
    field: / ^boost / wildcard queries submitted as ONE batch.  The
    per-query referee agreement is covered in tests/test_qsyntax.py;
    this entry pins the BATCHED paths, where per-query kernels share a
    pruned scan and could in principle cross wires.  Same join/
    tolerance protocol as ``_wand_consistency``; rows-only for the
    driver (Porter stemming is not ANSI-SQL-expressible), all-``agree``
    asserted in tests/test_entry_contract.py."""
    from search_engine_wikipedia_spark.plans.query import (
        SearchIndex, search_batch, search_batch_relational,
        search_many_broadcast,
    )

    root = _engine_index(spark, sf_dir)
    idx = SearchIndex(spark, root)

    def three_way(mode, queries, group, exp):
        wres = (
            search_batch(idx, queries, limit=10, exp=exp,
                         page_rank=False, group=group)
            .select("query_id", "rank", "doc_id",
                    F.round("score", 6).alias("wand_score"))
        )
        bc = search_many_broadcast(
            idx, queries, limit=15, group=group, exp=exp
        ).select("query_id", "doc_id", F.col("score").alias("bcast_score"))
        rel = search_batch_relational(
            idx, queries, limit=15, group=group, exp=exp
        ).select("query_id", "doc_id", F.col("score").alias("rel_score"))
        return (
            wres.join(bc, ["query_id", "doc_id"], "left")
            .join(rel, ["query_id", "doc_id"], "left")
            .select(
                F.lit(mode).alias("mode"),
                "query_id", "rank", "doc_id", "wand_score",
                "bcast_score", "rel_score",
                (
                    F.col("bcast_score").isNotNull()
                    & F.col("rel_score").isNotNull()
                    & (F.abs(F.col("wand_score") - F.col("bcast_score"))
                       <= 2e-6)
                    & (F.abs(F.col("wand_score") - F.col("rel_score"))
                       <= 2e-6)
                ).alias("agree"),
            )
        )

    # three workloads: the full syntax surface under AND and OR, and
    # query EXPANSION on — plain queries over the engine-vocabulary
    # synonym cluster (expansion.py _ENGINE_CLUSTER), whose synonym
    # branch matches real corpus terms, so docs ranked ONLY via the
    # ungated expansion branch must agree across all three paths too.
    # The invented cluster is NOT in the default serving inventory;
    # install it only while the exp plans are constructed (all three
    # paths parse + expand driver-side at call time).
    from search_engine_wikipedia_spark.plans import expansion as expmod

    expmod.use_inventory(expmod.engine_workload_inventory())
    try:
        exp_part = three_way("exp", EXPANSION_ENGINE_QUERIES, "AND", True)
    finally:
        expmod.use_inventory(None)
    out = (
        three_way("and", SYNTAX_ENGINE_QUERIES, "AND", False)
        .unionByName(three_way("or", SYNTAX_OR_ENGINE_QUERIES,
                               "OR", False))
        .unionByName(exp_part)
    )
    return out.orderBy("mode", "query_id", "rank")


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload pipeline with REAL byte-level features (entropy /
    mean byte / printable density — numpy kernel over Arrow batches),
    fully mirrored by the DuckDB oracle."""
    from search_engine_wikipedia_spark.operators import multimodal as mm

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    media = docs.select(
        "doc_id", F.lit("text").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return mm.byte_features(media)


MULTIMODAL_SQL = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
),
bytes AS (
  SELECT doc_id, n, ('0x' || substr(h, 2*p.i - 1, 2))::INTEGER AS v
  FROM b, unnest(range(1, n + 1)) AS p(i)
),
hist AS (SELECT doc_id, n, v, CAST(count(*) AS DOUBLE) AS c
         FROM bytes GROUP BY doc_id, n, v),
m AS (
  SELECT doc_id,
         CAST(any_value(n) AS INTEGER) AS n_bytes,
         -sum((c/n)*log2(c/n)) AS ent,
         sum(v*c)/any_value(n) AS mb,
         sum(CASE WHEN v >= 32 AND v < 127 THEN c ELSE 0 END)
           /any_value(n) AS pr
  FROM hist GROUP BY doc_id
)
SELECT d.doc_id, 'text' AS media_type,
       coalesce(m.n_bytes, 0) AS n_bytes,
       round(coalesce(m.ent, 0.0), 6) AS entropy,
       round(coalesce(m.mb, 0.0), 6) AS mean_byte,
       round(coalesce(m.pr, 0.0), 6) AS printable_ratio
FROM documents d LEFT JOIN m USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Contract
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full index build + block-max WAND BM25 over sf0.001."""
    return _wand_topk(spark, "/root/testdata/sf0.001")


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        # tokenization + statistics (I1/I4)
        "tokenize_tf": lambda s, d: tp.tokens_tf(_docs(s, d)),
        "term_stats": lambda s, d: tp.term_stats(_docs(s, d)),
        "doc_token_stats": lambda s, d: tp.doc_token_stats(_docs(s, d)),
        "corpus_stats": lambda s, d: tp.corpus_stats(_docs(s, d)),
        # BM25 relational scoring (Q5/Q6/Q2)
        "bm25_and_topk": lambda s, d: tp.bm25_topk(
            _docs(s, d), AND_TERMS, k=10, match_all=True),
        "bm25_or_topk": lambda s, d: tp.bm25_topk(
            _docs(s, d), OR_TERMS, k=10, match_all=False),
        "bm25_andnot_topk": lambda s, d: tp.bm25_andnot_topk(
            _docs(s, d), ANDNOT_TERMS, ANDNOT_EXCLUDE, k=10),
        "bm25_prefix_topk": lambda s, d: tp.bm25_prefix_topk(
            _docs(s, d), PREFIX_Q, k=10),
        "batch_topk": lambda s, d: tp.batch_topk(
            _docs(s, d), BATCH_QUERIES, k=5),
        # link graph + PageRank (G2/G3)
        "resolve_edges": lambda s, d: tp.resolve_edges(_docs(s, d)),
        "pagerank_5iter": lambda s, d: tp.pagerank_iterations(
            _docs(s, d), tp.resolve_edges(_docs(s, d)), n_iter=5
        ).select("doc_id", F.round("pr", 8).alias("pr")),
        # dedup family
        "dedup_exact": lambda s, d: tp.dedup_exact(_docs(s, d)),
        "minhash_signatures": lambda s, d: tp.minhash_signatures(_docs(s, d)),
        "lsh_candidate_pairs": lambda s, d: tp.lsh_candidate_pairs(
            tp.minhash_signatures(_docs(s, d))),
        "ngram_jaccard_pairs": lambda s, d: tp.ngram_jaccard_pairs(
            _docs(s, d)),
        "dedup_components": lambda s, d: components.dedup_components(
            _docs(s, d)),
        "dedup_keep_best": lambda s, d: components.dedup_keep_best(
            _docs(s, d)),
        "train_split": lambda s, d: tp.train_split(_docs(s, d)),
        "simhash32": lambda s, d: tp.simhash32(_docs(s, d)),
        # text analysis
        "quality_scores": lambda s, d: tp.quality_scores(_docs(s, d)),
        "lang_id": lambda s, d: tp.lang_id(_docs(s, d)),
        "token_counts": lambda s, d: tp.token_counts(_docs(s, d)),
        "doc_fingerprints": lambda s, d: tp.doc_fingerprints(_docs(s, d)),
        # event stream (batch twins of the streaming plans)
        "events_windowed": _events_windowed,
        "events_sessionized": _events_sessionized,
        # similarity search
        "embedding_norms": lambda s, d: ann.l2_norms(_emb(s, d)),
        "ann_cosine_topk": lambda s, d: ann.cosine_topk(
            _emb(s, d), PROBE_IDS, k=10),
        "ann_ivf_topk": lambda s, d: ann.ivf_topk(_emb(s, d), PROBE_IDS, k=5),
        "kmeans_centroids": lambda s, d: ann.kmeans_centroids(
            _emb(s, d), k=8, n_iter=3),
        "embedding_neardup_pairs": lambda s, d: ann.neardup_pairs(
            _emb(s, d), threshold=0.4, n_cells=8, n_iter=3),
        "ann_ivf_trained": lambda s, d: ann.ivf_trained_topk(
            _emb(s, d), PROBE_IDS, k=5, n_cells=8, n_iter=3),
        # maintenance lifecycle (upsert → delete_where → compact)
        "maintenance_lifecycle": _maintenance_lifecycle,
        # incremental ingest lifecycle (append → forceMerge)
        "append_optimize_lifecycle": _append_optimize_lifecycle,
        # full engine (WAND kernel; rows-only) + its relational referee
        "wand_topk": _wand_topk,
        "wand_consistency": _wand_consistency,
        "syntax_consistency": _syntax_consistency,
        "multimodal_features": _multimodal_features,
    }
    return q


def oracle_sql() -> dict[str, str]:
    batch_vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in BATCH_QUERIES.items() for t in ts
    )
    probe_sql = ", ".join(str(p) for p in PROBE_IDS)
    return {
        "tokenize_tf": f"WITH {TOK_CTE} SELECT doc_id, term, "
                       "CAST(count(*) AS BIGINT) AS tf FROM tok "
                       "GROUP BY doc_id, term",
        "term_stats": f"WITH {TOK_CTE} SELECT term, "
                      "CAST(count(*) AS BIGINT) AS df, "
                      "CAST(sum(tf) AS BIGINT) AS cf "
                      "FROM tf GROUP BY term",
        "doc_token_stats": f"""
WITH {TOK_CTE}
SELECT d.doc_id,
       CAST(coalesce(t.n, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(t.nd, 0) AS BIGINT) AS n_distinct
FROM documents d
LEFT JOIN (SELECT doc_id, count(*) AS n, count(DISTINCT term) AS nd
           FROM tok GROUP BY doc_id) t USING (doc_id)""",
        "corpus_stats": f"""
WITH {TOK_CTE}, {LENS_CTE}
SELECT CAST(count(*) AS BIGINT) AS doc_count,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_tokens) AS DOUBLE)/count(*) AS avg_len
FROM lens""",
        "bm25_and_topk": _bm25_sql(AND_TERMS, True, 10),
        "bm25_or_topk": _bm25_sql(OR_TERMS, False, 10),
        "bm25_andnot_topk": _bm25_andnot_sql(
            ANDNOT_TERMS, ANDNOT_EXCLUDE, 10),
        "bm25_prefix_topk": _bm25_prefix_sql(PREFIX_Q, 10),
        "batch_topk": f"""
WITH {TOK_CTE}, {LENS_CTE},
fan AS (SELECT * FROM (VALUES {batch_vals}) AS v(query_id, term)),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf JOIN (SELECT DISTINCT term FROM fan) q USING (term)
        GROUP BY term),
s AS (
  SELECT fan.query_id, tf.doc_id,
         round(sum((ln(CAST(g.n_docs AS DOUBLE)/(dfq.df + 1)) + 1.0)
             * tf.tf * 2.2
             / (tf.tf + 1.2*(0.25 + 0.75*lens.n_tokens/g.avg_len))), 6)
         AS score
  FROM tf JOIN fan USING (term) JOIN dfq USING (term)
       JOIN lens USING (doc_id) CROSS JOIN g
  GROUP BY fan.query_id, tf.doc_id
),
r AS (SELECT CAST(query_id AS INTEGER) AS query_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id)
                  AS INTEGER) AS rank,
             doc_id, score FROM s)
SELECT query_id, rank, doc_id, score FROM r WHERE rank <= 5""",
        "resolve_edges": f"WITH {TOK_CTE}, {_edges_sql()} "
                         "SELECT src, dst FROM edges",
        "pagerank_5iter": _pagerank_sql(5),
        "dedup_exact": """
SELECT doc_id, md5(text) AS content_hash,
       doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
FROM documents""",
        "minhash_signatures": f"WITH {SHINGLE_CTE}, {SIG_CTE} "
                              "SELECT doc_id, seed, mh FROM sig",
        "lsh_candidate_pairs": f"""
WITH {SHINGLE_CTE}, {SIG_CTE},
bands AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS band_key
  FROM sig GROUP BY doc_id, seed // 4
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bands x JOIN bands y
     ON x.band = y.band AND x.band_key = y.band_key
WHERE x.doc_id < y.doc_id""",
        "dedup_components": f"""
WITH RECURSIVE {SHINGLE_CTE}, {SIG_CTE}, {COMP_CTES}
SELECT doc_id, component,
       CAST(doc_id = component AS INTEGER) AS is_canonical
FROM labels""",
        "dedup_keep_best": f"""
WITH RECURSIVE {SHINGLE_CTE}, {SIG_CTE}, {COMP_CTES},
qm AS (
  SELECT doc_id,
         round(0.5*alpha + 0.3*least(1.0, n_raw/100.0)
               + 0.2*(1.0 - abs(CAST(n_raw - n_filtered AS DOUBLE)
                                / greatest(n_raw, 1) - 0.3)), 6)
         AS quality
  FROM (
    SELECT doc_id,
           len(list_filter(raw, t -> length(t) >= 2
               AND NOT list_contains({STOP_LIST_SQL}, t))) AS n_filtered,
           len(raw) AS n_raw,
           CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                AS DOUBLE) / greatest(length(text), 1) AS alpha
    FROM (SELECT doc_id, text,
                 regexp_extract_all(lower(text), '{TOKEN_RE}') AS raw
          FROM documents))
)
SELECT l.doc_id, l.component,
       CAST(row_number() OVER (PARTITION BY l.component
                               ORDER BY qm.quality DESC, l.doc_id)
            = 1 AS INTEGER) AS keep
FROM labels l JOIN qm ON qm.doc_id = l.doc_id""",
        "train_split": """
SELECT doc_id,
       CASE WHEN u < 0.9 THEN 'train'
            WHEN u < 0.95 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             ('0x' || substr(md5(doc_id || ':v1'), 1, 8))::BIGINT
             / 4294967296.0 AS u
      FROM documents)""",
        "ngram_jaccard_pairs": f"""
WITH {SHINGLE_CTE},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
          FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS n_inter
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT a, b,
       round(CAST(n_inter AS DOUBLE)/(sa.n_sh + sb.n_sh - n_inter), 6)
       AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
ORDER BY jaccard DESC, a, b LIMIT 20""",
        "simhash32": f"""
WITH {TOK_CTE},
bits AS (
  SELECT doc_id, tf,
         ('0x' || substr(md5(term), 1, 8))::BIGINT AS h,
         CAST(b.b AS BIGINT) AS b
  FROM tf CROSS JOIN unnest(range(0, 32)) AS b(b)
),
s AS (
  SELECT doc_id, b,
         sum(tf * (2*(CAST(floor(h/power(2, b)) AS BIGINT) % 2) - 1)) AS s
  FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY doc_id""",
        "quality_scores": f"""
WITH base AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '{TOKEN_RE}') AS raw
  FROM documents
),
m AS (
  SELECT doc_id,
         len(list_filter(raw, t -> length(t) >= 2
             AND NOT list_contains({STOP_LIST_SQL}, t))) AS n_filtered,
         len(raw) AS n_raw,
         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
              AS DOUBLE) / greatest(length(text), 1) AS alpha
  FROM base
)
SELECT doc_id,
       CAST(n_filtered AS INTEGER) AS n_tokens,
       round(alpha, 6) AS alpha_ratio,
       round(CAST(n_raw - n_filtered AS DOUBLE)/greatest(n_raw, 1), 6)
         AS stop_ratio,
       round(0.5*alpha
             + 0.3*least(1.0, n_raw/100.0)
             + 0.2*(1.0 - abs(CAST(n_raw - n_filtered AS DOUBLE)
                              / greatest(n_raw, 1) - 0.3)), 6) AS quality
FROM m""",
        "lang_id": f"""
WITH base AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '{TOKEN_RE}') AS raw
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(list_filter(raw,
              t -> list_contains({STOP_LIST_SQL}, t))) AS DOUBLE)
           / greatest(len(raw), 1) AS ratio
  FROM base
)
SELECT doc_id, round(ratio, 6) AS stop_hit_ratio,
       CASE WHEN ratio >= 0.08 THEN 'en' ELSE 'und' END AS lang_pred
FROM m""",
        "token_counts": rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_RE}')) AS INTEGER)
         AS bpeish_tokens,
       CAST(len(list_filter(
                regexp_extract_all(lower(text), '{TOKEN_RE}'),
                t -> length(t) >= 2
                     AND NOT list_contains({STOP_LIST_SQL}, t)))
            AS INTEGER) AS analyzer_tokens
FROM documents""",
        "doc_fingerprints": f"""
SELECT doc_id,
       md5(array_to_string(
             list_transform(range(1, len(arr) + 1, 8), i -> arr[i]), ' '))
         AS fingerprint
FROM (SELECT doc_id,
             regexp_extract_all(lower(text), '{TOKEN_RE}') AS arr
      FROM documents)""",
        "embedding_norms": """
SELECT vec_id, round(sqrt(s), 6) AS norm
FROM (SELECT e.vec_id,
             sum(CAST(e.embedding[t.i] AS DOUBLE)*e.embedding[t.i]) AS s
      FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) AS t(i)
      GROUP BY e.vec_id)""",
        "ann_cosine_topk": f"""
WITH pairs AS (
  SELECT q.vec_id AS qid, d.vec_id AS vec_id,
         sum(CAST(q.embedding[t.i] AS DOUBLE)*d.embedding[t.i]) AS dot,
         sum(CAST(q.embedding[t.i] AS DOUBLE)*q.embedding[t.i]) AS qn,
         sum(CAST(d.embedding[t.i] AS DOUBLE)*d.embedding[t.i]) AS dn
  FROM embeddings q JOIN embeddings d ON d.vec_id != q.vec_id,
       unnest(range(1, len(q.embedding) + 1)) AS t(i)
  WHERE q.vec_id IN ({probe_sql})
  GROUP BY q.vec_id, d.vec_id
),
c AS (SELECT qid, vec_id, round(dot/sqrt(qn*dn), 6) AS cos FROM pairs),
r AS (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY cos DESC, vec_id)
                  AS INTEGER) AS rank FROM c)
SELECT qid, rank, vec_id, cos FROM r WHERE rank <= 10""",
        "ann_ivf_topk": f"""
WITH pairs AS (
  SELECT q.vec_id AS qid, d.vec_id AS vec_id,
         sum(CAST(q.embedding[t.i] AS DOUBLE)*d.embedding[t.i]) AS dot,
         sum(CAST(q.embedding[t.i] AS DOUBLE)*q.embedding[t.i]) AS qn,
         sum(CAST(d.embedding[t.i] AS DOUBLE)*d.embedding[t.i]) AS dn
  FROM embeddings q
  JOIN embeddings d ON d.vec_id != q.vec_id AND d.label = q.label,
       unnest(range(1, len(q.embedding) + 1)) AS t(i)
  WHERE q.vec_id IN ({probe_sql})
  GROUP BY q.vec_id, d.vec_id
),
c AS (SELECT qid, vec_id, round(dot/sqrt(qn*dn), 6) AS cos FROM pairs),
r AS (SELECT qid, vec_id, cos,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY cos DESC, vec_id)
                  AS INTEGER) AS rank FROM c)
SELECT qid, rank, vec_id, cos FROM r WHERE rank <= 5""",
        "kmeans_centroids": _kmeans_centroids_sql(),
        "embedding_neardup_pairs": _neardup_sql(0.4),
        "ann_ivf_trained": _ivf_trained_sql(5),
        "multimodal_features": MULTIMODAL_SQL,
        "events_windowed": EVENTS_WINDOWED_SQL,
        "events_sessionized": EVENTS_SESSIONIZED_SQL,
        # Engine lifecycle: survivors of upsert(%5) → delete(%7==3) →
        # compact, with per-doc serving-revision flag — derivable
        # arithmetically from the raw input.  The index holds en
        # non-redirect docs only (docs_from_pages build filters).
        "maintenance_lifecycle": """
SELECT doc_id,
       CAST(doc_id % 5 = 0 AS INTEGER) AS is_updated
FROM documents
WHERE lang = 'en'
  AND NOT coalesce(text, '') LIKE '#REDIRECT%'
  AND doc_id % 7 <> 3
ORDER BY doc_id""",
        # Ingest lifecycle: base corpus + appended x_ delta (%3==1),
        # read back post-forceMerge.
        "append_optimize_lifecycle": """
WITH base AS (
  SELECT doc_id FROM documents
  WHERE lang = 'en' AND NOT coalesce(text, '') LIKE '#REDIRECT%'
)
SELECT doc_id, 0 AS batch FROM base
UNION ALL
SELECT doc_id, 1 AS batch FROM base WHERE doc_id % 3 = 1
ORDER BY doc_id, batch""",
        # wand_topk: rows-only (WAND + Porter stemming are not
        # ANSI-SQL-expressible); cross-checked by wand_consistency.
    }
