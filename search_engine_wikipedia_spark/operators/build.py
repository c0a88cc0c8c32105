"""Distributed inverted-index build (SPIMI → salted merge → stats).

Pipeline (each stage is a committed catalog table; SURVEY.md §3.1):

  pages ──filter S2/S3──► docs (clean T1 + links T2, dense doc_ids)
        ──tokenize A2/A3, map-side tf,
          groupBy(term,field,seg) encode──► postings_seg   [SPIMI]
        ──groupBy(term,field,shard) re-encode──► postings  [salted]
        ──Σ cf per field, doc count──► field_stats

Reference analogue: ``writer(limitmb=2048, procs=4, multisegment=True)``
(``indexing/index.py:120``) builds per-process segments straight from
the analyzer with no global merge; our build DOES the global merge
(north_rule) and handles head-term skew *by construction*: a term whose
global df exceeds ``shard_size`` is merged into multiple doc-range
shards, one per salted reduce group, so no single reduce task ever sees
more than ``~shard_size`` postings.  Per-segment lineage rows make the
segment phase resumable (re-run only missing segments, tokenizing only
their docs).

Every re-encode of existing blobs — the merge, ``ingest.compact``
dropping dead docs and ``ingest.optimize_segments`` regrouping
segments — runs one decode→encode kernel (``reencode``), which refuses
a group whose doc ids are not strictly ascending.

Scale notes (the 100 TB story):
* the only wide exchanges are (1) the dense-id range partition,
  (2) groupBy(term,field,seg_id) and (3) groupBy(term,field,salt) —
  all keyed fine-grained, skew-free by construction;
* tf is combined map-side inside the tokenizer UDF (one row per
  (doc,term), not per token occurrence) before shuffle (2);
* all per-row text work is Arrow-batched pandas — no per-row Python.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..functions import codec
from ..functions.textproc import (
    analyze_text,
    analyze_title,
    clean_wikitext_series,
    extract_links_series,
)
from ..sources import catalog

TEXT_FIELD, TITLE_FIELD = "text", "title"


# ---------------------------------------------------------------------------
# Stage 1 — docs: filters, title derivation, clean text, links, dense ids
# ---------------------------------------------------------------------------
def docs_from_pages(pages: DataFrame, lang: str = "en") -> DataFrame:
    """pages → (url, title, clean_text, links).

    Filters mirror the reference scan guards: language filter (namespace
    filter analogue, saxReader.py:113-114) and the ``#REDIRECT`` drop
    (saxReader.py:120-123).  Both are native Spark predicates — pushed
    to the parquet/Iceberg scan by Catalyst, ahead of the pandas UDFs.
    """
    n_parts = int(pages.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    filtered = (
        pages
        .where(F.col("lang") == lang)
        .where(~F.coalesce(F.col("text"), F.lit("")).startswith("#REDIRECT"))
        # title ≙ last path segment, '_' → ' ' (searcher.py:27,112 inverse)
        .withColumn(
            "title",
            F.regexp_replace(
                F.element_at(F.split(F.col("url"), "/"), -1), "_", " "
            ),
        )
        .dropDuplicates(["url"])
        # Range-partition + sort by url BEFORE the pandas kernels, for two
        # reasons: (1) AQE byte-coalescing would serialize the CPU-heavy
        # clean/extract UDFs (regex cost is invisible to byte-based
        # coalescing) — an explicit partition count is never coalesced;
        # (2) RangePartitioner's sampling pass scans its child plan, so
        # sampling must run on the cheap pre-UDF plan — this ordering
        # also lets assign_doc_ids skip its own range exchange
        # (pre_ranged) instead of running the cleaner twice.
        .repartitionByRange(n_parts, F.col("url"))
        .sortWithinPartitions("url")
    )

    def derive(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = pd.DataFrame({
                "url": pdf["url"],
                "title": pdf["title"],
                "clean_text": clean_wikitext_series(pdf["text"]),
                "links": extract_links_series(pdf["text"], pdf["title"]),
            })
            yield out

    return filtered.select("url", "title", "text").mapInPandas(
        derive,
        schema="url string, title string, clean_text string, links array<string>",
    )


def assign_doc_ids(df: DataFrame, key: str = "url", n_parts: int | None = None,
                   pre_ranged: bool = False, start: int = 0) -> DataFrame:
    """Deterministic dense doc_id = ``start`` + rank of ``key`` in global
    sort order.

    Scalable two-pass dense rank (NO single-task window): range-partition
    by key, count per partition, broadcast the offsets, then number rows
    within each sorted partition.  Deterministic for a given input set
    regardless of parallelism.  ``pre_ranged`` skips the range exchange
    when the input is already range-partitioned + sorted on ``key``
    (docs_from_pages) — avoids re-running its UDFs for the sampling pass.
    ``start`` lets incremental ingest continue numbering after the
    base corpus (ids stay int64 end-to-end — numpy arange dtype below).
    """
    spark = df.sparkSession
    n_parts = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    parted = df if pre_ranged else (
        df.repartitionByRange(n_parts, F.col(key)).sortWithinPartitions(key)
    )
    parted = parted.cache()
    counts = (
        parted.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid").count().collect()
    )
    sizes = {int(r["pid"]): int(r["count"]) for r in counts}
    offsets = {}
    acc = int(start)
    for pid in range(n_parts):
        offsets[pid] = acc
        acc += sizes.get(pid, 0)
    b_offsets = spark.sparkContext.broadcast(offsets)

    out_schema = "doc_id long, " + ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def number(batches: Iterable[pd.DataFrame]):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        nxt = b_offsets.value[pid]
        for pdf in batches:
            ids = np.arange(nxt, nxt + len(pdf), dtype=np.int64)
            nxt += len(pdf)
            pdf = pdf.copy()
            pdf.insert(0, "doc_id", ids)
            yield pdf

    numbered = parted.mapInPandas(number, schema=out_schema)
    # the cache exists so the count pass and the numbering pass share
    # one run of the upstream UDFs; expose it so the caller can release
    # it once the numbered output is materialized (at 100 TB a cached
    # cleaned corpus held for the session is real memory pressure).
    numbered._sewiki_cached = parted
    return numbered


# ---------------------------------------------------------------------------
# Stage 2 — term frequencies (I1: the partial, map-side tf aggregation)
# ---------------------------------------------------------------------------
def segment_of(n_segments: int, n_docs: int):
    """A doc's segment: the range bucket of its doc_id.  Doc ranges are
    contiguous per segment, which later lets merged shards stay
    doc-sorted by construction."""
    return F.least(
        F.lit(n_segments - 1),
        (F.col("doc_id") * n_segments / F.lit(n_docs)).cast("int"),
    )


def term_freqs(docs: DataFrame, text_analyzer=analyze_text,
               title_analyzer=analyze_title) -> DataFrame:
    """docs → (term, field, doc_id, tf, fl).

    Tokenization (default A3/A2; any ``functions.textproc.ANALYZERS``
    entry — A1/A4/A5 — can be swapped in per field) and the
    per-document tf count happen inside one Arrow batch — the shuffle
    that follows carries one row per unique (doc, term), not per token
    occurrence (map-side combine).
    """

    def emit(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            frames = []
            for field, col, analyzer in (
                (TEXT_FIELD, "clean_text", text_analyzer),
                (TITLE_FIELD, "title", title_analyzer),
            ):
                toks = pdf[col].map(lambda s: analyzer(s) if s is not None else [])
                fl = toks.map(len).astype("int32")
                tmp = pd.DataFrame({
                    "doc_id": pdf["doc_id"],
                    "fl": fl,
                    "term": toks,
                })
                tmp = tmp.explode("term")
                tmp = tmp[tmp["term"].notna()]
                if len(tmp) == 0:
                    continue
                g = (
                    tmp.groupby(["doc_id", "fl", "term"], sort=False)
                    .size().rename("tf").reset_index()
                )
                g["field"] = field
                frames.append(g)
            if frames:
                out = pd.concat(frames, ignore_index=True)
                yield pd.DataFrame({
                    "term": out["term"].astype(str),
                    "field": out["field"],
                    "doc_id": out["doc_id"].astype("int64"),
                    "tf": out["tf"].astype("int32"),
                    "fl": out["fl"].astype("int32"),
                })

    return docs.select("doc_id", "title", "clean_text").mapInPandas(
        emit, schema=schemas.TERM_FREQS
    )


def field_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """Global per-field stats of a postings table: total_len, doc_count,
    avg_len, one row per field whether or not it holds a posting.

    BM25 semantics (Whoosh ``avg_field_length``): avg = total field
    tokens / doc_count_all — computed GLOBALLY, before any scoring.
    ``fl`` is a field's token count and ``tf`` counts each of those
    tokens once, so a field's Σ ``cf`` over its postings is its total
    length.  ``n_docs`` is the caller's doc count: under a table
    catalog there are no snapshot footers to count from.
    """
    totals = {r["field"]: int(r["t"]) for r in postings.groupBy("field")
              .agg(F.sum("cf").alias("t")).collect()}
    rows = [
        {"field": f, "total_len": totals.get(f, 0), "doc_count": n_docs,
         "avg_len": totals.get(f, 0) / max(1, n_docs)}
        for f in (TEXT_FIELD, TITLE_FIELD)
    ]
    return postings.sparkSession.createDataFrame(rows,
                                                 schema=schemas.FIELD_STATS)


# ---------------------------------------------------------------------------
# Stage 3 — SPIMI segments: repartition(keys) → sortWithinPartitions →
# streaming mapInPandas batch-encode.
#
# NOT groupBy().applyInPandas: grouped-map pays ~1-3 ms of Arrow/pandas
# machinery per group, which dominates under a Zipf vocabulary (millions
# of short posting lists).  Instead each partition is hash-repartitioned
# on the grouping keys (a user-specified exchange AQE never coalesces —
# byte-based coalescing would serialize the Python stage), sorted by
# (keys, doc_id) with Tungsten's spill-safe sort, and streamed through a
# mapInPandas kernel that encodes EVERY group in an Arrow batch with one
# vectorized numpy pass (codec.encode_groups).  A group that spans batch
# boundaries is carried over; memory is bounded by batch size + the
# largest single group (≤ shard_size by construction after salting).
# ---------------------------------------------------------------------------
def _stream_group_chunks(batches, key_cols):
    """Yield chunks of rows whose trailing group is complete.

    Input batches must be sorted by ``key_cols`` (then finer keys)
    within the partition.  The possibly-incomplete tail group of each
    batch is withheld and prepended to the next.
    """
    carry = None
    for pdf in batches:
        if carry is not None and len(carry):
            pdf = pd.concat([carry, pdf], ignore_index=True)
        n = len(pdf)
        if n == 0:
            continue
        mask = np.ones(n, dtype=bool)
        for c in key_cols:
            col = pdf[c].to_numpy()
            mask &= col == col[n - 1]
        tail = int(mask.sum())  # rows of the final group (contiguous)
        if tail == n:
            carry = pdf
            continue
        carry = pdf.iloc[n - tail:]
        yield pdf.iloc[: n - tail]
    if carry is not None and len(carry):
        yield carry


def _group_starts(pdf: pd.DataFrame, key_cols) -> np.ndarray:
    n = len(pdf)
    changes = np.zeros(n, dtype=bool)
    changes[0] = True
    for c in key_cols:
        col = pdf[c].to_numpy()
        changes[1:] |= col[1:] != col[:-1]
    return np.flatnonzero(changes).astype(np.int64)


SEG_KEYS = ("term", "field", "seg_id")


def _posting_body(doc, tfs, fls, starts) -> dict:
    """The posting-body columns (``schemas._POSTING_BODY``, in order) of
    the posting groups that begin at ``starts``; doc ids ascend within
    each group."""
    tfs = np.asarray(tfs, dtype=np.int64)
    (d_b, t_b, f_b, bl, bmt, bmf, d_o, t_o, f_o) = codec.encode_groups(
        np.asarray(doc, dtype=np.uint64), tfs.astype(np.uint64),
        np.asarray(fls, dtype=np.uint64), starts)
    return {
        "df": np.diff(np.append(starts, len(doc))).astype("int32"),
        "cf": np.add.reduceat(tfs, starts).astype("int64"),
        "doc_ids": d_b, "tfs": t_b, "fls": f_b,
        "block_last": bl, "block_max_tf": bmt, "block_min_fl": bmf,
        "block_doc_off": d_o, "block_tf_off": t_o, "block_fl_off": f_o,
    }


def build_segments(tf: DataFrame) -> DataFrame:
    """Encode one posting blob per (term, field, seg_id) of tokenizer
    rows (``term_freqs`` output with a ``seg_id``)."""
    n_parts = int(tf.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def encode_stream(batches):
        for chunk in _stream_group_chunks(batches, SEG_KEYS):
            starts = _group_starts(chunk, SEG_KEYS)
            yield pd.DataFrame({
                "term": chunk["term"].to_numpy()[starts],
                "field": chunk["field"].to_numpy()[starts],
                "seg_id": chunk["seg_id"].to_numpy()[starts].astype("int32"),
                **_posting_body(chunk["doc_id"].to_numpy(),
                                chunk["tf"].to_numpy(),
                                chunk["fl"].to_numpy(), starts),
            })

    return (
        tf.repartition(n_parts, *SEG_KEYS)
        .sortWithinPartitions(*SEG_KEYS, "doc_id")
        .mapInPandas(encode_stream, schema=schemas.POSTINGS_SEG)
    )


def reencode(chunk: pd.DataFrame, keys, dead=None):
    """Decode the posting blobs of ``chunk`` — rows sorted by ``keys``,
    then by seg_id — and encode one blob per group of equal ``keys``:
    the one decode→encode kernel of the merge, ``compact`` and
    ``optimize_segments``.  The postings of the doc ids in ``dead`` are
    dropped, and a group left with none is dropped.

    Returns the chunk row of each output group's first input row and
    the groups' posting-body columns.  Raises ValueError on a group
    whose doc ids are not strictly ascending: the segments must hold
    disjoint doc ranges, ascending in seg_id.
    """
    rstarts = _group_starts(chunk, keys)
    dfs = chunk["df"].to_numpy().astype(np.int64)
    doc, tfs, fls = codec.decode_concat(
        list(chunk["doc_ids"]), list(chunk["tfs"]), list(chunk["fls"]), dfs)
    rows = np.diff(np.append(rstarts, len(chunk)))
    gid = np.repeat(np.repeat(np.arange(rstarts.size), rows), dfs)
    if dead is not None:
        keep = ~np.isin(doc, dead)
        doc, tfs, fls, gid = doc[keep], tfs[keep], fls[keep], gid[keep]
    opens = np.ones(doc.size, dtype=bool)  # a posting opens its group
    opens[1:] = gid[1:] != gid[:-1]
    bad = np.flatnonzero(~opens[1:] & (doc[1:] <= doc[:-1]))
    if bad.size:
        row = rstarts[gid[bad[0]]]
        raise ValueError(
            f"doc ids of group {[chunk[k].iloc[row] for k in keys]} are "
            f"not strictly ascending (doc {doc[bad[0] + 1]} after "
            f"{doc[bad[0]]}): segment doc ranges overlap or are out of "
            f"seg_id order; rebuild the index")
    starts = np.flatnonzero(opens)
    return rstarts[gid[starts]], _posting_body(doc, tfs, fls, starts)


def reencode_segments(seg: DataFrame, new_seg=None, dead=None) -> DataFrame:
    """Re-encode ``postings_seg`` rows through ``reencode``: one blob
    per (term, field, ``new_seg``) — a Column over ``seg_id``, default
    the row's own, with which ``optimize_segments`` maps consecutive
    segments onto one — without the postings of the doc ids in the
    driver array ``dead`` (``compact``), which reaches the tasks as a
    broadcast, not as a literal in the plan."""
    spark = seg.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dead_b = None if dead is None else spark.sparkContext.broadcast(dead)
    keys = ("term", "field", "_to")

    def stream(batches):
        drop = None if dead_b is None else dead_b.value
        for chunk in _stream_group_chunks(batches, keys):
            first, body = reencode(chunk, keys, drop)
            if not first.size:  # every posting of the chunk died
                continue
            yield pd.DataFrame({
                "term": chunk["term"].to_numpy()[first],
                "field": chunk["field"].to_numpy()[first],
                "seg_id": chunk["_to"].to_numpy()[first].astype("int32"),
                **body,
            })

    return (
        seg.withColumn("_to", F.col("seg_id") if new_seg is None else new_seg)
        .repartition(n_parts, *keys)
        .sortWithinPartitions(*keys, "seg_id")
        .mapInPandas(stream, schema=schemas.POSTINGS_SEG)
    )


# ---------------------------------------------------------------------------
# Stage 4 — global merge with explicit head-term salting → sharded postings
# ---------------------------------------------------------------------------
def merge_segments(
    postings_seg: DataFrame,
    root: str,
    n_segments: int,
    max_shards: int = 64,
) -> DataFrame:
    """postings_seg → globally merged, doc-range-sharded postings with
    their ``tbucket``, under the shard size and tbucket count recorded
    for the index at ``root``.

    Skew handling (north_rule): global df per (term, field) is computed
    first; a head term with df > shard_size gets S = ceil(df/shard_size)
    (≤ max_shards, ≤ n_segments) salted reduce groups.  Salt =
    seg_id·S/n_segments is *monotone in seg_id* and segments hold
    contiguous doc ranges, so each salted group merges a contiguous,
    disjoint doc range — the group output IS the final shard, no second
    shuffle or concat pass needed.
    """
    meta = catalog.read_schema_meta(root)
    shard_size = meta["shard_size"]
    totals = postings_seg.groupBy("term", "field").agg(
        F.sum("df").cast("int").alias("term_df"),
        F.sum("cf").cast("long").alias("term_cf"),
    )
    seg = postings_seg.join(totals, ["term", "field"])
    n_shards = F.least(
        F.lit(max_shards),
        F.lit(n_segments),
        F.greatest(F.lit(1), F.ceil(F.col("term_df") / F.lit(shard_size))),
    ).cast("int")
    seg = seg.withColumn("n_shards", n_shards).withColumn(
        "shard_id",
        (F.col("seg_id").cast("long") * F.col("n_shards") / F.lit(n_segments))
        .cast("int"),
    )

    MERGE_KEYS = ("term", "field", "shard_id")

    def merge_stream(batches):
        for chunk in _stream_group_chunks(batches, MERGE_KEYS):
            # the merge drops nothing: one output group per input group
            first, body = reencode(chunk, MERGE_KEYS)
            segs = chunk["seg_id"].to_numpy()
            ends = np.append(first[1:], len(chunk))
            yield pd.DataFrame({
                "term": chunk["term"].to_numpy()[first],
                "field": chunk["field"].to_numpy()[first],
                "shard_id": chunk["shard_id"].to_numpy()[first]
                .astype("int32"),
                "n_shards": chunk["n_shards"].to_numpy()[first]
                .astype("int32"),
                "term_df": chunk["term_df"].to_numpy()[first]
                .astype("int32"),
                "term_cf": chunk["term_cf"].to_numpy()[first]
                .astype("int64"),
                **body,
                "src_segs": [[int(s) for s in segs[a:b]]
                             for a, b in zip(first, ends)],
            })

    n_parts = int(seg.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        seg.repartition(n_parts, "term", "field", "shard_id")
        .sortWithinPartitions("term", "field", "shard_id", "seg_id")
        .mapInPandas(merge_stream, schema=schemas.POSTINGS)
        .withColumn("tbucket", tbucket_col(meta["n_term_buckets"]))
    )


N_TERM_BUCKETS = 32  # term partition count; 4096 on a 100 TB deployment


def tbucket_col(n_buckets: int):
    """Hidden-partitioning analogue: tbucket = xxhash64(term) mod N.

    The postings table is written partitioned by tbucket so a query
    touches only |query terms| partitions (partition pruning on the
    scan) — the parquet stand-in for Iceberg's bucket(term).  The one
    bucket function of every writer; the query path computes the same
    hash driver-side (``functions.hashing.term_bucket``).
    """
    return F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")


def merge_postings_stage(spark: SparkSession, root: str,
                         n_segments_total: int) -> None:
    """The global-merge stage as a standalone step: read all committed
    segments, merge with salting, bucket by term, write one file per
    bucket, record counted lineage.  Shared by ``IndexBuilder.build``
    and the incremental ``ingest.remerge`` so the two paths can't
    drift."""
    from pyspark.sql import Observation

    seg = catalog.read_table(spark, root, "postings_seg")
    n_buckets = catalog.read_schema_meta(root)["n_term_buckets"]
    # one file per term bucket (not tasks × buckets)
    merged = merge_segments(seg, root, n_segments_total).repartition(
        n_buckets, "tbucket")
    obs = Observation()
    merged = merged.observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("df").alias("p")
    )
    catalog.write_table(merged, root, "postings", partition_by=["tbucket"])
    m = obs.get
    catalog.append_lineage(spark, root, [{
        "stage": "postings",
        "n_terms": int(m["n"]),
        "n_docs": int(m["p"] or 0),
    }])


# ---------------------------------------------------------------------------
# Orchestration: build / resume
# ---------------------------------------------------------------------------
class IndexBuilder:
    """End-to-end build with per-stage commit + per-segment resume.

    Reference analogue: ``WikiIndex.openOrBuild`` (index.py:65-84) /
    ``build`` (index.py:87-153).  ``metrics`` collects per-stage
    wall-clock and docs/sec, mirroring the timing prints at
    index.py:122-146.
    """

    STAGES = ("docs", "postings_seg", "postings", "field_stats")

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        n_segments: int = 8,
        shard_size: int = 1_000_000,
        segment_batches: int = 1,
        n_term_buckets: int = N_TERM_BUCKETS,
        text_analyzer: str = "text",
        title_analyzer: str = "title",
    ):
        from ..functions.textproc import ANALYZERS

        self.spark = spark
        self.index_dir = index_dir
        self.n_segments = n_segments
        self.segment_batches = segment_batches
        # schema analyzer selection (reference index.py:38-39 defaults;
        # A1/A4/A5 from functions.textproc.ANALYZERS also accepted)
        self.text_analyzer = ANALYZERS[text_analyzer]
        self.title_analyzer = ANALYZERS[title_analyzer]
        # every output-shaping setting, recorded in _SCHEMA.json at build
        # (catalog.SETTINGS): the query path and maintenance read these
        # back instead of taking them as arguments
        self.settings = {
            "text_analyzer": text_analyzer,
            "title_analyzer": title_analyzer,
            "n_term_buckets": n_term_buckets,
            "n_segments": n_segments,
            "shard_size": shard_size,
        }
        self.metrics: dict[str, float] = {}

    # -- individual stages ---------------------------------------------------
    def _timed(self, name, fn):
        import time as _t

        t0 = _t.perf_counter()
        out = fn()
        self.metrics[name] = _t.perf_counter() - t0
        return out

    def _prepare_root(self, resume: bool) -> None:
        """Record the settings of a fresh build, or check a resumed
        build's settings against the record and sweep the files no
        snapshot lists (a crashed stage's output).  ``resume=False``
        empties the index directory first: tombstones, pagerank and
        lineage of an older index over the same root hold doc_ids of
        another corpus, and every stage check below trusts the
        snapshot."""
        import os
        import shutil

        root = self.index_dir
        recorded = catalog.read_schema_meta_or_none(root)
        if not resume and os.path.isdir(root) and os.listdir(root):
            if recorded is None:
                # a mistyped path must not cost unrelated files
                raise ValueError(
                    f"{root} is not empty and holds no "
                    f"{catalog.SCHEMA_META_NAME}; refusing to empty it "
                    f"for a fresh build"
                )
            shutil.rmtree(root)
            recorded = None
        if recorded is None:
            catalog.write_schema_meta(root, self.settings)
            return
        prior = {k: recorded.get(k) for k in self.settings}
        if prior != self.settings:
            # a resume with DIFFERENT settings would finish the index
            # with stages that disagree (a segment split, a shard
            # layout, an analyzer chain the committed stages lack)
            raise ValueError(
                f"index at {root} was built with {prior}, but this "
                f"build requests {self.settings}; pass resume=False to "
                f"rebuild"
            )
        catalog.sweep(root)

    def build(self, pages: DataFrame, resume: bool = True) -> None:
        root = self.index_dir
        spark = self.spark
        self._prepare_root(resume)

        n_docs = None
        if not catalog.table_exists(root, "docs"):
            def _docs():
                from pyspark.sql import Observation

                numbered = assign_doc_ids(docs_from_pages(pages),
                                          pre_ranged=True)
                obs = Observation("docs_n")
                docs = numbered.observe(obs, F.count(F.lit(1)).alias("n"))
                catalog.write_table(docs, root, "docs")
                # docs table is on disk — release the cached cleaned
                # corpus (getattr-guarded: the handle rides on exactly
                # the object assign_doc_ids returned)
                cached = getattr(numbered, "_sewiki_cached", None)
                if cached is not None:
                    cached.unpersist()
                n = int(obs.get["n"])  # counted during the write job
                catalog.append_lineage(spark, root, [
                    {"stage": "docs", "n_docs": n}
                ])
                return n
            n_docs = self._timed("docs", _docs)

        docs = catalog.read_table(spark, root, "docs")
        if n_docs is None:
            n_docs = docs.count()
        self.n_docs = n_docs

        if not catalog.table_exists(root, "postings"):
            self._build_segments_resumable(docs)
            self._timed("postings", lambda: merge_postings_stage(
                spark, root, self.n_segments))

        if not catalog.table_exists(root, "field_stats"):
            def _fs():
                fs = field_stats(catalog.read_table(spark, root, "postings"),
                                 n_docs)
                catalog.write_table(fs, root, "field_stats")
            self._timed("field_stats", _fs)

    def _build_segments_resumable(self, docs: DataFrame) -> None:
        """Segment phase in ``segment_batches`` batches, one commit
        each, after the batch's lineage rows: a batch tokenizes only
        the docs of its segments and encodes their postings, so a
        killed build re-runs only the segments the snapshot does not
        list (checkpointed segment builds); a batch that died before
        its commit left only files the resume's sweep deletes."""
        root, spark = self.index_dir, self.spark
        done = catalog.completed_segments(spark, root, "postings_seg")
        missing = [s for s in range(self.n_segments) if s not in done]
        if not missing:
            return
        seg_of = segment_of(self.n_segments, self.n_docs)

        def _segs():
            per_batch = max(1, math.ceil(len(missing) / self.segment_batches))
            for b in range(0, len(missing), per_batch):
                batch = missing[b:b + per_batch]
                tf = term_freqs(docs.where(seg_of.isin(batch)),
                                text_analyzer=self.text_analyzer,
                                title_analyzer=self.title_analyzer)
                seg_df = build_segments(tf.withColumn("seg_id", seg_of))
                # ~one file per segment instead of tasks × segments
                seg_df = seg_df.repartition(len(batch), "seg_id")
                with catalog.transaction(root):
                    catalog.write_table(seg_df, root, "postings_seg",
                                        partition_by=["seg_id"], drop=[])
                    rows = (
                        catalog.read_table(spark, root, "postings_seg")
                        .where(F.col("seg_id").isin(batch))
                        .groupBy("seg_id")
                        .agg(F.count("*").alias("n_terms"),
                             F.sum("df").alias("n"))
                        .collect()
                    )
                    catalog.append_lineage(spark, root, [
                        {"stage": "postings_seg", "seg_id": int(r["seg_id"]),
                         "n_terms": int(r["n_terms"]), "n_docs": int(r["n"])}
                        for r in rows
                    ])

        self._timed("postings_seg", _segs)
