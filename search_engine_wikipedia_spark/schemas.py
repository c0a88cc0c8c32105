"""Fixed StructType schemas for every engine table (SURVEY.md §1.4).

The reference declares its schema once (``indexing/index.py:25-39``,
``WikiSchema``: id_page ID, text TEXT(StemmingAnalyzer), title
TEXT(StandardAnalyzer), both ``phrase=False`` ⇒ postings carry term
frequency only, no positions).  These are the Spark-side equivalents.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input: Common-Crawl-style web pages (BASELINE.json input_hint).
PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# Parsed/cleaned documents.  clean_text is byte-identical per url to the
# reference cleaner's output (filterText.py:122-179).
DOCS = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("title", T.StringType(), False),
    T.StructField("clean_text", T.StringType(), True),
    T.StructField("links", T.ArrayType(T.StringType()), True),
])

# Global BM25 corpus statistics per field (searcher.py:153
# field_length / doc_count surfaces).
FIELD_STATS = T.StructType([
    T.StructField("field", T.StringType(), False),
    T.StructField("total_len", T.LongType(), False),
    T.StructField("doc_count", T.LongType(), False),
    T.StructField("avg_len", T.DoubleType(), False),
])

# Flattened term frequencies (the I1 partial aggregation output).
TERM_FREQS = T.StructType([
    T.StructField("term", T.StringType(), False),
    T.StructField("field", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("tf", T.IntegerType(), False),
    T.StructField("fl", T.IntegerType(), False),  # field length of doc
])

_POSTING_BODY = [
    T.StructField("df", T.IntegerType(), False),          # postings in blob
    T.StructField("cf", T.LongType(), False),             # sum of tfs
    T.StructField("doc_ids", T.BinaryType(), False),      # delta+VB per block
    T.StructField("tfs", T.BinaryType(), False),          # VB
    T.StructField("fls", T.BinaryType(), False),          # VB (field lengths)
    T.StructField("block_last", T.ArrayType(T.LongType()), False),
    T.StructField("block_max_tf", T.ArrayType(T.LongType()), False),
    T.StructField("block_min_fl", T.ArrayType(T.LongType()), False),
    # byte offset of each block's start within each blob → random block access
    T.StructField("block_doc_off", T.ArrayType(T.LongType()), False),
    T.StructField("block_tf_off", T.ArrayType(T.LongType()), False),
    T.StructField("block_fl_off", T.ArrayType(T.LongType()), False),
]

# Partition-local segments (SPIMI phase; reference analogue:
# writer(procs=4, multisegment=True), index.py:120).
POSTINGS_SEG = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("seg_id", T.IntegerType(), False),
    ]
    + _POSTING_BODY
)

# Globally merged, term-partitioned postings.  Head terms are sharded by
# doc-id range (shard_id) — the explicit skew-handling demanded by the
# north_rule; src_segs records merge lineage.
POSTINGS = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("field", T.StringType(), False),
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("n_shards", T.IntegerType(), False),
        T.StructField("term_df", T.IntegerType(), False),   # global df
        T.StructField("term_cf", T.LongType(), False),      # global cf
    ]
    + _POSTING_BODY
    + [T.StructField("src_segs", T.ArrayType(T.IntegerType()), False)]
)

EDGES = T.StructType([
    T.StructField("src", T.LongType(), False),
    T.StructField("dst", T.LongType(), False),
])

PAGERANK = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("pr", T.DoubleType(), False),
])

MANIFESTS = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("seg_id", T.IntegerType(), True),
    T.StructField("partition_id", T.IntegerType(), True),
    T.StructField("n_docs", T.LongType(), True),
    T.StructField("n_terms", T.LongType(), True),
    T.StructField("bytes", T.LongType(), True),
    T.StructField("checksum", T.StringType(), True),
    T.StructField("build_ts", T.TimestampType(), True),
])
