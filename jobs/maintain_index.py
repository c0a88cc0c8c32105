#!/usr/bin/env python
"""spark-submit entrypoint: index lifecycle maintenance.

One CLI over the ingest operators (operators/ingest.py) so the full
Lucene-shaped lifecycle is drivable without writing code:

  append    — add new pages as a delta segment (url-deduped, tiered merge)
  upsert    — recrawl: tombstone live copies of the batch urls, append
  delete    — tombstone urls, or every doc matching a --where SQL
              predicate (hidden from every query path immediately)
  compact   — physically remove tombstoned docs (selective rewrites)
  optimize  — coalesce delta segments (forceMerge)

Usage (cluster):
  spark-submit --master <url> --py-files sewiki.zip \
      jobs/maintain_index.py append --index-dir /data/idx --input /data/delta
  spark-submit ... jobs/maintain_index.py delete --index-dir /data/idx \
      --where "url LIKE 'https://spam.example/%'"
  spark-submit ... jobs/maintain_index.py delete --index-dir /data/idx \
      --urls-file takedowns.txt
  spark-submit ... jobs/maintain_index.py compact --index-dir /data/idx
  spark-submit ... jobs/maintain_index.py optimize --index-dir /data/idx \
      --max-segments 8

No op takes an index setting: the shard size, tbucket count and
analyzers are the ones ``jobs/build_index.py`` recorded in the index's
``_SCHEMA.json``, so maintenance cannot disagree with the build.  Every
op publishes its whole effect in one snapshot commit (``_SNAPSHOT.json``),
so a failed op published nothing, and any op's entry first deletes
the files a crashed predecessor left: rerunning the same command after
a failure always converges.  Emits one JSON line of what happened.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("op", choices=["append", "upsert", "delete", "compact",
                                  "optimize"])
    p.add_argument("--index-dir", required=True)
    p.add_argument("--input", help="pages parquet path (append/upsert)")
    p.add_argument("--input-table",
                   help="pages as a catalog table name (append/upsert)")
    p.add_argument("--urls-file",
                   help="newline-separated url list (delete)")
    p.add_argument("--where",
                   help="SQL predicate over the docs table (delete), "
                        "e.g. \"url LIKE 'https://spam.example/%%'\"")
    p.add_argument("--max-segments", type=int, default=8)
    p.add_argument("--metrics-out", default="-")
    args = p.parse_args()

    if args.where and args.urls_file:
        # one victim set per invocation: silently ignoring one of the
        # two would let an operator believe both sets were tombstoned
        p.error("--where and --urls-file are mutually exclusive; "
                "run two delete invocations instead")

    from pyspark.sql import SparkSession

    from search_engine_wikipedia_spark.operators import ingest

    spark = SparkSession.builder.appName(
        f"sewiki-maintain-{args.op}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def pages():
        if args.input_table:
            return spark.table(args.input_table)
        if not args.input:
            p.error(f"{args.op} requires --input or --input-table")
        return spark.read.parquet(args.input)

    t0 = time.perf_counter()
    out: dict = {"job": "maintain_index", "op": args.op,
                 "index_dir": args.index_dir}
    if args.op == "append":
        out["n_appended"] = ingest.append_pages(
            spark, args.index_dir, pages())
    elif args.op == "upsert":
        n_dead, n_new = ingest.upsert_pages(
            spark, args.index_dir, pages())
        out["n_tombstoned"], out["n_appended"] = n_dead, n_new
    elif args.op == "delete":
        if args.where:
            out["n_tombstoned"] = ingest.delete_where(
                spark, args.index_dir, args.where)
        elif args.urls_file:
            with open(args.urls_file) as f:
                urls = [u.strip() for u in f if u.strip()]
            out["n_tombstoned"] = ingest.delete_urls(
                spark, args.index_dir, urls)
        else:
            p.error("delete requires --urls-file or --where")
    elif args.op == "compact":
        out["n_removed"] = ingest.compact(spark, args.index_dir)
    elif args.op == "optimize":
        out["n_segments"] = ingest.optimize_segments(
            spark, args.index_dir, max_segments=args.max_segments)
    out["wall_sec"] = round(time.perf_counter() - t0, 3)

    line = json.dumps(out)
    if args.metrics_out == "-":
        print(line, flush=True)
    else:
        with open(args.metrics_out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
