"""Per-layer spans (traced run only) and the per-layer metrics.

``install`` wraps the public functions each layer is entered through.
``WikiSearcher.search`` reaches ``parse_query``, ``blend_pagerank`` and
``make_highlight`` as globals of ``plans.query``, and everything else
through methods of ``SearchIndex``, ``Scorer``, ``PostingList`` and
``Expander``, so patching those names catches every interactive call.
Kernels that run inside Spark's Python workers (``search_batch``,
``search_many_broadcast``) are not wrapped; their cost shows in the
event-log rows of the batch spans.

Build stages are the windows of ``IndexBuilder._timed``, the bracket the
builder itself times each of its six stages with; the stage name is its
first argument.
"""

from __future__ import annotations

import functools
from statistics import median

from . import eventlog
from .trace import highest_tail, self_times

BUILD_STAGES = ("docs", "term_freqs", "doc_stats", "field_stats",
                "postings_seg", "postings")
STAGE_FIELDS = ("wall_s", "jobs", "tasks", "task_s", "jvm_cpu_s", "gc_s",
                "nonjvm_s", "shuffle_write_bytes", "spill_bytes")
QUERY_PHASES = ("parse", "expand", "fetch", "topk", "pagerank_for", "blend",
                "doc_meta", "highlight")
INGEST_OPS = ("upsert", "delete", "compact", "optimize")


def install(tracer) -> list[str]:
    """Wrap every layer entry point; returns the names that were
    missing (their metrics then read 0)."""
    from search_engine_wikipedia_spark.operators import build, pagerank, wand
    from search_engine_wikipedia_spark.plans import expansion, query
    from search_engine_wikipedia_spark.sources import catalog

    missing = []

    def wrap(owner, attr, name, after=None, before=None):
        if not tracer.wrap(owner, attr, name, after, before):
            missing.append(f"{getattr(owner, '__name__', owner)}.{attr}")

    def stage_name(sp, args, kwargs):
        sp["attrs"]["stage"] = args[1] if len(args) > 1 else kwargs["name"]

    wrap(build.IndexBuilder, "build", "build")
    wrap(build.IndexBuilder, "_timed", "build.stage", before=stage_name)
    wrap(pagerank, "build_pagerank_stage", "pagerank")
    for fn in ("write_table", "append_lineage", "commit"):
        wrap(catalog, fn, f"catalog.{fn}")

    wrap(expansion.Expander, "expansion", "expand")
    wrap(query, "parse_query", "parse")
    wrap(query.WikiSearcher, "search", "search")
    wrap(query.SearchIndex, "pagerank_for", "pagerank_for")
    wrap(query.SearchIndex, "doc_meta", "doc_meta")
    wrap(query, "blend_pagerank", "blend")
    wrap(query, "make_highlight", "highlight")

    def before_fetch(sp, args, kwargs):
        # the reader's own cache decides what it scans: the same test
        # fetch_postings makes before its parquet scan
        index, keys = args[0], args[1] if len(args) > 1 else kwargs["keys"]
        cache = index._term_cache
        sp["attrs"].update(
            keys_requested=len(keys),
            missed=[k for k in keys if cache is None or k not in cache])

    def after_fetch(sp, args, kwargs, result):
        missed = sp["attrs"].pop("missed")
        sp["attrs"].update(
            keys_missed=len(missed),
            postings=sum(result[k].n_postings for k in missed
                         if result.get(k) is not None))

    wrap(query.SearchIndex, "fetch_postings", "fetch", after_fetch,
         before_fetch)

    def after_topk(sp, args, kwargs, result):
        node = args[1] if len(args) > 1 else kwargs["node"]
        sp["attrs"]["blocks_bound"] = sum(
            len(r["block_last"])
            for t in query.tree_terms(node) if t.plist is not None
            for r in t.plist.shards)

    wrap(wand.Scorer, "topk", "topk", after_topk)
    _count(tracer, wand.Scorer, "score_at", "candidates_scored",
           lambda args: len(args[2]), outermost=True, missing=missing)
    _count(tracer, wand.PostingList, "decode_selected_blocks",
           "blocks_decoded", lambda args: len(args[1]), missing=missing)
    _count(tracer, wand.PostingList, "decode_all", "full_decodes",
           lambda args: 1, missing=missing)
    return missing


def _count(tracer, owner, attr, counter, amount, missing, outermost=False):
    """Add ``amount(args)`` to the innermost open ``topk`` span's
    ``counter`` without opening a span per call (these run per node and
    per block).  ``outermost`` counts only calls not made from inside
    another call of the same function (``score_at`` recurses)."""
    fn = getattr(owner, attr, None)
    if fn is None:
        missing.append(f"{owner.__name__}.{attr}")
        return
    depth = [0]

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        sp = tracer.current("topk")
        if sp is not None and (not outermost or depth[0] == 0):
            sp["attrs"][counter] = sp["attrs"].get(counter, 0) + amount(args)
        depth[0] += 1
        try:
            return fn(*args, **kwargs)
        finally:
            depth[0] -= 1

    tracer.patch(owner, attr, wrapper)


# ---------------------------------------------------------------------------
# Metrics from spans + event-log jobs
# ---------------------------------------------------------------------------
def _window_jobs(tracer, jobs, start, end):
    return eventlog.in_window(jobs, tracer.epoch(start), tracer.epoch(end))


def build_metrics(tracer, jobs) -> dict:
    out = {f"build.{s}.{f}": 0.0 for s in BUILD_STAGES for f in STAGE_FIELDS}
    out["build.driver_gap_s"] = 0.0
    spans = tracer.spans
    b = next((s for s in spans if s["name"] == "build"), None)
    if b is None:
        return out
    for s in spans:
        stage = s["attrs"].get("stage")
        if (s["name"] != "build.stage" or stage not in BUILD_STAGES
                or not b["start"] <= s["start"] <= b["end"]):
            continue
        t = eventlog.totals(_window_jobs(tracer, jobs, s["start"], s["end"]))
        out[f"build.{stage}.wall_s"] = s["end"] - s["start"]
        for f in STAGE_FIELDS[1:]:
            out[f"build.{stage}.{f}"] = t[f]
    out["build.driver_gap_s"] = eventlog.driver_gap(
        jobs, tracer.epoch(b["start"]), tracer.epoch(b["end"]))
    return out


def pagerank_metrics(tracer, jobs) -> dict:
    out = {"pagerank.wall_s": 0.0, "pagerank.jobs": 0, "pagerank.task_s": 0.0,
           "pagerank.driver_gap_s": 0.0}
    for s in tracer.spans:
        if s["name"] == "pagerank":
            js = _window_jobs(tracer, jobs, s["start"], s["end"])
            t = eventlog.totals(js)
            out["pagerank.wall_s"] += s["end"] - s["start"]
            out["pagerank.jobs"] += t["jobs"]
            out["pagerank.task_s"] += t["task_s"]
            out["pagerank.driver_gap_s"] += eventlog.driver_gap(
                jobs, tracer.epoch(s["start"]), tracer.epoch(s["end"]))
    return out


def catalog_metrics(tracer) -> dict:
    out = {}
    for fn in ("write_table", "append_lineage"):
        sp = [s for s in tracer.spans if s["name"] == f"catalog.{fn}"]
        out[f"catalog.{fn}.calls"] = len(sp)
        out[f"catalog.{fn}.s"] = sum(s["end"] - s["start"] for s in sp)
    out["catalog.commit.s"] = sum(s["end"] - s["start"] for s in tracer.spans
                                  if s["name"] == "catalog.commit")
    return out


def query_metrics(tracer, jobs) -> dict:
    """Per-op-type phase times (mean ms per op; phases are self times,
    ``search`` is the whole call) and whole-run fetch/topk counters."""
    spans = tracer.spans
    st = self_times(spans)
    by_trace: dict[int, list] = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    out = {}
    for kind in ("hot", "cold"):
        ops = [s for s in spans
               if s["name"] == "op" and s["attrs"].get("kind") == kind]
        sums = {p: 0.0 for p in ("search", "search_self") + QUERY_PHASES}
        n_jobs = 0
        for op in ops:
            for s in by_trace[op["trace"]]:
                if s["name"] == "search":
                    sums["search"] += s["end"] - s["start"]
                    sums["search_self"] += st[s["id"]]
                elif s["name"] in QUERY_PHASES:
                    sums[s["name"]] += st[s["id"]]
            n_jobs += len(_window_jobs(tracer, jobs, op["start"], op["end"]))
        n = max(1, len(ops))
        out[f"{kind}.search.ms"] = 1000 * sums["search"] / n
        for p in QUERY_PHASES:
            out[f"{kind}.{p}.ms"] = 1000 * sums[p] / n
        out[f"{kind}.unattributed_frac"] = (
            sums["search_self"] / sums["search"] if sums["search"] else 0.0)
        out[f"{kind}.spark_jobs_per_query"] = n_jobs / n
    fetch = [s for s in spans if s["name"] == "fetch"]
    for c in ("keys_requested", "keys_missed", "postings"):
        out[f"fetch.{c}"] = sum(s["attrs"].get(c, 0) for s in fetch)
    topk = [s for s in spans if s["name"] == "topk"]
    for c in ("candidates_scored", "blocks_decoded", "full_decodes"):
        out[f"topk.{c}"] = sum(s["attrs"].get(c, 0) for s in topk)
    bound = sum(s["attrs"].get("blocks_bound", 0) for s in topk)
    out["topk.block_decode_frac"] = (
        out["topk.blocks_decoded"] / bound if bound else 0.0)
    return out


def plan_metrics(tracer, jobs) -> dict:
    out = {}
    for plan in ("batch", "bcast"):
        p = [s for s in tracer.spans if s["name"] == f"{plan}.plan"]
        e = [s for s in tracer.spans if s["name"] == f"{plan}.exec"]
        js = [j for a, b in zip(p, e)
              for j in _window_jobs(tracer, jobs, a["start"], b["end"])]
        t = eventlog.totals(js)
        out[f"{plan}.plan_ms"] = 1000 * sum(s["end"] - s["start"] for s in p)
        out[f"{plan}.exec_s"] = sum(s["end"] - s["start"] for s in e)
        out[f"{plan}.jobs"] = t["jobs"]
        out[f"{plan}.task_s"] = t["task_s"]
        out[f"{plan}.shuffle_bytes"] = t["shuffle_write_bytes"]
    return out


def ingest_metrics(tracer, jobs) -> dict:
    out = {}
    for op in INGEST_OPS:
        sp = [s for s in tracer.spans if s["name"] == op]
        out[f"{op}.wall_s"] = sum(s["end"] - s["start"] for s in sp)
        out[f"{op}.jobs"] = sum(
            len(_window_jobs(tracer, jobs, s["start"], s["end"])) for s in sp)
    cs = [s for s in tracer.spans if s["name"] == "compact"]
    out["compact.files_rewritten"] = sum(
        s["attrs"].get("files_written", 0) for s in cs)
    out["compact.bytes_written"] = sum(
        s["attrs"].get("bytes_written", 0) for s in cs)
    ro = [s for s in tracer.spans if s["name"] == "reopen"]
    out["reopen.ms"] = (1000 * sum(s["end"] - s["start"] for s in ro)
                        / max(1, len(ro)))
    out["reopen.tombstones"] = max(
        (s["attrs"].get("tombstones", 0) for s in ro), default=0)
    return out


def workload_metrics(wl: dict) -> dict:
    """The issue-level numbers each workload produces (0 where the
    workload does not run that op)."""
    out = {}
    for kind in ("hot", "cold"):
        xs = [o["ms"] for o in wl.get("ops", []) if o["kind"] == kind]
        out[f"{kind}_query_ms_p50"] = median(xs) if xs else 0.0
    for k in ("build_docs_per_s", "batch_qps", "bcast_qps",
              "upsert_docs_per_s", "compact_rewrite_frac"):
        out[k] = wl.get(k, 0.0)
    return out


def query_tails(wl: dict) -> dict:
    """Run-record only: per op kind, the highest percentile of the wall
    latencies with ten samples beyond it, or nulls when there are too
    few ops for any tail."""
    out = {}
    for kind in ("hot", "cold"):
        xs = [o["ms"] for o in wl.get("ops", []) if o["kind"] == kind]
        pct, tail = highest_tail(xs)
        out[kind] = {"pct": pct, "ms": tail, "n": len(xs)}
    return out


def all_metrics(tracer, jobs, wl: dict) -> dict:
    out = workload_metrics(wl)
    out.update(build_metrics(tracer, jobs))
    out.update(pagerank_metrics(tracer, jobs))
    out.update(catalog_metrics(tracer))
    out.update(query_metrics(tracer, jobs))
    out.update(plan_metrics(tracer, jobs))
    out.update(ingest_metrics(tracer, jobs))
    return out


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith("_qps"):
        return "q/s"
    if name.endswith("per_query"):
        return "jobs/q"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("frac",)):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    if name.endswith((".ms", "_ms", "_p50")):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    return "count"
