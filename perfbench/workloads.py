"""The two workloads, their set-up and their output checks.

``build``: a cold ``IndexBuilder.build`` over the corpus, a
``delete_urls`` of 1 % of the urls, then a query burst on a freshly
reopened reader (tombstones live, term cache empty): titles asked once
cold, then again hot.  The build stages, the catalog commits and the
delete path do nearly all the work; the serving layers only answer the
burst.  The traced run goes on, after
the timed window, with an upsert of 1 % revised pages, ``compact`` and
``optimize_segments``, so the rest of ingest gets layer rows; the traced
``serve`` run likewise runs ``build_pagerank_stage`` on a copy of its
index.  These stay out of the untraced runs because the run budget has
no room for them: on this corpus each costs about as much as the build.

``serve``: a warm reader over a cached index of the same corpus.  A
seeded closed-loop sequence of ``hot`` queries (every term cached in
set-up) and as many ``cold`` queries (a never-queried title, so
``fetch_postings`` scans parquet), then the distinct queries once
through ``search_batch`` and once through ``search_many_broadcast``.
The query layers do nearly all the work; no index is written.

Interactive ops are measured one by one (wall ms and process-tree CPU
ms) and reported per kind (interquartile mean of the CPU ms), so no
metric depends on how many ops of each kind a run holds.

Every check runs outside the timed segments.  A failed check marks the
ops it covers as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from statistics import median

from . import inputs
from .host import tree_cpu_s
from .trace import mid_mean

GUI_FLAGS = dict(limit=10, exp=True, page_rank=True, with_meta=True)
SETUP_REPS = 4
SCORE_TOL = 2e-6  # __spark_entry__._wand_consistency's tolerance


class Run:
    """State shared by set-up, the timed window and the checks."""

    def __init__(self, work: str, seed: int, seconds: int, tracer,
                 cores: int, spark_conf: dict):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cores = cores
        self.spark_conf = spark_conf
        self.spark = None
        self.session_start = (0.0, 0.0)  # (wall s, tree CPU s)
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.failures: list[str] = []
        self.record: dict = {}
        self.made_cache = False  # this run generated the corpus or index

    # -- session --------------------------------------------------------
    def start_session(self):
        from search_engine_wikipedia_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()  # the previous set-up's teardown: not timed
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.cores,
                               extra_conf=self.spark_conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start = (time.perf_counter() - t0, tree_cpu_s() - cpu0)
        return self.spark

    def setup_reps(self, prepare) -> tuple:
        """Run ``prepare`` SETUP_REPS times, each after a session (re)start
        and measured with it; the first rep's session is the run's first,
        which pays the JVM launch.  ``setup_s`` is the median rep in
        process-tree CPU seconds (wall time moves with host steal; see
        README); the wall time of every rep goes to the record."""
        cpu, wall = [], []
        for rep in range(SETUP_REPS):
            if rep:
                self.start_session()
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            out = prepare()
            wall.append(time.perf_counter() - t0 + self.session_start[0])
            cpu.append(tree_cpu_s() - cpu0 + self.session_start[1])
        return out, {"setup_s": median(cpu), "setup_reps": cpu,
                     "setup_wall_reps": wall}

    def begin_trace(self) -> None:
        if self.tracer.enabled:
            from . import layers

            self.record["missing_spans"] = layers.install(self.tracer)

    def end_trace(self) -> None:
        if self.tracer.enabled:
            self.tracer.unwrap_all()

    def stop_session(self) -> None:
        """Stop Spark, then wait for every process it started (the JVM,
        the Python daemons and workers) to exit; kill what lingers."""
        import signal
        import subprocess

        from pyspark import SparkContext

        from .host import descendants

        started = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while time.time() < deadline:
            alive = [p for p in started if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            time.sleep(0.2)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # -- outcome bookkeeping ----------------------------------------------
    def op(self) -> int:
        """Count one attempted op (a timed call or a check); → its id."""
        self.attempted += 1
        return self.attempted

    def fail(self, op: int, why: str) -> None:
        """Mark op ``op`` failed; an op fails at most once."""
        self.failed_ops.add(op)
        if len(self.failures) < 50:
            self.failures.append(why)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)


# ---------------------------------------------------------------------------
# Cached corpus and index (built once per checkout, keyed by source)
# ---------------------------------------------------------------------------
def source_fingerprint(root: str) -> str:
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "search_engine_wikipedia_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith((".py", ".json")) or "wordnet" in dirpath:
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _publish(tmp: str, final: str) -> None:
    try:
        os.rename(tmp, final)
    except OSError:  # another run published first
        shutil.rmtree(tmp, ignore_errors=True)


def corpus(run: Run, cache: str) -> dict:
    """``pages`` parquet of the corpus plus facts the checks need,
    computed from the parquet itself (pyarrow, not the engine)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from search_engine_wikipedia_spark import synth

    final = os.path.join(cache, f"corpus-{inputs.N_DOCS}")
    meta_path = os.path.join(final, "corpus.json")
    if not os.path.exists(meta_path):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        synth.generate_pages_df(run.spark, inputs.N_DOCS).write.parquet(
            os.path.join(tmp, "pages"))
        t = pq.read_table(os.path.join(tmp, "pages"),
                          columns=["url", "text", "lang"])
        text = pc.fill_null(t["text"], "")
        keep = pc.and_(pc.equal(t["lang"], "en"),
                       pc.invert(pc.starts_with(text, "#REDIRECT")))
        kept_urls = set(pc.filter(t["url"], keep).to_pylist())
        rows = sorted(zip(t["url"].to_pylist(), text.to_pylist()))
        meta = {
            "n_pages": t.num_rows,
            "text_bytes": sum(len(x.encode("utf-8")) for _, x in rows),
            "expected_docs": len(kept_urls),
            "fingerprint": inputs.fingerprint(rows),
        }
        with open(os.path.join(tmp, "corpus.json"), "w") as f:
            json.dump(meta, f)
        _publish(tmp, final)
        run.made_cache = True
    with open(meta_path) as f:
        meta = json.load(f)
    meta["pages"] = os.path.join(final, "pages")
    return meta


def cached_index(run: Run, cache: str, pages_path: str) -> str:
    """A built + PageRanked index of the corpus for ``serve``.  ``cache``
    is keyed by the program's source, so this is the index the code
    under test builds; the run that builds it records both timings."""
    from search_engine_wikipedia_spark.operators.build import IndexBuilder
    from search_engine_wikipedia_spark.operators.pagerank import (
        build_pagerank_stage,
    )

    final = os.path.join(cache, f"index-{inputs.N_DOCS}")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        IndexBuilder(run.spark, tmp).build(
            run.spark.read.parquet(pages_path), resume=False)
        t1 = time.perf_counter()
        build_pagerank_stage(run.spark, tmp)
        run.record["cache_build_s"] = t1 - t0
        run.record["cache_pagerank_s"] = time.perf_counter() - t1
        _publish(tmp, final)
        run.made_cache = True
    return final


def cached_inputs(run: Run, cache: str) -> tuple[dict, str]:
    """Start the run's session; return the corpus facts and the path of
    the index ``serve`` reads.  The first run of a checkout, of either
    workload, makes both; it then stops that JVM and its Python workers
    and starts a fresh session, so its set-up reps and timed window
    begin from a cold JVM, as in every later run."""
    run.start_session()
    meta = corpus(run, cache)
    index_dir = cached_index(run, cache, meta["pages"])
    run.record["input_fingerprint"] = meta["fingerprint"]
    if run.made_cache:
        run.stop_session()
        run.start_session()
    return meta, index_dir


def dir_files(path: str) -> dict:
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            p = os.path.join(dirpath, name)
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(path: str) -> int:
    return sum(v[1] for v in dir_files(path).values())


# ---------------------------------------------------------------------------
# Interactive ops
# ---------------------------------------------------------------------------
def timed_search(run: Run, searcher, spec: dict, log: list):
    """One interactive op (``spec``: kind, query, url) in its own trace;
    appends it with its wall and process-tree CPU milliseconds to
    ``log``."""
    op = run.op()
    run.tracer.new_trace()
    kind, query = spec["kind"], spec["query"]
    cpu0 = tree_cpu_s()
    with run.tracer.span("op", kind=kind):
        t0 = time.perf_counter()
        try:
            res = searcher.search(query, **GUI_FLAGS)
        except Exception as e:  # HotTermError, TombstoneBudgetError, ...
            res = None
            run.fail(op, f"{kind} {query!r}: {type(e).__name__}: {e}")
        ms = 1000 * (time.perf_counter() - t0)
    cpu_ms = 1000 * (tree_cpu_s() - cpu0)
    log.append({"op": op, "kind": kind, "query": query,
                "url": spec.get("url"), "ms": ms, "cpu_ms": cpu_ms,
                "res": res})
    return res


def warm_up(run: Run, index_dir: str, queries) -> None:
    """After set-up, before the timed window: ``queries`` (asked by no
    timed op) once through ``search_batch`` and ``search_many_broadcast``,
    then each as a GUI-flag search, on a reader of its own.  This brings
    the JIT and Spark's Python workers (spawned, modules imported) to the
    steady state the window should measure, without touching the caches
    of the reader the window uses.  Wall and CPU time go to the run
    record only."""
    from search_engine_wikipedia_spark.plans import query as Q

    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    idx = Q.SearchIndex(run.spark, index_dir)
    distinct = list(dict.fromkeys(queries))
    Q.search_batch(idx, distinct, limit=10, exp=True,
                   page_rank=True).collect()
    Q.search_many_broadcast(idx, distinct, limit=10, exp=True).collect()
    searcher = Q.WikiSearcher(idx)
    for q in queries:
        searcher.search(q, **GUI_FLAGS)
    run.record["warmup"] = {"ops": len(queries),
                            "wall_s": time.perf_counter() - t0,
                            "cpu_s": tree_cpu_s() - cpu0}


def kind_stats(log: list) -> dict:
    """Per op kind: the interquartile mean of the process-tree CPU ms
    (the bounded metrics) and the wall and CPU ms of every op (the
    record)."""
    out = {}
    for kind in ("hot", "cold"):
        ops = [o for o in log if o["kind"] == kind]
        out[f"{kind}_query_cpu_ms"] = mid_mean(o["cpu_ms"] for o in ops)
    out["ops"] = [{k: o[k] for k in ("kind", "ms", "cpu_ms")} for o in log]
    return out


def _docs(res) -> list[tuple]:
    return [(d["doc_id"], d["final_score"], d["score"], d["link"])
            for d in (res or {}).get("docs", [])]


def check_cold(run: Run, log: list) -> None:
    """Each cold title with a target url ranks its own page first by
    BM25.  The PageRank blend may still move it down: a hub page linking
    to the target carries both title terms and can be multiplied past
    it, which is the reference blend, not a defect."""
    for o in log:
        if o["kind"] == "cold" and o["url"] and o["res"] is not None:
            best = max(_docs(o["res"]), key=lambda d: d[2], default=None)
            if best is None or best[3] != o["url"]:
                run.fail(o["op"], f"cold {o['query']!r}: BM25 rank 1 is "
                         f"{best and best[3]}, want {o['url']}")


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------
def serve(run: Run, cache: str) -> dict:
    from search_engine_wikipedia_spark.operators import pagerank
    from search_engine_wikipedia_spark.plans import query as Q

    ops = inputs.serve_ops(run.seed, run.seconds)
    run.record["ops_fingerprint"] = inputs.fingerprint(ops)

    meta, index_dir = cached_inputs(run, cache)
    hot = inputs.hot_queries()

    def prepare():
        idx = Q.SearchIndex(run.spark, index_dir)
        searcher = Q.WikiSearcher(idx)
        keys = set()
        for q in hot:
            tree, _ = Q.parse_query(q, expand=True, expander=searcher.expander,
                                    analyzers=idx.analyzers, index=idx)
            keys.update((t.field, t.text) for t in Q.tree_terms(tree))
        idx.fetch_postings(sorted(keys))
        searcher.search(hot[0], **GUI_FLAGS)
        return idx, searcher

    (idx, searcher), wl = run.setup_reps(prepare)
    warm_up(run, index_dir, inputs.warmup_queries(
        run.seed, [op["url"] for op in ops if op["kind"] == "cold"]))

    run.begin_trace()
    log: list = []
    for op in ops:
        timed_search(run, searcher, op, log)

    # every hot query plus the run's cold titles: the batch covers every
    # interactive query and all 30 reference queries for the referee
    distinct = list(dict.fromkeys(hot + [op["query"] for op in ops]))
    cpu0 = tree_cpu_s()
    plans = {}
    for plan, fn, kw in (
            ("batch", Q.search_batch, dict(exp=True, page_rank=True)),
            ("bcast", Q.search_many_broadcast, dict(exp=True))):
        op = run.op()
        a = time.perf_counter()
        try:
            with run.tracer.span(f"{plan}.plan"):
                df = fn(idx, distinct, limit=10, **kw)
            with run.tracer.span(f"{plan}.exec"):
                rows = [r.asDict() for r in df.collect()]
        except Exception as e:
            run.fail(op, f"{plan}: {type(e).__name__}: {e}")
            rows = []
        plans[plan] = (op, rows, time.perf_counter() - a)
    cpu2 = tree_cpu_s()
    if run.tracer.enabled:
        # outside the timed window, on a copy: PageRank's layer rows
        copy = os.path.join(run.work, "pagerank-copy")
        shutil.copytree(index_dir, copy)
        pagerank.build_pagerank_stage(run.spark, copy)
    run.end_trace()

    wl.update(
        kind_stats(log),
        work_s=sum(t for _, _, t in plans.values()),
        work_cpu_s=cpu2 - cpu0,
        batch_qps=len(distinct) / plans["batch"][2],
        bcast_qps=len(distinct) / plans["bcast"][2],
        index_bytes=dir_bytes(index_dir),
        text_bytes=meta["text_bytes"],
    )
    check_serve(run, idx, log, distinct, plans)
    return wl


def check_serve(run: Run, idx, log, distinct, plans) -> None:
    from search_engine_wikipedia_spark.plans import query as Q

    qid = {q: i for i, q in enumerate(distinct)}
    batch_op, batch_rows, _ = plans["batch"]
    bcast_op, bcast_rows, _ = plans["bcast"]
    by_final: dict[int, list] = {}
    by_rank: dict[int, list] = {}
    for r in batch_rows:
        by_final.setdefault(r["query_id"], []).append(
            (r["final_rank"], r["doc_id"], r["final_score"]))
        by_rank.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    bc: dict[int, list] = {}
    for r in bcast_rows:
        bc.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))

    def same(a, b):
        return len(a) == len(b) and all(
            x[1] == y[1] and abs(x[2] - y[2]) <= 1e-6 for x, y in zip(a, b))

    # interactive == search_batch with the same flags (top-10 doc ids in
    # order, final_score to 6 dp)
    for o in log:
        if o["res"] is None:
            continue
        got = [(k, d, f) for k, (d, f, _, _) in enumerate(_docs(o["res"]), 1)]
        if not same(got, sorted(by_final.get(qid[o["query"]], []))):
            run.fail(o["op"], f"interactive != search_batch: {o['query']!r}")
    # broadcast == search_batch(page_rank=False): the pre-blend ranks and
    # scores search_batch returns next to the blended ones
    for q, i in qid.items():
        if not same(sorted(bc.get(i, [])), sorted(by_rank.get(i, []))):
            run.fail(bcast_op, f"search_many_broadcast != search_batch: {q!r}")
    check_cold(run, log)
    # the 30 reference queries: search_batch's BM25 top-10 vs the
    # relational referee (no WAND, no codec), as _wand_consistency does;
    # limit slack so a doc on a rounding boundary cannot fall off
    refs = inputs.reference_queries()
    ref_op = run.op()
    rel = Q.search_batch_relational(idx, refs, limit=15, exp=True).collect()
    rel_score = {(refs[r["query_id"]], r["doc_id"]): r["score"] for r in rel}
    for q in refs:
        for _, d, score in by_rank.get(qid[q], []):
            want = rel_score.get((q, d))
            if want is None or abs(round(score, 6) - want) > SCORE_TOL:
                run.fail(ref_op, f"referee disagrees on {q!r} doc {d}: "
                         f"{score} vs {want}")


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------
def build(run: Run, cache: str) -> dict:
    from search_engine_wikipedia_spark import synth
    from search_engine_wikipedia_spark.operators import build as B
    from search_engine_wikipedia_spark.operators import ingest
    from search_engine_wikipedia_spark.sources import catalog

    plan = inputs.build_plan(run.seed, run.seconds)
    run.record["ops_fingerprint"] = inputs.fingerprint(plan)
    k = len(plan["delete"])

    # the first run of a checkout also builds the index serve reads, so
    # no serve run pays for it
    meta, cached = cached_inputs(run, cache)
    pages, wl = run.setup_reps(
        lambda: run.spark.read.parquet(meta["pages"]))
    warm_up(run, cached, inputs.warmup_queries(run.seed))
    index_dir = os.path.join(run.work, "index")
    deleted = {synth.url_for(i) for i in plan["delete"]}
    w = Writes(run, index_dir)

    run.begin_trace()
    w.timed("build_index", lambda: B.IndexBuilder(
        run.spark, index_dir).build(pages, resume=False))
    op = run.op()
    n_docs = catalog.read_table(run.spark, index_dir, "docs").count()
    if n_docs != meta["expected_docs"]:
        run.fail(op, f"docs rows {n_docs} != {meta['expected_docs']} pages "
                 "surviving the reference filters")
    w.timed("delete", lambda: ingest.delete_urls(
        run.spark, index_dir, sorted(deleted)), want=k)
    w.burst(plan["burst"])
    window = ("build_index", "delete", "reopen")
    work_s = sum(w.seg[k2] for k2 in window)
    work_cpu_s = sum(w.cpu[k2] for k2 in window)
    if run.tracer.enabled:
        w.maintain(plan)
    run.end_trace()

    check_write_state(run, index_dir, plan, deleted,
                      upserted=run.tracer.enabled)
    check_cold(run, w.log)
    first = {o["query"]: _docs(o["res"]) for o in w.log if o["kind"] == "cold"}
    for o in w.log:
        bad = [d[3] for d in _docs(o["res"]) if d[3] in deleted]
        if bad:
            run.fail(o["op"], f"deleted url served for {o['query']!r}: "
                     f"{bad[:2]}")
        # the hot repeat on the same reader answers exactly as before
        if o["kind"] == "hot" and _docs(o["res"]) != first[o["query"]]:
            run.fail(o["op"], f"hot repeat of {o['query']!r} differs")
    wl.update(
        kind_stats(w.log),
        work_s=work_s,
        work_cpu_s=work_cpu_s,
        segments=w.seg,
        build_docs_per_s=n_docs / w.seg["build_index"],
        index_bytes=dir_bytes(index_dir),
        text_bytes=meta["text_bytes"],
        **w.extra,
    )
    return wl


class Writes:
    """Timed index writes and the query bursts on reopened readers."""

    def __init__(self, run: Run, index_dir: str):
        self.run = run
        self.index_dir = index_dir
        self.seg: dict[str, float] = {}  # wall seconds per segment
        self.cpu: dict[str, float] = {}  # process-tree CPU seconds
        self.log: list = []
        self.extra: dict = {}

    def timed(self, name, fn, want=None):
        run = self.run
        op = run.op()
        cpu0 = tree_cpu_s()
        with run.tracer.span(name) as sp:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:
                run.fail(op, f"{name}: {type(e).__name__}: {e}")
                out = want
            self.seg[name] = time.perf_counter() - t0
        self.cpu[name] = tree_cpu_s() - cpu0
        if want is not None and out != want:
            run.fail(op, f"{name} returned {out}, want {want}")
        return sp

    def burst(self, queries):
        from search_engine_wikipedia_spark.plans import query as Q

        run = self.run
        cpu0 = tree_cpu_s()
        with run.tracer.span("reopen") as sp:
            t0 = time.perf_counter()
            idx = Q.SearchIndex(run.spark, self.index_dir)
            searcher = Q.WikiSearcher(idx)
            self.seg["reopen"] = time.perf_counter() - t0
        self.cpu["reopen"] = tree_cpu_s() - cpu0
        for spec in queries:
            timed_search(run, searcher, spec, self.log)
        if sp is not None:
            sp["attrs"]["tombstones"] = int(idx.tombstones.size)

    def maintain(self, plan) -> None:
        """Traced run only, after the timed window: the rest of the
        maintenance cycle, so those layers get rows."""
        import pandas as pd

        from search_engine_wikipedia_spark import schemas
        from search_engine_wikipedia_spark.operators import ingest

        run, root = self.run, self.index_dir
        k = len(plan["upsert"])
        revised = run.spark.createDataFrame(
            pd.DataFrame([inputs.revised_page(i) for i in plan["upsert"]]),
            schema=schemas.PAGES)
        self.timed("upsert", lambda: ingest.upsert_pages(
            run.spark, root, revised), want=(k, k))
        before = dir_files(root)
        sp = self.timed("compact", lambda: ingest.compact(run.spark, root),
                        want=2 * k)
        after = dir_files(root)
        written = [p for p, v in after.items() if before.get(p) != v]
        rewrite = sum(after[p][1] for p in written)
        sp["attrs"].update(files_written=len(written), bytes_written=rewrite)
        self.timed("optimize", lambda: ingest.optimize_segments(run.spark, root))
        self.extra = {
            "upsert_docs_per_s": k / self.seg["upsert"],
            "compact_rewrite_frac":
                rewrite / max(1, sum(v[1] for v in before.values())),
        }


def check_write_state(run: Run, index_dir, plan, deleted, upserted):
    """On a fresh reader, deleted titles never return their url; with
    ``upserted``, every upserted title returns its url first, carrying
    the revision marker."""
    from search_engine_wikipedia_spark import synth
    from search_engine_wikipedia_spark.plans import query as Q

    op = run.op()
    idx = Q.SearchIndex(run.spark, index_dir)
    ups = plan["upsert"] if upserted else []
    titles = [synth.title_for(i) for i in ups + plan["delete"]]
    rows = Q.search_batch(idx, titles, limit=3, exp=False,
                          page_rank=False).collect()
    meta = idx.doc_meta(sorted({r["doc_id"] for r in rows}))
    top = {}
    for r in rows:
        url = meta.get(r["doc_id"], {}).get("url")
        if url in deleted:
            run.fail(op, f"deleted {url} served for {titles[r['query_id']]!r}")
        if r["rank"] == 1:
            top[r["query_id"]] = r["doc_id"]
    for n, i in enumerate(ups):
        m = meta.get(top.get(n), {})
        if m.get("url") != synth.url_for(i):
            run.fail(op, f"upserted {synth.url_for(i)} not first: {m.get('url')}")
        elif inputs.revision_marker(i) not in (m.get("clean_text") or ""):
            run.fail(op, f"upserted {synth.url_for(i)} served without revision")


WORKLOADS = {"build": build, "serve": serve}
