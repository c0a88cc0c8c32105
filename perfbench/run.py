"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` installs the per-layer spans,
writes the Spark event log and prints the per-layer metrics instead.
Scratch state (Spark local dirs, the cached corpus and index, run
records, spans) lives in ``.perfbench/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def prepare_env(work: str) -> dict:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; returns the extra Spark conf that does the same."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM, like the driver JVM below
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    return {
        # no hsperfdata file in /tmp; temp files in the work dir; JIT
        # compiler threads that live as long as the JVM, so host.tree_cpu_s
        # can leave their CPU time out
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # get_spark's default 8g heap would let one run hold ~7 GB of
        # the host's memory; the 5000-doc corpus needs far less
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    conf = prepare_env(work)

    # fails (non-zero exit, no result line) when the program is absent
    import search_engine_wikipedia_spark  # noqa: F401

    from perfbench import eventlog, inputs, layers
    from perfbench.host import Sampler
    from perfbench.trace import NullTracer, Tracer
    from perfbench.workloads import WORKLOADS, Run, source_fingerprint

    nproc = len(os.sched_getaffinity(0))
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    tracer = Tracer() if args.trace else NullTracer()
    run = Run(work, args.seed, args.seconds, tracer, nproc, conf)
    sampler = Sampler().start()
    t_start = time.time()
    try:
        cache = os.path.join(base, "cache", source_fingerprint(ROOT))
        wl = WORKLOADS[args.workload](run, cache)
        spark_conf = dict(run.spark.sparkContext.getConf().getAll())
    finally:
        run.stop_session()
    host = sampler.stop()

    e2e = {
        "setup_s": (wl["setup_s"], "s"),
        "work_cpu_s": (wl["work_cpu_s"], "s"),
        "hot_query_cpu_ms": (wl["hot_query_cpu_ms"], "ms"),
        "cold_query_cpu_ms": (wl["cold_query_cpu_ms"], "ms"),
        "index_bytes_per_text_byte": (wl["index_bytes"] / wl["text_bytes"],
                                      "ratio"),
    }
    # wall-clock numbers and memory: per-layer metrics and the record,
    # not bounded (host steal moves wall times 2-3x between runs, and peak
    # RSS with the number of Python workers Spark keeps; see README)
    wm = layers.workload_metrics(wl)
    wall = {"work_s": wl["work_s"],
            "hot_query_ms_p50": wm["hot_query_ms_p50"],
            "cold_query_ms_p50": wm["cold_query_ms_p50"]}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "n_docs": inputs.N_DOCS, "nproc": nproc,
        "commit": git_commit(), "source": source_fingerprint(ROOT),
        "started": t_start, "wall_s": time.time() - t_start,
        "spark_conf": spark_conf, "host": host,
        "attempted": run.attempted, "failed": run.failed,
        "failures": run.failures,
        "setup_reps": wl["setup_reps"],
        "setup_wall_reps": wl["setup_wall_reps"],
        "segments": wl.get("segments"),
        "ops": wl["ops"],
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "wall": wall,
        "workload_metrics": wm,
        "tails": layers.query_tails(wl),
        **run.record,
    }
    if args.trace:
        jobs = eventlog.parse_dir(log_dir)
        per_layer = layers.all_metrics(tracer, jobs, wl)
        per_layer.update(wall, peak_rss_mb=host["peak_rss_mb"])
        per_layer.update(trace_overhead(base, record))
        record["per_layer"] = per_layer
        for sp in tracer.spans:  # per-span job rows for the spans file
            js = eventlog.in_window(jobs, tracer.epoch(sp["start"]),
                                    tracer.epoch(sp["end"]))
            if js:
                sp["spark"] = eventlog.totals(js)
        tracer.write(os.path.join(
            base, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = {k: {"value": v, "unit": layers.unit(k)}
                   for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(base, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    if run.failures:
        print("failures:", *run.failures[:10], sep="\n  ", file=sys.stderr)
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


def trace_overhead(base: str, record: dict) -> dict:
    """Traced minus untraced wall numbers (``work_s`` and the per-kind
    query p50s) against the latest untraced run of the same workload,
    seed, seconds and source in the run log (0 when there is none; the
    record says which)."""
    path = os.path.join(base, "runs.jsonl")
    match = None
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                if r.get("trace") == 0 and all(
                        r.get(k) == record[k]
                        for k in ("workload", "seed", "seconds", "source")):
                    match = r
    record["overhead_base"] = match and match["started"]
    return {f"trace.overhead.{k}":
            v - match["wall"].get(k, v) if match else 0.0
            for k, v in record["wall"].items()}


if __name__ == "__main__":
    sys.exit(main())
