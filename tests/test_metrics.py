"""Per-partition footer metrics: counts must agree with the tables
themselves, and the emitted lineage rows must land queryable."""

from pyspark.sql import functions as F

from search_engine_wikipedia_spark.operators import metrics as M
from search_engine_wikipedia_spark.sources import catalog


def test_partition_metrics_match_table_counts(spark, built_index):
    root, _ = built_index
    for name in ("docs", "postings", "postings_seg"):
        parts = M.table_partition_metrics(root, name)
        assert parts, name
        total = sum(p["rows"] for p in parts)
        assert total == catalog.read_table(spark, root, name).count(), name
        assert all(p["bytes"] > 0 for p in parts)
    # postings files carry their tbucket partition value
    pparts = M.table_partition_metrics(root, "postings")
    assert any("tbucket" in p["partition"] for p in pparts)


def test_skew_report_shape(spark, built_index):
    root, _ = built_index
    rep = M.skew_report(root, "postings", top=3)
    assert rep["n_files"] > 0
    assert rep["total_rows"] > 0
    assert rep["max_rows"] >= rep["p50_rows"]
    assert rep["skew_ratio"] >= 1.0
    assert len(rep["top"]) <= 3
    assert rep["top"][0]["rows"] == rep["max_rows"]
    assert M.skew_report(root, "no_such_table") == {
        "table": "no_such_table", "n_files": 0}


def test_serving_partition_stats(spark, built_index):
    """Per-partition queries/sec: every query counted exactly once
    across task partitions, kernel timings present."""
    from search_engine_wikipedia_spark.plans.query import (
        SearchIndex, serving_partition_stats,
    )
    from search_engine_wikipedia_spark.synth import QUERIES

    root, _ = built_index
    idx = SearchIndex(spark, root)
    stats = serving_partition_stats(idx, list(QUERIES[:8]) * 3, limit=5)
    assert sum(s["n_queries"] for s in stats) == 24
    assert all(s["kernel_sec"] >= 0 for s in stats)
    assert any(s["queries_per_sec"] for s in stats)
    assert len({s["partition_id"] for s in stats}) == len(stats)


def test_emit_partition_metrics_lands_in_manifests(spark, built_index):
    root, _ = built_index
    n = M.emit_partition_metrics(spark, root, ["docs"])
    assert n == len(M.table_partition_metrics(root, "docs"))
    rows = (
        catalog.read_lineage(spark, root)
        .where(F.col("stage") == "metrics:docs").collect()
    )
    assert len(rows) == n  # sole emitter for this fixture
    emitted = sum(int(r["n_docs"]) for r in rows)
    assert emitted == catalog.read_table(spark, root, "docs").count()


def test_build_skew_gate(spark, built_index):
    """CI gate on partition balance: a merge regression that unbalances
    the tbucket layout (e.g. a broken salt or hash) shows up as one
    giant postings file — skew_ratio ≈ n_files.  At fixture scale the
    healthy layout measures ~1.5 on postings (32 buckets × ~24 rows is
    noisy) and ~1.1 on the docs table; the bounds below are wide
    enough for sampling noise, tight enough that any structural
    imbalance (ratio ≥ n_files/2) fails loudly."""
    root, _ = built_index
    postings = M.skew_report(root, "postings")
    assert postings["n_files"] >= 8
    assert postings["skew_ratio"] <= 3.0, postings
    docs = M.skew_report(root, "docs")
    assert docs["skew_ratio"] <= 2.0, docs
