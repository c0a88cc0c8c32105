"""Scratch trees of the mutating lifecycle entries: a tree left behind
by a process that has exited is reclaimed by the next entry."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import __spark_entry__ as entry_mod


def test_lifecycle_scratch_reaps_dead_pid_trees(tmp_path, monkeypatch):
    src = tmp_path / "index"
    src.mkdir()
    (src / "part.parquet").write_bytes(b"x")
    monkeypatch.setattr(entry_mod, "_engine_index", lambda spark, sf: str(src))
    sf_dir = str(tmp_path / f"sfreap{os.getpid()}")
    prefix = f"/tmp/sewiki_lifecycle_{os.path.basename(sf_dir)}_"

    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()  # its pid is now free: a crashed run's leftover
    dead = f"{prefix}{child.pid}"
    alive = f"{prefix}{os.getppid()}"  # a concurrent run still reading
    try:
        for d in (dead, alive):
            os.makedirs(d)
        scratch = entry_mod._lifecycle_scratch(None, sf_dir, "lifecycle")
        assert scratch == f"{prefix}{os.getpid()}"
        assert os.path.exists(os.path.join(scratch, "part.parquet"))
        assert not os.path.exists(dead)
        assert os.path.exists(alive)
    finally:
        for d in (dead, alive, f"{prefix}{os.getpid()}"):
            shutil.rmtree(d, ignore_errors=True)


def test_engine_index_rebuilds_a_tree_without_recorded_settings(
        spark, tmp_path):
    """A cached index tree whose input fingerprint matches but which
    records no builder settings (built before they were recorded) is
    rebuilt, not refused by the build's settings check."""
    import json

    import pandas as pd

    from search_engine_wikipedia_spark.sources import catalog

    sf_dir = tmp_path / f"sfplant{os.getpid()}"
    sf_dir.mkdir()
    pd.DataFrame({
        "doc_id": list(range(12)),
        "text": [f"planted document {i} about topic{i % 3}"
                 for i in range(12)],
        "lang": ["en"] * 12,
    }).to_parquet(sf_dir / "documents.parquet")
    root = f"/tmp/sewiki_index_{sf_dir.name}"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        with open(os.path.join(root, "_INPUT.json"), "w") as f:
            json.dump({"fingerprint": entry_mod._input_fingerprint(
                str(sf_dir)), "sf_dir": str(sf_dir)}, f)
        catalog.write_schema_meta(root, {
            "text_analyzer": "text", "title_analyzer": "title",
            "n_term_buckets": 32})
        with open(os.path.join(root, "stale.marker"), "w") as f:
            f.write("from the old tree")

        assert entry_mod._engine_index(spark, str(sf_dir)) == root
        assert not os.path.exists(os.path.join(root, "stale.marker"))
        meta = catalog.read_schema_meta(root)
        assert (meta["n_segments"], meta["shard_size"]) == (8, 100_000)
        with open(os.path.join(root, "_INPUT.json")) as f:
            assert json.load(f)["settings"]["shard_size"] == 100_000
        assert catalog.read_table(spark, root, "docs").count() == 12
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_engine_index_rebuilds_a_tree_without_a_snapshot(spark, tmp_path):
    """A cached index tree whose ``_INPUT.json`` matches but which holds
    no ``_SNAPSHOT.json`` (written before indexes committed one) lists
    no table to resume from: it is rebuilt, not failed on."""
    import json

    import pandas as pd

    from search_engine_wikipedia_spark.operators.build import IndexBuilder
    from search_engine_wikipedia_spark.sources import catalog

    sf_dir = tmp_path / f"sfnosnap{os.getpid()}"
    sf_dir.mkdir()
    pd.DataFrame({
        "doc_id": list(range(12)),
        "text": [f"planted document {i} about topic{i % 3}"
                 for i in range(12)],
        "lang": ["en"] * 12,
    }).to_parquet(sf_dir / "documents.parquet")
    root = f"/tmp/sewiki_index_{sf_dir.name}"
    shutil.rmtree(root, ignore_errors=True)
    settings = IndexBuilder(spark, root, n_segments=8,
                            shard_size=100_000).settings
    os.makedirs(os.path.join(root, "docs"))
    try:
        with open(os.path.join(root, "_INPUT.json"), "w") as f:
            json.dump({"fingerprint": entry_mod._input_fingerprint(
                str(sf_dir)), "settings": settings,
                "sf_dir": str(sf_dir)}, f)
        catalog.write_schema_meta(root, dict(settings))
        with open(os.path.join(root, "docs", "_MANIFEST.json"), "w") as f:
            json.dump({"files": []}, f)

        assert entry_mod._engine_index(spark, str(sf_dir)) == root
        assert not os.path.exists(
            os.path.join(root, "docs", "_MANIFEST.json"))
        assert catalog.read_snapshot(root) is not None
        assert catalog.read_table(spark, root, "docs").count() == 12
    finally:
        shutil.rmtree(root, ignore_errors=True)
