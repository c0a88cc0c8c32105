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
