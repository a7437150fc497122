"""Scratch purge liveness: session._purge_stale_local_dirs removes a
spark-* scratch tree only when nothing under it was touched for an hour."""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pytest

from lucene_solr_spark.session import _purge_stale_local_dirs


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no /dev/shm")
def test_purge_keeps_live_nested_files_and_removes_stale_trees():
    local = tempfile.mkdtemp(prefix="lss-purge-", dir="/dev/shm")
    try:
        old = time.time() - 2 * 3600

        def age(path):
            os.utime(path, (old, old))

        # live: old top-level and blockmgr dirs, but a fresh shuffle file
        live = os.path.join(local, "spark-live")
        live_bm = os.path.join(live, "blockmgr-1", "0a")
        os.makedirs(live_bm)
        with open(os.path.join(live_bm, "shuffle_0_0_0.data"), "wb") as f:
            f.write(b"x")
        age(live_bm)
        age(os.path.dirname(live_bm))
        age(live)

        # stale: every entry of the tree is old
        stale = os.path.join(local, "spark-stale")
        stale_bm = os.path.join(stale, "blockmgr-2", "0b")
        os.makedirs(stale_bm)
        data = os.path.join(stale_bm, "shuffle_1_0_0.data")
        with open(data, "wb") as f:
            f.write(b"y")
        for p in (data, stale_bm, os.path.dirname(stale_bm), stale):
            age(p)

        _purge_stale_local_dirs(local)

        assert os.path.isdir(live_bm)
        assert not os.path.exists(stale)
    finally:
        shutil.rmtree(local, ignore_errors=True)
