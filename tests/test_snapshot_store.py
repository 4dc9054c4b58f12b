"""SnapshotStore stage/publish invariants (the table-format commit split
introduced so the crawl round can overlap its bloom shard job with the
snapshot's delta writes — crawl.py run_round)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from facebook_page_scrapy_spark.state.snapshot import SnapshotStore, StaleSnapshotError


def _df(spark, n, tag):
    return spark.range(n).selectExpr("id", f"'{tag}' AS tag")


def test_staged_files_invisible_until_publish(spark, tmp_path):
    """Crash atomicity: a crash between stage and publish must leave the
    previous snapshot intact — staged delta files exist on disk but no
    reader can see them until the manifest rename."""
    store = SnapshotStore(str(tmp_path / "snap"))
    store.commit({"t": _df(spark, 5, "a")})
    assert store.latest() == 1
    assert store.read(spark, "t").count() == 5

    # stage a second delta but never publish (simulated crash)
    sid = store.manifest()["snapshot_id"] + 1
    written = store.stage(sid, {"t": _df(spark, 7, "b")})
    assert len(written) == 1
    assert store.latest() == 1  # no new snapshot visible
    assert store.read(spark, "t").count() == 5  # reader unchanged

    # a later commit (the "resume") proceeds from the published state and
    # simply strands the orphaned staged files
    store.commit({"t": _df(spark, 3, "c")})
    assert store.latest() == 2
    assert store.read(spark, "t").count() == 8  # 5 + 3, never the orphaned 7


def test_publish_after_stage_equals_commit(spark, tmp_path):
    """stage + publish is exactly commit: same manifest chain, same
    merge-on-read composition, same meta carriage."""
    a = SnapshotStore(str(tmp_path / "a"))
    b = SnapshotStore(str(tmp_path / "b"))
    a.commit({"t": _df(spark, 4, "x")}, meta={"round": 1})
    sid = b.manifest()["snapshot_id"] + 1
    b.publish(sid, b.stage(sid, {"t": _df(spark, 4, "x")}), meta={"round": 1})
    assert a.manifest()["meta"] == b.manifest()["meta"]
    assert a.read(spark, "t").count() == b.read(spark, "t").count() == 4

    # staged-in-two-parts publish (the round's stat-independent deltas
    # first, lineage after) composes identically to a single commit
    a.commit({"t": _df(spark, 2, "y"), "u": _df(spark, 6, "z")})
    sid = b.manifest()["snapshot_id"] + 1
    staged = b.stage(sid, {"t": _df(spark, 2, "y")})
    staged += b.stage(sid, {"u": _df(spark, 6, "z")})
    b.publish(sid, staged)
    assert b.read(spark, "t").count() == a.read(spark, "t").count() == 6
    assert b.read(spark, "u").count() == a.read(spark, "u").count() == 6


def test_publish_rejects_stale_sid(spark, tmp_path):
    """publish checks the snapshot chain is unbroken — a concurrent commit
    between stage and publish must fail loudly, not fork history."""
    store = SnapshotStore(str(tmp_path / "snap"))
    store.commit({"t": _df(spark, 1, "a")})
    sid = store.manifest()["snapshot_id"] + 1
    written = store.stage(sid, {"t": _df(spark, 1, "b")})
    store.commit({"t": _df(spark, 1, "c")})  # someone else commits sid
    with pytest.raises(StaleSnapshotError):
        store.publish(sid, written)
    assert store.latest() == 2


def test_publish_stale_sid_raises_under_optimize(tmp_path):
    """The stale-id check is an exception, not an ``assert``: it still runs
    when Python strips asserts (``python -O``)."""
    code = (
        "import sys\n"
        "from facebook_page_scrapy_spark.state.snapshot import SnapshotStore, StaleSnapshotError\n"
        "store = SnapshotStore(sys.argv[1])\n"
        "store.publish(1, [])\n"
        "try:\n"
        "    store.publish(1, [])\n"
        "except StaleSnapshotError:\n"
        "    sys.exit(0)\n"
        "sys.exit(1)\n"
    )
    done = subprocess.run(
        [sys.executable, "-O", "-c", code, str(tmp_path / "snap")],
        cwd=Path(__file__).resolve().parents[1], capture_output=True, text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
