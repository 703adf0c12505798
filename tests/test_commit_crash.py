"""Crash-injection sweep over the commit protocol: a FileIO wrapper
raises OSError at the Nth metadata primitive of one ``append`` and one
merge-on-read ``delete_where``, for every N the operation makes. After
each injected crash a fresh ``LakehouseTable`` must read either the
pre-op or the post-op rows, and every data and delete file its current
snapshot names must exist — commits are atomic at every crash point."""

from __future__ import annotations

import os
import shutil

import pytest

from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh
from biglake_iceberg_pipeline_spark.sinks.fileio import (
    LOCAL,
    register_fileio,
    unregister_fileio,
)


class _CrashAt:
    """Delegates every FileIO primitive to the local filesystem; once
    armed, the Nth call raises OSError (``arm(0)`` only counts)."""

    def __init__(self):
        self.fail_at = None
        self.calls = 0

    def arm(self, n: int | None) -> None:
        self.fail_at, self.calls = n, 0

    def __getattr__(self, name):
        real = getattr(LOCAL, name)

        def call(*args, **kwargs):
            if self.fail_at is not None:
                self.calls += 1
                if self.calls == self.fail_at:
                    raise OSError(f"injected crash at {name} #{self.calls}")
            return real(*args, **kwargs)

        return call


@pytest.fixture
def crash_io(tmp_path):
    io = _CrashAt()
    register_fileio(str(tmp_path), io)
    yield io
    unregister_fileio(str(tmp_path))


def _state(spark, path: str) -> int:
    """Row count a fresh reader sees; asserts the current snapshot's
    data and delete files are all on disk. The process-wide metadata
    caches are dropped first, so the read is what a restarted process
    would see after the crash."""
    for cache in (
        lh._ASSEMBLY_CACHE, lh._SEGMENT_CACHE, lh._SEGMENT_DECODE_CACHE
    ):
        cache.clear()
    t = lh.LakehouseTable(path)
    snap = t.snapshots[-1]
    named = list(snap["files"]) + list(snap.get("deletes", []))
    missing = [f for f in named if not os.path.exists(os.path.join(path, f))]
    assert not missing, missing
    return t.read(spark).count()


def _sweep(spark, crash_io, template: str, name: str, op) -> int:
    """Run ``op`` on a fresh copy of ``template`` once per FileIO call
    it makes, crashing at that call; returns the number of crash
    points swept."""
    pre = _state(spark, template)
    probe = f"{template}-{name}-probe"
    shutil.copytree(template, probe)
    crash_io.arm(0)
    op(lh.LakehouseTable(probe))
    total = crash_io.calls
    crash_io.arm(None)
    post = _state(spark, probe)
    assert post != pre and total > 0
    for n in range(1, total + 1):
        copy = f"{template}-{name}-crash{n}"
        shutil.copytree(template, copy)
        crash_io.arm(n)
        try:
            op(lh.LakehouseTable(copy))
        except OSError:
            pass
        crash_io.arm(None)
        assert _state(spark, copy) in (pre, post), f"crash at call {n}"
    return total


def test_append_and_mor_delete_survive_a_crash_at_every_fileio_call(
    spark, tmp_path, crash_io
):
    template = str(tmp_path / "t")
    lh.LakehouseTable(template).append(
        spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "id long, grp long"
        ).coalesce(1)
    )
    extra = spark.createDataFrame(
        [(i, 9) for i in range(100, 110)], "id long, grp long"
    ).coalesce(1)
    assert _sweep(
        spark, crash_io, template, "append", lambda t: t.append(extra)
    ) > 5
    assert _sweep(
        spark,
        crash_io,
        template,
        "delete",
        lambda t: t.delete_where(spark, "grp = 1", mode="merge-on-read"),
    ) > 5
