"""Pins for the O(live)-free commit path (VERDICT r10 item 4): lazy
append entries (pre-encoded deltas, no full-list materialization),
the size-based tail seal, the per-generation assembly cache's clone
isolation, and the file_added_at watermark's self-heal. Timing
assertions live in tools/manifest_probe.py (run per round, recorded
in SURVEY §6); these tests pin the FUNCTIONAL invariants that make
those numbers safe to rely on."""

from __future__ import annotations

import json
import os

import pytest

from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
    _SEGMENT_SEAL_BYTES,
    LakehouseTable,
    _LazySnapshot,
)


def _append(t: LakehouseTable, files: list[str]) -> int:
    return t._locked_commit(
        "append", files, {f: {} for f in files}, None,
        inherit_prev_files=True,
    )[0]


def _core(t: LakehouseTable) -> dict:
    with open(t.manifest_path) as fh:
        return json.load(fh)


def test_append_commit_writes_delta_without_materializing(tmp_path):
    """A steady-state append's tail entry is written as files_added
    and the in-memory entry stays unmaterialized through the commit
    (the encoder passed the pending delta through)."""
    t = LakehouseTable(str(tmp_path / "t"))
    for i in range(5):
        _append(t, [f"data/f{i}.parquet"])
    snap_id = t._locked_commit(
        "append", ["data/f5.parquet"], {}, None,
        inherit_prev_files=True,
    )[0]
    core = _core(t)
    seg = core["segments"][-1]["name"]
    with open(os.path.join(t.path, "_segments", seg)) as fh:
        entries = json.load(fh)["snapshots"]
    last = entries[-1]
    assert last["id"] == snap_id
    assert "files" not in last
    assert last["files_added"] == ["data/f5.parquet"]
    # and reconstruction is exact
    snaps = t.snapshots
    assert snaps[-1]["files"] == [
        f"data/f{i}.parquet" for i in range(6)
    ]


def test_history_reconstructs_across_reset_boundaries(tmp_path):
    """300 lazy appends cross the 256-commit reset cadence: the reset
    segment's first entry must encode FULL (a pending delta passed
    through against the reset's empty boundary would truncate every
    snapshot before it). Every historical list must round-trip."""
    t = LakehouseTable(str(tmp_path / "t"))
    for i in range(400):
        _append(t, [f"data/f{i}.parquet"])
    snaps = t.snapshots
    assert len(snaps) == 400
    # the second reset segment starts at commit 321 (segment 5 after
    # four continuation segments); 320/321/322 straddle its boundary
    for k in (0, 99, 319, 320, 321, 322, 399):
        assert snaps[k]["files"] == [
            f"data/f{i}.parquet" for i in range(k + 1)
        ], k
    # at least one reset segment exists beyond the first
    core = _core(t)
    assert sum(1 for d in core["segments"] if d.get("reset")) >= 2


def test_fat_tail_segment_seals_by_size(tmp_path):
    """One 20k-file initial load exceeds the byte seal: the next
    commit must NOT re-serialize it — the fat segment seals and later
    tails stay delta-sized."""
    t = LakehouseTable(str(tmp_path / "t"))
    big = [f"data/b{i:06d}.parquet" for i in range(20_000)]
    _append(t, big)
    core1 = _core(t)
    fat = core1["segments"][-1]
    assert fat["bytes"] > _SEGMENT_SEAL_BYTES
    _append(t, ["data/one.parquet"])
    core2 = _core(t)
    # the fat segment was reused by name (sealed), not folded
    assert core2["segments"][0]["name"] == fat["name"]
    tail = core2["segments"][-1]
    assert tail["name"] != fat["name"]
    assert tail["bytes"] < 4096
    # and a third commit keeps the tail small
    _append(t, ["data/two.parquet"])
    assert _core(t)["segments"][-1]["bytes"] < 4096
    assert len(t.snapshots[-1]["files"]) == 20_002


def test_assembly_cache_clone_isolation(tmp_path):
    """Mutating one read's manifest (maps, snapshot list, nested
    dicts) without committing must never leak into the next read of
    the same generation."""
    t = LakehouseTable(str(tmp_path / "t"))
    _append(t, ["data/a.parquet"])
    _append(t, ["data/b.parquet"])
    m1 = t._read_manifest()
    m1["snapshots"].append({"id": 99, "operation": "junk", "files": []})
    m1.setdefault("txns", {})["ghost"] = 7
    m1.setdefault("file_rows", {})["data/ghost.parquet"] = 123
    m1["file_rows"].pop("data/a.parquet", None)
    m2 = t._read_manifest()
    assert [s["id"] for s in m2["snapshots"]] == [1, 2]
    assert "ghost" not in m2.get("txns", {})
    assert "data/ghost.parquet" not in m2.get("file_rows", {})


def test_assembly_cache_sees_foreign_commits(tmp_path):
    """A second writer instance advancing the table invalidates the
    first instance's cached assembly (fingerprint = generation +
    segment names)."""
    t1 = LakehouseTable(str(tmp_path / "t"))
    _append(t1, ["data/a.parquet"])
    assert len(t1.snapshots) == 1
    t2 = LakehouseTable(str(tmp_path / "t"))
    _append(t2, ["data/b.parquet"])
    snaps = t1.snapshots  # fresh read through t1's path
    assert [s["id"] for s in snaps] == [1, 2]
    assert snaps[-1]["files"] == ["data/a.parquet", "data/b.parquet"]


def test_assembly_cache_recreated_table_not_masked(tmp_path):
    """Dropping a table directory and recreating it at the same path
    must never serve the old table's cached assembly, even at a
    colliding generation number (segment names are uuid-fresh)."""
    import shutil

    path = str(tmp_path / "t")
    t = LakehouseTable(path)
    _append(t, ["data/old.parquet"])
    shutil.rmtree(path)
    t2 = LakehouseTable(path)
    _append(t2, ["data/new.parquet"])
    assert LakehouseTable(path).snapshots[-1]["files"] == [
        "data/new.parquet"
    ]


def test_file_added_at_watermark_heals_after_bypass(tmp_path):
    """A commit path that bypasses _locked_commit (hand-built entry,
    branch splice) leaves the watermark stale; the NEXT append must
    run the full backfill so every inherited file gets its
    equality-delete-scope stamp."""
    t = LakehouseTable(str(tmp_path / "t"))
    _append(t, ["data/a.parquet"])
    with t._locked_manifest() as m:
        m["snapshots"] = list(m["snapshots"]) + [
            {
                "id": 2,
                "operation": "splice",
                "files": ["data/a.parquet", "data/spliced.parquet"],
            }
        ]
        t._commit(m)  # no stamp for spliced, watermark stays at 1
    _append(t, ["data/c.parquet"])
    m = t._read_manifest()
    fa = m["file_added_at"]
    assert fa["data/a.parquet"] == 1
    # backfilled at the PREVIOUS tail (existed at or before it),
    # never at the new snapshot id
    assert fa["data/spliced.parquet"] == 2
    assert fa["data/c.parquet"] == 3
    assert m["file_added_at_tail"] == 3


def test_duplicate_guard_still_fires_via_fast_path(tmp_path):
    """The O(k) duplicate guard (file_added_at membership prefilter)
    must still reject re-registering a live file."""
    t = LakehouseTable(str(tmp_path / "t"))
    _append(t, ["data/a.parquet"])
    _append(t, ["data/b.parquet"])
    with pytest.raises(ValueError, match="already registered"):
        _append(t, ["data/a.parquet"])


def test_lazy_entry_deep_chain_materializes_iteratively(tmp_path):
    """Many uncommitted-in-sequence lazy entries chain predecessor to
    predecessor; materializing the newest must not recurse per hop
    (RecursionError at production history lengths)."""
    import sys

    t = LakehouseTable(str(tmp_path / "t"))
    # build a LONG chain of in-memory lazy append entries without
    # intermediate disk reads (each commit seeds the cache, and the
    # next read's clone shares the prior entry objects)
    for i in range(1200):
        _append(t, [f"data/f{i}.parquet"])
    snaps = t.snapshots
    entry = snaps[-1]
    if isinstance(entry, _LazySnapshot):
        old = sys.getrecursionlimit()
        sys.setrecursionlimit(200)
        try:
            files = entry["files"]
        finally:
            sys.setrecursionlimit(old)
    else:
        files = entry["files"]
    assert len(files) == 1200


def test_pending_entry_mutation_disables_passthrough(tmp_path):
    """Shadowing a pending entry's file list must clear the
    pre-encoded delta — committing the mutated manifest encodes the
    ACTUAL list, not the stale delta."""
    t = LakehouseTable(str(tmp_path / "t"))
    _append(t, ["data/a.parquet"])
    with t._locked_manifest() as m:
        entry = m["snapshots"][-1]
        if isinstance(entry, _LazySnapshot):
            entry["files"] = ["data/rewritten.parquet"]
            assert entry._pending is None
        else:
            entry["files"] = ["data/rewritten.parquet"]
        t._commit(m)
    assert LakehouseTable(t.path).snapshots[-1]["files"] == [
        "data/rewritten.parquet"
    ]


def test_interior_expiry_does_not_corrupt_disk_encoding(tmp_path):
    """/code-review r11, reproduced live: expiring an INTERIOR
    snapshot (tagged older survivor + expired direct predecessor)
    re-encodes the tail entry behind a different base; the pending
    pass-through must detect the predecessor changed (pred_id
    anchor) and diff instead — otherwise the on-disk list silently
    drops the expired commit's files while the in-process assembly
    cache keeps showing the correct one."""
    from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh

    t = LakehouseTable(str(tmp_path / "t"))
    for f in ("data/a.parquet", "data/b.parquet", "data/c.parquet"):
        _append(t, [f])
    t.tag("keep", 1)
    t.expire_snapshots(keep_last=1)
    mem = t.snapshots[-1]["files"]
    # disk truth: bypass every in-process cache
    lh._ASSEMBLY_CACHE.clear()
    lh._SEGMENT_CACHE.clear()
    lh._SEGMENT_DECODE_CACHE.clear()
    disk = LakehouseTable(t.path).snapshots[-1]["files"]
    want = ["data/a.parquet", "data/b.parquet", "data/c.parquet"]
    assert mem == want
    assert disk == want  # b.parquet survived the re-encode
