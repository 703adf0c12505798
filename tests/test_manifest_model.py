"""Model-based randomized test of the segmented-manifest layer.

The encoder/decoder/commit-reuse space has produced four subtle bugs
across rounds 9-10 (empty-reset-tail decode truncation, keyless-
predecessor resurrection, the NDV-interleave fold, the re-split map
wipe) — each found by a targeted repro AFTER the fact. This test
hunts the NEXT one proactively: a seeded random walk over the
metadata operations (appends, MoR delete tails, delete
materializations, map-only commits, map deletions, wholesale map
replacement, replace-rewrites, history expiry, keyless foreign
snapshots, segment compaction) maintains a driver-side PYTHON MODEL
of the expected state, and after every step a FRESH table instance
must decode exactly the model — every snapshot's full file AND
delete list, every per-file map entry. Every check reads DISK truth
(the process caches are cleared for the read and then RESTORED):
clearing asserts the on-disk bytes rather than the commit-seeded
in-memory state, and restoring keeps production-like cached state —
pending entries included — alive BETWEEN steps; the r11
expiry-vs-passthrough corruption was exactly a
disk-diverges-from-cache bug, invisible to a cached read and
unreachable if the caches were wiped every step. Constants are shrunk (seal=3,
reset=2) so segment boundaries, reset cadences, folds and re-splits
are all crossed within a short walk. No Spark session: this exercises
exactly the metadata path (`_read_manifest` → mutate → `_commit`)."""

from __future__ import annotations

import random

import pytest

from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh


def _commit(t, mutate):
    with t._locked_manifest() as m:
        mutate(m)
        t._commit(m)


# Mutation-verified seeds, RE-RUN under the r11 op distribution
# (adding ops reshuffles every rng draw, so earlier verifications
# don't carry over): with the r10 empty-reset-tail fix reverted,
# 10 of 60 seeds fail — 10/26/31/39 among them; with the r11
# expiry-vs-passthrough pred_id anchor removed, 19 of 60 fail —
# 5/9/10/17/26 among them (verified with the cache-RESTORING
# disk-truth check + op_append_locked + op_expire_interior below;
# wiping the caches per step would hide that divergence class).
# Seeds 10 and 26 kill BOTH mutant classes.
@pytest.mark.parametrize(
    "seed", [1, 2, 3, 4, 5, 9, 10, 17, 26, 31, 39]
)
def test_random_walk_matches_model(tmp_path, seed):
    rng = random.Random(seed)
    old = (lh._SEGMENT_SEAL_SNAPSHOTS, lh._SEGMENT_RESET_EVERY)
    lh._SEGMENT_SEAL_SNAPSHOTS, lh._SEGMENT_RESET_EVERY = 3, 2
    try:
        t = lh.LakehouseTable(str(tmp_path / f"t{seed}"))
        # the model: snapshot list of (id, op, files tuple, keyless),
        # plus the two per-file maps this walk mutates
        model_snaps: list[dict] = []
        model_rows: dict[str, int] = {}
        model_ndv: dict[str, str] = {}
        model_meta: dict[str, dict] = {}
        ctr = 0

        def cur_files():
            return list(model_snaps[-1]["files"]) if model_snaps else []

        def next_id():
            return (model_snaps[-1]["id"] + 1) if model_snaps else 1

        def op_append(m):
            nonlocal ctr
            ctr += 1
            new = [f"data/f{ctr}_{j}" for j in range(rng.randint(1, 3))]
            files = cur_files() + new
            sid = next_id()
            for f in new:
                m.setdefault("file_rows", {})[f] = ctr
                model_rows[f] = ctr
            m["snapshots"] = list(m["snapshots"]) + [
                {"id": sid, "operation": "append", "files": files}
            ]
            model_snaps.append(
                {"id": sid, "files": files, "keyless": False}
            )

        def op_replace(m):
            # CoW-style rewrite: live set swapped for fresh files
            nonlocal ctr
            if not model_snaps:
                return op_append(m)
            ctr += 1
            files = [f"data/r{ctr}_{j}" for j in range(rng.randint(1, 2))]
            sid = next_id()
            for f in files:
                m.setdefault("file_rows", {})[f] = ctr
                model_rows[f] = ctr
            m["snapshots"] = list(m["snapshots"]) + [
                {"id": sid, "operation": "replace", "files": files}
            ]
            model_snaps.append(
                {"id": sid, "files": files, "keyless": False}
            )

        def op_mor_delete(m):
            # merge-on-read delete: same file list, a delete file
            # appended to the tail + its delete_meta entry — the
            # codec's SECOND encoded key ("deletes") plus a third
            # per-file map, exercised across every segment shape
            nonlocal ctr
            if not model_snaps:
                return op_append(m)
            ctr += 1
            d = f"deletes/d{ctr}"
            prev_tail = list(model_snaps[-1].get("deletes", []))
            sid = next_id()
            m.setdefault("delete_meta", {})[d] = {"kind": "position"}
            model_meta[d] = {"kind": "position"}
            m["snapshots"] = list(m["snapshots"]) + [
                {
                    "id": sid,
                    "operation": "delete",
                    "files": cur_files(),
                    "deletes": prev_tail + [d],
                }
            ]
            model_snaps.append(
                {
                    "id": sid,
                    "files": cur_files(),
                    "deletes": prev_tail + [d],
                    "keyless": False,
                }
            )

        def op_materialize(m):
            # delete materialization: fresh files, EMPTY delete tail
            nonlocal ctr
            if not model_snaps or not model_snaps[-1].get("deletes"):
                return op_mor_delete(m)
            ctr += 1
            files = [f"data/m{ctr}"]
            sid = next_id()
            m.setdefault("file_rows", {})[files[0]] = ctr
            model_rows[files[0]] = ctr
            m["snapshots"] = list(m["snapshots"]) + [
                {
                    "id": sid,
                    "operation": "replace",
                    "files": files,
                    "deletes": [],
                    "data_change": False,
                }
            ]
            model_snaps.append(
                {
                    "id": sid,
                    "files": files,
                    "deletes": [],
                    "keyless": False,
                }
            )

        def op_append_locked(_m_unused):
            # the REAL append path (_locked_commit): creates a lazy
            # PENDING entry whose delta pass-through must stay
            # anchored to its construction predecessor across every
            # later fold / re-split / interior expiry
            nonlocal ctr
            ctr += 1
            new = [f"data/l{ctr}_{j}" for j in range(rng.randint(1, 2))]
            sid = t._locked_commit(
                "append",
                new,
                {},
                None,
                inherit_prev_files=True,
            )[0]
            # _file_row_counts skips unreadable files: no entries
            model_snaps.append(
                {
                    "id": sid,
                    "files": cur_files() + new,
                    "deletes": list(
                        model_snaps[-1].get("deletes", [])
                    )
                    if model_snaps
                    else [],
                    "keyless": False,
                }
            )

        def op_keyless(m):
            sid = next_id()
            m["snapshots"] = list(m["snapshots"]) + [
                {"id": sid, "operation": "foreign"}
            ]
            model_snaps.append(
                {"id": sid, "files": [], "keyless": True}
            )

        def op_map_set(m):
            nonlocal ctr
            ctr += 1
            # half the time point at an existing data file, half at a
            # fresh synthetic one (refresh vs first-write shapes)
            files = cur_files()
            f = (
                rng.choice(files)
                if files and rng.random() < 0.5
                else f"stats/s{ctr}"
            )
            v = f"blob-{ctr}"
            m.setdefault("ndv_sidecars", {})[f] = v
            model_ndv[f] = v

        def op_map_del(m):
            if not model_ndv:
                return op_map_set(m)
            f = rng.choice(sorted(model_ndv))
            del m["ndv_sidecars"][f]
            del model_ndv[f]

        def op_map_replace_wholesale(m):
            nonlocal ctr
            ctr += 1
            # plain-dict replacement: loses _TrackedMap tracking, so
            # _commit must take the slow full-walk path correctly
            newmap = dict(model_ndv)
            newmap[f"stats/w{ctr}"] = f"blob-{ctr}"
            m["ndv_sidecars"] = newmap
            model_ndv[f"stats/w{ctr}"] = f"blob-{ctr}"

        def op_expire(m):
            # history expiry: drop a random count of leading
            # snapshots (forces broke_at / full re-split); dead
            # files' map entries prune like expire_snapshots does
            if len(model_snaps) < 3:
                return op_append(m)
            k = rng.randint(1, len(model_snaps) - 1)
            m["snapshots"] = list(m["snapshots"])[k:]
            del model_snaps[:k]
            live: set = set()
            for s in model_snaps:
                live.update(s["files"])
            for f in [x for x in model_rows if x not in live]:
                del m["file_rows"][f]
                del model_rows[f]

        def op_expire_interior(m):
            # TAG-protected expiry: an INTERIOR snapshot disappears
            # while older and newer survive — the adjacency every
            # pre-encoded (pending) delta was recorded against
            # breaks mid-list (the r11 corruption's exact shape)
            if len(model_snaps) < 4:
                return op_append(m)
            j = rng.randint(1, len(model_snaps) - 2)
            snaps = list(m["snapshots"])
            m["snapshots"] = snaps[:j] + snaps[j + 1 :]
            del model_snaps[j]
            live: set = set()
            for s in model_snaps:
                live.update(s["files"])
            for f in [x for x in model_rows if x not in live]:
                del m["file_rows"][f]
                del model_rows[f]

        def op_evolve(m):
            # schema-evolution shape: SAME files, SAME delete tail,
            # dataChange=false (rename/drop/widen commits) — a no-op
            # delta on both codec keys
            if not model_snaps:
                return op_append(m)
            sid = next_id()
            tail_del = list(model_snaps[-1].get("deletes", []))
            entry = {
                "id": sid,
                "operation": "evolve-schema",
                "files": cur_files(),
                "data_change": False,
            }
            if tail_del:
                entry["deletes"] = tail_del
            m["snapshots"] = list(m["snapshots"]) + [entry]
            model_snaps.append(
                {
                    "id": sid,
                    "files": cur_files(),
                    "deletes": tail_del,
                    "keyless": False,
                }
            )

        ops = [
            (op_append, 6),
            (op_append_locked, 3),
            (op_replace, 2),
            (op_mor_delete, 3),
            (op_materialize, 1),
            (op_keyless, 1),
            (op_map_set, 4),
            (op_map_del, 2),
            (op_map_replace_wholesale, 1),
            (op_expire, 1),
            (op_expire_interior, 1),
            (op_evolve, 1),
        ]
        weighted = [f for f, w in ops for _ in range(w)]

        def check(step):
            # DISK truth, not the commit-seeded cache — but RESTORE
            # the caches afterwards: production keeps commit-seeded
            # state (pending entries included) alive between
            # operations, and wiping it per step would hide exactly
            # the cache-vs-disk divergence class this walk hunts
            saved = (
                dict(lh._ASSEMBLY_CACHE),
                dict(lh._SEGMENT_CACHE),
                dict(lh._SEGMENT_DECODE_CACHE),
            )
            lh._ASSEMBLY_CACHE.clear()
            lh._SEGMENT_CACHE.clear()
            lh._SEGMENT_DECODE_CACHE.clear()
            t2 = lh.LakehouseTable(t.path)  # fresh decode from disk
            m2 = t2._read_manifest()
            got = [
                {
                    "id": s["id"],
                    "files": list(s.get("files", [])),
                    "deletes": list(s.get("deletes", [])),
                }
                for s in m2["snapshots"]
            ]
            want = [
                {
                    "id": s["id"],
                    "files": list(s["files"]),
                    "deletes": list(s.get("deletes", [])),
                }
                for s in model_snaps
            ]
            assert got == want, f"seed {seed} step {step}: snapshots"
            assert dict(m2.get("file_rows", {})) == model_rows, (
                f"seed {seed} step {step}: file_rows"
            )
            assert dict(m2.get("ndv_sidecars", {})) == model_ndv, (
                f"seed {seed} step {step}: ndv_sidecars"
            )
            assert dict(m2.get("delete_meta", {})) == model_meta, (
                f"seed {seed} step {step}: delete_meta"
            )
            lh._ASSEMBLY_CACHE.update(saved[0])
            lh._SEGMENT_CACHE.update(saved[1])
            lh._SEGMENT_DECODE_CACHE.update(saved[2])

        for step in range(60):
            action = rng.choice(weighted)
            if action is op_append_locked:
                action(None)  # commits itself under its own lock
            else:
                _commit(t, action)
            check(step)
            if rng.random() < 0.12:
                t.compact_manifest_segments(
                    max_segments=rng.randint(1, 3)
                )
                check(f"{step}+compact")
    finally:
        lh._SEGMENT_SEAL_SNAPSHOTS, lh._SEGMENT_RESET_EVERY = old


# Separate walk (own seeds, own rng stream) so the mutation-verified
# seed set of test_random_walk_matches_model stays valid — adding an
# op there would reshuffle every draw and silently retire its
# documented kill evidence.
@pytest.mark.parametrize("seed", [101, 102, 103, 104, 105, 106])
def test_delete_tail_shape_walk(tmp_path, seed):
    """Random walk over the DELETE-TAIL transition shapes the F51
    rewrite introduced: mor_delete appends one entry, dv_rewrite
    REPLACES the whole tail with one entry in a single commit
    (removals + addition — a delta the other walk never encodes),
    materialize empties it, expiry prunes delete_meta, segment
    compaction folds it all. Disk truth after every step."""
    rng = random.Random(seed)
    old = (lh._SEGMENT_SEAL_SNAPSHOTS, lh._SEGMENT_RESET_EVERY)
    lh._SEGMENT_SEAL_SNAPSHOTS, lh._SEGMENT_RESET_EVERY = 3, 2
    try:
        t = lh.LakehouseTable(str(tmp_path / "t"))
        model_snaps: list = []
        model_meta: dict = {}
        ctr = 0

        def cur_files():
            return list(model_snaps[-1]["files"]) if model_snaps else []

        def next_id():
            return (model_snaps[-1]["id"] + 1) if model_snaps else 1

        def op_append(m):
            nonlocal ctr
            ctr += 1
            sid = next_id()
            files = cur_files() + [f"data/a{ctr}"]
            prev_tail = (
                list(model_snaps[-1].get("deletes", []))
                if model_snaps
                else []
            )
            m["snapshots"] = list(m["snapshots"]) + [
                {
                    "id": sid,
                    "operation": "append",
                    "files": files,
                    "deletes": prev_tail,
                }
            ]
            model_snaps.append(
                {"id": sid, "files": files, "deletes": prev_tail}
            )

        def op_mor_delete(m):
            nonlocal ctr
            if not model_snaps:
                return op_append(m)
            ctr += 1
            d = f"deletes/d{ctr}"
            kind = rng.choice(["position", "position", "equality"])
            meta = (
                {"kind": "position"}
                if kind == "position"
                else {"kind": "equality", "keys": ["k"], "applies_to": ctr}
            )
            m.setdefault("delete_meta", {})[d] = meta
            model_meta[d] = meta
            sid = next_id()
            tail = list(model_snaps[-1].get("deletes", [])) + [d]
            m["snapshots"] = list(m["snapshots"]) + [
                {
                    "id": sid,
                    "operation": "delete",
                    "files": cur_files(),
                    "deletes": tail,
                }
            ]
            model_snaps.append(
                {"id": sid, "files": cur_files(), "deletes": tail}
            )

        def op_dv_rewrite(m):
            # the F51 commit shape: same files, whole tail replaced
            # by ONE dv entry, data_change=False
            nonlocal ctr
            if not model_snaps or not model_snaps[-1].get("deletes"):
                return op_mor_delete(m)
            ctr += 1
            d = f"deletes/dv{ctr}"
            m.setdefault("delete_meta", {})[d] = {
                "kind": "dv",
                "rows": ctr,
            }
            model_meta[d] = {"kind": "dv", "rows": ctr}
            sid = next_id()
            m["snapshots"] = list(m["snapshots"]) + [
                {
                    "id": sid,
                    "operation": "replace",
                    "files": cur_files(),
                    "deletes": [d],
                    "data_change": False,
                }
            ]
            model_snaps.append(
                {"id": sid, "files": cur_files(), "deletes": [d]}
            )

        def op_materialize(m):
            nonlocal ctr
            if not model_snaps or not model_snaps[-1].get("deletes"):
                return op_mor_delete(m)
            ctr += 1
            sid = next_id()
            files = cur_files() + [f"data/m{ctr}"]
            m["snapshots"] = list(m["snapshots"]) + [
                {
                    "id": sid,
                    "operation": "replace",
                    "files": files,
                    "deletes": [],
                    "data_change": False,
                }
            ]
            model_snaps.append(
                {"id": sid, "files": files, "deletes": []}
            )

        def op_expire(m):
            if len(model_snaps) < 3:
                return op_append(m)
            k = rng.randint(1, len(model_snaps) - 2)
            dropped = model_snaps[:k]
            del model_snaps[:k]
            m["snapshots"] = [
                s
                for s in m["snapshots"]
                if s["id"] >= model_snaps[0]["id"]
            ]
            live_d = {
                d for s in model_snaps for d in s.get("deletes", [])
            }
            for s in dropped:
                for d in s.get("deletes", []):
                    if d not in live_d:
                        model_meta.pop(d, None)
                        m.get("delete_meta", {}).pop(d, None)

        ops = [
            (op_append, 4),
            (op_mor_delete, 4),
            (op_dv_rewrite, 3),
            (op_materialize, 2),
            (op_expire, 1),
        ]
        weighted = [f for f, w in ops for _ in range(w)]

        def check(step):
            saved = (
                dict(lh._ASSEMBLY_CACHE),
                dict(lh._SEGMENT_CACHE),
                dict(lh._SEGMENT_DECODE_CACHE),
            )
            lh._ASSEMBLY_CACHE.clear()
            lh._SEGMENT_CACHE.clear()
            lh._SEGMENT_DECODE_CACHE.clear()
            m2 = lh.LakehouseTable(t.path)._read_manifest()
            got = [
                {
                    "id": s["id"],
                    "files": list(s.get("files", [])),
                    "deletes": list(s.get("deletes", [])),
                }
                for s in m2["snapshots"]
            ]
            want = [
                {
                    "id": s["id"],
                    "files": list(s["files"]),
                    "deletes": list(s.get("deletes", [])),
                }
                for s in model_snaps
            ]
            assert got == want, f"seed {seed} step {step}: snapshots"
            assert dict(m2.get("delete_meta", {})) == model_meta, (
                f"seed {seed} step {step}: delete_meta"
            )
            lh._ASSEMBLY_CACHE.update(saved[0])
            lh._SEGMENT_CACHE.update(saved[1])
            lh._SEGMENT_DECODE_CACHE.update(saved[2])

        for step in range(50):
            _commit(t, rng.choice(weighted))
            check(step)
            if rng.random() < 0.15:
                t.compact_manifest_segments(
                    max_segments=rng.randint(1, 3)
                )
                check(f"{step}+compact")
    finally:
        lh._SEGMENT_SEAL_SNAPSHOTS, lh._SEGMENT_RESET_EVERY = old
