"""Lakehouse table tests: snapshot append/overwrite, time travel,
compaction, snapshot expiry, schema evolution on append."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable


def test_append_and_time_travel(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    s1 = t.append(spark.range(3).withColumn("v", F.lit("a")))
    s2 = t.append(spark.range(3, 5).withColumn("v", F.lit("b")))
    assert t.read(spark).count() == 5
    assert t.read(spark, snapshot_id=s1).count() == 3
    ops = [h["operation"] for h in t.history()]
    assert ops == ["append", "append"]
    assert s2 == t.current_snapshot_id()


def test_overwrite_resets(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(10))
    t.overwrite(spark.range(2))
    assert t.read(spark).count() == 2


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(100).repartition(8))
    t.append(spark.range(100, 200).repartition(8))
    before_files = len(t.snapshots[-1]["files"])
    assert before_files > 2
    t.compact(spark, target_files=2)
    assert len(t.snapshots[-1]["files"]) <= 2
    assert t.read(spark).count() == 200


def test_expire_snapshots_removes_dead_files(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(5))
    t.overwrite(spark.range(3))
    t.overwrite(spark.range(2))
    dead = t.snapshots[0]["files"]
    expired = t.expire_snapshots(keep_last=1)
    assert expired
    assert all(not os.path.exists(f) for f in dead)
    assert t.read(spark).count() == 2


def test_schema_evolution_on_append(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(2).withColumn("v", F.lit(1).cast("int")))
    # int incoming into int target: fine; missing column null-filled
    t.append(spark.range(2, 4))
    out = t.read(spark)
    assert out.where(F.col("v").isNull()).count() == 2
    # incompatible: v as string must be rejected
    bad = spark.range(4, 5).withColumn("v", F.lit("x"))
    with pytest.raises(ValueError, match="incompatible"):
        t.append(bad)


def test_widening_plan_and_align(spark):
    from biglake_iceberg_pipeline_spark.operators import schema_evolution as se

    target = spark.range(1).selectExpr(
        "CAST(id AS BIGINT) id", "CAST(1 AS DOUBLE) v"
    )
    incoming = spark.range(1).selectExpr(
        "CAST(id AS INT) id", "CAST(1 AS INT) v", "'x' extra"
    )
    plan = {p["column"]: p["action"] for p in se.widening_plan(incoming, target)}
    assert plan == {"id": "ok", "v": "ok", "extra": "add_column"}
    # Loader semantics: incoming-only columns are KEPT (added to the
    # table), never dropped; safe-narrower incoming casts up.
    aligned = se.align_for_append(incoming, target)
    assert dict(aligned.dtypes) == {
        "id": "bigint",
        "v": "double",
        "extra": "string",
    }


def test_append_adds_columns_and_widens(spark, tmp_path):
    """Reference-loader parity: an append carrying a new column adds
    it to the table (old rows read as NULL), and a wider incoming
    type widens the table column — nothing is dropped or narrowed."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(
        spark.range(2).selectExpr(
            "id", "CAST(id AS INT) small", "CAST(id AS STRING) s"
        )
    )
    t.append(
        spark.range(2, 4).selectExpr(
            "id",
            "CAST(id AS BIGINT) small",  # widen int -> bigint
            "CAST(id AS STRING) s",
            "CAST(id * 1.5 AS DOUBLE) score",  # brand-new column
        )
    )
    out = t.read(spark)
    dtypes = dict(out.dtypes)
    assert dtypes["small"] == "bigint" and dtypes["score"] == "double"
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {0, 1, 2, 3}
    # pre-evolution rows surface NULL for the added column
    assert rows[0]["score"] is None and rows[1]["score"] is None
    assert rows[3]["score"] == 4.5 and rows[3]["small"] == 3


def test_merge_keeps_source_only_columns(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    )
    src = spark.createDataFrame(
        [(2, "B", 9.0), (3, "c", 1.0)], "id long, name string, w double"
    )
    t.merge(spark, src, ["id"])
    rows = {r["id"]: r for r in t.read(spark).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["w"] is None  # kept row null-fills the new column
    assert rows[2]["name"] == "B" and rows[2]["w"] == 9.0


def test_merge_upsert(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id long, name string, v double",
        )
    )
    pre = t.current_snapshot_id()
    # id=2 updated, id=9 inserted
    src = spark.createDataFrame(
        [(2, "B", 99.0), (9, "z", 1.0)], "id long, name string, v double"
    )
    t.merge(spark, src, ["id"])
    rows = {r["id"]: r for r in t.read(spark).collect()}
    assert set(rows) == {1, 2, 3, 9}
    assert rows[2]["name"] == "B" and rows[2]["v"] == 99.0
    assert rows[1]["name"] == "a"
    # time travel still sees the pre-merge state
    old = {r["id"]: r for r in t.read(spark, snapshot_id=pre).collect()}
    assert old[2]["name"] == "b" and 9 not in old
    assert t.history()[-1]["operation"] == "merge"


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, name string"))
    dup = spark.createDataFrame(
        [(2, "x"), (2, "y")], "id long, name string"
    )
    with pytest.raises(ValueError, match="duplicate merge keys"):
        t.merge(spark, dup, ["id"])


def test_delete_where(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(10).withColumn("v", F.col("id") * 2))
    t.delete_where(spark, "id >= 7")
    assert t.read(spark).count() == 7
    t.delete_where(spark, F.col("id") < 2)
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(
        range(2, 7)
    )
    assert t.history()[-1]["operation"] == "delete"


def test_file_stats_recorded_and_pruned_scan(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    # range-partitioned write => disjoint per-file id ranges
    df = spark.range(1000).withColumn("v", F.col("id") % 10)
    t.append(df.repartitionByRange(4, "id"))
    all_files = t.snapshots[-1]["files"]
    assert len(all_files) == 4
    pruned = t.pruned_files({"id": (100, 120)})
    assert 0 < len(pruned) < len(all_files)
    got = t.scan(spark, {"id": (100, 120)})
    assert got.count() == 21
    assert sorted(r["id"] for r in got.collect()) == list(range(100, 121))
    # open bounds
    assert t.scan(spark, {"id": (990, None)}).count() == 10
    # no-intersection range: empty result, schema preserved
    empty = t.scan(spark, {"id": (5000, 6000)})
    assert empty.count() == 0
    assert empty.columns == ["id", "v"]


def test_pruned_scan_equals_full_filter_across_ops(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(100).withColumn("v", F.col("id") * 2))
    t.append(
        spark.range(100, 200)
        .withColumn("v", F.col("id") * 2)
        .repartitionByRange(2, "id")
    )
    t.delete_where(spark, "id BETWEEN 50 AND 59")
    expect = sorted(
        r["id"]
        for r in t.read(spark).where("id >= 40 AND id <= 110").collect()
    )
    got = sorted(r["id"] for r in t.scan(spark, {"id": (40, 110)}).collect())
    assert got == expect


def test_streaming_ingest_to_lakehouse_merge(spark, tmp_path):
    from biglake_iceberg_pipeline_spark.streaming.ingest import (
        start_ingest_to_lakehouse,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    (inbox / "f1.csv").write_text("ID,Name,Score\n1,alice,10\n2,bob,20\n")
    q = start_ingest_to_lakehouse(
        spark,
        str(inbox),
        str(tmp_path / "tbl"),
        str(tmp_path / "ckpt"),
        schema="ID long, Name string, Score long",
        merge_keys=["id"],
    )
    q.awaitTermination(180)
    t = LakehouseTable(str(tmp_path / "tbl"))
    assert {r["id"]: r["score"] for r in t.read(spark).collect()} == {
        1: 10,
        2: 20,
    }
    # second file updates id=2, inserts id=3 -> merge path
    (inbox / "f2.csv").write_text("ID,Name,Score\n2,bob,99\n3,carol,30\n")
    q2 = start_ingest_to_lakehouse(
        spark,
        str(inbox),
        str(tmp_path / "tbl"),
        str(tmp_path / "ckpt"),
        schema="ID long, Name string, Score long",
        merge_keys=["id"],
    )
    q2.awaitTermination(180)
    rows = {r["id"]: r["score"] for r in t.read(spark).collect()}
    assert rows == {1: 10, 2: 99, 3: 30}
    assert t.history()[-1]["operation"] == "merge"


def test_concurrent_appends_all_land(spark, tmp_path):
    """Parallel appends (Iceberg commute semantics): every writer's
    rows survive; snapshot ids are unique and dense."""
    from concurrent.futures import ThreadPoolExecutor

    t = LakehouseTable(str(tmp_path / "tbl"))

    def one_append(i):
        df = spark.range(i * 10, i * 10 + 10).withColumn("w", F.lit(i))
        return t.append(df)

    with ThreadPoolExecutor(max_workers=6) as ex:
        ids = list(ex.map(one_append, range(6)))
    assert sorted(ids) == [1, 2, 3, 4, 5, 6]
    assert t.read(spark).count() == 60
    assert (
        t.read(spark).select("id").distinct().count() == 60
    )  # no writer's rows lost


def test_rewrite_conflict_detected(spark, tmp_path):
    """A merge based on a stale snapshot must fail, not silently drop
    the interleaved append."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        CommitConflict,
    )

    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))

    # simulate the interleaving: capture base, let an append land,
    # then attempt the merge commit against the stale base
    base = t.current_snapshot_id()
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    src = spark.createDataFrame([(1, "A")], "id long, v string")
    files = t._write_data(src)
    with pytest.raises(CommitConflict, match="advanced"):
        t._locked_commit(
            "merge", files, {}, src.schema.json(), expected_tail=base
        )
    # the table is untouched by the failed commit
    assert t.read(spark).count() == 2


def test_sorted_compaction_sharpens_pruning(spark, tmp_path):
    """Sort-order rewrite (compact with sort_by) yields disjoint
    per-file key ranges, so a point-range scan prunes to one file;
    the unsorted table could not prune at all."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    # round-robin repartition => every file spans nearly the full id
    # range (spark.range alone would already be range-partitioned)
    t.append(
        spark.range(0, 1000, 2).repartition(4).withColumn("v", F.col("id") % 7)
    )
    t.append(
        spark.range(1, 1000, 2).repartition(4).withColumn("v", F.col("id") % 7)
    )
    before = t.pruned_files({"id": (300, 310)})
    assert len(before) == len(t.snapshots[-1]["files"])  # no skip possible
    t.compact(spark, target_files=4, sort_by=["id"])
    after = t.pruned_files({"id": (300, 310)})
    assert len(t.snapshots[-1]["files"]) == 4
    assert len(after) == 1
    got = t.scan(spark, {"id": (300, 310)})
    assert got.count() == 11
    assert t.read(spark).count() == 1000


def test_zorder_compaction_prunes_both_dims(spark, tmp_path):
    """Morton clustering: after compact(zorder_by=[x, y]), a narrow
    range on EITHER column skips most files; a linear x-sort would
    only prune on x."""
    from pyspark.sql import functions as SF

    t = LakehouseTable(str(tmp_path / "tbl"))
    # 64x64 grid, shuffled round-robin so raw files span everything
    grid = (
        spark.range(64 * 64)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
        .repartition(8)
    )
    t.append(grid)
    assert len(t.pruned_files({"x": (0, 3)})) == 8  # nothing skippable
    t.compact(spark, target_files=16, zorder_by=["x", "y"])
    files_x = t.pruned_files({"x": (0, 3)})
    files_y = t.pruned_files({"y": (0, 3)})
    assert len(files_x) <= 8  # x-range skips most of 16 files
    assert len(files_y) <= 8  # and so does a y-range
    # correctness unchanged
    assert t.scan(spark, {"x": (0, 3)}).count() == 4 * 64
    assert t.scan(spark, {"y": (0, 3)}).count() == 4 * 64
    assert t.read(spark).count() == 64 * 64
    # linear sort for contrast: x prunes to 1, y cannot prune
    t.compact(spark, target_files=16, sort_by=["x"])
    assert len(t.pruned_files({"x": (0, 3)})) == 1
    assert len(t.pruned_files({"y": (0, 3)})) == 16
    _ = SF


def test_zorder_rejects_both_orders(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(10).withColumn("v", F.col("id")))
    with pytest.raises(ValueError, match="not both"):
        t.compact(spark, sort_by=["id"], zorder_by=["v"])


def test_partitioned_table_write_read_prune(spark, tmp_path):
    """Identity partition spec: hive-style layout, partition columns
    restored on read with their committed types, and equality/range
    scans never open files from other partitions."""
    t = LakehouseTable(str(tmp_path / "tbl"), partition_by=["region"])
    df = spark.createDataFrame(
        [(1, "eu", 10.0), (2, "us", 20.0), (3, "eu", 30.0), (4, "ap", 5.0)],
        "id long, region string, v double",
    )
    t.append(df)
    t.append(
        spark.createDataFrame(
            [(5, "us", 7.0), (6, "eu", 8.0)], "id long, region string, v double"
        )
    )
    # layout is hive-style
    assert all(
        "region=" in f for f in t.snapshots[-1]["files"]
    )
    # read restores the partition column with its committed type
    out = t.read(spark)
    assert dict(out.dtypes)["region"] == "string"
    assert out.count() == 6
    # partition pruning: only region=eu files open
    pruned = t.pruned_files({"region": ("eu", "eu")})
    assert pruned and all("region=eu" in f for f in pruned)
    got = t.scan(spark, {"region": ("eu", "eu")})
    assert sorted(r["id"] for r in got.collect()) == [1, 3, 6]
    # reopening without the spec rediscovers it from the manifest
    t2 = LakehouseTable(str(tmp_path / "tbl"))
    assert t2.partition_by == ["region"]
    assert t2.scan(spark, {"region": ("us", "us")}).count() == 2
    # mismatched spec is rejected
    with pytest.raises(ValueError, match="partitioned by"):
        LakehouseTable(str(tmp_path / "tbl"), partition_by=["v"])


def test_partitioned_numeric_prune_and_stats_compose(spark, tmp_path):
    """Numeric partition values prune on ranges (9 < 10 as numbers,
    not strings), and footer min/max still skip WITHIN partitions."""
    t = LakehouseTable(str(tmp_path / "tbl"), partition_by=["bucket"])
    df = spark.range(400).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")
    )
    t.append(df.repartitionByRange(8, "bucket", "id"))
    files = t.snapshots[-1]["files"]
    only_b3 = t.pruned_files({"bucket": (3, 3)})
    assert only_b3 and all("bucket=3" in f for f in only_b3)
    assert len(only_b3) < len(files)
    # range over partitions 2..3 keeps exactly those
    ge2 = t.pruned_files({"bucket": (2, None)})
    assert all("bucket=2" in f or "bucket=3" in f for f in ge2)
    # compose with footer stats on the unpartitioned id column
    both = t.pruned_files({"bucket": (3, 3), "id": (0, 50)})
    assert len(both) <= len(only_b3)
    got = t.scan(spark, {"bucket": (3, 3), "id": (0, 50)})
    assert sorted(r["id"] for r in got.collect()) == [
        i for i in range(51) if i % 4 == 3
    ]
    assert dict(t.read(spark).dtypes)["bucket"] == "bigint"


def test_partitioned_merge_delete_compact(spark, tmp_path):
    """Rewrites preserve the partition layout and the manifest's
    partition values stay consistent across merge/delete/compact."""
    t = LakehouseTable(str(tmp_path / "tbl"), partition_by=["lang"])
    t.append(
        spark.createDataFrame(
            [(1, "en", "a"), (2, "fr", "b"), (3, "en", "c")],
            "id long, lang string, txt string",
        )
    )
    t.merge(
        spark,
        spark.createDataFrame(
            [(2, "fr", "B"), (4, "de", "d")], "id long, lang string, txt string"
        ),
        ["id"],
    )
    assert {r["id"]: r["txt"] for r in t.read(spark).collect()} == {
        1: "a", 2: "B", 3: "c", 4: "d"
    }
    t.delete_where(spark, "lang = 'en'")
    assert sorted(r["lang"] for r in t.read(spark).collect()) == ["de", "fr"]
    t.compact(spark, target_files=1)
    assert all("lang=" in f for f in t.snapshots[-1]["files"])
    assert t.scan(spark, {"lang": ("fr", "fr")}).count() == 1
    assert t.read(spark).count() == 2


def test_partitioned_null_partition_kept(spark, tmp_path):
    """NULL partition values land in __HIVE_DEFAULT_PARTITION__ and
    are never pruned away (conservative keep)."""
    t = LakehouseTable(str(tmp_path / "tbl"), partition_by=["k"])
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")], "id long, k string"
        )
    )
    assert t.read(spark).count() == 3
    pruned = t.pruned_files({"k": ("a", "a")})
    assert any("HIVE_DEFAULT_PARTITION" in f for f in pruned)
    assert sorted(
        r["id"] for r in t.scan(spark, {"k": ("a", "a")}).collect()
    ) == [1]


def test_update_where(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)],
        "id long, grp string, v double",
    )
    t.append(df)
    t.update_where(
        spark, "grp = 'a'", {"v": F.col("v") * 2, "grp": F.lit("A")}
    )
    rows = {r.id: (r.grp, r.v) for r in t.read(spark).collect()}
    assert rows == {1: ("A", 20.0), 2: ("b", 20.0), 3: ("A", 60.0)}
    # history records the rewrite; time travel sees the old values
    assert t.history()[-1]["operation"] == "update"
    old = {r.id: r.v for r in t.read(spark, snapshot_id=1).collect()}
    assert old == {1: 10.0, 2: 20.0, 3: 30.0}


def test_update_where_unknown_column_raises(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where(spark, "id = 1", {"nope": F.lit(0)})


def test_incremental_scan_reads_only_new_rows(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    s1 = t.append(spark.createDataFrame([(1,), (2,)], "id long"))
    s2 = t.append(spark.createDataFrame([(3,)], "id long"))
    s3 = t.append(spark.createDataFrame([(4,), (5,)], "id long"))
    inc = {r.id for r in t.incremental_scan(spark, s1).collect()}
    assert inc == {3, 4, 5}
    inc12 = {r.id for r in t.incremental_scan(spark, s1, s2).collect()}
    assert inc12 == {3}
    assert t.incremental_scan(spark, s3).count() == 0  # nothing after s3


def test_incremental_scan_refuses_rewrites(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    s1 = t.append(spark.createDataFrame([(1,), (2,)], "id long"))
    t.append(spark.createDataFrame([(3,)], "id long"))
    t.delete_where(spark, "id = 1")
    with pytest.raises(ValueError, match="rewrite"):
        t.incremental_scan(spark, s1)


def test_analyze_records_table_stats(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "id long, grp string"
    )
    sid = t.append(df)
    assert t.stats() is None
    stats = t.analyze(spark)
    assert stats == t.stats()
    assert stats["snapshot_id"] == sid and stats["row_count"] == 4
    assert stats["columns"]["id"]["nulls"] == 0
    assert stats["columns"]["grp"]["nulls"] == 1
    # approx NDV exact at this cardinality
    assert stats["columns"]["id"]["ndv"] == 4
    assert stats["columns"]["grp"]["ndv"] == 2
    # staleness is detectable after another append
    t.append(spark.createDataFrame([(5, "c")], "id long, grp string"))
    assert t.stats()["snapshot_id"] != t.current_snapshot_id()


def test_ndv_sketches_accurate_and_incremental(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(
        spark.range(2000).select(
            F.col("id"),
            (F.col("id") % 37).cast("string").alias("grp"),
            (F.col("id") % 100 / 7.0).alias("score"),  # double → cast path
        )
    )
    n1 = t.refresh_ndv_sketches(spark)
    assert n1 >= 1
    est = t.ndv(spark)
    assert abs(est["id"] - 2000) / 2000 < 0.05
    assert est["grp"] == 37  # exact in sparse mode
    assert abs(est["score"] - 100) <= 5
    # append: ONLY the new files get sketched; old entries untouched
    before = dict(t._ndv_sketches())
    t.append(
        spark.range(2000, 2500).select(
            F.col("id"),
            (F.col("id") % 37).cast("string").alias("grp"),
            (F.col("id") % 100 / 7.0).alias("score"),
        )
    )
    new_files = set(t.snapshots[-1]["files"]) - set(before)
    n2 = t.refresh_ndv_sketches(spark)
    assert n2 == len(new_files)
    after = t._ndv_sketches()
    assert all(after[f] == sk for f, sk in before.items())
    est2 = t.ndv(spark, columns=["id"])
    assert abs(est2["id"] - 2500) / 2500 < 0.05
    assert t.refresh_ndv_sketches(spark) == 0  # idempotent, no work


def test_ndv_sketches_survive_rewrites(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(500).withColumn("k", F.col("id") % 10))
    assert t.ndv(spark)["id"] in range(475, 526)
    # delete rewrites files: replacements are re-sketched, the union
    # over live files reflects the removed rows (no HLL subtraction)
    t.delete_where(spark, F.col("id") >= 100)
    est = t.ndv(spark)
    assert abs(est["id"] - 100) <= 5
    # compaction rewrites without changing rows: estimate is stable
    t.compact(spark, target_files=1)
    est2 = t.ndv(spark)
    assert abs(est2["id"] - 100) <= 5


def test_ndv_sketches_schema_evolution(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(300).select(F.col("id")))
    t.ndv(spark)
    t.append(
        spark.range(300, 400).select(
            F.col("id"), (F.col("id") % 5).cast("string").alias("tag")
        )
    )
    est = t.ndv(spark)
    # pre-evolution files surface NULL for tag → contribute nothing
    assert est["tag"] == 5
    assert abs(est["id"] - 400) <= 10


def test_ndv_time_travel_and_maintenance_refresh(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    s1 = t.append(spark.range(100).select(F.col("id")))
    t.append(spark.range(100, 300).select(F.col("id")))
    # sketches are per-file, so any unexpired snapshot's NDV is just
    # a different union over the same pool
    assert abs(t.ndv(spark, snapshot_id=s1)["id"] - 100) <= 3
    assert abs(t.ndv(spark)["id"] - 300) <= 10
    with pytest.raises(Exception, match="not found"):
        t.ndv(spark, snapshot_id=999)
    # maintenance re-sketches the compaction's rewritten files for
    # opted-in tables, and expiry prunes dead files' sketches
    for i in range(6):
        t.append(spark.range(300 + i, 301 + i).select(F.col("id")))
    report = t.maintain(spark, max_files=2, keep_snapshots=1)
    assert report["compacted_from"] is not None
    assert report["ndv_files_sketched"] >= 1
    sketches = t._ndv_sketches()
    live = set(t.snapshots[-1]["files"])
    assert set(sketches) <= live  # expired files' sketches pruned
    assert abs(t.ndv(spark)["id"] - 306) <= 10


def test_analyze_incremental_matches_exact_without_scan(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "id long, grp string"
    )
    t.append(df)
    t.append(
        spark.createDataFrame([(5, "c"), (6, None)], "id long, grp string")
    )
    exact = t.analyze(spark)
    inc = t.analyze_incremental(spark)
    assert inc == t.stats() and inc["source"] == "incremental"
    assert inc["row_count"] == exact["row_count"] == 6
    for c in ("id", "grp"):
        assert inc["columns"][c]["nulls"] == exact["columns"][c]["nulls"]
        assert inc["columns"][c]["ndv"] == exact["columns"][c]["ndv"]
    assert inc["snapshot_id"] == t.current_snapshot_id()


def test_analyze_incremental_all_null_column(spark, tmp_path):
    """An all-NULL column has no HLL sketch, but must still appear in
    the stats (ndv 0, full null count) — same shape analyze() gives."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame(
            [(1, None), (2, None)], "id long, ghost string"
        )
    )
    inc = t.analyze_incremental(spark)
    assert inc["columns"]["ghost"] == {"ndv": 0, "nulls": 2}
    exact = t.analyze(spark)
    assert exact["columns"]["ghost"]["ndv"] == 0
    assert exact["columns"]["ghost"]["nulls"] == 2


def test_ndv_zero_row_files_memoized(spark, tmp_path):
    """A zero-row data file (empty append) gets an empty sketch entry
    once — not a fresh Spark read job on every refresh."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(10).select(F.col("id")))
    t.append(spark.range(0).select(F.col("id")))  # empty epoch
    assert t.refresh_ndv_sketches(spark) >= 1
    assert t.refresh_ndv_sketches(spark) == 0  # nothing left to do
    sketches = t._ndv_sketches()
    assert set(sketches) == set(t.snapshots[-1]["files"])
    assert t.ndv(spark)["id"] == 10


def test_analyze_incremental_partitioned_nulls(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"), partition_by=["p"])
    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None), (4, "x")], "id long, p string"
    )
    t.append(df)
    inc = t.analyze_incremental(spark)
    assert inc["columns"]["p"]["nulls"] == 1
    assert inc["columns"]["p"]["ndv"] == 2  # NULL partition not counted
    assert inc["columns"]["id"]["nulls"] == 0


def test_tags_survive_expiry_until_deleted(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    s1 = t.append(spark.range(10))
    t.tag("audit-2024", s1)
    t.overwrite(spark.range(3))
    t.overwrite(spark.range(2))
    # expiry keeps the tagged snapshot + its files beyond keep_last
    expired = t.expire_snapshots(keep_last=1)
    assert s1 not in expired
    assert t.read(spark, tag="audit-2024").count() == 10
    assert t.tags() == {"audit-2024": s1}
    # deleting the tag releases it: next expiry reclaims
    t.delete_tag("audit-2024")
    assert s1 in t.expire_snapshots(keep_last=1)
    import pytest as _pytest

    with _pytest.raises(Exception, match="not found"):
        t.read(spark, tag="audit-2024")


def test_tag_unknown_snapshot_rejected(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(2))
    with pytest.raises(Exception, match="not found"):
        t.tag("x", 99)


def test_tag_retarget_requires_replace(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    s1 = t.append(spark.range(2))
    s2 = t.append(spark.range(2, 4))
    t.tag("pin", s1)
    with pytest.raises(ValueError, match="replace=True"):
        t.tag("pin", s2)
    assert t.tags()["pin"] == s1  # the pin held
    t.tag("pin", s2, replace=True)
    assert t.tags()["pin"] == s2
    with pytest.raises(KeyError, match="not found"):
        t.delete_tag("typo-name")


def test_expiry_gap_breaks_incremental_lineage(spark, tmp_path):
    """Tag-preserving expiry can leave GAPS in the surviving snapshot
    list; an incremental scan from a tagged snapshot across a gap
    must raise (an expired middle snapshot could have been a rewrite
    the file-diff would silently replay) — and change_feed must then
    take its keyed snapshot-diff fallback, which is gap-safe."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        LineageBrokenError,
    )

    t = LakehouseTable(str(tmp_path / "tbl"))
    s1 = t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.tag("base", s1)
    t.overwrite(spark.createDataFrame([(1, "A")], "id long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    t.expire_snapshots(keep_last=2)  # survivors: [s1(tagged), s3, s4]
    with pytest.raises(LineageBrokenError, match="gap"):
        t.incremental_scan(spark, s1)
    # change_feed still answers correctly via the snapshot diff
    changes = {
        (r["id"], r["_change_type"])
        for r in t.change_feed(spark, s1, keys=["id"]).collect()
    }
    assert (1, "update_postimage") in changes
    assert (2, "insert") in changes and (3, "insert") in changes


def test_wap_partitioned_table(spark, tmp_path):
    """The staged audit frame must include hive partition columns."""
    from biglake_iceberg_pipeline_spark.operators.expectations import (
        ExpectationsFailed,
    )

    t = LakehouseTable(str(tmp_path / "tbl"), partition_by=["region"])
    rules = {"region_known": F.col("region").isin("eu", "us")}
    snap, m = t.write_audit_publish(
        spark.createDataFrame(
            [(1, "eu"), (2, "us")], "id long, region string"
        ),
        rules,
    )
    assert m == {"region_known": 0} and t.read(spark).count() == 2
    with pytest.raises(ExpectationsFailed):
        t.write_audit_publish(
            spark.createDataFrame([(3, "xx")], "id long, region string"),
            rules,
        )
    assert t.read(spark).count() == 2
    # bad rule expression: staging cleaned, error surfaces
    import glob

    with pytest.raises(Exception):
        t.write_audit_publish(
            spark.createDataFrame([(4, "eu")], "id long, region string"),
            {"bad": F.col("no_such_column") > 0},
        )
    live = set(t.snapshots[-1]["files"])
    on_disk = set(
        glob.glob(str(tmp_path / "tbl" / "data" / "**" / "*.parquet"),
                  recursive=True)
    )
    assert on_disk == live  # no staged leftovers from either failure


def test_write_audit_publish(spark, tmp_path):
    from biglake_iceberg_pipeline_spark.operators.expectations import (
        ExpectationsFailed,
    )

    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame([(1, 50.0)], "id long, amount double")
    )
    rules = {"amount_positive": F.col("amount") > 0}
    # clean batch publishes atomically
    snap, metrics = t.write_audit_publish(
        spark.createDataFrame([(2, 10.0), (3, 20.0)], "id long, amount double"),
        rules,
    )
    assert metrics == {"amount_positive": 0}
    assert t.read(spark).count() == 3
    # dirty batch: staged files removed, NOTHING published
    files_before = list(t.snapshots[-1]["files"])
    with pytest.raises(ExpectationsFailed):
        t.write_audit_publish(
            spark.createDataFrame(
                [(4, -5.0), (5, 1.0)], "id long, amount double"
            ),
            rules,
        )
    assert t.read(spark).count() == 3  # reader never saw row 4 or 5
    assert t.snapshots[-1]["files"] == files_before
    # the failed batch's staged DATA files are gone (no orphan leak;
    # the sweep still reports committed files' .crc sidecars, which
    # is its normal behavior)
    orphans = t.sweep_orphans(older_than_s=0.0)
    assert [f for f in orphans if f.endswith(".parquet")] == []


def test_wap_txn_replay_noop(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame([(1, 5.0)], "id long, amount double")
    rules = {"pos": F.col("amount") > 0}
    t.write_audit_publish(df, rules, txn=("wap-app", 1))
    t.write_audit_publish(df, rules, txn=("wap-app", 1))  # replay
    assert t.read(spark).count() == 1


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path):
    src = LakehouseTable(str(tmp_path / "src"))
    src.append(spark.range(100).withColumn("v", F.col("id") * 2))
    clone = src.clone_to(str(tmp_path / "clone"))
    # zero-copy: identical content, no data files under the clone
    assert clone.read(spark).count() == 100
    assert not any(
        clone._owns(f) for f in clone.snapshots[-1]["files"]
    )
    # independent evolution in both directions
    clone.append(spark.range(100, 150).withColumn("v", F.col("id")))
    src.append(spark.range(200, 210).withColumn("v", F.col("id")))
    assert clone.read(spark).count() == 150
    assert src.read(spark).count() == 110
    with pytest.raises(ValueError, match="already has snapshots"):
        src.clone_to(str(tmp_path / "clone"))


def test_clone_protects_files_from_source_gc(spark, tmp_path):
    src = LakehouseTable(str(tmp_path / "src"))
    src.append(spark.range(50))
    clone = src.clone_to(str(tmp_path / "clone"))
    shared = list(clone.snapshots[-1]["files"])
    # source moves on and expires history — the clone's files survive
    src.overwrite(spark.range(5))
    src.expire_snapshots(keep_last=1)
    assert all(os.path.exists(f) for f in shared)
    assert clone.read(spark).count() == 50
    src.sweep_orphans(older_than_s=0.0)
    assert clone.read(spark).count() == 50
    # deregistered clone (directory gone) stops protecting
    import shutil

    shutil.rmtree(str(tmp_path / "clone"))
    # the protected files left the snapshot list at the first expiry;
    # with the clone gone they are plain orphans and the sweep
    # reclaims them
    src.sweep_orphans(older_than_s=0.0)
    assert not any(os.path.exists(f) for f in shared)


def test_clone_does_not_inherit_vector_index(spark, tmp_path):
    """Vector-index meta points at source-owned paths; a clone
    inheriting it would index ITS appends into the SOURCE's index as
    phantom rows."""
    from biglake_iceberg_pipeline_spark.operators.vector_index import (
        register_lakehouse_index,
    )

    src = LakehouseTable(str(tmp_path / "src"))
    src.append(
        spark.range(20).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 7).cast("float"),
                (F.col("id") % 3).cast("float"),
            ).alias("embedding"),
        )
    )
    register_lakehouse_index(
        spark, src, "embedding", "vec_id", planes=2, dim=2
    )
    clone = src.clone_to(str(tmp_path / "clone"))
    assert clone.vector_index_meta() == {}
    src_meta_before = src.vector_index_meta()
    clone.append(
        spark.range(100, 105).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.lit(1.0).cast("float"), F.lit(2.0).cast("float")
            ).alias("embedding"),
        )
    )
    # the clone's append left the source's index untouched
    assert src.vector_index_meta() == src_meta_before


def test_clone_gc_protection_is_transitive(spark, tmp_path):
    """A clone-of-a-clone registers only on its parent, but the
    ORIGINAL source must still protect files the grandchild reads."""
    a = LakehouseTable(str(tmp_path / "a"))
    a.append(spark.range(30))
    shared = list(a.snapshots[-1]["files"])
    b = a.clone_to(str(tmp_path / "b"))
    c = b.clone_to(str(tmp_path / "c"))
    # b moves on and drops its reference to a's files
    b.overwrite(spark.range(3))
    b.expire_snapshots(keep_last=1)
    # a's GC must still see c's references THROUGH b's registration
    a.overwrite(spark.range(2))
    a.expire_snapshots(keep_last=1)
    a.sweep_orphans(older_than_s=0.0)
    assert all(os.path.exists(f) for f in shared)
    assert c.read(spark).count() == 30


def test_clone_expiry_never_touches_source_files(spark, tmp_path):
    src = LakehouseTable(str(tmp_path / "src"))
    src.append(spark.range(40))
    src_files = list(src.snapshots[-1]["files"])
    clone = src.clone_to(str(tmp_path / "clone"))
    clone.overwrite(spark.range(7))  # clone diverges fully
    clone.expire_snapshots(keep_last=1)
    assert all(os.path.exists(f) for f in src_files)
    assert src.read(spark).count() == 40
    assert clone.read(spark).count() == 7


def test_rollback_to_snapshot(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    s1 = t.append(spark.createDataFrame([(1,), (2,)], "id long"))
    t.append(spark.createDataFrame([(3,)], "id long"))
    t.delete_where(spark, "id = 1")  # the "bad" operation
    assert {r.id for r in t.read(spark).collect()} == {2, 3}
    rb = t.rollback_to(s1)
    assert {r.id for r in t.read(spark).collect()} == {1, 2}
    # metadata-only commit: history keeps the bad snapshots reachable
    assert t.history()[-1]["operation"] == "rollback"
    assert rb == t.current_snapshot_id()
    assert {r.id for r in t.read(spark, snapshot_id=2).collect()} == {1, 2, 3}
    # incremental scans refuse to cross the rollback (it's a rewrite)
    with pytest.raises(ValueError, match="rewrite"):
        t.incremental_scan(spark, s1)


def test_txn_idempotent_commits(spark, tmp_path):
    """Transactional-sink pattern: a commit stamped with an already-
    seen (app, version) is a no-op — a streaming batch replayed after
    a crash cannot double-append."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    t.append(df, txn=("app-a", 0))
    snap = t.current_snapshot_id()
    # replay of the same epoch: skipped, same tail, same rows
    assert t.append(df, txn=("app-a", 0)) == snap
    assert t.current_snapshot_id() == snap
    assert t.read(spark).count() == 5
    # next epoch commits
    t.append(df, txn=("app-a", 1))
    assert t.read(spark).count() == 10
    # stale epoch after a newer one: still skipped
    assert t.append(df, txn=("app-a", 0)) == t.current_snapshot_id()
    assert t.read(spark).count() == 10
    # a different writer app is independent
    t.append(df, txn=("app-b", 0))
    assert t.read(spark).count() == 15
    assert t.last_txn_version("app-a") == 1
    # merge replays are also transactional
    src = spark.createDataFrame([(99, 1)], "id long, v long")
    t.merge(spark, src, ["id"], txn=("app-a", 2))
    n = t.read(spark).count()
    t.merge(spark, src, ["id"], txn=("app-a", 2))
    assert t.read(spark).count() == n


def test_maintain_compacts_expires_and_sweeps(spark, tmp_path):
    """One maintenance call after fragmented streaming-style appends:
    files coalesce to the target, history shrinks, orphans reclaimed,
    data intact."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    for i in range(12):
        t.append(spark.range(i * 10, (i + 1) * 10).selectExpr("id"))
    # an orphan from a replayed batch
    t.append(spark.range(5).selectExpr("id + 1000 AS id"), txn=("a", 0))
    t.append(spark.range(5).selectExpr("id + 1000 AS id"), txn=("a", 0))
    n_before = t.read(spark).count()
    report = t.maintain(
        spark, max_files=4, keep_snapshots=2, orphan_grace_s=0
    )
    assert report["compacted_from"] >= 12
    assert report["expired_snapshots"]
    assert report["orphans_removed"] >= 1
    assert len(t.snapshots) <= 2
    assert len(t.snapshots[-1]["files"]) <= 4
    assert t.read(spark).count() == n_before
    # idempotent second run does nothing
    again = t.maintain(spark, max_files=4, keep_snapshots=2,
                       orphan_grace_s=0)
    assert again["compacted_from"] is None
    assert again["orphans_removed"] == 0


def test_row_count_from_manifest_metadata(spark, tmp_path):
    """row_count() answers from parquet-footer counts recorded at
    commit time — no scan; tracks appends, deletes, and time travel."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    assert t.row_count() == 0
    s1 = t.append(spark.range(10).selectExpr("id"))
    t.append(spark.range(5).selectExpr("id + 100 AS id"))
    assert t.row_count() == 15
    assert t.row_count(snapshot_id=s1) == 10
    t.delete_where(spark, "id >= 100")
    assert t.row_count() == 10
    assert t.row_count() == t.read(spark).count()


def test_change_feed_classifies_rewrite_changes(spark, tmp_path):
    """CDF across a MERGE + DELETE: inserts, deletes, and update
    pre/post images classified per key; append-only ranges stay on
    the cheap incremental path."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    s0 = t.append(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id long, name string, v double",
        )
    )
    # append-only range -> all inserts via the file-diff path
    s1 = t.append(
        spark.createDataFrame([(4, "d", 40.0)], "id long, name string, v double")
    )
    feed = t.change_feed(spark, s0, s1)
    assert {(r["id"], r["_change_type"]) for r in feed.collect()} == {
        (4, "insert")
    }
    # merge: update id=2, insert id=5; then delete id=1
    t.merge(
        spark,
        spark.createDataFrame(
            [(2, "b2", 22.0), (5, "e", 50.0)],
            "id long, name string, v double",
        ),
        ["id"],
    )
    s3 = t.delete_where(spark, "id = 1")
    got = {
        (r["id"], r["_change_type"]): (r["name"], r["v"])
        for r in t.change_feed(spark, s1, s3, keys=["id"]).collect()
    }
    assert got == {
        (1, "delete"): ("a", 10.0),
        (2, "update_preimage"): ("b", 20.0),
        (2, "update_postimage"): ("b2", 22.0),
        (5, "insert"): ("e", 50.0),
    }
    # rewrite range without keys is a usage error, not silent garbage
    with pytest.raises(ValueError, match="keys"):
        t.change_feed(spark, s1, s3)


def test_change_feed_across_schema_evolution(spark, tmp_path):
    """A merge that evolves the schema (adds a column) must still
    diff cleanly: both snapshot reads overlay the committed (evolved)
    schema, so old rows surface NULL for the new column and the
    update classification compares like against like."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    s0 = t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    )
    s1 = t.merge(
        spark,
        spark.createDataFrame(
            [(2, "b2", "web"), (3, "c", "store")],
            "id long, name string, channel string",
        ),
        ["id"],
    )
    got = {
        (r["id"], r["_change_type"]): (r["name"], r["channel"])
        for r in t.change_feed(spark, s0, s1, keys=["id"]).collect()
    }
    assert got == {
        (2, "update_preimage"): ("b", None),
        (2, "update_postimage"): ("b2", "web"),
        (3, "insert"): ("c", "store"),
    }
    # id=1 untouched (channel NULL in both reads) -> not in the feed
    assert not any(k[0] == 1 for k in got)


def test_stale_commit_lock_broken_fresh_lock_respected(spark, tmp_path):
    """A crashed writer's lock file must not wedge the table forever:
    locks older than stale_after are broken; a FRESH lock makes
    contenders wait and then time out."""
    import os
    import time as _time

    import pytest

    t = LakehouseTable(str(tmp_path / "tbl"))
    os.makedirs(t.path, exist_ok=True)
    lock = os.path.join(t.path, "_commit.lock")
    # crashed writer: lock mtime far in the past
    with open(lock, "w") as f:
        f.write("99999")
    old = _time.time() - 1_000
    os.utime(lock, (old, old))
    t.append(spark.range(3).selectExpr("id"))  # breaks the stale lock
    assert t.read(spark).count() == 3
    assert not os.path.exists(lock)  # released after commit
    # live writer: fresh lock -> contender times out, table unchanged
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    with pytest.raises(TimeoutError, match="commit lock busy"):
        t._acquire_lock(timeout=0.3)
    os.remove(lock)


def test_sweep_orphans_reclaims_txn_replay_files(spark, tmp_path):
    """A txn-skipped replay writes data files that never enter the
    manifest — invisible to readers but leaked on disk until
    sweep_orphans reclaims them. Fresh files inside the grace window
    survive (they may belong to an in-flight writer)."""
    import os

    t = LakehouseTable(str(tmp_path / "tbl"))
    df = spark.range(50).selectExpr("id", "id * 2 AS v")
    t.append(df, txn=("app", 0))
    t.append(df, txn=("app", 0))  # replay: commit skipped, files leak

    def on_disk():
        found = []
        for root, _d, names in os.walk(str(tmp_path / "tbl" / "data")):
            found += [os.path.join(root, n) for n in names
                      if n.endswith(".parquet")]
        return set(found)

    live = {f for s in t.snapshots for f in s["files"]}
    assert on_disk() - live, "replay should have left orphans"
    # inside the grace window nothing is touched
    assert t.sweep_orphans(older_than_s=3600) == []
    removed = t.sweep_orphans(older_than_s=0)
    assert removed and on_disk() == live
    # readers unaffected
    assert t.read(spark).count() == 50
    # idempotent
    assert t.sweep_orphans(older_than_s=0) == []


def test_lakehouse_vector_index_incremental(spark, tmp_path):
    """CREATE VECTOR INDEX + incremental maintenance: a probe after an
    append finds vectors from BOTH the build-time snapshot and the
    appended batch, via a partition-pruned scan."""
    from biglake_iceberg_pipeline_spark.operators import vector_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first, second = emb.where("vec_id < 80"), emb.where("vec_id >= 80")
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(first)
    vector_index.register_lakehouse_index(
        spark, t, "embedding", "vec_id"
    )
    q = list(emb.where("vec_id = 0").first()["embedding"])
    # appends after registration maintain the index incrementally
    t.append(second)
    probe = vector_index.probe_lakehouse_index(
        spark, t, "embedding", q, k=200, nprobe_hamming=8
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    ids = {r["vec_id"] for r in probe.collect()}
    # nprobe=planes covers every bucket -> exact: all rows reachable
    assert len(ids) == 200
    assert any(i >= 80 for i in ids)  # appended rows are indexed
    meta = t.vector_index_meta()["embedding"]
    assert meta["indexed_snapshot"] == t.current_snapshot_id()


def test_vector_index_stale_after_row_rewrite(spark, tmp_path):
    """A merge/delete/update/overwrite/rollback rewrites logical rows
    without touching the index — probes must refuse (or rebuild), not
    silently return deleted rows / stale vectors."""
    from biglake_iceberg_pipeline_spark.operators import vector_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(emb)
    vector_index.register_lakehouse_index(spark, t, "embedding", "vec_id")
    q = list(emb.where("vec_id = 0").first()["embedding"])

    # compaction keeps rows identical -> index stays valid
    t.compact(spark, target_files=1)
    assert (
        vector_index.probe_lakehouse_index(
            spark, t, "embedding", q, k=5
        ).count()
        == 5
    )

    # a delete rewrites row content -> stale
    t.delete_where(spark, "vec_id < 100")
    with pytest.raises(vector_index.StaleVectorIndexError, match="rewritten"):
        vector_index.probe_lakehouse_index(spark, t, "embedding", q, k=5)

    # an APPEND after the rewrite must NOT clear the guard: index
    # maintenance skips stale indexes (else indexed_snapshot would
    # advance past the rewrite mark while deleted vectors remain)
    t.append(
        emb.where("vec_id >= 100 AND vec_id < 110").withColumn(
            "vec_id", F.col("vec_id") + 10000
        )
    )
    with pytest.raises(vector_index.StaleVectorIndexError, match="rewritten"):
        vector_index.probe_lakehouse_index(spark, t, "embedding", q, k=5)

    # rebuild-on-probe reflects the delete: no dropped ids resurface
    probe = vector_index.probe_lakehouse_index(
        spark, t, "embedding", q, k=500, nprobe_hamming=8, on_stale="rebuild"
    )
    ids = {r["vec_id"] for r in probe.collect()}
    assert ids and all(i >= 100 for i in ids)
    # and the rebuilt index is fresh again
    assert (
        vector_index.index_staleness(
            t, t.vector_index_meta()["embedding"]
        )
        is None
    )


def test_vector_index_txn_skip_no_phantom_rows(spark, tmp_path):
    """A txn-replayed append is skipped under the commit lock; its
    orphaned data files must NOT be coded into the index — gate is the
    lock's committed signal, not a racy snapshot-id comparison."""
    from biglake_iceberg_pipeline_spark.operators import vector_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first, second = emb.where("vec_id < 80"), emb.where("vec_id >= 80")
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(first)
    vector_index.register_lakehouse_index(spark, t, "embedding", "vec_id")
    t.append(second, txn=("app", 0))
    path = t.vector_index_meta()["embedding"]["path"]
    n_indexed = spark.read.parquet(path).count()
    assert n_indexed == emb.count()
    # replay the same epoch: commit skipped -> index unchanged
    t.append(second, txn=("app", 0))
    assert spark.read.parquet(path).count() == n_indexed


def test_maintenance_matview_changefeed_interplay(spark, tmp_path):
    """The reference's daily pipeline runs ingest, maintenance, gold
    refresh, and CDC consumers CONCURRENTLY over one table; the pieces
    are individually tested, this drives them together (VERDICT r4
    item 7): streaming appends fragment files → maintain() compacts/
    expires/sweeps → the auto-refresh matview and a change_feed
    consumer must stay correct across the compaction boundary, and a
    consumer whose baseline snapshot expires must get the typed
    re-baseline signal, not wrong rows."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        SnapshotNotFoundError,
    )
    from biglake_iceberg_pipeline_spark.sinks.matview import (
        MaterializedView,
    )
    from biglake_iceberg_pipeline_spark.streaming.ingest import (
        start_ingest_to_lakehouse,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    table = LakehouseTable(str(tmp_path / "tbl"))
    mv = MaterializedView(
        spark,
        "by_name",
        table,
        lambda df: df.groupBy("name").agg(
            F.count(F.lit(1)).alias("n"), F.sum("score").alias("total")
        ),
        str(tmp_path / "mv"),
        keys=["name"],
        combine=lambda old, new: old + new,
    ).auto_refresh_on_commit()

    def ingest(fname, rows):
        (inbox / fname).write_text(
            "ID,Name,Score\n" + "\n".join(rows) + "\n"
        )
        q = start_ingest_to_lakehouse(
            spark,
            str(inbox),
            table.path,
            str(tmp_path / "ckpt"),
            schema="ID long, Name string, Score long",
            table=table,
        )
        q.awaitTermination(180)

    def mv_expected():
        return {
            r["name"]: (r["n"], r["total"])
            for r in table.read(spark)
            .groupBy("name")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("score").alias("total"))
            .collect()
        }

    def mv_actual():
        return {
            r["name"]: (r["n"], r["total"]) for r in mv.read().collect()
        }

    # phase 1: three micro-batch appends (one-file-per-batch
    # fragmentation, each commit auto-refreshing the view)
    ingest("f1.csv", ["1,a,10", "2,b,20"])
    ingest("f2.csv", ["3,a,30", "4,c,40"])
    ingest("f3.csv", ["5,b,50", "6,a,60"])
    assert mv.is_fresh() and mv_actual() == mv_expected()
    snap1 = table.current_snapshot_id()

    # phase 2: two more streaming appends
    ingest("f4.csv", ["7,c,70", "8,a,80"])
    ingest("f5.csv", ["9,b,90", "10,d,100"])
    # append-only range: the cheap file-diff path, no keys needed
    cf1 = table.change_feed(spark, snap1)
    assert sorted(r["id"] for r in cf1.collect()) == [7, 8, 9, 10]
    assert set(r["_change_type"] for r in cf1.collect()) == {"insert"}

    # nightly maintenance: compact + expire + sweep, while the view's
    # auto-refresh hook fires on the compaction commit itself (the
    # 'replace' breaks additive lineage → typed fallback to full
    # recompute, not an error)
    n_files_before = len(table.snapshots[-1]["files"])
    report = table.maintain(
        spark, max_files=2, keep_snapshots=4, orphan_grace_s=0.0
    )
    assert report["compacted_from"] == n_files_before
    assert len(table.snapshots[-1]["files"]) <= 2
    assert mv.is_fresh() and mv_actual() == mv_expected()

    # phase 3: appends continue after compaction
    ingest("f6.csv", ["11,d,110", "12,a,120"])
    assert mv.is_fresh() and mv_actual() == mv_expected()

    # change_feed range CROSSING the compaction: since r10 the
    # compaction commit is stamped data_change=False (row-preserving),
    # so the CHEAP file-diff path rides through it keylessly — exactly
    # the new rows, no phantom inserts from rewritten-but-unchanged
    # rows — and the keyed snapshot diff agrees
    import pytest as _pytest

    cf2_cheap = table.change_feed(spark, snap1).collect()
    assert sorted(r["id"] for r in cf2_cheap) == [7, 8, 9, 10, 11, 12]
    assert set(r["_change_type"] for r in cf2_cheap) == {"insert"}
    cf2 = table.change_feed(spark, snap1, keys=["id"]).collect()
    assert sorted(r["id"] for r in cf2) == [7, 8, 9, 10, 11, 12]
    assert set(r["_change_type"] for r in cf2) == {"insert"}

    # aggressive expiry drops the consumer's baseline snapshot: the
    # typed error tells it to re-baseline from a full read
    table.expire_snapshots(keep_last=1)
    with _pytest.raises(SnapshotNotFoundError):
        table.change_feed(spark, snap1, keys=["id"])
    assert table.read(spark).count() == 12
    assert mv_actual() == mv_expected()


def test_ndv_sidecars_keep_manifest_lean(spark, tmp_path):
    """Sketch payload lives in stats/ sidecar blobs; the manifest
    holds only {file: sidecar_path} pointers. Across many refreshes
    the manifest grows by pointer bytes (O(files)), never by sketch
    bytes (O(files x cols x KB)) — the r5 scale finding."""
    import os as _os

    t = LakehouseTable(str(tmp_path / "tbl"))
    sizes = []
    for i in range(12):
        t.append(
            spark.range(i * 50, i * 50 + 50).select(
                F.col("id"), (F.col("id") % 7).cast("string").alias("g")
            )
        )
        t.refresh_ndv_sketches(spark)
        sizes.append(_os.path.getsize(t.manifest_path))
    m = t._read_manifest()
    assert "file_ndv" not in m  # zero embedded sketch payload
    n_files = len(t.snapshots[-1]["files"])
    assert set(m["ndv_sidecars"]) == set(t.snapshots[-1]["files"])
    # the sketch section of the manifest is pointer-sized: ~a path
    # per file, never a KB-scale base64 sketch (the snapshot log's
    # own growth is separate and pruned by expiry)
    import json as _json
    ptr_bytes = len(_json.dumps(m["ndv_sidecars"]))
    assert ptr_bytes < n_files * 300, ptr_bytes
    assert all(len(v) < 300 for v in m["ndv_sidecars"].values())
    blob_bytes = sum(
        _os.path.getsize(_os.path.join(t.path, rel))
        for rel in set(m["ndv_sidecars"].values())
    )
    assert blob_bytes > 10 * 1024  # the payload really moved out
    # estimates are unchanged by the layout
    assert abs(t.ndv(spark)["id"] - 600) <= 12
    assert t.ndv(spark)["g"] == 7


def test_ndv_sidecar_gc_and_lost_blob_self_heal(spark, tmp_path):
    import os as _os

    t = LakehouseTable(str(tmp_path / "tbl"))
    for i in range(4):
        t.append(spark.range(i * 10, i * 10 + 10).select(F.col("id")))
        t.refresh_ndv_sketches(spark)
    stats_dir = _os.path.join(t.path, "stats")
    # age the blobs past the GC grace window, then compact + expire:
    # dead files' pointers are pruned and unreferenced blobs deleted
    for name in _os.listdir(stats_dir):
        p = _os.path.join(stats_dir, name)
        _os.utime(p, (time.time() - 600, time.time() - 600))
    t.compact(spark, target_files=1)
    t.refresh_ndv_sketches(spark)
    for name in _os.listdir(stats_dir):
        p = _os.path.join(stats_dir, name)
        if name.startswith("ndv-"):
            _os.utime(p, (time.time() - 600, time.time() - 600))
    t.expire_snapshots(keep_last=1)
    m = t._read_manifest()
    live = set(t.snapshots[-1]["files"])
    assert set(m["ndv_sidecars"]) == live
    on_disk = {
        _os.path.join("stats", n)
        for n in _os.listdir(stats_dir)
        if n.startswith("ndv-")
    }
    assert on_disk == set(m["ndv_sidecars"].values())
    # lost blob: pointers resolve to nothing → refresh re-sketches
    for rel in on_disk:
        _os.remove(_os.path.join(t.path, rel))
    assert t._ndv_sketches() == {}
    assert t.refresh_ndv_sketches(spark) == len(live)
    assert abs(t.ndv(spark)["id"] - 40) <= 3


def test_ndv_legacy_embedded_sketches_migrate(spark, tmp_path):
    """A manifest written before the sidecar layout (embedded
    file_ndv dict) still reads, and the next refresh moves the
    payload into a sidecar."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(100).select(F.col("id")))
    t.refresh_ndv_sketches(spark)
    # rewrite the manifest into the legacy shape
    m = t._read_manifest()
    sketches = t._ndv_sketches()
    m.pop("ndv_sidecars")
    m["file_ndv"] = sketches
    t._commit(m)
    assert t._ndv_sketches() == sketches  # legacy read path
    t.append(spark.range(100, 150).select(F.col("id")))
    t.refresh_ndv_sketches(spark)
    m2 = t._read_manifest()
    assert "file_ndv" not in m2
    assert set(m2["ndv_sidecars"]) == set(t.snapshots[-1]["files"])
    assert abs(t.ndv(spark)["id"] - 150) <= 5


def test_clone_carries_ndv_sidecars(spark, tmp_path):
    """A shallow clone copies the KB-scale stats blobs (not data):
    its ndv() is immediately scan-free and survives source expiry."""
    src = LakehouseTable(str(tmp_path / "src"))
    src.append(spark.range(200).select(F.col("id")))
    src.refresh_ndv_sketches(spark)
    clone = src.clone_to(str(tmp_path / "clone"))
    # no further sketching needed on the clone
    assert set(clone._ndv_sketches()) == set(clone.snapshots[-1]["files"])
    assert clone.refresh_ndv_sketches(spark) == 0
    assert abs(clone.ndv(spark)["id"] - 200) <= 6


def test_branch_multi_commit_staging_and_fast_forward(spark, tmp_path):
    """Iceberg-ref branches: staged commits are invisible to main,
    readable via read(branch=...), and publish atomically with
    fast_forward (real snapshot ids assigned at publish)."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(10).select(F.col("id")))
    base = t.current_snapshot_id()
    assert t.create_branch("backfill") == base
    # two staged commits, the second evolving the schema
    t.append_to_branch("backfill", spark.range(10, 20).select(F.col("id")))
    t.append_to_branch(
        "backfill",
        spark.range(20, 25).select(
            F.col("id"), F.lit("x").alias("tag")
        ),
    )
    assert t.branches() == {"backfill": {"base": base, "commits": 2}}
    # main is untouched; branch sees the staged state + evolved schema
    assert t.read(spark).count() == 10
    br = t.read(spark, branch="backfill")
    assert br.count() == 25
    assert dict(br.dtypes)["tag"] == "string"
    assert br.where("id < 10").select("tag").distinct().collect()[0][0] is None
    # publish: two new main snapshots, schema evolved, branch gone
    last = t.fast_forward("backfill")
    assert t.current_snapshot_id() == last
    assert [s["id"] for s in t.snapshots] == [base, base + 1, base + 2]
    assert t.read(spark).count() == 25
    assert dict(t.read(spark).dtypes)["tag"] == "string"
    assert t.branches() == {}
    # time-travel works through the published intermediate commit
    assert t.read(spark, snapshot_id=base + 1).count() == 20


def test_branch_fast_forward_conflicts_when_main_moves(spark, tmp_path):
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        CommitConflict,
    )

    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(5).select(F.col("id")))
    t.create_branch("wip")
    t.append_to_branch("wip", spark.range(5, 8).select(F.col("id")))
    # main advances past the branch base → publish must refuse
    t.append(spark.range(100, 103).select(F.col("id")))
    with pytest.raises(CommitConflict, match="re-stage"):
        t.fast_forward("wip")
    # abandon: main unaffected, branch gone, staged files sweepable
    t.delete_branch("wip")
    assert t.read(spark).count() == 8
    with pytest.raises(KeyError):
        t.delete_branch("wip")
    removed = t.sweep_orphans(older_than_s=0)
    assert len(removed) >= 1  # the staged branch files reclaimed
    assert t.read(spark).count() == 8


def test_branch_files_gc_protected_until_publish(spark, tmp_path):
    """Branch-referenced files (base capture + staged commits) are
    live for expiry and orphan sweeps while the branch is open."""
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(10).select(F.col("id")))
    t.create_branch("hold")
    t.append_to_branch("hold", spark.range(10, 20).select(F.col("id")))
    # churn main so the branch base falls out of keep_last
    for i in range(4):
        t.append(spark.range(100 + i, 101 + i).select(F.col("id")))
    t.expire_snapshots(keep_last=1)
    swept = t.sweep_orphans(older_than_s=0)
    assert [f for f in swept if f.endswith(".parquet")] == []
    # the branch still reads fully (its base files survived expiry)
    assert t.read(spark, branch="hold").count() == 20
    # published or deleted, protection lapses with the ref
    t.delete_branch("hold")
    swept = t.sweep_orphans(older_than_s=0)
    assert [f for f in swept if f.endswith(".parquet")]


def test_branch_on_empty_table_and_guards(spark, tmp_path):
    t = LakehouseTable(str(tmp_path / "tbl"))
    t.create_branch("seed")
    with pytest.raises(ValueError, match="no data"):
        t.read(spark, branch="seed")
    t.append_to_branch("seed", spark.range(3).select(F.col("id")))
    assert t.read(spark, branch="seed").count() == 3
    assert t.current_snapshot_id() is None  # main still empty
    last = t.fast_forward("seed")
    assert t.current_snapshot_id() == last
    assert t.read(spark).count() == 3
    t.create_branch("x")
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("x")
    with pytest.raises(KeyError, match="not found"):
        t.append_to_branch("ghost", spark.range(1))
    with pytest.raises(ValueError, match="not several"):
        t.read(spark, branch="x", snapshot_id=1)


def test_branch_on_partitioned_table(spark, tmp_path):
    """Branch staging works on a partitioned table — including from
    an EMPTY main (no committed schema yet) and with branch-side
    schema evolution overlaid on read."""
    t = LakehouseTable(str(tmp_path / "tbl"), partition_by=["p"])
    t.create_branch("b")
    t.append_to_branch(
        "b",
        spark.createDataFrame([(1, "x"), (2, "y")], "id long, p string"),
    )
    t.append_to_branch(
        "b",
        spark.createDataFrame(
            [(3, "x", 9.5)], "id long, p string, score double"
        ),
    )
    br = t.read(spark, branch="b")
    assert br.count() == 3
    assert dict(br.dtypes)["score"] == "double"
    assert dict(br.dtypes)["p"] == "string"
    got = {r["id"]: r["score"] for r in br.collect()}
    assert got == {1: None, 2: None, 3: 9.5}
    t.fast_forward("b")
    assert t.read(spark).count() == 3
    # partition pruning metadata landed at stage time
    assert t.read(spark).where("p = 'x'").count() == 2


def test_ndv_sidecar_gc_runs_without_expiry(spark, tmp_path):
    """A blob orphaned by a crashed refresh (written, never pointed
    to) is reaped by expire_snapshots even when NOTHING expires —
    the only maintenance path a low-churn table ever runs."""
    import os as _os

    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.range(10).select(F.col("id")))
    t.refresh_ndv_sketches(spark)
    # simulate the crash: blob written, no pointer committed
    orphan = t._write_ndv_sidecar({"/nonexistent.parquet": {}})
    p = _os.path.join(t.path, orphan)
    _os.utime(p, (time.time() - 600, time.time() - 600))
    assert t.expire_snapshots(keep_last=5) == []  # nothing to expire
    assert not _os.path.exists(p)  # ...but the orphan blob is gone
    # the referenced blob survives
    assert t._ndv_sketches() != {}


def test_branch_fast_forward_audit_gate(spark, tmp_path):
    """Multi-commit WAP: the branch TAIL is audited before publish; a
    violation keeps the branch open (fix with another branch commit,
    then publish), and main never exposes the bad state."""
    from biglake_iceberg_pipeline_spark.operators.expectations import (
        ExpectationsFailed,
    )

    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(
        spark.createDataFrame([(1, 10.0)], "id long, amount double")
    )
    t.create_branch("load")
    t.append_to_branch(
        "load",
        spark.createDataFrame([(2, -5.0)], "id long, amount double"),
    )
    rules = {"amount_pos": F.col("amount") > 0}
    with pytest.raises(ExpectationsFailed):
        t.fast_forward("load", spark=spark, audit_rules=rules)
    assert t.read(spark).count() == 1  # main untouched
    assert t.branches()["load"]["commits"] == 1  # branch still open
    # a correction commit CANNOT fix an already-staged bad row (the
    # tail is cumulative) — but a fresh branch with good data passes
    t.delete_branch("load")
    t.create_branch("load2")
    t.append_to_branch(
        "load2",
        spark.createDataFrame([(2, 5.0)], "id long, amount double"),
    )
    t.fast_forward("load2", spark=spark, audit_rules=rules)
    assert t.read(spark).count() == 2
    # audit without spark is a clear error
    t.create_branch("x")
    with pytest.raises(ValueError, match="requires spark"):
        t.fast_forward("x", audit_rules=rules)


def test_branch_audit_guard_is_identity_not_count(spark, tmp_path, monkeypatch):
    """A branch swapped out between the audit and the commit lock —
    even with the SAME commit count — must conflict, not publish
    rows the audit never saw."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        CommitConflict,
    )

    t = LakehouseTable(str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, 10.0)], "id long, amount double"))
    t.create_branch("w")
    t.append_to_branch(
        "w", spark.createDataFrame([(2, 20.0)], "id long, amount double")
    )
    orig = LakehouseTable._acquire_lock
    state = {"fired": False}

    def hooked(self, *a, **kw):
        if not state["fired"]:
            state["fired"] = True
            # simulate a delete+recreate racing in after the audit:
            # same name, same commit COUNT, different staged files
            m = self._read_manifest()
            br = m["branches"]["w"]
            swapped = dict(br)
            swapped["snapshots"] = [
                {**br["snapshots"][0], "files": list(br["base_files"])}
            ]
            m["branches"]["w"] = swapped
            self._commit(m)
        return orig(self, *a, **kw)

    monkeypatch.setattr(LakehouseTable, "_acquire_lock", hooked)
    with pytest.raises(CommitConflict, match="changed after the audit"):
        t.fast_forward(
            "w", spark=spark,
            audit_rules={"pos": F.col("amount") > 0},
        )
    monkeypatch.undo()
    assert t.read(spark).count() == 1  # nothing published


def test_pq_index_rebuild_preserves_quantizer_params(spark, tmp_path):
    """on_stale='rebuild' must retrain the SAME quantizer the user
    registered (pq_m/pq_k/pq_sample_n ride the meta), not defaults —
    with m=8 on these dims the default m=16 would still divide, so
    assert the meta round-trips exactly."""
    from biglake_iceberg_pipeline_spark.operators import vector_index as vi

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    t = LakehouseTable(str(tmp_path / "v"))
    t.append(emb)
    vi.register_lakehouse_index(
        spark, t, "embedding", "vec_id", planes=2, kind="pq",
        pq_m=8, pq_k=8, pq_sample_n=256,
    )
    meta = t.vector_index_meta()["embedding"]
    assert (meta["pq_m"], meta["pq_k"], meta["pq_sample_n"]) == (8, 8, 256)
    q = list(emb.where("vec_id = 3").select("embedding").first()[0])
    t.delete_where(spark, F.col("vec_id") == 0)  # trips staleness
    got = vi.probe_lakehouse_index(
        spark, t, "embedding", q, k=3, on_stale="rebuild"
    ).collect()
    assert got[0]["vec_id"] == 3
    meta2 = t.vector_index_meta()["embedding"]
    assert (meta2["pq_m"], meta2["pq_k"], meta2["pq_sample_n"]) == (8, 8, 256)
    # the rebuilt codes are m=8 bytes
    import pyarrow.parquet as pq_meta
    import glob as _glob
    import os as _os

    f = _glob.glob(_os.path.join(meta2["path"], "**", "*.parquet"),
                   recursive=True)[0]
    pf = pq_meta.ParquetFile(f)
    rows = [r for b in pf.iter_batches() for r in b.column("pq_code").to_pylist()]
    assert all(len(code) == 8 for code in rows if code is not None)


def test_ndv_sidecar_compaction(spark, tmp_path):
    """Refresh churn scatters one blob per batch; maintenance merges
    them into one (pointers repointed, estimates unchanged, old blobs
    reaped by the next expiry GC after the grace window)."""
    import os as _os

    t = LakehouseTable(str(tmp_path / "tbl"))
    for i in range(10):
        t.append(spark.range(i * 20, i * 20 + 20).select(F.col("id")))
        t.refresh_ndv_sketches(spark)
    m = t._read_manifest()
    assert len(set(m["ndv_sidecars"].values())) == 10
    est_before = t.ndv(spark)["id"]
    assert t.compact_ndv_sidecars(max_blobs=4) == 10
    m2 = t._read_manifest()
    assert len(set(m2["ndv_sidecars"].values())) == 1
    assert set(m2["ndv_sidecars"]) == set(m["ndv_sidecars"])
    assert t.ndv(spark)["id"] == est_before
    assert t.refresh_ndv_sketches(spark) == 0  # nothing lost
    # under the threshold: no-op
    assert t.compact_ndv_sidecars(max_blobs=4) == 0
    # old blobs die at the next expiry once past the grace window
    stats_dir = _os.path.join(t.path, "stats")
    for name in _os.listdir(stats_dir):
        p = _os.path.join(stats_dir, name)
        _os.utime(p, (time.time() - 600, time.time() - 600))
    t.expire_snapshots(keep_last=50)  # nothing expires; GC still runs
    left = [n for n in _os.listdir(stats_dir) if n.startswith("ndv-")]
    assert len(left) == 1  # only the merged blob survives
    assert t.ndv(spark)["id"] == est_before


def test_ndv_sidecar_compaction_preserves_lost_blob_pointers(spark, tmp_path):
    """Compaction must not silently drop coverage: files whose blob
    is unreadable keep their original pointer (self-heal on the next
    refresh), and superseded blobs get a fresh GC grace window so a
    pre-compaction reader can finish."""
    import os as _os

    t = LakehouseTable(str(tmp_path / "tbl"))
    for i in range(6):
        t.append(spark.range(i * 10, i * 10 + 10).select(F.col("id")))
        t.refresh_ndv_sketches(spark)
    m = t._read_manifest()
    victim_rel = sorted(set(m["ndv_sidecars"].values()))[0]
    victim_files = {
        f for f, rel in m["ndv_sidecars"].items() if rel == victim_rel
    }
    _os.remove(_os.path.join(t.path, victim_rel))
    # age the survivors so the grace-restart is observable
    stats_dir = _os.path.join(t.path, "stats")
    for name in _os.listdir(stats_dir):
        p = _os.path.join(stats_dir, name)
        _os.utime(p, (time.time() - 600, time.time() - 600))
    n = t.compact_ndv_sidecars(max_blobs=2)
    assert n == 5  # the 5 readable blobs merged; the lost one skipped
    m2 = t._read_manifest()
    for f in victim_files:
        assert m2["ndv_sidecars"][f] == victim_rel  # pointer preserved
    # superseded blobs got a fresh mtime: GC leaves them (grace)
    t.expire_snapshots(keep_last=50)
    merged_rel = {
        rel for rel in set(m2["ndv_sidecars"].values()) if rel != victim_rel
    }
    on_disk = {
        _os.path.join("stats", x)
        for x in _os.listdir(stats_dir)
        if x.startswith("ndv-")
    }
    assert merged_rel <= on_disk and len(on_disk) >= 6  # olds still in grace
    # lost-blob files re-sketch on the next refresh; estimate heals
    assert t.refresh_ndv_sketches(spark) == len(victim_files)
    assert abs(t.ndv(spark)["id"] - 60) <= 3


def test_read_as_of_timestamp(spark, tmp_path):
    import time as _time

    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        SnapshotNotFoundError as _SNF,
    )

    t = LakehouseTable(str(tmp_path / "asof"))
    t.append(spark.range(5).toDF("id"))
    ts1 = t.snapshots[-1]["ts"]
    t.append(spark.range(5, 9).toDF("id"))
    ts2 = t.snapshots[-1]["ts"]
    # at each commit's own timestamp, that commit's state reads
    assert t.read(spark, as_of_ts=ts1).count() == 5
    assert t.read(spark, as_of_ts=(ts1 + ts2) / 2).count() == 5
    assert t.read(spark, as_of_ts=ts2).count() == 9
    assert t.read(spark, as_of_ts=_time.time() + 60).count() == 9
    with pytest.raises(_SNF, match="no snapshot at or before"):
        t.read(spark, as_of_ts=ts1 - 1)
    with pytest.raises(ValueError, match="not several"):
        t.read(spark, snapshot_id=1, as_of_ts=ts1)


def _manifest_footprint(t) -> tuple[int, dict]:
    """(total manifest bytes on disk, parsed core) for a segmented
    table: the core plus every referenced segment file."""
    import json as _json

    with open(t.manifest_path) as f:
        core = _json.load(f)
    total = os.path.getsize(t.manifest_path)
    for d in core.get("segments", []):
        total += os.path.getsize(
            os.path.join(t.path, "_segments", d["name"])
        )
    return total, core


def test_manifest_commits_write_o_delta_bytes(spark, tmp_path):
    """The r8 verdict's top item: a commit writes O(its own delta)
    bytes — the open tail segment (bounded by the seal threshold)
    plus the metadata core — never a re-serialization of the whole
    history. Pinned across 100 append epochs: the second 50 commits
    write about the same bytes as the first 50 (the single-file
    layout wrote the ENTIRE manifest per commit, making the second
    half ~3x the first), and no single commit writes more than a
    seal-window's worth."""
    import json as _json

    from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh

    # seal cadence shrunk 64 → 8 so the same sealed-vs-tail dynamics
    # (several sealed segments, bounded open tail) need 32 one-row
    # Spark writes instead of 100 — the writes, not the manifest
    # logic, were the test's 30 s (suite wall-clock, VERDICT r13
    # item 1); the O(delta) assertion is cadence-relative either way
    old_seal = lh._SEGMENT_SEAL_SNAPSHOTS
    lh._SEGMENT_SEAL_SNAPSHOTS = 8
    try:
        t = LakehouseTable(str(tmp_path / "t"))
        per_commit = []
        for i in range(32):
            t.append(spark.createDataFrame([(i,)], "id long"))
            with open(t.manifest_path) as f:
                core = _json.load(f)
            written = os.path.getsize(t.manifest_path)
            # each append rewrites exactly the open tail segment (the
            # last descriptor) + the core
            written += os.path.getsize(
                os.path.join(
                    t.path, "_segments", core["segments"][-1]["name"]
                )
            )
            per_commit.append(written)
        first, second = sum(per_commit[:16]), sum(per_commit[16:])
        assert second < 1.8 * first, (first, second)
        # sealed segments are reused byte-identical: after 32 epochs
        # the sealed segment files' mtimes predate the tail's, and the
        # core stays metadata-sized (no per-file maps, no snapshot
        # lists)
        with open(t.manifest_path) as f:
            core = _json.load(f)
        assert len(core["segments"]) >= 2  # at least one sealed + tail
        assert "file_stats" not in core and "snapshots" not in core
        assert os.path.getsize(t.manifest_path) < 4096
        # and history still reconstructs exactly
        snaps = t.snapshots
        per_append = len(snaps[0]["files"])
        assert len(snaps[-1]["files"]) == 32 * per_append
        assert t.read(spark).count() == 32
        assert t.row_count() == 32
    finally:
        lh._SEGMENT_SEAL_SNAPSHOTS = old_seal


def test_manifest_delta_encoding_growth_and_roundtrip(spark, tmp_path):
    """Segments store per-snapshot file lists as deltas vs the
    predecessor, so a streaming-style append history costs O(epochs)
    manifest bytes, not O(epochs x files). Pins ~linear growth of the
    TOTAL manifest footprint (core + segments) and that decode
    reconstructs every historical file list exactly."""
    t = LakehouseTable(str(tmp_path / "t"))
    # 32 epochs instead of 100 (the one-row Spark writes were ~28 s
    # of suite wall-clock; linear-vs-quadratic growth separates just
    # as cleanly at 16 vs 32 epochs: ~2x for delta encoding, ~4x for
    # full-list re-serialization)
    sizes = {}
    for i in range(32):
        t.append(spark.createDataFrame([(i,)], "id long"))
        if i + 1 in (16, 32):
            sizes[i + 1] = _manifest_footprint(t)[0]
    assert sizes[32] < 2.5 * sizes[16], sizes
    # on disk: the tail segment's snapshots carry deltas, not lists
    _, core = _manifest_footprint(t)
    import json as _json

    with open(
        os.path.join(t.path, "_segments", core["segments"][-1]["name"])
    ) as f:
        tail_raw = _json.load(f)["snapshots"][-1]
    assert "files" not in tail_raw
    assert len(tail_raw["files_added"]) >= 1
    # in memory: full lists reconstruct exactly, history included
    snaps = t.snapshots
    per_append = len(snaps[0]["files"])
    assert len(snaps[-1]["files"]) == 32 * per_append
    assert snaps[15]["files"] == snaps[-1]["files"][: len(snaps[15]["files"])]
    # reads + time travel see every row
    assert t.read(spark).count() == 32
    mid = snaps[15]["id"]
    assert t.read(spark, snapshot_id=mid).count() == 16
    assert t.row_count() == 32


def test_manifest_delta_encoding_survives_rewrites(spark, tmp_path):
    """Delta encoding round-trips non-append history too: compaction
    (full rewrite), copy-on-write delete, and merge-on-read deletes
    (the `deletes` tail is delta-encoded the same way)."""
    from pyspark.sql import functions as F

    t = LakehouseTable(str(tmp_path / "t"))
    for i in range(6):
        t.append(spark.createDataFrame([(i, i * 10)], "id long, v long"))
    t.compact(spark, target_files=2)
    assert t.read(spark).count() == 6
    t.delete_where(spark, F.col("id") == 0)
    assert t.read(spark).count() == 5
    t.delete_where_mor(spark, F.col("id") == 1)
    assert t.read(spark).count() == 4
    t.append(spark.createDataFrame([(9, 90)], "id long, v long"))
    assert sorted(
        r["id"] for r in t.read(spark).collect()
    ) == [2, 3, 4, 5, 9]
    # time travel across the rewrite boundary still reconstructs
    pre_compact = t.snapshots[5]["id"]
    assert t.read(spark, snapshot_id=pre_compact).count() == 6
    # deletes tail is delta-encoded on disk once MoR deletes exist
    import json as _json

    with open(t.manifest_path) as f:
        core = _json.load(f)
    enc = []
    for d in core["segments"]:
        with open(os.path.join(t.path, "_segments", d["name"])) as f:
            enc.extend(_json.load(f)["snapshots"])
    assert any("deletes_added" in s or "deletes" in s for s in enc)


def test_manifest_legacy_full_lists_still_read(spark, tmp_path):
    """A pre-r9 single-file manifest (snapshots inline, full or
    delta-encoded lists, per-file maps at top level) reads unchanged
    and migrates to the SEGMENTED format on its next commit."""
    import json as _json
    import shutil as _shutil

    t = LakehouseTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))
    # rewrite the manifest in the legacy single-file full-list form
    m = t._read_manifest()
    legacy = {
        k: v for k, v in m.items() if not k.startswith("_seg")
    }
    legacy["snapshots"] = [dict(s.items()) for s in m["snapshots"]]
    with open(t.manifest_path, "w") as f:
        _json.dump(legacy, f)
    _shutil.rmtree(os.path.join(t.path, "_segments"))
    t2 = LakehouseTable(t.path)
    assert t2.read(spark).count() == 2
    assert t2.row_count() == 2  # per-file maps read from top level
    t2.append(spark.createDataFrame([(3,)], "id long"))
    with open(t2.manifest_path) as f:
        migrated = _json.load(f)
    # migrated: core carries segment descriptors, not snapshots/maps
    assert "segments" in migrated and "snapshots" not in migrated
    assert "file_stats" not in migrated
    assert t2.read(spark).count() == 3
    assert LakehouseTable(t.path).row_count() == 3


def test_manifest_keyless_snapshot_does_not_truncate_decode():
    """A mid-history snapshot with NO files key (hand-edited or a
    foreign writer variant) must not reset the decoder's running
    list: the encoder skips such snapshots without updating its prev,
    so the decoder must too — otherwise every later delta-encoded
    snapshot silently decodes to a truncated file list."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        _delta_decode_snapshots,
        _delta_encode_snapshots,
    )

    manifest = {
        "snapshots": [
            {"id": 1, "files": ["a.parquet", "b.parquet"]},
            {"id": 2},  # keyless interloper
            {"id": 3, "files": ["a.parquet", "b.parquet", "c.parquet"]},
        ]
    }
    import copy

    enc = _delta_encode_snapshots(copy.deepcopy(manifest))
    # snapshot 3 delta-encodes vs snapshot 1's list...
    assert enc["snapshots"][2].get("files_added") == ["c.parquet"]
    dec = _delta_decode_snapshots(copy.deepcopy(enc))
    # ...so the decoder must expand it vs the same baseline
    assert dec["snapshots"][2]["files"] == [
        "a.parquet",
        "b.parquet",
        "c.parquet",
    ]
    assert dec["snapshots"][1]["files"] == []
    assert dec["snapshots"][0]["files"] == ["a.parquet", "b.parquet"]


def test_overwrite_where_replaces_only_matching_rows(spark, tmp_path):
    """replaceWhere basics: matching rows are swapped for the incoming
    set in ONE 'replace' snapshot, everything else survives, and time
    travel still sees the pre-replace state."""
    t = LakehouseTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "eu", 10.0), (2, "us", 20.0), (3, "eu", 30.0)],
            "id long, region string, v double",
        )
    )
    pre = t.current_snapshot_id()
    snap = t.overwrite_where(
        spark,
        F.col("region") == "eu",
        spark.createDataFrame(
            [(7, "eu", 70.0)], "id long, region string, v double"
        ),
    )
    got = sorted(
        (r["id"], r["region"], r["v"]) for r in t.read(spark).collect()
    )
    assert got == [(2, "us", 20.0), (7, "eu", 70.0)]
    assert t.snapshots[-1]["operation"] == "replace"
    old = sorted(r["id"] for r in t.read(spark, pre).collect())
    assert old == [1, 2, 3]
    assert snap == t.current_snapshot_id()


def test_overwrite_where_validates_incoming(spark, tmp_path):
    """The Delta replaceWhere rule: an incoming row that does NOT
    satisfy the condition raises — it would land outside the replaced
    region where a replayed reload could never replace it out. NULL
    condition counts as a violation for incoming rows, but existing
    NULL-condition rows are KEPT (never deleted by three-valued
    logic)."""
    t = LakehouseTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "eu"), (2, None)], "id long, region string"
        )
    )
    with pytest.raises(ValueError, match="replaceWhere"):
        t.overwrite_where(
            spark,
            F.col("region") == "eu",
            spark.createDataFrame([(9, "us")], "id long, region string"),
        )
    with pytest.raises(ValueError, match="replaceWhere"):
        t.overwrite_where(
            spark,
            F.col("region") == "eu",
            spark.createDataFrame(
                [(9, None)], "id long, region string"
            ),
        )
    # nothing committed by the failed attempts
    assert len(t.snapshots) == 1
    t.overwrite_where(
        spark,
        F.col("region") == "eu",
        spark.createDataFrame([(9, "eu")], "id long, region string"),
    )
    got = sorted(
        (r["id"], r["region"]) for r in t.read(spark).collect()
    )
    # the NULL-region row survived the replace
    assert got == [(2, None), (9, "eu")]


def test_overwrite_where_ranges_carry_files_untouched(spark, tmp_path):
    """With ranges implied by the condition, files the manifest stats
    exclude CARRY OVER by path — replacing one key range costs
    O(affected files), the partition-reload shape at 100 TB."""
    t = LakehouseTable(str(tmp_path / "t"))
    t.append(
        spark.range(0, 800)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id")
    )
    before = list(t.snapshots[-1]["files"])
    t.overwrite_where(
        spark,
        (F.col("id") >= 0) & (F.col("id") < 100),
        spark.createDataFrame([(5, 555.0)], "id long, v double"),
        ranges={"id": (0, 99)},
    )
    after = list(t.snapshots[-1]["files"])
    carried = set(before) & set(after)
    # 8 range-sorted files: only ~1 intersects [0, 100) — the rest
    # carry by identity
    assert len(carried) >= 6
    rows = t.read(spark)
    assert rows.where(F.col("id") < 100).count() == 1
    assert rows.count() == 701  # 700 survivors + 1 replacement


def test_overwrite_where_composes_with_mor_deletes(spark, tmp_path):
    """Candidates scan delete-APPLIED (a MoR-deleted row can't
    resurrect through the rewrite) and the tail carries for
    untouched files."""
    t = LakehouseTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b"), (4, "b")],
            "id long, grp string",
        )
    )
    t.delete_where(spark, F.col("id") == 2, mode="merge-on-read")
    t.delete_where(spark, F.col("id") == 4, mode="merge-on-read")
    t.overwrite_where(
        spark,
        F.col("grp") == "a",
        spark.createDataFrame([(9, "a")], "id long, grp string"),
    )
    got = sorted(r["id"] for r in t.read(spark).collect())
    # 1,2 replaced by 9 (2 was already deleted — stays gone);
    # 3 survives; 4's delete still applies through the carried tail
    assert got == [3, 9]


def test_overwrite_where_evolves_schema(spark, tmp_path):
    """Incoming-only columns ADD like append: survivors and carried
    files read NULL via the committed-schema overlay."""
    t = LakehouseTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "eu"), (2, "us")], "id long, region string")
    )
    t.overwrite_where(
        spark,
        F.col("region") == "eu",
        spark.createDataFrame(
            [(7, "eu", "x")], "id long, region string, extra string"
        ),
    )
    got = {
        r["id"]: (r["region"], r["extra"])
        for r in t.read(spark).collect()
    }
    assert got == {2: ("us", None), 7: ("eu", "x")}


def test_manifest_decode_is_lazy_o_current(tmp_path):
    """Reading a long-history table and touching only the CURRENT
    snapshot's file list must materialize O(current files) entries,
    never O(snapshots x files) — the r7 verdict's remaining manifest
    scale item. 100 delta-encoded epochs: accessing the last
    snapshot's list leaves every other snapshot's list undecoded
    (raw-storage check, which bypasses the lazy resolver)."""
    import json as _json

    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        _delta_decode_snapshots,
        _delta_encode_snapshots,
        _LazySnapshot,
    )

    epochs = 100
    manifest = {"snapshots": []}
    files: list[str] = []
    for i in range(epochs):
        files = files + [f"f{i}.parquet"]
        manifest["snapshots"].append(
            {"id": i + 1, "operation": "append", "files": list(files)}
        )
    enc = _delta_encode_snapshots(manifest)
    # sanity: the on-disk form really is delta-encoded
    assert all("files_added" in s for s in enc["snapshots"])
    dec = _delta_decode_snapshots(_json.loads(_json.dumps(enc)))
    snaps = dec["snapshots"]
    current = snaps[-1]["files"]
    assert current == [f"f{i}.parquet" for i in range(epochs)]

    def materialized_entries():
        total = 0
        for s in snaps:
            if isinstance(s, _LazySnapshot):
                raw = dict.get(s, "files")
                total += len(raw) if raw is not None else 0
            else:
                total += len(s.get("files", []))
        return total

    # only the accessed (current) snapshot holds a decoded list
    assert materialized_entries() == epochs
    # the eager world held sum(1..100) = 5050 entries
    # full materialization still works and agrees with eager decode
    for idx, s in enumerate(snaps):
        assert s["files"] == [f"f{i}.parquet" for i in range(idx + 1)]
    assert materialized_entries() == epochs * (epochs + 1) // 2
    # re-encode after lazy decode round-trips losslessly
    enc2 = _delta_encode_snapshots(
        _delta_decode_snapshots(_json.loads(_json.dumps(enc)))
    )
    dec2 = _delta_decode_snapshots(enc2)
    for idx, s in enumerate(dec2["snapshots"]):
        assert s["files"] == [f"f{i}.parquet" for i in range(idx + 1)]


def test_lazy_snapshot_mapping_protocol(tmp_path):
    """The lazy snapshot honors the dict protocol callers rely on:
    get/contains/items/iteration/pop see the decoded lists, copy()
    and pickling produce plain dicts with lists resolved."""
    import json as _json
    import pickle

    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        _delta_decode_snapshots,
        _delta_encode_snapshots,
    )

    manifest = {
        "snapshots": [
            {"id": 1, "operation": "append", "files": ["a"]},
            {
                "id": 2,
                "operation": "append",
                "files": ["a", "b"],
                "deletes": ["d1.parquet"],
            },
        ]
    }
    enc = _delta_encode_snapshots(manifest)
    dec = _delta_decode_snapshots(_json.loads(_json.dumps(enc)))
    s = dec["snapshots"][1]
    assert "files" in s and "deletes" in s
    assert s.get("files") == ["a", "b"]
    assert dict(s.items())["files"] == ["a", "b"]
    assert set(iter(s)) >= {"id", "operation", "files", "deletes"}
    c = s.copy()
    assert type(c) is dict and c["files"] == ["a", "b"]
    p = pickle.loads(pickle.dumps(s))
    assert type(p) is dict and p["files"] == ["a", "b"]
    assert p["deletes"] == ["d1.parquet"]
    # assignment shadows the lazy value
    s2 = dec["snapshots"][0]
    s2["files"] = ["x"]
    assert s2["files"] == ["x"]


def test_lazy_snapshot_pop_del_len_eq(tmp_path):
    """pop/del on a LAZY key must not resurrect it (the key used to
    stay in the lazy set, so a later ``key in s`` re-decoded the
    popped list), and len()/== must see unmaterialized keys instead
    of raw storage (ADVICE r8)."""
    import json as _json

    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        _delta_decode_snapshots,
        _delta_encode_snapshots,
    )

    def fresh():
        manifest = {
            "snapshots": [
                {"id": 1, "operation": "append", "files": ["a"]},
                {
                    "id": 2,
                    "operation": "append",
                    "files": ["a", "b"],
                    "deletes": ["d1.parquet"],
                },
            ]
        }
        enc = _delta_encode_snapshots(manifest)
        return _delta_decode_snapshots(_json.loads(_json.dumps(enc)))

    # pop on a lazy, unmaterialized key: gone for good
    s = fresh()["snapshots"][1]
    assert s.pop("files") == ["a", "b"]
    assert "files" not in s
    assert s.get("files") is None
    assert "files" not in s.to_plain()
    # del behaves the same
    s2 = fresh()["snapshots"][1]
    del s2["deletes"]
    assert "deletes" not in s2
    assert s2.get("deletes") is None
    # len and == include unmaterialized lazy keys
    s3 = fresh()["snapshots"][1]
    expected = {
        "id": 2,
        "operation": "append",
        "files": ["a", "b"],
        "deletes": ["d1.parquet"],
    }
    assert len(fresh()["snapshots"][1]) == len(expected)
    assert s3 == expected
    assert not (s3 != expected)
    assert fresh()["snapshots"][1] != {"id": 2}


def test_overwrite_where_keeps_sort_clustering(spark, tmp_path):
    """overwrite_where on a table with a declared write sort order
    reshapes BOTH the survivors and the incoming rows, so repeated
    partition reloads don't silently de-cluster the table
    (ADVICE r8). Pinned the same way as the append clustering test:
    a point range prunes to ~1 file after the reload."""
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        t = LakehouseTable(str(tmp_path / "t"))
        t.set_sort_order(["id"])
        import random

        ids = list(range(0, 1000))
        random.Random(3).shuffle(ids)
        t.append(
            spark.createDataFrame(
                [(i, 0) for i in ids], "id long, gen long"
            )
        )
        assert len(t.pruned_files({"id": (500, 505)})) <= 2
        # reload the top half with unsorted incoming rows
        hi = [i for i in ids if i >= 500]
        random.Random(5).shuffle(hi)
        t.overwrite_where(
            spark,
            "id >= 500",
            spark.createDataFrame(
                [(i, 1) for i in hi], "id long, gen long"
            ),
        )
        assert t.read(spark).count() == 1000
        # both the rewritten survivors and the incoming set stay
        # range-clustered: point probes on either side prune
        assert len(t.pruned_files({"id": (100, 105)})) <= 2
        assert len(t.pruned_files({"id": (900, 905)})) <= 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)


def test_maintain_size_aware_compaction(spark, tmp_path):
    """target_file_bytes triggers a rewrite when the live files
    average under half the target even though the COUNT is under
    max_files, and the rewrite targets the file count the bytes
    imply (tiny table -> 1 file, not max_files tiny ones). Purely
    manifest-driven: no stat, no scan for the decision."""
    t = LakehouseTable(str(tmp_path / "t"))
    for i in range(4):  # 4 tiny files, under max_files=8
        t.append(spark.createDataFrame([(i,)], "id long").coalesce(1))
    m = t._read_manifest()
    total = sum(
        m["file_sizes"][f] for f in m["snapshots"][-1]["files"]
    )
    # count-based maintain alone would not compact (4 <= 8)
    rep0 = t.maintain(spark, max_files=8, keep_snapshots=10)
    assert rep0["compacted_from"] is None
    # size-aware: average file is far below half a big target
    rep = t.maintain(
        spark,
        max_files=8,
        keep_snapshots=10,
        target_file_bytes=total * 10,
    )
    assert rep["compacted_from"] == 4
    assert len(t.snapshots[-1]["files"]) == 1  # bytes imply 1 file
    assert t.read(spark).count() == 4
    # healthy table (single adequately-sized file): no re-trigger
    rep2 = t.maintain(
        spark,
        max_files=8,
        keep_snapshots=10,
        target_file_bytes=total * 10,
    )
    assert rep2["compacted_from"] is None


def test_sort_order_clusters_appends(spark, tmp_path):
    """A declared write sort order (set_sort_order) range-distributes
    and locally sorts every subsequent append, so footer stats prune
    a point range to ~1 of the new files — clustering at write time
    instead of compact(sort_by=...) afterward."""
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        t = LakehouseTable(str(tmp_path / "t"))
        t.append(
            spark.range(0, 10).selectExpr("id", "id * 2 AS v")
        )
        t.set_sort_order(["id"])
        assert t.sort_order() == ["id"]
        # unsorted incoming rows; the append reshapes them
        import random

        ids = list(range(10, 1010))
        random.Random(7).shuffle(ids)
        t.append(
            spark.createDataFrame(
                [(i, i * 2) for i in ids], "id long, v long"
            )
        )
        pruned = t.pruned_files({"id": (500, 505)})
        # the sorted append's files have disjoint ranges: the probe
        # keeps the 1 covering file + the small unsorted first file
        assert len(pruned) <= 2
        assert t.read(spark).count() == 1010
        # idempotent + clear
        t.set_sort_order(["id"])
        t.set_sort_order(None)
        assert t.sort_order() is None
        with pytest.raises(ValueError, match="sort columns"):
            t.set_sort_order(["nope"])
        # maintain/compact honor the declared order: re-declare and
        # compact without sort_by — files stay range-disjoint
        t.set_sort_order(["id"])
        t.compact(spark, target_files=4)
        # the probe may legitimately straddle ONE range boundary
        # (1010 rows / 4 files puts a boundary near 505, and range
        # sampling jitters it) — pin the real property instead: the
        # rewritten files cover pairwise-DISJOINT id ranges
        pruned2 = t.pruned_files({"id": (500, 505)})
        assert len(pruned2) <= 2
        m2 = t._read_manifest()
        spans = sorted(
            tuple(m2["file_stats"][f]["id"])
            for f in t.snapshots[-1]["files"]
        )
        for (_, prev_hi), (nxt_lo, _) in zip(spans, spans[1:]):
            assert prev_hi <= nxt_lo
    finally:
        # restore the PRIOR value (the session fixture's default is
        # not 32) — a hardcoded restore leaks config to later tests
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)


def test_generation_cas_blocks_broken_lock_double_write(spark, tmp_path):
    """VERDICT r8 item 6 (multi-writer safety beyond one host): the
    commit lock's stale-break can fire on a slow-but-alive writer —
    two writers then both believe they hold the lock. The generation
    CAS (put-if-absent marker, the object-store conditional-put
    pattern) detects the lost update BEFORE the core swap: exactly
    one double-writer commits, the other raises CommitConflict and
    nothing is clobbered."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        CommitConflict,
    )

    t = LakehouseTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    # two stale in-memory manifests = two writers past the lock
    m1 = t._read_manifest()
    m2 = t._read_manifest()
    m1["tags"] = {"a": t.current_snapshot_id()}
    m2["tags"] = {"b": t.current_snapshot_id()}
    t._commit(m1)
    with pytest.raises(CommitConflict, match="generation"):
        t._commit(m2)
    assert "a" in t.tags() and "b" not in t.tags()


def test_generation_cas_breaks_crashed_claimant(spark, tmp_path):
    """A writer that claimed a generation marker and died before the
    core swap must not wedge the table: past the stale window the
    marker is broken and the next commit proceeds (the commit-lock
    recovery rule, scoped to one token). A FRESH marker instead
    raises the retry-shortly conflict."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        CommitConflict,
    )

    t = LakehouseTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    gen = int(
        __import__("json").load(open(t.manifest_path))["generation"]
    )
    marker = os.path.join(t.path, "_gens", f"gen-{gen + 1}")
    open(marker, "w").close()
    # fresh marker: an in-flight writer — retry, don't break
    with pytest.raises(CommitConflict, match="in-flight"):
        t.append(spark.createDataFrame([(2,)], "id long"))
    # age it past the stale window: broken and re-claimed
    old = time.time() - 1000
    os.utime(marker, (old, old))
    t.append(spark.createDataFrame([(2,)], "id long"))
    assert t.read(spark).count() == 2


def test_generation_cas_lockless_optimistic_appends(spark, tmp_path):
    """The object-store deployment story: with NO commit lock at all
    (simulating a store with no O_EXCL mutex, only conditional put),
    concurrent appends serialize through the generation CAS alone —
    losers get CommitConflict and retry on a fresh read; every append
    lands exactly once."""
    import threading

    from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh

    t = LakehouseTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(0,)], "id long"))

    real_acquire = lh.LakehouseTable._acquire_lock

    def no_lock(self, timeout=30.0, stale_after=120.0):
        # hand back a throwaway path so the finally-unlink is a no-op
        return os.path.join(self.path, f"_nolock-{uuid_hex()}")

    def uuid_hex():
        import uuid as _uuid

        return _uuid.uuid4().hex

    lh.LakehouseTable._acquire_lock = no_lock
    errors: list = []
    try:
        def writer(i):
            df = spark.createDataFrame([(i,)], "id long")
            for _attempt in range(30):
                try:
                    LakehouseTable(t.path).append(df)
                    return
                except lh.CommitConflict:
                    time.sleep(0.02)
                except Exception as e:  # noqa: BLE001
                    errors.append(e)
                    return
            errors.append(RuntimeError(f"writer {i} starved"))

        threads = [
            threading.Thread(target=writer, args=(i,))
            for i in range(1, 5)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    finally:
        lh.LakehouseTable._acquire_lock = real_acquire
    assert not errors, errors
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [0, 1, 2, 3, 4]


def test_generation_cas_stale_writer_after_marker_reap(spark, tmp_path):
    """Review r9 repro: a writer whose base generation the table
    passed long ago must NOT win just because later commits reaped
    its target generation's marker — the O_EXCL create succeeds on
    the reaped name, so the post-win disk-generation re-validation
    is what stands between it and rolling the core back (the exact
    lost update the CAS exists to prevent)."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        CommitConflict,
    )
    import json as _json

    t = LakehouseTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    stale = t._read_manifest()  # writer A's base: generation g
    # three commits advance the core to g+3; the third's reap loop
    # removes the gen-(g+1) marker
    for i in (2, 3, 4):
        t.append(spark.createDataFrame([(i,)], "id long"))
    gens = os.listdir(os.path.join(t.path, "_gens"))
    gen_now = _json.load(open(t.manifest_path))["generation"]
    stale_target = int(stale.get("generation") or 0) + 1
    assert f"gen-{stale_target}" not in gens  # reaped — O_EXCL would win
    stale["tags"] = {"stale-writer": 1}
    with pytest.raises(CommitConflict, match="advanced to generation"):
        t._commit(stale)
    # nothing clobbered: generation and data intact
    assert _json.load(open(t.manifest_path))["generation"] == gen_now
    assert t.read(spark).count() == 4
    assert "stale-writer" not in t.tags()


def test_expire_snapshots_by_age(spark, tmp_path):
    """Iceberg expire_snapshots(older_than, retain_last) semantics:
    only snapshots committed BEFORE the cutoff expire, keep_last
    still retains the newest N regardless of age, and time travel to
    surviving young snapshots keeps working."""
    t = LakehouseTable(str(tmp_path / "t"))
    for i in range(6):
        t.append(spark.createDataFrame([(i,)], "id long"))
    snaps = t.snapshots
    cutoff = snaps[2]["ts"]  # strictly between commit 1 and 2
    # keep_last=1: age is the only protection for snaps 2..4
    expired = t.expire_snapshots(keep_last=1, older_than_ts=cutoff)
    assert expired == [snaps[0]["id"], snaps[1]["id"]]
    ids = [s["id"] for s in t.snapshots]
    assert ids == [s["id"] for s in snaps[2:]]
    # young survivors stay time-travelable
    assert t.read(spark, snapshot_id=snaps[3]["id"]).count() == 4
    assert t.read(spark).count() == 6
    # a future cutoff degrades to plain keep_last expiry
    import time as _time

    expired2 = t.expire_snapshots(
        keep_last=2, older_than_ts=_time.time() + 60
    )
    assert len(expired2) == 2
    assert len(t.snapshots) == 2


def test_manifest_segment_compaction(spark, tmp_path):
    """maintain()'s segment compaction folds a long-history table's
    many sealed segments back into one, so a COLD manifest open reads
    O(1) files instead of O(epochs/64) — without losing a snapshot
    (history and time travel intact)."""
    import json as _json

    from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh

    # shrink the seal cadence so ">2 sealed segments + tail" needs 20
    # one-row appends instead of 140 (identical code paths — sealing,
    # folding, reaping, decode — at 1/7 the suite wall-clock; the
    # 140-append form cost 100 s of a 37-minute serial run)
    old_seal = lh._SEGMENT_SEAL_SNAPSHOTS
    lh._SEGMENT_SEAL_SNAPSHOTS = 8
    try:
        t = LakehouseTable(str(tmp_path / "t"))
        df = spark.createDataFrame([(1,)], "id long").coalesce(1)
        for i in range(20):  # > 2 sealed segments + tail
            t.append(df)
        with open(t.manifest_path) as f:
            before = len(_json.load(f)["segments"])
        assert before >= 3
        # under threshold: no-op
        assert t.compact_manifest_segments(max_segments=before) == 0
        folded = t.compact_manifest_segments(max_segments=2)
        assert folded == before - 1
        with open(t.manifest_path) as f:
            core = _json.load(f)
        assert len(core["segments"]) == 1
        # nothing lost: full history, reads, time travel
        snaps = t.snapshots
        assert len(snaps) == 20
        assert t.read(spark).count() == 20
        assert t.read(spark, snapshot_id=snaps[9]["id"]).count() == 10
    finally:
        lh._SEGMENT_SEAL_SNAPSHOTS = old_seal
    # replaced segment files are reaped immediately (review r9: they
    # must not linger as O(history) JSON copies until an orphan
    # sweep's grace window); exactly the referenced one remains
    seg_dir = os.path.join(t.path, "_segments")
    assert os.listdir(seg_dir) == [core["segments"][0]["name"]]


def test_segment_reset_cadence_with_map_only_commits(spark, tmp_path):
    """Regression (r9): map-only commits (NDV/bloom pointer
    refreshes) create EMPTY tail segments; when the reset cadence
    flags one and the next append folds it, the new entries must
    encode from EMPTY state — seeding from the predecessor made the
    decoder truncate history to just the folded entries (caught by
    the NDV-refresh interleave: 384 appended files read back as 32)."""
    from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh

    old = lh._SEGMENT_RESET_EVERY
    lh._SEGMENT_RESET_EVERY = 2  # hit the cadence quickly
    try:
        t = LakehouseTable(str(tmp_path / "t"))
        for i in range(8):
            t.append(
                spark.createDataFrame([(i,)], "id long").coalesce(1)
            )
            # a map-only commit, like refresh_ndv_sketches does
            with t._locked_manifest() as m:
                m.setdefault("ndv_sidecars", {})[
                    f"fake-file-{i}"
                ] = f"stats/fake-{i}"
                t._commit(m)
        snaps = t.snapshots
        assert len(snaps[-1]["files"]) == 8
        assert t.read(spark).count() == 8
        # history reconstructs exactly at every snapshot (map-only
        # commits add no snapshot entries — 8 appends, 8 snapshots)
        assert [len(s["files"]) for s in snaps] == list(range(1, 9))
        # fresh instance decodes the same
        assert len(LakehouseTable(t.path).snapshots[-1]["files"]) == 8
    finally:
        lh._SEGMENT_RESET_EVERY = old


def test_empty_reset_tail_reused_mid_list_does_not_truncate(
    spark, tmp_path
):
    """Regression (ADVICE r10, high): a map-only commit at the reset
    cadence creates an EMPTY reset tail; a second DISJOINT map-only
    commit reuses it clean and appends another tail behind it. The
    assembled reset index then lands on the NEXT segment's first
    entry — whose deltas were encoded against the predecessor's full
    state — and the decoder zeroes there, silently truncating every
    later snapshot's file list to its own delta. Both sides are
    fixed: _commit never flags an entry-less tail as reset, and
    _assemble_segmented ignores reset flags on empty segments so
    already-written tables heal on read."""
    from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh

    old_seal, old_reset = (
        lh._SEGMENT_SEAL_SNAPSHOTS,
        lh._SEGMENT_RESET_EVERY,
    )
    lh._SEGMENT_SEAL_SNAPSHOTS = 4
    lh._SEGMENT_RESET_EVERY = 2
    try:
        t = LakehouseTable(str(tmp_path / "t"))
        df = spark.createDataFrame([(1,)], "id long").coalesce(1)
        # 12 appends -> 3 sealed segments (reset, cont, cont):
        # since_reset == 2 == cadence, so the NEXT fresh tail resets
        for _ in range(12):
            t.append(df)
        # two DISJOINT map-only commits: the first creates the
        # at-cadence tail, the second reuses it (clean: its entries
        # are untouched) and appends another tail behind it
        for i in range(2):
            with t._locked_manifest() as m:
                m.setdefault("ndv_sidecars", {})[
                    f"fake-{i}"
                ] = f"stats/fake-{i}"
                t._commit(m)
        t.append(df)
        snaps = LakehouseTable(t.path).snapshots
        assert [len(s["files"]) for s in snaps] == list(range(1, 14))
        assert t.read(spark).count() == 13
    finally:
        lh._SEGMENT_SEAL_SNAPSHOTS = old_seal
        lh._SEGMENT_RESET_EVERY = old_reset


def test_keyless_predecessor_does_not_resurrect_files(tmp_path):
    """Regression (ADVICE r10, medium): when the commit tail's
    predecessor snapshot is KEYLESS (foreign/hand-edited — no files /
    files_added / files_removed on its encoded entry), the decoder's
    running state at that boundary is 'last present', but
    ``pred[key]`` on a _LazySnapshot decodes keyless to []. Seeding
    the encoder from [] delta-encodes the new entry against empty
    while the decoder replays it against the OLD list — resurrecting
    files the new snapshot never had. The encoder must seed None
    there (first new entry stays FULL)."""
    import json as _json

    from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh

    t = lh.LakehouseTable(str(tmp_path / "t"))
    with t._locked_manifest() as m:
        m["snapshots"] = [
            {"id": 1, "operation": "append", "files": ["f0.parquet"]},
            {"id": 2, "operation": "foreign"},  # keyless
        ]
        t._commit(m)
    # a later commit appends a snapshot behind the keyless one
    t2 = lh.LakehouseTable(t.path)
    with t2._locked_manifest() as m:
        m["snapshots"] = list(m["snapshots"]) + [
            {"id": 3, "operation": "append", "files": ["f2.parquet"]}
        ]
        t2._commit(m)
    snaps = lh.LakehouseTable(t.path).snapshots
    assert snaps[0]["files"] == ["f0.parquet"]
    assert snaps[1]["files"] == []  # keyless reads empty
    assert snaps[2]["files"] == ["f2.parquet"]  # NOT ['f0','f2']
    # and the on-disk encoding kept the full list at the boundary
    with open(t.manifest_path) as f:
        core = _json.load(f)
    seg_dir = os.path.join(t.path, "_segments")
    last = core["segments"][-1]
    with open(os.path.join(seg_dir, last["name"])) as f:
        entries = _json.load(f)["snapshots"]
    tail_by_id = {e.get("id"): e for e in entries}
    assert tail_by_id[3].get("files") == ["f2.parquet"]


def test_incremental_scan_rides_through_row_preserving_rewrites(
    spark, tmp_path
):
    """incremental_scan (and the cheap change_feed path on top of it)
    skips data_change=False snapshots: a compaction or delete
    materialization mid-range contributes no rows, later appends diff
    against the post-rewrite file set, and row-CHANGING rewrites still
    raise LineageBrokenError."""
    from biglake_iceberg_pipeline_spark.sinks.lakehouse import (
        LineageBrokenError,
    )

    t = LakehouseTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,), (2,)], "id long"))
    base = t.current_snapshot_id()
    t.append(spark.createDataFrame([(3,)], "id long"))
    t.compact(spark, target_files=1)
    t.append(spark.createDataFrame([(4,)], "id long"))
    got = sorted(
        r["id"] for r in t.incremental_scan(spark, base).collect()
    )
    assert got == [3, 4]  # compaction's files not replayed
    feed = t.change_feed(spark, base)
    assert sorted(r["id"] for r in feed.collect()) == [3, 4]
    assert set(
        r["_change_type"] for r in feed.collect()
    ) == {"insert"}
    # delete materialization is row-preserving too
    t.delete_where(spark, F.col("id") == 1, mode="merge-on-read")
    b2 = t.current_snapshot_id()
    t.materialize_deletes(spark)
    assert t.snapshots[-1].get("data_change") is False
    t.append(spark.createDataFrame([(5,)], "id long"))
    assert sorted(
        r["id"] for r in t.incremental_scan(spark, b2).collect()
    ) == [5]
    # but the MoR delete itself (row-changing) still breaks lineage
    with pytest.raises(LineageBrokenError):
        t.incremental_scan(spark, base)


def test_segment_compaction_preserves_per_file_maps(spark, tmp_path):
    """Regression (/code-review r10, reproduced): the O(delta)
    tail-remainder fast path must NOT engage on a re-split commit
    (plan popped by compact_manifest_segments) — with no segments to
    own anything it silently dropped every pre-existing per-file map
    entry (file_rows 20 -> 0), which would corrupt MoR delete_meta
    kinds and kill stats/bloom pruning on any table crossing the
    segment-compaction threshold."""
    from biglake_iceberg_pipeline_spark.sinks import lakehouse as lh

    old_seal = lh._SEGMENT_SEAL_SNAPSHOTS
    lh._SEGMENT_SEAL_SNAPSHOTS = 4
    try:
        t = LakehouseTable(str(tmp_path / "t"))
        df = spark.createDataFrame([(1,)], "id long").coalesce(1)
        for _ in range(20):
            t.append(df)
        m = t._read_manifest()
        n_rows_entries = len(m["file_rows"])
        assert n_rows_entries == 20
        assert t.compact_manifest_segments(max_segments=2) > 0
        m2 = t._read_manifest()
        assert len(m2["file_rows"]) == n_rows_entries
        assert len(m2["file_stats"]) == n_rows_entries
        assert len(m2["file_added_at"]) == n_rows_entries
        assert t.row_count() == 20  # metadata-only count still exact
        assert t.read(spark).count() == 20
    finally:
        lh._SEGMENT_SEAL_SNAPSHOTS = old_seal
