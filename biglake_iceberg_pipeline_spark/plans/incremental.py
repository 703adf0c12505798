"""Incremental gold refresh: CDC scan + additive MERGE.

Parity: the reference's medallion flow recomputes gold rollups from
silver on schedule; at 100 TB the right pattern is INCREMENTAL — each
refresh reads only the bronze/silver files appended since the last run
(lakehouse ``incremental_scan``) and folds their partial aggregates
into the gold table with a MERGE. Work per refresh is O(new data +
touched gold keys), never O(table).

Exactly-once refreshes for free: the bronze snapshot watermark rides
the gold table's transactional commit stamp (``txn=``) — the watermark
and the merged rows commit atomically, so a crashed refresh replays
safely and a duplicate refresh is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biglake_iceberg_pipeline_spark.sinks.lakehouse import LakehouseTable

_APP = "incr-refresh"


def refresh_additive_rollup(
    spark: SparkSession,
    source: LakehouseTable,
    gold: LakehouseTable,
    key_cols: list[str],
    agg_partial,
    agg_combine,
    app: str = _APP,
) -> int | None:
    """One incremental refresh step of an ADDITIVE rollup.

    ``agg_partial(df) -> DataFrame`` aggregates a batch of source rows
    to (key_cols, measures); ``agg_combine`` folds an existing gold
    measure with a delta — either ONE ``(old, new) -> Column`` applied
    to every measure, or a dict ``measure_col -> combine_fn`` for
    mixed-measure rollups (e.g. sums + mergeable HLL sketches).
    Decomposable measures only: SUM/COUNT fold with ``+``, MIN/MAX
    with least/greatest, COUNT DISTINCT must be carried as an HLL
    sketch column combined with ``hll_union`` (see
    ``refresh_daily_uniques``), AVG as sum+count.

    Returns the new gold snapshot id, or None when there is nothing
    new. Raises (from incremental_scan) if the source saw a rewrite
    since the last watermark — re-baseline with ``full_refresh``.
    """
    current = source.current_snapshot_id()
    if current is None:
        return None
    watermark = gold.last_txn_version(app)
    if watermark is not None and watermark >= current:
        return None  # nothing new
    if watermark is None:
        delta = source.read(spark)
    else:
        delta = source.incremental_scan(spark, watermark, current)
    partial = agg_partial(delta)
    measure_cols = [c for c in partial.columns if c not in key_cols]
    if not callable(agg_combine):
        combines = dict(agg_combine)
        missing = set(measure_cols) - set(combines)
        if missing:
            raise ValueError(f"no combine fn for measures {missing}")
    else:
        combines = {c: agg_combine for c in measure_cols}

    if gold.current_snapshot_id() is None:
        return gold.append(partial, txn=(app, current))

    existing = gold.read(spark)
    # Fold deltas into the touched gold rows only: join on the rollup
    # key (broadcast the delta side — a refresh touches few keys
    # relative to the table), untouched gold rows pass through MERGE
    # unchanged because they never appear in the source frame.
    joined = existing.join(
        F.broadcast(partial.select(*key_cols)), key_cols, "inner"
    )
    renamed = joined.select(
        *key_cols,
        *[F.col(c).alias(f"__old_{c}") for c in measure_cols],
    )
    combined = (
        partial.join(renamed, key_cols, "left")
        .select(
            *key_cols,
            *[
                F.when(
                    F.col(f"__old_{c}").isNull(), F.col(c)
                ).otherwise(
                    combines[c](F.col(f"__old_{c}"), F.col(c))
                ).alias(c)
                for c in measure_cols
            ],
        )
    )
    return gold.merge(spark, combined, key_cols, txn=(app, current))


def full_refresh(
    spark: SparkSession,
    source: LakehouseTable,
    gold: LakehouseTable,
    agg_partial,
) -> int:
    """Re-baseline after a source rewrite: recompute the rollup from
    the full source read and overwrite gold; the watermark resets to
    the snapshot just consumed."""
    current = source.current_snapshot_id()
    gold.overwrite(agg_partial(source.read(spark)))
    # overwrite has no txn seam; stamp the watermark in a separate
    # manifest-only commit (the overwrite itself is idempotent for a
    # deterministic rollup)
    lock_free_stamp(gold, current)
    return gold.current_snapshot_id()


def lock_free_stamp(
    gold: LakehouseTable, version: int, app: str = _APP
) -> None:
    """Record the source watermark on a table without writing data
    (manifest-only update under the commit lock)."""
    with gold._locked_manifest() as manifest:
        manifest.setdefault("txns", {})[app] = version
        gold._commit(manifest)


def daily_sales_partial(df: DataFrame) -> DataFrame:
    """The gold_daily_sales additive core: per-date order count and
    revenue (decomposable; AVG-style measures would carry sum+count)."""
    return df.groupBy(
        F.to_date("o_orderdate").alias("sale_date")
    ).agg(
        F.count(F.lit(1)).alias("order_count"),
        F.sum("o_totalprice").alias("revenue"),
    )


def refresh_daily_sales(
    spark: SparkSession, bronze: LakehouseTable, gold: LakehouseTable
) -> int | None:
    """Incrementally maintain a daily-sales rollup over an orders
    bronze table."""
    return refresh_additive_rollup(
        spark,
        bronze,
        gold,
        ["sale_date"],
        daily_sales_partial,
        lambda old, new: old + new,
    )


def daily_uniques_partial(df: DataFrame) -> DataFrame:
    """Per-day event count + DISTINCT-USER state as an HLL sketch
    (Apache DataSketches via Spark's hll_sketch_agg). COUNT DISTINCT
    is not additive, but sketches MERGE — the gold table stores the
    sketch binary, so each refresh unions O(new days) sketches instead
    of rescanning all history. Read the estimate with
    ``daily_uniques_estimate``."""
    return df.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.hll_sketch_agg("user_id").alias("users_sketch"),
    )


def refresh_daily_uniques(
    spark: SparkSession, bronze: LakehouseTable, gold: LakehouseTable
) -> int | None:
    """Incrementally maintain per-day unique-user counts over an
    events bronze table via mergeable HLL sketch state."""
    return refresh_additive_rollup(
        spark,
        bronze,
        gold,
        ["event_date"],
        daily_uniques_partial,
        {
            "n_events": lambda old, new: old + new,
            "users_sketch": lambda old, new: F.hll_union(old, new),
        },
    )


def daily_uniques_estimate(df: DataFrame) -> DataFrame:
    """Reader view over the sketch-state gold table."""
    return df.select(
        "event_date",
        "n_events",
        F.hll_sketch_estimate("users_sketch").alias("approx_users"),
    )
