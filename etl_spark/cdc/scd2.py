"""SCD Type 2 apply mode: versioned history instead of replace-in-place.

Where the default MERGE keeps one current row per key (last writer
wins), SCD2 keeps EVERY applied version as its own row with a validity
interval — the standard dimension-history pattern the reference
approximates with first_seen/last_seen touch columns
(hive_to_dwh/load.py:25-26) but cannot actually answer "what did this
row look like at lsn X?" for. Here:

    (repo, path, valid_from)      -- valid_from = the applying winner's lsn
    valid_to IS NULL              -- the key's current version
    valid_to = L                  -- superseded (or deleted) at lsn L

Apply semantics per micro-batch (batch conflicts collapse to the
per-key winner first, same slim HashAggregate as the merge —
``prepare_batch`` is reused unchanged):
- winner I/U on a key with a current row: close it (valid_to = winner
  lsn) AND open a new current row at valid_from = winner lsn;
- winner I/U on an absent/deleted key: open a new current row;
- winner D on a key with a current row: close it, open nothing;
- winner D otherwise: no-op.

Physical plan is the merge's shape with the delete branch removed:
history rows are immutable once closed, so the target side is a
carry-all scan of the touched buckets where ONLY matched current rows
get their ``valid_to`` stamped (a projection, not a join explosion),
and the new-version branch is the winner semi-join. One write action
per batch; bucketing by (repo, path) keeps a key's whole history
colocated, so point-in-time lookups stay single-bucket.

Schema-change events are rejected: evolving a history table rewrites
closed rows, which breaks the immutability contract — run schema
evolution on the current-state table and re-derive history instead.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.udfs import lang_norm_expr
from .dedup import bucket_expr, dedup_last_writer
from .lake import SnapshotTable, scan_written_footers
from .merge import BROADCAST_MAX_ROWS, _lineage_from_harvest, prepare_batch
from .metrics import BatchMetrics
from .schema import KEY_COLS

SCD2_FIELDS = [
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
    T.StructField("content_sha256", T.StringType()),
    T.StructField("valid_from", T.LongType()),
    T.StructField("valid_to", T.LongType()),
]


def scd2_table(spark: SparkSession, root: str, n_buckets: int = 8) -> SnapshotTable:
    return SnapshotTable(spark, root, n_buckets=n_buckets, base_fields=SCD2_FIELDS)


def apply_scd2_prepared(
    spark: SparkSession, table: SnapshotTable, prep, **_ignored
) -> BatchMetrics:
    """Phase 2 of a batch in SCD2 mode (phase 1 is merge.prepare_batch).
    Extra applier kwargs from the shared replay loop (salted_dedup,
    policies, ...) are accepted and ignored — column policies target the
    current-state merge, not history rows."""
    t0 = time.time()
    m = prep.m
    if prep.noop:
        m.wall_secs = time.time() - t0
        return m
    if table.last_lsn() != prep.ckpt:
        prep.slim.unpersist()
        raise ValueError(
            f"batch {prep.batch_id} prepared at ckpt={prep.ckpt} but table "
            f"is at {table.last_lsn()}; re-prepare before applying"
        )
    if prep.changes:
        prep.slim.unpersist()
        raise ValueError(
            "scd2 mode does not accept schema-change events: history rows "
            "are immutable; evolve the current-state table instead"
        )
    slim, touched = prep.slim, prep.touched
    try:
        return _apply(spark, table, prep, slim, touched, m, t0)
    finally:
        slim.unpersist()


def _apply(spark, table, prep, slim, touched, m, t0):
    if not touched:
        table.commit(
            table.version() + 1, None, [], max(prep.ckpt, prep.lsn_to), [],
            m.to_dict(),
        )
        m.wall_secs = time.time() - t0
        return m

    do_broadcast = prep.n_keys <= BROADCAST_MAX_ROWS
    target = table.read(buckets=touched)

    # close matched CURRENT rows: left join on the slim winner keys, then
    # a pure projection — history rows never move or multiply
    slim_keys = slim.select(*KEY_COLS, F.col("lsn").alias("_win_lsn"))
    if do_broadcast:
        slim_keys = F.broadcast(slim_keys)
    closed = target.join(slim_keys, KEY_COLS, "left").select(
        *[c for c in target.columns if c != "valid_to"],
        F.when(
            F.col("_win_lsn").isNotNull() & F.col("valid_to").isNull(),
            F.col("_win_lsn"),
        )
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
    )

    # open one new current row per I/U winner (semi-join reduction: the
    # wide content column crosses the wire once, winners only)
    winner_ids = slim.where(F.col("op") != "D").select("lsn")
    if do_broadcast:
        winner_ids = F.broadcast(winner_ids)
    upd_src = prep.data.join(winner_ids, "lsn", "semi")
    winners = (
        upd_src
        if m.duplicate_deliveries == 0
        else dedup_last_writer(upd_src, KEY_COLS, "lsn")
    )
    opened = winners.select(
        "repo", "path", "commit",
        lang_norm_expr(F.col("lang")).alias("lang"),
        "content",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.col("lsn").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )

    final = (
        closed.unionByName(opened)
        .withColumn("_bucket", bucket_expr(table.n_buckets))
        .repartition(max(len(touched), 1), "_bucket")
    )
    version = table.version() + 1
    out_dir = table.new_data_dir(version)
    final.write.mode("overwrite").partitionBy("_bucket").parquet(out_dir)

    m.winners = prep.n_keys
    m.conflicts_resolved = m.data_events - m.winners
    m.buckets_touched = len(touched)
    harvest = scan_written_footers(table.root, out_dir)
    m.lineage = _lineage_from_harvest(harvest)
    m.rows_out = sum(int(v["rows"]) for v in m.lineage.values())
    table.commit(
        version, out_dir, touched, max(prep.ckpt, prep.lsn_to), [], m.to_dict(),
        bucket_refs={b: v["files"] for b, v in harvest.items()},
    )
    m.wall_secs = time.time() - t0
    return m


def replay_scd2(
    spark: SparkSession,
    events: DataFrame,
    table: SnapshotTable,
    batch_size: int = 1_000_000,
    **kw,
) -> list[BatchMetrics]:
    """The standard pipelined replay loop with the SCD2 applier."""
    from .runner import replay

    return replay(
        spark, events, table, batch_size=batch_size,
        applier=apply_scd2_prepared, **kw,
    )


def current_rows(table: SnapshotTable) -> DataFrame:
    return table.read().where(F.col("valid_to").isNull())


def as_of(table: SnapshotTable, lsn: int) -> DataFrame:
    """Point-in-time view: the row version live just after ``lsn`` was
    applied (valid_from <= lsn < valid_to). A plain filter — parquet
    min/max stats on valid_from prune old history files."""
    return table.read().where(
        (F.col("valid_from") <= lsn)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > lsn))
    )
