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
``prepare_batch`` is reused unchanged — and new versions come out of the
merge's winner pipeline, so history rows get the same sha256 / lang
transforms):
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

Schema-change events and column merge policies are rejected: evolving
a history table rewrites closed rows, and a policy rewrites previous row
state, which breaks the immutability contract — run them on the
current-state table and re-derive history instead.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import bucket_expr
from .lake import SnapshotTable
from .merge import PreparedBatch, _committed, _prepared_noop, _winner_updates
from .metrics import BatchMetrics
from .policies import NO_POLICIES, MergePolicies
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
    spark: SparkSession,
    table: SnapshotTable,
    prep: PreparedBatch,
    use_arrow_udfs: bool = False,
    policies: MergePolicies = NO_POLICIES,
) -> BatchMetrics:
    """Phase 2 of a batch in SCD2 mode (phase 1 is merge.prepare_batch).
    ``use_arrow_udfs`` selects the row transforms' implementation exactly
    as in the merge; active column ``policies`` raise ValueError — they
    rewrite the previous row state, which history rows never change."""
    t0 = time.time()
    if _prepared_noop(table, prep, t0):
        return prep.m
    if prep.changes or policies.active:
        prep.slim.unpersist()
        raise ValueError(
            "scd2 mode does not accept schema-change events: history rows "
            "are immutable; evolve the current-state table instead"
            if prep.changes else
            "scd2 mode does not accept column merge policies: they rewrite "
            "previous row state, and history rows are immutable"
        )
    try:
        return _apply(table, prep, use_arrow_udfs, t0)
    finally:
        prep.slim.unpersist()


def _apply(table, prep, use_arrow_udfs, t0):
    m, touched = prep.m, prep.touched
    if not touched:
        table.commit(
            table.version() + 1, None, [], max(prep.ckpt, prep.lsn_to), [],
            m.to_dict(),
        )
        m.wall_secs = time.time() - t0
        return m

    target = table.read(buckets=touched)

    # close matched CURRENT rows: left join on the slim winner keys, then
    # a pure projection — history rows never move or multiply
    slim_keys = prep.slim.select(*KEY_COLS, F.col("lsn").alias("_win_lsn"))
    if prep.do_broadcast:
        slim_keys = F.broadcast(slim_keys)
    closed = target.join(slim_keys, KEY_COLS, "left").select(
        *[c for c in target.columns if c != "valid_to"],
        F.when(
            F.col("_win_lsn").isNotNull() & F.col("valid_to").isNull(),
            F.col("_win_lsn"),
        )
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
        bucket_expr(table.n_buckets).alias("_bucket"),
    )

    # open one new current row per I/U winner: the merge's winner
    # pipeline, with the applied winner's lsn as the interval start
    upd, _ = _winner_updates(
        table, prep, [], use_arrow_udfs=use_arrow_udfs, use_observations=False)
    opened = upd.where(F.col("op") != "D").select(
        "repo", "path", "commit", "lang", "content", "content_sha256",
        F.col("_last_lsn").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        "_bucket",
    )

    final = closed.unionByName(opened).repartition(max(len(touched), 1), "_bucket")
    version, out_dir = table.write_buckets(final)

    m.winners = prep.n_keys
    m.conflicts_resolved = m.data_events - m.winners
    m.buckets_touched = len(touched)
    t_phase = time.time()
    committed = table.commit(
        version, out_dir, touched, max(prep.ckpt, prep.lsn_to), [], m.to_dict())
    return _committed(m, committed, t_phase, t0)


def replay_scd2(
    spark: SparkSession,
    events: DataFrame,
    table: SnapshotTable,
    batch_size: int = 1_000_000,
    **kw,
) -> list[BatchMetrics]:
    """The standard replay loop (prepare one batch ahead) with the SCD2
    applier."""
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
