"""Per-key last-writer-wins dedup + hashed (repo,path) bucketing.

Reference semantics: ``resolve_doubles`` at
host_available_info_from_hive_to_dwh/main.py:66-120 — an O(n^2)
self-compare that merges duplicate keys, order-dependent on input list
order. Here it is a strictly-LSN-ordered reduction (deterministic under
any parallelism, SURVEY.md §7.4.4), expressed as an aggregation rather
than a window:

- ``groupBy(key).agg(max_by(row, lsn))`` is a hash aggregate with
  MAP-SIDE PARTIAL AGGREGATION: every task reduces its local slice of a
  hot key to one row before the shuffle — this is the salted two-phase
  reduce of the north_rule, performed by Spark's partial-agg machinery
  with zero extra shuffles. A window (`row_number over partitionBy`)
  would instead shuffle and sort EVERY event of the hot key into one
  task — the straggler we must avoid.

Bucketing: ``bucket = pmod(xxhash64(repo, path), n_buckets)`` is the
engine's partition spec for the lake table (north_rule "salted
(repo,path) key"; Iceberg analog: ``bucket(N, repo||path)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 32


def bucket_expr(n_buckets: int = DEFAULT_BUCKETS):
    """Deterministic bucket id for a (repo, path) key."""
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn("_bucket", bucket_expr(n_buckets))


def dedup_last_writer(
    events: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str = "lsn",
) -> DataFrame:
    """Keep, per key, the row with the max ``order_col``.

    lsn is unique (FIXTURES.md §2) so the winner is deterministic.
    Duplicate deliveries (same lsn twice) collapse to one identical row.
    """
    key_cols = key_cols or ["repo", "path"]
    cols = events.columns
    row = F.struct(*[F.col(c) for c in cols])
    return (
        events.groupBy(*key_cols)
        .agg(F.max_by(row, F.col(order_col)).alias("_r"))
        .select("_r.*")
    )


def dedup_last_writer_slim(
    events: DataFrame,
    key_cols: list[str] | None = None,
    order_col: str = "lsn",
) -> DataFrame:
    """Per-key last-writer via SLIM aggregate + semi-join back.

    Requires ``order_col`` to be globally unique (lsn/event_id are) AND
    each event to appear at most once: a duplicate DELIVERY of the
    winning event passes the semi-join twice and yields the key twice.
    For at-least-once inputs use ``dedup_last_writer`` (collapses
    same-order duplicates) or the merge path, which proves batches
    duplicate-free with its packed-long probe and falls back to the full
    dedup only when needed (merge.py dup_free) — collapsing duplicates
    HERE would cost a wide winners shuffle on every call to handle a
    case the callers' sources exclude by construction.

    Two narrow steps instead of one wide ``max_by(struct)``:

    1. ``groupBy(key).agg(max(order))`` — a single-LONG buffer, so it
       plans as HashAggregate with map-side partial combine. max_by over
       a full-row struct buffer plans as SortAggregate (per-partition
       sort of EVERY event, all columns wide) — the same regression the
       merge path avoids with its packed-long slim aggregate
       (merge.py:237-251).
    2. semi-join the events scan on the winning order values — the wide
       columns cross the wire once, only for winner rows.

    At 100 TB step 1 shuffles ~16-byte rows instead of full events, and
    AQE broadcasts the winner-id side when it is small.
    """
    key_cols = key_cols or ["repo", "path"]
    winner_ids = (
        events.groupBy(*key_cols)
        .agg(F.max(order_col).alias(order_col))
        .select(order_col)
    )
    return events.join(winner_ids, order_col, "semi")
