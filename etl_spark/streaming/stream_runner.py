"""Structured Streaming front-end for the CDC engine.

The bounded-replay driver (cdc/runner.py) is a plain loop over LSN
ranges — right for deterministic replay of a static log. This module is
the UNBOUNDED front-end: the same exactly-once ``apply_batch`` hung off
``readStream -> foreachBatch``, for a log directory that keeps growing
(the reference's closest analog is the 10-minute Airflow cron windows,
incidents_for_dashboards/main.py:359 — here the trigger replaces cron).

Exactly-once composition: Structured Streaming's file source +
checkpointLocation give at-least-once delivery of new log files;
``apply_batch`` is idempotent under redelivery (events at-or-below the
table's committed LSN count as late and drop, full batches below the
checkpoint are recorded no-ops), so the composition is exactly-once on
the table regardless of micro-batch replay. The table's own manifest —
not Spark's offset log — remains the source of truth.

Late data: the engine's watermark is the committed LSN itself. An event
whose lsn <= checkpoint is counted in ``late_events`` and dropped
(idempotent, D5 semantics); there is no event-time watermark state to
maintain because conflict resolution is total-ordered by lsn.

In-order contract: micro-batches must arrive in non-decreasing LSN
order (a binlog/WAL tail appends files over time, and Spark's file
source delivers oldest-mtime-first, so this holds for any real log
directory). Within a batch, order is irrelevant — the per-key max-LSN
reduce handles any interleaving. Cross-batch REGRESSIONS (an entire
batch below the checkpoint) are dropped idempotently; a batch
straddling the checkpoint has its stale prefix dropped row-wise.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..cdc.lake import SnapshotTable
from ..cdc.merge import apply_batch
from ..cdc.metrics import BatchMetrics
from ..cdc.policies import NO_POLICIES
from ..cdc.schema import EVENT_SCHEMA


class OutOfOrderDeliveryError(RuntimeError):
    """A NEW micro-batch arrived entirely below the committed LSN.

    The file source's oldest-mtime-first ordering broke (copied/backfilled
    files, mtime ties): silently dropping the batch as 'late' would LOSE
    its data, so the stream fails loudly instead. Legitimate redelivery
    after a crash (same epoch id re-run by Structured Streaming) is NOT
    an error and is absorbed idempotently."""


def stream_replay(
    spark: SparkSession,
    events_dir: str,
    table: SnapshotTable,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    use_arrow_udfs: bool = False,
    collected_metrics: list[BatchMetrics] | None = None,
    policies=None,
    write_mode: str = "cow",
    compact_chain_len: int | None = None,
):
    """Tail ``events_dir`` as a file stream and MERGE each micro-batch.

    available_now=True drains everything currently in the directory and
    stops (the batch-oriented test/replay mode); False runs until
    ``query.stop()`` with the default trigger. Returns the streaming
    query handle (call ``awaitTermination()``).

    ``write_mode="delta"`` + ``compact_chain_len=K`` is the unbounded
    10^10-event shape: winners-only merge-on-read commits per
    micro-batch (O(batch) write cost forever) with per-bucket chain
    folding whenever a bucket exceeds its delta-commit budget.
    Compaction inside the sink is safe under crash-redelivery: it
    changes neither the LSN checkpoint nor the row set, so a re-run
    epoch still lands as the recorded idempotent no-op.
    """
    reader = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        if max_files_per_trigger
        else spark.readStream.schema(EVENT_SCHEMA)
    )
    stream = reader.parquet(events_dir)

    # last epoch whose batch was APPLIED, persisted next to Spark's own
    # offset log: distinguishes crash-redelivery (same epoch re-runs -> a
    # fully-late batch is the expected idempotent no-op) from genuine
    # out-of-order delivery (a NEW epoch entirely below the checkpoint ->
    # data loss if silently dropped) — ADVICE round 1.
    os.makedirs(checkpoint_dir, exist_ok=True)
    epoch_path = os.path.join(checkpoint_dir, "_applied_epoch")

    def _last_applied_epoch() -> int:
        try:
            with open(epoch_path) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return -1

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # the micro-batch is whatever files arrived; its LSN range is
        # discovered, not assumed — apply_batch's checkpoint logic does
        # the late/duplicate accounting
        bounds = batch_df.selectExpr(
            "min(lsn) as lo", "max(lsn) as hi"
        ).collect()[0]
        if bounds["hi"] is None:
            return
        if int(bounds["hi"]) <= table.last_lsn() and epoch_id > _last_applied_epoch():
            raise OutOfOrderDeliveryError(
                f"epoch {epoch_id}: new batch lsn range "
                f"[{bounds['lo']}, {bounds['hi']}] is entirely at or below "
                f"the committed checkpoint {table.last_lsn()} — the source "
                "delivered files out of LSN order"
            )
        bm = apply_batch(
            spark,
            table,
            batch_df,
            table.version() + 1,
            int(bounds["lo"]) - 1,
            int(bounds["hi"]),
            use_arrow_udfs=use_arrow_udfs,
            policies=policies if policies is not None else NO_POLICIES,
            # CollectMetrics under a Union never reports inside a
            # foreachBatch sub-execution; metrics are recomputed from the
            # slim winners + a pruned target scan instead (merge.py)
            use_observations=False,
            write_mode=write_mode,
        )
        if compact_chain_len is not None:
            from ..cdc.maintain import chain_lengths, compact

            if any(n > compact_chain_len
                   for n in chain_lengths(table).values()):
                compact(spark, table, max_files_per_bucket=1 << 30,
                        max_chain_len=compact_chain_len)
        with open(epoch_path, "w") as f:
            f.write(str(epoch_id))
        if collected_metrics is not None:
            collected_metrics.append(bm)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_windowed_rates(
    spark: SparkSession,
    events_dir: str,
    window_dur: str = "1 minute",
    watermark: str = "30 seconds",
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Event-time windowed per-repo rates over the live log — the
    streaming analog of the batch windowed-derivative scan (S7/A5,
    reference write_metrics_to_influxdb/main.py mean-over-window shape).

    Unlike the CDC merge path (whose only watermark is the committed
    LSN), a rate/metrics aggregation is event-time stateful: the
    ``withWatermark`` bound lets Spark finalize and EVICT window state
    older than max(event_time) - watermark, so state is O(active
    windows), not O(stream history) — the property that keeps this
    runnable forever at 10^10-event scale. Events later than the
    watermark are dropped from their (already finalized) window, the
    documented late-data grace (D5) trade.

    Returns the streaming DataFrame; attach a sink (memory/foreachBatch/
    parquet) and trigger to run. ``update`` output mode emits per-batch
    refinements; ``append`` emits each window once, when finalized.
    """
    from pyspark.sql import functions as F

    src = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        src = src.option("maxFilesPerTrigger", str(max_files_per_trigger))
    events = src.parquet(events_dir)
    return (
        events.where(F.col("op") != "S")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_dur).alias("w"), "repo")
        .agg(
            F.count("*").alias("n_events"),
            F.max("lsn").alias("max_lsn"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "repo",
            "n_events",
            "max_lsn",
        )
    )
