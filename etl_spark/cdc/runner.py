"""Replay driver: micro-batch loop over LSN ranges + spark-submit entrypoint.

The reference's "streaming" is Airflow cron windows over ``change_time``
(SURVEY.md §2.9); deterministic replay of an ordered log is a plain loop
over LSN chunks — each iteration is one exactly-once ``apply_batch``.
Resume: the checkpoint (last applied lsn) is read back from the table
manifest, so killing the driver between batches and re-running continues
from the next unapplied lsn; re-running an applied batch is a no-op.

Cluster launch (north_rule):
    spark-submit --py-files etl_spark.zip -m etl_spark.cdc.runner \\
        --events <log dir> --table <lake root> --batch-size 1000000

The event-log parquet is written repartitionByRange(lsn) (gen.py), so
each batch's ``lsn BETWEEN a AND b`` filter prunes row groups via parquet
min/max stats — a batch scan touches only its slice of the log.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lake import SnapshotTable
from .metrics import BatchMetrics
from .policies import NO_POLICIES, MergePolicies
from .schema import EVENT_SCHEMA


def read_event_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(EVENT_SCHEMA).parquet(path)


def preflight_counts(events: DataFrame) -> dict:
    """One validation pass over a log BEFORE replay: null-lsn rows can
    never enter a batch (the LSN window filter and the bounds probe both
    drop them), so the in-batch quarantine cannot see them — this scan
    can. Returns counts by problem; all-zero means every event will be
    either applied or quarantined, none silently invisible. The validity
    predicates are imported from the merge (single source of truth), so
    this guarantee cannot drift from what the quarantine actually does."""
    from .merge import event_bad_op_expr, event_null_key_expr

    row = events.agg(
        F.count("*").alias("total"),
        F.sum(F.when(F.col("lsn").isNull(), 1).otherwise(0)).alias("null_lsn"),
        F.sum(F.when(event_bad_op_expr(), 1).otherwise(0)).alias("bad_op"),
        F.sum(F.when(event_null_key_expr(), 1).otherwise(0)).alias("null_key"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in ("total", "null_lsn", "bad_op", "null_key")}


def replay(
    spark: SparkSession,
    events: DataFrame,
    table: SnapshotTable,
    batch_size: int = 1_000_000,
    max_batches: int | None = None,
    use_arrow_udfs: bool = False,
    log: bool = False,
    policies: MergePolicies = NO_POLICIES,
    applier=None,
    write_mode: str = "cow",
    compact_every: int | None = None,
    compact_chain_len: int | None = None,
    compaction_log: list | None = None,
) -> list[BatchMetrics]:
    """Replay the whole log (or the next ``max_batches``) into the table.

    ``write_mode="delta"`` applies batches merge-on-read (winners-only
    delta commits, merge.apply_prepared docstring) — the O(batch)-cost
    write path for tables so large that bucket CoW would rewrite ~the
    whole table every batch. ``compact_every=K`` folds the delta chains
    back into plain bucket dirs every K batches (and once at the end),
    bounding read-side reconstruction cost; compaction changes neither
    the checkpoint nor the row set, so it composes with the prepare that
    runs one batch ahead (which depends only on the log and the LSN
    cursor).
    ``compact_chain_len=K`` is the per-bucket alternative (Hudi
    max-delta-commits): after each batch, fold ONLY buckets whose chain
    exceeds K dirs — hot buckets compact often, cold buckets never get
    rewritten, and read amplification stays bounded at K everywhere.

    Every batch after the first is prepared one batch ahead: batch
    windows are fixed LSN ranges, so the checkpoint after batch b is
    known (= lsn_to(b)) before b commits, and batch b+1's prepare phase
    (slim conflict resolution; reads only the log) runs on one
    background thread CONCURRENTLY with batch b's merge+write job,
    filling executor slots the write leaves idle. The thread's pool is
    shut down before ``replay`` returns or raises. Commits stay strictly
    sequential, so exactly-once and crash-resume semantics are those of
    a serial loop: on restart the cursor re-reads the table checkpoint
    and any half-prepared batch is simply re-prepared.

    ``merge.prepare_batch`` and ``merge.apply_prepared`` are looked up
    on the merge module at call time, so a wrapper installed on them
    (a tracer, a test spy) sees every batch.
    """
    from concurrent.futures import ThreadPoolExecutor

    from .merge import apply_prepared, prepare_batch

    # the apply phase is pluggable: the default MERGE keeps one current
    # row per key; scd2.apply_scd2_prepared keeps full history
    if applier is None:
        if write_mode == "cow":
            applier = apply_prepared
        else:
            import functools

            applier = functools.partial(apply_prepared, write_mode=write_mode)

    bounds = events.agg(
        F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
    ).collect()[0]
    if bounds["hi"] is None:
        return []
    hi = int(bounds["hi"])
    lo = int(bounds["lo"])

    def window(cursor: int) -> tuple[int, int, DataFrame]:
        lsn_from, lsn_to = cursor, min(cursor + batch_size, hi)
        return lsn_from, lsn_to, events.where(
            (F.col("lsn") > lsn_from) & (F.col("lsn") <= lsn_to)
        )

    out: list[BatchMetrics] = []
    if lo - 1 > table.last_lsn():
        # fast-forward past the gap below the log's first lsn: a re-based
        # log (lsns starting at 5e9) would otherwise grind through
        # thousands of empty windows, each a full prepare cycle plus a
        # metadata-only commit. No event can live in (checkpoint, lo), so
        # ONE metadata-only commit advancing the checkpoint to lo - 1 is
        # exactly-once-preserving — and it keeps apply_prepared's
        # staleness guard (prep.ckpt == table.last_lsn()) exact.
        table.commit(
            table.version() + 1, None, [], lo - 1, table.dyn_schema(),
            {"fast_forward_from": table.last_lsn()},
        )
    batch_id = table.version()
    cursor = table.last_lsn()
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        prep = None
        while cursor < hi:
            lsn_from, lsn_to, batch = window(cursor)
            batch_id += 1
            if prep is None:
                prep = prepare_batch(
                    spark, table, batch, batch_id, lsn_from, lsn_to, cursor,
                    policies=policies,
                )
            nxt = None
            last = (max_batches and len(out) + 1 >= max_batches) or lsn_to >= hi
            if not last:
                nxt_from, nxt_to, nxt_batch = window(lsn_to)
                nxt = pool.submit(
                    prepare_batch, spark, table, nxt_batch, batch_id + 1,
                    nxt_from, nxt_to, lsn_to, policies=policies,
                )
            try:
                bm = applier(
                    spark, table, prep,
                    use_arrow_udfs=use_arrow_udfs, policies=policies,
                )
            except BaseException:
                # a failed apply must not leak the concurrently-prepared
                # next batch's persisted slim (a long-lived driver that
                # retries replay would accumulate dead cached DataFrames)
                if nxt is not None:
                    try:
                        p = nxt.result()
                        if p is not None and p.slim is not None:
                            p.slim.unpersist()
                    except Exception:
                        pass
                raise
            out.append(bm)
            if log:
                print(json.dumps(bm.to_dict()), file=sys.stderr)
            if compact_every and (
                len(out) % compact_every == 0 or lsn_to >= hi
            ):
                from .maintain import compact

                cm = compact(spark, table)
                if compaction_log is not None and cm.get("buckets_touched"):
                    compaction_log.append(cm)
                if log and cm.get("buckets_touched"):
                    print(json.dumps(cm), file=sys.stderr)
            elif compact_chain_len is not None:
                from .maintain import chain_lengths, compact

                if any(n > compact_chain_len
                       for n in chain_lengths(table).values()):
                    # chain criterion only: a huge file threshold keeps
                    # the file-count trigger out of this policy's way
                    cm = compact(spark, table,
                                 max_files_per_bucket=1 << 30,
                                 max_chain_len=compact_chain_len)
                    if compaction_log is not None and cm.get("buckets_touched"):
                        compaction_log.append(cm)
                    if log and cm.get("buckets_touched"):
                        print(json.dumps(cm), file=sys.stderr)
            cursor = table.last_lsn()
            prep = nxt.result() if nxt is not None else None
            if max_batches and len(out) >= max_batches:
                if prep is not None and prep.slim is not None:
                    prep.slim.unpersist()
                break
    finally:
        pool.shutdown(wait=True)
    return out


def main(argv: list[str] | None = None) -> None:
    from ..session import get_spark

    ap = argparse.ArgumentParser(description="etl_spark CDC replay")
    ap.add_argument("--events", required=True, help="event-log parquet dir")
    ap.add_argument("--table", required=True, help="lake table root")
    ap.add_argument("--batch-size", type=int, default=1_000_000)
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--max-batches", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--arrow-udfs", action="store_true",
                    help="run sha256/lang-norm as Arrow pandas UDFs instead of "
                         "the (faster, equal-output) JVM-native expressions")
    ap.add_argument("--track-seen", action="store_true",
                    help="maintain first_seen/last_seen touch columns "
                         "(K3 column-subset update, policies.py)")
    ap.add_argument("--coalesce-cols", default="",
                    help="comma-separated columns where NULL in an update "
                         "means keep-previous (partial-update CDC)")
    ap.add_argument("--write-mode", choices=["cow", "delta"], default="cow",
                    help="cow: bucket-scoped copy-on-write rewrite (default); "
                         "delta: merge-on-read winners-only commits — O(batch) "
                         "write cost per batch regardless of table size")
    ap.add_argument("--compact-every", type=int, default=None,
                    help="fold merge-on-read delta chains back into plain "
                         "bucket dirs every N batches (and once at the end)")
    ap.add_argument("--compact-chain-len", type=int, default=None,
                    help="per-bucket compaction policy: after each batch, "
                         "fold only buckets whose delta chain exceeds N dirs "
                         "(hot buckets compact often, cold ones never)")
    ap.add_argument("--warmup", action="store_true",
                    help="run a tiny throwaway replay first so the reported "
                         "throughput is steady-state (JIT/codegen warm)")
    ap.add_argument("--preflight", action="store_true",
                    help="validate the log first (null lsn / bad op / null "
                         "key counts); exits 2 on null-lsn rows, which no "
                         "batch window can ever see")
    args = ap.parse_args(argv)

    spark = get_spark("etl_spark-replay", master=args.master)
    if args.preflight:
        pf = preflight_counts(read_event_log(spark, args.events))
        print(json.dumps({"preflight": pf}), file=sys.stderr)
        if pf["null_lsn"]:
            print(json.dumps({"error": "null-lsn rows in log", **pf}))
            sys.exit(2)
    if args.warmup:
        import tempfile

        from .gen import GenConfig, generate_events

        # Steady-state warmup: the north-rule regime is a 10^10-event
        # replay where JIT/codegen cost is amortized to zero, so the
        # timed run should start hot. 500k events through the SAME plan
        # shape (two batches, same bucket count) compiles and JITs the
        # prepare + merge-write paths; measured, the first cold batch
        # otherwise runs ~2x slower than steady state and distorts any
        # scaling comparison (the distortion is larger at higher core
        # counts, where the whole run is shorter).
        wtab = SnapshotTable(
            spark, tempfile.mkdtemp(prefix="replay_warm_"),
            n_buckets=args.n_buckets,
        )
        replay(spark,
               generate_events(spark, GenConfig(n_events=500_000, n_keys=60_000)),
               wtab, batch_size=250_000)
    table = SnapshotTable(spark, args.table, n_buckets=args.n_buckets)
    # wall-clock around the whole loop: with prepares run ahead the
    # per-batch walls overlap, so summing them would double-count (and
    # miss the first batch's prepare). This is the honest end-to-end
    # number: log-bounds probe + every prepare + every merge + commit.
    import time as _time

    t0 = _time.time()
    compactions: list[dict] = []
    metrics = replay(
        spark,
        read_event_log(spark, args.events),
        table,
        batch_size=args.batch_size,
        max_batches=args.max_batches,
        use_arrow_udfs=args.arrow_udfs,
        log=True,
        policies=MergePolicies(
            coalesce_cols=tuple(c for c in args.coalesce_cols.split(",") if c),
            track_seen=args.track_seen,
        ),
        write_mode=args.write_mode,
        compact_every=args.compact_every,
        compact_chain_len=args.compact_chain_len,
        compaction_log=compactions,
    )
    secs = _time.time() - t0
    total = sum(bm.events_seen for bm in metrics)
    print(
        json.dumps(
            {
                "batches": len(metrics),
                "events": total,
                "secs": round(secs, 3),
                "events_per_sec": round(total / secs, 1) if secs else 0.0,
                "final_version": table.version(),
                "final_lsn": table.last_lsn(),
                # write-amplification aggregates (file-level CoW evidence);
                # inline compaction folds (merge-on-read chain policy)
                # count toward bytes/files written — deferring the rewrite
                # must not hide it from the amplification accounting
                "bytes_written": sum(bm.bytes_written for bm in metrics)
                + sum(int(c.get("bytes_written", 0)) for c in compactions),
                "rows_out": sum(bm.rows_out for bm in metrics),
                "files_rewritten": sum(bm.files_rewritten for bm in metrics)
                + sum(int(c.get("files_rewritten", 0)) for c in compactions),
                "files_carried": sum(bm.files_carried for bm in metrics),
                # commit METADATA bytes (new manifest shards + pointer
                # map): the sharded-manifest evidence — O(touched
                # buckets' refs) per batch, flat in live-file count
                "manifest_bytes": sum(bm.manifest_bytes for bm in metrics)
                + sum(int(c.get("manifest_bytes_written", 0))
                      for c in compactions),
                "compactions": len(compactions),
                # per-phase wall aggregated across batches: lets a caller
                # comparing topologies (local[N] vs N-executor standalone)
                # attribute a throughput gap to a specific engine phase
                "phase_secs": {
                    p: round(sum(bm.phase_secs.get(p, 0.0) for bm in metrics), 3)
                    for p in sorted({k for bm in metrics for k in bm.phase_secs})
                },
            }
        )
    )


if __name__ == "__main__":
    main()
