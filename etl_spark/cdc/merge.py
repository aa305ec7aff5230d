"""MERGE of one deduped micro-batch into the snapshot table.

Reference semantics implemented here (SURVEY.md §2.2):
- K1 keyed upsert  (replication_otrs_to_dwh/postgresql/upload.py:35-308)
- K2 insert-if-absent        (upload.py:468-520)  — I on an absent key
- K4 delete/replace-on-change (thehive_to_dwh/transform_load.py:196-204)
- K7 predicate delete         (es_deleting_old_writes/main.py:25-57) — D op
- D1 identity-hash invariant  (transform_load.py:176-203) — content_sha256
- A6 run-metrics counters     (multiple; see metrics.py)

Every batch runs in two phases. All three apply modes (the CoW merge
and the merge-on-read delta here, SCD2 history in scd2.py) share the
second phase's winner pipeline, so the per-row transforms and the
winner semantics live in one place:

    1. prepare_batch (reads only the log slice, so the replay loop runs
       it one batch ahead, under the previous batch's write):
       - slim conflict resolution: ONE groupBy(key) HashAggregate of
         max(lsn<<2|op) over a column-pruned scan -> (key, winning lsn,
         final op), persisted. The batch control counts and schema
         events ride the same scan as a CollectMetrics observation.
       - an exact duplicate-delivery probe over 16-byte (packed lsn,
         key hash) rows, run on a second thread concurrently with the
         stats probe that materializes the slim cache.
    2. apply, against the exact checkpoint the batch was prepared for:
       - winner rows (_winner_updates): the batch scan semi-joined on
         the slim winner lsns, with the full-content dedup only when the
         probe found duplicate deliveries, projected to the table's row
         shape with the sha256 / lang transforms (_project_updates);
       - CoW: target(touched buckets, pruned to the files a batch key can
         hit) LEFT JOIN broadcast(slim key->op), keep unmatched rows,
         UNION the non-delete winners repartitioned by _bucket, ONE
         write partitionBy(_bucket); delta: the winners alone (deletes
         as tombstone rows), one write;
       - the manifest commit (lake.SnapshotTable.commit), which
         harvests the written footers (lineage, file refs) and stamps
         write-time key blooms on buckets committed with several files.

Spark counts more jobs than actions here (AQE query stages and broadcast
builds run as jobs of their own): a traced 3-batch microbatch_cow replay
(cdcbench) counts 12 jobs in prepare_batch and 20 in apply_prepared.

Why this shape:
- Spark cannot broadcast either side of a FULL OUTER join, so the naive
  ``target.join(upd, key, 'full_outer')`` would sort-merge-shuffle the
  whole touched partition set. The left join broadcasts the update
  keyset instead: the target is read exactly once, streamed through a
  BroadcastHashJoin, never shuffled. Too-big batches skip the hint and
  AQE picks SMJ.
- The broadcast side is a SLIM dedup (key -> final op, ~60-byte rows);
  the full ~2KB-content dedup feeds only the union branch, so content
  crosses the wire exactly once. An earlier design persist()ed the full
  winners and reused them three times — the cache build alone doubled
  the hot stage's wall time and cost an extra materializing action.
- Per-op counters ride ``DataFrame.observe`` on both branches, so all
  metrics are computed by the write job itself.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.udfs import lang_norm, lang_norm_expr, sha256_hex
from .dedup import bucket_expr, dedup_last_writer
from .evolve import (
    SchemaChange,
    apply_to_dyn_schema,
    evolve_table,
    extract_schema_changes,
    remap_extra_keys,
    requires_rewrite,
)
from .lake import TOMBSTONE_COL, SnapshotTable
from .metrics import BatchMetrics
from .policies import BASE_EVENT_VALUE_COLS, NO_POLICIES, SEEN_COLS, MergePolicies
from .schema import KEY_COLS

# Above this many distinct keys per batch, skip the broadcast hints and let
# AQE pick the join. A broadcast table is built single-threaded on the
# driver and shipped to every executor — a SERIAL, cores-independent cost
# per batch, so it is also the first thing that caps N->4N scaling
# efficiency: measured on this box, building two ~1M-row broadcasts adds
# ~4 s/batch at any parallelism, ~5% of a 2-core batch but ~20% of an
# 8-core one. At ~60 B/key, 100k keys is ~6 MB — cheap to build and ship;
# beyond that the parallel shuffle join wins on any cluster size (and on
# a 1000-executor cluster the ship cost is multiplied 1000x). Measured on
# this box at ~1M keys/batch the broadcast still beats the string-key SMJ
# at every parallelism level (167k vs 110k eps at 8 cores), so the
# ceiling is 1M.
BROADCAST_MAX_ROWS = 1_000_000


# Event validity — the single source of truth shared by the in-batch
# quarantine (prepare_batch) and the pre-flight log scan
# (runner.preflight_counts), so the preflight's "all-zero means every
# event is applied or quarantined" guarantee cannot drift from what the
# quarantine actually checks.
def event_bad_op_expr():
    return ~F.coalesce(F.col("op").isin("I", "U", "D", "S"), F.lit(False))


def event_null_key_expr():
    return (F.col("op") != "S") & (F.col("repo").isNull() | F.col("path").isNull())


def _event_value_expr(col: str):
    """Value of a (possibly dynamic) payload column on an event row."""
    return F.col(col) if col in BASE_EVENT_VALUE_COLS else F.element_at(F.col("extra"), col)


def _project_updates(
    winners: DataFrame,
    dyn_final: list[tuple[str, str]],
    use_arrow_udfs: bool = False,
    overrides: dict | None = None,
) -> DataFrame:
    """Winner events -> lake-table row shape (+op for merge routing).

    The two row transforms (content sha256, lang normalization) have two
    implementations, byte-identical (tests/test_replay.py):

    - default: JVM-native ``F.sha2``/CASE-chain — stays inside whole-stage
      codegen, zero Python boundary crossings. Measured ~10x faster than
      the Arrow path at 500k-events/batch (no Arrow round-trip of the
      ~2KB content column).
    - ``use_arrow_udfs=True``: Arrow-batched pandas UDFs (udfs.py) — the
      pattern every transform that genuinely needs Python follows (never
      per-row Python). Runs on deduped winners only, the minimum row
      count that ever crosses the Python boundary.
    """
    overrides = overrides or {}
    # policy overrides replace the raw event value (e.g. coalesce with
    # the previous value); content_sha256 is ALWAYS computed from the
    # FINAL content expression so the identity invariant holds after any
    # policy merge
    content_col = overrides.get("content", F.col("content"))
    raw_lang = overrides.get("lang", F.col("lang"))
    if use_arrow_udfs:
        lang_col = lang_norm(raw_lang)
        sha_col = sha256_hex(content_col)
    else:
        lang_col = lang_norm_expr(raw_lang)
        sha_col = F.sha2(content_col, 256)
    cols = [
        F.col("repo"),
        F.col("path"),
        overrides.get("commit", F.col("commit")).alias("commit"),
        lang_col.alias("lang"),
        content_col.alias("content"),
        sha_col.alias("content_sha256"),
        F.col("lsn").alias("_last_lsn"),
    ]
    for name, ddl in dyn_final:
        expr = overrides.get(name, F.element_at(F.col("extra"), name).cast(ddl))
        cols.append(expr.cast(ddl).alias(name))
    cols.append(F.col("op"))
    return winners.select(*cols)


def _apply_policies(winners, slim, data, target, policies: MergePolicies,
                    do_broadcast: bool):
    """Resolve column merge policies into winner-row override expressions.

    Everything stays |keys|-sized and narrow where possible:
    - batch-side values come from a semi-join of the batch scan on the
      slim lsn-POINTERS (broadcast longs), never a shuffle of the batch;
    - target-side current values come from a column-pruned scan of the
      touched buckets, semi-reduced to matched keys before joining.
    """
    overrides: dict = {}
    w = winners

    for c in policies.coalesce_cols:
        ptr = slim.select(*KEY_COLS, F.col(f"_pl_{c}").alias("_ptr"))
        ids = ptr.where(F.col("_ptr").isNotNull()).select(F.col("_ptr").alias("lsn"))
        if do_broadcast:
            ids = F.broadcast(ids)
        # the fetch joins on (key, lsn), never lsn alone: a duplicate
        # delivery of the pointer event, or a shared synthetic lsn
        # (merge_into stamps ONE lsn across the whole source batch),
        # would otherwise fan the winner row out into duplicate table
        # rows carrying OTHER keys' values. dropDuplicates collapses
        # re-deliveries (identical rows) before the join.
        vals = (
            data.join(ids, "lsn", "semi")
            .select(*KEY_COLS, F.col("lsn").alias("_ptr"),
                    _event_value_expr(c).alias(f"_bv_{c}"))
            .dropDuplicates([*KEY_COLS, "_ptr"])
        )
        kv = ptr.join(vals, [*KEY_COLS, "_ptr"], "left").select(*KEY_COLS, f"_bv_{c}")
        w = w.join(kv, KEY_COLS, "left")
    # the per-key in-batch delete watermark gates BOTH policies: it
    # suppresses the coalesce target fallback and restarts the
    # track_seen window (sequential-replay equivalence)
    dl = slim.select(*KEY_COLS, "_dl")
    if do_broadcast:
        dl = F.broadcast(dl)
    w = w.join(dl, KEY_COLS, "left")

    tgt_cols = list(policies.coalesce_cols) + (
        ["first_seen", "last_seen"] if policies.track_seen else []
    )
    slim_keys = slim.select(*KEY_COLS)
    if do_broadcast:
        slim_keys = F.broadcast(slim_keys)
    old = (
        target.join(slim_keys, KEY_COLS, "semi")
        .select(*KEY_COLS, *[F.col(c).alias(f"_old_{c}") for c in tgt_cols])
    )
    w = w.join(old, KEY_COLS, "left")

    for c in policies.coalesce_cols:
        # last non-null in the batch, else the target's current value —
        # but an in-batch delete wipes row state, so for keys whose last
        # delete is not followed by a newer non-null set, the target
        # fallback is suppressed (sequential-replay equivalence)
        overrides[c] = F.coalesce(
            F.col(f"_bv_{c}"),
            F.when(F.col("_dl").isNull(), F.col(f"_old_{c}")),
        )
    if policies.track_seen:
        seen = slim.select(*KEY_COLS, "_fs", "_ls")
        if do_broadcast:
            seen = F.broadcast(seen)
        w = w.join(seen, KEY_COLS, "left")
        # delete-barrier refinement: for a key deleted and re-set within
        # ONE batch, sequential replay folds min/max(ts) only over the
        # events AFTER the last delete — the whole-batch _fs/_ls would
        # leak the wiped incarnation's timestamps, making first_seen
        # depend on where the batch boundary fell. Recompute the seen
        # window for exactly those keys from the batch scan, semi-
        # reduced by the (usually EMPTY) delete-survivor key set: with
        # AQE on, an empty broadcast side collapses this whole subplan
        # to an empty relation at runtime, so clean batches pay nothing.
        dk = slim.where(
            F.col("_dl").isNotNull() & (F.col("op") != "D")
        ).select(*KEY_COLS, F.col("_dl").alias("_dl_r"))
        if do_broadcast:
            dk = F.broadcast(dk)
        refined = (
            data.join(dk, KEY_COLS)
            .where(F.col("lsn") > F.col("_dl_r"))
            .groupBy(*KEY_COLS)
            .agg(F.min("ts").alias("_fs2"), F.max("ts").alias("_ls2"))
        )
        w = w.join(refined, KEY_COLS, "left")
        fs = F.coalesce(F.col("_fs2"), F.col("_fs"))
        ls = F.coalesce(F.col("_ls2"), F.col("_ls"))
        # least/greatest skip nulls, so a fresh key takes the batch
        # value; an in-batch delete wipes the carried history, so the
        # target's old window is suppressed exactly like coalesce above
        overrides["first_seen"] = F.least(
            fs, F.when(F.col("_dl").isNull(), F.col("_old_first_seen"))
        )
        overrides["last_seen"] = F.greatest(
            ls, F.when(F.col("_dl").isNull(), F.col("_old_last_seen"))
        )
    return w, overrides


@dataclass
class PreparedBatch:
    """Output of ``prepare_batch``: everything about one micro-batch that
    does NOT depend on current table *state* (only on the log slice and
    the checkpoint value it was prepared against). Because each batch's
    LSN window is disjoint and the checkpoint after batch b is exactly
    ``lsn_to(b)``, batch b+1 can be prepared CONCURRENTLY with batch b's
    merge+write — the replay loop pipelines the slim conflict-resolution
    build of the next batch under the write of the current one, filling
    executor slots the write leaves idle and hiding the prepare phase's
    wall time entirely (except the first batch's)."""

    batch_id: int
    lsn_from: int
    lsn_to: int
    ckpt: int
    m: BatchMetrics
    noop: bool = False
    slim: DataFrame | None = None
    data: DataFrame | None = None
    changes: list | None = None
    quarantine: DataFrame | None = None  # malformed live rows + _reason
    n_keys: int = 0
    touched: list | None = None
    prepare_secs: float = 0.0

    @property
    def do_broadcast(self) -> bool:
        """Whether the slim key set is small enough to broadcast."""
        return self.n_keys <= BROADCAST_MAX_ROWS


def _observed(obs: Observation | None):
    """The row an Observation collected, or None when there is none to
    read and the caller must recompute its counters with an explicit
    aggregate. None covers two cases: no observation was made (the
    streaming front-end passes ``use_observations=False``, because
    CollectMetrics does not report reliably under a foreachBatch
    sub-execution), or Catalyst collapsed the plan to a LocalRelation
    (tiny createDataFrame batches in tests, control-only batches, a
    winner branch that folds to empty) and elided the CollectMetrics
    node, so the observation yields an empty row that cannot cross
    py4j. The parquet-backed hot path always reports."""
    if obs is None:
        return None
    try:
        return obs.get or None
    except Exception:
        return None


def prepare_batch(
    spark: SparkSession,
    table: SnapshotTable,
    batch: DataFrame,
    batch_id: int,
    lsn_from: int,
    lsn_to: int,
    ckpt: int,
    use_observations: bool = True,
    policies: MergePolicies = NO_POLICIES,
) -> PreparedBatch:
    """Phase 1 of a batch: counts, slim conflict resolution, schema-change
    extraction. Triggers the slim stats action (the only action here);
    reads no table data, so it is safe to run ahead of the previous
    batch's commit as long as ``ckpt`` is the checkpoint that commit will
    establish."""
    t0 = time.time()
    m = BatchMetrics(batch_id=batch_id, lsn_from=lsn_from, lsn_to=lsn_to)

    if lsn_to <= ckpt:  # replayed batch: exactly-once no-op
        return PreparedBatch(batch_id, lsn_from, lsn_to, ckpt, m, noop=True)

    # The packed-long conflict resolution rides op in the low 2 bits of
    # (lsn << 2); lsn >= 2^61 would overflow the long and corrupt winner
    # selection. Enforce the ingestion contract here rather than
    # corrupting silently (real 64-bit WAL positions must be re-based).
    if lsn_to >= (1 << 61):
        raise ValueError(
            f"lsn {lsn_to} >= 2^61: out of range for packed-long conflict "
            "resolution; re-base the log's LSNs at ingestion"
        )

    # --- ONE pass over the batch builds everything the driver needs:
    # the batch counts + schema-control events ride a CollectMetrics
    # observation ON the slim conflict-resolution job, so there is no
    # separate counting scan at all (it used to be ~25% of batch wall
    # time and scaled worst of all phases).
    live = F.col("lsn") > ckpt
    # malformed events are quarantined, never merged: an unknown op
    # would otherwise ride the packed-long low bits as an insert (the
    # silent-corruption path), and a null key would upsert under the
    # null bucket. (A null lsn can't reach a batch at all — the LSN
    # window filter and the bounds probe both drop it; use a pre-flight
    # log scan if the source can produce them.)
    bad_reason = F.when(event_bad_op_expr(), F.lit("bad_op")).when(
        event_null_key_expr(), F.lit("null_key")
    )
    valid = bad_reason.isNull()
    is_data = live & valid & (F.col("op") != "S")
    control_exprs = [
        F.count("*").alias("seen"),
        F.sum(F.when(~live, 1).otherwise(0)).alias("late"),
        F.sum(F.when(live, 1).otherwise(0)).alias("n_live"),
        F.sum(F.when(live & ~valid, 1).otherwise(0)).alias("n_invalid"),
        F.sum(F.when(is_data, 1).otherwise(0)).alias("n_data"),
        # as JSON strings: Observation rows cannot carry nested structs
        # across the py4j boundary (toPyRow assertion); schema events are
        # rare so the strings stay tiny
        F.collect_list(
            F.when(
                live & (F.col("op") == "S"),
                F.to_json(F.struct("lsn", "schema_change")),
            )
        ).alias("schema_rows"),
    ]
    ctl = Observation(f"ctl_b{batch_id}") if use_observations else None
    slim_src = (batch.observe(ctl, *control_exprs) if ctl is not None else batch).where(
        is_data
    )

    # SLIM dedup: (key -> winning lsn + final op) from a column-pruned
    # scan — the ~60-byte rows are the ONLY thing the conflict-resolution
    # shuffle ever moves. The op rides in the low bits of the lsn
    # (lsn << 2 | op_code) so the aggregate buffer is a single LONG:
    # max_by over a string buffer would plan as SortAggregate (per-
    # partition sort of the WHOLE batch), while max(long) stays a
    # HashAggregate with map-side partial combine. ONE key-string shuffle
    # total: conflict resolution is a single groupBy(key) HashAggregate.
    # (An earlier two-level (key, packed)->(key) cascade shuffled the
    # batch's key strings TWICE to get an exact per-key distinct-lsn
    # count; only the GLOBAL duplicate total is ever used, and that comes
    # from the packed-long probe below — 16-byte rows — which runs
    # CONCURRENTLY on a second thread, so the string shuffle bytes of the
    # conflict-resolution phase are halved.) Cached: materialized here by
    # the stats probe, then reused by the two broadcasts (winner-lsn
    # semi-filter, target carry/drop join) and the post-write recompute.
    op_code = F.when(F.col("op") == "D", 2).when(F.col("op") == "U", 1).otherwise(0)
    t_phase = time.time()
    # policy aggregates ride the same slim HashAggregate as fixed-width
    # buffers: a max(long) lsn-pointer per coalesce column (the value is
    # fetched later by a narrow join on that pointer, so wide values
    # never enter an aggregation buffer), min/max(ts) for track_seen
    key_aggs = []
    sel_extra = []
    for c in policies.coalesce_cols:
        v = _event_value_expr(c)
        sel_extra.append(
            F.when(v.isNotNull() & (F.col("op") != "D"), F.col("lsn")).alias(f"_pc_{c}")
        )
        key_aggs.append(F.max(f"_pc_{c}").alias(f"_pl_{c}"))
    if policies.active:
        # per-key in-batch delete watermark: row state set BEFORE a
        # delete must not survive it (sequential replay wipes the row at
        # the delete), so a coalesce pointer at or below the last delete
        # lsn is nulled below, _apply_policies suppresses the
        # target-value fallback for keys that saw an in-batch delete,
        # and the track_seen window restarts after the delete —
        # otherwise the result would depend on where the batch boundary
        # fell, breaking the batch-size invariance the policy suite
        # asserts
        sel_extra.append(
            F.when(F.col("op") == "D", F.col("lsn")).alias("_dlv")
        )
        key_aggs.append(F.max("_dlv").alias("_dl"))
    if policies.track_seen:
        sel_extra.append(F.col("ts").alias("_ts"))
        key_aggs.append(F.min("_ts").alias("_fs"))
        key_aggs.append(F.max("_ts").alias("_ls"))
    policy_out: list = [
        F.when(
            F.col("_dl").isNull() | (F.col(f"_pl_{c}") > F.col("_dl")),
            F.col(f"_pl_{c}"),
        ).alias(f"_pl_{c}")
        for c in policies.coalesce_cols
    ]
    if policies.active:
        policy_out.append(F.col("_dl"))
    if policies.track_seen:
        policy_out += [F.col("_fs"), F.col("_ls")]
    slim = (
        slim_src.select(
            *KEY_COLS, (F.shiftleft(F.col("lsn"), 2) + op_code).alias("_p"), *sel_extra
        )
        .groupBy(*KEY_COLS)
        .agg(
            F.max("_p").alias("_p"),
            F.count("*").alias("_n"),
            *key_aggs,
        )
        .select(
            *KEY_COLS,
            F.shiftright(F.col("_p"), 2).alias("lsn"),
            F.element_at(
                F.array(F.lit("I"), F.lit("U"), F.lit("D")),
                (F.pmod(F.col("_p"), F.lit(4)) + 1).cast("int"),
            ).alias("op"),
            "_n",
            *policy_out,
        )
        .persist()
    )

    # Exact duplicate-delivery probe: distinct packed (lsn, op) vs total,
    # over an UNOBSERVED lineage (a second action on the observed plan
    # would double-report ctl) pruned to four narrow columns — the
    # shuffle moves 16-byte rows. Runs concurrently with the slim stats
    # action below (independent jobs; the local/Yarn scheduler interleaves
    # them), so prepare wall is max(slim, probe), not the sum. Exactness
    # matters: this count gates skipping the full-content dedup shuffle
    # in the write job, and an approx_count_distinct under-count there
    # would silently write duplicate keys.
    # Grouped by (packed, xxhash64(key)) — still two fixed-width longs —
    # because an lsn alone does NOT identify an event for every caller:
    # merge_into/scd2 stamp one synthetic lsn across a whole source
    # batch, and grouping by lsn alone would report every multi-row
    # merge as (rows - 1) phantom duplicates, permanently disabling the
    # dup_free fast path. The key HASH (not the key strings) keeps the
    # shuffle fixed-width; a 64-bit collision can only merge two
    # DISTINCT events into one group, i.e. OVER-count duplicates — which
    # fails safe (dup_free stays false and the full dedup runs), never
    # the reverse.
    dup_probe = (
        batch.where(is_data)
        .select(
            (F.shiftleft(F.col("lsn"), 2) + op_code).alias("_p"),
            F.xxhash64(*KEY_COLS).alias("_kh"),
        )
        .groupBy("_p", "_kh")
        .agg(F.count("*").alias("_c"))
        .agg(F.sum("_c").alias("n"), F.count("*").alias("nd"))
    )
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as dpool:
        dup_fut = dpool.submit(lambda: dup_probe.collect()[0])
        # touched buckets + key cardinality from a stats probe ON the
        # cached slim (tiny: |keys| rows; the action that materializes
        # the cache and fills the observation)
        slim_stats = slim.agg(
            F.count("*").alias("n_keys"),
            F.collect_set(bucket_expr(table.n_buckets)).alias("touched"),
            F.sum("_n").alias("n_rows"),
        ).collect()[0]
        dup_row = dup_fut.result()
    m.phase_secs["slim_build"] = round(time.time() - t_phase, 3)
    counts = _observed(ctl)
    if counts is None:
        # a narrow (lsn, op, schema_change) scan
        counts = batch.agg(*control_exprs).collect()[0]
    # unobserved lineage for later actions (re-running a CollectMetrics
    # plan in another action would double-report the observation)
    data = batch.where(is_data)

    m.events_seen = counts["seen"] or 0
    m.late_events = counts["late"] or 0
    m.data_events = counts["n_data"] or 0
    m.quarantined = counts["n_invalid"] or 0
    m.schema_events = (counts["n_live"] or 0) - m.data_events - m.quarantined
    # data-event re-deliveries (same lsn twice): exact, from the packed-
    # long probe (total rows minus distinct packed (lsn, op) values). The
    # result gates the write job's dedup: a proved-duplicate-free batch
    # skips the full-content dedup shuffle. Schema-event re-deliveries
    # are folded idempotently by extract_schema_changes and not counted.
    m.duplicate_deliveries = int(dup_row["n"] or 0) - int(dup_row["nd"] or 0)

    # --- schema evolution (fold the collected control events, lsn order,
    # idempotent under duplicate deliveries)
    schema_rows = [
        {
            "lsn": d["lsn"],
            "schema_change": {
                k: d.get("schema_change", {}).get(k)
                for k in ("kind", "column", "new_name", "new_type")
            },
        }
        for d in (json.loads(sr) for sr in (counts["schema_rows"] or []))
    ]
    changes: list[SchemaChange] = extract_schema_changes(schema_rows)

    return PreparedBatch(
        batch_id, lsn_from, lsn_to, ckpt, m,
        slim=slim,
        data=data,
        changes=changes,
        n_keys=int(slim_stats["n_keys"] or 0),
        touched=sorted(int(b) for b in (slim_stats["touched"] or [])),
        prepare_secs=time.time() - t0,
        quarantine=(
            batch.where(live).withColumn("_reason", bad_reason)
            .where(F.col("_reason").isNotNull())
            if m.quarantined else None
        ),
    )




def _prepared_noop(table: SnapshotTable, prep: PreparedBatch, t0: float) -> bool:
    """The guard every applier runs first: True (wall stamped) when
    ``prep`` is a replayed batch's recorded no-op. Raises when it was
    prepared against a stale checkpoint (never happens in the replay
    loop, which applies strictly in LSN order) — the slim filters baked
    ckpt in, so rebuild rather than corrupt."""
    if prep.noop:
        prep.m.wall_secs = time.time() - t0
        return True
    if table.last_lsn() != prep.ckpt:
        prep.slim.unpersist()
        raise ValueError(
            f"batch {prep.batch_id} prepared at ckpt={prep.ckpt} but table "
            f"is at {table.last_lsn()}; re-prepare before applying"
        )
    return False


def apply_prepared(
    spark: SparkSession,
    table: SnapshotTable,
    prep: PreparedBatch,
    use_arrow_udfs: bool = False,
    use_observations: bool = True,
    policies: MergePolicies = NO_POLICIES,
    write_mode: str = "cow",
) -> BatchMetrics:
    """Phase 2 of a batch: fold schema changes into the table's dynamic
    schema, merge the prepared winners into the touched buckets, and
    commit. Must run against the exact table state (checkpoint) the
    batch was prepared for.

    ``write_mode``:

    - ``"cow"`` (default): bucket-scoped copy-on-write — touched buckets
      are read, merged and rewritten; write cost ~ touched-bucket bytes.
    - ``"delta"``: merge-on-read — ONLY the batch's winner rows land, as
      a delta dir appended to each touched bucket's chain (deletes as
      tombstone rows); the target is never read or rewritten, so write
      cost is O(batch) regardless of table size. This is the shape that
      survives 10^10-event ingest where every batch touches every bucket
      and CoW would rewrite ~the whole table per batch. Reads
      reconstruct (lake._read_merged); maintain.compact folds back to
      CoW. Schema changes that force a full rewrite (rename/widen) fall
      back to one CoW commit.
    """
    t0 = time.time()
    if _prepared_noop(table, prep, t0):
        return prep.m
    m = prep.m
    m.phase_secs["prepare"] = round(prep.prepare_secs, 3)

    if prep.quarantine is not None:
        # dead-letter sink: malformed live rows land under a batch-scoped
        # dir (overwrite -> crash-redo idempotent), outside the manifest
        # so table reads never see them; zero cost on clean batches (the
        # observation count gates the job)
        prep.quarantine.write.mode("overwrite").parquet(
            os.path.join(table.root, "quarantine", f"b{prep.batch_id}")
        )

    dyn_final = apply_to_dyn_schema(table.dyn_schema(), prep.changes)
    if policies.track_seen:
        have = {n for n, _ in dyn_final}
        dyn_final = dyn_final + [c for c in SEEN_COLS if c[0] not in have]
    full_rewrite = requires_rewrite(prep.changes)
    m.full_rewrite = full_rewrite

    try:
        if not prep.touched and not full_rewrite:
            # schema-only (add) or fully-late batch: metadata-only commit
            table.commit(
                table.version() + 1, None, [], max(prep.ckpt, prep.lsn_to),
                dyn_final, m.to_dict(),
            )
            m.wall_secs = time.time() - t0
            return m
        if write_mode == "delta" and not full_rewrite:
            return _delta_commit(
                table, prep, dyn_final, use_arrow_udfs, use_observations,
                policies, t0,
            )
        return _merge_and_commit(
            table, prep, dyn_final, full_rewrite, use_arrow_udfs,
            use_observations, policies, t0,
        )
    finally:
        prep.slim.unpersist()


def apply_batch(
    spark: SparkSession,
    table: SnapshotTable,
    batch: DataFrame,
    batch_id: int,
    lsn_from: int,
    lsn_to: int,
    use_arrow_udfs: bool = False,
    use_observations: bool = True,
    policies: MergePolicies = NO_POLICIES,
    write_mode: str = "cow",
) -> BatchMetrics:
    """Apply one LSN-bounded micro-batch exactly-once; returns metrics.

    Idempotent: a batch whose lsn_to <= checkpoint is a recorded no-op;
    individual events at-or-below the checkpoint count as late and drop
    (D5 grace semantics, replication_otrs_to_dwh/main.py:64-66 analog).
    ``prepare_batch`` + ``apply_prepared`` in sequence; the replay loop
    calls the two halves directly to pipeline batches.
    """
    prep = prepare_batch(
        spark, table, batch, batch_id, lsn_from, lsn_to, table.last_lsn(),
        use_observations=use_observations, policies=policies,
    )
    return apply_prepared(
        spark, table, prep,
        use_arrow_udfs=use_arrow_udfs, use_observations=use_observations,
        policies=policies, write_mode=write_mode,
    )


def _op_count_exprs() -> list:
    return [
        F.sum(F.when(F.col("op").isin("I", "U"), 1).otherwise(0)).alias("n_iu"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_d"),
    ]


def _winner_updates(
    table: SnapshotTable,
    prep: PreparedBatch,
    dyn_final: list[tuple[str, str]],
    use_arrow_udfs: bool = False,
    use_observations: bool = True,
    policies: MergePolicies = NO_POLICIES,
    target: DataFrame | None = None,
) -> tuple[DataFrame, Observation | None]:
    """The winner pipeline every applier shares: each touched key's
    winning event in the table's row shape, plus ``op`` and ``_bucket``.

    Full-content winners by SEMI-JOIN REDUCTION: lsn is unique, so the
    slim winners' lsn set (a few MB of longs, broadcast) filters the scan
    down to winner rows BEFORE any wide shuffle — the ~2KB content column
    crosses the wire once, and only for rows that survive. After the
    semi-filter the only possible multiplicity is a duplicate delivery of
    a winner lsn itself, so the dedup groupBy (a FULL shuffle of winner
    content) runs only when the prepare-phase probe found duplicates.

    ``target`` (the touched buckets' current rows) is read only by
    active column ``policies``. Returns the rows and an observation of
    their I/U and D counts (None when not observed); read the counts
    with ``_op_counts`` after the write.
    """
    winner_ids = prep.slim.select("lsn")
    if prep.do_broadcast:
        winner_ids = F.broadcast(winner_ids)
    upd_src = remap_extra_keys(
        prep.data.join(winner_ids, "lsn", "semi"), prep.changes)
    winners = (
        upd_src
        if prep.m.duplicate_deliveries == 0
        else dedup_last_writer(upd_src, KEY_COLS, "lsn")
    )
    overrides: dict = {}
    if policies.active:
        winners, overrides = _apply_policies(
            winners, prep.slim, prep.data, target, policies, prep.do_broadcast
        )
    upd = _project_updates(
        winners, dyn_final, use_arrow_udfs=use_arrow_udfs, overrides=overrides
    ).withColumn("_bucket", bucket_expr(table.n_buckets))
    obs = (
        Observation(f"ops_b{prep.batch_id}")
        if (prep.m.data_events and use_observations)
        else None
    )
    if obs is not None:
        upd = upd.observe(obs, *_op_count_exprs())
    return upd, obs


def _op_counts(obs: Observation | None, prep: PreparedBatch) -> tuple[int, int]:
    """(I/U winners, D winners) after the write, from the observation or
    recomputed from the cached slim; sets ``winners`` and
    ``conflicts_resolved``."""
    m = prep.m
    ops = _observed(obs)
    if ops is None and m.data_events:
        ops = prep.slim.agg(*_op_count_exprs()).collect()[0].asDict()
    ops = ops or {}
    n_iu = int(ops.get("n_iu") or 0)
    n_d = int(ops.get("n_d") or 0)
    m.winners = n_iu + n_d
    m.conflicts_resolved = m.data_events - m.winners
    return n_iu, n_d


def _committed(m: BatchMetrics, committed: dict, t_phase: float,
               t0: float) -> BatchMetrics:
    """Copy what the commit measured into ``m`` — the footer-harvest
    metrics and their ``lineage`` / ``bloom_build`` phase times, and the
    commit-metadata bytes — then close the ``commit`` phase (the publish
    alone) and the batch wall."""
    cm = committed["metrics"]
    m.lineage = cm["lineage"]
    m.rows_out = int(cm["rows_out"])
    m.files_rewritten = int(cm["files_rewritten"])
    m.bytes_written = int(cm["bytes_written"])
    m.manifest_bytes = int(cm.get("manifest_bytes_written") or 0)
    m.manifest_shards_carried = int(cm.get("manifest_shards_carried") or 0)
    m.phase_secs.update(cm["phase_secs"])
    m.phase_secs["commit"] = round(
        time.time() - t_phase - m.phase_secs["lineage"]
        - m.phase_secs.get("bloom_build", 0.0), 3)
    m.wall_secs = time.time() - t0
    return m


def _merge_and_commit(
    table, prep, dyn_final, full_rewrite, use_arrow_udfs,
    use_observations, policies, t0,
):
    m, slim = prep.m, prep.slim
    manifest_prev = table.manifest()
    touched = prep.touched
    # target side: only touched buckets are read & rewritten (CoW), and
    # within each bucket only the FILES whose key range can contain a
    # batch key — the rest carry forward by manifest reference
    # (file-level CoW, lake.read_for_merge)
    if full_rewrite:
        touched = sorted(set(touched) | {int(b) for b in manifest_prev["files"]})
        target = table.read()
        cold_refs, split_stats = {}, {}
    else:
        target, cold_refs, split_stats = table.read_for_merge(
            manifest_prev, touched, slim
        )
    target = evolve_table(target, prep.changes, dyn_final)
    data_cols = [c for c in target.columns]

    slim_keys = slim.select(*KEY_COLS, "op")
    if prep.do_broadcast:
        slim_keys = F.broadcast(slim_keys)
    j = target.join(slim_keys, on=KEY_COLS, how="left")
    # "Known empty" must match what the target read actually resolved: a
    # non-empty manifest whose TOUCHED buckets all happen to be new (or
    # whose files were ALL pruned cold) still yields an empty
    # LocalRelation (the plan shape under which Catalyst can elide
    # CollectMetrics), so guard on the resolved read, not on manifest
    # emptiness.
    if full_rewrite:
        target_known_empty = not table._bucket_dirs(manifest_prev)  # noqa: SLF001
    else:
        target_known_empty = bool(split_stats) and split_stats.get(
            "files_hit", 0) == 0
    # Observation guards: (a) on a provably-empty target plan Catalyst's
    # empty-relation propagation can elide the CollectMetrics node;
    # (b) under a Structured Streaming foreachBatch sink, CollectMetrics
    # beneath a Union never reports (listener quirk) — the streaming
    # front-end passes use_observations=False and the same counters are
    # recomputed post-write from the cached slim + a pruned target scan.
    tgt_obs = (
        None
        if (target_known_empty or not use_observations)
        else Observation(f"merge_b{prep.batch_id}")
    )
    tgt_counts = [
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deleted"),
        F.sum(F.when(F.col("op").isin("I", "U"), 1).otherwise(0)).alias("replaced"),
    ]
    if tgt_obs is not None:
        j = j.observe(tgt_obs, *tgt_counts)
    upd, win_obs = _winner_updates(
        table, prep, dyn_final, use_arrow_udfs, use_observations, policies,
        target,
    )

    # Both union branches arrive at the writer already bucket-aligned:
    # - kept: target files are read per-bucket-dir, so each task holds
    #   rows of exactly one bucket (broadcast join preserves that);
    # - upserts: the dedup shuffle mixes every bucket into every task, so
    #   ONE explicit repartition on _bucket (the small, deduped winner
    #   set — not the raw batch) re-aligns it.
    # partitionBy then writes O(n_buckets) files instead of
    # O(tasks x n_buckets) — the small-file explosion is the write-side
    # bottleneck at any scale.
    kept = (
        j.where(F.col("op").isNull())
        .select(*data_cols)
        .withColumn("_bucket", bucket_expr(table.n_buckets))
    )
    upserts = (
        upd.where(F.col("op") != "D")
        .select(*data_cols, "_bucket")
        .repartition(max(len(touched), 1), "_bucket")
    )
    final = kept.unionByName(upserts)

    t_phase = time.time()
    version, out_dir = table.write_buckets(final)
    m.phase_secs["merge_write"] = round(time.time() - t_phase, 3)
    t_phase = time.time()

    n_iu, n_d = _op_counts(win_obs, prep)
    tgt = _observed(tgt_obs)
    if tgt is None and not target_known_empty:
        # recompute the match split from a column-pruned target
        # scan joined to the (cached, tiny) slim winners
        tgt = (
            target.select(*KEY_COLS)
            .join(slim_keys, on=KEY_COLS, how="left")
            .agg(*tgt_counts).collect()[0].asDict()
        )
    tgt = tgt or {}
    m.deleted = int(tgt.get("deleted") or 0)
    replaced = int(tgt.get("replaced") or 0)
    m.updated = replaced
    m.inserted = n_iu - replaced
    m.delete_noop = n_d - m.deleted
    m.buckets_touched = len(touched)
    m.files_carried = int(split_stats.get("files_cold") or 0)
    m.rows_carried_ref = int(split_stats.get("rows_cold") or 0)
    m.phase_secs["post_metrics"] = round(time.time() - t_phase, 3)

    # the commit harvests the written footers into per-file key-range
    # refs (what future merges prune against) and commits each touched
    # bucket as its COLD refs carried by reference + the files just written
    t_phase = time.time()
    committed = table.commit(
        version,
        out_dir,
        touched,
        max(prep.ckpt, prep.lsn_to),
        dyn_final,
        m.to_dict(),
        full_rewrite=full_rewrite,
        carried_refs=cold_refs,
    )
    return _committed(m, committed, t_phase, t0)


def _delta_commit(
    table, prep, dyn_final, use_arrow_udfs, use_observations, policies, t0,
):
    """Merge-on-read apply: land ONLY the batch's winner rows as a delta
    dir appended to each touched bucket's chain (lake.commit_delta);
    deletes become ``_tombstone`` rows. The target is never read or
    rewritten (the carried-rewrite term — the one merge phase whose cost
    grows with TABLE size, not batch size — drops to zero), which is
    what keeps per-batch cost O(batch) at 10^10-event scale where every
    batch touches every bucket. The read-side reconstruction and the
    compaction that amortizes it live in lake._read_merged /
    maintain.compact.

    Metric semantics vs CoW: without a target probe, insert-vs-update
    cannot be split — ``inserted`` carries all upserts, ``updated`` is
    0, and ``deleted`` counts tombstones WRITTEN (a delete for an absent
    key still lands one; compaction drops it), so ``delete_noop`` is 0.
    The winners == inserted + updated + deleted + delete_noop invariant
    still holds.
    """
    m, touched = prep.m, prep.touched
    # policies are the one case delta mode must read the target: the
    # coalesce fallback / first_seen floor live in the PREVIOUS row
    # state. Pruned to the touched buckets' merged view; tables that run
    # policy-free (the common mirror) never scan the target.
    target = (
        evolve_table(table.read(buckets=touched), prep.changes, dyn_final)
        if policies.active else None
    )
    upd, win_obs = _winner_updates(
        table, prep, dyn_final, use_arrow_udfs, use_observations, policies,
        target,
    )
    data_cols = [f.name for f in table.base_fields] + [n for n, _ in dyn_final]
    out = (
        upd.select(
            *data_cols,
            (F.col("op") == "D").alias(TOMBSTONE_COL),
            "_bucket",
        )
        # the winner set is small and already deduped; one explicit
        # repartition bucket-aligns it so partitionBy writes
        # O(touched buckets) files, not O(tasks x buckets)
        .repartition(max(len(touched), 1), "_bucket")
    )
    t_phase = time.time()
    version, out_dir = table.write_buckets(out)
    m.phase_secs["delta_write"] = round(time.time() - t_phase, 3)
    t_phase = time.time()

    n_iu, n_d = _op_counts(win_obs, prep)
    m.inserted = n_iu
    m.updated = 0
    m.deleted = n_d
    m.delete_noop = 0
    m.buckets_touched = len(touched)
    m.phase_secs["post_metrics"] = round(time.time() - t_phase, 3)

    t_phase = time.time()
    committed = table.commit_delta(
        version, out_dir, max(prep.ckpt, prep.lsn_to), dyn_final, m.to_dict())
    return _committed(m, committed, t_phase, t0)
