"""Table maintenance: small-file compaction, orphan-file vacuum, bucket
evolution. The background jobs a CoW lake table needs to stay healthy
under continuous micro-batch ingest (Iceberg analogs:
``rewrite_data_files``, ``remove_orphan_files``, partition-spec
evolution). Reference retention ancestor: geoinfo/main.py:482-486
(``load_id <= max - k`` cleanup as its own job).

All three are **commits like any other**: data files land first, the
manifest + pointer swap last, so a crash mid-maintenance leaves the
previous version live and the changelog reader sees maintenance commits
as empty diffs (rows carry identical ``_last_lsn``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import SparkSession

from .dedup import bucket_expr
from .lake import SnapshotTable, _chain, _entry_parts


def _n_files(root: str, rel: str) -> int:
    """Parquet file count behind one manifest path (a base file ref
    counts as itself; a delta dir is listed)."""
    p = os.path.join(root, rel)
    if rel.endswith(".parquet"):
        return 1
    return sum(1 for f in os.listdir(p) if f.endswith(".parquet"))


def _chain_len(entry: dict) -> int:
    """Merge-on-read chain length of a bucket entry: 0 for a plain
    bucket (no deltas), else 1 head + the remaining delta count — the
    read-amplification bound the compaction policy budgets against."""
    _, heads, tails = _entry_parts(entry)
    return (1 if heads else 0) + len(tails)


def bucket_file_stats(table: SnapshotTable) -> dict[int, int]:
    """Parquet file count per live bucket, summed across the bucket's
    whole dir chain (driver-side listing — metadata only, no Spark
    job)."""
    m = table.manifest()
    out: dict[int, int] = {}
    for b, entry in m["files"].items():
        out[int(b)] = sum(_n_files(table.root, rel) for rel in _chain(entry))
    return out


def chained_buckets(table: SnapshotTable) -> list[int]:
    """Buckets whose manifest entry is a merge-on-read delta chain."""
    return sorted(
        int(b) for b, entry in table.manifest()["files"].items()
        if _chain_len(entry) > 0
    )


def history(table: SnapshotTable, limit: int | None = None) -> list[dict]:
    """Commit history, newest first — the Delta ``DESCRIBE HISTORY`` /
    Iceberg snapshots-metadata analog, driver-side metadata only (no
    Spark job, no data scan). One record per RETAINED version: the
    commit kind (merge / delta / compact / rollback / ...), checkpoint,
    chain footprint, and the batch metrics the commit recorded —
    the ops view of what happened to the table and when.
    """
    from .lake import SnapshotExpiredError

    out: list[dict] = []
    v = table.version()
    while v >= 1 and (limit is None or len(out) < limit):
        try:
            m = table.manifest_at(v)
        except SnapshotExpiredError:
            break  # retention horizon: older history is gone
        metrics = m.get("metrics") or {}
        chains = [n for n in (_chain_len(e) for e in m["files"].values())
                  if n > 0]
        # maintenance/recovery commits stamp an explicit op; merge
        # batches are told apart by which write phase they timed
        op = metrics.get("op") or (
            "merge-delta" if "delta_write" in metrics.get("phase_secs", {})
            else "merge"
        )
        out.append({
            "version": v,
            "parent": m.get("parent"),
            "committed_at": m.get("committed_at"),
            "op": op,
            "last_lsn": m["last_lsn"],
            "buckets": len(m["files"]),
            "chained_buckets": len(chains),
            "max_chain_len": max(chains, default=0),
            "metrics": metrics,
        })
        v -= 1
    return out


def chain_lengths(table: SnapshotTable) -> dict[int, int]:
    """Per-bucket dir count of the current manifest entry: 1 for a plain
    CoW bucket, the chain length for a merge-on-read bucket — the
    read-amplification bound a compaction policy budgets against."""
    return {
        int(b): max(_chain_len(e), 1)
        for b, e in table.manifest()["files"].items()
    }


def compact(
    spark: SparkSession,
    table: SnapshotTable,
    max_files_per_bucket: int = 1,
    max_chain_len: int = 0,
    target_file_rows: int | None = None,
) -> dict:
    """Rewrite every bucket holding more than ``max_files_per_bucket``
    parquet files into one file per bucket; untouched buckets carry
    forward by manifest reference (bucket-scoped CoW, same shape as the
    merge). ``last_lsn`` and the row set are unchanged — compaction is
    changelog-invisible and does not affect replay/resume.

    Why it's needed: each merge's kept-branch preserves the target's
    input splits, so a bucket rewritten across many batches accumulates
    one file per carrying task — at micro-batch cadence the per-bucket
    file count (and with it scan/open overhead) grows without bound.

    ``max_chain_len`` is the merge-on-read compaction policy (the Hudi
    max-delta-commits analog): a chained bucket folds only when its
    chain exceeds the threshold. The default 0 folds every chain — a
    full compaction returning the table to pure CoW. A positive value
    bounds per-bucket read amplification while skipping rewrites of
    short chains, which is exactly skew-adaptive at scale: hot buckets
    (long chains) compact often, cold buckets are never rewritten at
    all — the write-amplification profile CoW cannot offer.

    ``target_file_rows`` splits each rewritten bucket into multiple
    parquet files of at most that many rows. Because rows are key-sorted
    before the writer rolls files, every file covers a CONTIGUOUS
    (repo, path) interval, and the per-file key-range refs committed to
    the manifest make subsequent merges file-level (lake.read_for_merge
    rewrites only the files a batch's keys can live in) — compaction is
    what lays out the file groups that cap CoW write amplification under
    sparse-update workloads. Default None keeps one file per bucket.
    The commit stamps key-membership blooms on every bucket rewritten
    into two or more files, so insert-fanout exoneration is metadata-
    only from the first post-compaction batch; the returned metrics
    carry the commit's ``files_rewritten`` and ``bytes_written``.
    """
    t0 = time.time()
    manifest = table.manifest()
    touched = sorted(
        set(
            b for b, n in bucket_file_stats(table).items()
            if n > max_files_per_bucket
        )
        # compaction is what returns a merge-on-read bucket to the
        # plain-scan fast path and drops superseded rows + tombstones
        # from disk; chains at or under the policy threshold ride
        | set(
            int(b) for b, e in manifest["files"].items()
            if _chain_len(e) > max_chain_len and _chain_len(e) > 0
        )
    )
    metrics: dict = {"op": "compact", "buckets_touched": len(touched)}
    if not touched:
        metrics["wall_secs"] = round(time.time() - t0, 3)
        return metrics

    rows = (
        table.read(buckets=touched, manifest=manifest)
        .withColumn("_bucket", bucket_expr(table.n_buckets))
        # one task per bucket -> one output file per bucket dir (or a
        # key-contiguous roll of files under target_file_rows)
        .repartition(len(touched), "_bucket")
        # key-sorted layout inside each rewritten file (the Iceberg
        # rewrite_data_files sort-strategy analog): parquet row-group
        # min/max stats on (repo, path) become selective, so point
        # lookups skip row groups instead of scanning the whole bucket —
        # and per-FILE key ranges become disjoint, the layout file-level
        # CoW prunes best against. Compaction is the right place to pay
        # this sort — the hot merge path never does.
        # _bucket MUST lead the sort: the dynamic-partition writer
        # requires its output sorted by the partition column and ADDS
        # that sort itself if the incoming order doesn't already satisfy
        # it — a re-sort by _bucket alone that destroys the key order,
        # leaving every rolled file spanning its whole bucket's keyspace
        # (ranges useless, and every batch key then probes every file's
        # bloom, compounding the per-key FP into a near-certain hit)
        .sortWithinPartitions("_bucket", *table.key_cols)
    )
    version, out_dir = table.write_buckets(rows, target_file_rows)
    metrics["wall_secs"] = round(time.time() - t0, 3)
    table.commit(
        version,
        out_dir,
        touched,
        int(manifest["last_lsn"]),
        [tuple(c) for c in manifest["dyn_schema"]],
        metrics,
    )
    metrics["version"] = version
    return metrics


def remove_orphans(table: SnapshotTable, min_age_secs: float = 3600.0) -> list[str]:
    """Delete data version-dirs that belong to NO committed manifest —
    the debris of a writer that crashed between the data write and the
    manifest/pointer swap. Dirs newer than ``min_age_secs`` are kept:
    they may be an in-flight commit (the same grace Iceberg's
    remove_orphan_files applies). Committed history is never touched —
    retention of old versions is ``expire_snapshots``' job.

    Liveness is the union of data-version dirs REFERENCED by every
    remaining manifest (the same live-set computation expire_snapshots
    uses), not "this dir's own-version manifest file still exists":
    bucket-scoped CoW lets the current manifest reference older
    versions' dirs (e.g. data/v3/_bucket=5 carried forward into v5),
    and expire_snapshots deletes the old manifest JSONs while keeping
    those referenced dirs — vacuuming them would silently corrupt the
    live snapshot."""
    removed: list[str] = []
    data_root = os.path.join(table.root, "data")
    manifests_dir = os.path.join(table.root, "manifests")
    live: set[str] = set()
    for entry in os.listdir(manifests_dir):
        if not (entry.startswith("v") and entry.endswith(".json")):
            continue
        # own-version dir of any committed manifest is live even if the
        # manifest references no files (empty table commit)
        live.add(entry[:-5])
        with open(os.path.join(manifests_dir, entry)) as f:
            m = json.load(f)
        for e in table._resolve_files(m["files"]).values():  # noqa: SLF001
            for rel in _chain(e):
                # bucket dirs live under data/v{K}/_bucket=...; keep v{K}
                live.add(rel.split("/")[1])
    now = time.time()
    for entry in sorted(os.listdir(data_root)):
        if not entry.startswith("v") or entry in live:
            continue
        path = os.path.join(data_root, entry)
        if now - os.path.getmtime(path) < min_age_secs:
            continue
        shutil.rmtree(path)
        removed.append(entry)
    return removed


def rebucket(spark: SparkSession, table: SnapshotTable, new_n_buckets: int) -> dict:
    """Evolve the table's bucket count (partition-spec evolution): full
    rewrite of the live snapshot into ``new_n_buckets`` dirs, committed
    atomically; subsequent merges route by the new count (the committed
    value is adopted on open — lake.py constructor). Row set and
    ``last_lsn`` unchanged.

    At 100 TB this is the skew/parallelism relief valve: a table that
    outgrew its bucket count (buckets >> maxPartitionBytes) rewrites
    once instead of suffering giant merge tasks forever. The rewrite is
    one shuffle on the new bucket id, linear in table size.
    """
    if new_n_buckets < 1:
        raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
    t0 = time.time()
    manifest = table.manifest()
    rows = (
        table.read(manifest=manifest)
        .withColumn("_bucket", bucket_expr(new_n_buckets))
        .repartition(new_n_buckets, "_bucket")
    )
    version, out_dir = table.write_buckets(rows)
    old_n = table.n_buckets
    table.n_buckets = new_n_buckets  # manifest records the new count
    metrics = {
        "op": "rebucket",
        "from_buckets": old_n,
        "to_buckets": new_n_buckets,
        "wall_secs": round(time.time() - t0, 3),
    }
    table.commit(
        version,
        out_dir,
        [],
        int(manifest["last_lsn"]),
        [tuple(c) for c in manifest["dyn_schema"]],
        metrics,
        full_rewrite=True,
    )
    metrics["version"] = version
    return metrics


def main(argv: list[str] | None = None) -> None:
    """CLI: python -m etl_spark.cdc.maintain --table T <op> [options] —
    the ops-runbook entry point for the three maintenance jobs, emitting
    the same metrics JSON the library calls return."""
    import argparse
    import json
    import sys

    from ..session import get_spark

    ap = argparse.ArgumentParser(description="etl_spark table maintenance")
    ap.add_argument("--table", required=True)
    ap.add_argument("--master", default=None)
    sub = ap.add_subparsers(dest="op", required=True)
    c = sub.add_parser("compact", help="rewrite fragmented buckets")
    c.add_argument("--max-files-per-bucket", type=int, default=1)
    c.add_argument(
        "--max-chain-len", type=int, default=0,
        help="fold only delta chains LONGER than this (0 = fold all; the "
             "bounded per-bucket compaction policy, Hudi max-delta-commits "
             "analog)")
    c.add_argument(
        "--target-file-rows", type=int, default=None,
        help="roll rewritten buckets into key-contiguous files of at most "
             "this many rows (enables file-level CoW pruning on later "
             "merges); default one file per bucket")
    v = sub.add_parser("vacuum", help="remove orphaned crash-debris dirs")
    v.add_argument("--min-age-secs", type=float, default=3600.0)
    r = sub.add_parser("rebucket", help="partition-spec evolution")
    r.add_argument("--n-buckets", type=int, required=True)
    rb = sub.add_parser("rollback", help="restore an earlier snapshot "
                        "as a new commit (metadata-only, atomic)")
    rb.add_argument("--to-version", type=int, required=True)
    hi = sub.add_parser("history", help="commit history, newest first "
                        "(DESCRIBE HISTORY analog; one JSON line each)")
    hi.add_argument("--limit", type=int, default=None)
    args = ap.parse_args(argv)

    spark = get_spark("etl_spark-maintain", master=args.master)
    table = SnapshotTable(spark, args.table)
    if args.op == "compact":
        res = compact(spark, table,
                      max_files_per_bucket=args.max_files_per_bucket,
                      max_chain_len=args.max_chain_len,
                      target_file_rows=args.target_file_rows)
    elif args.op == "vacuum":
        res = {"op": "vacuum",
               "removed": remove_orphans(table, min_age_secs=args.min_age_secs)}
    elif args.op == "rollback":
        res = table.rollback(args.to_version)["metrics"]
        res["version"] = res["rolled_back_from"] + 1
    elif args.op == "history":
        for rec in history(table, limit=args.limit):
            print(json.dumps(rec))
        sys.exit(0)
    else:
        res = rebucket(spark, table, new_n_buckets=args.n_buckets)
    print(json.dumps(res))
    sys.exit(0)


if __name__ == "__main__":
    main()
