"""Predicate delete — K7 ``DELETE WHERE <pred>`` as a bucket-scoped CoW
rewrite.

Reference semantics: ``es_deleting_old_writes/main.py:25-57`` — a
delete-by-query retention job (``time_field < now-7d``) run as its own
DAG; retention-by-version analog ``geoinfo/main.py:482-486``.

Physical plan (two Spark actions, three when the output is multi-file):
1. probe: scan the table WITH the predicate, aggregate matched counts
   per bucket — finds the minimal CoW footprint. Column-pruned to the
   predicate's columns + the key hash.
2. rewrite: re-read ONLY the matched buckets, keep rows where the
   predicate is not TRUE (false or NULL both survive — SQL DELETE
   semantics), write them as the new version's base files (the commit
   harvests their footer key ranges, so later merges prune them file by
   file). Untouched buckets carry forward by manifest reference; buckets
   whose every row matched simply disappear from the manifest.
3. bloom pass (the commit's, lake.build_file_blooms): the rewrite keeps
   the matched buckets' input splits, so a bucket that held several
   files (a compacted, key-rolled layout) is rewritten as several; their
   key-membership blooms are built by one narrow pass over the files
   just written. Single-file buckets get none and skip the pass.

The commit does not advance ``last_lsn`` — a delete is table
maintenance, not log progress, so replay/resume semantics are
unaffected.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from .dedup import bucket_expr
from .lake import SnapshotTable


def delete_where(
    spark: SparkSession,
    table: SnapshotTable,
    predicate: Column | str,
) -> dict:
    """Delete all rows matching ``predicate``; returns delete metrics."""
    t0 = time.time()
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    manifest = table.manifest()
    full = table.read(manifest=manifest)

    # --- probe: per-bucket matched counts (pruned scan)
    hits = (
        full.where(pred)
        .groupBy(bucket_expr(table.n_buckets).alias("_b"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    touched = sorted(int(r["_b"]) for r in hits)
    deleted = int(sum(r["n"] for r in hits))
    metrics = {
        "op": "delete_where",
        "predicate": str(predicate),
        "deleted": deleted,
        "buckets_touched": len(touched),
    }
    if not touched:
        metrics["wall_secs"] = round(time.time() - t0, 3)
        return metrics  # nothing matched: no new version needed

    # --- rewrite only the matched buckets; false-or-NULL predicate rows
    # survive (SQL DELETE keeps rows the predicate cannot prove)
    keep = (
        table.read(buckets=touched, manifest=manifest)
        .where(~F.coalesce(pred, F.lit(False)))
        .withColumn("_bucket", bucket_expr(table.n_buckets))
    )
    version, out_dir = table.write_buckets(keep)

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


def main(argv: list[str] | None = None) -> None:
    """CLI: python -m etl_spark.cdc.delete --table T --where <predicate>
    — the reference's delete-by-query retention job
    (es_deleting_old_writes/main.py:25-57 deletes time_field < now-7d on
    a schedule) as a shell command over the lake table."""
    import argparse
    import json

    from ..session import get_spark

    ap = argparse.ArgumentParser(description="etl_spark predicate delete")
    ap.add_argument("--table", required=True)
    ap.add_argument("--where", required=True,
                    help="SQL boolean expression over the table's columns, "
                         "e.g. \"_last_lsn < 1000000\" or \"lang = 'go'\"")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    spark = get_spark("etl_spark-delete", master=args.master)
    res = delete_where(spark, SnapshotTable(spark, args.table), args.where)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
