"""Table audit: verify a lake table's invariants after any replay.

The operational `fsck` for the snapshot table — the check an operator
runs before trusting a table that survived a crash, a partial retention
pass, or a code upgrade. Reference analog: the hand-rolled post-load
count checks sprinkled through the connectors (e.g. per-run row-count
logging in full_incidents/replication_otrs_to_dwh/main.py); here they
are one systematic pass.

Structural checks are driver-side metadata reads (no Spark job) —
among them ``manifest_shape``: every bucket must store a shard pointer
to a ``{"base", "deltas"}`` entry; a table with any other form (e.g.
written by an older engine) fails here before any data is read. The
data invariants are ONE column-pruned Spark aggregation over the
committed snapshot:

- key uniqueness: no duplicate (repo, path) — the MERGE contract;
- checkpoint bound: max(_last_lsn) <= manifest last_lsn — data can
  never be ahead of the committed cursor;
- bucket placement: every row hashes into the bucket dir that holds it
  (CoW bucket scoping depends on this);
- content invariant: content_sha256 == sha256(content) per row (the
  north rule's byte-match invariant).

CLI:
    python -m etl_spark.cdc.audit --table <lake root> [--master ...]
exits non-zero and prints the violation summary if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pyspark.sql import types as T

from .dedup import bucket_expr
from .lake import TOMBSTONE_COL, SnapshotTable, _chain, _entry_parts
from .schema import KEY_COLS


def audit_table(spark: SparkSession, table: SnapshotTable) -> dict:
    """Run every invariant; returns {"ok": bool, "checks": {...}}."""
    checks: dict = {}

    # --- structural (driver-side metadata) -------------------------------
    v = table.version()
    manifest_path = os.path.join(table.root, "manifests", f"v{v}.json")
    checks["latest_manifest_exists"] = v == 0 or os.path.isfile(manifest_path)
    bad: dict[str, str] = {}
    raw = table._raw_manifest(v)["files"] if v else {}  # noqa: SLF001
    for b, ptr in raw.items():
        try:
            table._resolve_files({b: ptr})  # noqa: SLF001
        except ValueError as e:
            bad[b] = str(e)
    checks["manifest_shape"] = {"ok": not bad, "bad": bad}
    if bad:
        return {"ok": False, "version": v, "checks": checks}
    m = table.manifest()
    dirs = table._bucket_dirs(m)  # noqa: SLF001
    missing = [d for d in dirs if not os.path.exists(d)]
    checks["bucket_dirs_exist"] = {"ok": not missing, "missing": missing}
    checks["bucket_count_consistent"] = int(m["n_buckets"]) == table.n_buckets

    if v == 0 or not dirs:
        checks["empty_table"] = True
        ok = all(
            c if isinstance(c, bool) else c.get("ok", True)
            for c in checks.values()
        )
        return {"ok": ok, "version": v, "checks": checks}

    # --- data invariants: one pruned scan + one aggregation --------------
    # bucket placement needs the physical dir of each row: read per-bucket
    # dirs with a literal bucket id (cheap union of pruned scans; each
    # branch reads only keys + lsn + the two content columns). Merge-on-
    # read chains are audited on the RAW rows: per key, multiplicity is
    # legal across a chain but (a) never within one dir and (b) every
    # row of a key must carry a distinct _last_lsn, or the read-side
    # winner (max lsn) would be ambiguous.
    raw_schema = T.StructType(
        list(table.table_schema().fields)
        + [T.StructField(TOMBSTONE_COL, T.BooleanType())]
    )
    parts = []
    for b_str, entry in m["files"].items():
        _, heads, tails = _entry_parts(entry)
        chained = bool(heads or tails)
        for i, rel in enumerate(_chain(entry)):
            d = os.path.join(table.root, rel)
            if not os.path.exists(d):
                continue  # reported by bucket_dirs_exist; audit the rest
            parts.append(
                spark.read.schema(raw_schema).parquet(d)
                .select(
                    *KEY_COLS, "_last_lsn", "content", "content_sha256",
                    F.lit(int(b_str)).alias("_dir_bucket"),
                    F.lit(f"{b_str}/{i}").alias("_dir"),
                    F.lit(chained).alias("_chained"),
                )
            )
    if not parts:
        return {"ok": False, "version": v, "checks": checks}
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)

    agg = df.select(
        *KEY_COLS,
        "_last_lsn",
        "_dir",
        "_chained",
        (bucket_expr(table.n_buckets) != F.col("_dir_bucket")).cast("int").alias("_misplaced"),
        F.when(
            F.col("content").isNotNull()
            & (F.sha2(F.col("content"), 256) != F.col("content_sha256")),
            1,
        ).otherwise(0).alias("_sha_bad"),
    )
    row = (
        agg.groupBy(*KEY_COLS)
        .agg(
            F.count("*").alias("_n"),
            F.countDistinct("_dir").alias("_nd_dir"),
            F.countDistinct("_last_lsn").alias("_nd_lsn"),
            F.max(F.col("_chained").cast("int")).alias("_chn"),
            F.max("_last_lsn").alias("_lsn"),
            F.sum("_misplaced").alias("_mis"),
            F.sum("_sha_bad").alias("_sha"),
        )
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("_n").alias("n_rows"),
            # a key is duplicated iff: >1 row in a pure-CoW bucket; or
            # >1 row in ONE dir of a chain; or two chain rows sharing a
            # _last_lsn (ambiguous merge-on-read winner)
            F.sum(
                F.when(
                    ((F.col("_chn") == 0) & (F.col("_n") > 1))
                    | (F.col("_n") > F.col("_nd_dir"))
                    | (F.col("_n") > F.col("_nd_lsn")),
                    1,
                ).otherwise(0)
            ).alias("dup_keys"),
            F.max("_lsn").alias("max_lsn"),
            F.sum("_mis").alias("misplaced"),
            F.sum("_sha").alias("sha_mismatch"),
        )
        .collect()[0]
    )

    checks["unique_keys"] = {
        "ok": int(row["dup_keys"] or 0) == 0, "duplicates": int(row["dup_keys"] or 0)
    }
    checks["checkpoint_bound"] = {
        "ok": int(row["max_lsn"] or 0) <= int(m["last_lsn"]),
        "max_row_lsn": int(row["max_lsn"] or 0),
        "manifest_lsn": int(m["last_lsn"]),
    }
    checks["bucket_placement"] = {
        "ok": int(row["misplaced"] or 0) == 0, "misplaced": int(row["misplaced"] or 0)
    }
    checks["content_sha256"] = {
        "ok": int(row["sha_mismatch"] or 0) == 0,
        "mismatches": int(row["sha_mismatch"] or 0),
    }
    ok = all(
        c if isinstance(c, bool) else c.get("ok", True) for c in checks.values()
    )
    from .maintain import _chain_len

    chain_lens = [
        n for n in (_chain_len(e) for e in m["files"].values()) if n > 0
    ]
    return {
        "ok": ok,
        "version": v,
        "rows": int(row["n_rows"] or 0),
        "keys": int(row["n_keys"] or 0),
        # merge-on-read observability: how much deferred compaction the
        # table is carrying (read amplification = max_chain_len)
        "chained_buckets": len(chain_lens),
        "max_chain_len": max(chain_lens, default=0),
        "checks": checks,
    }


def main(argv: list[str] | None = None) -> None:
    from ..session import get_spark

    ap = argparse.ArgumentParser(description="etl_spark table audit")
    ap.add_argument("--table", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    spark = get_spark("etl_spark-audit", master=args.master)
    res = audit_table(spark, SnapshotTable(spark, args.table))
    print(json.dumps(res))
    sys.exit(0 if res["ok"] else 1)


if __name__ == "__main__":
    main()
