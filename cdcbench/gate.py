"""Correctness gate: the replayed table against an independent reduction.

The expected final state is a plain Spark last-writer-wins window over
the generated log (latest lsn per key; a winning delete removes the
key). It shares no code with the engine's merge. Tables are compared by
an order-insensitive digest of ``(repo, path, content_sha256,
_last_lsn)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_spark.cdc.schema import EVENT_SCHEMA

KEY = ["repo", "path"]
STATE_COLS = [*KEY, "content_sha256", "_last_lsn"]


def expected_state(spark, log_paths: list[str]) -> DataFrame:
    """Current row per key after replaying the logs, by window over lsn."""
    w = Window.partitionBy(*KEY).orderBy(F.col("lsn").desc())
    return (
        spark.read.schema(EVENT_SCHEMA).parquet(*log_paths)
        .where(F.col("op").isin("I", "U", "D"))
        .withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") != "D"))
        .select(*KEY, F.sha2("content", 256).alias("content_sha256"),
                F.col("lsn").alias("_last_lsn"))
    )


def state_matches(table_df: DataFrame, expected: DataFrame) -> bool:
    """Equal digests: row count, decimal sum and xor of a 64-bit hash of
    the state columns, for both sides in one aggregation."""
    both = table_df.select(*STATE_COLS, F.lit(0).alias("_side")).unionByName(
        expected.select(*STATE_COLS, F.lit(1).alias("_side")))
    rows = both.groupBy("_side").agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*STATE_COLS).cast("decimal(38,0)")).alias("s"),
        F.bit_xor(F.xxhash64(*STATE_COLS)).alias("x"),
    ).collect()
    dig = {r["_side"]: (r["n"], r["s"], r["x"]) for r in rows}
    return dig.get(0) == dig.get(1)


def lookup_sample(expected: DataFrame, log_paths: list[str], seed: int,
                  n: int) -> tuple[list[tuple[str, str]], dict]:
    """A seeded sample of ``n`` distinct keys of the logs, present or
    deleted, and {key: (content_sha256, _last_lsn)} for those present in
    the expected state."""
    spark = expected.sparkSession
    rows = (
        spark.read.schema(EVENT_SCHEMA).parquet(*log_paths)
        .where(F.col("op").isin("I", "U", "D"))
        .select(*KEY).distinct()
        .orderBy(F.xxhash64(F.lit(seed), *KEY), *KEY).limit(n)
        .join(expected, KEY, "left")
        .collect()
    )
    keys = sorted((r["repo"], r["path"]) for r in rows)
    want = {(r["repo"], r["path"]): (r["content_sha256"], r["_last_lsn"])
            for r in rows if r["_last_lsn"] is not None}
    return keys, want


def lookup_ok(rows: list, key: tuple[str, str], want: dict) -> bool:
    got = [(r["content_sha256"], r["_last_lsn"]) for r in rows]
    return got == ([want[key]] if key in want else [])


def changelog_mismatches(changelog: DataFrame, expected: DataFrame) -> int:
    """Keys whose LAST changelog row in the range disagrees with the
    expected final state: a final delete must leave the key absent, a
    final insert/update must carry the expected hash and lsn."""
    w = Window.partitionBy(*KEY).orderBy(F.col("_commit_version").desc())
    last = (
        changelog.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(*KEY, "_change_type", "content_sha256", "_last_lsn")
    )
    exp = expected.select(*KEY, F.col("content_sha256").alias("_e_sha"),
                          F.col("_last_lsn").alias("_e_lsn"))
    j = last.join(exp, KEY, "left")
    bad = F.when(F.col("_change_type") == "delete", F.col("_e_lsn").isNotNull()) \
        .otherwise(~F.col("_e_sha").eqNullSafe(F.col("content_sha256"))
                   | ~F.col("_e_lsn").eqNullSafe(F.col("_last_lsn")))
    return j.where(bad).count()
