"""Self-test of the benchmark at tiny sizes (about two minutes).

    python3 cdcbench/selftest.py

- every workload, untraced and traced, emits exactly the end-to-end and
  per-layer metrics ``BENCHMARK.json`` names, passes the correctness gate,
  and the workloads agree with ``BENCHMARK.json``;
- the gate rejects a table carrying one extra row for a deleted key.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

import run

sys.path.insert(1, run.ROOT)
import workloads  # noqa: E402  (needs the engine on the path)

SCALE = 0.1


def one_deleted_row(state_df, logs):
    """Append a row for a key whose last event is a delete."""
    from etl_spark.cdc.schema import EVENT_SCHEMA

    spark = state_df.sparkSession
    w = Window.partitionBy("repo", "path").orderBy(F.col("lsn").desc())
    dead = (
        spark.read.schema(EVENT_SCHEMA).parquet(*logs)
        .where(F.col("op").isin("I", "U", "D"))
        .withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") == "D"))
        .limit(1)
        .select("repo", "path", "commit", "lang",
                F.lit("resurrected").alias("content"),
                F.sha2(F.lit("resurrected"), 256).alias("content_sha256"),
                F.col("lsn").alias("_last_lsn"))
    )
    assert dead.count() == 1, "log has no deleted key to resurrect"
    return state_df.unionByName(dead, allowMissingColumns=True)


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        w.name: w.why for w in workloads.WORKLOADS.values()
    }, "BENCHMARK.json workloads differ from workloads.WORKLOADS"

    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = run.start_session(work)
    try:
        for i, wl in enumerate(workloads.WORKLOADS.values()):
            for trace, want in ((False, e2e), (True, layer)):
                d = os.path.join(work, f"{wl.name}-{int(trace)}")
                os.makedirs(d)
                res, detail = run.run_workload(
                    spark, wl, seed=7 + i, seconds=0, trace=trace, work=d,
                    session_s=0.0, scale=SCALE)
                got = set(res["metrics"])
                assert got == want, (wl.name, trace, got ^ want)
                assert res["correct"] and res["failed"] == 0, (wl.name, detail)
                print(f"ok  {wl.name} trace={int(trace)}: {len(got)} metrics")

        wl = workloads.WORKLOADS["microbatch_cow"]
        d = os.path.join(work, "corrupt")
        os.makedirs(d)
        res, detail = run.run_workload(
            spark, wl, seed=7, seconds=0, trace=False, work=d, session_s=0.0,
            scale=SCALE, corrupt_state=one_deleted_row)
        assert not res["correct"] and not detail["checks"]["state"], detail
        print("ok  gate rejects a table with one extra deleted row")
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
