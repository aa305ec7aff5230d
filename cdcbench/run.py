"""CDC ingest benchmark: replay a generated change log, then read it back.

Usage (from the repository root):

    python3 cdcbench/run.py --workload microbatch_cow --seed 1 \\
        --seconds 4 --trace 0

One run, one workload, one process:

1. generate the seeded logs (untimed);
2. set up ``SETUP_REPEATS`` times (session start is paid once) and keep
   the median as ``setup_s``;
3. replay the ingest log through ``etl_spark.cdc.runner.replay``;
4. read phase on the table it left: the changelog over the ingest's
   commits, full scans, untimed warm-up lookups, then seeded point lookups
   timed for at least ``--seconds``, then ``compact``;
5. check the table, the lookups and the changelog against an
   independent last-writer-wins reduction of the log (``gate.py``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
steps under ``tracing.Tracer``, prints the per-layer metrics and the
tracing overhead instead, and writes the spans to ``.cdcbench_out/``.
The last stdout line is the result JSON; the line before it carries the
host record and details. The exit code is non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".cdcbench_work")
OUT = os.path.join(ROOT, ".cdcbench_out")
# well below the host's RAM: the container shares its machine's memory
DRIVER_MEM = "2g"
# the read phase times SCANS full scans, then point lookups for --seconds
# and at least MIN_LOOKUPS of them, over that many distinct keys, after
# LOOKUP_WARMUP untimed ones
SCANS = 3
MIN_LOOKUPS = 7
LOOKUP_WARMUP = 6


def host_record(spark) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_mem": DRIVER_MEM,
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(ln for ln in f if ln.startswith("VmHWM")).split()[1])
    return kb / 1024


def cpu_clock(spark):
    """A function returning the CPU seconds (user + system) used so far by
    this process and the driver JVM, where the engine's work runs.

    A shared host lends its cores out unevenly: wall time of the same work
    moves by up to 2x from one minute to the next. The CPU time the work
    consumes moves far less, because time a core is taken away is not
    charged to it."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    stat, tick = f"/proc/{pid}/stat", os.sysconf("SC_CLK_TCK")

    def now() -> float:
        with open(stat) as f:
            # fields after the parenthesised command: utime is 14th, stime 15th
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / tick + time.process_time()

    return now


def start_session(work: str):
    """local[nproc] session with every scratch file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the Spark local dir (shuffle, spill, broadcast files); the variable
    # takes precedence over spark.local.dir, so an inherited one cannot
    # send scratch files out of the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    from etl_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    spark = get_spark("cdcbench", master=f"local[{nproc}]", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
    })
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)


def noop_write(df) -> None:
    """Execute ``df`` reading every column, with no output."""
    df.write.format("noop").mode("overwrite").save()


def run_workload(spark, wl, seed: int, seconds: float, trace: bool,
                 work: str, session_s: float, scale: float = 1.0,
                 spans_path: str | None = None,
                 corrupt_state=None) -> tuple[dict, dict]:
    """One benchmark run on a live session; returns (result, detail).
    A traced run writes its spans to ``spans_path`` when given.
    ``corrupt_state(df, logs)`` (self-test only) transforms the table read
    the state check sees."""
    import gate
    import workloads
    from tracing import Tracer

    from etl_spark.cdc import changelog, maintain, runner

    t_start = time.perf_counter()
    setup_log, ingest_log = workloads.generate_logs(spark, wl, seed, scale, work)
    gen_s = time.perf_counter() - t_start
    unit_secs, tables = workloads.set_up(spark, wl, setup_log, work, scale)
    setup_s = session_s + statistics.median(unit_secs)
    table = tables[-1]

    # untimed: the independent expected state and the lookup key sample
    state_logs = ([setup_log] if wl.setup_is_base else []) + [ingest_log]
    expected = gate.expected_state(spark, state_logs).persist()
    keys, want = gate.lookup_sample(expected, state_logs, seed, MIN_LOOKUPS)

    tracer = Tracer(spark) if trace else None

    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    cpu = cpu_clock(spark)

    def timed(op, *args) -> float:
        t0 = time.perf_counter()
        op(*args)
        return time.perf_counter() - t0

    with tracer.installed() if tracer else contextlib.nullcontext():
        v0 = table.version()
        c0, t0 = cpu(), time.perf_counter()
        ms = runner.replay(spark, runner.read_event_log(spark, ingest_log),
                           table, batch_size=wl.ingest_batch_size(scale))
        ingest_s, ingest_cpu_s = time.perf_counter() - t0, cpu() - c0
        v1 = table.version()
        events = sum(m.events_seen for m in ms)
        files_per_bucket = (maintain.bucket_file_stats(table)
                            if tracer is not None else {})

        # read phase: short reads are repeated and their median reported
        def scan():
            with span("lake.read"):
                noop_write(table.read())

        def read_changelog():
            with span("changelog.read_changelog"):
                noop_write(changelog.read_changelog(table, v0, v1))

        looked = []

        def lookup(i):
            key = keys[i % len(keys)]
            with span("lake.lookup"):
                looked.append((key, table.lookup([key]).collect()))

        # the changelog read and the scans go first and warm the read path
        # the lookups share (manifest, parquet scan); LOOKUP_WARMUP untimed
        # lookups then finish the lookup path's JIT and codegen, which the
        # engine pays once per process
        changelog_s = timed(read_changelog)
        scan_secs = [timed(scan) for _ in range(SCANS)]
        for i in range(LOOKUP_WARMUP):
            lookup(i)
        lookup_secs = []
        deadline = time.perf_counter() + seconds
        while len(lookup_secs) < len(keys) or time.perf_counter() < deadline:
            lookup_secs.append(
                timed(lookup, LOOKUP_WARMUP + len(lookup_secs)))
        t0 = time.perf_counter()
        cm = maintain.compact(spark, table)
        compact_s = time.perf_counter() - t0

    # --- correctness gate (untimed) -----------------------------------------
    t_check = time.perf_counter()
    state_df = table.read()
    if corrupt_state is not None:
        state_df = corrupt_state(state_df, state_logs)
    state_ok = gate.state_matches(state_df, expected)
    bad_lookups = sum(not gate.lookup_ok(rows, k, want) for k, rows in looked)
    cl = changelog.read_changelog(table, v0, v1)
    changelog_ok = gate.changelog_mismatches(cl, expected) == 0
    expected.unpersist()
    check_s = time.perf_counter() - t_check
    # batches, scans, the changelog read, lookups, compaction and the
    # three checks
    attempted = len(ms) + len(scan_secs) + 1 + len(looked) + 1 + 3
    failed = (not state_ok) + bad_lookups + (not changelog_ok)

    commit_at = [table.manifest_at(v)["committed_at"] for v in range(v0 + 1, v1 + 1)]
    gaps = [b - a for a, b in zip(commit_at, commit_at[1:])]
    written = sum(m.bytes_written for m in ms) + int(cm.get("bytes_written", 0))
    metrics = {
        "setup_s": (setup_s, "s"),
        "ingest_cpu_us_per_event": (ingest_cpu_s / events * 1e6, "us/event"),
        "write_bytes_per_event": (written / events, "B/event"),
        "meta_bytes_per_commit": (
            sum(m.manifest_bytes for m in ms) / len(ms), "B"),
    }
    # wall-clock timings, reported, but their run-to-run spreads on a
    # shared 4-core host are too wide for an end-to-end regression bound;
    # the ingest is bounded by its CPU cost instead (README.md)
    unbounded = {
        "ingest_eps": (events / ingest_s, "events/s"),
        "lookup_p50_s": (statistics.median(lookup_secs), "s"),
        "commit_interval_p50_s": (statistics.median(gaps), "s"),
        "scan_s": (statistics.median(scan_secs), "s"),
        "changelog_s": (changelog_s, "s"),
        "compact_s": (compact_s, "s"),
    }
    if tracer is not None:
        cl_rows = cl.count()
        metrics = layer_metrics(tracer, ms, cm, files_per_bucket, cl_rows,
                                events, ingest_s, ingest_cpu_s)
        metrics["jvm_peak_rss_mb"] = (jvm_peak_rss_mb(spark), "MB")
    detail = {
        "workload": wl.name, "seed": seed, "trace": trace,
        "events": events, "batches": len(ms),
        # input-determined counts: a correct engine cannot move them
        "counts": {c: sum(getattr(m, c) for m in ms) for c in (
            "conflicts_resolved", "winners", "buckets_touched")},
        "session_s": session_s, "setup_unit_s": unit_secs,
        "gen_s": gen_s, "ingest_s": ingest_s, "check_s": check_s,
        "run_s": time.perf_counter() - t_start,
        "unbounded": {k: {"value": v, "unit": u}
                      for k, (v, u) in unbounded.items()},
        "samples_s": {"scan": scan_secs, "lookup": lookup_secs},
        "failed_op_frac": failed / attempted,
        "checks": {"state": state_ok, "changelog": changelog_ok,
                   "lookups_bad": bad_lookups},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if tracer is not None and spans_path is not None:
        tracer.write(spans_path, {"workload": wl.name, "seed": seed,
                                  "host": host_record(spark)})
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
    return result, detail


def layer_metrics(tr, ms, cm, files_per_bucket, cl_rows, events, ingest_s,
                  ingest_cpu_s):
    """Per-layer metrics of a traced run (see README.md for what each one
    should move)."""
    def phase(p):
        return sum(m.phase_secs.get(p, 0.0) for m in ms)

    prep, apply_ = tr.group("merge.prepare_batch"), tr.group("merge.apply_prepared")
    rewritten = sum(m.files_rewritten for m in ms)
    carried = sum(m.files_carried for m in ms)
    bloomed = [i for i, m in enumerate(ms[:-1]) if m.phase_secs.get("bloom_build", 0) > 0]
    files = list(files_per_bucket.values()) or [0]
    out = {
        "runner.gap_s": (tr.gap_p50("merge.apply_prepared"), "s"),
        "merge.prepare_batch.self_s": (tr.self_s("merge.prepare_batch"), "s"),
        "merge.prepare_batch.spark_jobs": (prep.jobs, "count"),
        "merge.prepare_batch.shuffle_write_bytes": (prep.shuffle_write_bytes, "B"),
        "merge.prepare_batch.overlap_frac": (
            tr.overlap_frac("merge.prepare_batch", "merge.apply_prepared"), "ratio"),
        "merge.apply_prepared.self_s": (tr.self_s("merge.apply_prepared"), "s"),
        "merge.apply_prepared.spark_jobs": (apply_.jobs, "count"),
        "merge.apply_prepared.executor_run_s": (apply_.executor_run_s, "s"),
        "merge.apply_prepared.shuffle_read_bytes": (apply_.shuffle_read_bytes, "B"),
        "merge.apply_prepared.spill_bytes": (apply_.spill_bytes, "B"),
        "merge.apply_prepared.gc_s": (apply_.gc_s, "s"),
    }
    for p in ("slim_build", "merge_write", "bloom_build", "lineage", "commit"):
        out[f"merge.{p}_s"] = (phase(p), "s")
    out.update({
        "lake.read_for_merge.self_s": (tr.self_s("lake.read_for_merge"), "s"),
        "lake.files_rewritten": (rewritten, "count"),
        "lake.files_carried": (carried, "count"),
        "lake.carry_ratio": (
            carried / (carried + rewritten) if carried + rewritten else 0.0, "ratio"),
        "lake.build_file_blooms.self_s": (tr.self_s("lake.build_file_blooms"), "s"),
        "lake.build_file_blooms.calls": (tr.calls("lake.build_file_blooms"), "count"),
        "lake.bloom_useful_frac": (
            sum(ms[i + 1].files_carried > 0 for i in bloomed) / len(bloomed)
            if bloomed else 0.0, "ratio"),
        "lake.commit.self_s": (tr.self_s("lake.commit"), "s"),
        "lake.manifest_bytes": (sum(m.manifest_bytes for m in ms), "B"),
        "lake.manifest_shards_carried": (
            sum(m.manifest_shards_carried for m in ms), "count"),
        "lake.files_per_bucket_max": (max(files), "count"),
        "lake.files_per_bucket_mean": (sum(files) / len(files), "count"),
        "lake.read.self_s": (tr.self_s("lake.read"), "s"),
        "lake.lookup.self_s": (tr.self_s("lake.lookup"), "s"),
        "lake.lookup.spark_jobs": (tr.group("lake.lookup").jobs, "count"),
        "changelog.read_changelog.self_s": (tr.self_s("changelog.read_changelog"), "s"),
        "changelog.read_changelog.spark_jobs": (
            tr.group("changelog.read_changelog").jobs, "count"),
        "changelog.read_changelog.rows": (cl_rows, "count"),
        "maintain.compact.self_s": (tr.self_s("maintain.compact"), "s"),
        "maintain.compact.bytes_written": (int(cm.get("bytes_written", 0)), "B"),
        "maintain.compact.buckets_touched": (int(cm.get("buckets_touched", 0)), "count"),
        # tracing overhead, three ways: the traced run's ingest rate and
        # CPU per event, to set against the untraced runs' ingest_eps and
        # ingest_cpu_us_per_event, and the tracer's own time as a share of
        # the traced ingest
        "trace.ingest_eps": (events / ingest_s, "events/s"),
        "trace.ingest_cpu_us_per_event": (
            ingest_cpu_s / events * 1e6, "us/event"),
        "trace.bookkeeping_frac": (tr.bookkeeping_s / ingest_s, "ratio"),
    })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum length of the point-lookup sampling loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)  # after this directory, before site-packages
    try:
        import workloads
    except ImportError as e:
        print(f"cdcbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        spans_path = None
        if args.trace:
            os.makedirs(OUT, exist_ok=True)
            spans_path = os.path.join(
                OUT, f"spans-{args.workload}-seed{args.seed}.jsonl")
        result, detail = run_workload(
            spark, workloads.WORKLOADS[args.workload], args.seed,
            args.seconds, bool(args.trace), work, session_s,
            spans_path=spans_path)
        detail["host"] = host_record(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK)  # only when no other run is using it
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
