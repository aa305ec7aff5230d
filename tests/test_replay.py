"""Replay-equivalence: full distributed replay == single-threaded oracle.

The core correctness gate (FIXTURES.md §6, north_rule): after replaying
the whole CDC log in micro-batches, the materialized lake table must
equal the oracle reducer's final state per key, under per-row
content_sha256 equality.
"""

import pytest

from etl_spark.cdc.gen import GenConfig, generate_events, oracle_reduce
from etl_spark.cdc.lake import SnapshotTable
from etl_spark.cdc.runner import replay

from .conftest import assert_table_matches_oracle


@pytest.fixture(scope="module")
def small_log(spark):
    cfg = GenConfig(n_events=4000, n_keys=180, hot_frac=0.35, hot_keys=12, seed=7)
    df = generate_events(spark, cfg).cache()
    rows = df.collect()
    state, dyn = oracle_reduce(rows)
    yield cfg, df, state, dyn
    df.unpersist()


def test_generator_deterministic(spark, small_log):
    cfg, df, _, _ = small_log
    again = generate_events(spark, cfg)
    a = sorted(map(tuple, df.drop("ts").collect()))
    b = sorted(map(tuple, again.drop("ts").collect()))
    assert a == b


def test_full_replay_matches_oracle(spark, small_log, tmp_path):
    cfg, df, state, dyn = small_log
    table = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=8)
    metrics = replay(spark, df, table, batch_size=900)
    assert table.version() == len(metrics) == 5  # ceil(4000/900)
    rows = table.read().collect()
    assert_table_matches_oracle(rows, state, dyn)


def test_single_batch_replay_matches_oracle(spark, small_log, tmp_path):
    _, df, state, dyn = small_log
    table = SnapshotTable(spark, str(tmp_path / "lake1"), n_buckets=8)
    replay(spark, df, table, batch_size=10_000)
    assert_table_matches_oracle(table.read().collect(), state, dyn)


def test_batch_size_invariance(spark, small_log, tmp_path):
    """Different micro-batch splits must yield identical final state."""
    _, df, state, dyn = small_log
    for i, bs in enumerate([150, 1333]):
        table = SnapshotTable(spark, str(tmp_path / f"lake_bs{i}"), n_buckets=8)
        replay(spark, df, table, batch_size=bs)
        assert_table_matches_oracle(table.read().collect(), state, dyn)


def test_bucket_count_and_salt_invariance(spark, small_log, tmp_path):
    """Any bucket count (the hash-salted (repo, path) partition spec):
    same final state (determinism under parallelism, SURVEY.md §7.4.4)."""
    _, df, state, dyn = small_log
    for nb in (2, 17):
        table = SnapshotTable(spark, str(tmp_path / f"lake_nb{nb}"), n_buckets=nb)
        replay(spark, df, table, batch_size=1000)
        assert_table_matches_oracle(table.read().collect(), state, dyn)


def test_duplicate_deliveries_are_idempotent(spark, tmp_path):
    cfg = GenConfig(n_events=1500, n_keys=80, seed=11, dup_rate=0.2)
    df = generate_events(spark, cfg)
    state, dyn = oracle_reduce(df.collect())
    table = SnapshotTable(spark, str(tmp_path / "lake_dup"), n_buckets=4)
    metrics = replay(spark, df, table, batch_size=400)
    assert_table_matches_oracle(table.read().collect(), state, dyn)
    assert sum(m.duplicate_deliveries for m in metrics) > 0


@pytest.mark.parametrize("write_mode", ["cow", "delta"])
def test_observed_and_recomputed_metrics_agree(spark, tmp_path, write_mode):
    """The streaming front-end applies with use_observations=False, so
    every counter is recomputed after the write from the cached slim
    (and, for CoW, a pruned target scan) instead of read from the write
    job's observations. Both routes must report the same counters, and
    each batch's ``files_rewritten`` is the parquet file count of the
    ``data/v{N}`` dir its commit wrote, in either write mode."""
    import glob
    import os

    from etl_spark.cdc.merge import apply_batch

    cfg = GenConfig(n_events=1500, n_keys=90, hot_frac=0.3, hot_keys=6,
                    seed=13, dup_rate=0.1)
    df = generate_events(spark, cfg).cache()
    hi = df.agg({"lsn": "max"}).collect()[0][0]
    runs = {}
    for observe in (True, False):
        t = SnapshotTable(spark, str(tmp_path / f"lake_obs{observe}"), n_buckets=4)
        runs[observe] = [
            apply_batch(
                spark, t, df.where((df.lsn > lo) & (df.lsn <= lo + 500)),
                batch_id=i + 1, lsn_from=lo, lsn_to=min(lo + 500, hi),
                use_observations=observe, write_mode=write_mode,
            ).to_dict()
            for i, lo in enumerate(range(0, hi, 500))
        ]
    df.unpersist()
    # manifest_bytes counts a manifest that embeds wall-clock timings
    counters = [k for k, v in runs[True][0].items()
                if isinstance(v, int) and k != "manifest_bytes"]
    assert sum(m["duplicate_deliveries"] for m in runs[True]) > 0
    assert sum(m["deleted"] for m in runs[True]) > 0
    for on, off in zip(runs[True], runs[False]):
        assert {k: on[k] for k in counters} == {k: off[k] for k in counters}
    for v, m in enumerate(runs[True], start=1):
        written = glob.glob(os.path.join(
            str(tmp_path / "lake_obsTrue"), "data", f"v{v}", "*", "*.parquet"))
        assert m["files_rewritten"] == len(written) > 0, (v, m)


def test_replay_calls_merge_functions_at_call_time(spark, small_log, tmp_path,
                                                   monkeypatch):
    """replay resolves merge.prepare_batch / merge.apply_prepared when it
    runs, so a wrapper installed on the merge module (the benchmark's
    per-layer tracer) sees every batch instead of silently reading 0."""
    from etl_spark.cdc import merge

    calls = {"prepare_batch": 0, "apply_prepared": 0}

    def spy(name):
        orig = getattr(merge, name)

        def wrapped(*a, **kw):
            calls[name] += 1
            return orig(*a, **kw)

        return wrapped

    for name in calls:
        monkeypatch.setattr(merge, name, spy(name))
    _, df, state, dyn = small_log
    table = SnapshotTable(spark, str(tmp_path / "lake_spy"), n_buckets=4)
    metrics = replay(spark, df, table, batch_size=2000)
    assert calls == {"prepare_batch": len(metrics), "apply_prepared": len(metrics)}
    assert_table_matches_oracle(table.read().collect(), state, dyn)
