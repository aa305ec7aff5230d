"""Workload definitions: generator configs, batch shapes and set-up.

Every input is derived from the run's ``--seed``; the engine only ever
sees the generated parquet logs. ``scale`` shrinks every size for the
self-test (``selftest.py``) without changing the shape of a workload.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from etl_spark.cdc import maintain, runner
from etl_spark.cdc.gen import GenConfig, generate_events
from etl_spark.cdc.lake import SnapshotTable

# Set-up units per run; ``setup_s`` takes their median. The units also
# warm the JIT and codegen for the timed ingest. More would not fit the
# benchmark's time budget: a unit costs 5-15 s on a 4-core host.
SETUP_REPEATS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_buckets: int
    n_events: int          # events in the timed ingest log
    batch_size: int        # events per replay batch
    # the set-up log's events are part of the final table state (a
    # fixture base) rather than a throwaway warm-up
    setup_is_base: bool = False

    def ingest_batch_size(self, scale: float) -> int:
        return _n(self.batch_size, scale)

    def ingest_config(self, seed: int, scale: float) -> GenConfig:
        raise NotImplementedError

    def setup_log_config(self, seed: int, scale: float) -> GenConfig:
        """Log the set-up replays, warm-up or fixture base, are built from."""
        raise NotImplementedError

    def build_start(self, spark, setup_log: str, root: str,
                    scale: float) -> SnapshotTable:
        """One set-up unit: the table the timed ingest starts from."""
        raise NotImplementedError


def _n(x: int, scale: float) -> int:
    return max(int(x * scale), 1)


@dataclass(frozen=True)
class MicrobatchCow(Workload):
    """Headline generator shape: ~n/8 keys, 30% of events on one hot repo."""

    warm_events: int = 1_000   # per set-up unit

    def ingest_config(self, seed, scale):
        n = _n(self.n_events, scale)
        return GenConfig(n_events=n, n_keys=max(n // 8, 1), n_repos=200,
                         hot_frac=0.3, hot_keys=max(n // 64, 1), seed=seed)

    def setup_log_config(self, seed, scale):
        n = _n(self.warm_events, scale) * SETUP_REPEATS
        return GenConfig(n_events=n, n_keys=max(n // 8, 1), n_repos=200,
                         hot_frac=0.3, hot_keys=max(n // 64, 1),
                         seed=seed + 1)

    def build_start(self, spark, setup_log, root, scale):
        # warm-up: the next CoW batch of the warm-up log into one shared
        # throwaway table, so from the second unit on it also runs the
        # merge-into-existing path (file pruning, bloom build) and the
        # timed ingest starts JIT- and codegen-warm; the timed table
        # itself starts empty
        warm = SnapshotTable(spark, os.path.join(os.path.dirname(root), "warm"),
                             n_buckets=self.n_buckets)
        runner.replay(spark, runner.read_event_log(spark, setup_log), warm,
                      batch_size=_n(self.warm_events, scale), max_batches=1)
        return SnapshotTable(spark, root, n_buckets=self.n_buckets)


@dataclass(frozen=True)
class SparseUpdateCow(Workload):
    """zipf(1.1) insert-only base, compacted into key-contiguous files,
    then pure U/D events confined to the first 0.1% of keys."""

    setup_is_base: bool = True
    base_events: int = 16_000
    files_per_bucket: int = 8

    def setup_log_config(self, seed, scale):
        n = _n(self.base_events, scale)
        return GenConfig(n_events=n, n_keys=n,
                         n_repos=100, zipf_s=1.1, p_insert=1.0,
                         p_update=0.0, max_content_reps=16, seed=seed)

    def ingest_config(self, seed, scale):
        keys = _n(self.base_events, scale)  # the base's keyspace
        return GenConfig(n_events=_n(self.n_events, scale), n_keys=keys,
                         n_repos=100, zipf_s=1.1, p_insert=0.0,
                         p_update=0.8, update_focus_keys=max(keys // 1000, 1),
                         base_lsn=keys, max_content_reps=16, seed=seed)

    def build_start(self, spark, setup_log, root, scale):
        base = SnapshotTable(spark, root, n_buckets=self.n_buckets)
        (bm,) = runner.replay(spark, runner.read_event_log(spark, setup_log),
                              base, batch_size=_n(self.base_events, scale))
        rows = bm.rows_out  # one insert-only batch into an empty table
        maintain.compact(
            spark, base, max_files_per_bucket=0,
            target_file_rows=max(rows // self.n_buckets
                                 // self.files_per_bucket, 1))
        return base


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        MicrobatchCow(
            name="microbatch_cow",
            why="many small CoW batches of the headline log: the per-batch "
                "fixed floor dominates and blooms are built but never used",
            n_buckets=8, n_events=30_000,
            batch_size=10_000,
        ),
        SparseUpdateCow(
            name="sparse_update_cow",
            why="U/D confined to a 0.1% hot set over a compacted zipf base: "
                "the only shape where file pruning and blooms carry files",
            n_buckets=4, n_events=30_000,
            batch_size=10_000,
        ),
    )
}


def generate_logs(spark, wl: Workload, seed: int, scale: float,
                  work: str) -> tuple[str, str]:
    """Materialize (setup log, ingest log) for the seed; untimed. The
    generator's ``spark.range`` partitions are contiguous, sorted lsn
    ranges, so each written file already covers one lsn range in order
    (the layout ``gen.write_events`` gets by range-partitioning) without
    a shuffle."""
    paths = []
    for name, cfg in (("setup_log", wl.setup_log_config(seed, scale)),
                      ("ingest_log", wl.ingest_config(seed, scale))):
        path = os.path.join(work, name)
        generate_events(spark, cfg).write.mode("overwrite").parquet(path)
        paths.append(path)
    return paths[0], paths[1]


def set_up(spark, wl: Workload, setup_log: str, work: str,
           scale: float) -> tuple[list[float], list[SnapshotTable]]:
    """Run the set-up unit SETUP_REPEATS times on fresh directories;
    returns each unit's wall time and the tables it produced."""
    secs, tables = [], []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        tables.append(wl.build_start(spark, setup_log,
                                     os.path.join(work, f"table{i}"), scale))
        secs.append(time.perf_counter() - t0)
    return secs, tables
