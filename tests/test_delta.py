"""Merge-on-read delta write mode (deferred-compaction CoW).

Invariants:
- final state after a delta-mode replay is IDENTICAL to the CoW replay
  of the same log, at every batch size, with and without interleaved
  compaction (equivalence is the mode's whole contract);
- deletes materialize as tombstones: gone from reads, dropped from disk
  by compaction;
- resume/idempotency semantics are unchanged (re-replay is a no-op);
- time travel works across delta commits; expire_snapshots keeps every
  dir any kept manifest's CHAIN references;
- per-batch write cost does not grow with accumulated table size
  (rows_out == winners each batch — the no-carried-rewrite property);
- policies (coalesce / track_seen) produce CoW-identical results;
- the audit passes on chained tables and still catches real duplicates.
"""

import os

import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.audit import audit_table
from etl_spark.cdc.gen import GenConfig, generate_events
from etl_spark.cdc.lake import SnapshotTable
from etl_spark.cdc.maintain import chained_buckets, compact
from etl_spark.cdc.policies import MergePolicies
from etl_spark.cdc.runner import replay


@pytest.fixture(scope="module")
def log(spark):
    cfg = GenConfig(n_events=4000, n_keys=180, hot_frac=0.3, hot_keys=12, seed=31)
    df = generate_events(spark, cfg).cache()
    yield df
    df.unpersist()


def _state(table, version=None):
    return {
        (r["repo"], r["path"]): (r["content_sha256"], r["_last_lsn"])
        for r in table.read(version=version).collect()
    }


@pytest.fixture(scope="module")
def cow(spark, log, tmp_path_factory):
    t = SnapshotTable(
        spark, str(tmp_path_factory.mktemp("cow") / "lake"), n_buckets=8
    )
    replay(spark, log, t, batch_size=900)
    return t


@pytest.mark.parametrize("batch_size", [900, 4000])
def test_delta_replay_matches_cow(spark, log, cow, tmp_path, batch_size):
    t = SnapshotTable(spark, str(tmp_path / "d"), n_buckets=8)
    metrics = replay(spark, log, t, batch_size=batch_size, write_mode="delta")
    assert _state(t) == _state(cow)
    # chains exist (this really took the delta path), and every batch's
    # write was winners-only — cost never grew with accumulated state
    assert chained_buckets(t)
    for m in metrics:
        assert m.rows_out == m.winners, m.to_dict()
        assert m.winners == m.inserted + m.updated + m.deleted + m.delete_noop
    # resume is still a no-op
    assert replay(spark, log, t, batch_size=batch_size, write_mode="delta") == []
    res = audit_table(spark, t)
    assert res["ok"], res


def test_delta_with_interleaved_compaction(spark, log, cow, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "dc"), n_buckets=8)
    replay(spark, log, t, batch_size=700, write_mode="delta", compact_every=2)
    # the final fold leaves NO chains: reads are back on the plain-scan
    # fast path and tombstones are off disk
    assert chained_buckets(t) == []
    assert _state(t) == _state(cow)
    # compaction commits file-level entries: every base ref is a real
    # parquet file with key-range stats
    for e in t.manifest()["files"].values():
        assert isinstance(e, dict) and not e["deltas"], e
        for ref in e["base"]:
            assert ref[0].endswith(".parquet") and ref[2] is not None, ref
            assert os.path.isfile(os.path.join(t.root, ref[0]))
    res = audit_table(spark, t)
    assert res["ok"], res


def test_delta_deletes_tombstone_then_compact_drops(spark, tmp_path):
    rows = [
        (1, "I", "r1", "a", "c1", "py", "A1", "2024-01-01 00:00:00", None, None),
        (2, "I", "r1", "b", "c2", "py", "B1", "2024-01-02 00:00:00", None, None),
        (3, "D", "r1", "a", None, None, None, "2024-01-03 00:00:00", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, ts string, extra map<string,string>, "
        "schema_change struct<kind:string,column:string,new_name:string,new_type:string>",
    ).withColumn("ts", F.to_timestamp("ts"))
    t = SnapshotTable(spark, str(tmp_path / "dd"), n_buckets=2)
    replay(spark, df, t, batch_size=2, write_mode="delta")
    assert {r["path"] for r in t.read().collect()} == {"b"}
    # the tombstone row is physically present in the chain pre-compaction
    pre = sum(
        1
        for b, e in t.manifest()["files"].items()
        if not isinstance(e, str)
    )
    assert pre > 0
    compact(spark, t)
    assert {r["path"] for r in t.read().collect()} == {"b"}
    # key a's tombstone is gone from disk: the raw on-disk row count of
    # the live base refs equals the single live row
    entries = list(t.manifest()["files"].values())
    assert all(isinstance(e, dict) and not e["deltas"] for e in entries)
    paths = [os.path.join(t.root, r[0]) for e in entries for r in e["base"]]
    assert spark.read.parquet(*paths).count() == 1


def test_delta_time_travel_and_expire(spark, log, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "dt"), n_buckets=8)
    replay(spark, log, t, batch_size=1000, write_mode="delta")
    v = t.version()
    assert v >= 3
    # each delta version is a readable snapshot; lsn watermark grows
    hi = [
        max(r["_last_lsn"] for r in t.read(version=k).collect())
        for k in range(1, v + 1)
    ]
    assert hi == sorted(hi)
    state_v2 = _state(t, version=2)
    # retention: keep_last must preserve every dir the kept manifests'
    # CHAINS reference — the latest chain spans all delta version dirs
    t.expire_snapshots(keep_last=1)
    assert _state(t)  # still readable
    res = audit_table(spark, t)
    assert res["ok"], res
    # v2's manifest is expired even though its data dirs survive in the
    # latest chain
    from etl_spark.cdc.lake import SnapshotExpiredError

    with pytest.raises(SnapshotExpiredError):
        t.read(version=2)
    del state_v2


def test_delta_policies_match_cow(spark, tmp_path):
    rows = [
        (1, "I", "r1", "a", "c1", "py", "A1", "2024-01-01 00:00:00", None, None),
        (2, "U", "r1", "a", "c2", "py", None, "2024-01-02 00:00:00", None, None),
        (3, "I", "r1", "b", "c3", "py", "B1", "2024-01-03 00:00:00", None, None),
        (4, "D", "r1", "a", None, None, None, "2024-01-04 00:00:00", None, None),
        (5, "I", "r1", "a", "c5", "py", None, "2024-01-05 00:00:00", None, None),
        (6, "U", "r1", "b", "c6", "py", "B2", "2024-01-06 00:00:00", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, ts string, extra map<string,string>, "
        "schema_change struct<kind:string,column:string,new_name:string,new_type:string>",
    ).withColumn("ts", F.to_timestamp("ts"))
    pol = MergePolicies(coalesce_cols=("content",), track_seen=True)

    def run(mode, bs):
        t = SnapshotTable(spark, str(tmp_path / f"{mode}{bs}"), n_buckets=2)
        replay(spark, df, t, batch_size=bs, write_mode=mode, policies=pol)
        return {
            (r["repo"], r["path"]): (
                r["content"], r["content_sha256"],
                r["first_seen"], r["last_seen"],
            )
            for r in t.read().collect()
        }

    # sequential (batch-size-1) application is the ground truth; every
    # (mode, batch size) must reproduce it exactly — including the
    # delete-then-reinsert of key a, whose first_seen restarts at lsn 5
    # (the delete-barrier refinement in merge._apply_policies)
    want = run("cow", 1)
    assert want[("r1", "a")][2:] == tuple(
        __import__("datetime").datetime(2024, 1, 5) for _ in range(2)
    )
    for mode in ("cow", "delta"):
        for bs in (2, 3, 6):
            assert run(mode, bs) == want, (mode, bs)


def test_delta_schema_add_and_rewrite_fallback(spark, tmp_path):
    rows = [
        (1, "I", "r1", "a", "c1", "py", "A1", "2024-01-01 00:00:00", None, None),
        (2, "S", None, None, None, None, None, "2024-01-02 00:00:00", None,
         ("add", "stars", None, "int")),
        (3, "I", "r1", "b", "c3", "py", "B1", "2024-01-03 00:00:00",
         {"stars": "7"}, None),
        (4, "S", None, None, None, None, None, "2024-01-04 00:00:00", None,
         ("widen", "stars", None, "bigint")),
        (5, "I", "r1", "c", "c5", "py", "C1", "2024-01-05 00:00:00",
         {"stars": "9000000000"}, None),
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, ts string, extra map<string,string>, "
        "schema_change struct<kind:string,column:string,new_name:string,new_type:string>",
    ).withColumn("ts", F.to_timestamp("ts"))
    t = SnapshotTable(spark, str(tmp_path / "ds"), n_buckets=2)
    replay(spark, df, t, batch_size=1, write_mode="delta")
    got = {r["path"]: r["stars"] for r in t.read().collect()}
    assert got == {"a": None, "b": 7, "c": 9000000000}
    # the widen forced ONE CoW full rewrite; that commit collapsed every
    # chain, later deltas re-chain
    res = audit_table(spark, t)
    assert res["ok"], res


def test_audit_catches_ambiguous_chain_winner(spark, tmp_path):
    """Two chain rows of one key sharing a _last_lsn = ambiguous winner;
    the audit must flag it (it cannot happen through the write path)."""
    t = SnapshotTable(spark, str(tmp_path / "bad"), n_buckets=2)
    row = [("r1", "a", "c1", "py", "X", "deadbeef", 7)]
    sch = ("repo string, path string, commit string, lang string, "
           "content string, content_sha256 string, _last_lsn long")
    for v in (1, 2):
        d = t.new_data_dir(v)
        (spark.createDataFrame(row, sch)
         .withColumn("_bucket", F.lit(0))
         .write.mode("overwrite").partitionBy("_bucket").parquet(d))
        if v == 1:
            t.commit(v, d, [0], 7, [], {})
        else:
            t.commit_delta(v, d, 7, [], {})
    res = audit_table(spark, t)
    assert not res["checks"]["unique_keys"]["ok"], res


def _feed_set(feed):
    return {
        (r["repo"], r["path"], r["_commit_version"], r["_change_type"],
         r["content_sha256"], r["_last_lsn"])
        for r in feed.collect()
    }


def test_delta_changelog_matches_cow(spark, log, cow, tmp_path):
    """The change feed read through UNcompacted delta chains is
    commit-for-commit identical to the CoW feed of the same replay —
    including delete pre-images reconstructed from the chain prefix."""
    from etl_spark.cdc.changelog import read_changelog

    t = SnapshotTable(spark, str(tmp_path / "dcf"), n_buckets=8)
    replay(spark, log, t, batch_size=900, write_mode="delta")
    assert chained_buckets(t)  # really reading through chains
    want = _feed_set(read_changelog(cow, 0))
    assert _feed_set(read_changelog(t, 0)) == want
    # sub-intervals splice: prefix feed + suffix feed = full feed
    mid = t.version() // 2
    assert (
        _feed_set(read_changelog(t, 0, mid)) | _feed_set(read_changelog(t, mid))
    ) == want


def test_delta_born_buckets_match_cow(spark, tmp_path):
    """A delta replay into an EMPTY table gives buckets with no base: the
    first delta dir is the chain head (it may hold tombstones — here a
    delete of a key that never existed). State, change feed and the
    post-compaction state equal the CoW replay of the same log."""
    from etl_spark.cdc.changelog import read_changelog

    rows = [
        (1, "I", "r1", "a", "c1", "py", "A1", "2024-01-01 00:00:00", None, None),
        (2, "D", "r1", "ghost", None, None, None, "2024-01-01 00:00:00", None, None),
        (3, "I", "r1", "b", "c3", "py", "B1", "2024-01-02 00:00:00", None, None),
        (4, "U", "r1", "a", "c4", "py", "A2", "2024-01-02 00:00:00", None, None),
        (5, "I", "r2", "c", "c5", "py", "C1", "2024-01-03 00:00:00", None, None),
        (6, "D", "r1", "b", None, None, None, "2024-01-03 00:00:00", None, None),
        (7, "D", "r9", "never", None, None, None, "2024-01-04 00:00:00", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, ts string, extra map<string,string>, "
        "schema_change struct<kind:string,column:string,new_name:string,new_type:string>",
    ).withColumn("ts", F.to_timestamp("ts"))
    cow_t = SnapshotTable(spark, str(tmp_path / "cow"), n_buckets=2)
    replay(spark, df, cow_t, batch_size=2)
    t = SnapshotTable(spark, str(tmp_path / "born"), n_buckets=2)
    replay(spark, df, t, batch_size=2, write_mode="delta")
    entries = list(t.manifest()["files"].values())
    assert entries and all(e["base"] == [] and e["deltas"] for e in entries)
    assert _state(t) == _state(cow_t)
    assert _feed_set(read_changelog(t, 0)) == _feed_set(read_changelog(cow_t, 0))
    compact(spark, t)
    assert chained_buckets(t) == []
    assert _state(t) == _state(cow_t)
    assert audit_table(spark, t)["ok"]


def test_delta_changelog_delete_reinsert_and_compaction(spark, tmp_path):
    """Tombstone winners classify as absence: delete emits the chain
    prefix's pre-image, re-insert after a tombstone is an insert (not an
    update), and a compaction commit emits nothing."""
    from etl_spark.cdc.changelog import read_changelog

    rows = [
        (1, "I", "r1", "a", "c1", "py", "A1", "2024-01-01 00:00:00", None, None),
        (2, "U", "r1", "a", "c2", "py", "A2", "2024-01-02 00:00:00", None, None),
        (3, "D", "r1", "a", None, None, None, "2024-01-03 00:00:00", None, None),
        (4, "I", "r1", "a", "c4", "py", "A3", "2024-01-04 00:00:00", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "lsn long, op string, repo string, path string, commit string, "
        "lang string, content string, ts string, extra map<string,string>, "
        "schema_change struct<kind:string,column:string,new_name:string,new_type:string>",
    ).withColumn("ts", F.to_timestamp("ts"))
    t = SnapshotTable(spark, str(tmp_path / "dr"), n_buckets=2)
    replay(spark, df, t, batch_size=1, write_mode="delta")
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["content"], r["_last_lsn"])
        for r in read_changelog(t, 0).collect()
    )
    assert got == [
        (1, "insert", "A1", 1),
        (2, "update", "A2", 2),
        (3, "delete", "A2", 2),  # pre-image from the chain prefix
        (4, "insert", "A3", 4),
    ]
    v = t.version()
    compact(spark, t)
    assert read_changelog(t, v).count() == 0  # maintenance is invisible
    assert sorted(
        (r["_commit_version"], r["_change_type"], r["content"], r["_last_lsn"])
        for r in read_changelog(t, 0).collect()
    ) == got


def test_replicate_sync_from_delta_source(spark, log, tmp_path):
    """A mirror can subscribe to a merge-on-read source: sync folds the
    chain-reconstructed feed and lands row-identical state."""
    from etl_spark.cdc.replicate import sync

    src = SnapshotTable(spark, str(tmp_path / "src"), n_buckets=8)
    replay(spark, log, src, batch_size=1300, write_mode="delta")
    assert chained_buckets(src)
    mirror = SnapshotTable(spark, str(tmp_path / "m"), n_buckets=4)
    sync(spark, src, mirror)
    want = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in src.read().collect()
    }
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in mirror.read().collect()
    }
    assert got == want
    assert sync(spark, src, mirror) == []  # caught up: no-op


def test_chain_length_compaction_policy(spark, log, cow, tmp_path):
    """compact_chain_len=K (the Hudi max-delta-commits analog): any
    chain exceeding K dirs is folded right after the batch that grew it
    (so read amplification is bounded by K+1 at every point), only
    over-threshold buckets are rewritten, and final state matches CoW."""
    from etl_spark.cdc.maintain import chain_lengths

    t = SnapshotTable(spark, str(tmp_path / "dp"), n_buckets=8)
    replay(spark, log, t, batch_size=500, write_mode="delta",
           compact_chain_len=3)
    lens = chain_lengths(t)
    assert max(lens.values()) <= 3, lens
    # the policy really let short chains ride (this is what distinguishes
    # it from compact_every's fold-everything): with 8 batches over 8
    # buckets some bucket must still be chained at the end
    assert chained_buckets(t), lens
    assert _state(t) == _state(cow)
    res = audit_table(spark, t)
    assert res["ok"], res


def test_delete_where_on_chained_table(spark, log, cow, tmp_path):
    """Predicate delete composes with merge-on-read: the probe and
    rewrite read through chains, matched buckets collapse to plain CoW
    dirs (tombstones and superseded rows gone), untouched chains ride,
    and the resulting state equals the same delete on the CoW table."""
    from etl_spark.cdc.delete import delete_where

    t = SnapshotTable(spark, str(tmp_path / "ddw"), n_buckets=8)
    replay(spark, log, t, batch_size=900, write_mode="delta")
    c = SnapshotTable(spark, str(tmp_path / "cdw"), n_buckets=8)
    replay(spark, log, c, batch_size=900)
    # cutoff high enough that some keys' last write falls below it
    # (every key averages ~22 events over lsn 1..4000, so almost no
    # key's WINNER sits in the lower half)
    pred = "_last_lsn <= 3900"
    mt = delete_where(spark, t, pred)
    mc = delete_where(spark, c, pred)
    assert mt["deleted"] == mc["deleted"] > 0
    assert _state(t) == _state(c)
    # every matched bucket was rewritten to a plain dir — its chain (and
    # tombstones) collapsed; only buckets the predicate missed may still
    # be chained
    chained_after = set(chained_buckets(t))
    assert len(chained_after) <= 8 - mt["buckets_touched"]
    res = audit_table(spark, t)
    assert res["ok"], res


def test_merged_read_keeps_base_out_of_shuffle(spark, log, tmp_path):
    """The chained-read plan: uncontested base rows leave via an ANTI
    join against the tail's slim key set (broadcast at runtime by AQE),
    and only TAIL rows feed the winner aggregate — the base never
    shuffles on read."""
    t = SnapshotTable(spark, str(tmp_path / "dpl"), n_buckets=4)
    replay(spark, log, t, batch_size=900, write_mode="delta")
    assert chained_buckets(t)
    df = t.read()
    df.collect()  # let AQE finalize join strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortAggregate" not in plan, plan
