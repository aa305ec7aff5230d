"""Sharded manifests (VERDICT r4 next-round #2 — the Iceberg
manifest-list / manifest-file split).

Per-bucket file refs live in immutable, content-addressed shard files;
the per-version manifest stores one pointer per bucket. Pinned here:

- an untouched bucket's shard is carried as a POINTER across a commit —
  the shard file itself is byte-identical, same path, not rewritten
  (mtime/inode unchanged), so commit metadata cost is O(touched
  buckets' refs), never O(live files);
- rollback is metadata-only at the shard layer too: it writes ZERO new
  shard files (content addressing resurrects the target's shards);
- retention GCs shards referenced by no kept manifest and keeps the
  rest; an expired version's read raises SnapshotExpiredError while the
  live snapshot stays intact;
- per-batch commit-metadata bytes are visible in the metrics
  (manifest_bytes / manifest_shards_carried) and count exactly the
  bytes the commit wrote — the evidence line the benches report;
- every commit kind stores one entry shape, ``{"base": [6- or
  7-element file refs], "deltas": [dirs]}``, behind a shard pointer,
  and any other stored shape raises ValueError naming the bucket.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.delete import delete_where
from etl_spark.cdc.lake import BLOOM_MAX_ROWS, SnapshotTable, SnapshotExpiredError
from etl_spark.cdc.maintain import compact, rebucket
from etl_spark.cdc.runner import replay
from etl_spark.cdc.scd2 import replay_scd2, scd2_table

EVENTS_DDL = (
    "lsn long, op string, repo string, path string, commit string, "
    "lang string, content string, ts string, extra map<string,string>, "
    "schema_change struct<kind:string,column:string,new_name:string,new_type:string>"
)


def _events(spark, rows):
    return spark.createDataFrame(rows, EVENTS_DDL).withColumn(
        "ts", F.to_timestamp("ts")
    )


def _state(t):
    return {
        (r["repo"], r["path"]): (r["content"], r["_last_lsn"])
        for r in t.read().collect()
    }


def _raw_manifest(t, v):
    with open(os.path.join(t.root, "manifests", f"v{v}.json")) as f:
        return json.load(f)


def _shard_files(t):
    d = os.path.join(t.root, "manifests", "shards")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def _mk(spark, root, n=200, n_buckets=4):
    base = _events(
        spark,
        [
            (i + 1, "I", "r", f"p{i:03d}", f"c{i}", "py", f"body {i}",
             "2024-01-01 00:00:00", None, None)
            for i in range(n)
        ],
    )
    t = SnapshotTable(spark, str(root), n_buckets=n_buckets)
    replay(spark, base, t, batch_size=n)
    return t, n


def test_untouched_bucket_shard_carried_byte_identical(spark, tmp_path):
    t, n = _mk(spark, tmp_path / "lake")
    v1 = t.version()
    raw1 = _raw_manifest(t, v1)
    assert all(
        isinstance(e, dict) and "ptr" in e for e in raw1["files"].values()
    ), "committed manifests store shard pointers, not inline ref lists"
    stats_before = {
        b: os.stat(os.path.join(t.root, "manifests", e["ptr"]))
        for b, e in raw1["files"].items()
    }

    # one-key update -> exactly one bucket's entry changes
    ms = replay(
        spark,
        _events(spark, [(n + 1, "U", "r", "p000", "cx", "py", "v2",
                         "2024-01-02 00:00:00", None, None)]),
        t, batch_size=10,
    )
    v2 = t.version()
    raw2 = _raw_manifest(t, v2)
    changed = [
        b for b in raw1["files"]
        if raw2["files"][b]["ptr"] != raw1["files"][b]["ptr"]
    ]
    assert len(changed) == 1, (raw1["files"], raw2["files"])
    for b, e in raw1["files"].items():
        if b in changed:
            continue
        # same pointer, same shard file, untouched on disk
        assert raw2["files"][b]["ptr"] == e["ptr"]
        st = os.stat(os.path.join(t.root, "manifests", e["ptr"]))
        assert (st.st_ino, st.st_mtime_ns) == (
            stats_before[b].st_ino, stats_before[b].st_mtime_ns
        ), f"untouched bucket {b}'s shard was rewritten"
    # the metrics carry the commit-metadata accounting: exactly the
    # bytes of the one new shard plus the top manifest, whose embedded
    # copy of the counter holds the same value
    m = ms[0]
    assert m.manifest_shards_carried >= len(raw1["files"]) - 1, m.to_dict()
    assert 0 < m.manifest_bytes < 64_000, m.to_dict()
    (b,) = changed
    assert m.manifest_bytes == (
        os.path.getsize(os.path.join(t.root, "manifests", f"v{v2}.json"))
        + os.path.getsize(
            os.path.join(t.root, "manifests", raw2["files"][b]["ptr"]))
    ), m.to_dict()
    assert raw2["metrics"]["manifest_bytes_written"] == m.manifest_bytes


def test_rollback_writes_no_new_shards(spark, tmp_path):
    t, n = _mk(spark, tmp_path / "lake")
    v1 = t.version()
    state1 = _state(t)
    replay(
        spark,
        _events(spark, [(n + 1, "U", "r", "p001", "cy", "py", "v2",
                         "2024-01-02 00:00:00", None, None),
                        (n + 2, "D", "r", "p002", None, None, None,
                         "2024-01-02 00:00:00", None, None)]),
        t, batch_size=10,
    )
    assert _state(t) != state1
    shards_before = _shard_files(t)
    t.rollback(v1)
    # content addressing: the restored entries' shards are already on
    # disk — a 100 TB rollback writes one pointer map, zero shards
    assert _shard_files(t) == shards_before
    assert _state(t) == state1


def test_expire_gcs_dead_shards_keeps_live(spark, tmp_path):
    t, n = _mk(spark, tmp_path / "lake")
    for j in range(3):  # three more versions, each rewriting one bucket
        replay(
            spark,
            _events(spark, [(n + 1 + j, "U", "r", f"p00{j}", "cz", "py",
                             f"v{j}", "2024-01-02 00:00:00", None, None)]),
            t, batch_size=10,
        )
    state = _state(t)
    old_versions = list(range(1, t.version()))
    t.expire_snapshots(keep_last=1)
    live = {
        os.path.basename(e["ptr"])
        for e in _raw_manifest(t, t.version())["files"].values()
    }
    assert set(_shard_files(t)) == live, "dead shards GC'd, live kept"
    assert _state(t) == state  # the live snapshot is intact
    try:
        t.manifest_at(old_versions[0])
        raise AssertionError("expired version must raise")
    except SnapshotExpiredError:
        pass


def test_fresh_handle_carries_shards_across_processes(spark, tmp_path):
    """A brand-new SnapshotTable handle (cold shard cache — the
    every-batch situation for a restarted driver) still carries
    untouched buckets by pointer: resolution memoizes entry identity at
    parse time, so the next commit reuses the pointers without
    re-serializing any ref list."""
    t, n = _mk(spark, tmp_path / "lake")
    v1 = t.version()
    raw1 = _raw_manifest(t, v1)

    t2 = SnapshotTable(spark, t.root)  # fresh handle, empty caches
    ms = replay(
        spark,
        _events(spark, [(n + 1, "U", "r", "p000", "cx", "py", "v2",
                         "2024-01-02 00:00:00", None, None)]),
        t2, batch_size=10,
    )
    raw2 = _raw_manifest(t2, t2.version())
    same = [
        b for b in raw1["files"]
        if raw2["files"][b]["ptr"] == raw1["files"][b]["ptr"]
    ]
    assert len(same) == len(raw1["files"]) - 1
    assert ms[0].manifest_shards_carried >= len(same), ms[0].to_dict()


def _rows(t):
    return sorted(tuple(r) for r in t.read().collect())


def _assert_one_entry_shape(t):
    """Every committed manifest stores shard pointers only, and every
    shard is a {"base", "deltas"} dict of 6- or 7-element file refs."""
    mdir = os.path.join(t.root, "manifests")
    for name in os.listdir(mdir):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                files = json.load(f)["files"]
            assert all(list(e) == ["ptr"] for e in files.values()), files
    for name in _shard_files(t):
        with open(os.path.join(mdir, "shards", name)) as f:
            e = json.load(f)
        assert sorted(e) == ["base", "deltas"], e
        assert all(len(r) in (6, 7) for r in e["base"]), e
        assert all(r[0].endswith(".parquet") for r in e["base"]), e
        assert all(isinstance(d, str) for d in e["deltas"]), e


def _later(spark, n, *rows):
    return _events(spark, [
        (n + i + 1, op, "r", path, "cx", "py", f"v{i}",
         "2024-01-02 00:00:00", None, None)
        for i, (op, path) in enumerate(rows)
    ])


def _cow_merge(spark, t, n):
    replay(spark, _later(spark, n, ("U", "p000"), ("D", "p001"),
                         ("I", "p999")), t, batch_size=10)


def _delta(spark, t, n):
    replay(spark, _later(spark, n, ("U", "p000"), ("D", "p001")), t,
           batch_size=10, write_mode="delta")


def _compact(spark, t, n):
    compact(spark, t, max_files_per_bucket=0, target_file_rows=20)


def _delete(spark, t, n):
    delete_where(spark, t, "path < 'p050'")


def _delete_compacted(spark, t, n):
    # DELETE over buckets compacted into several key-rolled files: the
    # rewrite keeps the input splits, so it commits multi-file buckets
    _compact(spark, t, n)
    _delete(spark, t, n)


def _scd2(spark, t, n):
    replay_scd2(spark, _later(spark, n, ("U", "p000"), ("D", "p001")), t,
                batch_size=10)


def _rebucket(spark, t, n):
    rebucket(spark, t, 3)


def _rollback(spark, t, n):
    _cow_merge(spark, t, n)
    t.rollback(1)


def _schema_fast_forward(spark, t, n):
    # a log re-based far above the checkpoint whose only event adds a
    # column: a fast-forward commit, then a metadata-only schema commit
    replay(spark, _events(spark, [
        (n + 1000, "S", None, None, None, None, None, "2024-01-02 00:00:00",
         None, ("add", "stars", None, "int"))]), t, batch_size=10)


@pytest.mark.parametrize("kind", [
    _cow_merge, _delta, _compact, _delete, _delete_compacted, _scd2,
    _rebucket, _rollback, _schema_fast_forward,
], ids=lambda f: f.__name__.lstrip("_"))
def test_every_commit_kind_stores_one_entry_shape(spark, tmp_path, kind):
    """Each commit kind writes only {"base", "deltas"} entries behind
    shard pointers, and a fresh handle (cold shard cache) reads back
    exactly what the writer's handle reads. Every kind follows the one
    bloom rule: a ref a commit wrote carries a key bloom iff its bucket
    commits with two or more refs and the ref has at most
    BLOOM_MAX_ROWS rows."""
    if kind is _scd2:
        t = scd2_table(spark, str(tmp_path / "lake"), n_buckets=4)
        n = 200
        replay_scd2(spark, _later(spark, 0, *[("I", f"p{i:03d}")
                                              for i in range(n)]),
                    t, batch_size=n)
    else:
        t, n = _mk(spark, tmp_path / "lake")
    v0 = t.version()
    kind(spark, t, n)
    assert t.version() > v0
    _assert_one_entry_shape(t)
    for v in range(v0 + 1, t.version() + 1):
        for b, e in t.manifest_at(v)["files"].items():
            for r in e["base"]:
                if r[0].startswith(f"data/v{v}/"):
                    want = len(e["base"]) >= 2 and r[1] <= BLOOM_MAX_ROWS
                    assert (len(r) == 7) == want, (v, b, len(e["base"]), r[:2])
    fresh = SnapshotTable(spark, t.root, base_fields=t.base_fields)
    assert _rows(fresh) == _rows(t)


def test_non_canonical_entry_raises_naming_the_bucket(spark, tmp_path):
    """A bucket stored in a pre-single-shape form — a bare dir string,
    either inside a shard or inline in the top manifest — raises a
    ValueError naming the bucket instead of being misread."""
    t, _ = _mk(spark, tmp_path / "lake")
    v = t.version()
    mp = os.path.join(t.root, "manifests", f"v{v}.json")
    raw = _raw_manifest(t, v)
    bucket = sorted(raw["files"])[0]
    old_form = f"data/v{v}/_bucket={bucket}"
    with open(os.path.join(t.root, "manifests", "shards", "old.json"), "w") as f:
        json.dump(old_form, f)
    raw["files"][bucket] = {"ptr": "shards/old.json"}
    with open(mp, "w") as f:
        json.dump(raw, f)
    with pytest.raises(ValueError, match=f"bucket {bucket}: shard"):
        SnapshotTable(spark, t.root).read()
    raw["files"][bucket] = old_form
    with open(mp, "w") as f:
        json.dump(raw, f)
    with pytest.raises(ValueError, match=f"bucket {bucket}: manifest stores"):
        SnapshotTable(spark, t.root).read()


def test_shard_memo_bounded_by_live_buckets(spark, tmp_path):
    """A long-lived driver's shard memo stays O(live buckets): each
    publish keeps only the entries it just published, and untouched
    buckets still carry by pointer."""
    t = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=4)
    for v in range(1, 31):
        b = v % 4
        ref = [f"data/v{v}/_bucket={b}/part-0.parquet", 1, "r", "p", "r", "p"]
        t.commit(v, None, [b], v, [], {}, carried_refs={str(b): [ref]})
        live = len(_raw_manifest(t, v)["files"])
        assert len(t._shard_cache) <= live
        assert len(t._entry_ptr) <= live
        if v >= 4:
            assert t.manifest()["metrics"]["manifest_shards_carried"] == live - 1
    assert len(_shard_files(t)) == 30


def test_expire_keeps_in_flight_writer_version(spark, tmp_path):
    """Versions above the current one belong to a writer whose commit is
    in flight: its data dir and a manifest it published after expire
    read the current version must both survive."""
    t, _ = _mk(spark, tmp_path / "lake")
    nxt = t.version() + 1
    inflight = os.path.join(t.root, "data", f"v{nxt}", "_bucket=0", "x.parquet")
    os.makedirs(os.path.dirname(inflight))
    with open(inflight, "wb") as f:
        f.write(b"PAR1")
    published = os.path.join(t.root, "manifests", f"v{nxt}.json")
    with open(published, "w") as f:
        f.write("{}")
    t.expire_snapshots(keep_last=1)
    assert os.path.exists(inflight)
    assert os.path.exists(published)
