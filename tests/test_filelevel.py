"""File-level copy-on-write (VERDICT r3 next-round #1).

The manifest carries per-FILE entries with conservative (repo, path)
key-range stats (lake.scan_written_footers); a CoW merge rewrites only
the files whose range can contain a batch key and carries the rest by
reference (lake.read_for_merge). Pinned here:

- a sparse-update batch over an M-file bucket rewrites < M files and
  carries the others BY REFERENCE (the refs survive bit-identical in the
  new manifest) — the write-amplification property;
- written bytes shrink accordingly (metrics.bytes_written);
- the table state stays exactly sequential-replay-correct through
  file-level commits, including deletes and out-of-range inserts;
- the changelog classifies correctly across file-level commits (carried
  cold files emit nothing);
- the audit invariants hold on a file-level table.
"""

import os

from pyspark.sql import functions as F

from etl_spark.cdc.audit import audit_table
from etl_spark.cdc.lake import SnapshotTable
from etl_spark.cdc.maintain import bucket_file_stats, compact
from etl_spark.cdc.runner import replay

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


def test_sparse_update_rewrites_few_files(spark, tmp_path):
    n = 800
    base = _events(
        spark,
        [
            (i + 1, "I", "r", f"p{i:03d}", f"c{i}", "py", f"body {i}",
             "2024-01-01 00:00:00", None, None)
            for i in range(n)
        ],
    )
    t = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=1)
    replay(spark, base, t, batch_size=n)
    # lay out the bucket as ~8 key-contiguous files with range stats
    compact(spark, t, target_file_rows=100, max_files_per_bucket=0)
    entry0 = t.manifest()["files"]["0"]
    assert isinstance(entry0, dict) and not entry0["deltas"]
    refs0 = entry0["base"]
    m_files = len(refs0)
    assert m_files >= 6, refs0
    assert all(r[2] is not None for r in refs0), "refs carry key bounds"
    total_bytes = sum(
        os.path.getsize(os.path.join(t.root, r[0])) for r in refs0
    )

    # sparse batch: 2 updates + 1 delete inside ONE file's key range,
    # plus an insert lexicographically beyond every file's hi bound
    sparse = _events(
        spark,
        [
            (n + 1, "U", "r", "p010", "cx", "py", "body 10 v2",
             "2024-01-02 00:00:00", None, None),
            (n + 2, "U", "r", "p011", "cy", "py", "body 11 v2",
             "2024-01-02 00:00:00", None, None),
            (n + 3, "D", "r", "p012", None, None, None,
             "2024-01-02 00:00:00", None, None),
            (n + 4, "I", "r", "q999", "cz", "py", "fresh",
             "2024-01-02 00:00:00", None, None),
        ],
    )
    ms = replay(spark, sparse, t, batch_size=10)
    assert len(ms) == 1
    m = ms[0]
    # the write-amplification pin: M-file bucket, sparse batch -> at
    # most the one range-hit file (plus the new upsert file) rewritten,
    # everything else carried by reference
    assert m.files_carried >= m_files - 1, m.to_dict()
    assert m.files_rewritten <= 3, m.to_dict()
    assert m.rows_carried_ref >= (m_files - 1) * 100 - 100, m.to_dict()
    assert 0 < m.bytes_written < total_bytes / 2, m.to_dict()

    # carried refs survive bit-identical in the new manifest
    entry1 = t.manifest()["files"]["0"]
    carried = [r for r in entry1["base"] if r in refs0]
    assert len(carried) == m.files_carried
    rewritten = [r for r in entry1["base"] if r not in refs0]
    assert len(rewritten) == m.files_rewritten

    # state is sequential-replay-exact
    want = {("r", f"p{i:03d}"): (f"body {i}", i + 1) for i in range(n)}
    want[("r", "p010")] = ("body 10 v2", n + 1)
    want[("r", "p011")] = ("body 11 v2", n + 2)
    del want[("r", "p012")]
    want[("r", "q999")] = ("fresh", n + 4)
    assert _state(t) == want

    res = audit_table(spark, t)
    assert res["ok"], res


def test_filelevel_changelog_and_second_merge(spark, tmp_path):
    n = 400
    base = _events(
        spark,
        [
            (i + 1, "I", "r", f"p{i:03d}", f"c{i}", "py", f"body {i}",
             "2024-01-01 00:00:00", None, None)
            for i in range(n)
        ],
    )
    t = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=1)
    replay(spark, base, t, batch_size=n)
    compact(spark, t, target_file_rows=100, max_files_per_bucket=0)
    v_compact = t.version()

    s1 = _events(
        spark,
        [(n + 1, "U", "r", "p005", "cx", "py", "v2",
          "2024-01-02 00:00:00", None, None)],
    )
    replay(spark, s1, t, batch_size=10)
    s2 = _events(
        spark,
        [(n + 2, "U", "r", "p305", "cy", "py", "v2",
          "2024-01-03 00:00:00", None, None),
         (n + 3, "D", "r", "p005", None, None, None,
          "2024-01-03 00:00:00", None, None)],
    )
    ms2 = replay(spark, s2, t, batch_size=10)
    # second merge still prunes: the p305 file and the (rewritten) p005
    # file are hit; the two untouched 100-row files stay carried
    assert ms2[0].files_carried >= 2, ms2[0].to_dict()

    from etl_spark.cdc.changelog import read_changelog

    feed = {
        (r["path"], r["_commit_version"]): r["_change_type"]
        for r in read_changelog(t, from_version=v_compact).collect()
    }
    assert feed == {
        ("p005", v_compact + 1): "update",
        ("p305", v_compact + 2): "update",
        ("p005", v_compact + 2): "delete",
    }, feed

    # a full compact folds the fragmented bucket back to one file
    compact(spark, t)
    assert bucket_file_stats(t) == {0: 1}
    res = audit_table(spark, t)
    assert res["ok"], res


def test_membership_probe_carries_insert_fanout(spark, tmp_path):
    """A pure-INSERT batch whose new keys land INSIDE existing files'
    (repo,path) ranges range-hits those files but matches no row in
    them — the key-membership stage exonerates the files (carried by
    reference; inserts land in the commit's new file), where a
    range-only probe would rewrite every range-hit file.
    State stays sequential-replay-exact and the audit holds."""
    n = 800
    base = _events(
        spark,
        [
            # even-numbered paths only: odd paths are in-range gaps for
            # the insert batch to land in
            (i + 1, "I", "r", f"p{2 * i:04d}", f"c{i}", "py", f"body {i}",
             "2024-01-01 00:00:00", None, None)
            for i in range(n)
        ],
    )
    t = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=1)
    replay(spark, base, t, batch_size=n)
    compact(spark, t, target_file_rows=100, max_files_per_bucket=0)
    refs0 = t.manifest()["files"]["0"]["base"]
    m_files = len(refs0)
    assert m_files >= 6

    # 4 inserts at odd paths spread across the table: each is a random
    # dart inside some file's range, none matches an existing row
    ins = _events(
        spark,
        [
            (n + 100 + j, "I", "r", f"p{k:04d}", "cz", "py", "fresh",
             "2024-01-02 00:00:00", None, None)
            for j, k in enumerate((11, 411, 811, 1211))
        ],
    )

    ms = replay(spark, ins, t, batch_size=10)
    m = ms[0]
    # every pre-existing file exonerated: carried, not rewritten
    assert m.files_carried == m_files, m.to_dict()
    assert m.rows_out == 4, m.to_dict()

    want = {("r", f"p{2 * i:04d}"): (f"body {i}", i + 1) for i in range(n)}
    for j, k in enumerate((11, 411, 811, 1211)):
        want[("r", f"p{k:04d}")] = ("fresh", n + 100 + j)
    assert _state(t) == want

    # a follow-up UPDATE batch under the membership probe still rewrites
    # the file that really holds the key (and only that one)
    upd = _events(
        spark,
        [(n + 200, "U", "r", "p0020", "cu", "py", "v2",
          "2024-01-03 00:00:00", None, None)],
    )
    ms2 = replay(spark, upd, t, batch_size=10)
    assert ms2[0].files_rewritten <= 2, ms2[0].to_dict()
    assert _state(t)[("r", "p0020")] == ("v2", n + 200)

    res = audit_table(spark, t)
    assert res["ok"], res


def _insert_fanout_table(spark, root):
    """800 even-path rows compacted into >=6 key-contiguous bloomed
    files, plus a 4-dart odd-path insert batch (in-range, row-less)."""
    n = 800
    base = _events(
        spark,
        [
            (i + 1, "I", "r", f"p{2 * i:04d}", f"c{i}", "py", f"body {i}",
             "2024-01-01 00:00:00", None, None)
            for i in range(n)
        ],
    )
    t = SnapshotTable(spark, str(root), n_buckets=1)
    replay(spark, base, t, batch_size=n)
    compact(spark, t, target_file_rows=100, max_files_per_bucket=0)
    ins = _events(
        spark,
        [
            (n + 100 + j, "I", "r", f"p{k:04d}", "cz", "py", "fresh",
             "2024-01-02 00:00:00", None, None)
            for j, k in enumerate((11, 411, 811, 1211))
        ],
    )
    want = {("r", f"p{2 * i:04d}"): (f"body {i}", i + 1) for i in range(n)}
    for j, k in enumerate((11, 411, 811, 1211)):
        want[("r", f"p{k:04d}")] = ("fresh", n + 100 + j)
    return t, ins, want


def test_bloom_false_positive_only_costs_a_rewrite(spark, tmp_path,
                                                   monkeypatch):
    """The carry decision is FALSE-POSITIVE-TOLERANT by construction: a
    bloom that wrongly claims membership (simulated here as all-ones
    filters on every ref) only demotes carries to rewrites — the state
    stays sequential-replay-exact, nothing is lost. The dangerous
    direction (a false NEGATIVE carrying a file that holds a batch key)
    is impossible: blooms have no false negatives and a missing bloom
    fails closed (test below)."""
    import etl_spark.cdc.lake as lake_mod

    t, ins, want = _insert_fanout_table(spark, tmp_path / "lake")
    refs0 = t.manifest()["files"]["0"]["base"]
    m_files = len(refs0)
    monkeypatch.setattr(
        lake_mod, "_bloom_words",
        lambda ref: (1024, [-1] * (1024 // 64)),  # every probe bit set
    )
    ms = replay(spark, ins, t, batch_size=10)
    # all-range-hit files look like members now -> rewritten, not carried
    assert ms[0].files_carried < m_files, ms[0].to_dict()
    assert _state(t) == want
    res = audit_table(spark, t)
    assert res["ok"], res


def test_missing_bloom_fails_closed(spark, tmp_path, monkeypatch):
    """A ref with no decodable bloom counts as a HIT (fail closed): the
    probe degrades to range-only pruning, never to a wrong carry. With
    every bloom stripped, the 4 in-range darts force their range-hit
    files to rewrite — strictly less carry than the bloomed run — and
    the state stays exact."""
    import etl_spark.cdc.lake as lake_mod

    t, ins, want = _insert_fanout_table(spark, tmp_path / "lake")
    refs0 = t.manifest()["files"]["0"]["base"]
    m_files = len(refs0)
    assert all(len(r) >= 7 for r in refs0), "compact stamped blooms"
    monkeypatch.setattr(lake_mod, "_bloom_words", lambda ref: None)
    ms = replay(spark, ins, t, batch_size=10)
    # darts hit >=1 distinct files' ranges; those rewrite (no carry)
    assert 0 < ms[0].files_carried < m_files, ms[0].to_dict()
    assert _state(t) == want
    res = audit_table(spark, t)
    assert res["ok"], res


def test_bloom_build_skips_buckets_with_no_bloomable_ref(spark, tmp_path,
                                                        monkeypatch):
    """A bucket whose every ref is over BLOOM_MAX_ROWS gets no bloom, so
    its dir must not be scanned by the build pass either; the other
    bucket's refs still get theirs."""
    from pyspark.sql.readwriter import DataFrameReader

    import etl_spark.cdc.lake as lake_mod

    out = str(tmp_path / "data" / "v1")
    (spark.range(60)
     .select(F.lit("r").alias("repo"),
             F.format_string("p%03d", "id").alias("path"),
             F.when(F.col("id") < 5, 0).otherwise(1).alias("_bucket"))
     .coalesce(1)
     .write.partitionBy("_bucket").parquet(out))
    harvest = lake_mod.scan_written_footers(str(tmp_path), out)
    assert {b: sum(r[1] for r in v["files"]) for b, v in harvest.items()} == {
        "0": 5, "1": 55}
    monkeypatch.setattr(lake_mod, "BLOOM_MAX_ROWS", 10)
    scanned: list = []
    real_parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        scanned.extend(paths)
        return real_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    lake_mod.build_file_blooms(spark, str(tmp_path), harvest)
    assert scanned == [os.path.join(str(tmp_path), harvest["0"]["dir"])]
    assert all(len(r) == 7 for r in harvest["0"]["files"])
    assert all(len(r) == 6 for r in harvest["1"]["files"])


def test_bloom_pass_resolved_at_call_time(spark, tmp_path, monkeypatch):
    """Commits call lake.build_file_blooms through the lake module when
    they run, so a wrapper installed there (the benchmark's per-layer
    tracer) sees the bloom pass of a compaction and of a CoW merge into
    a multi-file bucket instead of silently reading 0."""
    import etl_spark.cdc.lake as lake_mod

    seen: list = []
    real = lake_mod.build_file_blooms

    def spy(spark_, root, harvest, eligible=None):
        seen.append(sorted(eligible or ()))
        return real(spark_, root, harvest, eligible=eligible)

    monkeypatch.setattr(lake_mod, "build_file_blooms", spy)
    n = 200
    t = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=1)
    replay(spark, _events(spark, [
        (i + 1, "I", "r", f"p{i:03d}", f"c{i}", "py", f"body {i}",
         "2024-01-01 00:00:00", None, None)
        for i in range(n)
    ]), t, batch_size=n)
    compact(spark, t, target_file_rows=50, max_files_per_bucket=0)
    assert seen[-1] == ["0"], seen
    replay(spark, _events(spark, [
        (n + 1, "U", "r", "p010", "cx", "py", "body 10 v2",
         "2024-01-02 00:00:00", None, None),
    ]), t, batch_size=10)
    assert len(seen) == 3 and seen[-1] == ["0"], seen
    assert t.manifest()["metrics"]["files_carried"] > 0
    assert all(len(r) == 7 for r in t.manifest()["files"]["0"]["base"])
