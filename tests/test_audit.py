"""Table audit invariants + committed-bucket-count adoption."""

import json
import os

from etl_spark.cdc.audit import audit_table
from etl_spark.cdc.gen import GenConfig, generate_events
from etl_spark.cdc.lake import SnapshotTable
from etl_spark.cdc.runner import replay


def _mk(spark, path, n_buckets=4):
    t = SnapshotTable(spark, str(path), n_buckets=n_buckets)
    replay(spark, generate_events(spark, GenConfig(n_events=1500, n_keys=80, seed=3)),
           t, batch_size=600)
    return t


def test_audit_clean_table_passes(spark, tmp_path):
    t = _mk(spark, tmp_path / "lake")
    res = audit_table(spark, t)
    assert res["ok"], res
    assert res["keys"] == res["rows"]


def test_audit_detects_checkpoint_violation(spark, tmp_path):
    t = _mk(spark, tmp_path / "lake")
    v = t.version()
    mp = os.path.join(t.root, "manifests", f"v{v}.json")
    m = json.load(open(mp))
    m["last_lsn"] -= 10  # data now claims LSNs ahead of the cursor
    json.dump(m, open(mp, "w"))
    res = audit_table(spark, t)
    assert not res["ok"]
    assert not res["checks"]["checkpoint_bound"]["ok"]


def test_audit_detects_non_canonical_manifest_entry(spark, tmp_path):
    t = _mk(spark, tmp_path / "lake")
    v = t.version()
    mp = os.path.join(t.root, "manifests", f"v{v}.json")
    m = json.load(open(mp))
    b = sorted(m["files"])[0]
    m["files"][b] = f"data/v{v}/_bucket={b}"  # pre-single-shape dir form
    json.dump(m, open(mp, "w"))
    res = audit_table(spark, t)
    assert not res["ok"]
    assert list(res["checks"]["manifest_shape"]["bad"]) == [b], res


def test_audit_detects_missing_bucket_dir(spark, tmp_path):
    import shutil

    t = _mk(spark, tmp_path / "lake")
    d = t._bucket_dirs(t.manifest())[0]  # noqa: SLF001
    os.remove(d) if os.path.isfile(d) else shutil.rmtree(d)
    res = audit_table(spark, t)
    assert not res["ok"]
    assert not res["checks"]["bucket_dirs_exist"]["ok"]


def test_open_adopts_committed_bucket_count(spark, tmp_path):
    """Re-opening an existing table with a mismatched n_buckets must NOT
    re-route merges: the committed manifest value wins."""
    t = _mk(spark, tmp_path / "lake", n_buckets=4)
    reopened = SnapshotTable(spark, str(tmp_path / "lake"), n_buckets=32)
    assert reopened.n_buckets == 4
    # a further replay through the reopened handle stays placement-clean
    replay(spark,
           generate_events(spark, GenConfig(n_events=800, n_keys=80, seed=9)),
           reopened, batch_size=800)
    assert audit_table(spark, reopened)["ok"]
