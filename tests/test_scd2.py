"""SCD Type 2 history mode: interval invariants, point-in-time
correctness vs the single-threaded oracle, batch-applied semantics."""

import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.gen import GenConfig, generate_events, oracle_reduce
from etl_spark.cdc.lake import SnapshotTable
from etl_spark.cdc.runner import replay
from etl_spark.cdc.scd2 import apply_scd2_prepared, as_of, current_rows, replay_scd2, scd2_table

BATCH = 700


@pytest.fixture(scope="module")
def hist(spark, tmp_path_factory):
    cfg = GenConfig(n_events=2800, n_keys=120, hot_frac=0.3, hot_keys=8, seed=31)
    df = generate_events(spark, cfg).cache()
    t = scd2_table(spark, str(tmp_path_factory.mktemp("scd2") / "hist"), n_buckets=8)
    metrics = replay_scd2(spark, df, t, batch_size=BATCH)
    yield df, t, metrics
    df.unpersist()


def test_intervals_partition_history(hist):
    """Per key: valid_from strictly increasing; intervals never overlap
    (a gap appears only across a delete+reinsert); at most one current
    row, and it is the newest interval."""
    _, t, metrics = hist
    assert t.version() == len(metrics) == 4
    rows = sorted(
        ((r["repo"], r["path"]), r["valid_from"], r["valid_to"])
        for r in t.read().collect()
    )
    by_key: dict = {}
    for k, vf, vt in rows:
        by_key.setdefault(k, []).append((vf, vt))
    for k, iv in by_key.items():
        currents = [vt for _, vt in iv if vt is None]
        assert len(currents) <= 1, f"{k}: multiple current rows"
        for (vf1, vt1), (vf2, _) in zip(iv, iv[1:]):
            assert vt1 is not None and vf1 < vt1 <= vf2, (
                f"{k}: overlap/disorder ({vf1},{vt1}) -> ({vf2},...)"
            )
        # the only open interval is the last one
        if currents:
            assert iv[-1][1] is None


def test_current_rows_match_merge_oracle(spark, hist):
    df, t, _ = hist
    state, dyn = oracle_reduce(df.collect())
    assert dyn == []
    got = {
        (r["repo"], r["path"]): (r["commit"], r["content_sha256"], r["valid_from"])
        for r in current_rows(t).collect()
    }
    want = {
        k: (v["commit"], v["content_sha256"], v["_last_lsn"]) for k, v in state.items()
    }
    assert got == want


def test_as_of_matches_prefix_oracle(spark, hist):
    """Point-in-time view at a batch boundary == oracle state of the
    log prefix up to that lsn."""
    df, t, _ = hist
    cut = BATCH * 2
    state, _ = oracle_reduce([r for r in df.collect() if r["lsn"] <= cut])
    got = {
        (r["repo"], r["path"]): (r["commit"], r["content_sha256"])
        for r in as_of(t, cut).collect()
    }
    want = {k: (v["commit"], v["content_sha256"]) for k, v in state.items()}
    assert got == want


def test_resume_is_idempotent(spark, hist):
    df, t, _ = hist
    again = replay_scd2(spark, df, t, batch_size=BATCH)
    assert [m.noop for m in again] == []  # no batches re-run: cursor at hi
    assert t.version() == 4


@pytest.mark.parametrize("rejected", ["schema_event", "policies"])
def test_schema_events_rejected(spark, tmp_path, rejected):
    """History rows are immutable, so what would rewrite them fails
    loudly instead of being ignored: schema-change events and active
    column merge policies."""
    from etl_spark.cdc.gen import SchemaEvent
    from etl_spark.cdc.policies import MergePolicies

    schema_events = (
        (SchemaEvent(lsn=300, kind="add", column="stars", new_type="int"),)
        if rejected == "schema_event" else ()
    )
    cfg = GenConfig(n_events=600, n_keys=40, seed=5, schema_events=schema_events)
    df = generate_events(spark, cfg)
    t = scd2_table(spark, str(tmp_path / "hist"), n_buckets=4)
    kw = {"policies": MergePolicies(track_seen=True)} if rejected == "policies" else {}
    with pytest.raises(ValueError, match="schema-change" if not kw else "policies"):
        replay_scd2(spark, df, t, batch_size=600, **kw)
    assert t.version() == 0


def test_arrow_udfs_match_default(spark, tmp_path):
    """SCD2 rows come out of the merge's row projection, so the Arrow
    UDF transforms apply to history rows too, byte-identically."""
    df = generate_events(spark, GenConfig(n_events=600, n_keys=40, seed=9))
    rows = []
    for arrow in (False, True):
        t = scd2_table(spark, str(tmp_path / f"hist_arrow{arrow}"), n_buckets=4)
        replay_scd2(spark, df, t, batch_size=300, use_arrow_udfs=arrow)
        rows.append(sorted(map(tuple, t.read().collect())))
    assert rows[0] == rows[1]


def test_delete_closes_without_reopening(spark, tmp_path):
    from etl_spark.cdc.merge import prepare_batch

    evs = [
        (1, "I", "r1", "a", "c1", "py", "hello", None, None, None),
        (2, "U", "r1", "a", "c2", "py", "world", None, None, None),
        (3, "D", "r1", "a", None, None, None, None, None, None),
        (4, "I", "r1", "b", "c3", "py", "keep", None, None, None),
    ]
    from etl_spark.cdc.schema import EVENT_SCHEMA

    df = spark.createDataFrame(evs, EVENT_SCHEMA)
    t = scd2_table(spark, str(tmp_path / "hist"), n_buckets=2)
    # two batches: (1-2], (2-4] — update closes in-batch winner history
    replay_scd2(spark, df, t, batch_size=2)
    rows = {
        (r["path"], r["valid_from"]): (r["valid_to"], r["content"])
        for r in t.read().collect()
    }
    # batch1 winner for key a is lsn2 (in-batch conflict collapsed);
    # batch2's D closes it at lsn3; key b stays current
    assert rows == {("a", 2): (3, "world"), ("b", 4): (None, "keep")}
