"""Change-data-feed reader: the committed change stream between snapshots.

The Iceberg ``create_changelog_view`` / Delta CDF analog for the CoW
lake table: given two committed versions, emit one row per key whose
state changed, tagged ``insert`` / ``update`` / ``delete`` — so every
downstream (a search index, a cache, another lake table) can consume
the table's changes incrementally instead of re-reading snapshots.
Reference semantics ancestor: the per-run inserted/updated/deleted row
sets the connectors hand-collect to mirror changes onward
(thehive_to_dwh/transform_load.py:196-204 delete+replace,
es_deleting_old_writes/main.py:25-57 retention deletes).

Design — *reconstruct lazily from snapshots, never write a second log*:

- The write path stays untouched (no double-write, no changelog files to
  keep transactionally consistent with data). The manifest chain tells
  us, per bucket, exactly which commits swapped its data dir; only those
  dirs are scanned. Cost scales with the update footprint of the
  interval, exactly like the CoW merge itself — never with table size.
- **One plan for the whole interval, however many commits it spans.**
  Every distinct data FILE on a non-shared diff side anywhere in the
  interval is read by a SINGLE parquet scan; a tiny broadcast map keyed
  on the file path (from ``input_file_name``) tags each row with the
  commit(s) whose diff it participates in and its role there (``o`` =
  outgoing state, ``n`` = incoming state — a file is the new side of
  the commit that published it and the old side of the commit that
  dropped it, so each file is scanned once and serves both). A naive
  reader would instead union one full-outer join per commit — plan
  depth, compile time and scan count all linear in the commit count;
  this shape is constant-depth: scan -> broadcast tag -> slim
  HashAggregate -> join-back. Files CARRIED by reference across a
  plain file-level CoW rewrite are not tagged at all (a plain base
  holds one live row per key partitioned across its files, so a
  carried file can never hold a touched key — _file_tags), and files
  shared by a CHAIN-bearing commit's two sides are tagged once per
  (file, commit-RANGE), so driver-side tag metadata stays
  O(files + transitions), never O(commits × files).
- Classification rides ``_last_lsn``, aggregated per (key, commit) as
  two LONG buffers (HashAggregate-safe — string payloads never enter an
  aggregation buffer, which would force SortAggregate): no old state ->
  insert; no new state -> delete; advanced lsn -> update. A rewrite
  that did not change the row (compaction, rebucket) leaves both sides'
  ``_last_lsn`` identical and emits nothing — maintenance commits are
  changelog-invisible by construction. The payload is then fetched by
  joining the slim verdicts back to the tagged rows on
  (key, commit, winning side).
- **Merge-on-read chains are first-class.** A commit whose bucket entry
  is a delta CHAIN diffs as dir SETS: the untouched chain prefix is
  tagged once with role ``b`` (it is simultaneously the old state and
  part of the new state), the appended delta dir is the ``n`` side, and
  each side's state is the max-``_last_lsn`` winner with the winner's
  ``_tombstone`` flag riding the low bit of the packed long — so a
  tombstoned winner means "absent", making delete-then-reinsert across
  delta commits classify correctly and compaction (chain -> new base,
  same winners) emit nothing. Same plan shape, still one scan; the cost
  is the interval's chained rows × the commits each dir participates in
  (O(chain) per single-version read — the ``replicate.sync`` cadence).
- Output column convention follows Delta CDF: ``_change_type``,
  ``_commit_version``; the row payload is the post-image (pre-image for
  deletes).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lake import TOMBSTONE_COL, SnapshotTable, _chain, _entry_parts
from .schema import KEY_COLS

CHANGE_COLS = ["commit", "lang", "content", "content_sha256", "_last_lsn"]

# matches the manifest-relative data-FILE path inside a task's file URI;
# anchored to the end so a table ROOT that itself contains a
# data/vN/_bucket=K segment can never shadow the real bucket dir
_FILE_RE = r"(data/v\d+/_bucket=\d+/[^/]+)$"


def _file_tags(
    root: str, manifests: dict[int, dict], from_version: int,
    to_version: int,
) -> tuple[list[tuple[str, int, str]], list[tuple[str, int, int]]]:
    """Diff-side tags for the interval, at FILE granularity. Walking the
    manifest chain per bucket, each commit where a bucket's file SET
    changes contributes the outgoing files as the ``o`` side and the
    incoming files as the ``n`` side of that commit's diff. Base refs
    are files already; delta dirs expand to their parquet files (driver
    listing, memoized — committed dirs are immutable), so every tag
    joins the scan on one uniform file key. Returns
    ``(ch_tags, b_ranges)``:

    - ``ch_tags``: ``(file, commit, 'o'|'n')`` for the non-shared sides.
      O(interval files): a file is ``n`` at most once (the commit that
      published it) and ``o`` at most once (the commit that dropped it).
    - ``b_ranges``: ``(file, first_commit, last_commit)`` spans over the
      commits for which the file is SHARED between the two sides of a
      CHAIN-bearing diff (the untouched prefix of a merge-on-read chain
      append, or cold base files carried across a delta commit /
      chain rollback). Consecutive commits compress into one range, so
      the driver-side tag list is O(files + transitions), never the
      O(K × L) a K-commit interval over an L-file chain would cost as
      one tuple per (file, commit).

    Shared files of a PLAIN → PLAIN diff (file-level CoW rewrite where
    neither entry carries delta dirs) emit NO tag at all: a plain base
    holds exactly one live row per key, partitioned across its files,
    so a carried file's key set is disjoint from every non-shared file
    of the same bucket on BOTH sides (and keys hash to exactly one
    bucket, so cross-bucket keys cannot collide either) — no touched
    key of the commit can have a row in a shared file, and the ``b``
    subplan would provably join empty. Only chain-bearing diffs (a
    delta append supersedes keys that LIVE in the shared prefix) need
    ``b`` rows; skipping the rest is what keeps the feed's scan set
    O(changed files) under file-level CoW, where every commit carries
    most of the table by reference."""
    listing: dict[str, list[str]] = {}

    def files_of(entry) -> list[str]:
        out: list[str] = []
        for rel in _chain(entry):
            if rel.endswith(".parquet"):
                out.append(rel)
                continue
            if rel not in listing:
                d = os.path.join(root, rel)
                listing[rel] = [
                    os.path.join(rel, f)
                    for f in sorted(os.listdir(d)) if f.endswith(".parquet")
                ]
            out.extend(listing[rel])
        return out

    def is_plain(entry) -> bool:
        _, heads, tails = _entry_parts(entry)
        return not heads and not tails

    tags: list[tuple[str, int, str]] = []
    open_ranges: dict[str, list[int]] = {}  # file -> [first, last] commit
    b_ranges: list[tuple[str, int, int]] = []
    cur = dict(manifests[from_version]["files"])
    for v in range(from_version + 1, to_version + 1):
        nxt = manifests[v]["files"]
        for b in set(cur) | set(nxt):
            if b in cur and b in nxt and cur[b] == nxt[b]:
                continue
            o_set = set(files_of(cur[b])) if b in cur else set()
            n_set = set(files_of(nxt[b])) if b in nxt else set()
            if o_set == n_set:
                continue
            tags.extend((d, v, "o") for d in sorted(o_set - n_set))
            tags.extend((d, v, "n") for d in sorted(n_set - o_set))
            if (b in cur and not is_plain(cur[b])) or (
                    b in nxt and not is_plain(nxt[b])):
                for d in o_set & n_set:
                    r = open_ranges.get(d)
                    if r is not None and r[1] == v - 1:
                        r[1] = v
                    else:
                        if r is not None:
                            b_ranges.append((d, r[0], r[1]))
                        open_ranges[d] = [v, v]
        cur = dict(nxt)
    b_ranges.extend((d, r[0], r[1]) for d, r in open_ranges.items())
    return tags, sorted(b_ranges)


def read_changelog(
    table: SnapshotTable, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Changes committed after ``from_version`` up to ``to_version``
    (default latest), one diff per intermediate commit so every
    transition is visible (a key inserted then deleted within the range
    yields both rows, like a real CDC feed). Raises
    ``SnapshotExpiredError`` if retention dropped a needed snapshot —
    the consumer must re-bootstrap from a full scan, exactly Iceberg's
    contract for an expired incremental read.
    """
    to_version = table.version() if to_version is None else to_version
    if to_version < from_version:
        raise ValueError(f"to_version {to_version} < from_version {from_version}")
    manifests = {v: table.manifest_at(v) for v in range(from_version, to_version + 1)}
    ch_tags, b_ranges = _file_tags(
        table.root, manifests, from_version, to_version)
    if not ch_tags:
        schema_src = table.read().select(
            *KEY_COLS, *CHANGE_COLS,
            F.lit("").alias("_change_type"), F.lit(0).alias("_commit_version"),
        )
        return schema_src.where(F.lit(False))
    spark = table.spark
    # pruned scans over the interval's files; the tombstone marker exists
    # only in delta files and reads null (= live) from CoW bases —
    # parquet by-name resolution
    wanted = set(KEY_COLS) | set(CHANGE_COLS)
    schema = T.StructType(
        [f for f in table.base_fields if f.name in wanted]
        + [T.StructField(TOMBSTONE_COL, T.BooleanType())]
    )
    fkey = F.regexp_extract(F.input_file_name(), _FILE_RE, 1).alias("_fkey")
    ch_files = sorted({t[0] for t in ch_tags})
    ch_tags_df = spark.createDataFrame(
        ch_tags, "_fkey string, _commit_version int, _side string"
    )
    tagged = (
        spark.read.schema(schema)
        .parquet(*[os.path.join(table.root, d) for d in ch_files])
        .withColumn("_fkey", fkey)
        .join(F.broadcast(ch_tags_df), "_fkey")
    )
    # ``b``-role rows — files SHARED between the two sides of a
    # CHAIN-bearing commit (the untouched prefix of a merge-on-read
    # chain append; base files carried across a delta commit) — matter
    # only for keys some NON-shared file of that commit touched: a key
    # whose rows all live in shared files yields o == n and emits
    # nothing, so computing it is pure waste. The touch set is the slim
    # key set of the commit's o-only and n-only files (for an append:
    # the batch winners in the appended dir; for a rollback: the removed
    # deltas — tiny next to the base either way), from a SECOND scan of
    # the ch files pruned to the two key columns (~1-2% of their bytes —
    # cheaper than reusing the full-payload tagged subtree). Crucially
    # the shared files are scanned ONCE for the whole interval and
    # fanned out BY TOUCHED KEY (an equi-join on the key assigns each
    # row the commit versions that need it, then a broadcast range join
    # on (file, commit-span) keeps only pairs where the file really is
    # shared), never re-scanned or replicated per commit — a K-commit
    # interval over an L-file chain costs O(L + touched) data rows, not
    # O(K × L). The touch set must cover BOTH non-shared sides: keying
    # it off n-files alone drops the prefix rows a chain-SHRINKING
    # commit (rollback) needs for its new side, misclassifying every
    # rolled-back key as a delete. Plain file-level CoW commits have no
    # ``b`` ranges at all (_file_tags) and skip this subplan entirely.
    if b_ranges:
        b_files = sorted({t[0] for t in b_ranges})
        b_ranges_df = spark.createDataFrame(
            b_ranges, "_fkey string, _lo int, _hi int",
        )
        touched_keys = (
            spark.read.schema(
                T.StructType([f for f in schema.fields if f.name in KEY_COLS])
            )
            .parquet(*[os.path.join(table.root, d) for d in ch_files])
            .withColumn("_fkey", fkey)
            .join(F.broadcast(ch_tags_df.select("_fkey", "_commit_version")), "_fkey")
            .select(*KEY_COLS, "_commit_version")
            .distinct()
        )
        b_rows = (
            spark.read.schema(schema)
            .parquet(*[os.path.join(table.root, d) for d in b_files])
            .withColumn("_fkey", fkey)
            # key-equi join: each shared-file row picks up ONLY the
            # commit versions whose diff touched its key (usually none —
            # the row never leaves the build side of the join)
            .join(touched_keys, list(KEY_COLS))
            # ...and survives only for commits in which ITS file is a
            # shared side (a row of an o-only/n-only file never rides
            # the b path; its own scan above covers it) — a broadcast
            # hash join on the file plus a span filter, so the build
            # side stays O(files + transitions)
            .join(F.broadcast(b_ranges_df), "_fkey")
            .where(F.col("_commit_version").between(F.col("_lo"), F.col("_hi")))
            .drop("_lo", "_hi")
            .withColumn("_side", F.lit("b"))
        )
        tagged = tagged.unionByName(b_rows)
    # slim verdict: only longs cross the aggregation buffer. Each side's
    # state is its max-lsn row, with the winner's tombstone riding the low
    # bit of a packed long (lsn < 2^61 is enforced at ingest, so lsn*2+1
    # cannot overflow): an odd winner means "key absent on this side" —
    # the merge-on-read drop rule, evaluated without a second pass.
    side = F.col("_side")
    packed = (
        F.col("_last_lsn") * 2
        + F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).cast("long")
    )
    agg = (
        tagged.select(*KEY_COLS, "_commit_version", "_side", packed.alias("_p"))
        .groupBy(*KEY_COLS, "_commit_version")
        .agg(
            F.max(F.when(side.isin("o", "b"), F.col("_p"))).alias("_o"),
            F.max(F.when(side.isin("n", "b"), F.col("_p"))).alias("_n"),
        )
    )
    o, n = F.col("_o"), F.col("_n")
    o_live = o.isNotNull() & (o % 2 == 0)
    n_live = n.isNotNull() & (n % 2 == 0)
    change = (
        F.when(~o_live & n_live, "insert")
        .when(o_live & ~n_live, "delete")
        .when(o_live & n_live & (n != o), "update")
    )
    decided = (
        agg.withColumn("_change_type", change)
        .where(F.col("_change_type").isNotNull())
        # post-image payload; pre-image for deletes (the only live side).
        # The image winner is live by construction, so its packed value
        # shifts right to the exact row lsn — the join-back key.
        .withColumn(
            "_img_side",
            F.when(F.col("_change_type") == "delete", F.lit("o")).otherwise(F.lit("n")),
        )
        .withColumn(
            "_img_lsn",
            F.shiftright(F.when(F.col("_img_side") == "o", o).otherwise(n), 1),
        )
        .select(*KEY_COLS, "_commit_version", "_change_type", "_img_side", "_img_lsn")
    )
    in_img_side = F.when(
        F.col("_img_side") == "o", F.col("_side").isin("o", "b")
    ).otherwise(F.col("_side").isin("n", "b"))
    return (
        tagged.join(decided, [*KEY_COLS, "_commit_version"])
        .where(in_img_side & (F.col("_last_lsn") == F.col("_img_lsn")))
        .select(*KEY_COLS, *CHANGE_COLS, "_change_type", "_commit_version")
    )
