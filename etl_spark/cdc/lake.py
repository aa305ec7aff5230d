"""Snapshot-versioned lake table with atomic manifest commit (Iceberg fallback).

This sandbox has no iceberg-spark-runtime jars (SURVEY.md §7.3), so the
table layer hand-builds the Iceberg properties the engine needs:

- **Snapshots**: every commit writes a new immutable version; data files
  are never mutated. ``load_id``-style versioning in the reference
  (geoinfo/main.py:49-57, 424) is the ancestor of this.
- **Atomic commit**: data files land first, then the manifest JSON, then
  the ``_LATEST`` pointer via POSIX tmp+rename — a crash at any point
  leaves the previous version live (reference analog: per-batch
  transaction commit/rollback, thehive_to_dwh/transform_load.py:283-292).
  On a real object store this rename becomes an Iceberg catalog swap.
- **Checkpoint**: ``last_lsn`` rides in the manifest, committed in the
  same rename as the data — data and cursor can never diverge
  (exactly-once; the reference's Airflow ``execution_date`` cursor is
  committed separately and relies on idempotent upserts instead).
- **One manifest entry shape** (the Iceberg manifest-entry analog): the
  manifest maps bucket id -> ``{"base": [file ref...], "deltas": [delta
  dir...]}``; a file ref is one parquet FILE with its footer key range
  and optional key-membership bloom (see ``_entry_parts``). Every commit
  kind writes this shape only, and only this module builds it.
- **Bucket-scoped, file-level copy-on-write**: a batch rewrites only the
  touched buckets, and within them only the files whose key range AND
  bloom admit a batch key (``read_for_merge``, the one pruning path);
  the rest carry forward by reference, so MERGE cost scales with the
  update footprint in files, not table size.
- **Merge-on-read delta chains** (deferred-compaction CoW, the Iceberg
  MoR / Hudi analog): a delta commit appends the batch's winner rows
  (deletes as ``_tombstone`` rows) as one more dir in the bucket's
  ``deltas``, so WRITE cost per batch is O(batch), independent of table
  size — the shape that survives 10^10-event ingest where even
  bucket-scoped CoW rewrites ~the whole table every batch once updates
  spread across all buckets. Reads reconstruct the current row per key
  (max ``_last_lsn`` wins, tombstones drop); ``maintain.compact`` folds
  a chain back into plain base files, after which reads take the
  plain-scan fast path again. A bucket born in delta mode has an empty
  ``base``: its first delta dir plays the head. Final state is
  byte-identical to CoW replay (tests/test_delta).
- **Sharded manifests** (the Iceberg manifest-list / manifest-file
  split): per-file refs for a bucket live in an immutable,
  content-addressed SHARD file; the per-version manifest stores one
  tiny pointer per bucket. A commit writes shards only for buckets
  whose entry CHANGED and carries the rest as pointers, so commit
  metadata cost is O(touched buckets' files), never O(live files) —
  at 10^10-event scale (10^5-10^6 live files) a whole-manifest JSON
  rewrite per commit would be tens-to-hundreds of driver-side MB per
  batch, the classic metadata bottleneck manifest lists exist for.
  Content addressing makes carry detection trivial (same entry ->
  same shard file, byte-identical, never rewritten) and de-duplicates
  across versions: rollback and time travel reference old shards for
  free. Shard pointers are the only on-disk form of an entry;
  ``manifest()`` returns the RESOLVED form (shards parsed once per
  session via an immutable cache), and an entry of any other shape — a
  table written by an older engine — raises ``ValueError`` naming the
  bucket rather than being misread.
- **One write path** (the Iceberg writer/table split: writers produce
  data files, the table owns their stats and the commit). Every commit
  kind that writes data — CoW merge, delta, SCD2, DELETE, compaction,
  rebucket — hands its rows (carrying ``_bucket``, in the caller's
  partitioning and sort order) to ``write_buckets``, which allocates
  the next version and writes ``data/v{N}/_bucket={b}/``. ``commit`` /
  ``commit_delta`` then harvest the written footers (file refs, lineage,
  ``bytes_written``, ``files_rewritten``, ``rows_out`` — set in the
  commit's metrics), ``commit`` stamps key blooms on the fresh refs of
  every bucket it commits with two or more refs, and both publish
  through one top-manifest builder. Callers keep only what is theirs:
  the rows, the touched buckets, the checkpoint and schema, and (the
  file-level merge) the cold refs carried by reference.

Layout:
    root/
      data/v{N}/_bucket={b}/part-*.parquet
      manifests/v{N}.json            (pointer map: bucket -> shard)
      manifests/shards/{sha1}.json   (immutable per-bucket file refs)
      metrics/batch-*.json        (per-batch metrics + lineage, append-only)
      _LATEST                     (atomic pointer: the committed version)

The public surface (init/read/commit/version/last_lsn) is the interface a
real Iceberg catalog implementation slots into on a cluster
(``MERGE INTO`` + ``ALTER TABLE`` become metadata ops there).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import DEFAULT_BUCKETS
from .schema import BASE_TABLE_FIELDS


class SnapshotExpiredError(ValueError):
    """Time-travel target no longer materialized (expired by retention)."""


# Marker column present only in delta (merge-on-read) files: True = the
# key was deleted as of this row's _last_lsn. Base/CoW files lack the
# column entirely and read as null under the explicit read schema.
TOMBSTONE_COL = "_tombstone"


def _entry_parts(entry: dict) -> tuple[list[list], list[list], list[str]]:
    """Split a resolved bucket entry ``{"base": [ref...], "deltas":
    [dir...]}`` into ``(plain_refs, head_refs, tail_dirs)``.

    A *ref* is ``[relpath, rows, lo_repo, lo_path, hi_repo, hi_path]``
    for one parquet file — bounds from its footer (scan_written_footers;
    None when the footer gave none) — plus an optional 7th element, the
    key-membership bloom ``{"m", "k", "b"}`` (build_file_blooms).

    With no deltas the base refs are ``plain``: exactly one live row per
    key across them, read as a plain scan. With deltas the bucket needs
    the merge-on-read reconstruction (``_read_merged``): the base refs
    are the head and the delta dirs the tails — except for a bucket
    born in delta mode (empty base), whose first delta dir is the head.
    That head may itself hold tombstones, so it rides the head side,
    never the plain side, and its rows never enter the tails' winner
    aggregate."""
    base = [list(r) for r in entry["base"]]
    deltas = list(entry["deltas"])
    if not deltas:
        return base, [], []
    if base:
        return [], base, deltas
    return [], [[deltas[0], None, None, None, None, None]], deltas[1:]


def _chain(entry: dict) -> list[str]:
    """Every data path (base file, then delta dir) a bucket entry
    references, base-to-newest-delta order."""
    return [r[0] for r in entry["base"]] + list(entry["deltas"])


def _entry_shape_error(entry) -> str | None:
    """Why ``entry`` is not a ``{"base": [6- or 7-element refs],
    "deltas": [dir...]}`` dict, or None when it is."""
    if not (isinstance(entry, dict) and sorted(entry) == ["base", "deltas"]
            and isinstance(entry["base"], list)
            and isinstance(entry["deltas"], list)):
        return f"entry {json.dumps(entry)[:80]} is not a {{base, deltas}} dict"
    if not all(isinstance(r, list) and len(r) in (6, 7) for r in entry["base"]):
        return "a base ref is not a 6- or 7-element list"
    if not all(isinstance(d, str) for d in entry["deltas"]):
        return "a delta is not a dir path"
    return None


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic-concurrency
    loss). The caller's view of the table is stale: re-read the manifest
    and re-prepare against the new checkpoint."""


def _atomic_write(path: str, payload: str, exclusive: bool = False) -> None:
    """tmp + rename publish. ``exclusive=True`` uses link(2) instead of
    rename — atomic create-if-absent, the POSIX analog of an Iceberg
    catalog's compare-and-swap: when two writers race to publish the
    same version, exactly one wins and the other gets
    ConcurrentCommitError instead of silently overwriting."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    if not exclusive:
        os.rename(tmp, path)
        return
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"{path} already committed by another writer"
        ) from None
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def scan_written_footers(root: str, out_dir: str) -> dict[str, dict]:
    """Per-bucket stats for the parquet files just written under
    ``out_dir`` — driver-side footer metadata only, no Spark job (the
    same stats harvest an Iceberg manifest commit performs):

    ``{bucket: {"rows", "max_lsn", "bytes", "dir", "files": [ref...]}}``

    where each ref is ``[relpath, rows, lo_repo, lo_path, hi_repo,
    hi_path]``. The key bounds are per-COLUMN min/max over row groups —
    a conservative superset of the file's true (repo, path) tuple
    interval, so file-level range pruning can only over-select, never
    miss a key; files without usable stats get None bounds (always
    'hit'). Zero-row files are skipped.
    """
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    if not os.path.isdir(out_dir):
        return out
    rel_dir = os.path.relpath(out_dir, root)
    for entry in sorted(os.listdir(out_dir)):
        if not entry.startswith("_bucket="):
            continue
        b = entry.split("=", 1)[1]
        bdir = os.path.join(out_dir, entry)
        rows_total, bytes_total, max_lsn = 0, 0, None
        refs: list[list] = []
        for fname in sorted(os.listdir(bdir)):
            if not fname.endswith(".parquet"):
                continue
            fpath = os.path.join(bdir, fname)
            md = pq.ParquetFile(fpath).metadata
            if md.num_rows == 0:
                continue
            rows_total += md.num_rows
            bytes_total += os.path.getsize(fpath)
            names = md.schema.names
            bounds: list = []
            for colname in ("repo", "path"):
                lo = hi = None
                if colname in names:
                    idx = names.index(colname)
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        if st is None or not st.has_min_max:
                            lo = hi = None
                            break
                        mn, mx = st.min, st.max
                        if isinstance(mn, bytes):
                            mn, mx = mn.decode(), mx.decode()
                        lo = mn if lo is None or mn < lo else lo
                        hi = mx if hi is None or mx > hi else hi
                bounds.append((lo, hi))
            if "_last_lsn" in names:
                idx = names.index("_last_lsn")
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is not None and st.has_min_max:
                        mx = int(st.max)
                        max_lsn = mx if max_lsn is None or mx > max_lsn else max_lsn
            (lr, hr), (lp, hp) = bounds
            if lr is None or lp is None:
                lr = lp = hr = hp = None
            refs.append([
                os.path.join(rel_dir, entry, fname), md.num_rows,
                lr, lp, hr, hp,
            ])
        out[b] = {
            "rows": rows_total,
            "max_lsn": max_lsn,
            "bytes": bytes_total,
            "dir": os.path.join(rel_dir, entry),
            "files": refs,
        }
    return out


# Key-membership bloom parameters (file-level CoW pruning):
# a file is carried only if EVERY range-hitting batch key misses its
# bloom, so the per-key FP compounds — with R keys probing one file,
# P(carry) = (1-fp)^R. Sized at ~20 bits/key (power-of-2 rounding makes
# the realized ratio 20-40) with 4 probes, fp ~ 2e-4..1e-3: a file
# probed by a few hundred keys still carries with >90% probability,
# and a FP only costs one unnecessary file rewrite (fail-safe), while
# a miss is impossible (no false negatives — a carried file provably
# holds no batch key). Metadata cost is ~2.5 B/key vs ~2 KB content
# rows (~0.1%). Files beyond BLOOM_MAX_ROWS skip the bloom (the packed
# filter would exceed ~256 KB in its manifest shard; a bucket that big
# should be compacted into rolled files first — and a bucket with ONE
# big file is always hit anyway, so the bloom buys nothing).
BLOOM_BITS_PER_KEY = 20
BLOOM_K = 4
BLOOM_MAX_ROWS = 80_000

# bucket-dir-qualified file key: Spark part-file BASENAMES are not
# unique across the bucket dirs of one write (same task number + job
# UUID under two _bucket= dirs), so every bloom/pruning map is keyed by
# the last two path segments
_BUCKET_FILE_RE = r"(_bucket=\d+/[^/]+)$"


def _bloom_member_sql() -> str:
    """SQL predicate testing all BLOOM_K probe bits of ``_words``
    (array<long>, 1-indexed) for the row's (repo, path) key against a
    filter of ``_m`` bits. Probe i's position is
    ``pmod(xxhash64(repo, path, i), _m)`` — k independent seeded hashes
    rather than the classic h1 + i*h2 double-hash, because ANSI mode
    (Spark 4 default) makes the additive form throw on long overflow.
    MUST stay expression-for-expression identical to the build side
    (build_file_blooms) — both run in Spark SQL so hash and truncation
    semantics match by construction."""
    tests = []
    for i in range(BLOOM_K):
        pos = f"pmod(xxhash64(repo, path, {i}), _m)"
        tests.append(
            f"(element_at(_words, cast({pos} / 64 as int) + 1)"
            f" & shiftleft(1L, cast({pos} % 64 as int))) != 0"
        )
    return " AND ".join(tests)


def build_file_blooms(
    spark: SparkSession, root: str, harvest: dict,
    eligible: set[str] | None = None,
) -> None:
    """Attach a per-file KEY-MEMBERSHIP bloom to every base-file ref in
    ``harvest`` (appended as ref[6] = {"m", "k", "b"}), from ONE
    distributed pass over the freshly written files' two key columns.
    This is the Iceberg puffin/bloom-metadata analog that makes
    membership pruning METADATA-ONLY at merge time: the per-batch probe
    becomes a broadcast-join filter over the batch keys instead of a
    read of every range-hit file's key columns (which re-pays
    O(working-set file bytes) every batch).

    Build cost is O(batch output rows) on the files just written —
    read back from page cache immediately after the write — vs the
    probe-time scan it replaces, which grows with the table's hit-file
    count instead. Bloom words are built and probed by the SAME Spark
    SQL expressions (xxhash64 double hashing, see _bloom_member_sql),
    so build/probe can never drift.

    ``eligible`` restricts the build to those buckets (by key):
    ``SnapshotTable.commit`` skips buckets it commits with ONE file —
    the file IS the bucket, so a bloom can't save a rewrite worth its
    build cost, and skipping them makes the build FREE on whole-bucket-
    rewrite workloads (the uniform headline replay). A skipped file
    simply has no bloom and always counts as a hit (fail closed)."""
    import base64
    import struct as _struct

    file_ref: dict[str, tuple[list, int]] = {}
    paths: list[str] = []
    for b, v in harvest.items():
        if eligible is not None and b not in eligible:
            continue
        n_slots = len(file_ref)
        for ref in v["files"]:
            rows = int(ref[1] or 0)
            if rows <= 0 or rows > BLOOM_MAX_ROWS:
                continue
            m_bits = 1 << max(10, (rows * BLOOM_BITS_PER_KEY - 1).bit_length())
            file_ref["/".join(ref[0].split("/")[-2:])] = (ref, m_bits)
        # scan the bucket dir only if one of its refs got a bloom slot
        if len(file_ref) > n_slots:
            paths.append(os.path.join(root, v["dir"]))
    if not file_ref:
        return
    mdf = spark.createDataFrame(
        sorted((fk, m) for fk, (_, m) in file_ref.items()),
        "_fk string, _m long",
    )
    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
    ])
    pos = F.explode(F.array(*[
        F.pmod(
            F.xxhash64(F.col("repo"), F.col("path"), F.lit(i)),
            F.col("_m"),
        )
        for i in range(BLOOM_K)
    ]))
    out = (
        spark.read.schema(schema).parquet(*paths)
        .withColumn(
            "_fk",
            F.regexp_extract(F.input_file_name(), _BUCKET_FILE_RE, 1),
        )
        .join(F.broadcast(mdf), "_fk")
        .select("_fk", pos.alias("_pos"))
        # two-level fixed-width aggregate: (file, word) bit_or, then one
        # sorted sparse word list per file — the driver collect is
        # O(set bits / 64), bounded by O(batch keys x K / 64)
        .groupBy("_fk", (F.col("_pos") / 64).cast("long").alias("_w"))
        .agg(F.expr("bit_or(shiftleft(1L, cast(_pos % 64 as int)))")
             .alias("_word"))
        .groupBy("_fk")
        .agg(F.sort_array(F.collect_list(F.struct("_w", "_word"))).alias("_ws"))
        .collect()
    )
    for r in out:
        ref, m_bits = file_ref[r["_fk"]]
        words = [0] * (m_bits // 64)
        for w in r["_ws"]:
            words[int(w["_w"])] = int(w["_word"])
        packed = _struct.pack(f"<{len(words)}q", *words)
        ref.append({"m": m_bits, "k": BLOOM_K,
                    "b": base64.b64encode(packed).decode()})


def _bloom_words(ref: list) -> tuple[int, list[int]] | None:
    """Decode a ref's bloom (ref[6]) to (m_bits, words); None if absent
    — an unbloomed file always counts as a hit (fail closed)."""
    if len(ref) < 7 or not ref[6]:
        return None
    import base64
    import struct as _struct

    spec = ref[6]
    raw = base64.b64decode(spec["b"])
    return int(spec["m"]), list(_struct.unpack(f"<{len(raw) // 8}q", raw))


class SnapshotTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = DEFAULT_BUCKETS,
        base_fields: list[T.StructField] | None = None,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.n_buckets = n_buckets
        # fixed columns of this table's row shape; the default is the CDC
        # mirror shape, SCD2 history tables pass their own (scd2.py)
        self.base_fields = list(base_fields) if base_fields else list(BASE_TABLE_FIELDS)
        # merge-on-read winner key (delta chains only; SCD2 history
        # tables multi-row by design never take delta commits)
        from .schema import KEY_COLS

        self.key_cols = list(KEY_COLS)
        # shard resolution caches: shard files are immutable and
        # content-addressed, so an entry is valid for the table's
        # lifetime. _entry_ptr holds a STRONG ref to each resolved entry
        # object so its id() can never be reused by the allocator — the
        # identity hit is what lets a commit carry an untouched bucket's
        # shard as a pointer without re-serializing its (potentially
        # huge) ref list. Each _publish cuts both maps back to the
        # version it published, so a long-lived driver holds O(live
        # buckets) entries, not every version's.
        self._shard_cache: dict[str, object] = {}
        self._entry_ptr: dict[int, tuple[object, str]] = {}
        os.makedirs(os.path.join(self.root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "metrics"), exist_ok=True)
        # The bucket count is a COMMITTED property of an existing table:
        # opening with a different value would route this session's merges
        # into the wrong bucket dirs (silent key duplication across
        # buckets). Adopt the manifest's value; the constructor argument
        # only parameterizes NEW tables.
        if self.version() > 0:
            self.n_buckets = int(self._raw_manifest(self.version())["n_buckets"])

    # --- manifest / pointer ------------------------------------------------

    @property
    def _latest_path(self) -> str:
        return os.path.join(self.root, "_LATEST")

    def version(self) -> int:
        try:
            with open(self._latest_path) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _raw_manifest(self, version: int) -> dict:
        """The on-disk manifest of ``version``: bucket -> shard pointer."""
        with open(os.path.join(self.root, "manifests", f"v{version}.json")) as f:
            return json.load(f)

    def _resolve_files(self, files: dict) -> dict:
        """Resolve shard pointers (``{"ptr": relpath}``) to their
        entries, memoizing both directions — shard files are immutable,
        so a parsed (and shape-checked) entry is valid forever. Raises
        ValueError naming the bucket when the stored value is not a
        pointer or the shard is not a ``{"base", "deltas"}`` entry, and
        FileNotFoundError when a pointed-to shard was expired (callers
        map it to SnapshotExpiredError)."""
        out = {}
        for b, e in files.items():
            if not (isinstance(e, dict) and list(e) == ["ptr"]):
                raise ValueError(
                    f"bucket {b}: manifest stores {json.dumps(e)[:80]}, "
                    "not a shard pointer")
            ptr = e["ptr"]
            ent = self._shard_cache.get(ptr)
            if ent is None:
                with open(os.path.join(self.root, "manifests", ptr)) as f:
                    ent = json.load(f)
                err = _entry_shape_error(ent)
                if err:
                    raise ValueError(f"bucket {b}: shard {ptr}: {err}")
                self._shard_cache[ptr] = ent
                self._entry_ptr[id(ent)] = (ent, ptr)
            out[b] = ent
        return out

    def manifest(self) -> dict:
        v = self.version()
        if v == 0:
            return self.manifest_at(0)
        m = self._raw_manifest(v)
        m["files"] = self._resolve_files(m["files"])
        return m

    def last_lsn(self) -> int:
        return int(self.manifest()["last_lsn"])

    def dyn_schema(self) -> list[tuple[str, str]]:
        return [tuple(c) for c in self.manifest()["dyn_schema"]]

    def table_schema(self, dyn: list[tuple[str, str]] | None = None) -> T.StructType:
        from .schema import ddl_to_type

        dyn = self.dyn_schema() if dyn is None else dyn
        fields = list(self.base_fields)
        for name, ddl in dyn:
            fields.append(T.StructField(name, ddl_to_type(ddl)))
        return T.StructType(fields)

    # --- read ----------------------------------------------------------------

    def _bucket_dirs(self, m: dict, buckets: list[int] | None = None) -> list[str]:
        files = m["files"]
        keys = [str(b) for b in buckets] if buckets is not None else list(files)
        return [
            os.path.join(self.root, d)
            for k in keys if k in files
            for d in _chain(files[k])
        ]

    def _split_entries(
        self, m: dict, buckets: list[int] | None = None
    ) -> tuple[list[str], list[str], list[str]]:
        """(plain CoW paths, chain HEAD paths, chain TAIL dirs) for the
        bucket selection. A bucket with delta dirs goes to the chain
        side: its tails may hold tombstones and per-key history, so it
        must be read through the merge path. The head/tail split is what
        lets the merged read keep the bulk of the base out of any
        shuffle (see ``_read_merged``); keys are hash-routed to exactly
        one bucket, so tail keys of one bucket can never contest another
        bucket's head rows — the flattened lists stay correct across
        buckets."""
        files = m["files"]
        keys = [str(b) for b in buckets] if buckets is not None else list(files)
        base: list[str] = []
        heads: list[str] = []
        tails: list[str] = []
        for k in keys:
            if k not in files:
                continue
            plain, hd, tl = _entry_parts(files[k])
            base.extend(os.path.join(self.root, r[0]) for r in plain)
            heads.extend(os.path.join(self.root, r[0]) for r in hd)
            tails.extend(os.path.join(self.root, d) for d in tl)
        return base, heads, tails

    def manifest_at(self, version: int) -> dict:
        """The committed manifest of an arbitrary snapshot version.
        Raises SnapshotExpiredError if the version's manifest is gone or
        any of its data dirs was removed by ``expire_snapshots``."""
        if version == 0:
            return {"version": 0, "last_lsn": 0, "dyn_schema": [],
                    "files": {}, "n_buckets": self.n_buckets}
        try:
            m = self._raw_manifest(version)
            m["files"] = self._resolve_files(m["files"])
        except FileNotFoundError:
            raise SnapshotExpiredError(
                f"version {version}: manifest (or one of its shards) "
                f"expired or never committed (latest is {self.version()})"
            ) from None
        missing = [d for d in self._bucket_dirs(m) if not os.path.exists(d)]
        if missing:
            raise SnapshotExpiredError(
                f"version {version}: {len(missing)} data dir(s) removed by "
                "retention; raise expire_snapshots keep_last to time-travel "
                "this far back"
            )
        return m

    def read(
        self,
        buckets: list[int] | None = None,
        manifest: dict | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Read the committed snapshot (optionally a bucket subset, or an
        older snapshot by ``version`` — time travel over the retained
        manifest history, the Iceberg ``VERSION AS OF`` analog).

        Explicit schema: files written before a column-add lack the column
        and read as nulls (schema-on-read — parquet by-name resolution).
        """
        if version is not None:
            manifest = self.manifest_at(version)
        m = manifest or self.manifest()
        schema = self.table_schema([tuple(c) for c in m["dyn_schema"]])
        base_dirs, head_dirs, tail_dirs = self._split_entries(m, buckets)
        if not base_dirs and not head_dirs:
            return self.spark.createDataFrame([], schema)
        parts: list[DataFrame] = []
        if base_dirs:
            # pure-CoW fast path: every selected bucket holds exactly one
            # current row per key — a plain scan, no merge work, the plan
            # shape every downstream (pushdown, pruning) relies on
            parts.append(self.spark.read.schema(schema).parquet(*base_dirs))
        if head_dirs:
            parts.append(self._read_merged(head_dirs, tail_dirs, schema))
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def _read_merged(
        self, heads: list[str], tails: list[str], schema: T.StructType
    ) -> DataFrame:
        """Merge-on-read reconstruction over delta chains: per key the
        row with max ``_last_lsn`` wins, then tombstone winners drop.

        Per-key LSNs are strictly monotone across commits (events at or
        below the checkpoint drop as late; ``merge_into`` stamps
        checkpoint+1), so any key a chain TAIL dir mentions has its
        current row IN the tail — a head (base) row can win only when
        the tail never touches its key. The plan exploits that: the
        head's only merge work is an ANTI join against the tail's slim
        distinct-key set (the recent update working set — tiny next to
        the base, so AQE turns it into a broadcast join at runtime), and
        uncontested wide base rows never enter a shuffle or aggregation.
        Winner resolution runs over TAIL rows only: a slim (key, long)
        HashAggregate + a (key, _last_lsn) semi join-back — the same
        slim/semi shape the merge itself uses (never max_by over a wide
        struct, which plans SortAggregate). The join-back is on key AND
        lsn because ``merge_into`` stamps one synthetic lsn across a
        whole source batch — an lsn-only semi join would resurrect
        another key's stale row sharing the winner's lsn. Cost scales
        with tail rows for the merge and one base scan for the rest;
        compacted buckets never enter this subplan at all.
        """
        sch = T.StructType(
            list(schema.fields) + [T.StructField(TOMBSTONE_COL, T.BooleanType())]
        )
        live = ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
        # a head may itself hold tombstones (a bucket born in delta mode)
        head = self.spark.read.schema(sch).parquet(*heads)
        if not tails:
            return head.where(live).drop(TOMBSTONE_COL)
        tail = self.spark.read.schema(sch).parquet(*tails)
        tail_keys = tail.select(*self.key_cols).distinct()
        survivors = head.join(tail_keys, list(self.key_cols), "anti")
        winners = tail.groupBy(*self.key_cols).agg(
            F.max("_last_lsn").alias("_last_lsn")
        )
        cur = tail.join(winners, [*self.key_cols, "_last_lsn"], "semi")
        return (
            survivors.unionByName(cur).where(live).drop(TOMBSTONE_COL)
        )

    def read_for_merge(
        self, manifest: dict, touched: list[int], keys_df: DataFrame
    ) -> tuple[DataFrame, dict[str, list[list]], dict]:
        """The touched-bucket read for a CoW merge, pruned at FILE level
        (the Iceberg per-file manifest-entry analog): returns
        ``(target_df, cold_refs, stats)``.

        Within each touched bucket with no delta chain, only the base
        files that can hold a batch key are read (``target_df``): the
        file's conservative (repo, path) interval must contain the key
        AND its write-time key-membership bloom must admit it. The rest
        are COLD — returned in ``cold_refs`` per bucket so the commit
        carries them forward by reference instead of rewriting them.
        This is what caps CoW write amplification when updates
        concentrate in a small working set, and under insert fan-out,
        where a scattered new key range-hits a file without matching
        any row in it: merge cost scales with the update footprint in
        FILES, not in buckets.

        Soundness: a file's stored bounds are a superset of its true key
        interval (scan_written_footers), blooms have no false negatives,
        and every batch key hashes to exactly one bucket, so any
        existing row of a batch key lives in a HIT file — a cold file
        can never hold a row the merge should have replaced or deleted.
        Every decision fails closed: a ref whose footer gave no bounds
        is read, and a ref without a bloom is tested on its range alone;
        a bloom false positive only costs an unnecessary rewrite.

        A bucket with a delta chain is read whole (its deltas may
        supersede any base key, so base files cannot be carried
        independently); the rewrite commits it back as plain base files.
        The hit decision is one tiny Spark job: the slim batch key set
        joined to a broadcast of the candidate refs' ranges and bloom
        words (bucket-equality hash join + range filter + membership
        test — no data file is ever read by the probe); zero jobs when
        no candidate has bounds.
        """
        files = manifest["files"]
        schema = self.table_schema([tuple(c) for c in manifest["dyn_schema"]])
        plain_paths: list[str] = []   # refs read in full
        heads: list[str] = []
        tails: list[str] = []
        refs_by_id: dict[tuple[int, int], list] = {}  # candidates with bounds
        for b in touched:
            k = str(b)
            if k not in files:
                continue
            plain, hd, tl = _entry_parts(files[k])
            heads.extend(os.path.join(self.root, r[0]) for r in hd)
            tails.extend(os.path.join(self.root, d) for d in tl)
            for i, r in enumerate(plain):
                if r[2] is None:
                    plain_paths.append(os.path.join(self.root, r[0]))
                else:
                    refs_by_id[(int(b), i)] = r
        cold: dict[str, list[list]] = {}
        if refs_by_id:
            from .dedup import bucket_expr

            rows = []
            for (b, i), r in sorted(refs_by_id.items()):
                bw = _bloom_words(r)
                rows.append(
                    (b, i, r[2], r[3], r[4], r[5],
                     bw[0] if bw else None, bw[1] if bw else None)
                )
            rdf = self.spark.createDataFrame(
                rows,
                "b int, i int, lr string, lp string, hr string, hp string, "
                "_m long, _words array<bigint>",
            )
            keys = keys_df.select(
                "repo", "path", bucket_expr(self.n_buckets).alias("b")
            )
            ge_lo = (F.col("repo") > F.col("lr")) | (
                (F.col("repo") == F.col("lr")) & (F.col("path") >= F.col("lp"))
            )
            le_hi = (F.col("repo") < F.col("hr")) | (
                (F.col("repo") == F.col("hr")) & (F.col("path") <= F.col("hp"))
            )
            member = F.col("_m").isNull() | F.expr(_bloom_member_sql())
            hit_ids = {
                (r["b"], r["i"])
                for r in keys.join(F.broadcast(rdf), ["b"])
                .where(ge_lo & le_hi & member)
                .select("b", "i")
                .distinct()
                .collect()
            }
            for (b, i), ref in refs_by_id.items():
                if (b, i) in hit_ids:
                    plain_paths.append(os.path.join(self.root, ref[0]))
                else:
                    cold.setdefault(str(b), []).append(ref)
        stats = {
            "files_hit": len(plain_paths) + len(heads) + len(tails),
            "files_cold": sum(len(v) for v in cold.values()),
            "rows_cold": sum(
                int(r[1] or 0) for v in cold.values() for r in v
            ),
        }
        parts: list[DataFrame] = []
        if plain_paths:
            parts.append(self.spark.read.schema(schema).parquet(*plain_paths))
        if heads or tails:
            parts.append(self._read_merged(heads, tails, schema))
        if not parts:
            return self.spark.createDataFrame([], schema), cold, stats
        return (
            parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1]),
            cold,
            stats,
        )

    def lookup(self, keys: list[tuple[str, str]]) -> DataFrame:
        """Point / small-batch key read: rows for the given (repo, path)
        keys, touching ONLY the bucket dirs the keys hash into.

        The layout IS the index: bucket = pmod(xxhash64(repo, path), N)
        is the table's committed partition spec, so K distinct keys cost
        at most K buckets of scan (1/N of the table each) regardless of
        table size — the Iceberg bucket-transform partition-pruning
        analog for the lakehouse point-query path. The bucket ids are
        computed by the same ``bucket_expr`` that routes merges (one
        tiny local-relation job, no table scan), never re-derived in
        driver Python, so routing can't drift from the write path.

        For a handful of keys the filter is an OR of (repo= AND path=)
        conjunctions — pushed into the parquet scan (row-group stats
        prune within the bucket); beyond that a broadcast semi-join on
        the key pair does the same work shuffle-free.
        """
        if not keys:
            return self.read(buckets=[])
        kdf = self.spark.createDataFrame(
            list(keys), "repo string, path string").dropDuplicates()
        from .dedup import bucket_expr

        rows = kdf.select(
            "repo", "path", bucket_expr(self.n_buckets).alias("_b")
        ).collect()
        df = self.read(buckets=sorted({r["_b"] for r in rows}))
        if len(rows) <= 64:
            pred = None
            for r in rows:
                c = (F.col("repo") == r["repo"]) & (F.col("path") == r["path"])
                pred = c if pred is None else (pred | c)
            return df.where(pred)
        return df.join(
            F.broadcast(kdf), on=["repo", "path"], how="left_semi")

    def read_quarantine(self) -> DataFrame:
        """All dead-lettered events (malformed rows diverted by the merge,
        see merge.py prepare_batch) with their ``_reason``, across every
        batch. Lives outside the manifest: table reads never see these,
        and retention/maintenance never touches them."""
        import glob as _glob

        from .schema import EVENT_SCHEMA

        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in EVENT_SCHEMA]
            + [T.StructField("_reason", T.StringType(), True)]
        )
        dirs = sorted(_glob.glob(os.path.join(self.root, "quarantine", "b*")))
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*dirs)

    def read_incremental(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Rows inserted or updated after ``from_version``, up to
        ``to_version`` (default: latest) — the Iceberg incremental-scan
        analog, driven purely by the per-row ``_last_lsn`` watermark
        against the two manifests' checkpoint LSNs, so the plan is the
        target scan plus one pushed-down range filter (parquet row-group
        stats prune untouched files). Deletes are not representable in a
        CoW snapshot diff without tombstones; consume the change log
        itself for delete-aware downstreams.
        """
        lo = int(self.manifest_at(from_version)["last_lsn"])
        m2 = (self.manifest_at(to_version) if to_version is not None
              else self.manifest())
        hi = int(m2["last_lsn"])
        if hi < lo:
            raise ValueError(f"to_version {to_version} precedes from_version "
                             f"{from_version} (lsn {hi} < {lo})")
        df = self.read(manifest=m2)
        return df.where((F.col("_last_lsn") > lo) & (F.col("_last_lsn") <= hi))

    # --- commit ----------------------------------------------------------------

    def new_data_dir(self, version: int) -> str:
        return os.path.join(self.root, "data", f"v{version}")

    def write_buckets(
        self, rows: DataFrame, target_file_rows: int | None = None
    ) -> tuple[int, str]:
        """Write ``rows`` (carrying a ``_bucket`` column) as the data
        files of the next version, ``data/v{N}/_bucket={b}/``; returns
        ``(N, dir)`` for the ``commit`` / ``commit_delta`` that publishes
        them. The caller owns the rows' partitioning and sort order (it
        decides the file count per bucket and each file's key range);
        ``target_file_rows`` additionally rolls a bucket's files at that
        many rows. N is the committed version + 1, read now: the
        exclusive manifest link decides which of two racing writers
        publishes it."""
        version = self.version() + 1
        out_dir = self.new_data_dir(version)
        w = rows.write.mode("overwrite")
        if target_file_rows:
            w = w.option("maxRecordsPerFile", int(target_file_rows))
        w.partitionBy("_bucket").parquet(out_dir)
        return version, out_dir

    def _harvest(self, written_dir: str, metrics: dict) -> dict:
        """Footer harvest of ``written_dir`` (scan_written_footers: pure
        metadata, no Spark job) and the metrics it yields, set in
        ``metrics``: per-bucket ``lineage``, ``rows_out``,
        ``files_rewritten``, ``bytes_written``, and the ``lineage``
        phase time."""
        t0 = time.time()
        harvest = scan_written_footers(self.root, written_dir)
        metrics["lineage"] = {
            b: {"rows": v["rows"], "max_lsn": v["max_lsn"], "dir": v["dir"]}
            for b, v in harvest.items()
        }
        metrics["rows_out"] = sum(v["rows"] for v in harvest.values())
        metrics["files_rewritten"] = sum(len(v["files"]) for v in harvest.values())
        metrics["bytes_written"] = sum(v["bytes"] for v in harvest.values())
        metrics.setdefault("phase_secs", {})["lineage"] = round(time.time() - t0, 3)
        return harvest

    def commit(
        self,
        version: int,
        written_dir: str | None,
        touched_buckets: list[int],
        last_lsn: int,
        dyn_schema: list[tuple[str, str]],
        metrics: dict,
        full_rewrite: bool = False,
        carried_refs: dict | None = None,
    ) -> dict:
        """Publish version N: the files under ``written_dir`` as new base
        files, plus carried-forward entries.

        Untouched buckets keep their entries by reference; each touched
        bucket gets a fresh plain entry ``{"base": refs, "deltas": []}``
        whose refs are its ``carried_refs`` (bucket -> file refs of the
        previous version that a file-level CoW merge carries forward
        unread) followed by the footer refs of its freshly written files
        (a bucket left with no refs disappears from the manifest).
        ``full_rewrite=True`` (rename/widen migration, rebucket): nothing
        carries.

        The fresh refs of every bucket committed with two or more refs
        get write-time key-membership blooms (build_file_blooms) — one
        narrow pass over the files just written, so later merges' insert-
        fanout pruning is metadata-only. With one ref per bucket the file
        IS the bucket and a bloom buys nothing, so whole-bucket rewrites
        pay zero here."""
        prev = self.manifest()
        files: dict[str, dict] = {} if full_rewrite else dict(prev["files"])
        for b in touched_buckets:
            files.pop(str(b), None)
        carried = carried_refs or {}
        harvest: dict = {}
        if written_dir:
            harvest = self._harvest(written_dir, metrics)
            t0 = time.time()
            build_file_blooms(self.spark, self.root, harvest, eligible={
                b for b, v in harvest.items()
                if len(v["files"]) + len(carried.get(b, [])) >= 2
            })
            # own phase key: the one Spark job of the commit
            metrics["phase_secs"]["bloom_build"] = round(time.time() - t0, 3)
        for b in sorted(set(carried) | set(harvest)):
            refs = carried.get(b, []) + (harvest[b]["files"] if b in harvest else [])
            if refs:
                files[b] = {"base": refs, "deltas": []}
        return self._publish(
            version, prev["version"], last_lsn, dyn_schema, files, metrics)

    def commit_delta(
        self,
        version: int,
        delta_dir: str,
        last_lsn: int,
        dyn_schema: list[tuple[str, str]],
        metrics: dict,
    ) -> dict:
        """Publish version N as a merge-on-read DELTA commit: every
        ``_bucket=`` dir under ``delta_dir`` APPENDS to its bucket's
        chain instead of replacing it. Untouched buckets carry forward
        unchanged; a bucket new to the table starts with an empty base.
        Readers reconstruct via ``_read_merged``; compaction
        (maintain.compact) folds a chain back to plain base files."""
        prev = self.manifest()
        files: dict = dict(prev["files"])
        for b, v in self._harvest(delta_dir, metrics).items():
            cur = files.get(b, {"base": [], "deltas": []})
            files[b] = {"base": cur["base"], "deltas": cur["deltas"] + [v["dir"]]}
        return self._publish(
            version, prev["version"], last_lsn, dyn_schema, files, metrics)

    def rollback(self, to_version: int) -> dict:
        """Restore the table to an earlier committed snapshot as a NEW
        commit — the Iceberg ``rollback_to_snapshot`` analog and the
        bad-batch recovery runbook op (reference ancestor: re-running a
        connector window after an upstream correction).

        Metadata-only: the new manifest reuses the target snapshot's
        data dirs (including delta chains) BY REFERENCE — no data is
        read or written, so a 100 TB table rolls back in one atomic
        rename. ``last_lsn`` resets to the target's, so replaying the
        (corrected) log re-applies everything after the restored point;
        rollback-then-re-replay of an unchanged log reproduces the
        pre-rollback state exactly (tested). History is preserved, not
        rewritten: the bad versions stay time-travelable until retention
        expires them, and the changelog across the rollback commit is
        the exact UNDO feed — ``replicate.sync`` mirrors converge to the
        restored state with no special casing.
        """
        cur = self.version()
        if not 1 <= to_version < cur:
            raise ValueError(
                f"rollback target must be an earlier committed version "
                f"(got {to_version}, current is {cur})"
            )
        tgt = self.manifest_at(to_version)  # validates data dirs survive
        version = cur + 1
        metrics = {
            "op": "rollback",
            "rolled_back_from": cur,
            "rolled_back_to": to_version,
        }
        # the TARGET's bucket count, not the current one: a rebucket
        # commit between to_version and now changed the layout, and
        # restoring the old dirs under the new count would misroute
        # every subsequent merge (wrong-bucket rewrites, stale rows
        # staying referenced). Adopt it on this handle too, exactly
        # like the constructor adopts the committed count on open.
        out = self._publish(
            version, cur, tgt["last_lsn"], tgt["dyn_schema"],
            dict(tgt["files"]), metrics, n_buckets=int(tgt["n_buckets"]))
        self.n_buckets = int(tgt["n_buckets"])
        return out

    def _publish(
        self,
        version: int,
        parent: int,
        last_lsn: int,
        dyn_schema: list,
        files: dict,
        metrics: dict,
        n_buckets: int | None = None,
    ) -> dict:
        """Build version N's top manifest (``n_buckets`` defaults to this
        handle's), shard it and publish it. ``files`` arrives RESOLVED
        (bucket -> entry); on disk each bucket stores a pointer into an
        immutable content-addressed shard file. An entry object that
        came out of a resolved manifest hits the identity memo and
        carries its pointer with ZERO serialization work — so an untouched bucket costs one
        dict lookup per commit, whatever its file count, and the bytes a
        commit writes are O(touched buckets' refs) + the pointer map.
        Content addressing also dedups across versions: a rollback's
        "new" shards are the target version's files, already on disk.
        The returned (and cached) manifest stays in resolved form."""
        import hashlib

        manifest = {
            "version": version,
            "parent": parent,
            "last_lsn": int(last_lsn),
            "dyn_schema": [list(c) for c in dyn_schema],
            "files": files,
            "n_buckets": self.n_buckets if n_buckets is None else n_buckets,
            "committed_at": time.time(),
            "metrics": metrics,
        }
        shards_dir = os.path.join(self.root, "manifests", "shards")
        os.makedirs(shards_dir, exist_ok=True)
        raw_files: dict[str, dict] = {}
        shard_bytes, n_new, n_carried = 0, 0, 0
        for b, entry in manifest["files"].items():
            memo = self._entry_ptr.get(id(entry))
            if memo is not None and memo[0] is entry:
                raw_files[b] = {"ptr": memo[1]}
                n_carried += 1
                continue
            payload = json.dumps(entry, sort_keys=True, separators=(",", ":"))
            ptr = os.path.join(
                "shards", hashlib.sha1(payload.encode()).hexdigest() + ".json"
            )
            spath = os.path.join(self.root, "manifests", ptr)
            if os.path.exists(spath):
                n_carried += 1  # identical content committed before
            else:
                _atomic_write(spath, payload)
                shard_bytes += len(payload)
                n_new += 1
            self._shard_cache[ptr] = entry
            self._entry_ptr[id(entry)] = (entry, ptr)
            raw_files[b] = {"ptr": ptr}
        metrics["manifest_shards_written"] = n_new
        metrics["manifest_shards_carried"] = n_carried
        # every commit path embeds this metrics dict in the manifest, so
        # the byte count is part of the payload it counts: serialize once
        # with a one-digit placeholder, then patch in the fixed point
        # (bytes without the placeholder + the count's own digits)
        metrics["manifest_bytes_written"] = 0
        top_payload = json.dumps(dict(manifest, files=raw_files), indent=1)
        n = shard_bytes + len(top_payload) - 1
        n += len(str(n + len(str(n))))
        metrics["manifest_bytes_written"] = n
        top_payload = top_payload.replace(
            '"manifest_bytes_written": 0', f'"manifest_bytes_written": {n}', 1)
        mpath = os.path.join(self.root, "manifests", f"v{version}.json")
        # exclusive: a concurrent writer that prepared against the same
        # parent (continuous ingest racing a background compact/rebucket)
        # would otherwise overwrite this manifest and regress the
        # checkpoint — exactly one commit per version number can ever win
        _atomic_write(mpath, top_payload, exclusive=True)
        _atomic_write(self._latest_path, str(version))
        _atomic_write(
            os.path.join(self.root, "metrics", f"batch-v{version}.json"),
            json.dumps(metrics, indent=1),
        )
        # identity carry only ever starts from the current version
        # (commits build on self.manifest()), so the memo keeps exactly
        # the entries just published
        entries = manifest["files"]
        self._shard_cache = {raw_files[b]["ptr"]: entries[b] for b in raw_files}
        self._entry_ptr = {
            id(entries[b]): (entries[b], raw_files[b]["ptr"]) for b in raw_files
        }
        return manifest

    # --- maintenance ----------------------------------------------------------

    def live_data_dirs(self) -> set[str]:
        m = self.manifest()
        return {
            os.path.normpath(os.path.join(self.root, p))
            for entry in m["files"].values()
            for p in _chain(entry)
        }

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        """Drop manifests/data older than the last N versions (reference
        analog: geoinfo retention ``load_id <= max - k``, main.py:482-486).
        Data dirs still referenced by a kept manifest are preserved, and
        nothing above the current version is touched: a ``data/v{N}``
        dir or ``manifests/v{N}.json`` with N > current belongs to a
        writer whose commit is in flight."""
        if keep_last < 1:
            # keep_last=0 would compute an empty live set and delete every
            # manifest and data dir while _LATEST still points at the
            # removed version — an unrecoverable table
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        cur = self.version()
        oldest_kept = max(1, cur - keep_last + 1)
        live: set[str] = set()
        live_shards: set[str] = set()
        for v in range(oldest_kept, cur + 1):
            p = os.path.join(self.root, "manifests", f"v{v}.json")
            if os.path.exists(p):
                m = self._raw_manifest(v)
                for entry in self._resolve_files(m["files"]).values():
                    for rel in _chain(entry):
                        # a data path lives under data/v{K}/; keep that version dir
                        live.add(rel.split("/")[1])
                live_shards.update(
                    os.path.basename(raw["ptr"]) for raw in m["files"].values())
        removed = []
        data_root = os.path.join(self.root, "data")
        for entry in sorted(os.listdir(data_root)):
            if (entry.startswith("v") and entry not in live
                    and int(entry[1:]) < oldest_kept):
                shutil.rmtree(os.path.join(data_root, entry))
                removed.append(entry)
        manifests_dir = os.path.join(self.root, "manifests")
        for entry in sorted(os.listdir(manifests_dir)):
            if not entry.endswith(".json"):
                continue  # the shards/ subdir, handled below
            if int(entry[1:].split(".")[0]) < oldest_kept:
                os.remove(os.path.join(manifests_dir, entry))
        # shard GC: content-addressed shards referenced by no kept
        # manifest (expired versions' entries, or orphans of a writer
        # that lost the exclusive top-manifest race)
        shards_dir = os.path.join(manifests_dir, "shards")
        if os.path.isdir(shards_dir):
            for entry in sorted(os.listdir(shards_dir)):
                if entry.endswith(".json") and entry not in live_shards:
                    os.remove(os.path.join(shards_dir, entry))
        return removed
