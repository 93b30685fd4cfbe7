"""Snapshot store — versioned, partition-granular parquet tables.

The Iceberg stand-in (this container ships no Iceberg runtime jars; the
API mirrors the subset of Iceberg semantics the engine needs, so the
backend can be swapped for `df.writeTo(tbl).overwritePartitions()` +
snapshot metadata on a real cluster):

- every write produces a new immutable **snapshot**: a JSON manifest
  mapping partition-key -> (data path, row count, content fingerprint);
- partition data is written ONCE and never mutated — an overwrite
  writes new partition dirs and re-points the manifest (old snapshots
  stay readable: time travel / rollback for free);
- commits are OPTIMISTICALLY CONCURRENT: the commit point is atomic
  creation of the next manifest file (hard-link CAS, `_atomic_create`),
  so any number of writers race safely — losers rebase (disjoint
  partition sets) or get `CommitConflict` (overlapping/schema), the
  Iceberg catalog's validate-and-rebase protocol;
- `diff(a, b)` is metadata-only: compare manifests, return changed
  keys — the analog of ariadne's git-accelerated change detection
  (`packages/core/src/persistence/git_change_detection.ts:47-74`:
  tree-hash fast path, per-file blob hashes) and its `CacheManifest`
  content hashes (`packages/core/src/persistence/cache_manifest.ts:10-21`).

Content fingerprints are order-independent (sum of per-row xxhash64
over all columns, mod 2^64) so they are stable across partitioning,
shuffle order, and cluster size — required for cross-cluster-size
equality evidence.

The store also keeps the **lineage log** (`lineage.jsonl`): one row per
(stage, partition, snapshot) with row counts, wall ms and status — the
per-partition lineage rows + counters the north rule requires, and the
`restore_file` analog (`packages/core/src/project/project.ts:220-235`):
a stage/partition whose lineage row is `done` for the target snapshot
is skipped on resume.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FINGERPRINT_MOD = 1 << 64

# bound on lost-CAS retries before a commit surfaces CommitConflict;
# each retry re-reads the current manifest and re-validates, so this
# only trips under sustained write contention on one table
COMMIT_RETRIES = 10


@dataclass
class Manifest:
    table: str
    snapshot_id: int
    parent_id: int | None
    # key(str) -> {"path": str, "n_rows": int, "fingerprint": int,
    #              "stats": {col: {"min": v, "max": v, "nulls": n}}}
    # ("stats" present only for columns in stats_cols at write time)
    partitions: dict[str, dict] = field(default_factory=dict)
    schema_json: str | None = None
    # partition-key column name, recorded so maintenance operations
    # (compact) need no out-of-band knowledge of the table layout
    key: str | None = None
    # zone-map columns: per-partition min/max/null-count collected at
    # write time (Iceberg manifest column stats). Recorded so every
    # subsequent overwrite/compact keeps collecting the same stats
    # without out-of-band knowledge.
    stats_cols: list[str] | None = None
    # merge-on-read EQUALITY-DELETE files (Iceberg v2 delete files):
    # [{"path": str, "pk": col, "n_rows": int}] — pk-keyed tombstones
    # readers anti-join at scan time; None/[] = none outstanding.
    # Semantics here are GLOBAL pk tombstones (position-independent,
    # so they survive compaction unchanged) until materialized.
    delete_files: list[dict] | None = None
    # per-partition pk Bloom filters (Iceberg puffin-blob analog):
    # columns opted in + filter width; bits live in each partition
    # entry's "bloom" dict. Recorded so overwrite/compact keep
    # collecting them without out-of-band knowledge.
    bloom_cols: list[str] | None = None
    bloom_bits: int | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "table": self.table,
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "partitions": self.partitions,
                "schema_json": self.schema_json,
                "key": self.key,
                "stats_cols": self.stats_cols,
                "delete_files": self.delete_files,
                "bloom_cols": self.bloom_cols,
                "bloom_bits": self.bloom_bits,
            },
            sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        return Manifest(
            d["table"], d["snapshot_id"], d["parent_id"], d["partitions"],
            d.get("schema_json"), d.get("key"), d.get("stats_cols"),
            d.get("delete_files"), d.get("bloom_cols"), d.get("bloom_bits"),
        )


# Zone-map stat values are bounded in size so manifests stay small at
# any row count: strings are truncated to this many characters (min ->
# plain prefix, still a valid lower bound; max -> prefix with the last
# character bumped, a strict upper bound — Iceberg's truncate(16)
# transform with the same bump rule).
_STAT_STR_CAP = 64


def _stat_lower(v):
    """Serialize a column MIN as a JSON-safe lower bound (or None =
    unknown, which pruning treats as unbounded-below)."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        import math

        return v if math.isfinite(v) else None
    if isinstance(v, str):
        return v[:_STAT_STR_CAP]
    return None  # unorderable/unknown type: no bound


def _stat_upper(v):
    """Serialize a column MAX as a JSON-safe upper bound. A truncated
    string prefix is NOT an upper bound of the original (\"bbb...\" >
    \"bb\"), so the last representable character of the prefix is bumped;
    if every character is already U+10FFFF the bound is unknown (None)."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        import math

        return v if math.isfinite(v) else None
    if isinstance(v, str):
        if len(v) <= _STAT_STR_CAP:
            return v
        p = v[:_STAT_STR_CAP]
        for i in range(len(p) - 1, -1, -1):
            c = ord(p[i])
            if c < 0x10FFFF:
                nc = c + 1
                if 0xD800 <= nc <= 0xDFFF:  # skip the surrogate gap
                    nc = 0xE000
                return p[:i] + chr(nc)
        return None
    return None


BLOOM_BITS_DEFAULT = 8192  # 128 longs ~ 1 KB/partition/col in the manifest
_BLOOM_SALTS = (0, 1)  # k = 2 hash functions

# Spark's hive-layout dir escaping (ExternalCatalogUtils.escapePathName):
# partitionBy writes `__pk=<escaped>` directories, so manifest paths must
# record the SAME escaping or a key value containing any of these chars
# points the manifest at a directory that does not exist (probed
# empirically on this Spark: '}' is NOT escaped while '{' '[' ']' are).
_PK_ESCAPE_CHARS = set('"#%\'*/:=?\\[]^{\x7f') | {chr(c) for c in range(0x20)}
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_pk(value: str) -> str:
    """Escape a partition-key value exactly as Spark's partitionBy names
    the directory (percent-encoding of the hive special set)."""
    return "".join(
        f"%{ord(ch):02X}" if ch in _PK_ESCAPE_CHARS else ch for ch in value
    )


def _unescape_pk(name: str) -> str:
    """Inverse of _escape_pk for directory names listed on disk."""
    out, i = [], 0
    while i < len(name):
        if name[i] == "%" and i + 3 <= len(name):
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(name[i])
        i += 1
    return "".join(out)


def _check_pk_value(k, table: str) -> None:
    """Reject partition-key values whose on-disk dir name is ambiguous:
    Spark writes BOTH NULL and '' as __HIVE_DEFAULT_PARTITION__, and the
    manifest keys partitions by the value's string rendering, so these
    (and the literal sentinel itself) cannot round-trip. Loud beats a
    manifest that silently points at a directory that can't be told
    apart from another key's."""
    if k is None or k == "" or k == "None" or k == _HIVE_DEFAULT_PARTITION:
        raise ValueError(
            f"table {table!r}: partition key value {k!r} cannot be used — "
            "NULL/empty keys all land in the same "
            f"{_HIVE_DEFAULT_PARTITION} directory (and 'None' collides "
            "with NULL's string rendering); filter or backfill the key "
            "column first"
        )


def bloom_positions(value, bloom_bits: int) -> list[int]:
    """Bit positions of `value` in a manifest pk-bloom — the python
    twin of the Column expressions in `partition_summary` (both sides
    are crc32 over the value's STRING rendering + '#salt', so longs
    and strings agree across engines; restrict bloom columns to
    int/string types)."""
    import zlib

    assert bloom_bits >= 64 and bloom_bits % 64 == 0, (
        f"bloom_bits must be a positive multiple of 64, got {bloom_bits} "
        "(a partial last chunk would silently drop high bit positions)"
    )
    return [
        zlib.crc32(f"{value}#{s}".encode()) % bloom_bits for s in _BLOOM_SALTS
    ]


def partition_summary(
    df: DataFrame,
    key: str,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = BLOOM_BITS_DEFAULT,
) -> dict[str, dict]:
    """key -> {n_rows, fingerprint} in ONE pass (order-independent).

    With `stats_cols`, the same pass also collects per-partition
    min/max/null-count zone maps for those columns (all aggregates are
    order- and parallelism-independent, so manifests stay bit-identical
    across cluster sizes). The shuffle stays tiny: one row per
    (partition, mapper) after map-side partial aggregation.

    With `bloom_cols`, the same pass ALSO folds a per-partition Bloom
    filter over each listed column (k=2 crc32 hashes, `bloom_bits`
    bits as bloom_bits/64 bit_or-aggregated longs — order-independent,
    so manifests stay deterministic). Size m ~ 10x the per-partition
    distinct count for ~1% false positives; an undersized filter
    saturates toward all-ones, which only costs pruning power, never
    correctness (membership stays conservative)."""
    cols = [c for c in df.columns]
    row_hash = F.xxhash64(*[F.col(c) for c in cols])
    aggs = [
        F.count("*").alias("n"),
        # sum of uint64 hashes mod 2^64 via two 32-bit halves, each
        # accumulated in decimal(38,0): a long accumulator overflows
        # past ~2^31 rows per partition and Spark 4's default ANSI mode
        # turns that into ARITHMETIC_OVERFLOW at the summarize step
        # (decimal holds exact sums to 1e38 ≈ 2^96-row partitions; the
        # python combine below is arbitrary-precision, so fingerprint
        # VALUES are identical to the long form wherever it didn't
        # overflow)
        F.sum(F.shiftrightunsigned(row_hash, 32).cast("decimal(38,0)")).alias("hi"),
        F.sum(row_hash.bitwiseAND(F.lit(0xFFFFFFFF)).cast("decimal(38,0)")).alias("lo"),
    ]
    for c in stats_cols or []:
        assert c in df.columns, f"stats column {c!r} not in {df.columns}"
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nul_{c}"),
        ]
    if bloom_cols:
        assert bloom_bits >= 64 and bloom_bits % 64 == 0, (
            f"bloom_bits must be a positive multiple of 64, got {bloom_bits}"
        )
    n_chunks = bloom_bits // 64
    _BLOOM_TYPES = ("tinyint", "smallint", "int", "bigint", "string")
    dtypes = dict(df.dtypes)
    for c in bloom_cols or []:
        assert c in df.columns, f"bloom column {c!r} not in {df.columns}"
        # the python membership twin renders values via f-string; only
        # int/string renderings match Spark's CAST(c AS STRING)
        # (boolean 'true' vs 'True', decimal/timestamp formats differ)
        assert dtypes[c] in _BLOOM_TYPES, (
            f"bloom column {c!r} has type {dtypes[c]}; only integral and "
            "string columns keep the python/Spark hash twins identical"
        )
        # positions precomputed ONCE per row (projection below), so the
        # per-chunk aggregates are cheap conditionals
        for i in range(n_chunks):
            parts = []
            for s in _BLOOM_SALTS:
                p = f"__bpos{s}_{c}"
                parts.append(
                    f"CASE WHEN {p} IS NOT NULL AND {p} div 64 = {i} "
                    f"THEN shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT)) "
                    f"ELSE CAST(0 AS BIGINT) END"
                )
            aggs.append(F.expr(f"bit_or({' | '.join(parts)})").alias(f"__bl_{c}_{i}"))
    if bloom_cols:
        proj = [F.col(x) for x in df.columns]
        for c in bloom_cols:
            for s in _BLOOM_SALTS:
                proj.append(
                    F.expr(
                        f"crc32(encode(concat(cast({c} AS STRING), '#{s}'), "
                        f"'UTF-8')) % {bloom_bits}"
                    ).alias(f"__bpos{s}_{c}")
                )
        df = df.select(*proj)
    rows = df.groupBy(key).agg(*aggs).collect()
    out = {}
    for r in rows:
        fp = ((int(r["hi"]) << 32) + int(r["lo"])) % FINGERPRINT_MOD
        entry = {"n_rows": int(r["n"]), "fingerprint": fp}
        if stats_cols:
            entry["stats"] = {
                c: {
                    "min": _stat_lower(r[f"__min_{c}"]),
                    "max": _stat_upper(r[f"__max_{c}"]),
                    "nulls": int(r[f"__nul_{c}"]),
                }
                for c in stats_cols
            }
        if bloom_cols:
            entry["bloom"] = {
                c: [
                    int(r[f"__bl_{c}_{i}"] or 0) for i in range(n_chunks)
                ]
                for c in bloom_cols
            }
        out[str(r[key])] = entry
    return out


def _atomic_write(path: str, content: str) -> None:
    """Write-to-temp + rename: atomic on POSIX, so a crash mid-write can
    never leave a truncated file at `path`. Last-writer-wins — used only
    for advisory files (the HEAD cache, sync markers), never for the
    commit point itself (see `_atomic_create`)."""
    tmp = f"{path}.tmp.{os.getpid()}.{uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(content)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, path)


class CommitConflict(RuntimeError):
    """Another writer committed the snapshot id this writer raced for.

    The write's data files are orphaned (never referenced) and the
    table is untouched — safe to retry from the new current snapshot.
    `overwrite_partitions` retries automatically when the competing
    commit touched a disjoint partition set (Iceberg's
    validate-and-rebase optimistic concurrency); overlapping writes and
    schema changes surface this error to the caller."""


def _atomic_create(path: str, content: str) -> bool:
    """Create-if-absent, atomically: write-to-temp + hard `link(2)`,
    which fails with EEXIST if `path` already exists — so of any number
    of concurrent writers racing to create `path`, EXACTLY one wins.
    This is the store's commit CAS (the optimistic-commit primitive an
    Iceberg catalog provides; same linearization point as Iceberg's
    version-file swap). Returns True iff this caller created the file."""
    tmp = f"{path}.tmp.{os.getpid()}.{uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(content)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


class CommitBackend:
    """Pluggable metadata-commit primitives — the storage seam.

    Mirrors the reference's persistence seam
    (`packages/core/src/persistence/storage.ts`,
    `file_system_storage.ts:1-100`): ALL of the snapshot protocol's
    metadata I/O goes through this interface, so the commit medium can
    change (local FS today, object store at 100 TB) without touching
    any snapshot/manifest logic. Write primitives:

    - ``create_exclusive(path, content) -> bool`` — the commit CAS: of
      any number of concurrent writers racing to create ``path``,
      exactly one returns True. POSIX: hard ``link(2)`` EEXIST. S3:
      conditional PUT with ``If-None-Match: *`` (GA since 2024), or a
      DynamoDB ``attribute_not_exists`` item put (the Iceberg/Delta
      commit-service pattern). GCS: ``ifGenerationMatch=0``
      precondition. ABFS: ``If-None-Match: *`` ETag precondition.
    - ``write_advisory(path, content)`` — last-writer-wins atomic
      write for non-commit metadata (the HEAD cache, sync markers):
      temp+rename on POSIX; a plain PUT on any object store (object
      PUTs are atomic per key).

    Read-side primitives (every object store provides these; the
    protocol's correctness assumes read-after-write consistency per
    KEY — S3/GCS/ABFS all guarantee it — but only BOUNDED-staleness
    for ``list_names``, which the HEAD cache + forward probe in
    `current_snapshot_id` is designed around):

    - ``read_text(path) -> str`` — GET; raises FileNotFoundError when
      absent.
    - ``exists(path) -> bool`` — HEAD.
    - ``list_names(dirpath) -> list[str]`` — LIST by prefix, returning
      basenames; MAY lag recent puts (eventual list consistency).
    - ``remove(path)`` — DELETE (idempotent on missing keys).

    Data files are parquet written by Spark under unique version dirs
    and referenced only via committed manifests, so they need nothing
    beyond what Spark's Hadoop/S3A committers already provide —
    orphaned files from losing writers are invisible and reclaimable.
    The lineage log (`lineage.jsonl`) is a local observability sidecar,
    not part of the commit protocol (a cluster deployment would ship it
    to a log table).
    """

    def create_exclusive(self, path: str, content: str) -> bool:
        raise NotImplementedError

    def write_advisory(self, path: str, content: str) -> None:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def list_names(self, dirpath: str) -> list[str]:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError


class PosixCommitBackend(CommitBackend):
    """Local FS / NFS / HDFS-semantics implementation. The module-level
    primitives are resolved at call time so crash-injection tests can
    monkeypatch `_atomic_create`/`_atomic_write` underneath it."""

    def create_exclusive(self, path: str, content: str) -> bool:
        return _atomic_create(path, content)

    def write_advisory(self, path: str, content: str) -> None:
        _atomic_write(path, content)

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def list_names(self, dirpath: str) -> list[str]:
        try:
            return sorted(os.listdir(dirpath))
        except FileNotFoundError:
            return []

    def remove(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


class SnapshotStore:
    """Versioned partitioned tables + lineage log under one root dir."""

    def __init__(
        self, spark: SparkSession, root: str, backend: CommitBackend | None = None
    ):
        import threading

        self.spark = spark
        self.root = root
        self.backend = backend if backend is not None else PosixCommitBackend()
        # stages may log/read lineage from concurrent threads (see
        # incremental._run_stages); appends and full-file parses must
        # not interleave or a reader can see a torn trailing line
        self._lineage_lock = threading.Lock()
        os.makedirs(f"{root}/manifests", exist_ok=True)
        os.makedirs(f"{root}/data", exist_ok=True)

    # -- manifests ---------------------------------------------------------

    def _manifest_path(self, table: str, snapshot_id: int) -> str:
        # dots/slashes in table names would cross-contaminate the flat
        # manifests namespace: 'a.b' commits files snapshot_ids('a')
        # would mis-parse, and a table named 'x.tag' masquerades as
        # x's tag files — reject at every path-construction point
        assert table and "." not in table and "/" not in table, (
            f"bad table name {table!r}: must be non-empty, no '.' or '/'"
        )
        return f"{self.root}/manifests/{table}.{snapshot_id}.json"

    def _head_path(self, table: str) -> str:
        return f"{self.root}/manifests/{table}.HEAD"

    def current_snapshot_id(self, table: str) -> int | None:
        """Newest committed snapshot. The commit point is atomic
        CREATION of the manifest file (`_commit`), so every manifest on
        disk is committed and ids are dense — resolve by reading the
        advisory HEAD cache and probing FORWARD past any commits whose
        cache update was lost (crash between manifest create and cache
        write, or two writers' cache writes landing out of order). With
        no cache (fresh copy of an old store) fall back to a listing —
        and probe forward from ITS max too, because object-store
        listings may lag recent puts (eventual list consistency);
        per-key exists() is read-after-write consistent, so the probe
        always lands on the true head as long as the listing surfaces
        at least one manifest."""
        head = self._head_path(table)
        sid: int | None = None
        if self.backend.exists(head):
            txt = self.backend.read_text(head).strip()
            if txt:
                sid = int(txt)
        if sid is not None and not self.backend.exists(
            self._manifest_path(table, sid)
        ):
            # stale HEAD below the kept tail AFTER an expire_snapshots
            # (out-of-order advisory writes are last-writer-wins): the
            # forward probe from sid would stop inside the expired gap
            # and resolve a REMOVED manifest. Ids are no longer dense
            # below the tail, so fall back to the listing.
            sid = None
        if sid is None:
            ids = self.snapshot_ids(table)
            # before any expire, ids are dense from 0, so an EMPTY
            # (possibly stale) listing is only a probe start point too:
            # a first commit whose advisory-HEAD write was lost AND
            # that the lagging listing has not surfaced yet is still
            # found by the per-key probe from 0 (read-after-write
            # consistent on every store) — returning None here would
            # make a durably committed table invisible and a retrying
            # writer lose the sid-0 race forever. After an expire the
            # durable HEAD (written BEFORE any manifest removal) or the
            # kept tail in the listing anchors the probe instead.
            sid = ids[-1] if ids else -1
        while self.backend.exists(self._manifest_path(table, sid + 1)):
            sid += 1
        return sid if sid >= 0 else None

    def _commit(self, m: Manifest) -> bool:
        """CAS commit: atomically CREATE the manifest file for
        `m.snapshot_id` — of any writers racing for that id, exactly
        one `link(2)` succeeds, so commits are linearized without a
        lock (the Iceberg catalog's optimistic version swap). Data
        files were already written under a unique version dir; a loser
        writer's files are unreferenced orphans. Returns True iff this
        writer won the id; on a win the advisory HEAD cache is
        refreshed (a crash before the cache write is harmless —
        `current_snapshot_id` probes forward). Both primitives go
        through the pluggable `CommitBackend` (POSIX here; S3/GCS
        conditional-put mappings documented on the class)."""
        if not self.backend.create_exclusive(
            self._manifest_path(m.table, m.snapshot_id), m.to_json()
        ):
            return False
        self.backend.write_advisory(self._head_path(m.table), str(m.snapshot_id))
        return True

    def manifest(self, table: str, snapshot_id=None) -> Manifest | None:
        """Manifest of a snapshot: by int id, by TAG NAME (str), or the
        current one (None) — every reader (`read`, `prune_keys`, `diff`)
        resolves through here, so tags address them all."""
        sid = self._resolve_sid(table, snapshot_id)
        if sid is None:
            return None
        return Manifest.from_json(
            self.backend.read_text(self._manifest_path(table, sid))
        )

    def snapshot_ids(self, table: str) -> list[int]:
        """All snapshot ids the backend LISTS a manifest for
        (ascending). Every manifest is committed (creation IS the
        commit); note an object-store listing may lag the newest
        commits, which is why `current_snapshot_id` forward-probes
        past the max with per-key exists()."""
        # STRICT parse `{table}.<digits>.json`: a loose
        # startswith/endswith filter would crash on a tag literally
        # named 'json' (file `t.tag.json`) and mis-attribute dotted
        # names' files — only all-digit middles are snapshot manifests
        pre, suf = f"{table}.", ".json"
        out = []
        for f in self.backend.list_names(f"{self.root}/manifests"):
            if f.startswith(pre) and f.endswith(suf):
                mid = f[len(pre) : -len(suf)]
                if mid.isdigit():
                    out.append(int(mid))
        return sorted(out)

    # -- tags ----------------------------------------------------------------

    def _tag_path(self, table: str, name: str) -> str:
        assert "/" not in name and "." not in name, f"bad tag name {name!r}"
        return f"{self.root}/manifests/{table}.tag.{name}"

    def tag(self, table: str, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under an immutable name (Iceberg `CREATE TAG`):
        tagged snapshots survive `expire_snapshots`, and reads can
        address them by name (`read(table, snapshot_id='name')`) — the
        release/audit handle ("the corpus we trained run X on"). Tags
        are created with the backend's exclusive-create CAS, so two
        writers racing for one name resolve like commits do; re-tagging
        an existing name raises (drop it first: tags are immutable
        pointers, not branches). Returns the pinned snapshot id."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id(table)
        assert sid is not None, f"table {table} has no snapshot"
        assert self.backend.exists(self._manifest_path(table, sid)), (
            f"no snapshot {sid} for {table}"
        )
        # namespace check by PER-KEY probe (_branch_version forward-
        # probes version 0 even when the listing is empty) — a listing-
        # based branches() check could miss a just-created branch on a
        # lagging object-store LIST and let the tag silently shadow it
        assert self._branch_version(table, name) is None, (
            f"{name!r} is already a branch on {table} (one name namespace)"
        )
        if not self.backend.create_exclusive(self._tag_path(table, name), str(sid)):
            raise CommitConflict(f"tag {name!r} already exists on {table}")
        # the two namespace keys cannot be created atomically, so a
        # concurrent branch() of the same name can slip between the
        # probe above and our create. Whichever op creates SECOND sees
        # the other's key (per-key read-after-write) — re-check after
        # creating and roll our key back, so the one-name namespace
        # invariant holds under the race (both racing sides may roll
        # back; that is safe — callers retry)
        if self._branch_version(table, name) is not None:
            self.backend.remove(self._tag_path(table, name))
            raise CommitConflict(
                f"{name!r} was concurrently created as a branch on {table}"
            )
        return sid

    def tags(self, table: str) -> dict[str, int]:
        """name -> snapshot id for every tag on the table."""
        prefix = f"{table}.tag."
        out = {}
        for f in self.backend.list_names(f"{self.root}/manifests"):
            # skip crash-leftover temp files (`*.tmp.<pid>.<hex>` from
            # _atomic_write/_atomic_create killed between fsync and
            # unlink): they would surface as ghost tags — or crash the
            # int() on a torn one — until deleted by hand. Real tag
            # names cannot contain '.', so the substring is unambiguous.
            if f.startswith(prefix) and ".tmp." not in f:
                try:
                    out[f[len(prefix):]] = int(
                        self.backend.read_text(
                            f"{self.root}/manifests/{f}"
                        ).strip()
                    )
                except FileNotFoundError:
                    # dropped by a concurrent drop_tag between LIST and
                    # read — a deleted tag simply is not listed
                    continue
        return out

    def drop_tag(self, table: str, name: str) -> None:
        self.backend.remove(self._tag_path(table, name))

    # -- branches ------------------------------------------------------------

    def _branch_prefix(self, table: str, name: str) -> str:
        assert "/" not in name and "." not in name, f"bad branch name {name!r}"
        return f"{self.root}/manifests/{table}.branch.{name}."

    def branch(self, table: str, name: str, snapshot_id: int | None = None) -> int:
        """Create a MUTABLE named pointer at a snapshot (Iceberg
        `CREATE BRANCH`): unlike a tag it can be re-pointed with
        `move_branch`, so readers that pin `read(table, 'name')` follow
        a controlled publication stream while writers keep committing
        to the table's linear history. Built on the same exclusive-
        create CAS as commits — each re-point is a NEW chained version
        file, never an in-place mutate, so it is object-store safe and
        two racing movers resolve deterministically (one wins, one gets
        CommitConflict). Branch-referenced snapshots survive
        `expire_snapshots` like tagged ones."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id(table)
        assert sid is not None, f"table {table} has no snapshot"
        assert self.backend.exists(self._manifest_path(table, sid)), (
            f"no snapshot {sid} for {table}"
        )
        # symmetric per-key namespace probe: tags() is listing-based and
        # a lagging LIST could miss a just-created tag of this name
        assert not self.backend.exists(self._tag_path(table, name)), (
            f"{name!r} is already a tag on {table} (one name namespace)"
        )
        if not self.backend.create_exclusive(
            self._branch_prefix(table, name) + "0", str(sid)
        ):
            raise CommitConflict(f"branch {name!r} already exists on {table}")
        # symmetric post-create cross-check (see tag()): a concurrent
        # tag() of this name between our probe and our create is caught
        # here by whichever side created second
        if self.backend.exists(self._tag_path(table, name)):
            self.backend.remove(self._branch_prefix(table, name) + "0")
            raise CommitConflict(
                f"{name!r} was concurrently created as a tag on {table}"
            )
        return sid

    def branches(self, table: str) -> dict[str, int]:
        """name -> snapshot id of every branch's CURRENT version. The
        chained version files are create-only, so like commits they are
        found by listing + a per-key forward probe past any versions a
        stale listing misses."""
        prefix = f"{table}.branch."
        latest: dict[str, int] = {}
        for f in self.backend.list_names(f"{self.root}/manifests"):
            # skip crash-leftover temp files (`*.tmp.<pid>.<hex>`; the
            # hex can be all digits, so the .tmp. marker is the only
            # reliable cue) and anything else that does not parse as
            # `<dotless-name>.<digits>` — they would otherwise crash
            # every branches()/expire_snapshots() call or fabricate
            # ghost branches
            if not f.startswith(prefix) or ".tmp." in f:
                continue
            name, _, ver = f[len(prefix):].rpartition(".")
            if not ver.isdigit() or "." in name:
                continue
            v = int(ver)
            if name not in latest or v > latest[name]:
                latest[name] = v
        out: dict[str, int] = {}
        for name, v in latest.items():
            while self.backend.exists(self._branch_prefix(table, name) + str(v + 1)):
                v += 1
            try:
                out[name] = int(
                    self.backend.read_text(
                        self._branch_prefix(table, name) + str(v)
                    ).strip()
                )
            except FileNotFoundError:
                # dropped by a concurrent drop_branch between LIST and
                # read — a deleted branch simply is not listed
                continue
        return out

    def _branch_version(self, table: str, name: str) -> int | None:
        prefix = f"{table}.branch.{name}."
        vs = [
            int(f[len(prefix):])
            for f in self.backend.list_names(f"{self.root}/manifests")
            # digit guard: skip crash-leftover `*.tmp.*` files
            if f.startswith(prefix) and f[len(prefix):].isdigit()
        ]
        # version files are dense from 0, so a stale listing (even one
        # that has not surfaced the branch at all yet) is only a probe
        # START point: forward per-key exists() — read-after-write
        # consistent on every store — always lands on the true version
        v = max(vs) if vs else -1
        while self.backend.exists(self._branch_prefix(table, name) + str(v + 1)):
            v += 1
        return v if v >= 0 else None

    def move_branch(self, table: str, name: str, snapshot_id: int) -> None:
        """Re-point a branch (Iceberg fast-forward / `replace branch`):
        CAS-create the next chained version file. A lost race (someone
        else moved the branch between your read and your publish) is a
        real publication conflict and raises — the caller must re-audit
        against the new state, exactly like Iceberg's replace-branch
        retry contract."""
        cur = self._branch_version(table, name)
        assert cur is not None, f"no branch {name!r} on {table}"
        assert self.backend.exists(self._manifest_path(table, snapshot_id)), (
            f"no snapshot {snapshot_id} for {table}"
        )
        if not self.backend.create_exclusive(
            self._branch_prefix(table, name) + str(cur + 1), str(snapshot_id)
        ):
            raise CommitConflict(
                f"branch {name!r} on {table} was moved concurrently"
            )

    def drop_branch(self, table: str, name: str) -> None:
        prefix = f"{table}.branch.{name}."
        top = -1
        for f in self.backend.list_names(f"{self.root}/manifests"):
            if f.startswith(prefix):
                self.backend.remove(f"{self.root}/manifests/{f}")
                ver = f.rpartition(".")[2]
                if ver.isdigit():
                    top = max(top, int(ver))
        # forward-probe past the listing like every other reader: an
        # eventually-consistent LIST may lag the newest version files,
        # and a survivor would resurrect the branch (and permanently
        # block re-use of the name in the shared tag namespace)
        v = top + 1
        while self.backend.exists(self._branch_prefix(table, name) + str(v)):
            self.backend.remove(self._branch_prefix(table, name) + str(v))
            v += 1

    def write_audit_publish(
        self,
        df: DataFrame,
        table: str,
        key: str,
        audit,
        branch_name: str = "published",
        **write_kwargs,
    ) -> tuple[int, bool]:
        """The Iceberg WAP pattern over this store's primitives: WRITE
        a normal commit to the table's linear history (the staging
        stream), AUDIT the exact snapshot just written (`audit` gets
        the snapshot-pinned DataFrame and returns pass/fail — plug in
        the curation gates), and only on pass PUBLISH by fast-
        forwarding `branch_name` to it. Consumers that read
        `read(table, 'published')` therefore never observe an
        unaudited snapshot, while failed writes remain in history for
        debugging (and eventual `expire_snapshots`). Returns
        (snapshot_id, published)."""
        sid = self.write_table(df, table, key, **write_kwargs)
        ok = bool(audit(self.read(table, snapshot_id=sid)))
        if ok:
            if self._branch_version(table, branch_name) is None:
                self.branch(table, branch_name, sid)
            else:
                self.move_branch(table, branch_name, sid)
        return sid, ok

    def _resolve_sid(self, table: str, snapshot_id) -> int | None:
        """Accepts an int snapshot id, a tag or branch name (str), or
        None (current). Tags and branches share one name namespace
        (creation asserts disjointness); tags resolve first."""
        if isinstance(snapshot_id, str):
            # direct key probes first (read-after-write consistent), so
            # a just-created tag/branch resolves even while the
            # enumeration listing still lags it
            tp = self._tag_path(table, snapshot_id)
            if self.backend.exists(tp):
                try:
                    return int(self.backend.read_text(tp).strip())
                except FileNotFoundError:
                    # dropped between exists() and read: treat as
                    # absent and fall through to the branch probe,
                    # like tags()/branches() do
                    pass
            v = self._branch_version(table, snapshot_id)
            assert v is not None, (
                f"no tag or branch {snapshot_id!r} on {table}"
            )
            return int(
                self.backend.read_text(
                    self._branch_prefix(table, snapshot_id) + str(v)
                ).strip()
            )
        return snapshot_id if snapshot_id is not None else self.current_snapshot_id(table)

    def rollback(self, table: str, snapshot_id: int) -> int:
        """Roll back by committing a NEW snapshot whose partition set
        is the target's (Iceberg `rollback_to_snapshot`: history is
        append-only, ids stay monotonic, so the commit CAS stays
        valid — re-pointing HEAD backwards would collide the next
        writer's id with an existing manifest). Data is immutable so
        this re-references the target's files; no data is copied.
        Returns the new snapshot id."""
        target = self.manifest(table, snapshot_id)
        assert target is not None, f"no snapshot {snapshot_id} for {table}"
        for _ in range(COMMIT_RETRIES):
            cur = self.manifest(table)
            m = Manifest(
                table, cur.snapshot_id + 1, cur.snapshot_id,
                dict(target.partitions), schema_json=target.schema_json,
                key=target.key or cur.key,
                stats_cols=target.stats_cols or cur.stats_cols,
                delete_files=target.delete_files,
                bloom_cols=target.bloom_cols or cur.bloom_cols,
                bloom_bits=target.bloom_bits or cur.bloom_bits,
            )
            if self._commit(m):
                return m.snapshot_id
        raise CommitConflict(f"rollback of {table} lost {COMMIT_RETRIES} commit races")

    def expire_snapshots(
        self, table: str, keep_last: int = 1, orphan_ttl_s: float = 3600.0
    ) -> list[str]:
        """Drop all but the newest `keep_last` committed snapshots
        (HEAD is always kept) and delete version dirs no kept manifest
        references — the Iceberg `expire_snapshots` + orphan-file
        cleanup analog. Returns the removed version dirs. Bounds
        storage growth: without it every overwrite accrues data
        forever. Time travel to an expired snapshot then fails, like
        Iceberg.

        Dirs referenced only by EXPIRED manifests were committed once,
        so no writer can still be producing into them — they delete
        immediately. A dir referenced by NO manifest at all is either
        a crashed write's leftover or a CONCURRENT WRITER's not-yet-
        committed output; Iceberg's remove_orphan_files guards exactly
        this race with an age threshold, and so does `orphan_ttl_s`:
        true orphans younger than the TTL survive this pass (the
        in-flight writer commits or the next, later pass reclaims
        them)."""
        import shutil
        import time

        head = self.current_snapshot_id(table)
        assert head is not None, f"table {table} has no snapshot"
        sids = self.snapshot_ids(table)
        # tagged and branch-referenced snapshots are pinned (Iceberg:
        # refs exempt snapshots from expiration) — their manifests AND
        # data dirs survive
        keep = (
            set(sids[-keep_last:])
            | {head}
            | set(self.tags(table).values())
            | set(self.branches(table).values())
        )
        referenced = set()
        ever_referenced = set()
        for s in sids:
            m = self.manifest(table, s)
            dirs = {
                os.path.dirname(self._abs_path(p["path"]))
                for p in m.partitions.values()
            }
            # equality-delete tombstone files are version dirs too
            dirs |= {self._abs_path(e["path"]) for e in (m.delete_files or [])}
            ever_referenced |= dirs
            if s in keep:
                referenced |= dirs
        removed = []
        now = time.time()
        # refresh the advisory cache BEFORE any removal: manifest ids
        # stop being dense once the loop below runs, and a stale cache
        # below the kept tail would make current_snapshot_id's forward
        # probe stop inside the gap — resolving a just-removed manifest
        # for any reader in (or after a crash in) the removal window
        self.backend.write_advisory(self._head_path(table), str(head))
        data_dir = f"{self.root}/data/{table}"
        if os.path.isdir(data_dir):
            for entry in sorted(os.listdir(data_dir)):
                vdir = f"{data_dir}/{entry}"
                if vdir in referenced:
                    continue
                if vdir not in ever_referenced:
                    # never committed: possible in-flight writer — only
                    # reclaim past the orphan TTL. Age by the NEWEST
                    # mtime anywhere in the tree (the top dir's mtime
                    # freezes once its subdirs exist, so a writer still
                    # producing part files deep inside would look stale
                    # at the top; Iceberg's remove_orphan_files ages
                    # files, not directories, for the same reason)
                    try:
                        newest = os.path.getmtime(vdir)
                        for dp, _dns, fns in os.walk(vdir):
                            newest = max(newest, os.path.getmtime(dp))
                            for fn in fns:
                                newest = max(
                                    newest, os.path.getmtime(os.path.join(dp, fn))
                                )
                    except OSError:
                        continue  # vanished underneath us (writer cleanup)
                    if now - newest < orphan_ttl_s:
                        continue
                shutil.rmtree(vdir)
                removed.append(vdir)
        for s in sids:
            if s not in keep:
                self.backend.remove(self._manifest_path(table, s))
        return removed

    def add_column(self, table: str, name: str, ddl_type: str) -> int:
        """Schema evolution (Iceberg `ALTER TABLE ... ADD COLUMN`):
        commit a METADATA-ONLY snapshot whose schema appends a nullable
        column — no data file is touched. Reads serve the committed
        schema (`read`), so pre-evolution files yield NULL for the new
        column; `compact` materializes it physically. Every subsequent
        write must include the column (`_conform` enforces the full
        set). `ddl_type` is a Spark DDL type string ("bigint",
        "string", "array<float>", ...)."""
        from pyspark.sql.types import StructType

        added = StructType.fromDDL(f"{name} {ddl_type}")
        for _ in range(COMMIT_RETRIES):
            cur = self.manifest(table)
            assert cur is not None and cur.schema_json, (
                f"table {table} has no committed schema to evolve"
            )
            target = StructType.fromJson(json.loads(cur.schema_json))
            assert name not in target.fieldNames(), (
                f"column {name} already exists on {table}"
            )
            evolved = StructType(target.fields + list(added.fields))
            m = Manifest(
                table, cur.snapshot_id + 1, cur.snapshot_id,
                dict(cur.partitions), schema_json=evolved.json(), key=cur.key,
                stats_cols=cur.stats_cols, delete_files=cur.delete_files,
                bloom_cols=cur.bloom_cols, bloom_bits=cur.bloom_bits,
            )
            if self._commit(m):
                return m.snapshot_id
        raise CommitConflict(
            f"add_column on {table} lost {COMMIT_RETRIES} commit races"
        )

    def _part_physical_columns(self, part: dict) -> set[str]:
        """Columns physically present in a partition's data files, read
        from one file's parquet footer (driver-side, metadata only)."""
        import pyarrow.parquet as pq

        d = self._abs_path(part["path"])
        f = next((e for e in sorted(os.listdir(d)) if e.endswith(".parquet")), None)
        if f is None:
            raise AssertionError(
                f"partition dir {d} contains no .parquet data file "
                "(corrupted or manually pruned partition)"
            )
        return set(pq.ParquetFile(f"{d}/{f}").schema_arrow.names)

    def compact(
        self,
        table: str,
        keys: list[str] | None = None,
        sort_cols=None,
        max_records_per_file: int | None = None,
    ) -> int:
        """Iceberg `rewrite_data_files`: rewrite the current snapshot's
        partitions (all, or `keys`) into ONE fresh version dir and
        commit a snapshot re-pointing them. A long incremental-update
        history leaves the current snapshot referencing files scattered
        across one version dir per update — compaction collapses that
        to a single dir (and, with `max_records_per_file`, re-packs
        file sizes), after which `expire_snapshots` reclaims every old
        dir. Rows pass through unchanged: per-partition row counts and
        content fingerprints are asserted identical BEFORE the commit
        (for partitions whose files predate an `add_column`, identity
        is asserted over the physically-present columns and the rewrite
        materializes the evolved schema). Concurrency-safe: a partition
        overwritten underneath the rewrite is skipped at commit time —
        compaction never clobbers newer data (Iceberg's
        rewrite-vs-overwrite conflict rule); its rewritten files stay
        unreferenced orphans.

        Spatial clustering (the Z-ORDER `rewrite_data_files` analog):
        pass `sort_cols=[cells.hilbert_key(cells.cell_encode(lon, lat,
        res))]` with a `max_records_per_file` bound — each rewritten
        file then covers a tight Hilbert range, the refreshed manifest
        records per-file lon/lat zone maps, and a subsequent
        `read(where=bbox)` opens only the overlapping files
        (pinned in tests/test_zonemap.py)."""
        base = self.manifest(table)
        assert base is not None, f"table {table} has no snapshot"
        key = base.key
        assert key, f"manifest of {table} predates key recording"
        sel = sorted(base.partitions) if keys is None else sorted(
            k for k in keys if k in base.partitions
        )
        if not sel:
            return base.snapshot_id
        # RAW read: compaction rewrites physical content byte-for-byte
        # (the fingerprint identity gate below); outstanding equality
        # tombstones are carried in the manifest and keep applying at
        # read time — folding them here would break the identity gate
        # (that is materialize_deletes' job)
        df = self.read(table, base.snapshot_id, keys=sel, _apply_deletes=False)
        vdir = self._write_partition_data(
            df, table, key, base.snapshot_id + 1, sort_cols,
            max_records_per_file,
        )
        # compaction refreshes zone maps too: partitions written before
        # stats were enabled gain them here (content is identical, so
        # the recomputed stats describe exactly the committed rows)
        summary = self._summarize_written(
            vdir, key, base.stats_cols, base.bloom_cols, base.bloom_bits
        )
        rel = os.path.relpath(vdir, self.root)
        # identity gate: the rewrite must not change any row of any
        # partition. Pre-evolution partitions are fingerprinted over
        # their own physical columns (committed-schema order) so the
        # comparison is apples-to-apples with the recorded value.
        full_cols = frozenset(df.columns)
        phys = {
            k: frozenset(self._part_physical_columns(base.partitions[k]))
            for k in sel
        }
        subset_fp: dict[str, dict] = {}
        written = None
        for colset in {cs for cs in phys.values() if cs != full_cols}:
            if written is None:
                written = self.spark.read.parquet(vdir).drop("__pk")
            cols = [c for c in df.columns if c in colset]
            fps = partition_summary(written.select(cols), key)
            subset_fp.update(
                {k: fps[k] for k in sel if phys[k] == colset and k in fps}
            )
        for k in sel:
            want, got = base.partitions[k], summary.get(k)
            assert got is not None and got["n_rows"] == want["n_rows"], (
                f"compaction changed row count of {table}/{k}"
            )
            got_fp = subset_fp[k]["fingerprint"] if k in subset_fp else got["fingerprint"]
            assert got_fp == want["fingerprint"], (
                f"compaction changed content of {table}/{k}"
            )
        for _ in range(COMMIT_RETRIES):
            cur = self.manifest(table)
            moved = (
                set(self.diff(table, base.snapshot_id, cur.snapshot_id))
                if cur.snapshot_id != base.snapshot_id else set()
            )
            m = Manifest(
                table, cur.snapshot_id + 1, cur.snapshot_id,
                dict(cur.partitions), schema_json=cur.schema_json,
                key=cur.key, stats_cols=cur.stats_cols,
                # equality tombstones are position-independent: they
                # apply unchanged to the compacted files
                delete_files=cur.delete_files,
                bloom_cols=cur.bloom_cols, bloom_bits=cur.bloom_bits,
            )
            for k in sel:
                if k in moved or k not in cur.partitions:
                    continue  # lost the race for this partition: keep newer data
                _check_pk_value(k, table)
                m.partitions[k] = {"path": f"{rel}/__pk={_escape_pk(k)}", **summary[k]}
            if self._commit(m):
                return m.snapshot_id
        raise CommitConflict(
            f"compact of {table} lost {COMMIT_RETRIES} commit races"
        )

    # -- writes ------------------------------------------------------------

    def _conform(self, df: DataFrame, schema_json: str | None) -> DataFrame:
        """Cast an incoming frame to the table's committed schema — the
        fixed-schema discipline of the reference's compile-time record
        types (`packages/types/src/symbol_definitions.ts:236-248`).
        Without this, two snapshots of one table can carry different
        physical parquet types (int32 vs int64 `w`) and a multi-path
        read fails or succeeds depending on which file schema inference
        samples first."""
        if not schema_json:
            return df
        from pyspark.sql.types import StructType

        target = StructType.fromJson(json.loads(schema_json))
        want = [f.name for f in target.fields]
        assert set(df.columns) == set(want), (
            f"schema drift: incoming columns {sorted(df.columns)} "
            f"vs table schema {sorted(want)}"
        )
        return df.select([F.col(f.name).cast(f.dataType) for f in target.fields])

    def _write_partition_data(
        self, df: DataFrame, table: str, key: str, sid: int, sort_cols=None,
        max_records_per_file: int | None = None,
    ) -> str:
        """Write df (all partitions it contains) under a fresh version dir;
        returns the version dir. Data includes the key column (plain
        parquet dirs keyed by `key=<v>` subdirs via partitionBy, but the
        column is also kept in the data for hive-free reads).

        `sort_cols` (Column expressions) cluster rows within each
        partition's files — the Z-ORDER analog of Iceberg table layout
        (`ALTER TABLE ... WRITE ORDERED BY`): spatially adjacent rows
        land in adjacent row groups, so parquet min/max statistics
        prune range predicates inside a partition.

        The dir name carries a uuid suffix so two writers racing for
        the same snapshot id can never clobber each other's files —
        the loser's dir becomes an unreferenced orphan that
        `expire_snapshots` collects (the sid in the name is the
        attempted id, for debuggability only; manifests record the
        actual path).

        `max_records_per_file` bounds file sizes (Spark's
        `maxRecordsPerFile` write option — split happens inside the
        writing task, no extra shuffle): one hash task per partition
        key would otherwise write ONE file per partition, which at
        10^12 rows means multi-GB files no scan split can parallelize
        past the row-group level."""
        vdir = f"{self.root}/data/{table}/v{sid}-{uuid4().hex[:8]}"
        # duplicate the key so partitionBy doesn't strip it from the data
        out = df.withColumn("__pk", F.col(key)).repartition(F.col("__pk"))
        if sort_cols:
            out = out.sortWithinPartitions(F.col("__pk"), *sort_cols)
        w = out.write.mode("overwrite")
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", int(max_records_per_file))
        w.partitionBy("__pk").parquet(vdir)
        return vdir

    def _summarize_written(
        self,
        vdir: str,
        key: str,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int | None = None,
    ) -> dict[str, dict]:
        """Partition summary computed from the parquet just written —
        NOT from the input plan. Summarizing the input DataFrame would
        execute its full lineage a second time (the stage join/agg plan
        runs once for the summary collect and once for the write);
        re-reading the written files costs only a small scan and
        fingerprints what is actually stored."""
        if not any(e.startswith("__pk=") for e in os.listdir(vdir)):
            return {}  # zero-row write: partitionBy emits no dirs
        summary = partition_summary(
            self.spark.read.parquet(vdir).drop("__pk"), key, stats_cols,
            bloom_cols, bloom_bits or BLOOM_BITS_DEFAULT,
        )
        if stats_cols:
            fz = self._file_zone_maps(vdir, stats_cols)
            for k, files in fz.items():
                # a single-file partition is fully described by its
                # partition-level stats; per-file entries only earn
                # their manifest bytes when a scan can skip SOME files
                if k in summary and len(files) > 1:
                    summary[k]["files"] = files
        return summary

    def _file_zone_maps(
        self, vdir: str, stats_cols: list[str]
    ) -> dict[str, list[dict]]:
        """Per-FILE min/max/null-count zone maps for the files just
        written under `vdir`, collected from parquet FOOTERS (metadata
        only — no data page is read). Recorded in the manifest so
        `read(where=...)` can skip files without listing or opening
        them — Iceberg's per-data-file column stats. Pays off when the
        write was clustered (`sort_cols`, e.g. a Hilbert key over
        lon/lat): each file then covers a tight key range and a bbox
        read touches only the overlapping files.

        100 TB note: this driver-side footer pass is bounded by file
        COUNT (one footer ~ a few KB), not data size; at cluster scale
        the same stats come from the writing tasks themselves (Iceberg
        writers attach them to the commit), which this seam mirrors —
        the manifest shape is identical either way."""
        import pyarrow.parquet as pq

        out: dict[str, list[dict]] = {}
        for entry in sorted(os.listdir(vdir)):
            if not entry.startswith("__pk="):
                continue
            d = f"{vdir}/{entry}"
            files = []
            for fname in sorted(os.listdir(d)):
                if not fname.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(f"{d}/{fname}").metadata
                names = [md.schema.column(i).name for i in range(md.num_columns)]
                stats: dict[str, dict] = {}
                for c in stats_cols:
                    if c not in names:
                        continue  # pre-evolution file: no bound, kept
                    idx = names.index(c)
                    mins, maxs, nulls = [], [], 0
                    complete = True
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        if st is None or not st.has_min_max:
                            complete = False
                        else:
                            mins.append(st.min)
                            maxs.append(st.max)
                        nulls += int(st.null_count) if st and st.has_null_count else 0
                    if complete and mins:
                        stats[c] = {
                            "min": _stat_lower(min(mins)),
                            "max": _stat_upper(max(maxs)),
                            "nulls": nulls,
                        }
                    elif not mins:
                        # all row groups lack min/max: all-NULL column
                        stats[c] = {"min": None, "max": None, "nulls": nulls}
                    # else: partial stats -> record no bound (conservative)
                files.append(
                    {"name": fname, "n_rows": int(md.num_rows), "stats": stats}
                )
            out[_unescape_pk(entry[len("__pk="):])] = files
        return out

    def write_table(
        self, df: DataFrame, table: str, key: str, sort_cols=None,
        max_records_per_file: int | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int | None = None,
    ) -> int:
        """Full write -> snapshot 0 (or next id if the table exists).
        Re-snapshots of an existing table are cast to its committed
        schema so physical types never drift across snapshots.

        `stats_cols` opts the table into zone-map column stats: per-
        partition min/max/null-count recorded in the manifest (collected
        in the same summarize pass, so it costs no extra scan) and used
        by `prune_keys`/`read(where=...)` to skip partitions before any
        file is even listed. Once set, the column list is remembered in
        the manifest and every subsequent overwrite/compact keeps the
        stats current.

        Concurrency: data is written ONCE; on a lost commit race the
        manifest is re-pointed at the new current (a full write
        replaces every partition, so it composes with any competing
        commit) and retried — unless the competing commit changed the
        table schema, which surfaces `CommitConflict`."""
        prev_m = self.manifest(table)
        assert prev_m is None or not prev_m.delete_files, (
            f"{table} has outstanding merge-on-read delete files: "
            "materialize_deletes first. A full re-snapshot replaces every "
            "partition, so carrying the global tombstones forward would "
            "silently hide re-inserted pks while dropping them would "
            "silently resurrect erased ones — the same loud-guard contract "
            "as merge_rows (GDPR-erasure discipline: tombstones are only "
            "ever cleared by materializing them)."
        )
        base_schema = prev_m.schema_json if prev_m else None
        df = self._conform(df, base_schema)
        schema_json = df.schema.json()
        eff_stats = stats_cols if stats_cols is not None else (
            prev_m.stats_cols if prev_m else None
        )
        # bloom opt-in is remembered exactly like stats_cols (`bloom_cols`
        # here overrides; pk Bloom filters per partition, see
        # partition_summary) — collected in the same summarize pass
        eff_bloom = bloom_cols if bloom_cols is not None else (
            prev_m.bloom_cols if prev_m else None
        )
        eff_bits = bloom_bits or (prev_m.bloom_bits if prev_m else None)
        sid = 0 if prev_m is None else prev_m.snapshot_id + 1
        vdir = self._write_partition_data(
            df, table, key, sid, sort_cols, max_records_per_file
        )
        summary = self._summarize_written(vdir, key, eff_stats, eff_bloom, eff_bits)
        rel = os.path.relpath(vdir, self.root)
        for _ in range(COMMIT_RETRIES):
            cur = self.manifest(table)
            if cur is not None:
                if cur.delete_files:
                    # the entry assert checked the manifest read BEFORE
                    # the data write; a delete_rows_mor committing in
                    # between must not be silently dropped by this
                    # re-snapshot (manifest below carries no
                    # delete_files) — same loud-guard contract, now
                    # race-proof: re-checked on every rebase
                    raise CommitConflict(
                        f"{table} gained merge-on-read delete files during "
                        "this write: materialize_deletes first (a full "
                        "re-snapshot would silently clear the erasure)"
                    )
                cur_schema = cur.schema_json
                if (base_schema or schema_json) != (cur_schema or schema_json):
                    raise CommitConflict(
                        f"schema of {table} changed underneath this write"
                    )
            sid = 0 if cur is None else cur.snapshot_id + 1
            m = Manifest(
                table, sid, None if cur is None else cur.snapshot_id,
                schema_json=schema_json, key=key, stats_cols=eff_stats,
                bloom_cols=eff_bloom,
                bloom_bits=(eff_bits or BLOOM_BITS_DEFAULT) if eff_bloom else None,
            )
            for k, s in summary.items():
                _check_pk_value(k, table)
                m.partitions[k] = {"path": f"{rel}/__pk={_escape_pk(k)}", **s}
            if self._commit(m):
                return sid
        raise CommitConflict(f"write of {table} lost {COMMIT_RETRIES} commit races")

    def _abs_path(self, p: str) -> str:
        """Manifests record store-root-RELATIVE data paths, so a store
        directory is relocatable (copy/move and read — required by e.g.
        bench trial isolation). Absolute paths from pre-migration
        manifests still resolve as-is."""
        return p if os.path.isabs(p) else f"{self.root}/{p}"

    def overwrite_partitions(
        self,
        df: DataFrame,
        table: str,
        key: str,
        keys: list[str] | None = None,
        sort_cols=None,
        max_records_per_file: int | None = None,
        require_no_delete_files: bool = False,
        parallel_summary: bool = False,
    ) -> int:
        """Partition-granular overwrite: df holds the NEW full content of
        the partitions it touches (delete-then-insert idempotency, the
        analog of `registries/definition.ts:99-103`). Unchanged
        partitions keep pointing at their old data files. `keys`
        additionally lists partitions to DELETE even if df has no rows
        for them (the `remove_file` path, `project.ts:402-467`).

        `parallel_summary=True` runs the partition summary over the
        INPUT PLAN in a second thread, concurrently with the write job
        — the two serial Spark actions of a small commit become one
        wall-clock action (the incremental-update hot path). Caller
        contract: the plan must be DETERMINISTIC across two executions
        and cheap to execute twice (a pinned-snapshot scan or a
        localCheckpoint) — the summary is of rows the plan yields,
        identical to what lands in the files; per-FILE zone maps are
        still read from the written footers afterwards (metadata-only).
        The default path keeps summarizing from the written files, so
        an expensive plan executes exactly once.

        Concurrency (Iceberg validate-and-rebase): data is written
        ONCE; on a lost commit race the write REBASES onto the new
        current snapshot — valid iff the competing commits touched a
        DISJOINT partition set (checked via the metadata-only `diff`
        against the base this write conformed to) and left the schema
        unchanged; otherwise `CommitConflict` (the write's files are
        unreferenced orphans, the table is untouched, safe to retry
        from the new current)."""
        base = self.manifest(table)
        assert base is not None, f"table {table} has no snapshot yet"
        df = self._conform(df, base.schema_json)
        if parallel_summary:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=1) as ex:
                sfut = ex.submit(
                    partition_summary, df, key, base.stats_cols,
                    base.bloom_cols, base.bloom_bits or BLOOM_BITS_DEFAULT,
                )
                vdir = self._write_partition_data(
                    df, table, key, base.snapshot_id + 1, sort_cols,
                    max_records_per_file,
                )
                summary = sfut.result()
            if base.stats_cols and summary:
                fz = self._file_zone_maps(vdir, base.stats_cols)
                for k, files in fz.items():
                    if k in summary and len(files) > 1:
                        summary[k]["files"] = files
        else:
            vdir = self._write_partition_data(
                df, table, key, base.snapshot_id + 1, sort_cols,
                max_records_per_file,
            )
            summary = self._summarize_written(
                vdir, key, base.stats_cols, base.bloom_cols, base.bloom_bits
            )
        rel = os.path.relpath(vdir, self.root)
        touched = set(keys or []) | set(summary)
        for _ in range(COMMIT_RETRIES):
            cur = self.manifest(table)
            if require_no_delete_files and cur.delete_files:
                # merge_rows' entry assert saw a tombstone-free base;
                # a delete_rows_mor committing since then would have
                # its GLOBAL tombstone carried forward below and
                # silently hide the freshly-upserted rows — the exact
                # silent-hide the entry assert exists to make loud, so
                # the rebase must re-check it (TOCTOU closure)
                raise CommitConflict(
                    f"{table} gained merge-on-read delete files during "
                    "this merge: materialize_deletes first, then retry"
                )
            if cur.snapshot_id != base.snapshot_id:
                if cur.schema_json != base.schema_json:
                    raise CommitConflict(
                        f"schema of {table} changed underneath this write"
                    )
                overlap = set(self.diff(table, base.snapshot_id, cur.snapshot_id)) & touched
                if overlap:
                    raise CommitConflict(
                        f"concurrent commit to {table} touched overlapping "
                        f"partitions {sorted(overlap)[:5]}"
                    )
            m = Manifest(
                table, cur.snapshot_id + 1, cur.snapshot_id, dict(cur.partitions),
                schema_json=cur.schema_json or df.schema.json(),
                key=cur.key or key, stats_cols=cur.stats_cols,
                # tombstones are GLOBAL pk filters: they keep applying
                # to overwritten content (re-inserting a tombstoned pk
                # requires materialize_deletes first — pinned in tests)
                delete_files=cur.delete_files,
                bloom_cols=cur.bloom_cols, bloom_bits=cur.bloom_bits,
            )
            for k in touched:
                m.partitions.pop(k, None)
            for k, s in summary.items():
                _check_pk_value(k, table)
                m.partitions[k] = {"path": f"{rel}/__pk={_escape_pk(k)}", **s}
            if self._commit(m):
                return m.snapshot_id
        raise CommitConflict(f"overwrite of {table} lost {COMMIT_RETRIES} commit races")

    def merge_rows(
        self,
        updates: DataFrame,
        table: str,
        pk: str,
        deletes: DataFrame | None = None,
        sort_cols=None,
        max_records_per_file: int | None = None,
    ) -> int:
        """Row-granular copy-on-write MERGE (Iceberg `MERGE INTO`
        analog): every row of `updates` REPLACES the existing row with
        the same `pk` (matched -> update) or is INSERTED if no such row
        exists (not matched -> insert); `deletes` is an optional
        one-column frame of pks to remove. Only the partitions that
        actually contain an affected pk (plus the partitions the new
        rows land in) are rewritten — everything else keeps pointing at
        its old data files, and a partition emptied by deletes drops
        out of the manifest entirely.

        `pk` must be unique within `updates` (Iceberg raises on
        multiple MERGE matches; so does this, before touching data).

        Scale shape: locating the affected partitions is ONE
        column-pruned scan of (pk, partition-key) semi-joined against
        the broadcast update-pk set — linear in table size with a
        2-column projection, and the collected result is O(touched
        partitions), never O(rows). The rewrite then reads ONLY those
        partitions, anti-joins the affected pks out, and unions the new
        rows; commit concurrency (validate-and-rebase on a disjoint
        partition set) is `overwrite_partitions`'s. A pk whose
        partition-key value changes in `updates` moves partitions
        correctly: its old partition is affected (drops the old copy),
        its new one receives the row. For repeated point-merges the
        `incremental.id_index` sidecar can replace the locating scan
        with O(changed) bucket reads.

        Reference analog: `Project.update_file`'s re-index of exactly
        the rows of one changed file while every other file's index
        rows survive untouched (`packages/core/src/project/project.ts:402-467`).
        """
        base = self.manifest(table)
        assert base is not None, f"table {table} has no snapshot yet"
        assert not base.delete_files, (
            f"{table} has outstanding merge-on-read delete files: "
            "materialize_deletes first (an upsert of a tombstoned pk "
            "would be silently hidden by the global tombstone)"
        )
        key = base.key
        assert key, f"table {table} has no partition key recorded"
        updates = self._conform(updates, base.schema_json)
        dup = (
            updates.groupBy(pk).count().where(F.col("count") > 1).limit(1).collect()
        )
        assert not dup, f"merge_rows: duplicate pk {dup[0][0]!r} in updates"
        ids = updates.select(pk)
        if deletes is not None:
            ids = ids.unionByName(deletes.select(pk)).distinct()
        old_keys = self._locate_pk_partitions(
            table, base.snapshot_id, key, pk, ids, m=base
        )
        new_keys = {r[0] for r in updates.select(key).distinct().collect()}
        affected = sorted(str(k) for k in old_keys | new_keys)
        survivors = (
            self.read(table, snapshot_id=base.snapshot_id, keys=affected)
            .join(F.broadcast(ids), pk, "left_anti")
        )
        return self.overwrite_partitions(
            survivors.unionByName(updates),
            table,
            key,
            keys=affected,
            sort_cols=sort_cols,
            max_records_per_file=max_records_per_file,
            require_no_delete_files=True,
        )

    def delete_rows_mor(self, pks: DataFrame, table: str, pk: str) -> int:
        """Merge-on-read DELETE (Iceberg v2 equality-delete files):
        record the pk set as a tombstone file in the manifest — NO data
        partition is rewritten, the commit costs O(|pks|) however large
        the table. Readers anti-join outstanding tombstones at scan
        time (`read`), so the rows disappear logically at this snapshot
        while time travel below it still sees them.

        vs `merge_rows` (copy-on-write): MOR is the right tool when
        deletes are frequent and small relative to partition sizes —
        the GDPR-erasure / retraction stream — and reads can afford the
        anti-join; `materialize_deletes` folds accumulated tombstones
        into the data when the read tax grows. Tombstones here are
        GLOBAL pk filters (position-independent): they survive
        compaction unchanged and keep applying to overwritten content,
        so re-inserting a tombstoned pk requires materializing first
        (merge_rows enforces this loudly).

        Reference analog: ariadne's `remove_file` marks rows dead in
        the registries without touching sibling files' rows
        (`packages/core/src/project/project.ts:402-467`)."""
        cur = self.manifest(table)
        assert cur is not None, f"table {table} has no snapshot yet"
        if cur.schema_json:
            cols = {f["name"] for f in json.loads(cur.schema_json)["fields"]}
            # a tombstone keyed on a column the table lacks would make
            # every subsequent read throw — refuse up front
            assert pk in cols, (
                f"delete_rows_mor: pk {pk!r} is not a column of {table} "
                f"(has {sorted(cols)})"
            )
        vdir = f"{self.root}/data/{table}/v{cur.snapshot_id + 1}-del-{uuid4().hex[:8]}"
        pks.select(pk).distinct().coalesce(1).write.parquet(vdir)
        n = self.spark.read.parquet(vdir).count()
        entry = {
            "path": os.path.relpath(vdir, self.root),
            "pk": pk,
            "n_rows": int(n),
        }
        for _ in range(COMMIT_RETRIES):
            cur = self.manifest(table)
            m = Manifest(
                cur.table, cur.snapshot_id + 1, cur.snapshot_id,
                dict(cur.partitions), schema_json=cur.schema_json,
                key=cur.key, stats_cols=cur.stats_cols,
                delete_files=(cur.delete_files or []) + [entry],
                bloom_cols=cur.bloom_cols, bloom_bits=cur.bloom_bits,
            )
            if self._commit(m):
                return m.snapshot_id
        raise CommitConflict(
            f"MOR delete on {table} lost {COMMIT_RETRIES} commit races"
        )

    def materialize_deletes(self, table: str) -> int:
        """Fold outstanding equality tombstones into the data (Iceberg
        rewrite of data + delete files): rewrite ONLY the partitions
        that physically contain tombstoned pks — located by one
        column-pruned (pk, key) scan per pk column — then clear the
        delete list. Untouched partitions keep their files. Two
        commits (partition rewrite, then the metadata-only tombstone
        clear); a reader between them sees identical logical content
        (the rows are already physically gone, so the still-listed
        tombstones filter nothing). Returns the final snapshot id.

        Concurrency: the clear commit rebases onto whatever is current,
        so a writer that overwrote DISJOINT partitions between the two
        commits composes fine — but an overwrite that re-introduced a
        tombstoned pk into content the clear commits over would, if the
        clear landed as-is, resurrect the pk without it ever being
        materialized (a lost erasure). The guard is a PROVEN-STATE map,
        not a snapshot diff: each (partition, fingerprint) pair this
        call has verified pk-free — the locate scan proves every
        partition of its snapshot, a rewrite proves the partitions it
        writes. Before each clear attempt, any current partition whose
        fingerprint is not a proven state is re-located against the
        materialized pk set (raw O(changed) scan); hits re-run the
        rewrite, clean scans extend the map. This also catches commits
        that land BEFORE/DURING the rewrite and get rebased into it —
        a diff from the rewrite snapshot would skip those entirely.
        The clear commits only against a state verified to physically
        exclude every pk it stops filtering."""
        m = self.manifest(table)
        assert m is not None, f"table {table} has no snapshot"
        if not m.delete_files:
            return m.snapshot_id
        key = m.key
        assert key, f"table {table} has no partition key recorded"
        materialized = list(m.delete_files)
        affected: set[str] = set()
        for pk, dels in self._delete_pks(materialized).items():
            affected |= self._locate_pk_partitions(
                table, m.snapshot_id, key, pk, dels, m=m
            )
        # (partition -> fingerprint) states proven to physically exclude
        # every materialized pk
        verified: dict[str, int] = {
            k: meta["fingerprint"]
            for k, meta in m.partitions.items()
            if k not in affected
        }
        if affected:
            keys = sorted(affected)
            survivors = self._apply_delete_files(
                self.read(
                    table, snapshot_id=m.snapshot_id, keys=keys,
                    _apply_deletes=False,
                ),
                materialized,
            )
            rewrite_sid = self.overwrite_partitions(survivors, table, key, keys=keys)
            rm = self.manifest(table, rewrite_sid)
            for k in keys:
                if k in rm.partitions:  # emptied partitions drop out
                    verified[k] = rm.partitions[k]["fingerprint"]
        for _ in range(COMMIT_RETRIES):
            cur = self.manifest(table)
            suspect = sorted(
                k
                for k, meta in cur.partitions.items()
                if verified.get(k) != meta["fingerprint"]
            )
            if suspect:
                raw = self.read(
                    table, cur.snapshot_id, keys=suspect,
                    _apply_deletes=False,
                )
                reaffected: set[str] = set()
                for pk, dels in self._delete_pks(materialized).items():
                    reaffected |= {
                        str(r[0])
                        for r in raw.select(key, pk)
                        .join(F.broadcast(dels), pk, "left_semi")
                        .select(key)
                        .distinct()
                        .collect()
                    }
                if reaffected:
                    ks = sorted(reaffected)
                    survivors = self._apply_delete_files(
                        self.read(
                            table, cur.snapshot_id, keys=ks,
                            _apply_deletes=False,
                        ),
                        materialized,
                    )
                    rw = self.overwrite_partitions(
                        survivors, table, key, keys=ks
                    )
                    rm = self.manifest(table, rw)
                    for k in ks:
                        if k in rm.partitions:
                            verified[k] = rm.partitions[k]["fingerprint"]
                    continue
                # suspects scanned clean at cur: prove their states
                for k in suspect:
                    verified[k] = cur.partitions[k]["fingerprint"]
            # subtract ONLY the entries this call folded in: a
            # concurrent delete_rows_mor may have appended new
            # tombstones since — resetting to None would silently
            # un-delete them (a lost erasure)
            remaining = [
                e for e in (cur.delete_files or []) if e not in materialized
            ] or None
            m2 = Manifest(
                cur.table, cur.snapshot_id + 1, cur.snapshot_id,
                dict(cur.partitions), schema_json=cur.schema_json,
                key=cur.key, stats_cols=cur.stats_cols,
                delete_files=remaining,
                bloom_cols=cur.bloom_cols, bloom_bits=cur.bloom_bits,
            )
            if self._commit(m2):
                return m2.snapshot_id
        raise CommitConflict(
            f"tombstone clear on {table} lost {COMMIT_RETRIES} commit races"
        )

    # -- reads -------------------------------------------------------------

    def prune_keys(
        self,
        table: str,
        where: dict[str, tuple],
        snapshot_id: int | str | None = None,
    ) -> list[str]:
        """Zone-map pruning (Iceberg manifest column-stats filtering):
        return the partition keys whose recorded min/max stats can
        possibly satisfy ALL the given inclusive range predicates
        `{col: (lo, hi)}` (None bound = unbounded). Metadata-only — no
        file is listed or opened, so at 10^5+ partitions the non-
        matching data dirs cost nothing (vs parquet footer min/max,
        which Spark consults only after listing and opening each file).

        Conservative by construction: a partition missing stats for a
        predicate column (written before stats were enabled, or an
        unorderable type) is KEPT. A partition whose column is all-NULL
        is pruned — a range predicate never matches NULL (SQL
        semantics, matching the residual filter `read` applies)."""
        m = self.manifest(table, snapshot_id)
        assert m is not None, f"table {table} has no snapshot"
        return self._prune_manifest(m, where)

    @staticmethod
    def _prune_manifest(m: Manifest, where: dict[str, tuple]) -> list[str]:
        """Pruning core over an ALREADY-RESOLVED manifest — `read`
        must prune against the exact snapshot it serves (re-resolving
        here could see a newer concurrent commit and prune with the
        wrong stats)."""
        return sorted(
            k
            for k, part in m.partitions.items()
            if SnapshotStore._stats_can_match(
                part.get("stats") or {}, part["n_rows"], where
            )
        )

    @staticmethod
    def _stats_can_match(
        stats: dict, n_rows: int | None, where: dict[str, tuple]
    ) -> bool:
        """Shared zone-map judgment for BOTH pruning grains (partition
        entries and per-file entries) — one home so a rule change (the
        all-NULL rule, a new bound type) can never silently apply at
        one grain only. True = the stats cannot exclude `where` (keep);
        conservative on missing stats / unknown bounds."""
        for col, (lo, hi) in where.items():
            if lo is None and hi is None:
                continue  # unbounded predicate: no residual filter
            s = stats.get(col)
            if s is None:
                continue  # no stats: cannot exclude
            if s["min"] is None and s["max"] is None:
                if n_rows is not None and s.get("nulls", 0) >= n_rows:
                    return False  # all-NULL column never matches a range
                continue  # unknown bounds (e.g. truncation overflow)
            if hi is not None and s["min"] is not None and s["min"] > hi:
                return False
            if lo is not None and s["max"] is not None and s["max"] < lo:
                return False
        return True

    @staticmethod
    def _prune_file_entries(part: dict, where: dict[str, tuple]) -> list[str] | None:
        """File names within a partition that can possibly satisfy
        `where`, judged by the manifest's per-FILE zone maps (recorded
        at write time from parquet footers — see `_file_zone_maps`).
        Returns None when the partition records no per-file stats (the
        caller reads the whole partition dir). Same conservative rules
        as `_prune_manifest`: a file missing stats for a predicate
        column is kept; an all-NULL column never matches a range."""
        files = part.get("files")
        if not files:
            return None
        return [
            fe["name"]
            for fe in files
            if SnapshotStore._stats_can_match(
                fe.get("stats") or {}, fe.get("n_rows"), where
            )
        ]

    def read(
        self,
        table: str,
        snapshot_id: int | str | None = None,
        keys: list[str] | None = None,
        where: dict[str, tuple] | None = None,
        _apply_deletes: bool = True,
    ) -> DataFrame:
        """Read a snapshot (default: current), optionally pruned to a
        partition-key subset — metadata-level partition pruning: only
        the selected partitions' files are listed at all.

        `where={col: (lo, hi)}` additionally zone-map-prunes partitions
        via `prune_keys`, then prunes individual FILES inside surviving
        partitions via the manifest's per-file stats (recorded by
        `_file_zone_maps` when the table has `stats_cols`; most
        effective after a Hilbert-clustered `compact`), AND applies the
        residual inclusive-range filter, so the result is exactly the
        full scan filtered — the pruning is an optimization, never a
        semantics change."""
        m = self.manifest(table, snapshot_id)
        assert m is not None, f"table {table} has no snapshot"
        if where:
            # prune against THIS resolved manifest (a fresh prune_keys
            # call could race a concurrent commit onto newer stats and
            # drop rows from the snapshot actually being served)
            zone = set(self._prune_manifest(m, where))
            keys = [k for k in (keys if keys is not None else m.partitions) if k in zone]
        sel = m.partitions if keys is None else {k: m.partitions[k] for k in keys if k in m.partitions}
        paths = []
        for p in sel.values():
            base = self._abs_path(p["path"])
            fnames = self._prune_file_entries(p, where) if where else None
            if fnames is None:
                paths.append(base)
            else:
                # file-level zone-map pruning: only the files whose
                # recorded min/max can match are ever listed/opened —
                # with a clustered layout (compact sort_cols = Hilbert
                # key) this skips most of a partition on a bbox read.
                # An empty list is correct: no file can match, and the
                # residual filter would drop every row anyway.
                paths.extend(f"{base}/{fn}" for fn in fnames)
        from pyspark.sql.types import StructType

        if not paths:
            # every selected partition was deleted: empty frame, real schema
            assert m.schema_json, f"no partitions and no schema for {table}"
            from pyspark.sql.pandas.types import to_arrow_schema

            target = StructType.fromJson(json.loads(m.schema_json))
            df = self.spark.createDataFrame(
                to_arrow_schema(target).empty_table(), target
            )
        elif m.schema_json:
            # serve the snapshot's COMMITTED schema, not a sampled file's
            # (Iceberg read-time schema projection): column order/types are
            # snapshot-stable, and files written before an `add_column`
            # evolution yield NULL for the added column instead of failing
            target = StructType.fromJson(json.loads(m.schema_json))
            df = self.spark.read.schema(target).parquet(*paths)
        else:
            df = self.spark.read.parquet(*paths)
        for col, (lo, hi) in (where or {}).items():
            # residual filter: the surviving partitions may still hold
            # out-of-range rows (zone maps are partition-granular); the
            # predicate also pushes down to the parquet row-group level
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        if _apply_deletes and m.delete_files:
            # merge-on-read: anti-join the snapshot's equality-delete
            # tombstones (per pk column; the delete side is the pk set,
            # small by the MOR contract, so the anti-join broadcasts)
            df = self._apply_delete_files(df, m.delete_files)
        return df

    def _delete_pks(self, entries: list[dict]) -> dict[str, DataFrame]:
        """pk column -> distinct tombstoned-pk frame for these delete
        entries (grouped so multi-column tables compose)."""
        by_pk: dict[str, list[str]] = {}
        for e in entries:
            by_pk.setdefault(e["pk"], []).append(self._abs_path(e["path"]))
        return {
            pk: self.spark.read.parquet(*paths).select(pk).distinct()
            for pk, paths in by_pk.items()
        }

    _BLOOM_LOCATE_CAP = 10_000  # max pks checked driver-side vs blooms

    def bloom_candidate_keys(
        self, m: "Manifest", col: str, values: list
    ) -> list[str] | None:
        """Partition keys whose pk Bloom filter MIGHT contain any of
        `values` — METADATA-ONLY (no file listed or opened), the
        manifest analog of Iceberg's puffin blob point-lookup pruning.
        Conservative: a partition without a bloom for `col` is kept; a
        saturated (undersized) bloom keeps everything. Returns None
        when the table has no blooms for `col` at all (caller falls
        back to the scanning locate)."""
        if not m.bloom_cols or col not in m.bloom_cols or not m.bloom_bits:
            return None
        pos = [bloom_positions(v, m.bloom_bits) for v in values]
        out = []
        for k, part in m.partitions.items():
            bl = (part.get("bloom") or {}).get(col)
            if bl is None:
                out.append(k)  # pre-bloom partition: cannot exclude
                continue
            for ps in pos:
                if all((bl[p // 64] >> (p % 64)) & 1 for p in ps):
                    out.append(k)
                    break
        return sorted(out)

    def _locate_pk_partitions(
        self,
        table: str,
        snapshot_id,
        key: str,
        pk: str,
        dels: DataFrame,
        m: "Manifest | None" = None,
    ) -> set[str]:
        """Partition keys physically holding any of `dels`' pks — the
        shared locate idiom of merge_rows / materialize_deletes /
        read_changes. With manifest pk blooms the locate is METADATA-
        first: the candidate set comes from bloom membership (no scan),
        and only candidate partitions are read for the exact confirm
        scan. Without blooms it is ONE column-pruned (key, pk) scan +
        semi-join over the full table. Either way the collected result
        is O(touched partitions), and the pk side — O(changed) by
        contract at every call site — broadcasts explicitly so the big
        projection can never become the build side."""
        if m is None:
            m = self.manifest(table, snapshot_id)
        assert m is not None, f"table {table} has no snapshot {snapshot_id}"
        keys = None
        if m.bloom_cols and pk in m.bloom_cols:
            vals = [
                r[0] for r in dels.distinct().limit(self._BLOOM_LOCATE_CAP + 1).collect()
            ]
            if len(vals) <= self._BLOOM_LOCATE_CAP:
                keys = self.bloom_candidate_keys(m, pk, vals)
                if keys is not None and not keys:
                    return set()
        raw = self.read(
            table, snapshot_id=m.snapshot_id, keys=keys, _apply_deletes=False
        )
        return {
            str(r[0])
            for r in raw.select(key, pk)
            .join(F.broadcast(dels), pk, "left_semi")
            .select(key)
            .distinct()
            .collect()
        }

    def _apply_delete_files(self, df: DataFrame, entries: list[dict]) -> DataFrame:
        # no explicit broadcast hint: the tombstone side is usually
        # tiny (Catalyst broadcasts it), but a worst-case large set
        # must stay shuffle-able rather than OOM the driver
        for pk, dels in self._delete_pks(entries).items():
            df = df.join(dels, pk, "left_anti")
        return df

    def diff(self, table: str, from_sid: int | None, to_sid: int) -> list[str]:
        """Changed/added/removed partition keys between two snapshots —
        metadata only, no data read (the ~20ms git fast path analog)."""
        new = self.manifest(table, to_sid)
        assert new is not None
        old = self.manifest(table, from_sid) if from_sid is not None else None
        old_parts = old.partitions if old else {}
        changed = []
        for k in set(old_parts) | set(new.partitions):
            a, b = old_parts.get(k), new.partitions.get(k)
            if a is None or b is None or a["fingerprint"] != b["fingerprint"]:
                changed.append(k)
        return sorted(changed)

    def read_changes(
        self, table: str, from_sid: int | None, to_sid: int | str | None = None
    ) -> DataFrame:
        """Row-level changelog between two snapshots (Iceberg
        incremental / CDC read analog): every output row is an input
        row of one side prefixed with change = 'insert' (present in
        `to` but not `from`) or 'delete' (present in `from` but not
        `to`); an updated row appears as its delete + its insert.
        MULTISET semantics via exceptAll, so duplicate-row count
        changes surface as exactly the count delta. from_sid=None
        emits the whole `to` snapshot as inserts (a cold consumer's
        first poll).

        SCALE: the metadata fingerprint diff picks the changed
        partition keys first, and only those partitions are READ on
        either side — a 10^5-partition table with one changed cell
        costs one partition scan per side plus one all-column
        exceptAll shuffle over just those rows; untouched partitions
        contribute nothing by construction (their fingerprints match).
        Rows are conformed to the `to` snapshot's committed schema
        (columns added since `from` read as NULL on the old side),
        mirroring `read`'s schema projection.

        Reference analog: ariadne's incremental re-index emits exactly
        the definitions added/removed for changed files
        (`packages/core/src/project/incremental_update.ts`); here the
        "file" is a partition and the delta is row-grain."""
        to_res = self._resolve_sid(table, to_sid)
        assert to_res is not None, f"table {table} has no snapshot"
        if from_sid is not None:
            # resolve the FROM manifest first with the curated message:
            # diff() would otherwise surface an expired from_sid as a
            # raw FileNotFoundError before the guidance below could fire
            try:
                m_from = self.manifest(table, from_sid)
            except FileNotFoundError:
                m_from = None
            assert m_from is not None, (
                f"table {table} has no snapshot {from_sid} (expired below "
                "the keep window? re-baseline the CDC consumer with "
                "from_sid=None)"
            )
        keys = self.diff(table, from_sid, to_res)
        if from_sid is None:
            new = self.read(table, to_res, keys=keys)
            return new.select(F.lit("insert").alias("change"), *new.columns)
        # merge-on-read deletes change LOGICAL content without moving
        # any partition fingerprint, so the metadata diff misses them:
        # locate the partitions physically holding the tombstone-delta
        # pks (added tombstones -> rows vanish, look in the FROM
        # snapshot; removed tombstones, e.g. a rollback below the
        # delete -> rows resurrect, look in the TO snapshot) with the
        # same column-pruned (key, pk) scan merge_rows uses
        m_to = self.manifest(table, to_res)
        assert m_to is not None, f"table {table} has no snapshot {to_res}"
        keyset = set(keys)
        for src_m, probe_m in ((m_from, m_to), (m_to, m_from)):
            delta_entries = [
                e
                for e in (src_m.delete_files or [])
                if e not in (probe_m.delete_files or [])
            ]
            look_m = m_from if src_m is m_to else m_to
            # entries added in src relative to probe: affected rows
            # live in the OTHER side's raw content
            look_sid = m_from.snapshot_id if src_m is m_to else m_to.snapshot_id
            if not delta_entries or not look_m.key:
                continue
            for pk, dels in self._delete_pks(delta_entries).items():
                keyset |= self._locate_pk_partitions(
                    table, look_sid, look_m.key, pk, dels, m=look_m
                )
        keys = sorted(keyset)
        new = self.read(table, to_res, keys=keys)
        old = self.read(table, from_sid, keys=keys)
        # conform the old side to the new snapshot's column set
        old = old.select(
            *[
                old[c] if c in old.columns
                else F.lit(None).cast(dict(new.dtypes)[c]).alias(c)
                for c in new.columns
            ]
        )
        ins = new.exceptAll(old).select(
            F.lit("insert").alias("change"), *new.columns
        )
        dels = old.exceptAll(new).select(
            F.lit("delete").alias("change"), *new.columns
        )
        return ins.unionByName(dels)

    # -- lineage -----------------------------------------------------------

    @property
    def _lineage_path(self) -> str:
        return f"{self.root}/lineage.jsonl"

    def log_lineage(
        self,
        stage: str,
        partition: str,
        snapshot_id: int,
        n_rows: int,
        wall_ms: float,
        status: str = "done",
    ) -> None:
        rec = {
            "stage": stage,
            "partition": partition,
            "snapshot_id": snapshot_id,
            "n_rows": n_rows,
            "wall_ms": round(wall_ms, 2),
            "status": status,
            "ts": time.time(),
        }
        with self._lineage_lock:
            with open(self._lineage_path, "a") as fh:
                fh.write(json.dumps(rec) + "\n")

    def lineage(self) -> list[dict]:
        if not os.path.exists(self._lineage_path):
            return []
        with self._lineage_lock:
            with open(self._lineage_path) as fh:
                return [json.loads(line) for line in fh if line.strip()]

    def completed(self, stage: str, snapshot_id: int) -> set[str]:
        """Partitions already `done` for (stage, snapshot) — the resume
        check (`restore_file` analog): completed work is skipped."""
        return {
            r["partition"]
            for r in self.lineage()
            if r["stage"] == stage
            and r["snapshot_id"] == snapshot_id
            and r["status"] == "done"
        }
