"""Lake-table layer: Iceberg-style semantics on plain parquet + manifests.

The reference engine (rap-etl, surveyed in SURVEY.md §1) publishes per-record
add/remove deltas into a VIVO triple store; re-publishing an unchanged record
is a no-op. This module generalizes that to table snapshots: every commit is
a new immutable manifest, a batch_id ledger makes re-applied batches no-ops,
and schema evolution is a manifest-level schema-version bump (old data files
are read with their write-time schema and cast up — Iceberg-style read-time
resolution).

Scale design (100 TB story):
- Data files are hash-bucketed by ``pmod(xxhash64(key), n_buckets)``. A merge
  only rewrites the buckets that contain changed keys (bucket-granular
  copy-on-write), so merge cost is O(affected buckets), not O(table) — the
  same file-pruning win Iceberg gets from partition/bucket transforms.
- MERGE-ON-READ mode (Iceberg v2 equality-delete analogue): a merge commits
  the change rows as per-bucket DELTA files without touching base files —
  write cost is O(change set), the minimum possible. Reads resolve stacked
  deltas per dirty bucket with the same version-conditional LWW rule the
  copy-on-write join applies at write time; ``materialize_deltas``/
  ``compact`` fold deltas back into base files. Choose per table:
  CoW = read-optimized (serving, frequent scans), MoR = write-optimized
  (sustained high-rate upsert ingest — the 10^10-event CDC regime).
- The anti-join inside a merge joins only the affected buckets' rows against
  the (small) change set; Spark broadcasts the change keys when they fit.
- BUCKET EVOLUTION is metadata-only: ``split_buckets``/``merge_buckets``
  change ``n_buckets`` without touching data (hash layouts nest, so
  pre-evolution files are matched by residue — ``_BucketZones``) and
  ordinary writes migrate touched files lazily; ``rebucket`` remains the
  eager one-shot rewrite. A growing 10^10-event run widens its own layout
  via ``CdcEngine(auto_split_rows=...)``.
- Commit is a single atomic rename of the manifest pointer — one driver-side
  metadata operation per micro-batch, no data-path coordination.

- Exactly-once: every ledgered write (append, merge, delete_where,
  update_where) skips an already-committed batch id through ``_skipped``
  and commits through ``_commit``, which records the batch's
  ``{snapshot_id, event_count}`` ledger entry in the same manifest as its
  data.

``ManifestParquetTable`` is the one table type the engine writes.
``IcebergTable`` is a call-sequence record of a SQL passthrough to a real
catalog; it is no engine backend (see its docstring).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TIMING = os.environ.get("RAP_ETL_TIMING", "") == "1"


def _tlog(msg: str, t0: float) -> None:
    if _TIMING:
        print(f"[rap-etl-timing] {msg}: {time.monotonic() - t0:.2f}s", flush=True)


class ConstraintViolationError(ValueError):
    """A change batch contains rows violating a table CHECK constraint;
    the commit was refused and no file was published."""


class CommitConflictError(RuntimeError):
    """Another writer committed a snapshot since this commit's base was
    read (Iceberg's optimistic-concurrency conflict). Re-read the table
    and retry the merge — the batch ledger makes retries idempotent."""


@dataclass
class CommitInfo:
    snapshot_id: str
    batch_id: int | None
    rows_written: int
    skipped: bool = False  # True when the batch_id was already committed


def _schema_from_json(s: str) -> T.StructType:
    return T.StructType.fromJson(json.loads(s))


def _schema_of(m: dict) -> T.StructType:
    """The logical schema of snapshot manifest ``m``."""
    return _schema_from_json(m["schema_versions"][str(m["current_schema_version"])])


def _is_widening(old: T.DataType, new: T.DataType) -> bool:
    """int32 -> int64 widening, including inside arrays (SURVEY.md C6)."""
    if isinstance(old, T.IntegerType) and isinstance(new, T.LongType):
        return True
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return _is_widening(old.elementType, new.elementType)
    if isinstance(old, T.FloatType) and isinstance(new, T.DoubleType):
        return True
    return False


def check_evolution(old: T.StructType, new: T.StructType) -> None:
    """Raise unless new is a legal evolution of old: existing columns keep
    their type or widen; new columns must be nullable additions."""
    old_by_name = {f.name: f for f in old.fields}
    for f in new.fields:
        if f.name in old_by_name:
            o = old_by_name[f.name]
            if o.dataType != f.dataType and not _is_widening(o.dataType, f.dataType):
                raise ValueError(
                    f"illegal type change for column {f.name}: "
                    f"{o.dataType.simpleString()} -> {f.dataType.simpleString()}"
                )
        elif not f.nullable:
            raise ValueError(f"added column {f.name} must be nullable")
    dropped = set(old_by_name) - {f.name for f in new.fields}
    if dropped:
        raise ValueError(f"dropping columns not supported: {sorted(dropped)}")


def cast_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project/cast df to exactly `schema` (missing columns -> NULL)."""
    cols = []
    have = {f.name for f in df.schema.fields}
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def local_frame(
    spark: SparkSession, rows: list, schema: T.StructType | str
) -> DataFrame:
    """Driver-side rows as a ``LocalRelation`` (the one place this module
    turns Python rows into a DataFrame). The rows travel to the JVM as one
    Arrow batch, so the plan holds the data as constants: no pickled
    Python RDD, no Python worker task, and the optimizer folds
    projections over it on the driver (``collect()`` of a hash over a few
    keys runs no job) and prunes an empty one away entirely.
    ``spark.createDataFrame(<list>)`` would instead plan a ``LogicalRDD``
    whose every scan starts Python workers, even for zero rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


META_LSN = "_lsn"  # row version: max LSN that produced this row
META_DEL = "_del"  # delete tombstone marker


def _entry_nb(fe: dict, default_nb: int) -> int:
    """Bucket modulus a file entry was written under. Entries predating
    ``split_buckets`` carry no ``"nb"``; such entries can only appear in
    manifests whose root ``n_buckets`` equals their write-time modulus (a
    split stamps every entry it carries into fresh bucket pages), so the
    owning manifest's modulus is the exact default —
    ``_load_manifest_file`` applies it once, in place, at load time."""
    try:
        return int(fe.get("nb") or default_nb)
    except (TypeError, ValueError):
        return default_nb


class _BucketZones:
    """A set of hash-bucket ZONES — (bucket, modulus) pairs — with overlap
    queries against manifest file entries.

    After ``split_buckets`` a table's live files carry MIXED moduli: a
    file written under modulus n holds exactly the keys k with
    ``pmod(xxhash64(k), n) == bucket``, and because splits MULTIPLY the
    modulus, live moduli form a divisibility chain. Two zones share keys
    iff the finer bucket folds onto the coarser one::

        pmod(h, m) == b  =>  pmod(h, n) == b % n    for every n | m

    so ``overlap((b1, n1), (b2, n2))`` with n1 <= n2 is ``b2 % n1 == b1``.
    Moduli off the chain never arise from this table's lifecycle; if ever
    seen they conservatively overlap — every caller treats "hits" as
    "must read/rewrite", so over-matching is always safe (the superset-
    hint rule of ``merge``), under-matching never is."""

    def __init__(self, zones) -> None:
        self._by_n: dict[int, set[int]] = {}
        for b, n in zones:
            self._by_n.setdefault(int(n), set()).add(int(b))
        # lazy fold cache: (zone_modulus, entry_modulus) -> folded buckets
        self._folds: dict[tuple[int, int], set[int]] = {}

    def hits(self, fe: dict, default_nb: int) -> bool:
        """Does this file entry share any key with any zone?"""
        fb, fn = int(fe["bucket"]), _entry_nb(fe, default_nb)
        for zn, zbs in self._by_n.items():
            if fn == zn:
                if fb in zbs:
                    return True
            elif fn < zn:
                if zn % fn:
                    return True  # off-chain modulus: conservative
                folded = self._folds.get((zn, fn))
                if folded is None:
                    folded = {zb % fn for zb in zbs}
                    self._folds[(zn, fn)] = folded
                if fb in folded:
                    return True
            else:
                if fn % zn:
                    return True
                if fb % zn in zbs:
                    return True
        return False

    def split(self, files: list[dict], default_nb: int):
        """Partition file entries into ``(hit, miss)`` lists."""
        hit: list[dict] = []
        miss: list[dict] = []
        for fe in files:
            (hit if self.hits(fe, default_nb) else miss).append(fe)
        return hit, miss


def _bucket_zones(buckets, nb: int) -> _BucketZones:
    """Zones for a set of CURRENT-modulus bucket ids (the common shape:
    merge hints, lookups and compaction selectors are all computed with
    ``_bucket_expr`` at the live modulus)."""
    return _BucketZones((b, nb) for b in buckets)


def _delta_zones(files: list[dict], default_nb: int) -> _BucketZones:
    """Zones occupied by MoR delta files (each at its own write modulus)."""
    return _BucketZones(
        (fe["bucket"], _entry_nb(fe, default_nb))
        for fe in files
        if fe.get("kind") == "delta"
    )


def _closure_split(
    files: list[dict], zones: _BucketZones, default_nb: int
) -> tuple[list[dict], list[dict]]:
    """``(hit, miss)`` with hit CLOSED under key-sharing: repeatedly expand
    the matched set with every file overlapping a matched file's zone,
    until a fixpoint (at most one pass per live modulus). Maintenance
    rewrites that RESOLVE-and-drop delta files need this closure — a
    matched pre-split file shares keys with finer sibling stacks, and
    folding it without their deltas would publish stale rows next to the
    deltas that supersede them. Read paths don't: a partial stack left in
    place still resolves at read time."""
    hit, miss = zones.split(files, default_nb)
    while True:
        z2 = _BucketZones(
            (fe["bucket"], _entry_nb(fe, default_nb)) for fe in hit
        )
        hit2, miss2 = z2.split(files, default_nb)
        if len(hit2) == len(hit):
            return hit2, miss2
        hit = hit2


def _bloom_geometry(n_rows: int, fpp: float) -> tuple[int, int]:
    """Standard bloom sizing for n keys at target false-positive rate:
    m = -n ln(p)/ln2^2 bits rounded UP to a power of two (capped at 2^23
    = 1 MiB so a pathological file can't produce an unbounded sidecar),
    k = (m/n) ln2 hash functions. The chosen (m, k) are stored in the
    manifest entry, so probes never depend on recomputing this."""
    import math

    n = max(1, int(n_rows))
    mbits = int(-n * math.log(fpp) / (math.log(2) ** 2))
    mbits = 1 << min(23, max(10, (max(1, mbits) - 1).bit_length()))
    k = max(1, min(16, round(mbits / n * math.log(2))))
    return mbits, k


def _fold_modulus(files: list[dict], default_nb: int) -> int:
    """Coarsest write-time modulus among entries: grouping file entries by
    ``bucket % fold`` puts any two KEY-SHARING zones in the same group
    (fold divides every live modulus, and overlap implies equality at any
    common divisor), while keeping groups exactly per-bucket when moduli
    are uniform. An off-chain modulus collapses the fold to 1 — one group,
    conservative but exact."""
    mods = {_entry_nb(fe, default_nb) for fe in files} or {default_nb}
    lo = min(mods)
    if lo <= 0 or any(m % lo for m in mods):
        return 1
    return lo


def _change_sig(fe: dict) -> tuple:
    """Change signature of a file entry: path + deletion-vector row count.
    A DV delete touches NO paths (it only re-points fe["dv"]), so a
    path-only signature would miss the rows it masks. The per-file DV
    count is precise: a file's masked set only grows (folding unions
    generations; unmasking requires a rewrite, which changes the path), so
    count-unchanged ⇒ masked-set-unchanged even though folding re-points
    every dv'd entry at a new DV file."""
    return fe["path"], int((fe.get("dv") or {}).get("rows", 0))


def _nested_leaf_names(m: dict) -> set[str]:
    """Bare leaf names that a nested column of any of ``m``'s schema
    versions writes into parquet (an array's ``element``, a map's
    ``key``/``value``, a struct's field names). Entries written before
    ``col_stats`` was keyed by column path may hold such a leaf's bounds
    under that bare name, so a top-level column sharing it gets no
    zone-map answer from ``col_stats``."""

    def leaves(name: str, dt: T.DataType) -> set[str]:
        if isinstance(dt, T.ArrayType):
            return leaves("element", dt.elementType) | leaves("array", dt.elementType)
        if isinstance(dt, T.MapType):
            return leaves("key", dt.keyType) | leaves("value", dt.valueType)
        if isinstance(dt, T.StructType):
            return set().union(*(leaves(f.name, f.dataType) for f in dt.fields))
        return {name}

    out: set[str] = set()
    for js in m["schema_versions"].values():
        for f in _schema_from_json(js).fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                out |= leaves(f.name, f.dataType)
    return out


def _diff_reports(
    o_live: Column,
    o_lsn: Column,
    o_hash: Column,
    n_dead: Column,
    n_lsn: Column,
    n_hash: Column,
) -> Column:
    """Whether the snapshot diff reports a key, from its stored (old) and
    new rows: a dead new row over a live stored row is a delete (of the
    stored payload), a live new row over no live stored row is an insert,
    and a live new row whose ``_lsn`` or payload hash (``_payload_hash``)
    differs from the live stored row's is an update. The one change rule
    of ``table_changes`` and a CoW merge's change rows."""
    same_row = (F.coalesce(o_lsn, F.lit(-1)) == F.coalesce(n_lsn, F.lit(-1))) & (
        o_hash == n_hash
    )
    return F.when(n_dead, o_live).otherwise(~o_live | ~same_row)


def _payload_hash(cols: list) -> Column:
    """xxhash64 of a row's payload columns, as the snapshot diff compares
    rows by; a key-only table has no payload, so all its rows hash alike."""
    return F.xxhash64(*cols) if cols else F.lit(0).cast("long")


def _gc_tombstones(df: DataFrame, horizon_lsn: int | None) -> DataFrame:
    """Drop delete tombstones with ``_lsn <= horizon_lsn`` from a resolved
    with-meta frame (None keeps them all). Safe once no event at-or-below
    the horizon can be redelivered, e.g. the streaming checkpoint's
    committed offset: nothing older is left for a tombstone to outvote."""
    if horizon_lsn is None:
        return df
    return df.filter(
        ~(
            F.coalesce(F.col(META_DEL), F.lit(False))
            & (F.coalesce(F.col(META_LSN), F.lit(-1)) <= horizon_lsn)
        )
    )


def _prune_ledger_to(nxt: dict, horizon_batch_id: int) -> int:
    """Drop ledger entries at-or-below ``horizon_batch_id`` from an
    uncommitted manifest and raise its recorded horizon (never lower it).
    Returns the number of entries removed."""
    committed = nxt["committed"]
    nxt["committed"] = {
        k: v for k, v in committed.items() if int(k) > horizon_batch_id
    }
    prev = nxt.get("ledger_horizon")
    nxt["ledger_horizon"] = (
        horizon_batch_id if prev is None else max(horizon_batch_id, int(prev))
    )
    return len(committed) - len(nxt["committed"])


class ManifestParquetTable:
    """Parquet data files + JSON manifest with an atomically-renamed pointer.

    Layout::

        <path>/data/<file>.parquet            immutable data files
        <path>/manifests/manifest-<sid>.json  immutable snapshots
        <path>/_current.json                  pointer {snapshot_id} (atomic rename)

    Manifest: schema_versions (read-time resolution), file list with
    (path, bucket, schema_version, rows), committed-batch ledger.
    """

    DEFAULT_BUCKETS = 32

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "doc_id",
        ref: str = "main",
        fs=None,
    ):
        from rap_etl_spark.fsio import POSIX_FS

        self.spark = spark
        self.path = path
        self.key = key
        self.ref = ref
        # every driver-side metadata/commit/maintenance byte goes through
        # this seam (fsio.TableFS interface) — POSIX here; HDFS/S3 plug in
        # without touching commit logic (deployment matrix in fsio.py)
        self.fs = fs or POSIX_FS
        self._manifest_cache: dict | None = None

    # ---------- creation ----------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key: str = "doc_id",
        n_buckets: int = DEFAULT_BUCKETS,
        overwrite: bool = False,
        merge_mode: str = "cow",
        fs=None,
    ) -> "ManifestParquetTable":
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
        t = cls(spark, path, key=key, fs=fs)
        if t.fs.exists(os.path.join(path, "_current.json")) and not overwrite:
            raise FileExistsError(f"table already exists at {path}")
        t.fs.makedirs(os.path.join(path, "data"))
        t.fs.makedirs(os.path.join(path, "manifests"))
        manifest = {
            "snapshot_id": t._new_snapshot_id(0),
            "parent": None,
            "seq": 0,
            "key": key,
            "merge_mode": merge_mode,
            "n_buckets": n_buckets,
            "current_schema_version": 0,
            "schema_versions": {"0": schema.json()},
            "files": [],
            "committed": {},
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "committed_at_us": int(time.time() * 1_000_000),
        }
        t._write_manifest(manifest)
        return t

    @staticmethod
    def _new_snapshot_id(seq: int) -> str:
        return f"{seq:08d}-{uuid.uuid4().hex[:12]}"

    # ---------- manifest plumbing ----------
    def _pointer_path(self) -> str:
        if self.ref != "main":
            return os.path.join(self.path, f"_ref-{self.ref}.json")
        return os.path.join(self.path, "_current.json")

    def _manifest(self, refresh: bool = False) -> dict:
        if self._manifest_cache is None or refresh:
            try:
                ptr = json.loads(self.fs.read_text(self._pointer_path()))
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"no table at {self.path!r} (ref {self.ref!r}): pointer "
                    f"file missing — create it first (ManifestParquetTable"
                    f".create / CLI `init`)"
                ) from None
            mpath = os.path.join(self.path, "manifests", f"manifest-{ptr['snapshot_id']}.json")
            self._manifest_cache = self._load_manifest_file(mpath)
        return self._manifest_cache

    # ---------- manifest paging (format 2) ----------
    # The file list is PAGED PER BUCKET into immutable, content-addressed
    # side files (manifests/bm-<sha>.json); the root manifest carries only
    # scalar state plus a {bucket: bm-file} pointer map. A commit that
    # touches k of B buckets therefore writes O(k) file-list bytes plus an
    # O(B) root — NOT the whole table's file+stats list rewritten per
    # commit (the reason Iceberg splits manifest lists from manifests: at
    # 10^5-10^6 files the root rewrite becomes the commit bottleneck).
    # Unchanged buckets are detected by ENTRY IDENTITY — file entries are
    # immutable and structurally shared across snapshots via
    # _next_manifest — so untouched buckets cost neither serialization nor
    # hashing. In memory the manifest keeps the flat "files" list every
    # caller already uses; "_bm_cache" ({bucket: (bm_name, entries)}) is
    # the private load-time record that makes reuse detection O(1)/bucket.

    def _bm_path(self, name: str) -> str:
        return os.path.join(self.path, "manifests", name)

    def _load_manifest_file(self, mpath: str) -> dict:
        man = json.loads(self.fs.read_text(mpath))
        if man.get("format", 1) >= 2:
            files: list = []
            cache: dict = {}
            for b, name in sorted(
                man.pop("bucket_manifests", {}).items(),
                key=lambda kv: int(kv[0]),
            ):
                entries = json.loads(self.fs.read_text(self._bm_path(name)))
                files.extend(entries)
                cache[b] = (name, entries)
            man["files"] = files
            man["_bm_cache"] = cache
        # Stamp each entry's write-time bucket modulus. On-disk entries
        # without "nb" are exactly those written before any split, whose
        # modulus IS this manifest's root modulus (split_buckets rewrites
        # every page it carries with "nb" explicit). In-place setdefault
        # keeps the dict objects shared with _bm_cache, so the identity-
        # based page-reuse detection in _write_manifest is untouched.
        nb0 = int(man.get("n_buckets") or 0)
        if nb0:
            for fe in man.get("files", []):
                fe.setdefault("nb", nb0)
        return man

    def _write_manifest(self, manifest: dict) -> None:
        """Commit a new snapshot with optimistic concurrency: under an
        exclusive lock, verify the current pointer still names this
        commit's parent (compare-and-swap), then atomically swap the
        pointer. A concurrent committer raises CommitConflictError — the
        caller re-reads and retries; the batch ledger keeps retries
        idempotent. Readers never take the lock (they see old or new
        pointer, never a mix, via the atomic rename)."""
        import hashlib

        sid = manifest["snapshot_id"]
        files = manifest.get("files", [])
        by_bucket: dict[str, list] = {}
        for fe in files:
            by_bucket.setdefault(str(fe["bucket"]), []).append(fe)
        prev_cache = manifest.get("_bm_cache") or {}
        ptrs: dict[str, str] = {}
        new_cache: dict[str, tuple] = {}
        for b, entries in by_bucket.items():
            pv = prev_cache.get(b)
            if (
                pv is not None
                and len(pv[1]) == len(entries)
                and all(x is y for x, y in zip(pv[1], entries))
            ):
                name = pv[0]  # bucket untouched since load: reuse, zero I/O
            else:
                payload = json.dumps(entries)
                name = f"bm-{hashlib.sha1(payload.encode()).hexdigest()[:20]}.json"
                bmp = self._bm_path(name)
                if not self.fs.exists(bmp):  # content-addressed: write once
                    self.fs.write_text(bmp, payload)
            ptrs[b] = name
            new_cache[b] = (name, entries)
        root = {
            k: v for k, v in manifest.items() if k not in ("files", "_bm_cache")
        }
        root["format"] = 2
        root["bucket_manifests"] = ptrs
        root["n_files"] = len(files)
        mpath = os.path.join(self.path, "manifests", f"manifest-{sid}.json")
        self.fs.write_text(mpath, json.dumps(root))
        lock_path = os.path.join(self.path, "_commit.lock")
        with self.fs.commit_lock(lock_path):
            expected_parent = manifest.get("parent")
            if expected_parent is not None and self.fs.exists(self._pointer_path()):
                current = json.loads(
                    self.fs.read_text(self._pointer_path())
                )["snapshot_id"]
                if current != expected_parent:
                    self.fs.remove(mpath)  # abandon this snapshot's manifest
                    raise CommitConflictError(
                        f"commit base {expected_parent} is stale; current "
                        f"snapshot is {current}"
                    )
            # preserve pointer metadata beyond the snapshot id (branch
            # refs carry their fork-point "base" for the publish CAS)
            ptr = {}
            if self.fs.exists(self._pointer_path()):
                ptr = json.loads(self.fs.read_text(self._pointer_path()))
            ptr["snapshot_id"] = sid
            self.fs.write_text_atomic(self._pointer_path(), json.dumps(ptr))
        manifest["_bm_cache"] = new_cache
        self._manifest_cache = manifest

    def _next_manifest(self, m: dict) -> dict:
        # Scalar state is deep-copied; FILE ENTRIES ARE SHARED (new list,
        # same immutable dicts). The sharing is what lets _write_manifest
        # prove a bucket untouched by identity and skip its page — a deep
        # copy here would cost O(total files) JSON per commit AND defeat
        # the reuse detection. A commit's recorded change files ("changes")
        # describe that commit only and are never carried forward.
        files = m.get("files", [])
        bm = m.get("_bm_cache")
        rest = {
            k: v for k, v in m.items() if k not in ("files", "_bm_cache", "changes")
        }
        nxt = json.loads(json.dumps(rest))
        nxt["files"] = list(files)
        if bm is not None:
            nxt["_bm_cache"] = bm
        nxt["parent"] = m["snapshot_id"]
        nxt["seq"] = m["seq"] + 1
        nxt["snapshot_id"] = self._new_snapshot_id(nxt["seq"])
        nxt["committed_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        # microsecond commit timestamp, STRICTLY monotonic along the
        # lineage even under clock skew/step-back (max with parent+1):
        # what makes AS-OF-timestamp reads well-defined — the wall-clock
        # committed_at above has second granularity, so two commits in
        # one second would otherwise be ambiguous
        nxt["committed_at_us"] = max(
            int(time.time() * 1_000_000), int(m.get("committed_at_us") or 0) + 1
        )
        return nxt

    # ---------- metadata API ----------
    def schema(self) -> T.StructType:
        return _schema_of(self._manifest())

    def snapshot_id(self) -> str:
        return self._manifest()["snapshot_id"]

    def n_buckets(self) -> int:
        return int(self._manifest()["n_buckets"])

    def merge_mode(self) -> str:
        """Table-level default write mode: 'cow' (copy-on-write, rewrite
        affected buckets — read-optimized) or 'mor' (merge-on-read, commit
        change rows as stacked delta files — write-optimized). Per-call
        ``merge(mode=...)`` overrides."""
        return str(self._manifest().get("merge_mode", "cow"))

    def set_merge_mode(self, mode: str) -> None:
        """Flip the table's default merge mode (a metadata-only commit,
        Iceberg `write.delete.mode` table-property analogue). Existing
        deltas stay readable either way — readers always resolve."""
        if mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {mode!r}")
        m = self._manifest()
        if m.get("merge_mode", "cow") == mode:
            return
        nxt = self._next_manifest(m)
        nxt["merge_mode"] = mode
        self._write_manifest(nxt)

    def constraints(self) -> dict[str, str]:
        """Table CHECK constraints (Delta `ALTER TABLE ADD CONSTRAINT`
        parity): name -> SQL boolean expression over the logical schema,
        validated against every incoming live row at merge/append time —
        ``update_where``'s post-images included, since they commit through
        ``merge`` (delete tombstones are exempt). NULL evaluates as pass
        (SQL-standard CHECK semantics)."""
        return dict(self._manifest().get("constraints", {}))

    def set_constraint(self, name: str, expr: str) -> None:
        """Add/replace a CHECK constraint (metadata-only commit). The
        EXISTING table is not re-validated — like Delta, the constraint
        guards writes from now on; run a one-off `read().filter(~expr)`
        audit if the history must be certified too."""
        # fail fast on an unparsable expression, driver-side
        local_frame(self.spark, [], self.schema()).filter(F.expr(expr))
        m = self._manifest()
        nxt = self._next_manifest(m)
        nxt.setdefault("constraints", {})[name] = expr
        self._write_manifest(nxt)

    def drop_constraint(self, name: str) -> None:
        m = self._manifest()
        if name not in m.get("constraints", {}):
            raise ValueError(f"no such constraint: {name}")
        nxt = self._next_manifest(m)
        del nxt["constraints"][name]
        self._write_manifest(nxt)

    def _validate_constraints(self, ch: DataFrame) -> None:
        """One tiny job over the (small, staged) change frame: per
        constraint, did ANY live row violate it? Delete tombstones are
        exempt (their payload is NULL by design). Zero cost when the
        table has no constraints."""
        cons = self._manifest().get("constraints", {})
        if not cons:
            return
        live = ~F.coalesce(F.col(META_DEL), F.lit(False))
        flags = (
            ch.filter(live)
            .agg(
                *[
                    F.max((~F.expr(e)).cast("int")).alias(n)
                    for n, e in cons.items()
                ]
            )
            .collect()[0]
        )
        violated = [n for n in cons if flags[n]]
        if violated:
            raise ConstraintViolationError(
                f"change batch violates CHECK constraint(s) {violated}: "
                + "; ".join(f"{n}: {cons[n]}" for n in violated)
            )

    def delta_depth(self) -> dict[int, int]:
        """Stacked delta-file count per dirty bucket — the MoR read
        amplification signal. An operator watches max(depth) and triggers
        ``materialize_deltas`` (or full ``compact``) past a threshold,
        exactly like Iceberg's rewrite_position_delete_files cadence."""
        out: dict[int, int] = {}
        for fe in self._manifest()["files"]:
            if fe.get("kind") == "delta":
                out[fe["bucket"]] = out.get(fe["bucket"], 0) + 1
        return out

    def committed_batches(self) -> dict[str, dict]:
        return dict(self._manifest()["committed"])

    def ledger_horizon(self) -> int | None:
        """All batch_ids <= this value are committed AND pruned from the
        per-batch ledger (None = nothing pruned). Keeps commit metadata
        O(live batches) instead of O(history) over a long CDC run."""
        h = self._manifest().get("ledger_horizon")
        return int(h) if h is not None else None

    def is_committed(self, batch_id: int | None) -> bool:
        if batch_id is None:
            return False
        m = self._manifest()
        h = m.get("ledger_horizon")
        if h is not None and int(batch_id) <= int(h):
            return True
        return str(batch_id) in m["committed"]

    def prune_ledger(self, horizon_batch_id: int) -> int:
        """Truncate the committed-batch ledger below `horizon_batch_id`
        (inclusive). Safe once the source guarantees no batch at-or-below
        the horizon can ever be redelivered — e.g. the Structured Streaming
        checkpoint's committed offset: the micro-batch planner never
        re-emits an epoch below it. Pruned ids still answer is_committed()
        == True via the recorded horizon, so idempotency is preserved with
        O(1) metadata for the entire pruned history. Returns entries
        removed; commits a new snapshot only when something was pruned."""
        m = self._manifest()
        nxt = self._next_manifest(m)
        removed = _prune_ledger_to(nxt, horizon_batch_id)
        if removed == 0 and nxt["ledger_horizon"] == m.get("ledger_horizon"):
            return 0
        self._write_manifest(nxt)
        return removed

    def refresh(self) -> None:
        self._manifest(refresh=True)

    def _skipped(self, m: dict, batch_id: int | None) -> CommitInfo | None:
        """A ledgered write's redelivery answer: None while `batch_id` still
        has to run, else a skip naming the snapshot that committed it (the
        current one once its ledger entry was pruned)."""
        if not self.is_committed(batch_id):
            return None
        prev = m["committed"].get(str(batch_id), {"snapshot_id": m["snapshot_id"]})
        return CommitInfo(prev["snapshot_id"], batch_id, 0, skipped=True)

    def _commit(self, nxt: dict, batch_id: int | None, rows: int) -> CommitInfo:
        """Commit a ledgered write: the batch ledger entry rides the same
        manifest as the data, so the batch and its ledger entry become
        visible in one atomic pointer swap."""
        if batch_id is not None:
            nxt["committed"][str(batch_id)] = {
                "snapshot_id": nxt["snapshot_id"],
                "event_count": rows,
            }
        self._write_manifest(nxt)
        return CommitInfo(nxt["snapshot_id"], batch_id, rows)

    # ---------- read path ----------
    @staticmethod
    def _physical_schema(logical: T.StructType) -> T.StructType:
        """Data files carry two hidden metadata columns beyond the logical
        schema: _lsn (row version — the LSN of the event that produced the
        row) and _del (delete tombstone). These make merges commutative
        (conditional on stored version) and keep deletes from being
        resurrected by late-arriving older events. read() strips them."""
        return T.StructType(
            list(logical.fields)
            + [
                T.StructField(META_LSN, T.LongType(), True),
                T.StructField(META_DEL, T.BooleanType(), True),
            ]
        )

    def _dv_frame(self, dv_entries: list[dict]) -> DataFrame:
        """Deletion-vector build side for the scan-time anti-join:
        (_dv_file basename, _dv_pos) pairs from every DV file the given
        entries reference, pruned to exactly those entries' data files (a
        per-commit DV file can carry positions for files since rewritten
        by compaction — those rows would never match, but pruning keeps
        the join build side at live-DV size). Broadcast when the
        manifest-recorded cardinality is small — the common case: DVs hold
        deleted positions, not data."""
        dv_paths = sorted({fe["dv"]["path"] for fe in dv_entries})
        names = [os.path.basename(fe["path"]) for fe in dv_entries]
        dvt = self.spark.read.schema("_dv_file string, _dv_pos long").parquet(
            *[os.path.join(self.path, p) for p in dv_paths]
        )
        if len(names) <= 1000:
            dvt = dvt.filter(F.col("_dv_file").isin(names))
        else:
            nm = local_frame(self.spark, [(n,) for n in names], "_dv_file string")
            dvt = dvt.join(F.broadcast(nm), "_dv_file", "left_semi")
        total = sum(int(fe["dv"].get("rows", 0)) for fe in dv_entries)
        if total <= 4_000_000:
            dvt = F.broadcast(dvt)
        return dvt

    def _read_files(
        self,
        files: list[dict],
        target_schema: T.StructType | None = None,
        with_meta: bool = False,
        m: dict | None = None,
        positions: bool = False,
    ) -> DataFrame:
        """THE data-file scan: every read of data files in this module is
        built here. Files are read grouped by write-time schema version,
        each group at its version's physical schema, and unioned.

        - ``target_schema`` casts every group up to it (Iceberg-style
          read-time resolution: old int32 files stay readable after int64
          widening) and filters tombstones out, or keeps them with ``_del``
          coalesced when ``with_meta``. ``None`` returns the rows as stored
          — no cast, no tombstone handling — for maintenance that must see
          or rewrite every physical row (DV delete and rewrite, bloom
          build, fsck).
        - Files carrying a DELETION VECTOR (``fe["dv"]``, written by
          ``delete_where(mode='dv')``) are scanned with Spark's
          ``_metadata.row_index`` and masked by an anti-join on (file
          basename, position) — Iceberg v3 DV semantics: the base file is
          untouched, killed positions vanish at scan time, BEFORE any MoR
          key resolution stacks on top. Files without a DV (the whole
          table until the first DV delete) take the fast path — no
          metadata columns, no join.
        - ``positions`` scans every physical row unmasked and keeps its
          ``(_dv_file, _dv_pos)`` (file basename, row position); use it
          with ``target_schema=None``.

        ``m`` is the snapshot manifest whose schema versions the files
        were written under, the current one by default. No files gives an
        empty ``LocalRelation`` (``local_frame``): the optimizer prunes it
        out of any union or join it lands in, and it never starts a task."""
        m = self._manifest() if m is None else m
        phys = self._physical_schema(target_schema or _schema_of(m))
        if not files:
            df = local_frame(self.spark, [], phys)
        else:
            dv_entries = [] if positions else [fe for fe in files if fe.get("dv")]
            plain = files if positions else [fe for fe in files if not fe.get("dv")]
            parts = []
            for group, masked in ((plain, False), (dv_entries, True)):
                if not group:
                    continue
                by_ver: dict[str, list[str]] = {}
                for fe in group:
                    by_ver.setdefault(str(fe["schema_version"]), []).append(
                        os.path.join(self.path, fe["path"])
                    )
                dvt = self._dv_frame(group) if masked else None
                for ver, paths in by_ver.items():
                    ver_schema = self._physical_schema(
                        _schema_from_json(m["schema_versions"][ver])
                    )
                    part = self.spark.read.schema(ver_schema).parquet(*paths)
                    if masked or positions:
                        part = part.select(
                            "*",
                            F.element_at(
                                F.split(F.col("_metadata.file_path"), "/"), -1
                            ).alias("_dv_file"),
                            F.col("_metadata.row_index").alias("_dv_pos"),
                        )
                    if masked:
                        part = part.join(
                            dvt, ["_dv_file", "_dv_pos"], "left_anti"
                        ).drop("_dv_file", "_dv_pos")
                    if target_schema is not None:
                        part = cast_to_schema(part, phys)
                    parts.append(part)
            df = parts[0]
            for p in parts[1:]:
                # rows as stored differ by version: a column added later is
                # NULL in older files, a widened one widens in the union
                df = df.unionByName(p, allowMissingColumns=True)
        if target_schema is None:
            return df
        if with_meta:
            return df.withColumn(META_DEL, F.coalesce(F.col(META_DEL), F.lit(False)))
        return df.filter(~F.coalesce(F.col(META_DEL), F.lit(False))).drop(
            META_LSN, META_DEL
        )

    def _read_resolved(
        self,
        files: list[dict],
        target_schema: T.StructType,
        with_meta: bool = False,
        m: dict | None = None,
    ) -> DataFrame:
        """Merge-on-read resolution of ``files`` under snapshot manifest
        ``m`` (its schema versions and bucket modulus; the current one by
        default). Buckets with no delta files stream
        straight through ``_read_files`` (zero overhead — the common case
        and the whole table in pure-CoW mode). Dirty buckets stack base +
        deltas with each file's commit sequence attached and reduce to one
        row per key by ``max_by`` over ``(lsn, del, seq)`` — exactly the
        CoW merge predicate ``c_v > o_v OR (c_v == o_v AND c_d >= o_d)``
        applied associatively (lexicographic max is order-free, and seq
        strictly increases per commit, so the argmax equals sequential
        delta application). The reduce shuffles only dirty-bucket rows;
        with a hash-partitioned reader it would be shuffle-free, and
        ``materialize_deltas`` bounds how much ever stacks. When every
        bucket holds a delta (the steady state of a busy MoR table) there
        is no clean branch at all: the resolved stack is the whole read."""
        m = self._manifest() if m is None else m
        deltas = [fe for fe in files if fe.get("kind") == "delta"]
        if not deltas:
            return self._read_files(files, target_schema, with_meta, m)
        # Dirty region = every file sharing keys with a delta's zone. With
        # uniform moduli that is exactly "same bucket id"; after a
        # split_buckets() an old-modulus base file is dirty when ANY delta
        # bucket folds onto it (residue rule in _BucketZones) — treating
        # it as clean would skip delta application for the rows it shares.
        nb_cur = int(m["n_buckets"])
        dirty_files, clean = _delta_zones(files, nb_cur).split(files, nb_cur)
        by_seq: dict[int, list[dict]] = {}
        for fe in dirty_files:
            by_seq.setdefault(int(fe.get("seq", 0)), []).append(fe)
        parts = [
            self._read_files(by_seq[s], target_schema, True, m).withColumn(
                "_seq", F.lit(s)
            )
            for s in sorted(by_seq)
        ]
        stacked = parts[0]
        for p in parts[1:]:
            stacked = stacked.unionByName(p)
        payload = [f.name for f in target_schema.fields if f.name != self.key] + [
            META_LSN,
            META_DEL,
        ]
        order_key = F.struct(
            F.coalesce(F.col(META_LSN), F.lit(-1)).alias("v"),
            F.coalesce(F.col(META_DEL), F.lit(False)).cast("int").alias("d"),
            F.col("_seq").alias("s"),
        )
        out = (
            stacked.groupBy(self.key)
            .agg(F.max_by(F.struct(*[F.col(c) for c in payload]), order_key).alias("_r"))
            .select(self.key, *[F.col(f"_r.{c}").alias(c) for c in payload])
        )
        if clean:
            out_clean = self._read_files(clean, target_schema, True, m)
            out = out_clean.unionByName(out.select(*out_clean.columns))
        else:
            out = out.select(*self._physical_schema(target_schema).names)
        if with_meta:
            return out
        return out.filter(~F.coalesce(F.col(META_DEL), F.lit(False))).drop(
            META_LSN, META_DEL
        )

    def read(self, snapshot_id: str | None = None) -> DataFrame:
        m = self._manifest() if snapshot_id is None else self._manifest_of(snapshot_id)
        return self._read_resolved(m["files"], _schema_of(m), m=m)

    def _manifest_of(self, snapshot_id: str) -> dict:
        """Load a (possibly non-current) snapshot's manifest. Raises if the
        snapshot has been expired by expire_snapshots — incremental readers
        must keep up within the snapshot-retention window, exactly as with
        Iceberg's incremental read / Delta's CDF retention."""
        m = self._manifest()
        if snapshot_id == m["snapshot_id"]:
            return m
        mpath = os.path.join(self.path, "manifests", f"manifest-{snapshot_id}.json")
        if not self.fs.exists(mpath):
            raise ValueError(
                f"snapshot {snapshot_id} not found (expired or never existed); "
                "incremental reads are bounded by snapshot retention"
            )
        return self._load_manifest_file(mpath)

    def table_changes(
        self, from_snapshot: str | None, to_snapshot: str | None = None
    ) -> DataFrame:
        """Incremental CDC read: row-level changes between two snapshots
        (Delta CDF / Iceberg incremental-read analogue, rebuilt on the
        manifest layer). Returns the logical columns of the `to` snapshot
        plus `_change_type` ('insert' | 'delete' | 'update_preimage' |
        'update_postimage') and `_change_lsn` (the row version that produced
        the change; NULL for unversioned bootstrap rows). A key changes by
        the rule a CoW merge records its change rows with
        (``_diff_reports``).

        Scale design — this is NOT a full-table diff:
        - Bucket pruning via manifest file lists: a bucket whose file-entry
          path set is identical in both snapshots was never rewritten
          (copy-on-write guarantee), so it is skipped without reading a
          byte. A batch that touched k of B buckets costs O(k/B · table),
          independent of history length.
        - Both sides of the diff are read bucket-pruned and joined on the
          table key only within changed buckets; the join shuffles only
          rewritten buckets' rows.
        - Compaction rewrites buckets without logical changes; those buckets
          are re-read but produce zero diff rows (payload + version equal),
          so correctness is unaffected — only pruning efficiency.

        `from_snapshot=None` diffs from the empty table (everything live in
        `to` is an insert). Each side is read under its own pinned snapshot
        manifest (``_read_resolved(..., m)``); schema evolution between the
        snapshots is resolved read-time: the old side is cast up to the `to`
        schema.
        """
        m_to = (
            self._manifest()
            if to_snapshot is None
            else self._manifest_of(to_snapshot)
        )
        new_schema = _schema_of(m_to)
        m_from = None if from_snapshot is None else self._manifest_of(from_snapshot)

        # Group files at the coarsest live modulus across BOTH snapshots
        # (bucket % fold): key-closed under split_buckets' mixed-moduli
        # layouts — a post-split MoR delta must land in the same group as
        # the pre-split base holding its keys, or the old side would skip
        # that base and misreport updates as inserts. With uniform moduli
        # the fold is the modulus itself and this is exactly per-bucket.
        nb_to = int(m_to.get("n_buckets") or 1)
        fold = _fold_modulus(
            (m_from or {"files": []})["files"] + m_to["files"], nb_to
        )

        def by_bucket(man: dict | None) -> dict[int, list[dict]]:
            out: dict[int, list[dict]] = {}
            for fe in (man or {"files": []})["files"]:
                out.setdefault(fe["bucket"] % fold, []).append(fe)
            return out

        old_b, new_b = by_bucket(m_from), by_bucket(m_to)

        def sig(fes: list[dict]) -> list[tuple]:
            return sorted(map(_change_sig, fes))

        changed = {
            b
            for b in set(old_b) | set(new_b)
            if sig(old_b.get(b, [])) != sig(new_b.get(b, []))
        }
        old_files = [fe for b in changed for fe in old_b.get(b, [])]
        new_files = [fe for b in changed for fe in new_b.get(b, [])]

        # with no `from` snapshot the old side has no files to resolve
        o = self._read_resolved(old_files, new_schema, True, m_from or m_to).alias("o")
        n = self._read_resolved(new_files, new_schema, True, m_to).alias("n")

        payload = [f.name for f in new_schema.fields if f.name != self.key]
        o_key, n_key = F.col(f"o.{self.key}"), F.col(f"n.{self.key}")
        o_live = o_key.isNotNull() & ~F.coalesce(F.col(f"o.{META_DEL}"), F.lit(False))
        n_dead = n_key.isNull() | F.coalesce(F.col(f"n.{META_DEL}"), F.lit(False))
        reported = _diff_reports(
            o_live,
            F.col(f"o.{META_LSN}"),
            _payload_hash([F.col(f"o.{c}") for c in payload]),
            n_dead,
            F.col(f"n.{META_LSN}"),
            _payload_hash([F.col(f"n.{c}") for c in payload]),
        )

        def row(side: str, kind: str):
            return F.struct(
                *[F.col(f"{side}.{c}").alias(c) for c in payload],
                F.lit(kind).alias("_change_type"),
                # the event version that PRODUCED the change: the new side's
                # _lsn (a delete's tombstone carries the deleting LSN); for
                # rows physically dropped (tombstone GC) fall back to old
                F.coalesce(F.col(f"n.{META_LSN}"), F.col(f"o.{META_LSN}")).alias(
                    "_change_lsn"
                ),
            )

        # a NULL array explodes to zero rows, so unchanged matched keys
        # (and tombstone-only keys) drop out without a separate filter
        joined = o.join(n, o_key == n_key, "full_outer").select(
            F.coalesce(o_key, n_key).alias(self.key),
            F.explode(
                F.when(
                    reported,
                    F.when(n_dead, F.array(row("o", "delete")))
                    .when(~o_live, F.array(row("n", "insert")))
                    .otherwise(
                        F.array(
                            row("o", "update_preimage"), row("n", "update_postimage")
                        )
                    ),
                )
            ).alias("_c"),
        )
        return joined.select(
            self.key,
            *[F.col(f"_c.{c}").alias(c) for c in payload],
            F.col("_c._change_type").alias("_change_type"),
            F.col("_c._change_lsn").alias("_change_lsn"),
        )

    def _batch_commit(self, batch_id: int) -> dict:
        """The manifest of the snapshot that committed ``batch_id``; raises
        ValueError when the ledger no longer names it or the snapshot
        was expired."""
        entry = self._manifest()["committed"].get(str(batch_id))
        if entry is None:
            raise ValueError(
                f"batch {batch_id} not in ledger (never committed, or pruned "
                "below the ledger horizon)"
            )
        return self._manifest_of(entry["snapshot_id"])

    def changes_for_batch(self, batch_id: int) -> DataFrame:
        """Changes introduced by one committed batch: diff of the batch's
        commit snapshot against its parent (ledger lookup + table_changes).
        Only available while the batch is in the un-pruned ledger AND both
        snapshots are within retention."""
        m = self._batch_commit(batch_id)
        return self.table_changes(m.get("parent"), m["snapshot_id"])

    def batch_delta_rows(self, batch_id: int) -> DataFrame | None:
        """The change rows one batch's commit wrote itself, with ``_lsn``
        and ``_del``, or None when it wrote none — a DV delete, an append,
        or a commit from before change files existed, whose change set
        only a snapshot diff recovers (``changes_for_batch``).

        - A CoW ``merge`` records its change files (``changes``): the rows
          the diff reports, deletes carrying the removed row. CoW DML
          commits through ``merge`` and records them the same way. An
          empty set is an empty frame that starts no job.
        - A commit that only appended delta files (every MoR ``merge`` and
          MoR DML commit) yields those files' rows, one per key the commit
          staged — rows that lose to a stored newer version at read time
          and identical re-upserts included — with tombstones' payload
          NULL, like the table's own tombstones.

        Both scan the commit snapshot's own entries as written
        (``_read_files`` under the pinned commit manifest, no MoR
        resolution), so a later DV delete, materialization or compaction
        does not change them. ValueError
        once the ledger entry is pruned or the commit snapshot (for delta
        commits, also its parent) is expired."""
        m = self._batch_commit(batch_id)
        schema = _schema_of(m)
        if "changes" in m:
            return self._read_files(m["changes"], schema, True, m)
        parent = m.get("parent")
        before = {
            _change_sig(fe)
            for fe in (self._manifest_of(parent)["files"] if parent else [])
        }
        if not before <= {_change_sig(fe) for fe in m["files"]}:
            return None
        added = [fe for fe in m["files"] if _change_sig(fe) not in before]
        if any(fe.get("kind") != "delta" for fe in added):
            return None
        rows = self._read_files(added, schema, True, m)
        dead = F.col(META_DEL)
        return rows.select(
            *[
                F.when(~dead, F.col(c)).alias(c)
                if c not in (self.key, META_LSN, META_DEL)
                else F.col(c)
                for c in rows.columns
            ]
        )

    # ---------- write path ----------
    def _bucket_expr(self, col: str, n_buckets: int | None = None):
        n = n_buckets if n_buckets is not None else self.n_buckets()
        return F.pmod(F.xxhash64(F.col(col)), F.lit(n)).cast("int")

    def _write_data_files(
        self,
        df: DataFrame,
        sid: str,
        schema_version: int,
        n_buckets: int | None = None,
        sort_cols: list[str] | None = None,
        kind: str = "base",
        seq: int | None = None,
        max_rows_per_file: int | None = None,
        drop_after_sort: list[str] | None = None,
    ) -> list[dict]:
        """Write df (must contain a `_b` bucket column) as one-or-more parquet
        files per bucket; returns manifest file entries. Files are written via
        partitionBy into a staging dir then renamed into data/ with the bucket
        encoded in the filename — keeps data/ flat (no partition-inference
        surprises when reading explicit file lists). A boolean `_chg` column
        is a second partition column of the same write: its true rows land
        in change files (``c``-prefixed, entries ``kind: "change"``). Files
        carry no key index: the sidecar blooms of ``build_key_blooms``,
        sized from each file's row count, are the table's one key index."""
        staging = os.path.join(self.path, f"_staging-{sid}")
        # cluster by bucket before the write: one file per bucket instead of
        # (tasks x buckets) small files — same move as Iceberg's hash
        # write-distribution mode; keeps later bucket-pruned reads one-file
        nb = n_buckets if n_buckets is not None else self.n_buckets()
        clustered = df.repartition(nb, F.col("_b"))
        if sort_cols:
            # sorted-within-bucket layout: rows land in the parquet file in
            # sort order, so row-group min/max statistics become selective
            # for point/range predicates on the sort columns
            clustered = clustered.sortWithinPartitions("_b", *sort_cols)
        if drop_after_sort:
            # sort key is layout-only (e.g. the z-order Morton key): drop
            # it AFTER the in-partition sort — a narrow projection keeps
            # row order, so the layout survives without persisting the key
            clustered = clustered.drop(*drop_after_sort)
        routed = "_chg" in df.columns
        writer = clustered.write.mode("overwrite").partitionBy(
            "_b", *(["_chg"] if routed else [])
        )
        if max_rows_per_file:
            # split each sorted bucket into size-bounded files with
            # CONTIGUOUS key ranges — this is what makes the per-file
            # min/max zone maps selective (a point lookup then touches one
            # file per bucket, Iceberg write.target-file-size analogue)
            writer = writer.option("maxRecordsPerFile", int(max_rows_per_file))
        _t_job = time.monotonic()
        writer.parquet(staging)
        _tlog("wdf.write_job", _t_job)
        _t_meta = time.monotonic()
        entries: list[dict] = []
        leaves = []  # (staging leaf, bucket, holds change rows)
        for bdir in sorted(self.fs.listdir(staging)):
            if not bdir.startswith("_b="):
                continue
            bucket = int(bdir.split("=", 1)[1])
            if not routed:
                leaves.append((bdir, bucket, False))
                continue
            for cdir in sorted(self.fs.listdir(os.path.join(staging, bdir))):
                if cdir.startswith("_chg="):
                    leaves.append((os.path.join(bdir, cdir), bucket, cdir == "_chg=true"))
        for leaf, bucket, change in leaves:
            i = 0
            for fn in sorted(self.fs.listdir(os.path.join(staging, leaf))):
                if not fn.endswith(".parquet"):
                    continue
                prefix = "c" if change else ("d" if kind == "delta" else "b")
                new_name = f"{prefix}{bucket:05d}-{sid}-{i:04d}.parquet"
                dest = os.path.join(self.path, "data", new_name)
                self.fs.rename(os.path.join(staging, leaf, fn), dest)
                # commit statistics from the parquet footer (driver-local
                # metadata read, no job): exact row count (MoR ledger
                # counts) + key-column min/max zone map (file skipping in
                # lookup — selective after sorted compaction, same role as
                # Iceberg's manifest-entry column bounds)
                import pyarrow.parquet as pq

                with self.fs.open_binary(dest) as _pf:
                    md = pq.ParquetFile(_pf).metadata
                entry = {
                    "path": os.path.join("data", new_name),
                    "bucket": bucket,
                    # write-time bucket modulus: bucket pruning after a
                    # split_buckets() matches this file by residue
                    "nb": nb,
                    "schema_version": schema_version,
                    "rows": int(md.num_rows),
                }
                entry.update(self._footer_stats(md))
                if change:
                    entry["kind"] = "change"
                elif kind == "delta":
                    entry["kind"] = "delta"
                    entry["seq"] = int(seq) if seq is not None else 0
                entries.append(entry)
                i += 1
        _tlog("wdf.footers", _t_meta)
        # clean staging
        self.fs.rmtree(staging)
        return entries

    def _footer_stats(self, md) -> dict:
        """Commit statistics of one written file, from one fold of its
        parquet footer's row-group [min, max] per TOP-LEVEL primitive
        column (driver-local metadata read, no job). Leaves are keyed by
        their parquet column path, so a nested leaf (``tokens.list.element``)
        never lands under a top-level column's name; nested leaves are not
        recorded at all. A column with any row group lacking min/max is
        unknown and contributes nothing (conservative):

        - ``min_key``/``max_key``: the key's zone map (string keys), which
          ``lookup`` prunes by — selective after a sorted compaction, the
          role of Iceberg's manifest-entry column bounds;
        - ``has_dels``: max(_del); False proves the file all live rows,
          which lets ``fast_count`` answer from metadata alone;
        - ``col_stats``: [min, max] of every other such column with
          JSON-safe bounds (str/int/float; timestamps and bytes are
          skipped), which ``read_where`` skips files by."""
        top: dict[str, tuple] = {}
        for ci in range(md.num_columns):
            col = md.schema.column(ci)
            if col.path != col.name:  # a leaf inside a nested column
                continue
            stats = [
                md.row_group(g).column(ci).statistics
                for g in range(md.num_row_groups)
            ]
            if all(st is not None and st.has_min_max for st in stats):
                top[col.path] = (
                    min((st.min for st in stats), default=None),
                    max((st.max for st in stats), default=None),
                )
        out: dict = {}
        lo, hi = top.get(self.key) or (None, None)
        if isinstance(lo, str) and isinstance(hi, str):
            out["min_key"], out["max_key"] = lo, hi
        if META_DEL in top:
            out["has_dels"] = bool(top[META_DEL][1])
        col_stats = {
            path: list(b)
            for path, b in top.items()
            if path not in (self.key, META_DEL)
            and all(isinstance(v, (str, int, float)) for v in b)
            and not isinstance(b[0], bool)
        }
        if col_stats:
            out["col_stats"] = col_stats
        return out

    def _rewrite(
        self,
        m: dict,
        data: DataFrame,
        keep: list[dict],
        n_buckets: int | None = None,
        kind: str = "base",
        **layout,
    ) -> dict:
        """The one write-back sequence of every data-rewriting commit: take
        the next snapshot of ``m``, write ``data`` (a frame carrying
        ``_b``) as bucket-clustered data files (``kind="delta"`` stamps
        them with the new snapshot's sequence number), and list the carried
        ``keep`` entries — the same dict objects, so untouched bucket pages
        are reused — followed by the written ones. ``n_buckets`` (rebucket)
        writes under, and records, a new table modulus; ``layout`` passes
        ``sort_cols``/``max_rows_per_file``/``drop_after_sort`` through to
        ``_write_data_files``. When ``data`` carries ``_chg`` (a CoW
        merge), its change rows become the commit's ``changes`` entries —
        listed beside ``files``, never in it, and empty when nothing
        changed. Returns the uncommitted manifest; the caller commits it
        through ``_commit`` (ledgered writes) or ``_write_manifest``
        (maintenance)."""
        nxt = self._next_manifest(m)
        if n_buckets is not None:
            nxt["n_buckets"] = n_buckets
        entries = self._write_data_files(
            data,
            nxt["snapshot_id"],
            m["current_schema_version"],
            n_buckets=n_buckets,
            kind=kind,
            seq=nxt["seq"],
            **layout,
        )
        if "_chg" in data.columns:
            nxt["changes"] = [fe for fe in entries if fe.get("kind") == "change"]
            entries = [fe for fe in entries if fe.get("kind") != "change"]
        nxt["files"] = keep + entries
        return nxt

    def _with_meta(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Normalize to physical layout: logical columns + _lsn + _del. The
        version and tombstone flag come from ``_lsn``/``_del`` when the
        frame carries them (physical rows, e.g. DML post-images, whose
        payload may itself hold columns named ``lsn`` or ``op``), else from
        the wire ``lsn``/``op`` of a CDC change frame."""
        have = set(df.columns)
        cols = []
        for f in schema.fields:
            if f.name in have:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        if META_LSN in have:
            lsn_expr = F.col(META_LSN).cast("long")
        elif "lsn" in have:
            lsn_expr = F.col("lsn").cast("long")
        else:
            lsn_expr = F.lit(None).cast("long")
        if META_DEL in have:
            del_expr = F.coalesce(F.col(META_DEL), F.lit(False))
        elif "op" in have:
            del_expr = F.col("op") == F.lit("D")
        else:
            del_expr = F.lit(False)
        return df.select(*cols, lsn_expr.alias(META_LSN), del_expr.alias(META_DEL))

    def _with_change_rows(self, df: DataFrame, data_cols: list[str]) -> DataFrame:
        """A CoW merge's output rows, each once as table data (``_chg``
        false) and a second time as a change row (``_chg`` true) when the
        snapshot diff of the commit (``table_changes``) would report it,
        by the diff's own rule (``_diff_reports``): an insert or update is
        a 'U' row with the new payload, and a tombstone over a stored live
        row is a delete (``_del`` true) with the stored payload. The change
        row's ``_lsn`` is the new row's, else the stored one. Losers, identical
        re-upserts and tombstones over dead or absent keys emit nothing.
        ``df`` carries ``key``, ``data_cols`` and ``_b``, plus the stored
        row as ``_o_live``, ``_o_hash`` and the struct ``_o`` of its
        payload and ``_lsn``; a frame without them (a bootstrap into empty
        buckets) has no stored side."""
        payload = [c for c in data_cols if c not in (META_LSN, META_DEL)]
        n_dead = F.coalesce(F.col(META_DEL), F.lit(False))
        chg = {c: F.col(c) for c in payload}
        lsn = F.col(META_LSN)
        changed = ~n_dead
        if "_o_live" in df.columns:
            changed = _diff_reports(
                F.col("_o_live"),
                F.col(f"_o.{META_LSN}"),
                F.col("_o_hash"),
                n_dead,
                F.col(META_LSN),
                _payload_hash([F.col(c) for c in payload]),
            )
            chg = {c: F.when(n_dead, F.col(f"_o.{c}")).otherwise(F.col(c)) for c in payload}
            lsn = F.coalesce(F.col(META_LSN), F.col(f"_o.{META_LSN}"))
        chg[META_LSN], chg[META_DEL] = lsn, n_dead

        def row(cols: dict, is_change: bool):
            return F.struct(
                *[cols.get(c, F.col(c)).alias(c) for c in data_cols],
                F.lit(is_change).alias("_chg"),
            )

        rows = F.when(changed, F.array(row({}, False), row(chg, True))).otherwise(
            F.array(row({}, False))
        )
        return df.select(self.key, F.inline(rows), "_b")

    def append(
        self,
        df: DataFrame,
        batch_id: int | None = None,
        assume_unique: bool = False,
    ) -> CommitInfo:
        """Bootstrap append. The merge path's single full-outer-join
        reduction relies on the table invariant of AT MOST ONE ROW PER KEY,
        so append enforces it rather than trusting the caller:

        - duplicate keys WITHIN the batch are reduced deterministically
          (max (_lsn, _del, payload-hash) wins — same order merge uses);
        - appending a key that ALREADY EXISTS in the table raises (that
          write must go through merge). The existence check scans only the
          current table's keys and is skipped entirely on an empty table —
          the normal bootstrap case.

        ``assume_unique=True`` skips both (caller-guaranteed disjoint
        unique keys, e.g. synthesized bootstrap data).
        """
        m = self._manifest()
        if skip := self._skipped(m, batch_id):
            return skip
        data = self._with_meta(df, self.schema())
        _pinned = None
        if m.get("constraints"):
            # same hazard as merge(): validation and the write are separate
            # jobs over the same frame — pin it so both see identical rows
            data = _pinned = data.persist()
        self._validate_constraints(data)
        if not assume_unique:
            from pyspark.sql import Window

            order = [
                F.col(META_LSN).desc_nulls_last(),
                F.col(META_DEL).desc(),
                F.xxhash64(*[F.col(c) for c in data.columns]).desc(),
            ]
            w = Window.partitionBy(self.key).orderBy(*order)
            data = (
                data.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            if m["files"]:
                existing = self._read_files(m["files"], self.schema(), with_meta=True)
                n_overlap = (
                    data.join(existing.select(self.key), on=self.key, how="left_semi")
                    .limit(1)
                    .count()
                )
                if n_overlap:
                    raise ValueError(
                        "append would duplicate existing key(s); use merge() "
                        "for upserts (or assume_unique=True if keys are "
                        "known-disjoint)"
                    )
        try:
            data = data.withColumn("_b", self._bucket_expr(self.key))
            nxt = self._rewrite(m, data, m["files"])
            return self._commit(nxt, batch_id, int(df.count()))
        finally:
            if _pinned is not None:
                _pinned.unpersist()

    def merge(
        self,
        changes: DataFrame,
        batch_id: int | None = None,
        affected_buckets: set[int] | None = None,
        n_rows: int | None = None,
        mode: str | None = None,
        update_semantics: str = "row",
        affected_buckets_nb: int | None = None,
    ) -> CommitInfo:
        """Bucket-granular copy-on-write MERGE, conditional on row version.

        ``changes``: at most one row per key; columns = table schema + ``op``
        ('I'/'U' upsert, 'D' delete) + optionally ``lsn``. Semantics
        (Iceberg-equivalent: MERGE INTO ... WHEN MATCHED AND s.lsn > t._lsn
        AND s.op='D' THEN DELETE / WHEN MATCHED AND s.lsn > t._lsn THEN
        UPDATE SET * / WHEN NOT MATCHED THEN INSERT *):

        - Only buckets containing changed keys are rewritten (file pruning
          via the manifest); untouched buckets keep their files.
        - A change only wins against a stored row with a LOWER _lsn — merges
          are therefore commutative across batches and idempotent per event,
          not just per batch_id.
        - Deletes are kept as tombstone rows (_del=true, payload NULL) so a
          late-arriving older event cannot resurrect a deleted key.
        - Survivor rows (keys untouched in affected buckets) are carried via
          a left-anti join; matched old rows join the LWW reduction.
        - The commit's change set rides the same write: every row the
          snapshot diff of this commit would report (``_with_change_rows``)
          is written a second time into per-bucket change files, listed in
          the manifest's ``changes`` beside ``files`` (empty when nothing
          changed). ``publish.batch_events`` reads them instead of diffing
          both sides of the rewritten buckets. The price is up to twice the
          write bytes on a merge that changes every row it rewrites.

        ``mode`` (default: the table's ``merge_mode``):

        - ``"cow"`` — rewrite affected buckets (below). Read-optimized.
        - ``"mor"`` — MERGE-ON-READ: commit the change rows as per-bucket
          DELTA files stamped with this commit's sequence number and touch
          NO existing file. Write cost is O(change set) — the floor — so
          sustained upsert throughput is bounded by the WAL scan, not by
          base-bucket rewrite amplification (at 10^10 events with Zipf
          keys, CoW rewrites the same hot buckets every batch). Readers
          resolve stacked deltas with the identical version-conditional
          rule (see ``_read_resolved``), so final state is byte-equal to
          CoW; ``materialize_deltas`` folds deltas down on a maintenance
          cadence. Identical semantics to Iceberg v2 equality deletes +
          data files with sequence-number shadowing.

        ``update_semantics``:

        - ``"row"`` (default) — a winning update replaces the whole row.
        - ``"patch"`` — partial-update CDC (Debezium-style): a winning
          non-delete change sets only the columns it carries; NULL payload
          columns keep the stored row's value (per-column coalesce inside
          the same single full-outer join — no extra job or shuffle).
          Fold multi-event batches with ``operators.cdc.lww_patch`` first
          so the per-key row already carries the column-wise winners.
          CoW only: stacked MoR deltas resolve row-wise at read time, so
          patch+mor is refused rather than silently wrong (same
          restriction as Iceberg equality deletes).

        ``affected_buckets``/``n_rows``: caller-supplied discovery hints
        (the engine derives them from a column-pruned scan of the staged
        delta — no dedup/unpack Python stage runs for discovery). With a
        hint the change frame is consumed EXACTLY ONCE, by the join+write
        job, so the persist/materialize pass disappears entirely. A
        superset bucket hint is safe (an unchanged bucket is rewritten
        byte-equal via the full-outer join); a MISSING bucket would lose
        changes, so hints must cover every change key's bucket. A bucket
        hint needs ``n_rows`` (ValueError otherwise): the hinted path never
        counts the change rows, and that count is the ledger's row count.

        ``affected_buckets_nb``: the bucket MODULUS the hints were computed
        under (default: the table's current one). An OCC rebase can land a
        merge on a manifest whose bucket count a concurrent
        split_buckets/merge_buckets just changed — interpreting the stale
        hint ids at the new modulus would both miss buckets (lost rows)
        and leave un-joined old rows next to fresh inserts (duplicates).
        Passing the staging-time modulus keeps the hints exact: they are
        matched as zones at THEIR OWN modulus, which covers every change
        key's file in either direction of the layout change.
        """
        m = self._manifest()
        if skip := self._skipped(m, batch_id):
            return skip

        mode = mode or m.get("merge_mode", "cow")
        if mode not in ("cow", "mor"):
            raise ValueError(f"merge mode must be 'cow' or 'mor', got {mode!r}")
        if update_semantics not in ("row", "patch"):
            raise ValueError(
                f"update_semantics must be 'row' or 'patch', got {update_semantics!r}"
            )
        if update_semantics == "patch" and mode == "mor":
            raise ValueError(
                "update_semantics='patch' requires mode='cow': MoR deltas "
                "resolve row-wise at read time and would drop unset columns"
            )
        if affected_buckets is not None and n_rows is None:
            raise ValueError(
                "affected_buckets needs n_rows: the hinted merge never counts "
                "the change rows, so the ledger would have no row count"
            )
        schema = self.schema()
        ch = self._with_meta(changes, schema).withColumn("_b", self._bucket_expr(self.key))
        persisted = False
        if m.get("constraints"):
            # constraint validation is one job over ch and the write job
            # recomputes the frame — pin it so a nondeterministic upstream
            # cannot pass validation yet write different (violating) rows
            ch = ch.persist()
            persisted = True
        self._validate_constraints(ch)
        if mode == "mor":
            # write-optimized path: ONE job (bucket-clustered write of the
            # change rows as delta files), no read of existing data at all.
            # The exact ledger count falls out of the written files' parquet
            # footers (changes has one row per key by contract), so the
            # change frame is consumed exactly once even without a hint.
            try:
                _t0 = time.monotonic()
                nxt = self._rewrite(m, ch, m["files"], kind="delta")
                _tlog("merge.write_delta_files", _t0)
                if n_rows is None:
                    n_rows = sum(fe["rows"] for fe in nxt["files"][len(m["files"]) :])
                return self._commit(nxt, batch_id, int(n_rows))
            finally:
                if persisted:
                    ch.unpersist()
        if affected_buckets is not None:
            affected_set = {int(b) for b in affected_buckets}
            rows = int(n_rows)
        else:
            # no hint: materialize once, then one job yields BOTH the
            # affected-bucket set and the change-row count (n_buckets tiny
            # groups) — these driver-side barriers are the serial floor on
            # a real batch cadence, which is why the hinted path exists
            if not persisted:  # constraints may have pinned it already
                ch = ch.persist()
                persisted = True
            _t0 = time.monotonic()
            _stats = ch.groupBy("_b").agg(F.count(F.lit(1)).alias("_n")).collect()
            affected_set = {r["_b"] for r in _stats}
            rows = int(sum(r["_n"] for r in _stats))
            _tlog("merge.materialize_changes", _t0)
        try:
            # residue-aware pruning: after split_buckets() a pre-split file
            # overlapping ANY affected bucket is pulled into the rewrite
            # (its untouched sibling rows pass through the full-outer join
            # and land re-clustered under the current modulus — lazy
            # migration), everything else keeps its entry untouched. Hints
            # match as zones at the modulus they were computed under
            # (affected_buckets_nb) — exact across a racing layout change.
            hint_nb = int(affected_buckets_nb or m["n_buckets"])
            old_entries, keep_entries = _bucket_zones(
                affected_set, hint_nb
            ).split(m["files"], int(m["n_buckets"]))

            # resolve any stacked MoR deltas in the affected buckets first:
            # the single full-outer join below requires one row per key on
            # the old side, and a CoW merge over a dirty bucket doubles as
            # its materialization (delta entries leave via old_entries)
            old_df = self._read_resolved(old_entries, schema, with_meta=True)

            # Version-conditional reduction in ONE full-outer join: both
            # sides carry at most one row per key (table invariant; merge
            # contract), so survivors (old-only), inserts (change-only) and
            # matched rows all fall out of a single join with a per-column
            # conditional — replacing the previous anti-join + semi-join +
            # union + max_by aggregation (3 shuffles of the old side and a
            # variable-width agg) with one shuffle per side. The change
            # wins iff its (_lsn, _del) order is >= the stored row's —
            # identical semantics to the former max_by((payload),
            # (_lsn, _del)) with NULL _lsn (bootstrap rows) losing to any
            # versioned event; equal (key, lsn) rows are byte-identical by
            # the WAL contract, so the >= tiebreak is content-neutral.
            data_cols = [c for c in old_df.columns if c != self.key]
            if not old_entries:
                # Bootstrap / all-new-bucket fast path: the affected buckets
                # hold no files, so the full-outer reduction below
                # degenerates to the change rows themselves (change_wins is
                # TRUE for every row when the old key is absent — including
                # a 'D' on an absent key, which lands as a _del=true
                # tombstone row exactly as the join would emit it).
                # Skipping the join removes two shuffle+sort stages from
                # the write job — the initial-load case (and every commit's
                # first write into a fresh bucket) is append-shaped, the
                # same shortcut Iceberg's MERGE planner takes.
                new_data = ch.select(self.key, *data_cols, "_b")
            else:
                o = old_df.alias("o")
                c = ch.select(*old_df.columns).alias("c")
                o_key, c_key = F.col(f"o.{self.key}"), F.col(f"c.{self.key}")
                o_v = F.coalesce(F.col(f"o.{META_LSN}"), F.lit(-1))
                c_v = F.coalesce(F.col(f"c.{META_LSN}"), F.lit(-1))
                o_d = F.coalesce(F.col(f"o.{META_DEL}"), F.lit(False)).cast("int")
                c_d = F.coalesce(F.col(f"c.{META_DEL}"), F.lit(False)).cast("int")
                change_wins = F.when(c_key.isNull(), F.lit(False)).otherwise(
                    o_key.isNull()
                    | (c_v > o_v)
                    | ((c_v == o_v) & (c_d >= o_d))
                )
                meta_cols = {META_LSN, META_DEL}

                def _winning_value(col: str):
                    # patch: a winning non-delete change keeps the stored
                    # value for payload columns it left NULL; meta columns
                    # and tombstones always take the change side whole.
                    c_col, o_col = F.col(f"c.{col}"), F.col(f"o.{col}")
                    if update_semantics == "patch" and col not in meta_cols:
                        return F.when(
                            F.coalesce(F.col(f"c.{META_DEL}"), F.lit(False)), c_col
                        ).otherwise(F.coalesce(c_col, o_col))
                    return c_col

                payload = [col for col in data_cols if col not in meta_cols]
                new_data = (
                    o.join(c, o_key == c_key, "full_outer")
                    .select(
                        F.coalesce(o_key, c_key).alias(self.key),
                        *[
                            F.when(change_wins, _winning_value(col))
                            .otherwise(F.col(f"o.{col}"))
                            .alias(col)
                            for col in data_cols
                        ],
                        # the stored row, which the change rows compare to
                        (o_key.isNotNull() & (o_d == 0)).alias("_o_live"),
                        _payload_hash([F.col(f"o.{col}") for col in payload]).alias(
                            "_o_hash"
                        ),
                        F.struct(
                            *[F.col(f"o.{col}") for col in payload + [META_LSN]]
                        ).alias("_o"),
                    )
                    .withColumn("_b", self._bucket_expr(self.key))
                )
            new_data = self._with_change_rows(new_data, data_cols)

            _t0 = time.monotonic()
            nxt = self._rewrite(m, new_data, keep_entries)
            _tlog("merge.write_data_files", _t0)
            return self._commit(nxt, batch_id, rows)
        finally:
            if persisted:
                ch.unpersist()

    def lookup(self, keys: list[str]) -> DataFrame:
        """Point lookup by key, bucket-pruned: hashes the requested keys to
        their buckets and reads ONLY those buckets' files — O(|keys| x
        bucket-size) instead of O(table). The payoff of the hash-bucket
        layout for serving-style access (Iceberg bucket-transform partition
        pruning equivalent).

        The bucket and bloom-probe hashes must match the executor-side
        ``_bucket_expr`` (xxhash64 seed 42 over the UTF-8 key, pmod nb), so
        they come from the same JVM function over the keys as a
        ``LocalRelation`` (``local_frame``): the optimizer folds the hashes
        into constants on the driver, and the probe runs no Spark job.

        Data files carry no parquet bloom, so a file the zone maps and
        sidecar blooms cannot rule out is read whole; the ``isin`` filter
        keeps the answer exact."""
        m = self._manifest()
        kdf = local_frame(self.spark, [(k,) for k in keys], f"{self.key} string")
        probe_rows = kdf.select(
            self._bucket_expr(self.key).alias("_b"),
            F.xxhash64(F.col(self.key)).alias("h1"),
            F.xxhash64(F.col(self.key), F.lit(1)).alias("h2"),
        ).collect()
        buckets = {r["_b"] for r in probe_rows}
        mask = (1 << 64) - 1
        probes = [(r["h1"] & mask, r["h2"] & mask) for r in probe_rows]
        files = self._prune_files_by_key(
            _bucket_zones(buckets, self.n_buckets()).split(
                m["files"], self.n_buckets()
            )[0],
            keys,
            probes,
        )
        df = self._read_resolved(files, self.schema())
        return df.filter(F.col(self.key).isin(list(keys)))

    def _prune_files_by_key(
        self,
        files: list[dict],
        keys: list[str],
        probes: list[tuple[int, int]] | None = None,
    ) -> list[dict]:
        """Zone-map file skipping: drop files whose [min_key, max_key]
        bounds (recorded from parquet footers at commit time) contain none
        of the requested keys. After a sorted compaction
        (``compact(sort_cols=[key])``) each bucket's files hold disjoint
        key ranges, so a point lookup reads exactly one file per key —
        Iceberg manifest-entry column-bounds pruning. Then the sidecar
        blooms (``probes``) drop files that cannot hold any key. Files
        without bounds (pre-stats commits) or without a sidecar are kept:
        the table has no other key index, so ``lookup`` reads them."""
        skeys = sorted(str(k) for k in keys)
        out = []
        for fe in files:
            lo, hi = fe.get("min_key"), fe.get("max_key")
            if lo is not None and hi is not None:
                import bisect

                i = bisect.bisect_left(skeys, lo)
                if i >= len(skeys) or skeys[i] > hi:
                    continue  # zone map proves no key in range
            # zone map can't rule the file out (or has no bounds): the
            # bloom sidecar can — the membership test that stays selective
            # on UNSORTED files, where every delta's [min,max] spans the
            # whole bucket (build_key_blooms)
            if probes is not None and not self._bloom_hits(fe, probes):
                continue
            out.append(fe)
        return out

    def read_range(self, col: str, lo=None, hi=None) -> DataFrame:
        """Single-column form of :meth:`read_where`."""
        return self.read_where({col: (lo, hi)})

    def read_where(self, ranges: dict[str, tuple]) -> DataFrame:
        """Conjunctive range read ({col: (lo, hi), ...}; None = open end)
        with MANIFEST-LEVEL file skipping on any column that has recorded
        zone maps (`col_stats`, written from parquet footers at commit
        time; the key column uses its min_key/max_key bounds). A file is
        skipped when ANY predicate's [lo, hi] cannot intersect its bounds
        — multi-column predicates compound the pruning (after a z-order
        compact both dimensions prune). After
        `compact(sort_cols=[col], max_rows_per_file=...)` lays out
        contiguous ranges, a narrow range touches one file per bucket.
        Merge-on-read buckets are pruned at BUCKET granularity (delta
        resolution needs the bucket's full file stack); files without
        stats are conservatively read, and so is every file for a column
        that shares its name with a nested column's leaf
        (``_nested_leaf_names``). The residual filter still applies,
        so the result is exact regardless of stats coverage."""
        m = self._manifest()
        files = m["files"]
        nb = int(m["n_buckets"])
        # dirty region = every file sharing keys with a delta zone; pruning
        # granularity is the region's FOLD groups (bucket % coarsest live
        # modulus) — key-closed by the divisibility chain, and exactly
        # per-bucket when moduli are uniform (the pre-split behavior)
        dirty_files, _ = _delta_zones(files, nb).split(files, nb)
        dirty_paths = {fe["path"] for fe in dirty_files}
        fold = _fold_modulus(dirty_files, nb) if dirty_files else nb
        shadowed = _nested_leaf_names(m)

        def bounds(fe, col):
            if col == self.key:
                return fe.get("min_key"), fe.get("max_key")
            if col in shadowed:
                return None, None
            cs = fe.get("col_stats", {}).get(col)
            return (cs[0], cs[1]) if cs else (None, None)

        def overlaps(fe):
            for col, (lo, hi) in ranges.items():
                b_lo, b_hi = bounds(fe, col)
                if b_lo is None or b_hi is None:
                    continue
                try:
                    if lo is not None and b_hi < lo:
                        return False
                    if hi is not None and b_lo > hi:
                        return False
                except TypeError:
                    # caller-supplied bound vs JSON-restored stat of a
                    # different type (int vs str, ...): pruning is an
                    # OPTIMIZATION — keep the file, the residual filter
                    # below stays exact
                    continue
            return True

        keep_groups = {
            fe["bucket"] % fold for fe in dirty_files if overlaps(fe)
        }
        kept = [
            fe
            for fe in files
            if (
                fe["bucket"] % fold in keep_groups
                if fe["path"] in dirty_paths
                else overlaps(fe)
            )
        ]
        df = self._read_resolved(kept, self.schema())
        for col, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    # ---------- maintenance ----------
    # compact, compact_buckets, materialize_deltas and rebucket are the
    # rewrite_data_files family (the two bucket-scoped ones share the
    # _fold_zones tail): each reads a resolved with-meta frame, applies the
    # shared rules (_gc_tombstones, _prune_ledger_to) and writes back
    # through _rewrite — the sequence merge, append and DML commit through.
    def compact(
        self,
        tombstone_horizon_lsn: int | None = None,
        expire_snapshots_keep: int | None = None,
        ledger_horizon_batch_id: int | None = None,
        sort_cols: list[str] | None = None,
        max_rows_per_file: int | None = None,
        zorder: list[str] | None = None,
        zorder_bits: int = 16,
    ) -> CommitInfo:
        """Table maintenance, Iceberg rewrite_data_files-style:

        - rewrite every bucket's live rows into one file per bucket (merges
          the per-commit file fragments a long CDC run accumulates);
        - garbage-collect delete tombstones with _lsn <= tombstone_horizon
          (``_gc_tombstones``: safe once no event at-or-below that LSN can
          ever be redelivered — e.g. the streaming checkpoint's committed
          offset);
        - optionally truncate the committed-batch ledger at-or-below
          `ledger_horizon_batch_id` in the same commit (``_prune_ledger_to``,
          the rule ``prune_ledger`` commits on its own) so commit metadata
          stays O(live), not O(history);
        - optionally expire old snapshot manifests (keep the newest K),
          freeing their exclusive data files and sweeping orphans;
        - optionally lay rows out sorted by `sort_cols` within each bucket
          (Iceberg rewrite_data_files sort-strategy analogue): parquet
          row-group min/max stats on the sort columns become selective, so
          point/range scans inside a bucket skip row groups.

        Runs as one normal commit: readers flip atomically with the pointer.
        """
        m = self._manifest()
        schema = self.schema()
        df = _gc_tombstones(
            self._read_resolved(m["files"], schema, with_meta=True),
            tombstone_horizon_lsn,
        )
        drop_after_sort = None
        if zorder is not None:
            # OPTIMIZE ZORDER BY: lay rows out along a Morton curve over
            # TWO dimensions so the per-file zone maps (col_stats) become
            # selective for range predicates on EITHER column — a plain
            # sort makes only its leading column selective. Quantization
            # is linear over each column's [min, max] (one tiny 4-value
            # agg; the maintenance pass reads the table anyway); the z-key
            # is a pure codegen bit-interleave (functions/zorder.py) and
            # is dropped after the in-partition sort, never written.
            if sort_cols:
                raise ValueError("sort_cols and zorder are mutually exclusive")
            if len(zorder) != 2:
                raise ValueError("zorder takes exactly two columns")
            for zc in zorder:
                if zc not in schema.names or not isinstance(
                    schema[zc].dataType, T.NumericType
                ):
                    raise ValueError(
                        f"zorder column {zc!r} must be a numeric table "
                        "column (linear quantization needs an ordered "
                        "numeric domain)"
                    )
            from rap_etl_spark.functions.zorder import zorder_key

            a, b = zorder
            mm = df.agg(
                F.min(a).alias("alo"), F.max(a).alias("ahi"),
                F.min(b).alias("blo"), F.max(b).alias("bhi"),
            ).first()
            top = (1 << zorder_bits) - 1

            def quant(col, lo, hi):
                if lo is None or hi is None or hi == lo:
                    return F.lit(0).cast("long")
                return (
                    (F.col(col).cast("double") - float(lo))
                    * top
                    / (float(hi) - float(lo))
                ).cast("long")

            df = df.withColumn(
                "_zkey",
                zorder_key(
                    quant(a, mm["alo"], mm["ahi"]),
                    quant(b, mm["blo"], mm["bhi"]),
                    bits=zorder_bits,
                ),
            )
            sort_cols = ["_zkey"]
            drop_after_sort = ["_zkey"]
        nxt = self._rewrite(
            m,
            df.withColumn("_b", self._bucket_expr(self.key)),
            [],
            sort_cols=sort_cols,
            max_rows_per_file=max_rows_per_file,
            drop_after_sort=drop_after_sort,
        )
        if ledger_horizon_batch_id is not None:
            _prune_ledger_to(nxt, ledger_horizon_batch_id)
        self._write_manifest(nxt)
        if expire_snapshots_keep is not None:
            self.expire_snapshots(keep=expire_snapshots_keep)
        return CommitInfo(nxt["snapshot_id"], None, -1)

    def materialize_deltas(self, buckets: set[int] | None = None) -> CommitInfo:
        """Targeted MoR maintenance (Iceberg rewrite_data_files with a
        delete-file filter): fold stacked delta files back into one base
        file for DIRTY buckets only — clean buckets' files are untouched,
        so cost is O(dirty buckets), not O(table) like full compact().
        Run on a cadence keyed off ``delta_depth()`` to bound read
        amplification while keeping the merge path write-optimal."""
        m = self._manifest()
        nb = int(m["n_buckets"])
        deltas = [fe for fe in m["files"] if fe.get("kind") == "delta"]
        if buckets is not None:
            req = _bucket_zones({int(b) for b in buckets}, nb)
            deltas = [fe for fe in deltas if req.hits(fe, nb)]
        if not deltas:
            return CommitInfo(m["snapshot_id"], None, 0, skipped=True)
        zones = _BucketZones((fe["bucket"], _entry_nb(fe, nb)) for fe in deltas)
        return self._fold_zones(m, zones, None)

    def compact_buckets(
        self, buckets: set[int], tombstone_horizon_lsn: int | None = None
    ) -> CommitInfo:
        """Targeted CoW maintenance (Iceberg binpack strategy, bucket-
        scoped): merge the SELECTED buckets' accumulated file fragments
        (and any stacked MoR deltas) into one file per bucket — other
        buckets' files pass through the commit untouched, so cost is
        O(selected buckets), not O(table). The small-file answer for a
        long CDC run: drive it from a file-count trigger (see
        CdcEngine.auto_compact_files) instead of scheduling full
        compact()s. Optionally GCs tombstones at/below the horizon
        (``_gc_tombstones``, the rule compact() applies)."""
        m = self._manifest()
        zones = _bucket_zones({int(b) for b in buckets}, int(m["n_buckets"]))
        return self._fold_zones(m, zones, tombstone_horizon_lsn)

    def _fold_zones(
        self, m: dict, zones: _BucketZones, tombstone_horizon_lsn: int | None
    ) -> CommitInfo:
        """The one tail of bucket-scoped maintenance: rewrite every file
        sharing keys with ``zones`` as resolved rows re-clustered at the
        current modulus (migrating any pre-split file it touches), GC
        tombstones at/below the horizon, and commit with no ledger entry.
        The fold is CLOSED under key-sharing (``_closure_split``): it
        resolves and drops delta files, so a matched pre-split base brings
        every finer stack it shares keys with."""
        target, keep = _closure_split(m["files"], zones, int(m["n_buckets"]))
        if not target:
            return CommitInfo(m["snapshot_id"], None, 0, skipped=True)
        df = _gc_tombstones(
            self._read_resolved(target, self.schema(), with_meta=True),
            tombstone_horizon_lsn,
        )
        nxt = self._rewrite(m, df.withColumn("_b", self._bucket_expr(self.key)), keep)
        self._write_manifest(nxt)
        return CommitInfo(nxt["snapshot_id"], None, -1)

    def files_per_bucket(self) -> dict[int, int]:
        """Live file count per bucket — the auto-compact trigger input.
        O(manifest), no job."""
        out: dict[int, int] = {}
        for fe in self._manifest()["files"]:
            out[fe["bucket"]] = out.get(fe["bucket"], 0) + 1
        return out

    # ---------- predicate DML (DELETE FROM / UPDATE ... WHERE) ----------
    def _dml_commit(
        self,
        m: dict,
        condition,
        payload: list[Column],
        delete: bool,
        mode: str,
        batch_id: int | None,
    ) -> CommitInfo:
        """Shared tail of delete_where/update_where: the post-DML images of
        the live rows matching ``condition`` (str or Column over the
        logical schema) — the key, ``payload`` (every other logical
        column, projected from the matched row), the row's own ``_lsn``
        and ``_del`` = ``delete`` — committed through ``merge``'s hinted
        call. One tiny driver collect of <= n_buckets group rows over the
        pinned images yields the affected buckets and the ledger row
        count; no match commits nothing. ``merge`` then validates the
        CHECK constraints and applies its version rule, which an image
        wins on its equal ``_lsn`` (a tombstone by its ``_del``): a cow
        commit rewrites only the affected buckets and writes its change
        files, a mor commit writes the images as delta files that shadow
        the old rows by their higher seq."""
        if skip := self._skipped(m, batch_id):
            return skip
        cond = F.expr(condition) if isinstance(condition, str) else condition
        live = ~F.coalesce(F.col(META_DEL), F.lit(False))
        post = (
            self._read_resolved(m["files"], self.schema(), with_meta=True)
            .filter(live & cond)
            .select(self.key, *payload, F.col(META_LSN), F.lit(delete).alias(META_DEL))
            .withColumn("_b", self._bucket_expr(self.key))
            .persist()
        )
        try:
            stats = post.groupBy("_b").agg(F.count(F.lit(1)).alias("_n")).collect()
            if not stats:
                return CommitInfo(m["snapshot_id"], batch_id, 0, skipped=True)
            return self.merge(
                post,
                batch_id=batch_id,
                mode=mode,
                affected_buckets={r["_b"] for r in stats},
                n_rows=sum(r["_n"] for r in stats),
                affected_buckets_nb=int(m["n_buckets"]),
            )
        finally:
            post.unpersist()

    def delete_where(
        self,
        condition,
        mode: str | None = None,
        batch_id: int | None = None,
    ) -> CommitInfo:
        """``DELETE FROM table WHERE condition`` (Iceberg/Delta DML parity;
        the GDPR/right-to-erasure path of a training-data lake). Matching
        LIVE rows become tombstones with their payload NULLED OUT and are
        committed through ``merge``. The tombstone keeps the row's
        ``_lsn``, so a later CDC event with a higher LSN can still
        legitimately recreate the key, while same-or-older replays cannot
        resurrect the deleted payload (delete wins the same-version
        tiebreak). ``condition``: str or Column over the logical schema.

        Erasure: the payload leaves the live files with the rewrite (cow)
        or with the next materialization (mor). A cow delete's change file
        carries the removed row, as the snapshot diff reports it, so the
        payload stays on disk for as long as the delete's commit snapshot
        (and, for the old base files, its parent) is retained;
        ``expire_snapshots`` past it removes the last copy.

        Cost: one scan of the matching rows, pinned, plus one collect of
        <= n_buckets rows; then, for cow, the merge's full-outer join of
        the affected buckets against the tombstones (one shuffle per side)
        and their rewrite, or, for mor, a write of the tombstones only.

        ``mode='dv'`` writes a DELETION VECTOR instead (Iceberg v3
        position deletes): see ``_delete_where_dv``."""
        m = self._manifest()
        mode = mode or m.get("merge_mode", "cow")
        if mode == "dv":
            return self._delete_where_dv(condition, batch_id)
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow', 'mor' or 'dv', got {mode!r}")
        tombstone = [
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in self.schema().fields
            if f.name != self.key
        ]
        return self._dml_commit(m, condition, tombstone, True, mode, batch_id)

    def _delete_where_dv(self, condition, batch_id: int | None = None) -> CommitInfo:
        """``DELETE FROM ... WHERE`` as an Iceberg-v3-style DELETION
        VECTOR commit: no data file is read-modified-rewritten and no
        delta row is added — the commit writes (file basename, row
        position) pairs, ONE parquet per touched bucket, and re-points
        the affected file entries at their bucket's file; ``_read_files``
        masks the positions at scan time, before MoR key resolution.

        Semantics: the condition is evaluated on the RESOLVED LIVE view
        (exactly what a reader sees), then EVERY physical occurrence of a
        matched key — every version, in every base and delta file — is
        masked, so no superseded older version can resurface and every
        stored copy of the payload stops being readable at once; the
        bytes are physically reclaimed when compaction next rewrites the
        file (standard position-delete deferral). Unlike tombstone
        deletes (cow/mor) a DV leaves NO versioned marker: a replayed
        OLDER event can legitimately re-insert the key — use tombstone
        modes when LWW protection against stale replays matters more
        than write cost.

        Cost: one column-pruned resolved scan (condition columns + key),
        one unmasked key+position scan (``_read_files(positions=True)``,
        token arrays never read), one
        semi-join (AQE broadcasts typical delete-key sets), and one DV
        write partitioned BY BUCKET (mirroring the MoR delta layout) —
        one DV file per touched bucket, so even a GDPR-scale 10^9-row
        purge fans out across writer tasks instead of funneling through
        one. Every prior DV generation is folded into the new per-bucket
        set and ALL dv pointers re-pointed at their bucket's file —
        reads therefore anti-join exactly one DV file set regardless of
        how many DV deletes have accumulated, and superseded DV files
        become orphans for expire_snapshots."""
        m = self._manifest()
        if skip := self._skipped(m, batch_id):
            return skip
        cond = F.expr(condition) if isinstance(condition, str) else condition
        schema = self.schema()
        matched_keys = (
            self._read_resolved(m["files"], schema)
            .filter(cond)
            .select(self.key)
            .distinct()
        )
        if not m["files"]:
            return CommitInfo(m["snapshot_id"], batch_id, 0, skipped=True)
        phys = self._read_files(m["files"], m=m, positions=True)
        old_dv = [fe for fe in m["files"] if fe.get("dv")]
        hits = phys.join(matched_keys, self.key, "left_semi").select(
            "_dv_file", "_dv_pos"
        )
        if old_dv:
            # the physical scan is unmasked, so a re-deleted key (masked,
            # re-upserted by a later merge, matched again) re-collects its
            # already-masked old positions — subtract the prior generation
            # so n_new counts only NEWLY masked positions (the ledger's
            # row count) and the fold below unions disjoint sets
            hits = hits.join(
                self._dv_frame(old_dv), ["_dv_file", "_dv_pos"], "left_anti"
            )
        hits = hits.persist()
        try:
            n_new = int(hits.count())
            if n_new == 0:
                return CommitInfo(m["snapshot_id"], batch_id, 0, skipped=True)
            dv_df = hits
            if old_dv:
                dv_df = dv_df.unionByName(self._dv_frame(old_dv))
            nxt = self._next_manifest(m)
            # per-bucket DV files: tag each position with its data file's
            # bucket (a tiny broadcast map, O(manifest files)), shuffle on
            # the bucket, and let partitionBy split one file per bucket —
            # the write parallelizes like the delta layout instead of
            # serializing through a repartition(1) single task
            # partition column deliberately NOT underscore-prefixed:
            # Spark's file listing hides `_`-prefixed dirs, which would
            # make the staged `<col>=K` leaves invisible to the read-back
            file_bucket = local_frame(
                self.spark,
                [
                    (os.path.basename(fe["path"]), int(fe["bucket"]))
                    for fe in m["files"]
                ],
                "_dv_file string, dvb int",
            )
            dv_df = dv_df.join(F.broadcast(file_bucket), "_dv_file")
            staging = os.path.join(self.path, f"_staging_dv-{nxt['snapshot_id']}")
            # the commit records ONE DV file per bucket, so the write must
            # not split a leaf: repartition puts each bucket in one task,
            # and a session-level spark.sql.files.maxRecordsPerFile would
            # still roll it into several part files — pin it off
            (
                dv_df.repartition(F.col("dvb"))
                .write.partitionBy("dvb")
                .option("maxRecordsPerFile", 0)
                .mode("overwrite")
                .parquet(staging)
            )
            leaves = [
                leaf
                for leaf in sorted(self.fs.listdir(staging))
                if leaf.startswith("dvb=")
            ]
            # read the leaf dirs explicitly (the `_staging_dv-*` root is a
            # hidden path to Spark's file listing; its children are not)
            counts = {
                r["_dv_file"]: int(r["n"])
                for r in self.spark.read.schema("_dv_file string, _dv_pos long")
                .parquet(*[os.path.join(staging, leaf) for leaf in leaves])
                .groupBy("_dv_file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            part_files = {
                leaf: [
                    fn
                    for fn in self.fs.listdir(os.path.join(staging, leaf))
                    if fn.endswith(".parquet")
                ]
                for leaf in leaves
            }
            split = {leaf: len(fns) for leaf, fns in part_files.items() if len(fns) != 1}
            if split:
                # renaming one file per leaf would drop the others' positions
                # and bring their rows back to life
                self.fs.rmtree(staging)
                raise RuntimeError(
                    f"DV write must leave one part file per bucket leaf, got {split}"
                )
            dv_rel_by_bucket: dict[int, str] = {}
            for leaf, (part_file,) in part_files.items():
                b = int(leaf.split("=", 1)[1])
                rel = os.path.join("data", f"dv-{nxt['snapshot_id']}-b{b}.parquet")
                self.fs.rename(
                    os.path.join(staging, leaf, part_file),
                    os.path.join(self.path, rel),
                )
                dv_rel_by_bucket[b] = rel
            self.fs.rmtree(staging)
            # keep untouched entries IDENTITY-equal to the loaded manifest's
            # objects: _write_manifest's bucket-page reuse is an `is` check,
            # so rebuilding every dict would re-serialize and re-hash every
            # page — O(total files) per DV commit instead of O(touched)
            nxt["files"] = [
                {
                    **fe,
                    "dv": {
                        "path": dv_rel_by_bucket[int(fe["bucket"])],
                        "rows": counts[os.path.basename(fe["path"])],
                    },
                }
                if os.path.basename(fe["path"]) in counts
                else (
                    fe
                    if "dv" not in fe
                    else {k: v for k, v in fe.items() if k != "dv"}
                )
                for fe in m["files"]
            ]
            return self._commit(nxt, batch_id, n_new)
        finally:
            hits.unpersist()

    def rewrite_deletion_vectors(
        self, min_deleted_ratio: float = 0.1
    ) -> CommitInfo:
        """Targeted DV maintenance (Iceberg ``rewrite_position_deletes``
        analogue): rewrite ONLY the data files whose deletion-vector
        density reaches ``min_deleted_ratio`` (masked positions / file
        rows), physically dropping the masked bytes and those files'
        ``dv`` pointers. Lightly-masked files keep their (broadcast,
        scan-time) mask and pass through the manifest verbatim — cost is
        O(rewritten files), not O(table) like ``compact()``. A DV file
        referenced by no surviving entry becomes an orphan for
        ``expire_snapshots``.

        Row CONTENT, meta columns, and each file's write-time bucket
        modulus are preserved exactly — the rewrite is position-compaction
        only, so MoR delta resolution, split-bucket residue matching, and
        the changefeed are unaffected (like compaction, rewritten buckets
        re-read in a diff and emit zero rows). No key-sharing closure is
        needed precisely because nothing is resolved: every surviving row
        comes back byte-identical under its original residue. One write
        job per (schema_version, kind, seq, modulus) group — in steady
        state that is one job over just the dense files."""
        m = self._manifest()
        cand = [
            fe
            for fe in m["files"]
            if fe.get("dv")
            and int(fe.get("rows", 0)) > 0
            and int(fe["dv"].get("rows", 0)) / int(fe["rows"]) >= min_deleted_ratio
        ]
        if not cand:
            return CommitInfo(m["snapshot_id"], None, 0, skipped=True)
        nxt = self._next_manifest(m)
        nb_table = self.n_buckets()
        groups: dict[tuple, list[dict]] = {}
        for fe in cand:
            k = (
                str(fe["schema_version"]),
                fe.get("kind", "base"),
                fe.get("seq"),
                int(fe.get("nb") or nb_table),
            )
            groups.setdefault(k, []).append(fe)
        new_entries: list[dict] = []
        for gi, ((ver, kind, seq, nb), fes) in enumerate(
            sorted(groups.items(), key=repr)
        ):
            # one schema version per group: rows as stored, masked
            masked = self._read_files(fes, m=m).withColumn(
                "_b", self._bucket_expr(self.key, nb)
            )
            new_entries.extend(
                self._write_data_files(
                    masked,
                    # group-unique sid suffix: two groups can share a
                    # kind-prefix AND a bucket id (mixed moduli after
                    # split_buckets, or two schema/seq generations) — the
                    # plain snapshot id would then produce colliding
                    # b<bucket>-<sid>-0000.parquet names and the second
                    # rename would silently overwrite the first group's
                    # data file
                    f"{nxt['snapshot_id']}-g{gi}",
                    int(ver),
                    n_buckets=nb,
                    kind=kind,
                    seq=seq,
                )
            )
        cand_paths = {fe["path"] for fe in cand}
        nxt["files"] = [
            fe for fe in m["files"] if fe["path"] not in cand_paths
        ] + new_entries
        self._write_manifest(nxt)
        return CommitInfo(
            nxt["snapshot_id"], None, sum(int(e["rows"]) for e in new_entries)
        )

    def build_key_blooms(self, fpp: float = 0.01) -> CommitInfo:
        """Per-file key bloom filters (Iceberg puffin-blob analogue): an
        explicit maintenance pass — zero cost on the ingest hot path —
        that gives `lookup()` file-level skipping where zone maps can't
        help. Zone maps prune by [min_key, max_key] RANGE, which is
        selective only after a sorted compaction; a CDC table's MoR delta
        stack holds each batch's random key sample, so every delta file's
        range spans the whole bucket and a point lookup degenerates to
        reading the full file stack. A bloom answers "is this key
        POSSIBLY in this file" regardless of layout.

        Build is ONE column-pruned Spark job over exactly the files that
        lack a bloom (new files lose theirs by construction — entries are
        immutable — so repeated calls are incremental): scan the key as
        stored with each row's file name (``_read_files(positions=True)``,
        column-pruned), hash JVM-side (two xxhash64 streams), and
        fold bits per file with applyInPandas — the only per-row Python
        is vectorized numpy on Arrow batches. Filters are sized from each
        file's true row count (m = -n ln(fpp)/ln2^2 rounded to a power of
        two, k = m/n ln2, both recomputed identically at probe time from
        the stored geometry) and written as immutable SIDECAR files under
        `blooms/` — never inlined into the manifest, whose per-bucket
        pages are rewritten on every commit that touches the bucket; the
        entry carries only {m, k, file} (the reason Iceberg keeps puffin
        separate from manifests). Probes are driver-local: O(candidate
        files) cached sidecar reads, no job. A deletion vector on a
        bloomed file only ever yields false positives (allowed); rewrites
        and compaction drop the pointer with the entry (conservative)."""
        import base64

        if not (0.0 < fpp < 1.0):
            raise ValueError(f"fpp must be in (0, 1), got {fpp!r}")
        m = self._manifest()
        cand = [
            fe
            for fe in m["files"]
            if "bloom" not in fe and int(fe.get("rows", 0)) > 0
        ]
        if not cand:
            return CommitInfo(m["snapshot_id"], None, 0, skipped=True)
        by_base = {os.path.basename(fe["path"]): fe for fe in cand}
        hashed = self._read_files(cand, m=m, positions=True).select(
            F.col("_dv_file").alias("f"),
            F.xxhash64(F.col(self.key)).alias("h1"),
            F.xxhash64(F.col(self.key), F.lit(1)).alias("h2"),
        )

        def _build(pdf):
            import numpy as np
            import pandas as pd

            n = len(pdf)
            mbits, k = _bloom_geometry(n, fpp)
            h1 = pdf["h1"].to_numpy(dtype=np.int64).view(np.uint64)
            h2 = pdf["h2"].to_numpy(dtype=np.int64).view(np.uint64)
            bits = np.zeros(mbits // 8, dtype=np.uint8)
            for i in range(k):
                idx = (h1 + np.uint64(i) * h2) % np.uint64(mbits)
                np.bitwise_or.at(
                    bits,
                    (idx >> np.uint64(3)).astype(np.int64),
                    np.left_shift(
                        np.uint8(1), (idx & np.uint64(7)).astype(np.uint8)
                    ),
                )
            return pd.DataFrame(
                {
                    "f": [pdf["f"].iloc[0]],
                    "n": [n],
                    "bits": [base64.b64encode(bits.tobytes()).decode()],
                }
            )

        built = hashed.groupBy("f").applyInPandas(
            _build, "f string, n long, bits string"
        )
        self.fs.makedirs(os.path.join(self.path, "blooms"))
        nxt = self._next_manifest(m)
        new_by_path: dict[str, dict] = {}
        n_built = 0
        # stream blobs to disk one at a time (toLocalIterator): a single
        # collect() over a 10^5-file table would materialize up to
        # ~files x 1 MiB of base64 on the driver — the very OOM class the
        # bounded read-side cache exists to prevent
        for r in built.toLocalIterator():
            fe = by_base[r["f"]]
            mbits, k = _bloom_geometry(int(r["n"]), fpp)
            name = f"blooms/{r['f']}.bloom"
            self.fs.write_bytes(
                os.path.join(self.path, name), base64.b64decode(r["bits"])
            )
            nfe = dict(fe)  # entries are shared across snapshots: copy
            nfe["bloom"] = {"m": mbits, "k": k, "file": name}
            new_by_path[fe["path"]] = nfe
            n_built += 1
        nxt["files"] = [new_by_path.get(fe["path"], fe) for fe in m["files"]]
        self._write_manifest(nxt)
        return CommitInfo(nxt["snapshot_id"], None, n_built)

    #: driver-side bloom blob cache bound: blobs are up to 1 MiB each, so
    #: an unbounded cache over a 10^5-file table would be a driver OOM —
    #: 256 entries (~≤256 MiB worst case, typically ~MBs) covers the hot
    #: buckets of a lookup workload; misses are one sidecar read each
    _BLOOM_CACHE_MAX = 256

    def _bloom_bits(self, name: str) -> bytes:
        """Sidecar blobs are immutable and content-tied to their data
        file — cached per table handle with LRU eviction, keyed by
        relative path."""
        from collections import OrderedDict

        cache = getattr(self, "_bloom_blob_cache", None)
        if cache is None:
            cache = self._bloom_blob_cache = OrderedDict()
        if name in cache:
            cache.move_to_end(name)
        else:
            with self.fs.open_binary(os.path.join(self.path, name)) as f:
                cache[name] = f.read()
            while len(cache) > self._BLOOM_CACHE_MAX:
                cache.popitem(last=False)
        return cache[name]

    def _bloom_hits(self, fe: dict, probes: list[tuple[int, int]]) -> bool:
        """True if ANY probe key may be present (or the file has no
        bloom — conservative). Probe hashes are (h1, h2) uint64 pairs
        from the same JVM xxhash64 streams the build used."""
        bl = fe.get("bloom")
        if not bl:
            return True
        try:
            bits = self._bloom_bits(bl["file"])
        except (FileNotFoundError, OSError):
            return True  # vanished sidecar: pruning is an optimization
        mbits, k = int(bl["m"]), int(bl["k"])
        if len(bits) * 8 < mbits:
            # truncated/mismatched blob (fsck checks existence, not size):
            # degrade conservatively like every other sidecar failure
            return True
        mask = (1 << 64) - 1
        for h1, h2 in probes:
            for i in range(k):
                idx = ((h1 + i * h2) & mask) % mbits
                if not (bits[idx >> 3] >> (idx & 7)) & 1:
                    break
            else:
                return True
        return False

    def update_where(
        self,
        condition,
        assignments: dict,
        mode: str | None = None,
        batch_id: int | None = None,
    ) -> CommitInfo:
        """``UPDATE table SET col = expr, ... WHERE condition`` (Iceberg/
        Delta DML parity — the scrub/backfill path: redact a column for one
        source, patch a mis-tokenized field). ``assignments`` maps column
        name -> Column/str expr evaluated against the matching row; the
        key column cannot be assigned. Updated rows keep their ``_lsn``
        (a DML patch is not a CDC event — later change events still win)
        and are committed through ``merge``, so they must pass the table's
        CHECK constraints (``ConstraintViolationError`` otherwise, nothing
        committed), a cow commit records its change files, and in mor mode
        the patch shadows the old row purely through its higher commit
        seq. Cost as ``delete_where``: a pinned scan of the matching rows,
        then, for cow, the merge's full-outer join of the affected buckets
        (one shuffle per side)."""
        m = self._manifest()
        mode = mode or m.get("merge_mode", "cow")
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        schema = self.schema()
        if self.key in assignments:
            raise ValueError(f"cannot assign the key column {self.key!r}")
        unknown = set(assignments) - {f.name for f in schema.fields}
        if unknown:
            raise ValueError(f"unknown columns in assignments: {sorted(unknown)}")
        assigns = {
            c: (F.expr(e) if isinstance(e, str) else e) for c, e in assignments.items()
        }
        patched = [
            assigns[f.name].cast(f.dataType).alias(f.name)
            if f.name in assigns
            else F.col(f.name)
            for f in schema.fields
            if f.name != self.key
        ]
        return self._dml_commit(m, condition, patched, False, mode, batch_id)

    def rollback(self, snapshot_id: str) -> CommitInfo:
        """Restore the table to an earlier snapshot's state as a NEW commit
        (Iceberg ``rollback_to_snapshot``): the target's file list, bucket
        layout, schema pointer, merge mode, and committed-batch ledger all
        come back, under a fresh snapshot id on top of the existing history
        — nothing is erased, so the rollback itself can be rolled back.
        Batches committed after the target are un-committed (their ledger
        entries revert), which is exactly what makes rollback + re-replay
        converge: the replayer sees them as never applied."""
        m = self._manifest()
        if snapshot_id == m["snapshot_id"]:
            return CommitInfo(m["snapshot_id"], None, 0, skipped=True)
        target = self._manifest_of(snapshot_id)
        nxt = self._next_manifest(m)
        for field in (
            "files",
            "n_buckets",
            "current_schema_version",
            "schema_versions",
            "committed",
            "merge_mode",
            "ledger_horizon",
        ):
            if field == "files":
                # share the target's (immutable) entries AND its bucket-page
                # cache: a rollback commit then re-points at the target's
                # existing bm pages instead of rewriting every bucket
                nxt["files"] = list(target.get("files", []))
                nxt["_bm_cache"] = target.get("_bm_cache")
                continue
            if field in target:
                nxt[field] = json.loads(json.dumps(target[field]))
            else:
                nxt.pop(field, None)
        self._write_manifest(nxt)
        return CommitInfo(nxt["snapshot_id"], None, -1)

    # ---------- branches (write-audit-publish) ----------
    def _branch_ref_path(self, name: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name) or name == "main":
            raise ValueError(f"invalid branch name: {name!r}")
        return os.path.join(self.path, f"_ref-{name}.json")

    def create_branch(self, name: str, from_snapshot: str | None = None) -> "ManifestParquetTable":
        """Fork a named branch at the current (or given) snapshot and return
        a handle on it — the Iceberg/Nessie write-audit-publish staging leg.

        A branch is just another atomically-swapped pointer file sharing the
        table's data/ and manifests/ dirs, so EVERY table operation —
        merge (cow/mor/patch), append, DML, constraints, compact, time
        travel, the batch ledger — works on the branch handle unchanged,
        with the same OCC CAS against the branch pointer. Staged commits
        touch no file main readers can see."""
        base = from_snapshot or self.snapshot_id()
        self._manifest_of(base)  # must exist
        rp = self._branch_ref_path(name)
        lock_path = os.path.join(self.path, "_commit.lock")
        with self.fs.commit_lock(lock_path):
            if self.fs.exists(rp):
                raise FileExistsError(f"branch already exists: {name}")
            self.fs.write_text_atomic(
                rp, json.dumps({"snapshot_id": base, "base": base})
            )
        return self.branch(name)

    def branch(self, name: str) -> "ManifestParquetTable":
        """Handle on an existing branch (see create_branch)."""
        rp = self._branch_ref_path(name)
        if not self.fs.exists(rp):
            raise FileNotFoundError(f"no such branch: {name}")
        return ManifestParquetTable(
            self.spark, self.path, key=self.key, ref=name, fs=self.fs
        )

    def list_branches(self) -> dict[str, dict]:
        """{branch: {"snapshot_id": head, "base": fork point}}."""
        out: dict[str, dict] = {}
        for fn in sorted(self.fs.listdir(self.path)):
            if fn.startswith("_ref-") and fn.endswith(".json"):
                out[fn[len("_ref-") : -len(".json")]] = json.loads(
                    self.fs.read_text(os.path.join(self.path, fn))
                )
        return out

    def drop_branch(self, name: str) -> None:
        """Abandon a branch. Its staged manifests/files become unreferenced
        and are reclaimed by expire_snapshots' orphan sweep."""
        rp = self._branch_ref_path(name)
        if not self.fs.exists(rp):
            raise FileNotFoundError(f"no such branch: {name}")
        self.fs.remove(rp)

    # ---------- tags (immutable snapshot refs) ----------
    def _tag_path(self, name: str) -> str:
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name) or name == "main":
            raise ValueError(f"invalid tag name: {name!r}")
        return os.path.join(self.path, f"_tag-{name}.json")

    def create_tag(self, name: str, snapshot_id: str | None = None) -> str:
        """Pin a snapshot under an immutable name (Iceberg tag): the
        tagged manifest — and therefore its data files — survives
        expire_snapshots regardless of retention depth, until drop_tag.
        The audit/compliance handle: `read_tag("q3-release")` reproduces
        that exact state forever. Tags never move; re-creating an existing
        name raises."""
        sid = snapshot_id or self.snapshot_id()
        self._manifest_of(sid)  # must exist (and not be expired)
        tp = self._tag_path(name)
        if self.fs.exists(tp):
            raise FileExistsError(f"tag already exists: {name}")
        self.fs.write_text_atomic(tp, json.dumps({"snapshot_id": sid}))
        return sid

    def list_tags(self) -> dict[str, str]:
        """{tag: snapshot_id}."""
        out: dict[str, str] = {}
        for fn in sorted(self.fs.listdir(self.path)):
            if fn.startswith("_tag-") and fn.endswith(".json"):
                out[fn[len("_tag-") : -len(".json")]] = json.loads(
                    self.fs.read_text(os.path.join(self.path, fn))
                )["snapshot_id"]
        return out

    def drop_tag(self, name: str) -> None:
        tp = self._tag_path(name)
        if not self.fs.exists(tp):
            raise ValueError(f"no such tag: {name}")
        self.fs.remove(tp)

    def read_tag(self, name: str) -> DataFrame:
        tags = self.list_tags()
        if name not in tags:
            raise ValueError(f"no such tag: {name}")
        return self.read(snapshot_id=tags[name])

    def publish_branch(self, name: str) -> CommitInfo:
        """Atomically fast-forward main to the branch head and delete the
        branch ref — the WAP publish. Requires main to still be at the
        branch's fork point (CAS under the commit lock): if main advanced
        concurrently, raises CommitConflictError — re-stage on a fresh
        branch (the divergent-history cherry-pick is intentionally not
        offered; fast-forward-only publish is what keeps the audited
        snapshot byte-identical to the published one). The branch's batch
        ledger publishes with it, so exactly-once holds across the
        stage→publish hop: a post-publish redelivery of a staged batch_id
        is skipped by main's ledger."""
        rp = self._branch_ref_path(name)
        if not self.fs.exists(rp):
            raise FileNotFoundError(f"no such branch: {name}")
        lock_path = os.path.join(self.path, "_commit.lock")
        main_ptr = os.path.join(self.path, "_current.json")
        with self.fs.commit_lock(lock_path):
            ref = json.loads(self.fs.read_text(rp))
            current = json.loads(self.fs.read_text(main_ptr))["snapshot_id"]
            if current != ref["base"]:
                raise CommitConflictError(
                    f"main moved {ref['base']} -> {current} since branch "
                    f"{name!r} forked; re-stage on a fresh branch"
                )
            if ref["snapshot_id"] != current:
                self.fs.write_text_atomic(
                    main_ptr, json.dumps({"snapshot_id": ref["snapshot_id"]})
                )
            self.fs.remove(rp)
        if self.ref == "main":
            self._manifest(refresh=True)
        return CommitInfo(ref["snapshot_id"], None, -1)

    def rebucket(self, new_n_buckets: int) -> CommitInfo:
        """Bucket evolution (Iceberg partition-evolution analogue for the
        hash layout): rewrite the table once under a new bucket count and
        commit atomically. The one full rewrite is the price of admission —
        afterwards every merge/lookup/diff prunes against the new layout.
        Grow buckets when per-bucket data outgrows a single task's
        comfortable write (the same sizing rule as at create time); the
        change is invisible to readers (bucketing is internal layout, not
        logical schema)."""
        if new_n_buckets <= 0:
            raise ValueError("new_n_buckets must be positive")
        m = self._manifest()
        if new_n_buckets == int(m["n_buckets"]):
            return CommitInfo(m["snapshot_id"], None, 0, skipped=True)
        df = self._read_resolved(m["files"], self.schema(), with_meta=True)
        nxt = self._rewrite(
            m,
            df.withColumn("_b", self._bucket_expr(self.key, n_buckets=new_n_buckets)),
            [],
            n_buckets=new_n_buckets,
        )
        self._write_manifest(nxt)
        return CommitInfo(nxt["snapshot_id"], None, -1)

    def split_buckets(self, factor: int = 2) -> CommitInfo:
        """Progressive bucket-count growth: multiply ``n_buckets`` by an
        integer factor as a METADATA-ONLY commit — zero data files read or
        written, the answer to "the table grew 100x" that ``rebucket``'s
        full rewrite cannot be at 100 TB.

        Works because hash layouts NEST: ``pmod(h, k*N) == b`` implies
        ``pmod(h, N) == b % N``, so a file written under modulus N holds
        exactly the keys of the k current buckets folding onto it. Every
        bucket-pruned path (merge, lookup, MoR resolution, diff,
        fast_count, maintenance) matches old files through that residue
        rule (``_BucketZones``), and ordinary writes MIGRATE lazily: any
        merge or compaction touching a pre-split file rewrites its rows
        under the current modulus. ``split_migration()`` reports progress;
        ``compact_buckets(range(n_buckets))`` finishes migration eagerly.

        The commit stamps every carried entry's write-time modulus into
        fresh dicts on purpose: identity-based page reuse is broken ONCE so
        each bucket page is rewritten carrying ``"nb"`` explicitly (an
        on-disk entry without ``"nb"`` defaults to its ROOT's modulus at
        load, which this commit changes). Cost: O(existing files) metadata,
        after which untouched buckets share pages again."""
        return self._change_modulus("split", factor)

    def merge_buckets(self, factor: int = 2) -> CommitInfo:
        """Inverse of ``split_buckets``: DIVIDE ``n_buckets`` by an integer
        factor as a metadata-only commit — the shrink path for a table
        that was over-bucketed for its (possibly post-erasure) size, where
        tiny per-bucket files waste scan tasks. The same residue rule
        applies with the roles swapped: existing files are FINER than the
        new modulus and fold onto it (``bucket % new_n``, the fn > zn arm
        of ``_BucketZones.hits``); ordinary writes migrate lazily, exactly
        as after a split. Mixing split/merge factors can leave moduli that
        are not mutually divisible (e.g. {8, 12} over a base of 4) — zone
        matching degrades to conservative overlap there, never to a wrong
        prune."""
        return self._change_modulus("merge", factor)

    def _change_modulus(self, how: str, factor: int) -> CommitInfo:
        """The metadata-only modulus commit of ``split_buckets`` (``how=
        "split"``: multiply) and ``merge_buckets`` (``"merge"``: divide).
        Every carried entry is stamped with its write-time modulus in a
        fresh dict — the root modulus changes, so the on-disk default for
        an entry without ``"nb"`` would change with it."""
        f = int(factor)
        if f < 2 or f != factor:
            raise ValueError(f"{how} factor must be an integer >= 2, got {factor!r}")
        m = self._manifest()
        old_nb = int(m["n_buckets"])
        if how == "merge" and old_nb % f:
            raise ValueError(
                f"merge factor {f} must divide the current bucket count {old_nb}"
            )
        nxt = self._next_manifest(m)
        nxt["n_buckets"] = old_nb * f if how == "split" else old_nb // f
        nxt["files"] = [dict(fe, nb=_entry_nb(fe, old_nb)) for fe in m["files"]]
        self._write_manifest(nxt)
        return CommitInfo(nxt["snapshot_id"], None, 0)

    def split_migration(self) -> dict:
        """How much of the table still lives under pre-split moduli —
        drive an eager finish (``compact_buckets``) or just watch ordinary
        ingest migrate it."""
        m = self._manifest()
        nb = int(m["n_buckets"])
        legacy = [fe for fe in m["files"] if _entry_nb(fe, nb) != nb]
        return {
            "n_buckets": nb,
            "files_total": len(m["files"]),
            "files_pre_split": len(legacy),
            "rows_pre_split": sum(int(fe.get("rows", 0)) for fe in legacy),
        }

    def fsck(self, deep: bool = True, sample: int = 5) -> dict:
        """Table integrity audit (the `CALL system.check` / fsck ops tool):
        verify the invariants every other code path ASSUMES, so silent
        manifest/data corruption (a lost file, a hand-edited manifest, a
        buggy external writer) surfaces as a report instead of a wrong
        query result.

        Metadata pass (driver-side, O(files) existence probes, no job):
        - every manifest data-file entry, deletion-vector file and change
          file of the current commit exists.

        Deep pass (``deep=True``, two Spark jobs over the live file set):
        - ``footer_rows``: each file's actual row count equals the
          manifest-recorded count (detects truncated/replaced files);
        - ``misrouted``: every physical row's key hashes to its file's
          bucket at the file's own write-time modulus
          (``pmod(xxhash64(key), nb) == bucket`` — the invariant all
          bucket pruning relies on; a violation means pruned reads LOSE
          rows silently);
        - ``dv_bounds``: every deletion-vector position is inside its data
          file's row count;
        - ``dup_live_keys``: the resolved live view has exactly one row
          per key (LWW + tombstone + DV resolution ends single-winner).

        Both jobs are ONE scan each: the file audit reads only the key as
        stored with each row's file name (``_read_files(positions=True)``,
        column-pruned, DV positions unmasked) and broadcast-joins the
        O(files) manifest map; the dup check is the ordinary
        resolved read + one count-distinct-shaped agg. Returns
        ``{"ok": bool, "files": n, "errors": [...]}`` with up to
        ``sample`` offending rows per check.
        """
        m = self._manifest()
        files = m["files"]
        errors: list[dict] = []
        for fe in files:
            if not self.fs.exists(os.path.join(self.path, fe["path"])):
                errors.append({"check": "missing_file", "path": fe["path"]})
            dv = fe.get("dv")
            if dv and not self.fs.exists(os.path.join(self.path, dv["path"])):
                errors.append(
                    {"check": "missing_dv", "path": dv["path"], "of": fe["path"]}
                )
            bl = fe.get("bloom")
            if bl and not self.fs.exists(os.path.join(self.path, bl["file"])):
                # reads stay correct (the probe keeps the file when its
                # sidecar is gone), but the manifest references something
                # that doesn't exist — the invariant fsck is for
                errors.append(
                    {
                        "check": "missing_bloom",
                        "path": bl["file"],
                        "of": fe["path"],
                    }
                )
        for fe in m.get("changes", []):
            if not self.fs.exists(os.path.join(self.path, fe["path"])):
                errors.append({"check": "missing_change", "path": fe["path"]})
        if deep and files and not errors:
            default_nb = int(m.get("n_buckets") or 1)
            fmap = local_frame(
                self.spark,
                [
                    (
                        os.path.basename(fe["path"]),
                        int(fe["bucket"]),
                        _entry_nb(fe, default_nb),
                        int(fe.get("rows", -1)),
                    )
                    for fe in files
                ],
                "_fname string, bucket int, nb int, rows long",
            )
            raw = self._read_files(files, m=m, positions=True).select(
                F.col(self.key).alias("_k"), F.col("_dv_file").alias("_fname")
            )
            per_file = (
                raw.join(F.broadcast(fmap), "_fname")
                .groupBy("_fname")
                .agg(
                    F.count(F.lit(1)).alias("actual"),
                    F.sum(
                        F.when(
                            F.pmod(F.xxhash64("_k"), F.col("nb"))
                            != F.col("bucket"),
                            1,
                        ).otherwise(0)
                    ).alias("misrouted"),
                )
            )
            # LEFT join from the manifest side: a file truncated/replaced
            # with ZERO rows produces no scan group at all — an inner join
            # would silently pass the exact corruption this check exists
            # to catch (actual=0 != manifest rows must fire)
            audit = (
                fmap.join(per_file, "_fname", "left")
                .withColumn("actual", F.coalesce("actual", F.lit(0)))
                .withColumn("misrouted", F.coalesce("misrouted", F.lit(0)))
                .filter(
                    (F.col("actual") != F.col("rows"))
                    | (F.col("misrouted") > 0)
                )
            )
            for r in audit.limit(sample).collect():
                if r["actual"] != r["rows"]:
                    errors.append(
                        {
                            "check": "footer_rows",
                            "file": r["_fname"],
                            "manifest": int(r["rows"]),
                            "actual": int(r["actual"]),
                        }
                    )
                if r["misrouted"] > 0:
                    errors.append(
                        {
                            "check": "misrouted",
                            "file": r["_fname"],
                            "rows": int(r["misrouted"]),
                        }
                    )
            dv_entries = [fe for fe in files if fe.get("dv")]
            if dv_entries:
                bounds = (
                    self._dv_frame(dv_entries)
                    .groupBy("_dv_file")
                    .agg(F.max("_dv_pos").alias("maxpos"))
                    .join(
                        F.broadcast(
                            fmap.withColumnRenamed("_fname", "_dv_file")
                        ),
                        "_dv_file",
                    )
                    .filter(F.col("maxpos") >= F.col("rows"))
                )
                for r in bounds.limit(sample).collect():
                    errors.append(
                        {
                            "check": "dv_bounds",
                            "file": r["_dv_file"],
                            "max_pos": int(r["maxpos"]),
                            "rows": int(r["rows"]),
                        }
                    )
            dups = (
                self.read()
                .groupBy(self.key)
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > 1)
            )
            for r in dups.limit(sample).collect():
                errors.append(
                    {
                        "check": "dup_live_keys",
                        "key": r[self.key],
                        "n": int(r["n"]),
                    }
                )
        return {"ok": not errors, "files": len(files), "errors": errors}

    def expire_snapshots(
        self, keep: int = 3, orphan_grace_sec: float = 3600.0
    ) -> int:
        """Drop all but the newest `keep` snapshot manifests, delete data,
        DV and change files referenced by no surviving snapshot, and sweep
        ORPHANS: data files, bloom sidecars and bucket-manifest pages
        referenced by no surviving root (left behind by crashed writes,
        OCC-conflicted commits whose manifest was abandoned, or rewrites
        that dropped a bloom pointer). Orphans younger than
        `orphan_grace_sec` are kept —
        an in-flight commit renames its data files into data/ BEFORE
        publishing the manifest, so a grace window (Iceberg's
        remove_orphan_files `older_than` rule) is what makes the sweep safe
        to run while writers are active. Returns data/ files deleted."""
        mdir = os.path.join(self.path, "manifests")
        manifests = []
        for fn in self.fs.listdir(mdir):
            if fn.startswith("manifest-"):
                manifests.append(
                    (fn, self._load_manifest_file(os.path.join(mdir, fn)))
                )
        manifests.sort(key=lambda t: t[1]["seq"])
        by_sid = {man["snapshot_id"]: (fn, man) for fn, man in manifests}
        # reachability: walk parent chains from every live root (main +
        # branch heads). Manifests on no chain are DEAD — abandoned OCC
        # losers or dropped-branch history — and expire regardless of
        # recency (after the same grace window, so an in-flight commit
        # whose pointer isn't swapped yet is never harvested).
        roots = [self._manifest()["snapshot_id"]]
        pins = {f"manifest-{roots[0]}.json"}
        for ref in self.list_branches().values():
            roots.append(ref["snapshot_id"])
            # pin head + fork point so publish/diff against base stays possible
            pins.add(f"manifest-{ref['snapshot_id']}.json")
            pins.add(f"manifest-{ref['base']}.json")
        for sid in self.list_tags().values():
            # tags pin their snapshot (and, via the surviving manifest,
            # its data files) indefinitely — Iceberg tag retention
            roots.append(sid)
            pins.add(f"manifest-{sid}.json")
        reachable: set[str] = set()
        for sid in roots:
            while sid in by_sid and by_sid[sid][0] not in reachable:
                fn, man = by_sid[sid]
                reachable.add(fn)
                sid = man.get("parent")
        now = time.time()

        def aged(p: str) -> bool:
            # past the grace window; a file already gone counts as young
            try:
                return now - self.fs.getmtime(p) >= orphan_grace_sec
            except FileNotFoundError:
                return False

        live_chain = [t for t in manifests if t[0] in reachable]
        keep_set = {t[0] for t in live_chain[-keep:]} | pins
        keep_set.update(
            fn
            for fn, _ in manifests
            if fn not in reachable and not aged(os.path.join(mdir, fn))
        )
        # basenames of everything a surviving root references: data, DV and
        # change files, bloom sidecars and bucket-manifest pages
        referenced: set[str] = set()
        for fn, man in manifests:
            if fn in keep_set:
                referenced.update(
                    name for name, _ in (man.get("_bm_cache") or {}).values()
                )
                for fe in man["files"] + man.get("changes", []):
                    referenced.add(os.path.basename(fe["path"]))
                    if fe.get("dv"):
                        referenced.add(os.path.basename(fe["dv"]["path"]))
                    if fe.get("bloom"):
                        referenced.add(os.path.basename(fe["bloom"]["file"]))
        deleted = 0
        for fn, man in manifests:
            if fn not in keep_set:
                for fe in man["files"] + man.get("changes", []):
                    paths = [fe["path"]] + (
                        [fe["dv"]["path"]] if fe.get("dv") else []
                    )
                    for rel in paths:
                        p = os.path.join(self.path, rel)
                        if os.path.basename(rel) not in referenced and self.fs.exists(p):
                            self.fs.remove(p)
                            deleted += 1
                self.fs.remove(os.path.join(mdir, fn))
        # orphan sweep, one grace window for every kind: data/DV files of
        # crashed or OCC-losing writes, bloom sidecars whose data file (or
        # pointer) left every retained snapshot, and content-addressed
        # bm-*.json pages no surviving root names. The window is what keeps
        # an in-flight commit safe: it publishes files and pages before
        # swapping the pointer.
        for sub, prefix, suffix in (
            ("data", "", ".parquet"),
            ("blooms", "", ".bloom"),
            ("manifests", "bm-", ""),
        ):
            d = os.path.join(self.path, sub)
            if not self.fs.exists(d):
                continue
            for fn in self.fs.listdir(d):
                p = os.path.join(d, fn)
                if (
                    fn in referenced
                    or not (fn.startswith(prefix) and fn.endswith(suffix))
                    or not aged(p)
                ):
                    continue
                try:
                    self.fs.remove(p)
                except FileNotFoundError:
                    continue
                if sub == "data":
                    deleted += 1
        return deleted

    def history(self) -> list[dict]:
        """Snapshot lineage (newest first): seq, snapshot_id, parent,
        committed_at, file count — the Iceberg `.snapshots` analogue."""
        mdir = os.path.join(self.path, "manifests")
        out = []
        for fn in self.fs.listdir(mdir):
            if fn.startswith("manifest-"):
                # root-only read: format-2 roots carry the n_files summary
                # so history never pages in bucket manifests
                man = json.loads(self.fs.read_text(os.path.join(mdir, fn)))
                out.append(
                    {
                        "seq": man["seq"],
                        "snapshot_id": man["snapshot_id"],
                        "parent": man["parent"],
                        "committed_at": man["committed_at"],
                        "committed_at_us": man.get("committed_at_us"),
                        "n_files": man.get(
                            "n_files", len(man.get("files", []))
                        ),
                    }
                )
        return sorted(out, key=lambda d: d["seq"], reverse=True)

    def snapshot_as_of(self, ts_us: int) -> str:
        """Resolve a microsecond timestamp to the snapshot CURRENT at that
        instant on this ref's lineage — the Iceberg `FOR TIMESTAMP AS OF`
        resolution. Walks the current snapshot's parent chain (never
        sibling branches' histories) for the newest commit with
        committed_at_us <= ts; commits predating the us field fall back
        to their second-granularity committed_at. Raises if the timestamp
        predates the table (or the lineage older than it was expired)."""
        import calendar

        mdir = os.path.join(self.path, "manifests")
        cur = self._manifest()["snapshot_id"]
        while cur is not None:
            # roots resolve by name (manifest-<sid>.json): the walk reads
            # O(chain prefix) roots, never LISTs + parses every retained
            # (or dead OCC-loser) manifest in the directory
            try:
                man = json.loads(
                    self.fs.read_text(
                        os.path.join(mdir, f"manifest-{cur}.json")
                    )
                )
            except FileNotFoundError:
                break  # lineage beyond retention
            at = man.get("committed_at_us")
            if at is None:
                at = (
                    calendar.timegm(
                        time.strptime(
                            man["committed_at"], "%Y-%m-%dT%H:%M:%SZ"
                        )
                    )
                    * 1_000_000
                )
            if int(at) <= int(ts_us):
                return man["snapshot_id"]
            cur = man.get("parent")
        raise ValueError(
            f"no snapshot at or before ts_us={ts_us} (table younger, or "
            f"history expired past it)"
        )

    def read_as_of(self, ts_us: int) -> DataFrame:
        """Time-travel read at a wall-clock instant (microseconds since
        epoch); see snapshot_as_of for the resolution rule."""
        return self.read(snapshot_id=self.snapshot_as_of(ts_us))

    # ---------- clone ----------
    def clone(
        self,
        dest_path: str,
        snapshot_id: str | None = None,
        mode: str = "hardlink",
    ) -> "ManifestParquetTable":
        """Zero-copy table clone (the Delta SHALLOW CLONE / Iceberg
        snapshot-table move, made GC-SAFE by hard links): every live data
        file of the chosen snapshot is `os.link`ed into the new table dir,
        so the clone costs O(files) metadata ops and zero data bytes, and
        — unlike a path-referencing shallow clone — the source's
        compaction/expire_snapshots can delete ITS directory entries
        without breaking the clone (the inode survives while either name
        references it). Falls back to a copy per file when the filesystem
        refuses links (cross-device); ``mode="copy"`` forces full copies.

        The clone is an independent single-writer table: fresh lineage
        (seq 0, no parent), same schema versions / key / bucket layout /
        merge mode / constraints, and the source's batch ledger (so
        redelivery of an already-applied batch is still a no-op against
        the clone). Branches are not cloned.
        """
        if mode not in ("hardlink", "copy"):
            raise ValueError(f"mode must be 'hardlink' or 'copy', got {mode!r}")
        if self.fs.exists(os.path.join(dest_path, "_current.json")):
            raise FileExistsError(f"table already exists at {dest_path}")
        m = self._manifest_of(snapshot_id or self.snapshot_id())
        self.fs.makedirs(os.path.join(dest_path, "data"))
        self.fs.makedirs(os.path.join(dest_path, "manifests"))
        clone_rels = (
            {fe["path"] for fe in m["files"]}
            | {fe["dv"]["path"] for fe in m["files"] if fe.get("dv")}
            # bloom sidecars travel with their entries: the cloned
            # manifest keeps the pointers, so fsck on the clone must find
            # the blobs (and lookups keep their pruning)
            | {fe["bloom"]["file"] for fe in m["files"] if fe.get("bloom")}
        )
        if any(fe.get("bloom") for fe in m["files"]):
            self.fs.makedirs(os.path.join(dest_path, "blooms"))
        for rel in sorted(clone_rels):
            src = os.path.join(self.path, rel)
            dst = os.path.join(dest_path, rel)
            if mode == "hardlink":
                self.fs.link_or_copy(src, dst)
            else:
                self.fs.copy(src, dst)
        out = ManifestParquetTable(
            self.spark, dest_path, key=self.key, fs=self.fs
        )
        # the source commit's change files describe the source's history,
        # not the clone's: they are neither linked nor listed
        manifest = json.loads(
            json.dumps(
                {k: v for k, v in m.items() if k not in ("_bm_cache", "changes")}
            )
        )
        manifest["snapshot_id"] = out._new_snapshot_id(0)
        manifest["parent"] = None
        manifest["seq"] = 0
        manifest["committed_at"] = time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
        )
        manifest["committed_at_us"] = int(time.time() * 1_000_000)
        manifest["cloned_from"] = {
            "path": self.path,
            "snapshot_id": m["snapshot_id"],
        }
        out._write_manifest(manifest)
        return out

    # ---------- metadata-only introspection ----------
    def fast_count(self) -> int:
        """EXACT live-row count answered from manifest metadata — the
        Iceberg/Delta `count(*)` pushdown. Per-file row counts are summed
        for every bucket proven all-live (`has_dels is False` on each of
        its base files, no pending MoR deltas); only buckets holding
        tombstones, deltas, or stat-less legacy files fall back to a
        bucket-pruned resolved scan. Append/merge-heavy tables answer in
        O(files) driver time with ZERO jobs; the fallback scans touched
        buckets, never the table."""
        m = self._manifest()
        files, nb = m["files"], int(m["n_buckets"])
        need = [
            (fe["bucket"], _entry_nb(fe, nb))
            for fe in files
            if fe.get("kind") == "delta" or fe.get("has_dels") is not False
        ]
        if not need:
            # dv'd files stay metadata-countable: positions were live rows
            # (has_dels False) and each is counted once, so live = rows - dv
            return sum(
                fe["rows"] - int((fe.get("dv") or {}).get("rows", 0))
                for fe in files
            )
        # residue matching: a pre-split base overlapping a delta's zone
        # must join the scanned side — counting it from metadata would
        # double rows the delta supersedes
        sub, rest = _BucketZones(need).split(files, nb)
        total = sum(
            fe["rows"] - int((fe.get("dv") or {}).get("rows", 0))
            for fe in rest
            if fe.get("kind") != "delta"
        )
        total += self._read_resolved(sub, self.schema()).count()
        return total

    def min_max(self, cols: list[str]) -> tuple[dict[str, tuple], bool]:
        """EXACT per-column (min, max) — answered from manifest zone maps
        with ZERO Spark jobs when the snapshot provably contains only
        live rows (the Iceberg manifest-stats aggregate pushdown; at
        100 TB the difference between a dashboard probe and a full scan).

        The metadata path requires every file to be all-live (no MoR
        deltas whose superseded base rows would poison the extremes, no
        tombstones, no deletion vectors — a masked row might BE the max)
        and every requested column to carry complete NUMERIC footer
        stats under a name no nested column's leaf shares
        (``_nested_leaf_names``). String stats are excluded on purpose:
        parquet writers may truncate string min/max, which is fine for
        pruning (conservative) but not for an exact answer. Anything unprovable falls back to
        one aggregate over the resolved read — still exact, never wrong.

        Returns ({col: (min, max)}, metadata_only)."""
        m = self._manifest()
        files = [fe for fe in m["files"] if int(fe.get("rows", 0)) > 0]
        clean = all(
            fe.get("kind") != "delta"
            and fe.get("has_dels") is False
            and not fe.get("dv")
            for fe in files
        )
        if clean:
            vals: dict[str, tuple] = {}
            shadowed = _nested_leaf_names(m)
            for c in cols:
                if c in shadowed:
                    break
                lo = hi = None
                for fe in files:
                    cs = fe.get("col_stats", {}).get(c)
                    if (
                        not cs
                        or isinstance(cs[0], (str, bool))
                        or isinstance(cs[1], (str, bool))
                    ):
                        lo = None
                        break
                    lo = cs[0] if lo is None or cs[0] < lo else lo
                    hi = cs[1] if hi is None or cs[1] > hi else hi
                if lo is None and files:
                    break
                vals[c] = (lo, hi)
            else:
                return vals, True
        row = (
            self.read()
            .agg(
                *[
                    f
                    for c in cols
                    for f in (
                        F.min(c).alias(f"min_{c}"),
                        F.max(c).alias(f"max_{c}"),
                    )
                ]
            )
            .collect()[0]
        )
        return (
            {c: (row[f"min_{c}"], row[f"max_{c}"]) for c in cols},
            False,
        )

    def files_df(self) -> DataFrame:
        """Live data files as a DataFrame (the Iceberg `.files` metadata
        table): path, bucket, kind, seq, rows, bytes, key zone map,
        tombstone flag. Driver-local O(files) — one os.stat per file, no
        job."""
        rows = []
        for fe in self._manifest()["files"]:
            p = os.path.join(self.path, fe["path"])
            rows.append(
                (
                    fe["path"],
                    fe["bucket"],
                    fe.get("kind", "base"),
                    int(fe.get("seq", 0)),
                    fe["rows"],
                    self.fs.getsize(p) if self.fs.exists(p) else None,
                    fe.get("min_key"),
                    fe.get("max_key"),
                    fe.get("has_dels"),
                    fe.get("schema_version"),
                    int((fe.get("dv") or {}).get("rows", 0)),
                )
            )
        schema = (
            "path string, bucket int, kind string, seq int, rows long, "
            "bytes long, min_key string, max_key string, has_dels boolean, "
            "schema_version int, dv_rows long"
        )
        return local_frame(self.spark, rows, schema)

    def snapshots_df(self) -> DataFrame:
        """Snapshot lineage as a DataFrame (the `.snapshots` metadata
        table): one row per retained manifest, newest first."""
        rows = [
            (
                h["seq"],
                h["snapshot_id"],
                h["parent"],
                h["committed_at"],
                h["n_files"],
            )
            for h in self.history()
        ]
        schema = (
            "seq long, snapshot_id string, parent string, "
            "committed_at string, n_files int"
        )
        return local_frame(self.spark, rows, schema)

    # ---------- schema evolution ----------
    def evolve(self, new_schema: T.StructType) -> None:
        m = self._manifest()
        old_schema = self.schema()
        if new_schema.json() == old_schema.json():
            return
        check_evolution(old_schema, new_schema)
        nxt = self._next_manifest(m)
        ver = m["current_schema_version"] + 1
        nxt["schema_versions"][str(ver)] = new_schema.json()
        nxt["current_schema_version"] = ver
        self._write_manifest(nxt)


class IcebergTable:
    """SQL passthrough to a real Iceberg catalog (MERGE INTO / ALTER
    TABLE), kept only as a call-sequence record: no Iceberg runtime jar
    ships with this repository, so it runs only against the recording stub
    session in tests/test_iceberg_stub.py, and nothing in the package
    calls it. It is NOT an engine backend — ``CdcEngine`` and the
    streaming tails take a ``ManifestParquetTable`` — because its MERGE
    breaks the engine's contract: it has no ``lsn`` condition and
    hard-deletes rows, so the out-of-order delivery that quarantine
    requeue and chunked bootstrap rely on would overwrite newer rows and
    bring deleted keys back.

    The committed-batch ledger rides TABLE PROPERTIES
    (`rap-etl.batch.<id>`), written right after the MERGE as a second
    catalog commit, not atomically with it."""

    _PROP_PREFIX = "rap-etl.batch."

    def __init__(self, spark: SparkSession, identifier: str, key: str = "doc_id"):
        self.spark = spark
        self.identifier = identifier
        self.key = key

    def schema(self) -> T.StructType:
        return self.spark.table(self.identifier).schema

    def read(self, snapshot_id: str | None = None) -> DataFrame:
        if snapshot_id is not None:
            return (
                self.spark.read.option("snapshot-id", snapshot_id)
                .format("iceberg")
                .load(self.identifier)
            )
        return self.spark.table(self.identifier)

    def merge(self, changes: DataFrame, batch_id: int | None = None) -> CommitInfo:
        if self.is_committed(batch_id):
            return CommitInfo(self.snapshot_id(), batch_id, 0, skipped=True)
        changes.createOrReplaceTempView("_changes")
        rows = int(changes.count())
        cols = [f.name for f in self.schema().fields]
        set_clause = ", ".join(f"t.{c} = s.{c}" for c in cols)
        insert_cols = ", ".join(cols)
        insert_vals = ", ".join(f"s.{c}" for c in cols)
        self.spark.sql(
            f"""
            MERGE INTO {self.identifier} t USING _changes s
            ON t.{self.key} = s.{self.key}
            WHEN MATCHED AND s.op = 'D' THEN DELETE
            WHEN MATCHED THEN UPDATE SET {set_clause}
            WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT ({insert_cols}) VALUES ({insert_vals})
            """
        )
        sid = self.snapshot_id()
        if batch_id is not None:
            entry = json.dumps({"snapshot_id": sid, "event_count": rows})
            # single-quote escaping for the SQL string literal
            entry_sql = entry.replace("'", "''")
            self.spark.sql(
                f"ALTER TABLE {self.identifier} SET TBLPROPERTIES "
                f"('{self._PROP_PREFIX}{int(batch_id)}' = '{entry_sql}')"
            )
        return CommitInfo(sid, batch_id, rows)

    def evolve(self, new_schema: T.StructType) -> None:
        old = {f.name: f for f in self.schema().fields}
        for f in new_schema.fields:
            if f.name not in old:
                self.spark.sql(
                    f"ALTER TABLE {self.identifier} ADD COLUMN {f.name} {f.dataType.simpleString()}"
                )
            elif old[f.name].dataType != f.dataType:
                self.spark.sql(
                    f"ALTER TABLE {self.identifier} ALTER COLUMN {f.name} TYPE {f.dataType.simpleString()}"
                )

    def snapshot_id(self) -> str:
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self.identifier}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).first()
        return str(row[0]) if row else "none"

    def table_changes(self, from_snapshot, to_snapshot=None):
        """Not implemented on the passthrough backend: a real Iceberg
        deployment reads row-level diffs via the engine's own changelog —
        `spark.read.format("iceberg").option("start-snapshot-id", ...)` or
        the create_changelog_view procedure — rather than re-deriving them
        here. ManifestParquetTable.table_changes is this repo's reference
        implementation of the semantics."""
        raise NotImplementedError(
            "IcebergTable: use Iceberg's incremental read / changelog view; "
            "table_changes is implemented on ManifestParquetTable"
        )

    def is_committed(self, batch_id: int | None) -> bool:
        return batch_id is not None and str(batch_id) in self.committed_batches()

    def committed_batches(self) -> dict[str, dict]:
        """Ledger read-back from table properties (SHOW TBLPROPERTIES)."""
        out: dict[str, dict] = {}
        for r in self.spark.sql(f"SHOW TBLPROPERTIES {self.identifier}").collect():
            k = r["key"]
            if k.startswith(self._PROP_PREFIX):
                try:
                    out[k[len(self._PROP_PREFIX) :]] = json.loads(r["value"])
                except (ValueError, TypeError):
                    out[k[len(self._PROP_PREFIX) :]] = {"raw": r["value"]}
        return out
