"""Storage plane: upsert-by-key tables on one engine.

Engine mapping (SURVEY.md §1.5 — the reference opens CozoDB as `mem`,
`rocksdb`, or `sqlite`, storage/embedded.go:35-70, one query engine
under every back end). Here every store is versioned parquet snapshots
per table with an atomic `_CURRENT` pointer file; the back end is only
WHERE the snapshots live:

- a ``path``   → a durable store directory (the reference's
                 ``rocksdb``/``sqlite``).
- no path      → an ephemeral store (the reference's ``mem``): the same
                 engine on a private ``tempfile.mkdtemp`` directory,
                 removed at interpreter exit — not on garbage
                 collection, so a lazy DataFrame never outlives its
                 files.

Reads take one of two paths over the same snapshot files:

- ``table()`` is a lazy ``spark.read.parquet`` (scans distribute,
  filters push down): the path of ``raw_query``, conflict detection,
  hybrid search's BM25 side and the exactly-once streaming rollup;
- :meth:`MieStore.table_arrow` reads the current snapshot's part files
  on the driver with pyarrow into one Arrow table — no Spark job. The
  agent tools' reads (search, traversal, listing, point lookups) and
  the ``mie_meta`` key-value reads (:meth:`MieStore.meta_values`) use
  it, and so do the JSON and SQL-script exports. Both paths apply the
  same schema-evolution contract.

Each store decodes a part file once: :class:`_DecodedParts` is an LRU
of decoded files keyed by file identity, and the merge adds every file
it writes, so no read after a commit decodes.

Writes take one path: :meth:`MieStore.atomic_upsert_rows` merges row
batches on the driver with pyarrow — read the touched buckets' part
files, drop the batch's keys, append the batch, write one part file per
bucket — no Spark job. The agent tools, imports and meta writes call it,
and so does the exactly-once streaming rollup, which collects its
micro-batch's merged state (one row per touched key) to the driver.

Every write (upsert, restore) prepares invisible snapshots and commits
them through one multi-table manifest rename (:meth:`MieStore._commit_txn`, poor-man's
MVCC); on a warehouse deployment the same call maps to one Delta
`MERGE INTO` (not shippable in this container). GC keeps the 2 newest
snapshots, so a lazy reader survives exactly ONE commit after it was
opened; a handle held across two or more commits loses its files —
re-open via table() for fresh reads (the same contract as Delta's
VACUUM horizon, just shorter).

Snapshots are PARTITIONED by a stable key-hash bucket (``bkt=K``
subdirs, ``merge_buckets`` of them; Spark's
``pmod(xxhash64(keys), merge_buckets)``, computed on the driver by
:func:`_key_bucket`, so stores an earlier build's Spark merge wrote keep
their layout): a merge reads and rewrites ONLY
the buckets the batch touches and hard-links every untouched bucket's
files from the previous snapshot — O(batch) I/O per commit instead of
O(table), which is the difference between a usable and an unusable
write path at 100 TB. Hard links keep each snapshot a self-contained
full table, so the pointer flip, GC and backup all work unchanged
(deleting an old version only drops link counts, never shared file
content).

Upsert parity with CozoDB `:put` (writer.go:61-67 etc.): insert or
replace whole row by key — idempotent with content-hash IDs.
"""

from __future__ import annotations

import atexit
import json
import math
import os
import shutil
import tempfile
import threading
import time
import uuid
from collections import OrderedDict
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
)

from mie_spark.schemas import (
    DEFAULT_EMBEDDING_DIM,
    SCHEMA_VERSION,
    ALL_TABLES,
    AUX_TABLES,
    key_columns,
    table_schema,
)


def now_s() -> int:
    """Unix seconds (writer.go:47)."""
    return int(time.time())


# Store-level multi-table transaction manifest: {table -> version}.
# Its atomic rename is the single commit point for a cross-table
# write — readers resolve a table's current version as max(per-table
# pointer, manifest entry), so either EVERY listed table's new version
# is visible or none is. After commit the per-table pointers roll
# forward and the manifest is removed; a crash in between is repaired
# by _recover_txn on the next open (roll-forward, never roll-back).
TXN_FILE = "_TXN_CURRENT"


def _py_native(value: Any, dtype) -> Any:  # noqa: ANN001
    """Coerce a row value (numpy scalars and arrays included) to the
    python type of the given Spark type; NaN becomes NULL."""
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return None
    if isinstance(dtype, ArrayType):
        if not isinstance(value, (list, tuple, np.ndarray)):
            return None
        if isinstance(value, np.ndarray):
            value = value.tolist()  # python scalars: far faster to walk
        if isinstance(dtype.elementType, (FloatType, DoubleType)):
            # embeddings: the hot case, inlined
            return [None if v is None or v != v else float(v) for v in value]
        return [_py_native(v, dtype.elementType) for v in value]
    if isinstance(dtype, (FloatType, DoubleType)):
        return float(value)
    if isinstance(dtype, (IntegerType, LongType)):
        return int(value)
    if isinstance(dtype, BooleanType):
        return bool(value)
    return str(value)


def _canon_select(df: DataFrame, schema) -> DataFrame:  # noqa: ANN001
    """Cast-select to the canonical schema, filling columns the source
    predates with typed NULLs (add-column schema evolution; see
    MieStore.table)."""
    from pyspark.sql import functions as F

    present = set(df.columns)
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in present
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema
        ]
    )


def _arrow_schema(table: str):  # noqa: ANN202
    """The table's canonical schema as an Arrow schema (looked up per
    call: the canonical schema is the one this build declares)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(table_schema(table))


# Decoded part files are kept per store, up to this many bytes of Arrow
# buffers (least recently used first out). A warm agent read is then a
# stat per part file; a 50k-fact 768-dim embedding table is ~150 MiB.
_DECODED_BYTES = 256 << 20


def _decode_part(path: str, schema):  # noqa: ANN001, ANN202
    """One part file → an Arrow table in ``schema``, the driver twin of
    :meth:`MieStore._read_snapshot`'s schema-evolution contract: columns
    the file predates arrive as typed NULLs, stale columns are never
    read, narrower types (int->long, float->double) are up-cast."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    have = set(pf.schema_arrow.names)
    t = pf.read(columns=[c for c in schema.names if c in have])
    return pa.Table.from_arrays(
        [
            t[f.name].cast(f.type) if f.name in have else pa.nulls(t.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


class _DecodedParts:
    """One store's decoded part files, keyed by file identity: the
    canonical schema they were decoded to (a store can be read under a
    schema other than the one it was written with), the uuid basename
    and ``(st_dev, st_ino, st_size, st_mtime_ns)``.

    Part files are never modified: every write makes a new
    ``part-<uuid4>.parquet`` and a snapshot's untouched buckets are
    hard links to the same inodes. So a commit invalidates exactly the
    files it replaced, whose entries age out of the LRU, and no
    invalidation hook is needed. The basename guards against inode
    reuse: GC frees inodes, and a new file can match a removed file's
    ``(ino, size, mtime)`` within one clock tick."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._tables: OrderedDict = OrderedDict()
        self._bytes = 0

    @staticmethod
    def _key(schema, path: str) -> tuple:  # noqa: ANN001
        st = os.stat(path)
        return (
            schema.to_string(), os.path.basename(path),
            st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns,
        )

    def read(self, schema, path: str):  # noqa: ANN001, ANN201
        key = self._key(schema, path)
        with self._lock:
            t = self._tables.get(key)
            if t is not None:
                self._tables.move_to_end(key)
                return t
        t = _decode_part(path, schema)
        self._put(key, t)
        return t

    def add(self, schema, path: str, t) -> None:  # noqa: ANN001
        """Write-through: ``t`` is exactly what was just written to
        ``path``, in ``schema``."""
        self._put(self._key(schema, path), t)

    def _put(self, key: tuple, t) -> None:  # noqa: ANN001
        if t.nbytes > _DECODED_BYTES:
            return
        with self._lock:
            old = self._tables.pop(key, None)
            if old is not None:
                self._bytes -= old.nbytes
            self._tables[key] = t
            self._bytes += t.nbytes
            while self._bytes > _DECODED_BYTES:
                self._bytes -= self._tables.popitem(last=False)[1].nbytes


def _read_arrow(table: str, files: list[str], parts: _DecodedParts):  # noqa: ANN202
    """Part files → one Arrow table in the canonical schema, each file
    decoded by :func:`_decode_part` unless ``parts`` holds it."""
    import pyarrow as pa

    schema = _arrow_schema(table)
    pieces = [parts.read(schema, path) for path in files]
    return pa.concat_tables(pieces) if pieces else schema.empty_table()


# -- driver-side bucket hash -----------------------------------------------
#
# A pure-Python twin of Spark's
# ``pmod(xxhash64(k1, k2, ...), merge_buckets)``: XXH64 with seed 42,
# each non-NULL key column hashed with the previous column's hash as
# its seed (NULLs are skipped), strings as their UTF-8 bytes and longs
# as 8 little-endian bytes. Stores written by earlier builds filed rows
# with Spark's hash, so merged rows must land in exactly that bucket.

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _lane(data: bytes, i: int, width: int = 8) -> int:
    return int.from_bytes(data[i : i + width], "little")


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(acc, _lane(data, i + 8 * j)) for j, acc in enumerate(v)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for acc in v:
            h = ((h ^ _round(0, acc)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, _lane(data, i)), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (_lane(data, i, 4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def _key_bucket(key: tuple, n: int) -> int:
    """The ``bkt`` of a row with these key values (strings and longs,
    the key types of schemas.py)."""
    h = 42
    for v in key:
        if v is not None:
            data = v.encode() if isinstance(v, str) else (v & _M64).to_bytes(8, "little")
            h = _xxh64(data, h)
    return (h - (1 << 64) if h >> 63 else h) % n


class MieStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str | None = None,
        embedding_dim: int = DEFAULT_EMBEDDING_DIM,
        merge_buckets: int = 16,
    ):
        if merge_buckets < 1:
            raise ValueError(f"merge_buckets must be >= 1, got {merge_buckets}")
        self.spark = spark
        if not path:
            # Ephemeral store: removed at exit, never on GC, because a
            # lazy DataFrame read from it may outlive this object.
            path = tempfile.mkdtemp(prefix="mie-store-")
            atexit.register(shutil.rmtree, path, ignore_errors=True)
        self.path = path
        self.embedding_dim = embedding_dim
        # Bucket count for the partitioned-merge layout. Buckets are a
        # stable hash of the key columns, so a row's bucket never moves;
        # a merge batch touching B buckets rewrites B/merge_buckets of
        # the table instead of all of it. Size it so one bucket's data
        # fits the driver comfortably at the deployment's table size (a
        # merge holds one touched bucket plus the batch; 16 is right
        # for memory-graph scale).
        self.merge_buckets = merge_buckets
        # Writers fully serialize, matching the reference's single
        # RWMutex over the DB (storage/embedded.go:23-25,88-133): every
        # mutation is read-snapshot -> modify -> commit-pointer, so two
        # unserialized writers would lose one's rows. Reads need no lock
        # (snapshots are immutable; the pointer flip is atomic).
        self._write_lock = threading.RLock()
        self._parts = _DecodedParts()
        os.makedirs(path, exist_ok=True)
        self._recover_txn()
        self.ensure_schema()

    # -- schema ---------------------------------------------------------

    def ensure_schema(self) -> None:
        """Idempotent create-if-missing (client.go:54-122 ensures schema +
        indexes on every open)."""
        if self.meta_get("schema_version") is None:
            self.meta_set("schema_version", SCHEMA_VERSION)

    # -- engine plumbing --------------------------------------------------

    def _snapshot_dir(self, table: str) -> str | None:
        pointer = os.path.join(self.path, table, "_CURRENT")
        version = None
        if os.path.exists(pointer):
            with open(pointer) as fh:
                version = fh.read().strip()
        # a committed-but-not-yet-rolled-forward transaction outranks
        # the per-table pointer: the manifest rename IS the commit
        # point, so every listed table must serve its manifest version
        # the instant the rename lands (all-or-nothing visibility)
        txn_v = self._txn_manifest().get(table)
        if txn_v is not None and os.path.isdir(
            os.path.join(self.path, table, txn_v)
        ):
            if version is None or int(txn_v[1:]) > int(version[1:]):
                version = txn_v
        if version is None:
            return None
        return os.path.join(self.path, table, version)

    def _txn_manifest(self) -> dict[str, str]:
        """The committed multi-table transaction, if one is mid-roll-
        forward ({} otherwise). Best-effort read: a torn tmp file never
        exists at this path (os.replace is atomic), but guard anyway."""
        p = os.path.join(self.path, TXN_FILE)
        if not os.path.exists(p):
            return {}
        try:
            with open(p) as fh:
                m = json.load(fh)
            return m if isinstance(m, dict) else {}
        except (json.JSONDecodeError, OSError):
            return {}

    def _recover_txn(self) -> None:
        """Roll FORWARD a committed transaction whose per-table pointer
        flips were interrupted by a crash: the manifest rename already
        made every listed version visible (see _snapshot_dir), so
        recovery finishes the flips and clears the manifest. A crash
        BEFORE the manifest rename left nothing visible — orphan
        snapshot dirs are overwritten by the next write at the same
        version number."""
        manifest = self._txn_manifest()
        if not manifest:
            return
        for table, version in sorted(manifest.items()):
            if not os.path.isdir(os.path.join(self.path, table, version)):
                continue  # defensive: never commit a missing snapshot
            pointer = os.path.join(self.path, table, "_CURRENT")
            current = None
            if os.path.exists(pointer):
                with open(pointer) as fh:
                    current = fh.read().strip()
            if current is None or int(version[1:]) > int(current[1:]):
                self._commit_snapshot(table, version)
        os.remove(os.path.join(self.path, TXN_FILE))

    def _next_snapshot(self, table: str) -> tuple[str, str]:
        """(dir, version) for the next snapshot write. The dir does not
        exist on return: an orphan left there by an interrupted prepare
        (never visible, see _recover_txn) is removed first."""
        tdir = os.path.join(self.path, table)
        os.makedirs(tdir, exist_ok=True)
        current = self._snapshot_dir(table)
        next_v = (
            f"v{int(os.path.basename(current)[1:]) + 1}" if current else "v1"
        )
        snap = os.path.join(tdir, next_v)
        shutil.rmtree(snap, ignore_errors=True)
        return snap, next_v

    def _commit_snapshot(self, table: str, version: str) -> None:
        """Roll-forward step of a committed transaction (called only by
        _commit_txn and _recover_txn): atomic pointer flip, then GC all
        but the 2 newest versions (the previous one stays so lazy
        readers opened before this commit keep their files)."""
        tdir = os.path.join(self.path, table)
        tmp_pointer = os.path.join(tdir, "_CURRENT.tmp")
        with open(tmp_pointer, "w") as fh:
            fh.write(version)
        os.replace(tmp_pointer, os.path.join(tdir, "_CURRENT"))
        versions = sorted(
            (d for d in os.listdir(tdir) if d.startswith("v") and d[1:].isdigit()),
            key=lambda d: int(d[1:]),
        )
        for stale in versions[:-2]:
            shutil.rmtree(os.path.join(tdir, stale), ignore_errors=True)

    def _table_has_no_snapshot(self, name: str) -> bool:
        """True when a table has no committed, non-empty
        snapshot — i.e. ``table(name)`` would return
        ``createDataFrame([], schema)``."""
        snap = self._snapshot_dir(name)
        return snap is None or not self._part_files(snap)

    @staticmethod
    def _part_files(snap: str) -> list[str]:
        """Every parquet part file under a snapshot (or one of its
        ``bkt=K`` dirs); [] when the dir does not exist. Spark writes no
        part files for an empty DataFrame — only _SUCCESS — and
        spark.read can't infer a schema from that."""
        return [
            os.path.join(root, f)
            for root, _, fs in os.walk(snap)
            for f in fs
            if f.endswith(".parquet")
        ]

    def _is_bucketed(self, snap: str) -> bool:
        return any(d.startswith("bkt=") for d in os.listdir(snap))

    def _link_untouched(self, prev: str, nxt: str, touched: list[int]) -> None:
        """Carry every untouched bucket into the new snapshot by
        hard-linking its part files — O(files) metadata ops, zero data
        I/O. Hard links make each snapshot self-contained: GC of an old
        version only decrements link counts, shared content survives."""
        touched_dirs = {f"bkt={b}" for b in touched}
        for d in os.listdir(prev):
            if not d.startswith("bkt=") or d in touched_dirs:
                continue
            sdir, ddir = os.path.join(prev, d), os.path.join(nxt, d)
            os.makedirs(ddir, exist_ok=True)
            for fn in os.listdir(sdir):
                if not fn.endswith(".parquet"):
                    continue
                try:
                    os.link(os.path.join(sdir, fn), os.path.join(ddir, fn))
                except OSError:  # cross-device fallback
                    shutil.copy2(os.path.join(sdir, fn), os.path.join(ddir, fn))

    # -- reads ------------------------------------------------------------

    def _read_snapshot(self, table: str, *paths: str) -> DataFrame:
        """Read snapshot parquet with the CANONICAL schema requested
        explicitly — the full schema-evolution read contract (r9):

        - ADD-column: files predating the column yield typed NULLs
          (parquet readers null-fill requested columns absent from a
          file's footer).
        - DROP-column: stale columns still present in old files are
          ignored (only requested columns are materialized).
        - Type WIDENING (int->long, float->double, int->double):
          Spark 4's parquet readers up-cast a narrower file type to the
          wider requested type in the scan itself (SPARK-40876) — which
          the previous ``mergeSchema`` read could NOT survive: schema
          merge throws CANNOT_MERGE_SCHEMAS the moment a snapshot's
          hard-linked buckets mix pre- and post-widening file vintages
          (verified empirically; pinned by the widening tests).

        Narrowing and type CHANGES (string->long, ...) are out of
        contract, as in Delta/Iceberg. The ``bkt`` layout partition
        column, when present, is appended by partition discovery."""
        return self.spark.read.schema(table_schema(table)).parquet(*paths)

    def table(self, name: str) -> DataFrame:
        """Spark view of a table; all query operators build on this.
        A lazy distributed parquet scan (filters push down, columns
        prune); the cast-select re-asserts the canonical schema so
        float/int widths survive round-trips through any writer."""
        if name not in ALL_TABLES and name not in AUX_TABLES:
            raise KeyError(f"unknown table {name!r}")
        schema = table_schema(name)
        if self._table_has_no_snapshot(name):
            return self.spark.createDataFrame([], schema)
        # SCHEMA EVOLUTION: a snapshot written by an older build is
        # read through _read_snapshot's explicit-schema contract —
        # added columns arrive as typed NULLs, dropped columns are
        # ignored, and int->long / float->double widenings up-cast
        # in the scan. The next merge writes the full current
        # schema, so evolution completes lazily per table, one
        # commit after the code ships (the Delta read contract).
        snap = self._snapshot_dir(name)
        return _canon_select(self._read_snapshot(name, snap), schema)

    def table_arrow(self, name: str):  # noqa: ANN201
        """The table's current snapshot as ONE Arrow table in the
        canonical schema, read on the driver with pyarrow — no Spark
        job. The driver twin of :meth:`table` (same rows, same
        schema-evolution contract through :func:`_read_arrow`; a
        pre-bucketing snapshot's part files are read the same way). The
        read path of the agent tools, where a request touches a few
        hundred rows and a Spark job's fixed cost would dominate."""
        if name not in ALL_TABLES and name not in AUX_TABLES:
            raise KeyError(f"unknown table {name!r}")
        snap = self._snapshot_dir(name)
        return _read_arrow(name, self._part_files(snap) if snap else [], self._parts)

    # -- writes -----------------------------------------------------------
    #
    # Every write prepares invisible snapshots (_merge_arrow,
    # restore) and publishes them through _commit_txn — one
    # commit path, so a single-table write and an N-table transaction
    # have the same crash and visibility guarantees.

    def upsert_rows(self, table: str, rows: list[dict[str, Any]]) -> int:
        """Insert-or-replace by key (`:put` parity). Returns rows
        actually written: intra-batch duplicates of the same key
        collapse last-write-wins, so the count can be < len(rows)."""
        return self._upsert_rows({table: rows})[0].get(table, 0)

    def _rows_to_arrow(self, table: str, rows: list[dict[str, Any]]):  # noqa: ANN202
        """Dict rows → key-unique Arrow table in canonical column order.
        Values are coerced to the column types first, then intra-batch
        duplicates of a key collapse last-write-wins, like sequential
        :put."""
        import pyarrow as pa

        schema = table_schema(table)
        key_idx = [schema.names.index(k) for k in key_columns(table)]
        by_key: dict[tuple, tuple] = {}
        for r in rows:
            vals = tuple(_py_native(r.get(f.name), f.dataType) for f in schema)
            by_key[tuple(vals[i] for i in key_idx)] = vals
        arrow = _arrow_schema(table)
        return pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(zip(*by_key.values()), arrow)],
            schema=arrow,
        )

    def atomic_upsert_rows(
        self,
        updates: dict[str, list[dict[str, Any]]],
        counters: dict[str, int] | None = None,
    ) -> dict[str, int]:
        """Multi-table TRANSACTIONAL upsert: either every table's batch
        becomes visible or none does.

        Protocol (write-ahead roll-forward, the manifest rename is the
        commit point):

        1. PREPARE — merge every table's batch into its next snapshot
           on the driver (:meth:`_merge_arrow`, no Spark job) without a
           pointer flip; nothing is visible yet. A crash here leaves
           only orphan version dirs that the next write removes.
        2. COMMIT — one atomic ``os.replace`` of the {table: version}
           manifest to ``_TXN_CURRENT``. Readers resolve a table's
           current version as max(pointer, manifest entry), so this
           single rename makes ALL the new versions visible at once.
        3. ROLL FORWARD — flip each per-table pointer (+ GC), then
           remove the manifest. A crash mid-way is repaired by
           _recover_txn on the next open; readers in the window still
           see the committed state via the manifest.

        ``counters`` ({meta key: n}) adds n to each integer counter in
        ``mie_meta`` inside the same transaction: the read-modify-write
        runs under the write lock and its rows commit with the batch
        (after any ``mie_meta`` rows of ``updates``).

        Returns per-table written-row counts."""
        return self._upsert_rows(updates, counters)[0]

    def _upsert_rows(
        self,
        updates: dict[str, list[dict[str, Any]]],
        counters: dict[str, int] | None = None,
    ) -> tuple[dict[str, int], dict[str, int]]:
        """Body of :meth:`atomic_upsert_rows`, shared with
        :meth:`upsert_rows` and :meth:`meta_increment` (calling the
        public method would nest one traced write inside another).
        Returns (per-table counts, new counter values)."""
        updates = {t: list(rows) for t, rows in updates.items() if rows}
        if not updates and not counters:
            return {}, {}
        with self._write_lock:
            values: dict[str, int] = {}
            if counters:
                current = self.meta_values(list(counters))
                for key, n in counters.items():
                    old = current.get(key, "")
                    values[key] = (int(old) if old.isdigit() else 0) + n
                updates.setdefault("mie_meta", []).extend(
                    {"key": k, "value": str(v)} for k, v in values.items()
                )
            batches = {t: self._rows_to_arrow(t, rows) for t, rows in updates.items()}
            self._merge_commit(batches)
            return {t: b.num_rows for t, b in batches.items()}, values

    def _merge_commit(self, batches: dict[str, Any]) -> None:
        """Prepare every table's merged snapshot, then publish them all
        with one :meth:`_commit_txn`. Callers hold the write lock; each
        Arrow table is key-unique and in canonical column order."""
        versions: dict[str, str] = {}
        for table, new in sorted(batches.items()):
            v = self._merge_arrow(table, new)
            if v is not None:
                versions[table] = v
        self._commit_txn(versions)

    def _commit_txn(self, versions: dict[str, str]) -> None:
        """Steps 2+3 of the transaction protocol: the atomic manifest
        rename (commit point), then per-table pointer roll-forward and
        manifest removal. Callers hold the write lock and have already
        prepared every snapshot.

        A pending manifest from an EARLIER commit whose roll-forward
        raised mid-flip (process still alive, exception swallowed by
        the caller) is finished FIRST — overwriting it would silently
        unpublish that transaction's committed-but-unflipped versions
        for every reader that consults the manifest."""
        if not versions:
            return
        if self._txn_manifest():
            self._recover_txn()
        tmp = os.path.join(self.path, TXN_FILE + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(versions, fh)
        os.replace(tmp, os.path.join(self.path, TXN_FILE))  # COMMIT
        for table, version in versions.items():
            self._commit_snapshot(table, version)
        os.remove(os.path.join(self.path, TXN_FILE))

    def _merge_arrow(self, table: str, new: Any) -> str | None:
        """Prepare one table's merged snapshot, not yet committed: for
        each bucket the batch touches, read the current snapshot's
        ``bkt=K`` part files with pyarrow, drop the batch's keys (last
        write wins), append the batch's rows of that bucket and write
        ONE part file into the next snapshot; untouched buckets are
        hard-linked. Each row goes to the bucket :func:`_key_bucket`
        gives it, with no Spark job; peak driver memory is one touched
        bucket plus the batch. A snapshot that predates the bucketed
        layout is read whole and rewritten bucketed. Returns the
        prepared version, or None for an empty batch."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if new.num_rows == 0:
            return None
        keys = key_columns(table)
        schema = _arrow_schema(table)
        # dictionary pages pay off for repeated strings, never for
        # float vectors
        strings = [f.name for f in schema if pa.types.is_string(f.type)]
        batch = self._split_buckets(table, new)
        prev = self._snapshot_dir(table)
        files = self._part_files(prev) if prev else []
        bucketed = bool(files) and self._is_bucketed(prev)
        legacy = (
            self._split_buckets(table, _read_arrow(table, files, self._parts))
            if files and not bucketed
            else {}
        )
        snap, version = self._next_snapshot(table)
        for b in sorted(batch.keys() | legacy.keys()):
            old = (
                _read_arrow(
                    table, self._part_files(os.path.join(prev, f"bkt={b}")), self._parts
                )
                if bucketed
                else legacy.get(b)
            )
            rows = batch.get(b)
            if rows is not None and old is not None:
                replaced = set(zip(*(rows[k].to_pylist() for k in keys)))
                # a NULL key never matches, as in a SQL anti-join
                keep = [
                    None in k or k not in replaced
                    for k in zip(*(old[c].to_pylist() for c in keys))
                ]
                old = old.filter(pa.array(keep, pa.bool_()))
            # one chunk per column, or a cached bucket would gain a chunk
            # with every commit that touches it
            merged = pa.concat_tables([t for t in (old, rows) if t is not None])
            merged = merged.combine_chunks()
            bdir = os.path.join(snap, f"bkt={b}")
            os.makedirs(bdir)
            part = os.path.join(bdir, f"part-{uuid.uuid4().hex}.parquet")
            pq.write_table(merged, part, use_dictionary=strings)
            # write-through: the next read of this bucket decodes nothing
            self._parts.add(schema, part, merged)
        if bucketed:
            self._link_untouched(prev, snap, list(batch))
        return version

    def _split_buckets(self, table: str, t: Any) -> dict[int, Any]:
        """{bkt: rows of ``t`` in that bucket} for an Arrow table."""
        import pyarrow as pa
        import pyarrow.compute as pc

        bkts = pa.array(
            [
                _key_bucket(k, self.merge_buckets)
                for k in zip(*(t[c].to_pylist() for c in key_columns(table)))
            ],
            pa.int32(),
        )
        return {b: t.filter(pc.equal(bkts, b)) for b in set(bkts.to_pylist())}

    # -- meta KV (storage/embedded.go:194-228) ------------------------------

    def meta_values(self, keys: list[str]) -> dict[str, str]:
        """{key: value} for the present ``keys``: a driver-side read of
        the current ``mie_meta`` snapshot (a handful of rows), no Spark
        job."""
        meta = self.table_arrow("mie_meta")
        want = set(keys)
        return {
            k: str(v)
            for k, v in zip(meta["key"].to_pylist(), meta["value"].to_pylist())
            if k in want
        }

    def meta_get(self, key: str) -> str | None:
        return self.meta_values([key]).get(key)

    def meta_set(self, key: str, value: str) -> None:
        self.upsert_rows("mie_meta", [{"key": key, "value": str(value)}])

    def meta_increment(self, key: str) -> int:
        """Counter RMW done as one transaction (the reference's
        two-statement version is non-atomic, client.go:251-292 — noted
        in SURVEY §2.4); the ``counters`` path of atomic_upsert_rows."""
        return self._upsert_rows({}, {key: 1})[1][key]

    # -- backup / restore (cozodb.go:174-232 Backup/Restore) ----------------

    def backup(self, dest: str) -> dict[str, str]:
        """Copy every table's current snapshot to ``dest`` as a named,
        self-contained backup (cozodb.go:174-201). Snapshot dirs are
        immutable once committed, so the copy is consistent; the write
        lock only fences the version *choice* (and GC) during the copy.
        Returns {table: version} for what was captured.

        The backup is plain parquet per table — readable by any engine,
        not just this store (the reference's backup is an opaque Cozo
        file; plain parquet is the lake-native improvement)."""
        with self._write_lock:
            os.makedirs(dest, exist_ok=True)
            manifest: dict[str, str] = {}
            for t in ALL_TABLES:
                tdest = os.path.join(dest, t)
                # clear first: a re-used backup dir must not keep a stale
                # copy of a table that is now empty (restore would read
                # it), and part-file names never collide across
                # snapshots, so copying over an old copy would MERGE the
                # two and corrupt restores
                shutil.rmtree(tdest, ignore_errors=True)
                if self._table_has_no_snapshot(t):
                    continue
                snap = self._snapshot_dir(t)
                shutil.copytree(snap, tdest)
                manifest[t] = os.path.basename(snap)
            with open(os.path.join(dest, "_MANIFEST.json"), "w") as fh:
                json.dump({"tables": manifest}, fh)
            return manifest

    def restore(self, src: str) -> dict[str, str]:
        """Replace the store's state with a backup's (cozodb.go:203-232),
        all-or-nothing. Every table present in the backup is copied into
        a NEW, still invisible snapshot version (lazy readers opened
        before the restore keep their files); every table absent from
        it gets an empty one; then ONE manifest rename commits them all
        (:meth:`_commit_txn`), so a failure partway leaves the store as
        it was. Returns the {table: version} manifest restored."""
        manifest_path = os.path.join(src, "_MANIFEST.json")
        if not os.path.exists(manifest_path):
            raise FileNotFoundError(f"not a mie backup (no _MANIFEST.json): {src}")
        with open(manifest_path) as fh:
            manifest = json.load(fh)["tables"]
        # validate BEFORE touching any state: a manifest-listed table
        # whose directory is missing means a truncated/partial backup —
        # restoring it would silently wipe live data to empty
        broken = [
            t for t in manifest if not os.path.isdir(os.path.join(src, t))
        ]
        if broken:
            raise FileNotFoundError(
                f"backup at {src} is incomplete: manifest lists {broken} "
                "but the directories are missing"
            )
        with self._write_lock:
            versions: dict[str, str] = {}
            for t in ALL_TABLES:
                if t not in manifest and self._snapshot_dir(t) is None:
                    continue
                snap, versions[t] = self._next_snapshot(t)
                if t in manifest:
                    shutil.copytree(os.path.join(src, t), snap)
                else:
                    os.makedirs(snap)  # empty snapshot
            self._commit_txn(versions)
            self.ensure_schema()
            return manifest

    # -- lifecycle ----------------------------------------------------------

    def reset(self) -> None:
        """Drop everything (cmd/mie/reset.go:17-60 deletes the data dir)."""
        with self._write_lock:
            shutil.rmtree(self.path, ignore_errors=True)
            os.makedirs(self.path, exist_ok=True)
            self.ensure_schema()
