"""LakeTable — a minimal Iceberg-style snapshot-versioned table on parquet.

The execution image ships no Iceberg/Delta jars, so the exactly-once
copy-on-write sink the north rule demands is implemented from scratch on
public primitives only.  The design mirrors Iceberg's metadata model:

- **Data layout**: ``<root>/data/c<version>/_b=<bucket>/part-*.parquet``
  for base files and ``data/d<version>/_b=<bucket>/`` for merge-on-read
  deltas, ``<version>`` being the snapshot that adds them.  Rows are
  hash-bucketed on the merge key with Spark's built-in Murmur3
  ``hash()`` (the same family the reference uses for its queue fan-out:
  HashUtils.java:30-133, ``hash & 1023`` IKeyGenerator.java:22).
- **Snapshots**: ``<root>/_meta/v<N>.json`` — immutable manifest listing,
  per bucket, the data files of that version, plus the table schema, the
  per-bucket applied-``seq`` high-water marks, the last applied epoch per
  stream, and the full lineage log.  ``<root>/_meta/CURRENT`` points at the
  live version.
- **Atomic commit**: a new snapshot is staged to a temp file and published
  with ``os.link`` (fails if the version already exists → optimistic
  concurrency, single winner), then ``CURRENT`` is flipped with
  ``os.replace`` (atomic on POSIX).  A crash between the two leaves
  ``CURRENT`` at the old version and an orphan snapshot — readers never see
  a partial commit.  Writers serialize on a ``flock`` of ``_meta/LOCK``
  held from snapshot read to publish (:meth:`LakeTable._commit`; the
  reference's one-writer leader latch), so no two stage into one data
  directory.  This replaces the reference's ZooKeeper ``/dynamic`` znode
  checkpoint (ZkLeaderSelector.refreshLogPos, ZkLeaderSelector.java:184-220)
  with the watermark committed *in the same transaction as the data*,
  which upgrades at-least-once to exactly-once.
- **Schema evolution**: additive only, like the reference
  (BinlogWorker.java:1079 — "only add-column is handled").  The snapshot
  schema is authoritative; older data files simply lack the new columns and
  the parquet reader fills them with NULL when handed the table schema.

Scale notes (100 TB): the manifest holds one file entry per (bucket,
live-commit) — with 1024 buckets and periodic compaction this stays in the
thousands of entries, the same order as an Iceberg manifest list.  Readers
prune to dirty buckets before touching data, so a MERGE of a batch that
dirties k of B buckets reads and rewrites k/B of the table (copy-on-write
amplification bounded by bucket granularity, the analog of Iceberg's
``write.target-file-size`` + bucket partition transform).  Lineage rows are
one per (epoch, bucket); a production deployment would roll them to a side
table — here they live in the manifest so commit atomicity is free.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import re
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_DIR = "_meta"
DATA_DIR = "data"
CURRENT = "CURRENT"
LOCK = "LOCK"
TAGS_DIR = "tags"
LINEAGE_LOG = "lineage.jsonl"
# lineage entries kept inside the snapshot itself; older entries roll to
# an append-only side log so the per-commit snapshot write stays O(1) in
# epochs (at 10^5 epochs an in-snapshot log would make every commit O(n))
LINEAGE_KEEP = 64


def _bucket_expr(key_col: str, num_buckets: int):
    """Bucket id of a key: pmod(murmur3(key), B) — stable across runs and
    cluster sizes because Spark's ``hash`` is a fixed Murmur3x86_32."""
    return F.pmod(F.hash(F.col(key_col)), F.lit(num_buckets)).cast("int")


def _fsynced_tmp(path: str, text: str) -> str:
    """Write + fsync ``text`` to a fresh temp file beside ``path``."""
    tmp = f"{path}.tmp.{os.getpid()}.{time.monotonic_ns()}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def _atomic_write_json(path: str, obj) -> None:
    """Last-writer-wins atomic JSON publish: an fsynced temp file, then
    ``os.replace`` — the pointer-update pattern shared by tags, feed
    cursors, rollup markers and ``CURRENT``.  (Snapshot version files use
    the stricter O_EXCL-link commit in ``_write_snapshot`` instead,
    because there the FIRST writer must win.)"""
    os.replace(_fsynced_tmp(path, json.dumps(obj)), path)


class CommitConflict(RuntimeError):
    """Another writer published this snapshot version first."""


class LakeTable:
    """Handle to a snapshot-versioned bucketed parquet table."""

    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, META_DIR)

    # ------------------------------------------------------------------ #
    # creation / snapshot IO
    # ------------------------------------------------------------------ #
    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        key_col: str,
        num_buckets: int = 16,
        properties: dict[str, Any] | None = None,
    ) -> "LakeTable":
        t = cls(root)
        os.makedirs(t.meta_dir, exist_ok=True)
        if os.path.exists(os.path.join(t.meta_dir, CURRENT)):
            raise FileExistsError(f"table already exists at {root}")
        snap = {
            "version": 0,
            "schema": schema.jsonValue(),
            "key_col": key_col,
            "num_buckets": num_buckets,
            "properties": properties or {},
            # bucket -> [base data file paths relative to root]
            "files": {},
            # bucket -> [merge-on-read delta file paths] (LWW at read;
            # folded into base by compact_buckets)
            "deltas": {},
            # bucket -> highest applied seq (retransmit fence)
            "watermarks": {},
            # stream_id -> last applied epoch id (idempotence guard)
            "epochs": {},
            # append-only commit/lineage log
            "lineage": [],
        }
        t._write_snapshot(snap)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(root, META_DIR, CURRENT))

    def snapshot(self, version: int | str | None = None) -> dict[str, Any]:
        """Current snapshot, or a specific published version (time
        travel).  A string ``version`` resolves through the named tags
        (:meth:`tag` — Iceberg snapshot-ref analog)."""
        if isinstance(version, str):
            tags = self.tags()
            if version not in tags:
                raise FileNotFoundError(f"tag {version!r} does not exist")
            version = tags[version]
        if version is None:
            with open(os.path.join(self.meta_dir, CURRENT)) as f:
                version = int(f.read().strip())
            # crash healing: the *link* of vN.json is the commit point; the
            # CURRENT flip is only a pointer update.  A crash between the
            # two leaves a fully-fsynced newer snapshot — adopt it.  (The
            # losing side of a real conflict never links, so an existing
            # newer file is always our own completed commit.)
            while os.path.exists(os.path.join(self.meta_dir, f"v{version + 1}.json")):
                version += 1
        path = os.path.join(self.meta_dir, f"v{version}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"snapshot v{version} does not exist (expired or never committed)"
            )
        with open(path) as f:
            return json.load(f)

    def versions(self) -> list[int]:
        """All published, unexpired snapshot versions, ascending."""
        return sorted(
            int(p[1:-5])
            for p in os.listdir(self.meta_dir)
            if p.startswith("v") and p.endswith(".json")
        )

    def _write_snapshot(self, snap: dict[str, Any]) -> None:
        """Publish snapshot atomically: O_EXCL-like link for the version
        file (single winner on conflict), then atomic CURRENT flip.

        Lineage beyond LINEAGE_KEEP entries rolls to the append-only side
        log first; a crash or commit conflict after the roll leaves
        harmless duplicate lines there (readers dedup by version)."""
        if len(snap.get("lineage", [])) > LINEAGE_KEEP:
            rolled = snap["lineage"][:-LINEAGE_KEEP]
            with open(os.path.join(self.meta_dir, LINEAGE_LOG), "a") as f:
                for e in rolled:
                    f.write(json.dumps(e) + "\n")
                f.flush()
                os.fsync(f.fileno())
            snap["lineage"] = snap["lineage"][-LINEAGE_KEEP:]
        version = snap["version"]
        final = os.path.join(self.meta_dir, f"v{version}.json")
        tmp = _fsynced_tmp(final, json.dumps(snap))
        try:
            os.link(tmp, final)  # fails if version already published
        except FileExistsError as e:
            raise CommitConflict(f"version {version} already committed") from e
        finally:
            os.unlink(tmp)
        _atomic_write_json(os.path.join(self.meta_dir, CURRENT), version)

    @contextlib.contextmanager
    def _commit(self):
        """The one read-modify-write path of the snapshot: take the writer
        lock and yield ``(snapshot, next_version)`` for mutation.  A body
        that commits appends one lineage entry stamped ``next_version``;
        on a clean exit that entry publishes the snapshot as
        ``next_version``.  A body that appends none, or raises, publishes
        nothing.  Writers stage data inside the block, so
        ``data/<kind><next_version>`` is theirs alone.  The ``flock`` is
        not reentrant: a writer called inside another writer's block waits
        on itself forever."""
        with open(os.path.join(self.meta_dir, LOCK), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # released when the file closes
            snap = self.snapshot()
            version, n_entries = snap["version"] + 1, len(snap["lineage"])
            yield snap, version
            if len(snap["lineage"]) > n_entries:
                snap["version"] = version
                self._write_snapshot(snap)

    # ------------------------------------------------------------------ #
    # schema
    # ------------------------------------------------------------------ #
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.snapshot()["schema"])

    def add_columns(self, cols: list[tuple[str, str]]) -> bool:
        """Additive schema evolution: ``ALTER TABLE ADD COLUMN``.

        Parity: the reference only supports add-column
        (TableMeta.duplicateAndAddColumn, TableMeta.java:84-115; pad rule
        Carrier.java:345-389).  Existing data files are untouched — the
        reader fills NULLs — exactly Iceberg's lazy evolution.
        Returns True if the schema changed.
        """
        with self._commit() as (snap, version):
            schema = T.StructType.fromJson(snap["schema"])
            added = []
            for name, ddl in cols:
                if name not in schema.fieldNames():
                    schema = schema.add(T.StructField(name, _parse_type(ddl), True))
                    added.append(name)
            if added:
                snap["schema"] = schema.jsonValue()
                snap["lineage"].append(
                    {"kind": "alter", "version": version, "added": added}
                )
        return bool(added)

    # ------------------------------------------------------------------ #
    # read path
    # ------------------------------------------------------------------ #
    def read(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        with_seq: bool = False,
        version: int | None = None,
        with_tombstones: bool = False,
    ) -> DataFrame:
        """Read the current snapshot, pruned to ``buckets`` if given.

        Bucket pruning is the scan-side half of copy-on-write MERGE: a
        batch touching k buckets scans k/B of the table.  The snapshot
        schema is passed explicitly so files written before an ALTER
        surface the new columns as NULL.  ``with_seq`` additionally
        exposes the system column ``_seq`` (the seq of the event that last
        wrote each row — the per-row LWW version the MERGE compares
        against; the GTID-per-row analog of the reference's consumer-side
        dedup).  ``version`` time-travels to an earlier, unexpired snapshot.

        Merge-on-read: buckets with outstanding delta files are resolved
        here — base ∪ deltas reduced to the max-``_seq`` row per key,
        delete winners surfacing as tombstones (filtered or exposed per
        ``with_tombstones``; one LWW aggregation over just those
        buckets).  Buckets without deltas take the zero-overhead
        base-only path.

        ``with_tombstones`` (internal, implies ``with_seq`` use sites):
        exposes DELETE TOMBSTONE rows (``_tombstone=true``; data columns
        NULL-ish) instead of filtering them.  Tombstones are what make
        LWW total under batch REORDERING: a delete that merely removed
        its row would leave nothing to out-sequence a stale upsert
        arriving later (e.g. two spool files with colliding mtimes
        listed in either order after a resume), silently resurrecting
        the doc.  The MERGE/compaction paths read with tombstones;
        every user-facing read filters them.  Files written before this
        column existed read as NULL → treated as live rows."""
        snap = self.snapshot(version)
        key = snap["key_col"]
        schema = T.StructType.fromJson(snap["schema"])
        read_schema = (
            schema.add(T.StructField("_seq", T.LongType(), True))
            .add(T.StructField("_tombstone", T.BooleanType(), True))
        )

        def _paths(mapping) -> list[str]:
            out = []
            for b, fl in mapping.items():
                if buckets is None or int(b) in buckets:
                    out.extend(os.path.join(self.root, p) for p in fl)
            return out

        delta_map = {
            b: fl for b, fl in snap.get("deltas", {}).items() if fl
        }
        delta_files = _paths(delta_map)
        delta_buckets = {int(b) for b in delta_map}
        base_clean = _paths(
            {b: fl for b, fl in snap["files"].items() if int(b) not in delta_buckets}
        )
        base_dirty = _paths(
            {b: fl for b, fl in snap["files"].items() if int(b) in delta_buckets}
        )

        ts = F.coalesce(F.col("_tombstone"), F.lit(False))

        def _scan(paths: list[str], schema: T.StructType) -> DataFrame:
            if paths:
                return spark.read.schema(schema).parquet(*paths)
            return spark.createDataFrame([], schema)

        def _finish(df: DataFrame) -> DataFrame:
            if with_tombstones:
                df = df.withColumn("_tombstone", ts)
            else:
                df = df.filter(~ts).drop("_tombstone")
            return df if with_seq else df.drop("_seq")

        clean = _scan(base_clean, read_schema)
        if not delta_files:
            return _finish(clean)

        mor_schema = read_schema.add(T.StructField("_op", T.StringType(), True))
        deltas = _scan(delta_files, mor_schema)
        # base rows participate in read-time LWW under their STORED
        # liveness — a base tombstone (written by a tombstone-retaining
        # compaction) must keep out-sequencing stale upserts, not flip
        # back to a live row
        dirty_base = _scan(base_dirty, read_schema).withColumn(
            "_op", F.when(ts, F.lit("D")).otherwise(F.lit("U"))
        )
        packed = F.struct(
            *[F.col(f.name) for f in mor_schema.fields if f.name != key]
        ).alias("_p")
        resolved = (
            dirty_base.unionByName(deltas)
            .groupBy(key)
            .agg(F.max_by(packed, F.col("_seq")).alias("_p"))
            .select(key, "_p.*")
        )
        # a delete winner IS the tombstone: normalize the MOR _op into
        # the stored-column form so _finish treats both sources alike
        resolved = resolved.withColumn(
            "_tombstone", ts | (F.col("_op") == "D")
        ).drop("_op")
        return _finish(clean.unionByName(resolved))

    def lookup(
        self,
        spark: SparkSession,
        keys: list,
        version: int | None = None,
        with_seq: bool = False,
    ) -> DataFrame:
        """Point lookup: the current rows for an explicit key set, pruned
        twice — bucket-level (each key hashes to exactly one storage
        bucket, so only those buckets' files are listed at all) and
        row-group-level (the ``isin`` predicate pushes into the parquet
        scan, so footer min/max skips row groups inside each file).

        The key→bucket mapping is computed with the SAME JVM expression
        the writer uses (Murmur3 ``pmod`` — a Python reimplementation
        could silently diverge), over a driver-local keys DataFrame; the
        collected bucket ids are metadata-sized (≤ |keys|).

        Scale: k keys in a B-bucket, 10^10-row table read ≤ k buckets
        (≤ k/B of the table) and within them only matching row groups —
        never a full scan.  MOR buckets resolve their deltas as in
        :meth:`read`."""
        snap = self.snapshot(version)
        key = snap["key_col"]
        num_buckets = int(snap["num_buckets"])
        schema = T.StructType.fromJson(snap["schema"])
        if not keys:
            return self.read(spark, buckets=[], with_seq=with_seq, version=version)
        kdf = spark.createDataFrame(
            [(k,) for k in keys],
            T.StructType([T.StructField(key, schema[key].dataType)]),
        )
        buckets = sorted(
            r[0]
            for r in kdf.select(_bucket_expr(key, num_buckets).alias("b"))
            .distinct()
            .collect()
        )
        return self.read(
            spark, buckets=buckets, with_seq=with_seq, version=version
        ).filter(F.col(key).isin(list(keys)))

    # ------------------------------------------------------------------ #
    # change data feed — incremental read between snapshots
    # ------------------------------------------------------------------ #
    def changed_buckets(self, from_version: int, to_version: int | None = None) -> list[int]:
        """Buckets whose file (or delta) lists differ between the two
        snapshots — the manifest-level pruning for :meth:`read_changes`.

        Sound because every row mutation rewrites (COW) or appends to
        (MOR) its bucket's file list in the committing snapshot; a bucket
        with an identical manifest entry in both versions cannot contain
        a changed row.  Compaction/expiry may rewrite files without
        changing rows — that only ever adds false positives (extra scan,
        empty diff), never misses a change.

        Undefined across a bucket-layout change (``rebucket``): bucket ids
        are not comparable between different ``num_buckets`` — raises
        ValueError; :meth:`read_changes` falls back to an unpruned scan."""
        a, b = self.snapshot(from_version), self.snapshot(to_version)
        if int(a["num_buckets"]) != int(b["num_buckets"]):
            raise ValueError(
                "bucket ids are not comparable across a rebucket "
                f"({a['num_buckets']} -> {b['num_buckets']} buckets)"
            )

        def _sig(snap, bucket):
            return (
                snap["files"].get(str(bucket)),
                (snap.get("deltas") or {}).get(str(bucket)),
            )

        all_b = {int(k) for k in a["files"]} | {int(k) for k in b["files"]}
        all_b |= {int(k) for k in (a.get("deltas") or {})}
        all_b |= {int(k) for k in (b.get("deltas") or {})}
        return sorted(x for x in all_b if _sig(a, x) != _sig(b, x))

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        with_preimage: bool = False,
    ) -> DataFrame:
        """Change data feed (Iceberg `changelog scan` / Delta CDF analog —
        the read-side completion of the reference's produce path: a
        downstream consumer that can't tail the binlog itself re-derives
        the row-level changes from committed table versions): the net
        row-level diff from snapshot ``from_version`` (exclusive baseline)
        to ``to_version`` (default CURRENT, inclusive).

        Emits one row per changed key with columns of the *to* schema
        (older snapshots surface later additive columns as NULL), plus:

        - ``_change_op`` — 'I' (key absent at from, present at to),
          'U' (present in both, per-row ``_seq`` advanced), 'D' (present
          at from, absent at to; values are the *from*-side row).
        - ``_seq`` — the LWW version of the emitted row (to-side for
          I/U, from-side for D).

        A key whose ``_seq`` did not move between the versions is
        unchanged by LWW definition and is not emitted, even if suffix
        events for it arrived and lost (retransmits).

        ``with_preimage=True`` adds a ``_pre`` struct column carrying the
        *from*-side image of the data columns (the Delta CDF
        update_preimage analog): populated for U rows, NULL for I, and
        redundant-but-populated for D (whose top-level values already
        are the preimage).  Incremental view maintenance needs it —
        an aggregate delta for an update is f(post) − f(pre).

        Scale: cost ∝ changed buckets, not table size.  Bucket pruning is
        manifest-only (:meth:`changed_buckets`, zero data I/O); both sides
        then scan only those buckets and full-outer join on the key —
        at 10^10 rows with an epoch dirtying k of B buckets the feed reads
        2k/B of the table once, with no driver-side row handling.  Across
        a ``rebucket`` boundary bucket ids are incomparable, so the feed
        degrades to an unpruned (still fully correct) two-sided scan."""
        snap_to = self.snapshot(to_version)
        to_v = int(snap_to["version"])
        key = snap_to["key_col"]
        to_schema = T.StructType.fromJson(snap_to["schema"])
        data_cols = [f.name for f in to_schema.fields if f.name != key]

        snap_from = self.snapshot(from_version)
        if int(snap_from["num_buckets"]) != int(snap_to["num_buckets"]):
            changed: list[int] | None = None  # layout moved: scan both sides fully
        else:
            changed = self.changed_buckets(from_version, to_v)
        sys_cols = ["_seq"]
        empty_schema = T.StructType(
            [T.StructField(key, to_schema[key].dataType, True)]
            + [T.StructField(c, to_schema[c].dataType, True) for c in data_cols]
            + [T.StructField("_seq", T.LongType(), True)]
        )
        if changed == []:  # same layout, no manifest entry moved (None = unpruned)
            empty = spark.createDataFrame([], empty_schema).withColumn(
                "_change_op", F.lit("U")
            )
            if with_preimage:
                empty = empty.withColumn(
                    "_pre",
                    F.lit(None).cast(
                        T.StructType(
                            [
                                T.StructField(c, to_schema[c].dataType, True)
                                for c in data_cols
                            ]
                            + [T.StructField("_seq", T.LongType(), True)]
                        )
                    ),
                )
            return empty.filter(F.lit(False))

        def _side(version: int) -> DataFrame:
            df = self.read(spark, buckets=changed, with_seq=True, version=version)
            for f in to_schema.fields:  # additive evolution: old side lacks new cols
                if f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            return df.select(key, *data_cols, *sys_cols)

        pack = lambda df, n: df.select(  # noqa: E731
            key, F.struct(*data_cols, *sys_cols).alias(n)
        )
        o = pack(_side(int(snap_from["version"])), "_o")
        n = pack(_side(to_v), "_n")
        j = o.join(n, on=key, how="full_outer").filter(
            F.col("_o").isNull()
            | F.col("_n").isNull()
            | (F.col("_o._seq") != F.col("_n._seq"))
        )
        side = F.when(F.col("_n").isNotNull(), F.col("_n")).otherwise(F.col("_o"))
        op = (
            F.when(F.col("_o").isNull(), F.lit("I"))
            .when(F.col("_n").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
        )
        out_cols = [
            key,
            *[side[c].alias(c) for c in data_cols],
            side["_seq"].alias("_seq"),
            op.alias("_change_op"),
        ]
        if with_preimage:
            out_cols.append(F.col("_o").alias("_pre"))
        return j.select(*out_cols)

    # ------------------------------------------------------------------ #
    # commit bookkeeping and control plane — administrative overrides
    # ------------------------------------------------------------------ #
    def last_epoch(self, stream_id: str) -> int:
        return int(self.snapshot()["epochs"].get(stream_id, -1))

    def set_stream_epoch(self, stream_id: str, epoch_id: int) -> int:
        """Administratively set a stream's applied-epoch marker — the
        rebuild of the tower's set-binlog-position API
        (binlake-manager SetBinlogPosHandler.java:1-73: an operator moves a
        dump position back/forward; here the epoch guard is the position).

        Rewinding lets an operator force re-apply of epochs from a new
        checkpoint; state stays exact because the per-row ``_seq`` LWW
        makes every replayed change a no-op or a legitimate newer write.
        Committed as a versioned ``admin`` lineage entry — auditable and
        atomic like every other commit."""
        with self._commit() as (snap, version):
            prev = int(snap["epochs"].get(stream_id, -1))
            snap["epochs"][stream_id] = int(epoch_id)
            snap["lineage"].append(
                {
                    "kind": "admin",
                    "op": "set_stream_epoch",
                    "stream_id": stream_id,
                    "from": prev,
                    "to": int(epoch_id),
                    "version": version,
                }
            )
        return prev

    def rollback(self, version: int | str) -> int:
        """Roll the table back to an earlier snapshot or tag by
        publishing a NEW version carrying that snapshot's exact data
        state (Iceberg ``rollback_to_snapshot`` semantics) — the
        bad-ingest recovery action the reference's tower performs by
        moving the dump position back (SetBinlogPosHandler.java:1-73) and
        re-collecting.  History is preserved: the rollback is itself an
        auditable, atomic commit; data files are shared, never copied.

        Everything rolls back together — files, deltas, schema,
        watermarks, epoch markers — so re-ingesting the suffix log
        replays cleanly under the usual fences (epoch guard and seq
        fence are back at the target's values, per-row ``_seq`` LWW
        protects against any stragglers), and ``read_changes`` across
        the rollback commit emits the net UNDO diff for downstream feed
        consumers.  Returns the new version number."""
        with self._commit() as (snap, new_version):
            target, lineage = self.snapshot(version), snap["lineage"]
            snap.clear()
            snap.update(target)
            snap["lineage"] = lineage + [
                {
                    "kind": "admin",
                    "op": "rollback",
                    "to_version": int(target["version"]),
                    "from_version": new_version - 1,
                    "version": new_version,
                }
            ]
        return new_version

    def reset_watermarks(self, buckets: list[int] | None = None) -> dict[int, int]:
        """Administratively clear per-bucket seq fences (all buckets, or a
        subset) — needed before re-ingesting a regenerated/renumbered log
        whose seqs restart below the applied fences.  Per-row ``_seq`` LWW
        still protects the data; only the optional retransmit fence is
        relaxed.  Returns the cleared {bucket: old_watermark}."""
        with self._commit() as (snap, version):
            wms = {int(b): int(w) for b, w in snap["watermarks"].items()}
            target = set(wms) if buckets is None else {int(b) for b in buckets}
            cleared = {b: wms.pop(b) for b in sorted(target & set(wms))}
            snap["watermarks"] = {str(b): w for b, w in sorted(wms.items())}
            snap["lineage"].append(
                {
                    "kind": "admin",
                    "op": "reset_watermarks",
                    "buckets": sorted(cleared),
                    "version": version,
                }
            )
        return cleared

    def watermarks_df(self, spark: SparkSession) -> DataFrame:
        snap = self.snapshot()
        rows = [(int(b), int(w)) for b, w in snap["watermarks"].items()]
        schema = "_bucket int, _wm long"
        return spark.createDataFrame(rows, schema)

    def _all_lineage(self) -> list[dict[str, Any]]:
        """Full lineage: rolled side-log entries + in-snapshot tail, deduped
        by (kind, stream_id, epoch_id, version) — duplicate lines can exist
        after a crash between the roll and the snapshot publish."""
        snap = self.snapshot()
        current_version = int(snap["version"])
        entries: list[dict[str, Any]] = []
        log_path = os.path.join(self.meta_dir, LINEAGE_LOG)
        if os.path.exists(log_path):
            with open(log_path) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        entries.append(json.loads(line))
        entries.extend(snap["lineage"])
        seen: set[tuple] = set()
        out = []
        for e in entries:
            if int(e.get("version", -1)) > current_version:
                continue  # rolled by a commit that never published
            k = (e.get("kind"), e.get("stream_id"), e.get("epoch_id"), e.get("version"))
            if k in seen:
                continue
            seen.add(k)
            out.append(e)
        return out

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        """Per-epoch lineage/metrics — the analog of the reference's
        stage-delay monitor (PerformanceUtils.java:13-45) plus its position
        checkpoint contents.  Per-bucket offsets: :meth:`bucket_offsets_df`."""
        rows = [
            (
                e.get("stream_id"),
                int(e.get("epoch_id", -1)),
                int(e.get("version", -1)),
                int(e.get("n_events", 0)),
                int(e.get("n_upserts", 0)),
                int(e.get("n_deletes", 0)),
                int(e.get("wall_ms", 0)),
                len(e.get("partitions", [])),
            )
            for e in self._all_lineage()
            if e.get("kind") == "merge"
        ]
        schema = (
            "stream_id string, epoch_id long, version long, n_events long,"
            " n_upserts long, n_deletes long, wall_ms long, n_buckets int"
        )
        return spark.createDataFrame(rows, schema)

    def bucket_offsets_df(self, spark: SparkSession) -> DataFrame:
        """Per-(epoch, bucket) offsets: surviving rows + max applied seq —
        from parquet footer stats, the manifest-column-stats analog."""
        rows = [
            (
                e.get("stream_id"),
                int(e.get("epoch_id", -1)),
                int(p["bucket"]),
                int(p["n_rows"]),
                int(p["max_seq"]),
            )
            for e in self._all_lineage()
            if e.get("kind") == "merge"
            for p in e.get("partitions", [])
        ]
        schema = (
            "stream_id string, epoch_id long, partition_id int,"
            " n_rows long, max_seq long"
        )
        return spark.createDataFrame(rows, schema)

    def bucket_expr(self):
        snap = self.snapshot()
        return _bucket_expr(snap["key_col"], snap["num_buckets"])

    # ------------------------------------------------------------------ #
    # tags — named snapshot refs (Iceberg tag analog)
    # ------------------------------------------------------------------ #
    def tag(self, name: str, version: int | None = None, replace: bool = False):
        """Pin a published snapshot under a name (Iceberg's snapshot tags):
        readable via ``read(version="<name>")`` and exempt from
        ``expire_snapshots`` until dropped.  Refuses to move an existing
        tag unless ``replace=True`` (a silently moving ref breaks any
        reader that resolved it earlier)."""
        # names become filenames; ".tmp." would collide with the
        # in-flight-write filter in tags() and make the tag invisible
        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name) or ".tmp." in name:
            raise ValueError(f"invalid tag name {name!r}")
        v = int(self.snapshot(version)["version"])
        tdir = os.path.join(self.meta_dir, TAGS_DIR)
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{name}.json")
        if os.path.exists(path) and not replace:
            raise FileExistsError(f"tag {name!r} already exists (replace=True to move)")
        _atomic_write_json(path, {"name": name, "version": v})
        return v

    def drop_tag(self, name: str) -> None:
        path = os.path.join(self.meta_dir, TAGS_DIR, f"{name}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"tag {name!r} does not exist")
        os.unlink(path)

    def tags(self) -> dict[str, int]:
        tdir = os.path.join(self.meta_dir, TAGS_DIR)
        out: dict[str, int] = {}
        if os.path.isdir(tdir):
            for fn in os.listdir(tdir):
                if fn.endswith(".json") and ".tmp." not in fn:
                    with open(os.path.join(tdir, fn)) as f:
                        t = json.load(f)
                    out[t["name"]] = int(t["version"])
        return out

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, int]:
        """Iceberg's ``expire_snapshots`` analog: drop snapshot metadata
        older than the newest ``keep_last`` versions and delete data files
        no kept snapshot references.

        Without expiry, copy-on-write accumulates a full rewritten copy of
        every dirty bucket per commit — at 10^5 commits the table would
        hold orders of magnitude more dead bytes than live.  Expiry runs
        under the writer lock (:meth:`_commit`; it appends no lineage
        entry, so the block publishes nothing), so no writer can stage
        or commit while the reachable set is computed and files are
        deleted.  Returns counts: {snapshots_removed, files_removed}.
        """
        with self._commit() as (snap, _):
            current = int(snap["version"])
            keep = [v for v in self.versions() if v <= current][-max(1, keep_last):]
            if current not in keep:
                keep.append(current)
            # tagged snapshots are pinned (Iceberg: refs block expiry)
            for v in set(self.tags().values()):
                if v not in keep and os.path.exists(
                    os.path.join(self.meta_dir, f"v{v}.json")
                ):
                    keep.append(v)
            reachable: set[str] = set()
            for v in keep:
                kept = self.snapshot(v)
                for fl in kept["files"].values():
                    reachable.update(fl)
                for fl in kept.get("deltas", {}).values():
                    reachable.update(fl)
            files_removed = 0
            data_root = os.path.join(self.root, DATA_DIR)
            if os.path.isdir(data_root):
                for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
                    for fn in filenames:
                        full = os.path.join(dirpath, fn)
                        rel = os.path.relpath(full, self.root)
                        commit_dir = rel.split(os.sep)[1]
                        # only versions ≤ current are expire candidates
                        try:
                            cv = int(commit_dir.lstrip("cvd"))
                        except ValueError:
                            continue
                        if cv <= current and rel not in reachable:
                            os.unlink(full)
                            files_removed += 1
                    try:
                        os.rmdir(dirpath)  # remove now-empty dirs
                    except OSError:
                        pass
            snaps_removed = 0
            for v in self.versions():
                if v <= current and v not in keep:
                    os.unlink(os.path.join(self.meta_dir, f"v{v}.json"))
                    snaps_removed += 1
            return {"snapshots_removed": snaps_removed, "files_removed": files_removed}


def _parse_type(ddl: str) -> T.DataType:
    """Parse a DDL type string ('string', 'array<int>', ...) to a DataType."""
    return T._parse_datatype_string(ddl)  # public-enough helper in pyspark
