"""Bucket-pruned copy-on-write MERGE INTO for :class:`LakeTable`.

Semantics — the Iceberg ``MERGE INTO`` the north rule names, built from
scratch on DataFrame ops, with per-row LWW versioning:

    MERGE INTO target t USING net s ON t.<key> = s.<key>
    WHEN MATCHED AND s.seq > t._seq AND s.op  = 'D' THEN DELETE
    WHEN MATCHED AND s.seq > t._seq AND s.op != 'D' THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op != 'D' THEN INSERT *

``net`` must be *net changes*: at most one row per key (the output of
:func:`binlake_spark.operators.compaction.compact_lww`).  Compacting before
the merge is the analog of the reference's packet batching
(ProtobufConverter.formatByRows, ProtobufConverter.java:549-729): MERGE
sees ≤ |keys| rows regardless of how many raw events the batch carried,
which bounds copy-on-write amplification at 10^10-event scale.

Exactly-once / duplicate handling is layered:

1. **Epoch guard** — a foreachBatch epoch replayed after a crash is
   detected via the ``epochs`` map committed in the same snapshot as the
   data, and skipped.
2. **Per-row LWW (`_seq`)** — every row stores the seq of the event that
   wrote it; an incoming winner applies only if its seq is strictly
   newer.  Re-merging any already-applied change is therefore a no-op
   even if the epoch guard is bypassed, and a stale retransmit can never
   clobber newer state.  (Reference parity: consumers dedup by GTID
   compare after an at-least-once failover, doc/binlake-arc.md:27 — we
   move that compare into the sink, making it exactly-once.)
3. **Optional per-bucket seq fence** (``enforce_watermark=True``) — drops
   whole retransmitted prefixes before the join.  Only valid when the
   source guarantees bucket-monotone seqs across epochs (true for a
   binlog replayed in commit order); off by default because a fresh
   out-of-order event with a seq below another doc's watermark would be
   wrongly fenced.

Tombstone contract: an applied delete WRITES a ``_tombstone=true`` row
(key + ``_seq``, data columns NULL) rather than merely dropping the row
— the row's version must keep existing so layer 2's LWW compare stays
TOTAL.  Suffix replays alone are not the only reordering in practice:
Spark's file source orders new files by modification time, ties resolve
by listing order, and after a resume the engine can legitimately
receive epoch k+1's batch before epoch k's; a vanished delete would let
epoch k's stale upsert resurrect the doc (observed ~1/16 demo runs
before this contract).  Tombstones are invisible to every user-facing
read and are reclaimed by :func:`purge_tombstones` once the operator
can bound the redelivery horizon (Iceberg equality-delete retention /
Kafka ``delete.retention.ms`` analog).

Physical execution — ONE Spark job per merge plus metadata-only work,
the shape that survives 100×:

- job A: ``dirty buckets`` = distinct bucket ids of the (persisted,
  compacted) net side — tiny.
- job B: the rewrite.  Survivors and stale-key filtering are joins of the
  dirty-bucket scan against the net side; AQE picks broadcast vs
  sort-merge by actual size (no forced broadcast: net is a whole epoch's
  key set and may be large at scale).  Epoch-level op counts ride on a
  ``Observation`` attached to the applied branch — measured during the
  write, zero extra passes.
- per-bucket offsets (row counts + max ``_seq``) come from the parquet
  footers of the files just written — driver-side metadata reads, the
  same trick as Iceberg's manifest column stats.  No stats job.

Every writer here — both merges, compaction, tombstone purge, rebucket
and bootstrap — is one stage → commit inside :meth:`LakeTable._commit`:
read the snapshot under the table's writer lock, stage bucket files into
``data/<kind><next version>`` (:func:`_stage`), update the snapshot and
publish.  Concurrent writers on one table (several stream ids, or
maintenance during ingest) therefore run one after another, each on the
snapshot its predecessor committed.
"""

from __future__ import annotations

import glob
import os
import time
from collections.abc import Iterable
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlake_spark.lake.table import DATA_DIR, LakeTable, _bucket_expr


@dataclass
class MergeResult:
    applied: bool
    epoch_id: int
    version: int | None = None
    n_net: int = 0
    n_dirty_buckets: int = 0
    wall_ms: int = 0
    skipped_reason: str | None = None
    partitions: list[dict] = field(default_factory=list)


def _footer_stats(path: str, seq_field: str = "_seq") -> tuple[int, int]:
    """(num_rows, max _seq) from parquet footer metadata — no data read."""
    md = pq.read_metadata(path)
    idx = md.schema.to_arrow_schema().get_field_index(seq_field)
    mx = -1
    for rg in range(md.num_row_groups):
        col = md.row_group(rg).column(idx)
        if col.statistics is not None and col.statistics.has_min_max:
            mx = max(mx, int(col.statistics.max))
    return md.num_rows, mx


def _stage(
    table: LakeTable, df: DataFrame, kind: str, version: int, buckets: Iterable[int]
) -> tuple[dict[int, tuple[list[str], int, int]], dict[str, int]]:
    """Write ``df`` (carrying ``_b``) bucket-partitioned under
    ``data/<kind><version>`` and read back, for each of ``buckets``, its
    root-relative files, row count and max ``_seq`` from the parquet
    footers (``([], 0, -1)`` when the write left it empty).  Runs inside
    :meth:`LakeTable._commit`, so the directory is this writer's alone.
    Returns ``(staged, {"write_ms", "footer_ms"})``."""
    out_dir = os.path.join(table.root, DATA_DIR, f"{kind}{version}")
    tw = time.monotonic()
    df.write.mode("overwrite").partitionBy("_b").parquet(out_dir)
    tf = time.monotonic()
    staged = {}
    for b in buckets:
        paths = sorted(glob.glob(os.path.join(out_dir, f"_b={b}", "*.parquet")))
        stats = [_footer_stats(p) for p in paths]
        staged[int(b)] = (
            [os.path.relpath(p, table.root) for p in paths],
            sum(n for n, _ in stats),
            max((mx for _, mx in stats), default=-1),
        )
    footer_ms = int((time.monotonic() - tf) * 1000)
    return staged, {"write_ms": int((tf - tw) * 1000), "footer_ms": footer_ms}


def _put_files(snap: dict, fmap: str, updates: dict[int, list[str]]) -> None:
    """Set bucket file lists in ``snap[fmap]`` (``files`` or ``deltas``);
    an empty list drops the bucket."""
    files = {int(b): fl for b, fl in snap.get(fmap, {}).items()}
    for b, fl in updates.items():
        if fl:
            files[b] = fl
        else:
            files.pop(b, None)
    snap[fmap] = {str(b): fl for b, fl in sorted(files.items())}


def _op_counts(op_col: str) -> list:
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col(op_col) != "D").cast("long")).alias("n_upserts"),
        F.sum((F.col(op_col) == "D").cast("long")).alias("n_deletes"),
    ]


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    net: DataFrame,
    *,
    epoch_id: int = 0,
    stream_id: str = "default",
    seq_col: str = "seq",
    op_col: str = "op",
    enforce_watermark: bool = False,
    dirty: list[int] | None = None,
    bucket_max_seq: dict[int, int] | None = None,
    assume_persisted: bool = False,
    bucket_aligned: bool = False,
    num_buckets: int | None = None,
    extra_lineage: dict | None = None,
) -> MergeResult:
    """Apply one compacted change batch to the table, exactly once.

    ``dirty`` / ``bucket_max_seq`` / ``assume_persisted``: the engine
    precomputes the dirty bucket list and each bucket's own max incoming
    seq in the same metadata job that detects schema evolution, and hands
    over an already-persisted ``net`` (with ``_bucket`` attached), so the
    merge adds no extra pass of its own; when absent they are computed
    here in one small aggregation over ``net``.  ``num_buckets`` is the
    bucket count those hints (and ``bucket_aligned``) were computed with;
    the merge trusts them only if the table still has that count once it
    holds the writer lock — otherwise (a rebucket committed in between, or
    no count given) ``_bucket`` and the hints are re-derived here.  The
    watermark fence advances each bucket by *its own* max — never the
    epoch-global max, which would wrongly fence fresh events from sources
    that are only per-bucket monotone.  ``extra_lineage`` fields (e.g.
    per-phase stage delays, the PerformanceUtils analog) are embedded in
    the committed lineage entry.
    """
    return _merge(
        spark, table, net, mor=False, epoch_id=epoch_id, stream_id=stream_id,
        seq_col=seq_col, op_col=op_col, enforce_watermark=enforce_watermark,
        dirty=dirty, bucket_max_seq=bucket_max_seq,
        assume_persisted=assume_persisted, bucket_aligned=bucket_aligned,
        num_buckets=num_buckets, extra_lineage=extra_lineage,
    )


def merge_into_mor(
    spark: SparkSession,
    table: LakeTable,
    net: DataFrame,
    *,
    epoch_id: int = 0,
    stream_id: str = "default",
    seq_col: str = "seq",
    op_col: str = "op",
    dirty: list[int] | None = None,
    bucket_max_seq: dict[int, int] | None = None,
    assume_persisted: bool = False,
    bucket_aligned: bool = False,
    num_buckets: int | None = None,
    extra_lineage: dict | None = None,
) -> MergeResult:
    """Merge-on-read apply: append the compacted net changes (upserts AND
    delete tombstones) as per-bucket **delta files**; LWW resolution moves
    to read time (LakeTable.read) and to :func:`compact_buckets`.

    This is the scale path for the regime our COW bench exposed: when an
    epoch's keys touch every bucket (uniform key distribution — the common
    case for doc_id ingest), copy-on-write rewrites the *whole table* per
    epoch, so write cost grows with table size, not batch size.  MOR
    writes exactly |winners| rows per epoch regardless of table size, at
    the price of an LWW aggregation on read until compaction folds the
    deltas down (Iceberg v2 positional/equality deletes play the same
    trade).  Exactly-once layering is unchanged: epoch guard + per-row
    ``_seq`` (stale retransmitted deltas lose the read-time max_by; a
    replayed epoch is skipped outright).  The bucketing hints behave as
    in :func:`merge_into`.
    """
    return _merge(
        spark, table, net, mor=True, epoch_id=epoch_id, stream_id=stream_id,
        seq_col=seq_col, op_col=op_col, enforce_watermark=False,
        dirty=dirty, bucket_max_seq=bucket_max_seq,
        assume_persisted=assume_persisted, bucket_aligned=bucket_aligned,
        num_buckets=num_buckets, extra_lineage=extra_lineage,
    )


def _merge(
    spark: SparkSession,
    table: LakeTable,
    net: DataFrame,
    *,
    mor: bool,
    epoch_id: int,
    stream_id: str,
    seq_col: str,
    op_col: str,
    enforce_watermark: bool,
    dirty: list[int] | None,
    bucket_max_seq: dict[int, int] | None,
    assume_persisted: bool,
    bucket_aligned: bool,
    num_buckets: int | None,
    extra_lineage: dict | None,
) -> MergeResult:
    """The body both merge modes share; they differ only in the rows they
    stage (:func:`_cow_rows` / :func:`_mor_rows`) and in the file map the
    staged files land in (``files`` replaced / ``deltas`` appended)."""
    t0 = time.monotonic()
    with table._commit() as (snap, version):
        # -- 1. epoch idempotence guard --------------------------------- #
        if epoch_id <= int(snap["epochs"].get(stream_id, -1)):
            return MergeResult(
                applied=False, epoch_id=epoch_id, skipped_reason="epoch-already-applied"
            )
        if num_buckets != snap["num_buckets"] or "_bucket" not in net.columns:
            # the caller's bucketing is absent, or predates a rebucket that
            # committed while this writer waited for the lock: re-derive
            # ``_bucket`` and the hints that depend on it
            net = net.withColumn(
                "_bucket", _bucket_expr(snap["key_col"], snap["num_buckets"])
            )
            dirty = bucket_max_seq = None
            bucket_aligned = False

        # -- 2. optional retransmit fence (bucket-monotone sources only) - #
        if enforce_watermark and snap["watermarks"]:
            wm = table.watermarks_df(spark)
            net = (
                net.join(F.broadcast(wm), "_bucket", "left")
                .filter(F.col(seq_col) > F.coalesce(F.col("_wm"), F.lit(-1)))
                .drop("_wm")
            )
            dirty = bucket_max_seq = None  # fence may empty buckets; recompute

        own_persist = not assume_persisted
        if own_persist:
            net = net.persist()
        try:
            # job A: which buckets does this epoch touch, and each bucket's
            # own incoming max seq? (skipped when the caller already knows
            # from its metadata job)
            if dirty is None or bucket_max_seq is None:
                rows = (
                    net.groupBy("_bucket")
                    .agg(F.max(F.col(seq_col)).alias("_mx"))
                    .collect()
                )
                if dirty is None:
                    dirty = [r["_bucket"] for r in rows]
                bucket_max_seq = {
                    int(r["_bucket"]): int(r["_mx"])
                    for r in rows
                    if r["_mx"] is not None
                }
            dirty = sorted(int(b) for b in dirty)
            snap["epochs"][stream_id] = epoch_id
            entry = {
                "kind": "merge",
                **({"mode": "mor"} if mor else {}),
                "stream_id": stream_id,
                "epoch_id": epoch_id,
                "version": version,
            }
            if not dirty:
                # nothing to apply: still commit the epoch marker so a
                # replay of this epoch stays a no-op.
                snap["lineage"].append(
                    {
                        **entry,
                        "wall_ms": int((time.monotonic() - t0) * 1000),
                        "n_events": 0,
                        "n_upserts": 0,
                        "n_deletes": 0,
                        "partitions": [],
                        **(extra_lineage or {}),
                    }
                )
                return MergeResult(
                    applied=True,
                    epoch_id=epoch_id,
                    version=version,
                    skipped_reason="empty-batch",
                )

            # -- 3. one job writes the dirty buckets' rows; the epoch's op
            #    counts ride on an Observation of the applied branch ------ #
            obs = Observation(f"{'mor' if mor else 'merge'}-{stream_id}-{epoch_id}")
            if mor:
                applied, rows = _mor_rows(net, snap, seq_col, op_col, obs)
            else:
                applied, rows = _cow_rows(
                    spark, table, net, snap, dirty, seq_col, op_col, obs
                )
            # bucket_aligned: the net side arrives clustered by bucket (the
            # compaction's repartition) and COW survivors stream straight
            # from bucket files through a broadcast-probe join, so the
            # write needs NO exchange — the existing table is never
            # shuffled, at any number of dirty buckets.  Unaligned callers
            # (raw merges of arbitrary nets) pay one clustering shuffle to
            # avoid a file per (task, bucket).
            if not bucket_aligned:
                rows = rows.repartition(max(1, len(dirty)), "_b")
            staged, phase_ms = _stage(
                table, rows, "d" if mor else "c", version, dirty
            )
            try:
                counts = obs.get
            except Exception:
                # a write whose plan is empty (e.g. a delete-only batch
                # that removes a bucket's last rows) can elide the observe
                # node — recompute the counters over the persisted net
                counts = applied.agg(*_op_counts(op_col)).collect()[0].asDict()
            counts = {
                k: int(counts[k] or 0) for k in ("n_events", "n_upserts", "n_deletes")
            }

            # -- 4. file map, offsets and fences from the staged footers -- #
            fmap = "deltas" if mor else "files"
            prior = snap.get(fmap, {}) if mor else {}
            _put_files(
                snap, fmap, {b: prior.get(str(b), []) + staged[b][0] for b in dirty}
            )
            partitions = []
            watermarks = {int(b): int(w) for b, w in snap["watermarks"].items()}
            for b in dirty:
                _, n_rows, max_seq = staged[b]
                partitions.append({"bucket": b, "n_rows": n_rows, "max_seq": max_seq})
                # the footer max covers the rows written; a COW delete can
                # remove a bucket's max row, so each bucket's fence also
                # advances by its own incoming max (per-bucket, so
                # per-bucket-monotone sources are never wrongly fenced by
                # another bucket's seqs)
                watermarks[b] = max(
                    watermarks.get(b, -1), max_seq, bucket_max_seq.get(b, -1)
                )
            snap["watermarks"] = {str(b): w for b, w in sorted(watermarks.items())}

            wall_ms = int((time.monotonic() - t0) * 1000)
            # finer stage delays (PerformanceUtils analog): the write job is
            # the parallel part; footer stats + the snapshot commit are the
            # DRIVER-SERIAL tail that bounds strong scaling at small epochs.
            # (The commit can't time itself into the entry it writes —
            # profilers take it as wall − materialize − evolve − write −
            # footer.)
            extra = extra_lineage or {}
            snap["lineage"].append(
                {
                    **entry,
                    "wall_ms": wall_ms,
                    **counts,
                    "partitions": partitions,
                    **extra,
                    "phase_ms": {**(extra.get("phase_ms") or {}), **phase_ms},
                }
            )
            return MergeResult(
                applied=True,
                epoch_id=epoch_id,
                version=version,
                n_net=counts["n_events"],
                n_dirty_buckets=len(dirty),
                wall_ms=wall_ms,
                partitions=partitions,
            )
        finally:
            if own_persist:
                net.unpersist()


def _cow_rows(spark, table, net, snap, dirty, seq_col, op_col, obs):
    """Copy-on-write: every dirty bucket rewritten whole — its stored rows
    that win LWW plus the incoming winners.  Returns ``(applied, rows)``,
    ``applied`` being the observed incoming winners.

    Tombstones ride along: ``current`` includes prior delete tombstones
    (they fence stale upserts exactly like live rows — without them a
    delete leaves NOTHING to out-sequence an older upsert delivered later,
    e.g. when two source files with colliding mtimes list in either order
    after a resume, and the doc silently resurrects), and an applied
    delete is WRITTEN as a ``_tombstone=true`` row instead of vanishing.
    User-facing reads filter them; :func:`purge_tombstones` reclaims them
    once the source can no longer deliver older seqs."""
    key = snap["key_col"]
    schema = T.StructType.fromJson(snap["schema"])
    current = table.read(spark, buckets=dirty, with_seq=True, with_tombstones=True)
    cur_seq = F.coalesce(F.col("_seq"), F.lit(-1))
    net_small = net.select(key, F.col(seq_col).alias("_in_seq"))

    # existing rows that survive: no incoming row, or incoming is
    # stale/equal (LWW keeps the newer version)
    survivors = (
        current.join(net_small, key, "left")
        .filter(F.col("_in_seq").isNull() | (F.col("_in_seq") <= cur_seq))
        .drop("_in_seq")
    )
    # incoming winners beaten by the existing row
    stale_keys = (
        current.select(key, "_seq")
        .join(net_small, key, "inner")
        .filter(cur_seq >= F.col("_in_seq"))
        .select(key)
    )
    applied = net.join(stale_keys, key, "left_anti").observe(obs, *_op_counts(op_col))
    is_del = F.col(op_col) == "D"

    def _aligned_col(f):
        src = F.col(f.name) if f.name in applied.columns else F.lit(None)
        if f.name != key:
            # data columns: NULL on tombstones (the key + _seq are the
            # whole fence; carrying a deleted doc's payload would bloat
            # the bucket for nothing)
            src = F.when(is_del, F.lit(None)).otherwise(src)
        return src.cast(f.dataType).alias(f.name)

    aligned = applied.select(
        *[_aligned_col(f) for f in schema.fields],
        F.col(seq_col).cast("long").alias("_seq"),
        is_del.alias("_tombstone"),
    )
    rows = survivors.unionByName(aligned).withColumn(
        "_b", _bucket_expr(key, snap["num_buckets"])
    )
    return applied, rows


def _mor_rows(net, snap, seq_col, op_col, obs):
    """Merge-on-read: the incoming winners alone, deletes as ``_op='D'``
    delta rows.  Returns ``(applied, rows)`` like :func:`_cow_rows`."""
    applied = net.observe(obs, *_op_counts(op_col))
    rows = applied.select(
        *_aligned(applied, T.StructType.fromJson(snap["schema"])),
        F.col(seq_col).cast("long").alias("_seq"),
        F.when(F.col(op_col) == "D", "D").otherwise("U").alias("_op"),
        F.col("_bucket").alias("_b"),
    )
    return applied, rows


def _aligned(df: DataFrame, schema: T.StructType) -> list:
    """``df``'s columns cast to the table schema, NULL where ``df`` lacks one."""
    return [
        (F.col(f.name) if f.name in df.columns else F.lit(None))
        .cast(f.dataType)
        .alias(f.name)
        for f in schema.fields
    ]


def compact_buckets(
    spark: SparkSession,
    table: LakeTable,
    min_deltas: int = 1,
    tombstone_horizon: int | None = None,
) -> dict:
    """Fold merge-on-read deltas into the base (the maintenance half of
    MOR — Iceberg's ``rewrite_data_files`` analog): buckets carrying at
    least ``min_deltas`` delta files are LWW-resolved (base ∪ deltas,
    max ``_seq`` per key, delete winners RETAINED as base ``_tombstone``
    rows — dropping them would let a reordered stale upsert resurrect
    the doc one compaction later) and rewritten; their delta list
    empties in the same atomic snapshot.  Amortized cost equals what COW
    would have paid spread over the delta window.

    ``tombstone_horizon``: fuse the retention pass into this rewrite —
    tombstones with ``_seq <= horizon`` are dropped from the compacted
    output, so a maintenance cycle pays ONE rewrite per delta bucket
    instead of compact-then-purge rewriting the same buckets twice.
    Buckets without deltas are untouched here; sweep those with
    :func:`purge_tombstones` (already-compacted buckets no longer carry
    dead tombstones and are skipped by its discovery scan).
    """
    with table._commit() as (snap, version):
        todo = sorted(
            int(b) for b, fl in snap.get("deltas", {}).items() if len(fl) >= min_deltas
        )
        if not todo:
            return {"compacted_buckets": 0, "version": snap["version"]}
        # delete winners fold into the base AS TOMBSTONES — dropping them
        # here would let a stale upsert from a reordered/replayed batch
        # resurrect the doc right after compaction (reads filter them;
        # the explicit horizon below / purge_tombstones reclaims them)
        resolved = table.read(
            spark, buckets=todo, with_seq=True, with_tombstones=True
        ).withColumn("_b", _bucket_expr(snap["key_col"], snap["num_buckets"]))
        if tombstone_horizon is not None:
            resolved = resolved.filter(
                ~(F.col("_tombstone") & (F.col("_seq") <= int(tombstone_horizon)))
            )
        staged, _ = _stage(
            table, resolved.repartition(max(1, len(todo)), "_b"), "c", version, todo
        )
        # a bucket the horizon left empty drops out of the base
        _put_files(snap, "files", {b: staged[b][0] for b in todo})
        _put_files(snap, "deltas", dict.fromkeys(todo, []))
        snap["lineage"].append({"kind": "compact", "version": version, "buckets": todo})
    return {"compacted_buckets": len(todo), "version": version}


def purge_tombstones(
    spark: SparkSession,
    table: LakeTable,
    horizon_seq: int,
) -> dict:
    """Reclaim delete tombstones with ``_seq <= horizon_seq`` (the
    retention half of tombstone-backed deletes — Kafka compaction's
    ``delete.retention.ms`` / Iceberg's delete-file expiry analog).

    A tombstone exists to out-sequence a STALE upsert that might still
    arrive (reordered spool files, a replayed prefix, a retransmitting
    source).  Once the operator can bound that horizon — e.g. the
    source's committed low watermark, or "no replay reaches below seq X
    after a checkpoint expiry" — tombstones at or below it are dead
    weight and are rewritten away here in one atomic snapshot.
    Choosing the horizon is deliberately the CALLER's judgment: the
    table cannot know what an external source may still deliver.

    MOR tables must fold their deltas first (:func:`compact_buckets`) —
    a purge can only reclaim what lives in BASE files, and reporting
    success while delta tombstones re-resolve on the next read would be
    a silent no-op for a retention/compliance caller, so outstanding
    deltas raise instead.

    Scale: one filter scan to find affected buckets, then a
    manifest-pruned rewrite of only those buckets.
    """
    with table._commit() as (snap, version):
        outstanding = sorted(
            int(b) for b, fl in (snap.get("deltas") or {}).items() if fl
        )
        if outstanding:
            raise ValueError(
                f"purge_tombstones: buckets {outstanding} have unfolded delta "
                f"files — run compact_buckets first (a purge only reclaims "
                f"BASE rows; delta tombstones would re-resolve on the next "
                f"read while this call reported success)"
            )
        bexpr = _bucket_expr(snap["key_col"], int(snap["num_buckets"]))
        dead = F.col("_tombstone") & (F.col("_seq") <= int(horizon_seq))
        todo = sorted(
            r["_b"]
            for r in table.read(spark, with_seq=True, with_tombstones=True)
            .filter(dead)
            .select(bexpr.alias("_b"))
            .distinct()
            .collect()
        )
        if not todo:
            return {"purged_buckets": 0, "version": int(snap["version"])}
        # manifest-pruned: only the affected buckets' files are scanned
        # for the rewrite (the discovery scan above is the one full pass)
        kept = (
            table.read(spark, buckets=todo, with_seq=True, with_tombstones=True)
            .filter(~dead)
            .withColumn("_b", bexpr)
            .repartition(max(1, len(todo)), "_b")
        )
        staged, _ = _stage(table, kept, "c", version, todo)
        # a bucket that held only purged tombstones drops out
        _put_files(snap, "files", {b: staged[b][0] for b in todo})
        snap["lineage"].append(
            {
                "kind": "purge_tombstones",
                "version": version,
                "buckets": todo,
                "horizon_seq": int(horizon_seq),
            }
        )
    return {"purged_buckets": len(todo), "version": version}


def rebucket(
    spark: SparkSession,
    table: LakeTable,
    new_num_buckets: int,
) -> dict:
    """Bucket-layout evolution (Iceberg partition-spec evolution analog;
    the reference's layout is frozen at ``hash & 1023``,
    IKeyGenerator.java:22 — a real deployment that outgrows its bucket
    count must redistribute): rewrite the live rows into
    ``new_num_buckets`` hash buckets in one atomic snapshot.

    At 10^10 rows this is the one full-table shuffle the engine ever
    performs, and it is *planned*, not incidental: one pass
    read → repartition(new_b) → bucket-partitioned write, no driver-side
    rows.  MOR deltas are LWW-folded in transit (the read resolves them),
    so the new layout starts delta-free.

    The per-bucket retransmit watermarks cannot be carried over exactly —
    a new bucket draws keys from many old buckets — so every new bucket
    gets the global **minimum** of the old fences: under-fencing only ever
    re-admits retransmits, which per-row ``_seq`` LWW absorbs, whereas
    carrying a too-high fence would silently drop fresh events.  Epoch
    guards (exactly-once) are unaffected.
    """
    new_b = int(new_num_buckets)
    with table._commit() as (snap, version):
        old_b = int(snap["num_buckets"])
        if new_b == old_b:
            return {"rebucketed": False, "version": int(snap["version"])}
        # tombstones migrate to their new buckets with everything else —
        # the per-key fence must survive the layout change
        moved = (
            table.read(spark, with_seq=True, with_tombstones=True)
            .withColumn("_b", _bucket_expr(snap["key_col"], new_b))
            .repartition(new_b, "_b")
        )
        staged, _ = _stage(table, moved, "c", version, range(new_b))
        old_wms = [int(w) for w in snap["watermarks"].values()]
        snap["num_buckets"] = new_b
        snap["files"], snap["deltas"] = {}, {}
        _put_files(snap, "files", {b: fl for b, (fl, _, _) in staged.items()})
        # EVERY new bucket is fenced, including ones the rewrite left empty
        # (a bucket can be empty because its only keys were deleted — a
        # retransmitted prefix must still not resurrect them; same rule as
        # bootstrap_snapshot)
        snap["watermarks"] = (
            {str(b): min(old_wms) for b in range(new_b)} if old_wms else {}
        )
        snap["lineage"].append(
            {
                "kind": "rebucket",
                "version": version,
                "from_buckets": old_b,
                "to_buckets": new_b,
            }
        )
    return {"rebucketed": True, "version": version, "num_buckets": new_b}


def bootstrap_snapshot(
    spark: SparkSession,
    table: LakeTable,
    snapshot_df: DataFrame,
    *,
    as_of_seq: int,
    seq_col: str | None = None,
    stream_id: str = "default",
) -> MergeResult:
    """Initial load: seed an empty table from a point-in-time snapshot of
    the upstream table, then hand off to incremental replay.

    This is the Debezium-style snapshot mode the reference's deployment
    assumes exists upstream (BinLake ships only *changes*; the base rows
    must already be in the sink — doc/binlake-arc.md describes dump from
    a checkpointed position, DirectLogFetcher.java:38-120 fetches the log
    over a JDBC connection from that position).  Spark-native shape: the
    snapshot arrives as any DataFrame (``spark.read.jdbc`` partitioned by
    key range in production; any source in tests), is hash-clustered by
    the table's key into its bucket layout in ONE shuffle, and written
    with no Python in the path.  Every bucket's watermark is fenced to
    ``as_of_seq`` — the snapshot is authoritative for all state at or
    below that position, so a subsequent replay from ``as_of_seq + 1``
    (or a full replay under the watermark fence) converges to exactly the
    state a from-scratch replay produces.

    ``seq_col``: optional per-row version column in the snapshot (kept as
    the row's ``_seq`` for LWW); otherwise every row gets ``as_of_seq``,
    which is equivalent for correctness because replayed events carry
    seqs strictly greater than the snapshot position.

    Scale posture: the one shuffle is sized to the snapshot (unavoidable
    for an initial load) and parallelized across ``num_buckets``; at
    100 TB you raise ``num_buckets`` at create time and the write fans
    out accordingly.  No collect, no per-row Python.
    """
    t0 = time.monotonic()

    def _require_empty(snap):
        if snap["files"] or snap.get("deltas") or snap["watermarks"]:
            raise ValueError(
                "bootstrap_snapshot requires an empty table — it seeds initial "
                "state, it does not merge (use apply_batch/merge_into for that)"
            )

    # snapshot-authoritative additive evolution: columns the snapshot
    # carries beyond the create-time schema are added (the reference's
    # add-column-only rule, TableMeta.duplicateAndAddColumn).  add_columns
    # commits on its own, so it runs before this writer takes the lock.
    snap = table.snapshot()
    _require_empty(snap)
    known = set(T.StructType.fromJson(snap["schema"]).fieldNames())
    extra = [
        (f.name, f.dataType.simpleString())
        for f in snapshot_df.schema.fields
        if f.name not in known and f.name != seq_col
    ]
    if extra:
        table.add_columns(extra)

    with table._commit() as (snap, version):
        _require_empty(snap)  # another writer may have filled it meanwhile
        num_buckets = snap["num_buckets"]
        seq_expr = F.col(seq_col) if seq_col else F.lit(int(as_of_seq))
        aligned = snapshot_df.select(
            *_aligned(snapshot_df, T.StructType.fromJson(snap["schema"])),
            seq_expr.cast("long").alias("_seq"),
        ).withColumn("_b", _bucket_expr(snap["key_col"], num_buckets))
        staged, _ = _stage(
            table,
            aligned.repartition(num_buckets, "_b"),
            "c",
            version,
            range(num_buckets),
        )
        _put_files(snap, "files", {b: fl for b, (fl, _, _) in staged.items()})
        partitions = [
            {"bucket": b, "n_rows": n_rows, "max_seq": int(as_of_seq)}
            for b, (fl, n_rows, _) in staged.items()
            if fl
        ]
        n_rows_total = sum(p["n_rows"] for p in partitions)
        # EVERY bucket is fenced at the snapshot position, including buckets
        # the snapshot happened to leave empty — state below as_of_seq is
        # fully represented, so replaying any event at or below it must no-op
        snap["watermarks"] = {str(b): int(as_of_seq) for b in range(num_buckets)}
        wall_ms = int((time.monotonic() - t0) * 1000)
        snap["lineage"].append(
            {
                "kind": "bootstrap",
                "stream_id": stream_id,
                "version": version,
                "as_of_seq": int(as_of_seq),
                "wall_ms": wall_ms,
                "n_rows": n_rows_total,
                "partitions": partitions,
            }
        )
    return MergeResult(
        applied=True,
        epoch_id=-1,
        version=version,
        n_net=n_rows_total,
        n_dirty_buckets=len(partitions),
        wall_ms=wall_ms,
        partitions=partitions,
    )
