"""CdcEngine — the end-to-end ingest pipeline.

One micro-batch (the rebuild of the reference's hot loop, SURVEY §3.2):

    readStream(change-log envelope)
      → Arrow decode + invariant validation        (operators.decode)
      → additive schema evolution (extra → column) (LakeTable.add_columns)
      → per-key LWW net-change compaction          (operators.compaction)
      → bucket-pruned COW MERGE + lineage commit   (lake.merge)

Exactly-once: Structured Streaming's checkpoint gives at-least-once
delivery of each epoch to ``foreachBatch``; the LakeTable commit makes the
apply idempotent (epoch guard + seq watermark fence), so a killed and
resumed job replays to the identical final table — the upgrade over the
reference's at-least-once contract (doc/binlake-arc.md:27).

Schema evolution: a Structured Streaming source schema is fixed for the
life of the query, so new columns ride the ``extra`` map in the envelope
(SURVEY §7 hard-point 2) and are promoted to real table columns inside
``foreachBatch``, where batch DataFrames have no such restriction.  This
mirrors the reference's additive-only rule (BinlogWorker.java:1079).

Scale posture: the only shuffle per epoch is the compaction's groupBy on
``doc_id`` (explicit hash partitioning on the business key — the
BUSINESS_KEY_ORDER grade, IKeyGenerator.java:48-76); with ``salt`` set the
hot-key case becomes two shuffles of strictly decreasing size.  The MERGE
reads only dirty buckets and broadcasts the net-change key set, so the
existing table is never shuffled.  Backpressure = ``maxFilesPerTrigger``
(the token-throttle analog, BinlogWorker.java:214-218).
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlake_spark.changelog.generator import CHANGE_LOG_SCHEMA
from binlake_spark.lake.merge import (
    MergeResult,
    _footer_stats,
    bootstrap_snapshot,
    compact_buckets,
    merge_into,
    merge_into_mor,
    purge_tombstones,
)
from binlake_spark.lake.table import LakeTable, _bucket_expr
from binlake_spark.operators.compaction import compact_lww, compact_lww_bucketed
from binlake_spark.operators.decode import (
    decode_and_validate,
    decode_and_validate_batch,
    decoded_schema,
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


class ResumeAheadOfLog(RuntimeError):
    """The table/checkpoint has applied positions beyond the source log."""


def _source_footer_stats(source_dir: str) -> tuple[int, int] | None:
    """(n_events, max_seq) of a change-log dir from parquet footers —
    driver-side metadata only, no Spark job.  None when unreadable."""
    paths = glob.glob(os.path.join(source_dir, "**", "*.parquet"), recursive=True)
    try:
        stats = [_footer_stats(p, "seq") for p in paths]
    except Exception:
        return None
    if not stats:
        return None
    return sum(n for n, _ in stats), max(mx for _, mx in stats)


class CdcEngine:
    def __init__(
        self,
        table: LakeTable,
        stream_id: str = "cdc",
        salt: int | None = None,
        decode_payload: bool = True,
        promote_extra: bool = True,
        apply_ddl: bool = True,
        audit_before_images: bool = False,
        decode_partitions: int | None = None,
        expire_every: int | None = 16,
        expire_keep_last: int = 4,
        mode: str = "cow",
        mor_compact_every: int = 8,
        broadcast_winners: bool | None = None,
        broadcast_winner_limit: int = 4_000_000,
        alarms=None,
    ):
        """``salt``: two-stage compaction for pathological key skew.  Note
        that ordinary hot keys are already absorbed by ``max_by``'s
        map-side partial aggregation (each map task pre-combines a hot key
        to one row before the shuffle), so the default is off; the salt
        path is for adversarial skew where single keys dominate whole scan
        partitions *and* the combine itself is the bottleneck.

        ``decode_partitions``: optional coalesce of the Arrow decode stage.
        By default decode runs at the compaction's shuffle parallelism
        (every core busy); set this lower only when winners per epoch are
        tiny and the fixed Python-worker/Arrow handshake (~50-100 ms/task)
        dominates.

        ``expire_every`` / ``expire_keep_last``: run
        :meth:`LakeTable.expire_snapshots` after every Nth committed table
        version, keeping the last K snapshots for time travel and
        concurrent readers (None disables — snapshots then accumulate a
        dead copy of every dirty bucket per epoch).

        ``broadcast_winners``: tri-state control of the compaction's winner
        join-back.  ``True`` pins a broadcast (safe when micro-batches are
        backpressure-bounded), ``False`` forces the shuffle plan where
        Spark's runtime bloom filter prunes the probe scan (session.py
        enables it), ``None`` (default) decides per batch from the
        ``n_events_hint`` upper bound on winners: a hint ≤
        ``broadcast_winner_limit`` broadcasts; a larger (or unknown-size,
        passed as an over-limit sentinel by ``run_batch_replay``) hint
        takes the bloom path; NO hint means a backpressure-bounded
        streaming micro-batch, which broadcasts.  Unbounded replays of
        10^7+ distinct keys would otherwise OOM the driver broadcasting
        the winner key-set.

        ``mode``: ``"cow"`` (default, the north-rule contract) rewrites
        dirty buckets each epoch — read-optimal, write cost grows with
        table size when keys are uniform.  ``"mor"`` appends per-bucket
        delta files (write cost = |winners|, independent of table size)
        with LWW at read; deltas fold down via
        :func:`binlake_spark.lake.merge.compact_buckets` every
        ``mor_compact_every`` epochs.  Final state is identical
        (property of per-row ``_seq`` LWW); pick by epoch-dirtiness.
        """
        self.table = table
        self.stream_id = stream_id
        self.salt = salt
        self.decode_payload = decode_payload
        self.promote_extra = promote_extra
        self.apply_ddl = apply_ddl
        self.audit_before_images = audit_before_images
        self.decode_partitions = decode_partitions
        self.expire_every = expire_every
        self.expire_keep_last = expire_keep_last
        if mode not in ("cow", "mor"):
            raise ValueError("mode must be 'cow' or 'mor'")
        self.mode = mode
        self.mor_compact_every = mor_compact_every
        self.broadcast_winners = broadcast_winners
        self.broadcast_winner_limit = broadcast_winner_limit
        # optional AlarmManager (streaming/alarms.py — AlarmUtils analog):
        # observes every MergeResult and resume retry, never the data path
        self.alarms = alarms

    # ------------------------------------------------------------------ #
    @classmethod
    def create_table(
        cls, root: str, num_buckets: int = 16, schema: T.StructType = DOCS_SCHEMA
    ) -> LakeTable:
        return LakeTable.create(root, schema, key_col="doc_id", num_buckets=num_buckets)

    # ------------------------------------------------------------------ #
    def apply_batch(
        self,
        batch_df: DataFrame,
        epoch_id: int,
        n_events_hint: int | None = None,
    ) -> MergeResult:
        """Apply one change-log micro-batch to the table, exactly once.

        Operator order is chosen for scale: validation is a JVM predicate
        (`octet_length(payload) == 4*n_tok` — codegen, pushed at the scan),
        compaction runs on the *raw* payload bytes, and the Arrow decode
        pass only ever sees the |distinct keys| winning rows — per-row
        Python work is proportional to keys, not events.  At 10^10 events
        with ~10^7 live keys that is a 1000× cut of the Python boundary.

        Job structure per epoch (exactly two passes over the winners):

        1. **materialize** — scan → validate → compact → decode, persisted;
           one metadata aggregation over the cached winners yields the
           dirty-bucket list *and* the set of new ``extra`` keys together
           (driver sees ≤ num_buckets × keys rows).
        2. **merge** — survivors ∪ winners written bucket-partitioned, all
           inputs read from the cache; offsets from parquet footers.

        Per-phase wall times are committed into the lineage entry
        (``phase_ms``) — the stage-delay monitor analog
        (PerformanceUtils.java:13-45).
        """
        spark = batch_df.sparkSession
        df = batch_df
        has_payload = self.decode_payload and "payload" in df.columns

        # 0. opt-in before-image audit (RowsLogEvent (before, after) pairs,
        #     entry.proto RowData :75-117): every U event's before image
        #     must match its chain predecessor (in-batch event or current
        #     table row).  A divergence is surfaced as an error, never
        #     silently applied.  Costs one extra keyed pass — audit mode.
        if (
            self.audit_before_images
            and "before_payload" in df.columns
            and "payload" in df.columns  # audit compares payload chains
        ):
            from binlake_spark.operators.audit import (
                BeforeImageMismatch,
                find_before_image_violations,
            )

            state = self.table.read(spark, with_seq=True)
            viols = (
                find_before_image_violations(df, current_state=state)
                .limit(20)
                .collect()
            )
            if viols:
                sample = [(r["doc_id"], int(r["seq"]), r["kind"]) for r in viols]
                raise BeforeImageMismatch(
                    f"epoch {epoch_id}: {len(viols)}+ before-image "
                    f"mismatches (first: {sample[:5]})"
                )

        # 1. column pruning + vectorized validation (the event-type filter
        #    + token-invariant check, all whole-stage-codegen JVM)
        keep = ["doc_id", "seq", "op", "n_tok", "source"]
        if has_payload:
            keep.append("payload")
        elif "tokens" in df.columns:
            keep.append("tokens")
        if "extra" in df.columns:
            keep.append("extra")
        df = df.select(*[c for c in keep if c in df.columns])
        # statement-event detection rides the materialize job for free: an
        # Observation on the pre-filter node counts op='Q' rows while the
        # scan runs anyway — the common no-DDL epoch pays ZERO extra jobs;
        # only when the count is nonzero does the (rare) targeted collect
        # + ALTER application run (see step 3b below).
        ddl_obs = None
        if self.apply_ddl and "op" in df.columns and "extra" in df.columns:
            from pyspark.sql import Observation

            ddl_obs = Observation(f"ddl-{self.stream_id}-{epoch_id}")
            df = df.observe(
                ddl_obs, F.sum((F.col("op") == "Q").cast("long")).alias("n_q")
            )
        df = df.filter(F.col("op").isin("I", "U", "D"))
        if has_payload:
            df = df.filter(F.octet_length("payload") == F.col("n_tok") * 4)
        elif "tokens" in df.columns:
            df = df.filter(F.size("tokens") == F.col("n_tok"))

        # 2. net-change compaction FIRST: one winner per doc_id (LWW by
        #    seq).  Default path (`compact_lww_bucketed`): winner keys only
        #    through the aggregation, payloads fetched by join-back, and
        #    the winners land repartitioned by their storage bucket — the
        #    ONE wide shuffle of the epoch; the write then needs no
        #    exchange at all.  The salted two-stage agg remains available
        #    for adversarial skew (see __init__).
        # broadcast-vs-bloom winner join-back (see __init__): the hint is
        # an upper bound on winners, so "hint known and small" is the only
        # case where pinning the broadcast is provably safe for unbounded
        # batches; streaming callers (no hint) are backpressure-bounded.
        bw = (
            self.broadcast_winners
            if self.broadcast_winners is not None
            else n_events_hint is None
            or n_events_hint <= self.broadcast_winner_limit
        )

        # one snapshot read fixes the bucket count this epoch's winners are
        # bucketed with; the merge re-derives the bucketing if a rebucket
        # commits before it takes the writer lock
        layout = self.table.snapshot()
        num_buckets = int(layout["num_buckets"])
        bucket_expr = _bucket_expr(layout["key_col"], num_buckets)
        bucket_aligned = False
        if self.salt:
            net = compact_lww(
                df, key="doc_id", seq_col="seq", salt=self.salt, strategy="agg"
            )
            if has_payload:
                if self.decode_partitions:
                    net = net.coalesce(self.decode_partitions)
                net = decode_and_validate(net)
        else:
            # payload decode fused into the dedup's Arrow pass: winners
            # cross the JVM↔Python boundary exactly once per epoch
            batch_fn = out_schema = None
            if has_payload:
                bucketed_schema = T.StructType(
                    list(df.schema.fields)
                    + [T.StructField("_bucket", T.IntegerType(), True)]
                )
                out_schema = decoded_schema(bucketed_schema)
                batch_fn = decode_and_validate_batch
            net = compact_lww_bucketed(
                df,
                key="doc_id",
                seq_col="seq",
                bucket_col_expr=bucket_expr,
                num_partitions=num_buckets,
                broadcast_winners=bw,
                batch_fn=batch_fn,
                out_schema=out_schema,
            )
            bucket_aligned = True

        # attach the target bucket (bucketed compaction already carries it)
        # so one metadata job covers dirty buckets + schema evolution
        if "_bucket" not in net.columns:
            net = net.withColumn("_bucket", bucket_expr)

        phases: dict[str, int] = {}
        t0 = time.monotonic()
        cached = net = net.persist()
        try:
            # one metadata aggregation over the cached winners yields the
            # dirty-bucket list, each bucket's own max applied seq (the
            # per-bucket retransmit fence — NOT the epoch-global max, which
            # would wrongly fence per-bucket-monotone sources), and the set
            # of new ``extra`` keys.  collect_set over the key-arrays stays
            # tiny: distinct key-combinations, not rows.
            has_extra = self.promote_extra and "extra" in net.columns
            aggs = [F.max("seq").alias("_mx")]
            if has_extra:
                aggs.append(
                    F.array_distinct(
                        F.flatten(F.collect_set(F.map_keys("extra")))
                    ).alias("_ks")
                )
            meta = net.groupBy("_bucket").agg(*aggs).collect()
            dirty = sorted(int(r["_bucket"]) for r in meta)
            bucket_max = {
                int(r["_bucket"]): int(r["_mx"])
                for r in meta
                if r["_mx"] is not None
            }
            keys = (
                sorted({k for r in meta for k in (r["_ks"] or [])})
                if has_extra
                else []
            )
            phases["materialize_ms"] = int((time.monotonic() - t0) * 1000)

            # 3b. statement events (QUERY_EVENT analog): the materialize
            #     job fired the observation; when DDL rows exist, classify
            #     each (SimpleDdlParser.java:55-140) and apply additive
            #     ALTERs to the table — the reference's
            #     DDL→refreshTableCache loop (BinlogWorker.java:999-1054).
            #     Must land before the MERGE reads the snapshot schema.
            n_q = None
            if ddl_obs is not None:
                try:
                    n_q = int(ddl_obs.get["n_q"] or 0)
                except Exception:
                    # degenerate plans (e.g. a batch whose every row is a
                    # statement event → empty aggregation) can lose the
                    # metrics row; fall back to the targeted probe
                    n_q = None
            if ddl_obs is not None and (n_q is None or n_q > 0):
                from binlake_spark.operators.ddl import (
                    classify_ddl,
                    extract_added_columns,
                )

                ddl_rows = (
                    batch_df.filter(F.col("op") == "Q")
                    .select("seq", F.col("extra")["ddl"].alias("_ddl"))
                    .filter(F.col("_ddl").isNotNull())
                    .collect()
                )
                for r in sorted(ddl_rows, key=lambda r: r["seq"]):
                    res = classify_ddl(r["_ddl"])
                    if res.type == "ALTER":  # add-column-only rule
                        cols = extract_added_columns(r["_ddl"])
                        if cols:
                            self.table.add_columns(cols)

            # 4. additive schema evolution on winners: promote new `extra`
            #    keys to real columns (add-column-only, BinlogWorker.java:1079)
            t1 = time.monotonic()
            if keys:
                self.table.add_columns([(k, "string") for k in keys])
                for k in keys:
                    net = net.withColumn(k, F.col("extra")[k])
            if has_extra:
                net = net.drop("extra")
            phases["evolve_ms"] = int((time.monotonic() - t1) * 1000)

            # 5. idempotent MERGE + lineage, committed atomically —
            #    copy-on-write rewrite or merge-on-read delta append
            merge_fn = merge_into if self.mode == "cow" else merge_into_mor
            result = merge_fn(
                spark,
                self.table,
                net,
                epoch_id=int(epoch_id),
                stream_id=self.stream_id,
                dirty=dirty,
                bucket_max_seq=bucket_max,
                assume_persisted=True,
                bucket_aligned=bucket_aligned,
                num_buckets=num_buckets,
                extra_lineage={"phase_ms": phases},
            )
            # 6. periodic maintenance, in the engine loop like the
            #    reference's 60 s checkpoint timer: fold MOR deltas down,
            #    expire dead COW rewrites (keep_last stay readable for
            #    time travel / concurrent readers)
            if result.applied and result.version:
                if (
                    self.mode == "mor"
                    and self.mor_compact_every
                    and (int(epoch_id) + 1) % self.mor_compact_every == 0
                ):
                    compact_buckets(spark, self.table)
                if (
                    self.expire_every
                    and self.table.snapshot()["version"] % self.expire_every == 0
                ):
                    self.table.expire_snapshots(keep_last=self.expire_keep_last)
            if self.alarms is not None:
                self.alarms.observe_epoch(result, stream_id=self.stream_id)
            return result
        finally:
            cached.unpersist()

    # ------------------------------------------------------------------ #
    def run_batch_replay(
        self,
        spark: SparkSession,
        source_dir: str | None = None,
        from_seq: int | None = None,
        from_ts=None,
        source_df: DataFrame | None = None,
        n_events_hint: int | None = None,
    ) -> MergeResult:
        """Bounded replay as a single batch (FileLogFetcher analog,
        FileLogFetcher.java:1-158) — the correctness harness path.

        ``from_seq`` / ``from_ts``: position bootstrap (the reference's
        dump-from-position/timestamp resume, TimeTracker.java:53-120):
        replay only events at or after the given seq / timestamp.  Both
        are plain pushed predicates, so the parquet scan prunes row
        groups below the position — no full-log read to skip a prefix.

        ``source_df`` (instead of ``source_dir``) is the
        transport-agnostic entry: any frame in the change-log envelope
        schema drives the IDENTICAL loop — in particular a Kafka frame
        through :func:`~binlake_spark.sources.changelog_sources.
        decode_kafka_envelope` (the gated live transport shares every
        operator with this tested path; unification pinned by
        tests/test_sources.py::test_kafka_path_replays_identical_to_file).
        Pass ``n_events_hint`` when the transport knows its size;
        otherwise the bloom/AQE join-back path is used.

        Unlike streaming micro-batches a directory input is unbounded,
        so the event count is read from the parquet footers (driver-side
        metadata, no job) and handed to :meth:`apply_batch` as the
        winner upper bound that gates the broadcast-vs-bloom join-back
        choice."""
        if (source_dir is None) == (source_df is None):
            raise ValueError("pass exactly one of source_dir / source_df")
        if source_df is not None:
            df = source_df
            # unknown size must not pin the broadcast — treat as
            # over-limit so the bloom/AQE path is used
            n_events = (
                int(n_events_hint) if n_events_hint is not None else 1 << 62
            )
        else:
            df = spark.read.schema(CHANGE_LOG_SCHEMA).parquet(source_dir)
            stats = _source_footer_stats(source_dir)
            n_events = stats[0] if stats else 1 << 62
        if from_seq is not None:
            df = df.filter(F.col("seq") >= int(from_seq))
        if from_ts is not None:
            df = df.filter(F.col("ts") >= F.lit(from_ts).cast("timestamp"))
        return self.apply_batch(
            df,
            epoch_id=self.table.last_epoch(self.stream_id) + 1,
            n_events_hint=n_events,
        )

    def bootstrap_from_snapshot(
        self,
        spark: SparkSession,
        snapshot_df: DataFrame,
        as_of_seq: int,
        seq_col: str | None = None,
    ) -> MergeResult:
        """Seed an empty table from a point-in-time snapshot of the
        upstream table (the JDBC initial-load / Debezium snapshot-mode
        analog; the reference dumps changes from a checkpointed position
        and assumes the base rows exist downstream,
        DirectLogFetcher.java:38-120).  After this, hand off to
        incremental replay with ``run_batch_replay(from_seq=as_of_seq+1)``
        (or a full replay — the per-bucket fence at ``as_of_seq`` plus
        per-row LWW makes re-applying the prefix a no-op).  See
        :func:`binlake_spark.lake.merge.bootstrap_snapshot`."""
        return bootstrap_snapshot(
            spark,
            self.table,
            snapshot_df,
            as_of_seq=as_of_seq,
            seq_col=seq_col,
            stream_id=self.stream_id,
        )

    def assert_source_covers_table(self, source_dir: str) -> None:
        """Fail fast when this table has applied seqs beyond the source —
        resuming such a pair silently no-ops every event (the watermark /
        LWW fences drop everything) and then reports success.  The check
        is parquet-footer metadata only.  Reference behavior rebuilt:
        refuse to dump from a position the server no longer covers
        (GTIDTracker.java:30-51); GTID-form containment is
        :func:`binlake_spark.operators.gtid.assert_position_covered`."""
        stats = _source_footer_stats(source_dir)
        if stats is None or stats[1] < 0:
            return  # no files or no seq statistics — cannot verify
        wms = self.table.snapshot()["watermarks"]
        if not wms:
            return
        applied_max = max(int(w) for w in wms.values())
        if applied_max > stats[1]:
            raise ResumeAheadOfLog(
                f"table has applied seq {applied_max} but source "
                f"{source_dir!r} ends at seq {stats[1]} — the log was "
                "truncated/purged past the checkpoint, or this is the "
                "wrong source for this table"
            )

    def run_stream(
        self,
        spark: SparkSession,
        source_dir: str | None = None,
        checkpoint_dir: str | None = None,
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
        stop_after_epochs: int | None = None,
        timeout_s: int = 300,
        resume_retries: int = 2,
        retry_backoff_s: float = 2.0,
        verify_source: bool = True,
        consumers: list | None = None,
        source_df: DataFrame | None = None,
    ):
        """Tail the change log with Structured Streaming.

        ``consumers``: feed consumers (any object with ``refresh(spark)``
        — :class:`~binlake_spark.lake.ivm.FeedAggregate`,
        :class:`~binlake_spark.lake.ivm.TokenVocabAggregate`) refreshed
        after every committed epoch, so downstream rollups track the
        table in real time — the rebuild of the reference's per-epoch
        produce→consumer push (ProduceTask.java:49-56 delivers each
        batch to MQ subscribers that maintain exactly such rollups).
        Exactly-once composes: each consumer advances from its OWN
        atomically-published position to CURRENT, so a re-delivered
        epoch (idempotent for the table) is a no-op refresh, and a crash
        between table commit and refresh is healed by the next epoch's
        refresh.

        ``available_now=True`` drains everything currently in the source
        and terminates (Trigger.AvailableNow — the terminal-GTID analog,
        BinlogWorker.java:938-945).  ``stop_after_epochs`` kills the query
        mid-stream after N commits — the failover-injection hook used by
        the kill/resume tests.

        ``resume_retries``: a checkpoint re-open after a hard kill can
        transiently fail while the dead process's state is torn
        (StreamingQueryException from ``constructNextBatch``); restart the
        query up to N extra times with backoff — safe because
        ``apply_batch`` is idempotent (epoch guard + seq fence), so a
        replayed epoch is a no-op.  This is the rebuild of the reference's
        failover re-acquire loop (ZkLeaderSelector.takeLeadership:363-477
        retries leadership + dump resume on transient errors).
        """
        from pyspark.errors import StreamingQueryException

        # source_df is the transport-agnostic streaming entry (the
        # twin of run_batch_replay's): any STREAMING frame in the
        # envelope schema drives the identical loop — in particular the
        # wire path (spool → binlog_rows_stream → binlog_bridge) and
        # the rate/Kafka sources.  Coverage checks belong to the
        # transport there, so verify_source applies to directories only.
        if (source_dir is None) == (source_df is None):
            raise ValueError("pass exactly one of source_dir / source_df")
        if checkpoint_dir is None:
            raise ValueError("checkpoint_dir is required")
        if source_df is not None:
            if not source_df.isStreaming:
                raise ValueError(
                    "source_df must be a streaming DataFrame (use "
                    "run_batch_replay for bounded frames)"
                )
            stream = source_df
        else:
            if verify_source:
                self.assert_source_covers_table(source_dir)
            reader = spark.readStream.schema(CHANGE_LOG_SCHEMA)
            if max_files_per_trigger:
                reader = reader.option(
                    "maxFilesPerTrigger", int(max_files_per_trigger)
                )
            stream = reader.parquet(source_dir)

        def feb(batch_df: DataFrame, epoch_id: int):
            self.apply_batch(batch_df, epoch_id)
            for c in consumers or ():
                c.refresh(spark)

        writer = (
            stream.writeStream.foreachBatch(feb)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now and stop_after_epochs is None:
            writer = writer.trigger(availableNow=True)
        attempts = 0
        while True:
            q = writer.start()
            try:
                if stop_after_epochs is not None:
                    deadline = time.monotonic() + timeout_s
                    while time.monotonic() < deadline:
                        if (
                            self.table.last_epoch(self.stream_id)
                            >= stop_after_epochs - 1
                        ):
                            break
                        if not q.isActive:  # failed early — surface below
                            break
                        time.sleep(0.2)
                    q.stop()
                    q.awaitTermination(timeout_s)
                else:
                    q.awaitTermination()
                return q
            except StreamingQueryException as e:
                if attempts >= resume_retries:
                    if self.alarms is not None:
                        self.alarms.observe_resume_retry(
                            attempts + 1, self.stream_id, error=str(e)
                        )
                    raise
                attempts += 1
                if self.alarms is not None:
                    self.alarms.observe_resume_retry(
                        attempts, self.stream_id, error=str(e)
                    )
                time.sleep(retry_backoff_s * attempts)
            finally:
                if q.isActive:
                    q.stop()

    # ------------------------------------------------------------------ #
    def read_state(self, spark: SparkSession) -> DataFrame:
        return self.table.read(spark)

    def lineage(self, spark: SparkSession) -> DataFrame:
        return self.table.lineage_df(spark)

    def purge_tombstones(self, spark: SparkSession, horizon_seq: int) -> dict:
        """Maintenance entry for tombstone retention (lake/merge.py
        `purge_tombstones`): reclaim delete tombstones at/below
        ``horizon_seq``.  MOR mode folds outstanding deltas first with
        the retention pass FUSED into the compaction rewrite
        (`compact_buckets(tombstone_horizon=...)`) — one rewrite per
        delta bucket, not compact-then-purge rewriting the same buckets
        twice; the purge then sweeps only delta-free buckets still
        carrying dead tombstones.  The horizon is deliberately the
        caller's judgment: pick a seq no replay or retransmit can reach
        below (e.g. the committed low watermark after checkpoint
        expiry)."""
        if self.mode == "mor":
            compact_buckets(spark, self.table, tombstone_horizon=horizon_seq)
        return purge_tombstones(spark, self.table, horizon_seq)


def default_table_root(base: str) -> str:
    return os.path.join(base, "docs_table")
