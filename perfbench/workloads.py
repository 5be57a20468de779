"""The benchmark's workloads, their output checks, and the probes of the
traced run.

Everything is measured from outside the program: the engine module's
references to ``merge_into`` / ``merge_into_mor`` / ``compact_buckets``
are wrapped for the run, each engine's ``apply_batch`` and its table's
``expire_snapshots`` are wrapped per instance, and the feed consumer is
handed to ``run_stream`` behind a timing proxy.  With tracing off the
wrappers only take the timestamps the end-to-end metrics need; with it
on they also record spans, Spark job groups and manifest diffs."""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import threading
import time

import numpy as np
import pandas as pd

import harness
import inputs
import binlake_spark.streaming.engine as engine_mod
from binlake_spark.lake.ivm import TokenVocabAggregate
from binlake_spark.streaming import CdcEngine

NUM_BUCKETS = 8
# set-up is repeated and its median reported (the first repetition also
# warms the JVM, the Python workers and the Arrow paths)
SETUP_REPS = 4
# the whole log (4 files) in one trigger: one large epoch per replay
BACKFILL_FILES_PER_TRIGGER = 4
# the offered tail schedule: one 500-event file every 9 s.  The
# engine needs ~4.5 s for an epoch plus its rollup refresh and ~7 s for the
# epoch that also compacts, so it keeps up without queueing
TAIL_INTERVAL_S = 9.0
# epochs before the clock: the base (epoch 0), then warm-up epochs without
# and with the consumer; the first timed epoch is 7, whose apply runs the
# engine's default compaction (mor_compact_every=8)
TAIL_PLAIN_EPOCHS = 6
TAIL_CONSUMER_EPOCHS = 1
# how long after the last release the tail waits for the engine to drain
TAIL_DRAIN_S = 60.0


# --------------------------------------------------------------------- #
# outside-in instrumentation
# --------------------------------------------------------------------- #
def _data_files(snap: dict) -> set[str]:
    out: set[str] = set()
    for fl in snap["files"].values():
        out.update(fl)
    for fl in snap.get("deltas", {}).values():
        out.update(fl)
    return out


def _delta_depth(snap: dict) -> int:
    return max((len(fl) for fl in snap.get("deltas", {}).values()), default=0)


def _iso_seconds(ts: str) -> float:
    return (
        dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


class Instruments:
    """Records every epoch apply, commit, maintenance call and consumer
    refresh of the engines attached to it.  ``phase`` labels the records
    ("setup" or "window") and ``trace_prefix`` keeps trace ids of
    different replays apart."""

    def __init__(self, spark, trace: bool):
        self.trace = trace
        self.tracer = harness.Tracer(trace)
        self.jobs = harness.JobCounter(spark.sparkContext) if trace else None
        self.phase = "setup"
        self.unit = 0  # which replay (backfill) the records belong to
        self.trace_prefix = ""
        self.epochs: list[dict] = []
        self.refreshes: list[dict] = []
        self.maintenance: list[dict] = []
        self.triggers: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.delta_depth_max = 0
        self._current: dict = {}
        self._saved: dict = {}

    # -- module references ---------------------------------------------- #
    def __enter__(self) -> "Instruments":
        for name in ("merge_into", "merge_into_mor", "compact_buckets"):
            self._saved[name] = getattr(engine_mod, name)
        engine_mod.merge_into = self._wrap_merge(self._saved["merge_into"], "lake.merge_into")
        engine_mod.merge_into_mor = self._wrap_merge(
            self._saved["merge_into_mor"], "lake.merge_into_mor"
        )
        engine_mod.compact_buckets = self._wrap_compact(self._saved["compact_buckets"])
        return self

    def __exit__(self, *exc) -> None:
        for name, fn in self._saved.items():
            setattr(engine_mod, name, fn)

    def _group(self, label: str):
        return self.jobs.group(label) if self.jobs else contextlib.nullcontext()

    def _written(self, table, before: set[str]) -> int:
        return harness.file_bytes(
            os.path.join(table.root, p) for p in _data_files(table.snapshot()) - before
        )

    def _wrap_merge(self, fn, name: str):
        def merge(spark, table, net, **kw):
            rec = self._current
            before = _data_files(table.snapshot()) if self.trace else set()
            t = time.time()
            with self.tracer.span(name, rec.get("trace_id")):
                res = fn(spark, table, net, **kw)
            rec["commit"] = time.time()
            rec["merge_s"] = rec["commit"] - t
            if self.trace and res.applied and res.version is not None:
                snap = table.snapshot()
                entry = snap["lineage"][-1] if snap["lineage"] else {}
                if entry.get("version") == res.version:
                    rec["phase_ms"] = dict(entry.get("phase_ms") or {})
                rec["bytes_written"] = self._written(table, before)
                if self.phase == "window":
                    self.delta_depth_max = max(self.delta_depth_max, _delta_depth(snap))
            return res

        return merge

    def _wrap_compact(self, fn):
        def compact_buckets(spark, table, *a, **kw):
            before = _data_files(table.snapshot()) if self.trace else set()
            t = time.time()
            with self.tracer.span("lake.compact_buckets", self._current.get("trace_id")):
                out = fn(spark, table, *a, **kw)
            rec = {"phase": self.phase, "op": "compact", "s": time.time() - t}
            if self.trace:
                rec["bytes_written"] = self._written(table, before)
            self.maintenance.append(rec)
            return out

        return compact_buckets

    # -- per instance ----------------------------------------------------- #
    def attach(self, engine: CdcEngine) -> CdcEngine:
        """Wrap ``engine.apply_batch`` and its table's ``expire_snapshots``."""
        apply = engine.apply_batch

        def apply_batch(batch_df, epoch_id, n_events_hint=None):
            rec = {
                "phase": self.phase,
                "epoch": int(epoch_id),
                "unit": self.unit,
                "trace_id": f"{self.trace_prefix}e{epoch_id}",
                "start": time.time(),
            }
            self._current = rec
            self.attempted += 1
            try:
                with self.tracer.span("streaming.apply_batch", rec["trace_id"]), self._group(
                    "apply"
                ) as gid:
                    res = apply(batch_df, epoch_id, n_events_hint)
            except Exception:
                self.failed += 1
                raise
            rec.update(end=time.time(), n_net=res.n_net, applied=res.applied)
            if gid is not None:
                rec["jobs"], rec["tasks"] = self.jobs.counts(gid)
            self.epochs.append(rec)
            return res

        engine.apply_batch = apply_batch
        table = engine.table
        expire = table.expire_snapshots

        def expire_snapshots(*a, **kw):
            t = time.time()
            with self.tracer.span("lake.expire_snapshots", self._current.get("trace_id")):
                out = expire(*a, **kw)
            self.maintenance.append({"phase": self.phase, "op": "expire", "s": time.time() - t})
            return out

        table.expire_snapshots = expire_snapshots
        return engine

    def consumer(self, agg):
        """A stand-in for ``agg`` in ``run_stream(consumers=...)`` that
        times each refresh; the refresh belongs to the epoch applied just
        before it."""
        inst = self

        class _Timed:
            def refresh(self, spark):
                cur = inst._current
                rec = {"phase": inst.phase, "epoch": cur.get("epoch"),
                       "trace_id": cur.get("trace_id"), "start": time.time()}
                inst.attempted += 1
                try:
                    with inst.tracer.span("lake.ivm_refresh", rec["trace_id"]), inst._group(
                        "refresh"
                    ) as gid:
                        out = agg.refresh(spark)
                except Exception:
                    inst.failed += 1
                    raise
                rec["end"] = time.time()
                if gid is not None:
                    rec["jobs"], rec["tasks"] = inst.jobs.counts(gid)
                inst.refreshes.append(rec)
                return out

        return _Timed()

    def record_triggers(self, query, parent=None) -> None:
        """Per trigger that carried data: ``triggerExecution − addBatch``
        from ``recentProgress``; when tracing, also a span per trigger that
        becomes the parent of the epoch's apply and refresh spans."""
        for p in query.recentProgress:
            d = p.durationMs
            if "addBatch" not in d:
                continue
            tid = f"{self.trace_prefix}e{p.batchId}"
            self.triggers.append(
                {"phase": self.phase, "trace_id": tid,
                 "overhead_s": (d["triggerExecution"] - d["addBatch"]) / 1000}
            )
            if self.trace:
                start = _iso_seconds(p.timestamp)
                sid = self.tracer.add(
                    "streaming.trigger", start, start + d["triggerExecution"] / 1000,
                    trace_id=tid, parent=parent,
                )
                for s in self.tracer.spans:
                    if s["trace_id"] == tid and s["parent"] is None and s["id"] != sid:
                        s["parent"] = sid

    def window(self, kind: str) -> list[dict]:
        return [r for r in getattr(self, kind) if r["phase"] == "window"]


# --------------------------------------------------------------------- #
# output checks (pure pandas / numpy)
# --------------------------------------------------------------------- #
def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v.item() if isinstance(v, np.generic) else v


def state_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` holds exactly the oracle's rows: the same doc_ids,
    the exact token array per doc_id and equal scalar columns; otherwise a
    description of the first difference."""
    missing = [c for c in want.columns if c not in got.columns]
    if missing:
        return f"table lacks columns {missing}"
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True)
    if list(g["doc_id"]) != list(w["doc_id"]):
        extra = sorted(set(g["doc_id"]) - set(w["doc_id"]))[:3]
        lost = sorted(set(w["doc_id"]) - set(g["doc_id"]))[:3]
        return f"doc_id sets differ ({len(g)} vs {len(w)} rows; extra {extra}, missing {lost})"
    for i, (a, b) in enumerate(zip(g["tokens"], w["tokens"])):
        if a is None or not np.array_equal(np.asarray(a, np.int32), np.asarray(b, np.int32)):
            return f"tokens differ for {w['doc_id'][i]}"
    for c in want.columns:
        if c in ("doc_id", "tokens"):
            continue
        for i, (a, b) in enumerate(zip(g[c], w[c])):
            if _norm(a) != _norm(b):
                return f"{c} differs for {w['doc_id'][i]}: {a!r} vs {b!r}"
    return None


def vocab_from_state(state: pd.DataFrame) -> pd.DataFrame:
    """(tok, n_docs, n_occ) recomputed from scratch over a table state:
    document frequency and total occurrences of every token."""
    arrays = [np.asarray(t, np.int64) for t in state["tokens"]]
    if not arrays or not sum(len(a) for a in arrays):
        return pd.DataFrame({"tok": [], "n_docs": [], "n_occ": []}, dtype=np.int64)
    flat = np.concatenate(arrays)
    doc = np.repeat(np.arange(len(arrays)), [len(a) for a in arrays])
    toks, n_occ = np.unique(flat, return_counts=True)
    span = int(flat.max()) + 1
    pairs = np.unique(doc * span + flat)
    dtoks, n_docs = np.unique(pairs % span, return_counts=True)
    if not np.array_equal(toks, dtoks):
        raise AssertionError("token sets of the two counts differ")
    return pd.DataFrame({"tok": toks, "n_docs": n_docs, "n_occ": n_occ})


def vocab_mismatch(got: pd.DataFrame, state: pd.DataFrame) -> str | None:
    want = vocab_from_state(state)
    g = got.sort_values("tok").reset_index(drop=True)
    for c in ("tok", "n_docs", "n_occ"):
        if not np.array_equal(g[c].to_numpy(np.int64), want[c].to_numpy(np.int64)):
            return f"vocab column {c} differs from the recompute ({len(g)} vs {len(want)} tokens)"
    return None


# --------------------------------------------------------------------- #
# workload results
# --------------------------------------------------------------------- #
class Outcome:
    """What a workload hands back: end-to-end metrics, per-layer inputs,
    output-check verdicts and human-readable notes."""

    def __init__(self):
        self.metrics: dict[str, float] = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.notes: list[str] = []
        self.shortfall = 0  # expected operations that never completed
        # set by the workload for the per-layer roll-up and the probes
        self.layer_units = 1
        self.layer_events = 0
        self.ladder_files: list[str] = []
        self.final_table = None

    def check(self, name: str, problem: str | None) -> None:
        self.checks.append((name, problem is None, problem or "ok"))


def _live_bytes(table) -> tuple[int, int]:
    """(bytes of the files the current snapshot references plus its JSON,
    bytes of the current snapshot JSON plus the lineage side log)."""
    from binlake_spark.lake.table import LINEAGE_LOG, META_DIR

    snap = table.snapshot()
    meta = harness.file_bytes(
        [os.path.join(table.root, META_DIR, f"v{snap['version']}.json"),
         os.path.join(table.root, META_DIR, LINEAGE_LOG)]
    )
    data = harness.file_bytes(os.path.join(table.root, p) for p in _data_files(snap))
    return data + meta, meta


def _check_state(out: Outcome, spark, name: str, table, oracle: pd.DataFrame) -> pd.DataFrame | None:
    try:
        got = table.read(spark).toPandas()
    except Exception as e:  # the check itself must not abort the run
        out.check(name, f"read failed: {e!r}")
        return None
    out.check(name, state_mismatch(got, oracle))
    return got


def _release_all(files: list[str], mtime: float, dest: str) -> None:
    for i, f in enumerate(files):
        harness.release_file(f, dest, mtime + 0.01 * i)


# --------------------------------------------------------------------- #
# backfill: closed-loop catch-up replays into copy-on-write
# --------------------------------------------------------------------- #
def backfill(spark, inst: Instruments, work: str, cache: str, seed: int, seconds: int,
             session_s: float) -> Outcome:
    out = Outcome()
    log = inputs.backfill_log(cache, seed)
    out.notes.append(f"inputs: {sum(log.events)} events in {len(log.files)} files"
                     f" (generated in {log.gen_s:.1f} s, 0 = cached)")

    def replay(root: str, src: str):
        table = CdcEngine.create_table(os.path.join(root, "docs"), num_buckets=NUM_BUCKETS)
        engine = inst.attach(CdcEngine(table))
        q = engine.run_stream(spark, src, os.path.join(root, "ckpt"),
                              max_files_per_trigger=BACKFILL_FILES_PER_TRIGGER)
        return table, q

    reps = []
    for r in range(SETUP_REPS):
        t = time.monotonic()
        inst.trace_prefix = f"setup{r}-"
        replay(os.path.join(work, f"warm{r}"), log.dir)
        reps.append(time.monotonic() - t)
    out.metrics["setup_s"] = session_s + harness.median(reps)
    out.notes.append(f"setup: session {session_s:.2f} s + median of warm-up replays "
                     + ", ".join(f"{x:.2f}" for x in reps))

    inst.phase = "window"
    rounds = []
    t_start = time.time()
    # replay until the window is used up: start another replay only while
    # it is expected to end less than half a replay past the window
    with inst.tracer.span("bench.window"):
        while not rounds or (
            time.time() - t_start + 0.5 * (rounds[-1]["end"] - t_start) / len(rounds) < seconds
        ):
            r = len(rounds)
            inst.unit = r
            inst.trace_prefix = f"r{r}-"
            t0 = time.time()
            with inst.tracer.span("bench.round", f"r{r}") as round_sid:
                table, q = replay(os.path.join(work, f"round{r}"), log.dir)
            rounds.append({"start": t0, "end": time.time(), "table": table})
            inst.record_triggers(q, parent=round_sid)
    t_end = time.time()
    n_events = sum(log.events) * len(rounds)

    oracle = log.oracle()
    for i, rd in enumerate(rounds):
        _check_state(out, spark, f"round {i} table == oracle", rd["table"], oracle)

    epochs = inst.window("epochs")
    fresh = [e["end"] - rounds[e["unit"]]["start"] for e in epochs]
    out.metrics["events_per_s"] = n_events / (t_end - t_start)
    out.metrics["freshness_p50_s"] = harness.median(fresh)
    out.metrics["freshness_max_s"] = max(fresh)
    # no consumer: an epoch is fully delivered when its apply returns
    out.metrics["rollup_freshness_p50_s"] = out.metrics["freshness_p50_s"]
    live, _ = _live_bytes(rounds[-1]["table"])
    out.metrics["stored_bytes_per_live_row"] = live / max(1, len(oracle))
    out.notes.append(
        f"window: {len(rounds)} replays x {sum(log.events)} events in {t_end - t_start:.2f} s ("
        + ", ".join(f"{rd['end'] - rd['start']:.2f}" for rd in rounds) + "),"
        f" {len(epochs)} epochs; freshness = apply return - replay start (n={len(fresh)})"
    )
    out.layer_units = len(rounds)
    out.layer_events = n_events
    out.ladder_files = log.files[:BACKFILL_FILES_PER_TRIGGER]
    out.final_table = rounds[-1]["table"]
    return out


# --------------------------------------------------------------------- #
# tail: open-loop releases into merge-on-read with a rollup consumer
# --------------------------------------------------------------------- #
def _wait_idle(spark, timeout: float, stop: threading.Event):
    """The active query, once it has started and is waiting for data."""
    deadline = time.time() + timeout
    while time.time() < deadline and not stop.is_set():
        for q in spark.streams.active:
            st = q.status
            if not st["isTriggerActive"] and st["message"].startswith("Waiting"):
                return q
        time.sleep(0.05)
    raise TimeoutError("the tail query did not become idle")


def tail(spark, inst: Instruments, work: str, cache: str, seed: int, seconds: int,
         session_s: float) -> Outcome:
    out = Outcome()
    n_window = max(1, math.ceil(seconds / TAIL_INTERVAL_S))
    log = inputs.tail_log(cache, seed, TAIL_PLAIN_EPOCHS + TAIL_CONSUMER_EPOCHS - 1, n_window)
    n_pre = TAIL_PLAIN_EPOCHS + TAIL_CONSUMER_EPOCHS
    out.notes.append(
        f"inputs: base {log.events[0]} events + {n_pre - 1} warm-up files +"
        f" {n_window} timed files of {inputs.TAIL_FILE_EVENTS} events"
        f" (generated in {log.gen_s:.1f} s, 0 = cached)"
    )

    # set-up: the base table (epoch 0) and warm-up epochs streamed once,
    # the consumer bootstrap (repeated, median reported), then warm-up
    # epochs with the consumer attached
    root = os.path.join(work, "tail")
    watch, ckpt = os.path.join(root, "in"), os.path.join(root, "ckpt")
    os.makedirs(watch)
    t = time.monotonic()
    table = CdcEngine.create_table(os.path.join(root, "docs"), num_buckets=NUM_BUCKETS)
    engine = inst.attach(CdcEngine(table, mode="mor"))
    _release_all(log.files[:TAIL_PLAIN_EPOCHS], time.time(), watch)
    engine.run_stream(spark, watch, ckpt, max_files_per_trigger=1)
    stream_s = time.monotonic() - t
    agg = TokenVocabAggregate(table, os.path.join(root, "vocab"))
    reps = []
    for _ in range(SETUP_REPS):
        t = time.monotonic()
        agg.reset()
        agg.refresh(spark)  # bootstrap from the full table
        reps.append(time.monotonic() - t)
    t = time.monotonic()
    _release_all(log.files[TAIL_PLAIN_EPOCHS:n_pre], time.time(), watch)
    engine.run_stream(spark, watch, ckpt, max_files_per_trigger=1, consumers=[agg])
    stream_s += time.monotonic() - t
    out.metrics["setup_s"] = session_s + stream_s + harness.median(reps)
    out.notes.append(
        f"setup: session {session_s:.2f} s + base and warm-up epochs {stream_s:.2f} s"
        " + median of consumer bootstraps " + ", ".join(f"{x:.2f}" for x in reps)
    )

    inst.phase = "window"
    inst.trace_prefix = ""
    timed = log.files[n_pre:]
    schedule = harness.ReleaseSchedule(
        timed, TAIL_INTERVAL_S, lambda f: harness.release_file(f, watch, time.time())
    )
    stop = threading.Event()
    state: dict = {}

    def release_and_stop():
        try:
            t = time.time()
            _wait_idle(spark, 120, stop)
            state["query_start_s"] = time.time() - t
            state["t0"] = t0 = time.time()
            schedule.run(t0, stop)
            deadline = time.time() + TAIL_DRAIN_S
            while (len(inst.window("refreshes")) < len(timed) and time.time() < deadline
                   and not stop.is_set()):
                time.sleep(0.02)
            state["end"] = time.time()
            # let the last trigger write its commit log before stopping
            _wait_idle(spark, 30, stop)
        except Exception as e:  # reported as a failed operation below
            state["error"] = repr(e)
        finally:
            for q in spark.streams.active:
                q.stop()

    releaser = threading.Thread(target=release_and_stop, daemon=True)
    with inst.tracer.span("bench.window") as window_sid:
        releaser.start()
        try:
            q = engine.run_stream(spark, watch, ckpt, max_files_per_trigger=1,
                                  available_now=False, consumers=[inst.consumer(agg)])
            inst.record_triggers(q, parent=window_sid)
        except Exception as e:
            state.setdefault("error", repr(e))
        finally:
            stop.set()
            releaser.join()
    if "error" in state:
        out.notes.append(f"window error: {state['error']}")

    epochs = {e["epoch"]: e for e in inst.window("epochs")}
    refreshes = {r["epoch"]: r for r in inst.window("refreshes")}
    fresh, rollup, n_events = [], [], 0
    for j, due in enumerate(schedule.due):
        e, rf = epochs.get(n_pre + j), refreshes.get(n_pre + j)
        if e is not None:
            fresh.append(e["end"] - due)
            n_events += log.events[n_pre + j]
        if rf is not None:
            rollup.append(rf["end"] - due)
        out.notes.append(
            f"  epoch {n_pre + j}: apply starts +{e['start'] - due:.2f} s, commits"
            f" +{e['commit'] - due:.2f} s, returns +{e['end'] - due:.2f} s,"
            f" rollup +{rf['end'] - due:.2f} s after release"
            if e is not None and rf is not None
            else f"  epoch {n_pre + j}: not completed"
        )
    out.shortfall = 2 * len(timed) - len(fresh) - len(rollup)
    t0 = state.get("t0", time.time())
    end = state.get("end", time.time())
    late = schedule.lateness()
    out.notes.append(
        f"window: {len(schedule.due)} releases every {TAIL_INTERVAL_S:g} s,"
        f" {len(fresh)} epochs applied, {len(rollup)} refreshed, drained after"
        f" {end - t0:.2f} s; release lateness max {max(late, default=0) * 1000:.1f} ms;"
        f" query start {state.get('query_start_s', float('nan')):.2f} s (not timed)"
    )

    oracle = log.oracle()
    got = _check_state(out, spark, "final table == oracle over released files", table, oracle)
    try:
        vocab = agg.vocab(spark).toPandas()
        pos_ok = agg.position() == int(table.snapshot()["version"])
        out.check("rollup covers the last commit",
                  None if pos_ok else f"rollup at {agg.position()}, table at "
                  f"{table.snapshot()['version']}")
        if got is not None:
            out.check("rollup == recompute over final table", vocab_mismatch(vocab, got))
    except Exception as e:
        out.check("rollup readable", f"{e!r}")

    out.metrics["events_per_s"] = n_events / max(end - t0, 1e-9)
    out.metrics["freshness_p50_s"] = harness.median(fresh) if fresh else float("nan")
    out.metrics["freshness_max_s"] = max(fresh) if fresh else float("nan")
    out.metrics["rollup_freshness_p50_s"] = harness.median(rollup) if rollup else float("nan")
    live, _ = _live_bytes(table)
    out.metrics["stored_bytes_per_live_row"] = live / max(1, len(oracle))
    out.layer_units = 1
    out.layer_events = n_events
    out.ladder_files = timed[:1]
    out.final_table = table
    return out


# --------------------------------------------------------------------- #
# traced-run probes
# --------------------------------------------------------------------- #
def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def operator_ladder(spark, tracer, files: list[str], table, reps: int = 3) -> dict:
    """Time successive prefixes of the epoch plan of ``apply_batch`` on
    fixed input, each sent to a ``noop`` sink: scan + prune + validate;
    + ``compact_lww_bucketed`` (winner aggregate, join-back, bucket
    repartition, first-per-key Arrow pass); + the fused payload decode.
    Each rung is the median of ``reps`` runs; the layer metric is its
    increment over the previous rung."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from binlake_spark.changelog.generator import CHANGE_LOG_SCHEMA
    from binlake_spark.operators.compaction import compact_lww_bucketed
    from binlake_spark.operators.decode import decode_and_validate_batch, decoded_schema

    def scan():
        df = spark.read.schema(CHANGE_LOG_SCHEMA).parquet(*files)
        df = df.select("doc_id", "seq", "op", "n_tok", "source", "payload", "extra")
        return df.filter(F.col("op").isin("I", "U", "D")).filter(
            F.octet_length("payload") == F.col("n_tok") * 4
        )

    def compact(decode: bool):
        df = scan()
        kw = {}
        if decode:
            bucketed = T.StructType(
                list(df.schema.fields) + [T.StructField("_bucket", T.IntegerType(), True)]
            )
            kw = {"batch_fn": decode_and_validate_batch, "out_schema": decoded_schema(bucketed)}
        return compact_lww_bucketed(
            df, key="doc_id", seq_col="seq", bucket_col_expr=table.bucket_expr(),
            num_partitions=int(table.snapshot()["num_buckets"]), broadcast_winners=True, **kw,
        )

    rungs = {"scan": scan, "compact": lambda: compact(False), "decode": lambda: compact(True)}
    times: dict[str, list[float]] = {k: [] for k in rungs}
    for _ in range(reps):
        for name, build in rungs.items():
            t = time.monotonic()
            with tracer.span(f"operators.ladder.{name}"):
                _noop(build())
            times[name].append(time.monotonic() - t)
    m = {k: harness.median(v) for k, v in times.items()}
    return {
        "operators.scan_s": m["scan"],
        "operators.compact_s": m["compact"] - m["scan"],
        "operators.decode_s": m["decode"] - m["compact"],
    }


def wire_probe(spark, tracer, work: str, cache: str, seed: int, out: Outcome) -> dict:
    """The binlog wire path on a fixed fixture: a loopback master serves
    the encoded binlog over one TCP connection, ``spool_dump`` cuts blobs
    on XID, then ``binlog_rows_stream`` → ``envelope_from_binlog_rows`` is
    walked to a ``noop`` sink."""
    from binlake_spark.functions.binlog_events import XID_EVENT, binlog_rows_stream
    from binlake_spark.operators.gtid import GTIDSet
    from binlake_spark.sources.binlog_bridge import DOCS_WIRE_OVERLAY, envelope_from_binlog_rows
    from binlake_spark.sources.socket_dump import BinlogDumpClient, LoopbackMaster, spool_dump

    wire = inputs.wire_binlog(cache, seed)
    spool = os.path.join(work, "spool")
    with LoopbackMaster("replica", "s3cret", wire.events) as master:
        with BinlogDumpClient("127.0.0.1", master.port, "replica", "s3cret", server_id=99) as c:
            c.register_slave()
            t = time.monotonic()
            with tracer.span("sources.spool_dump"):
                n = spool_dump(
                    c.dump(gtid_set=GTIDSet.parse("00000000-0000-0000-0000-000000000000:1-1")),
                    spool,
                    flush_after=lambda ev: ev[4] == XID_EVENT,
                )
            dump_s = time.monotonic() - t
    blobs = [f for f in os.listdir(spool) if f.endswith(".parquet")]
    out.check("wire probe: every served event spooled",
              None if n == len(wire.events) else f"{n} of {len(wire.events)} events")
    out.check("wire probe: one blob per transaction",
              None if len(blobs) == wire.n_transactions
              else f"{len(blobs)} blobs for {wire.n_transactions} transactions")
    frames = spark.read.schema(
        "blob_id long, n_events int, first_event long, frames binary"
    ).parquet(spool).select("blob_id", "frames")
    env = envelope_from_binlog_rows(
        binlog_rows_stream(frames, schema_overlay={("shop", "docs"): DOCS_WIRE_OVERLAY})
    )
    t = time.monotonic()
    with tracer.span("functions.walk_decode"):
        _noop(env)
    return {
        "sources.spool_dump_s": dump_s,
        "sources.spool_files": float(len(blobs)),
        "functions.walk_decode_s": time.monotonic() - t,
    }


def layer_metrics(inst: Instruments, out: Outcome) -> dict:
    """Per-layer metrics from the window's records.  Sums are per replay
    of the log (backfill) or per window (tail); 0 means the workload never
    entered the layer."""
    units, n_events = out.layer_units, max(1, out.layer_events)
    epochs = inst.window("epochs")
    refreshes = inst.window("refreshes")
    maint = inst.window("maintenance")
    phase = lambda k: sum(e.get("phase_ms", {}).get(k, 0) for e in epochs) / 1000  # noqa: E731
    commit_other = sum(
        e["merge_s"] - (e.get("phase_ms", {}).get("write_ms", 0)
                        + e.get("phase_ms", {}).get("footer_ms", 0)) / 1000
        for e in epochs if "merge_s" in e
    )
    written = sum(e.get("bytes_written", 0) for e in epochs) + sum(
        m.get("bytes_written", 0) for m in maint
    )
    trig = [t["overhead_s"] for t in inst.window("triggers")]
    _, snapshot_bytes = _live_bytes(out.final_table)
    return {
        "operators.materialize_s": phase("materialize_ms") / units,
        "operators.net_ratio": sum(e.get("n_net", 0) for e in epochs) / n_events,
        "streaming.apply_s_p50": harness.median([e["end"] - e["start"] for e in epochs]),
        "streaming.trigger_overhead_s": harness.median(trig) if trig else 0.0,
        "streaming.spark_jobs_per_epoch": float(np.mean([e["jobs"] for e in epochs])),
        "streaming.spark_tasks_per_epoch": float(np.mean([e["tasks"] for e in epochs])),
        "lake.write_s": phase("write_ms") / units,
        "lake.footer_s": phase("footer_ms") / units,
        "lake.commit_other_s": commit_other / units,
        "lake.bytes_written_per_event": written / n_events,
        "lake.compact_buckets_s": sum(m["s"] for m in maint if m["op"] == "compact") / units,
        "lake.expire_snapshots_s": sum(m["s"] for m in maint if m["op"] == "expire") / units,
        "lake.ivm_refresh_s_p50": (
            harness.median([r["end"] - r["start"] for r in refreshes]) if refreshes else 0.0
        ),
        "lake.ivm_refresh_spark_jobs": (
            float(np.mean([r["jobs"] for r in refreshes])) if refreshes else 0.0
        ),
        "lake.snapshot_bytes": float(snapshot_bytes),
        "lake.mor_delta_depth_max": float(inst.delta_depth_max),
    }
