"""Deterministic, cached benchmark inputs.

Every input is a pure function of (spec, seed): change logs from the
program's ``generate_change_log``, their oracle final state from
``oracle_final_state``, and the encoded binlog of the wire probe.  Each
(spec, seed) is generated once into ``<cache>/<name>-<hash>/`` and marked
complete last, so an interrupted generation is redone, never half-read.
Generation happens before the session starts: it is neither set-up nor
measured time."""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import struct
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from binlake_spark.changelog import GenSpec, generate_change_log, oracle_final_state, write_change_log

# backfill: events >> keys (~25 per doc), 5% retransmits, 10% of traffic on
# 5 hot keys, schema evolution mid-log; 4 files (3 x 100k + the 15k
# retransmit tail)
BACKFILL_EVENTS = 300_000
BACKFILL_FILE_EVENTS = 100_000

# tail: a 2000-doc base (3 events per doc), warm-up files, then the timed
# files; every file after the base holds 500 events
TAIL_DOCS = 2_000
TAIL_FILE_EVENTS = 500

# wire probe: ~300 three-event transactions, one spool blob each
WIRE_EVENTS = 900


def _backfill_spec(seed: int) -> GenSpec:
    return GenSpec(
        n_docs=BACKFILL_EVENTS // 25,
        n_events=BACKFILL_EVENTS,
        events_per_epoch=BACKFILL_FILE_EVENTS,
        retransmit_frac=0.05,
        hot_keys=5,
        hot_frac=0.1,
        evolution_at=BACKFILL_EVENTS // 2,
        seed=seed,
    )


def _tail_spec(n_files: int, seed: int) -> GenSpec:
    n = 3 * TAIL_DOCS + n_files * TAIL_FILE_EVENTS
    return GenSpec(
        n_docs=TAIL_DOCS, n_events=n, events_per_epoch=n, hot_keys=5, hot_frac=0.1, seed=seed
    )


def _wire_spec(seed: int) -> GenSpec:
    return GenSpec(
        n_docs=WIRE_EVENTS // 3, n_events=WIRE_EVENTS, events_per_epoch=WIRE_EVENTS,
        retransmit_frac=0.05, hot_keys=4, hot_frac=0.1, seed=seed,
    )


@dataclasses.dataclass
class LogInput:
    """A generated change log on disk: parquet files in replay order, the
    event count of each, and the oracle final state over all of them."""

    dir: str
    files: list[str]
    events: list[int]
    oracle_path: str
    gen_s: float = 0.0

    def oracle(self) -> pd.DataFrame:
        return read_state(self.oracle_path)


def write_state(pdf: pd.DataFrame, path: str) -> None:
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(tbl, path)


def read_state(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _cached(cache: str, name: str, key: dict, build) -> tuple[str, dict, float]:
    """Run ``build(dir) -> manifest`` once per key; returns (dir, manifest,
    seconds spent generating now, 0 when cached)."""
    digest = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    d = os.path.join(cache, f"{name}-{digest}")
    marker = os.path.join(d, "_COMPLETE.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return d, json.load(f), 0.0
    t0 = time.monotonic()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    manifest = build(d)
    with open(marker, "w") as f:
        json.dump(manifest, f)
    return d, manifest, time.monotonic() - t0


def _log_input(d: str, manifest: dict, gen_s: float) -> LogInput:
    return LogInput(
        dir=os.path.join(d, "log"),
        files=[os.path.join(d, "log", f) for f in manifest["files"]],
        events=manifest["events"],
        oracle_path=os.path.join(d, "oracle.parquet"),
        gen_s=gen_s,
    )


def _write_log(d: str, pdf: pd.DataFrame) -> dict:
    files = write_change_log(pdf, os.path.join(d, "log"))
    write_state(oracle_final_state(pdf), os.path.join(d, "oracle.parquet"))
    counts = pdf.groupby("epoch_hint", sort=True).size().tolist()
    return {"files": [os.path.basename(f) for f in files], "events": [int(c) for c in counts]}


def backfill_log(cache: str, seed: int) -> LogInput:
    spec = _backfill_spec(seed)

    def build(d):
        return _write_log(d, generate_change_log(spec))

    d, manifest, gen_s = _cached(cache, "backfill", dataclasses.asdict(spec), build)
    return _log_input(d, manifest, gen_s)


def tail_log(cache: str, seed: int, n_warm_files: int, n_window_files: int) -> LogInput:
    """One change log cut into files by position: file 0 is the base
    (3 events per doc), then ``n_warm_files`` warm-up files, then
    ``n_window_files`` timed files.  The oracle covers all of them."""
    spec = _tail_spec(n_warm_files + n_window_files, seed)

    def build(d):
        pdf = generate_change_log(spec)
        base = 3 * TAIL_DOCS
        pos = np.arange(len(pdf))
        pdf["epoch_hint"] = np.where(
            pos < base, 0, 1 + (pos - base) // TAIL_FILE_EVENTS
        ).astype(np.int32)
        return _write_log(d, pdf)

    d, manifest, gen_s = _cached(cache, "tail", dataclasses.asdict(spec), build)
    return _log_input(d, manifest, gen_s)


@dataclasses.dataclass
class WireInput:
    """An encoded binlog (checksummed events, as a master serves them)."""

    events: list[bytes]
    n_transactions: int


def wire_binlog(cache: str, seed: int) -> WireInput:
    spec = _wire_spec(seed)

    def build(d):
        from binlake_spark.functions.framing import BINLOG_CHECKSUM_LEN
        from binlake_spark.sources.binlog_bridge import encode_envelope_as_binlog

        pdf = generate_change_log(spec)
        events = encode_envelope_as_binlog(pdf, checksum_len=BINLOG_CHECKSUM_LEN)
        with open(os.path.join(d, "binlog.bin"), "wb") as f:
            for ev in events:
                f.write(struct.pack("<I", len(ev)))
                f.write(ev)
        return {"n_events": len(events), "n_transactions": int(pdf["trx_id"].nunique())}

    d, manifest, _ = _cached(cache, "wire", dataclasses.asdict(spec), build)
    events = []
    with open(os.path.join(d, "binlog.bin"), "rb") as f:
        data = f.read()
    pos = 0
    while pos < len(data):
        (n,) = struct.unpack_from("<I", data, pos)
        events.append(data[pos + 4 : pos + 4 + n])
        pos += 4 + n
    if len(events) != manifest["n_events"]:
        raise RuntimeError(f"cached binlog under {d} is truncated")
    return WireInput(events, manifest["n_transactions"])
