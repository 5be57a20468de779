"""Binlog-wire ↔ change-log-envelope bridge for the documents table.

Closes the last seam between the wire path and the engine: a real
binlog byte stream (socket dump or spooled blobs) becomes the exact
envelope `CdcEngine.run_batch_replay(source_df=...)` consumes — so the
engine that is oracle-checked against the file-source change log can
replay the same changes from MySQL wire bytes, end to end.  The
reference's equivalent composition is BinlogWorker's decode loop
feeding the converter/producer chain (BinlogWorker.java:625-657 →
RuleTask); here each stage is the already-tested Spark operator:
``binlog_rows_stream`` (functions/binlog_events.py) → ``decode_row_
images`` (functions/binlog_decode.py) → column mapping (this module).

The upstream ``docs`` table's wire schema carries the envelope's data
columns; everything else in the envelope is transport metadata
reconstructed from the stream itself (GTID context, header timestamp,
and ``seq`` — the flattened (blob, event, row) position, the same
(binlogFile, logPos) total order the reference flattens,
LogPosition.java:38-44).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binlake_spark.functions.binlog_decode import ColumnSpec
from binlake_spark.functions.binlog_events import _T, decode_table_map, encode_table_map

#: the documents table as a MySQL table: (type_code, table-map meta)
DOCS_WIRE_COLUMNS: list[tuple[int, tuple]] = [
    (_T["VARCHAR"], (255,)),   # doc_id
    (_T["BLOB"], (4,)),        # payload: packed little-endian int32 tokens
    (_T["LONG"], ()),          # n_tok
    (_T["VARCHAR"], (64,)),    # source
    (_T["LONG"], ()),          # schema_ver
]
DOCS_WIRE_OVERLAY = [
    {"name": "doc_id"}, {"name": "payload"}, {"name": "n_tok"},
    {"name": "source"}, {"name": "schema_ver"},
]


def docs_wire_specs() -> list[ColumnSpec]:
    """The registry ColumnSpecs for the docs table — derived through the
    same TABLE_MAP round-trip the stream walk performs, so encode and
    decode can never drift."""
    _, _, _, specs = decode_table_map(
        encode_table_map(1, "shop", "docs", DOCS_WIRE_COLUMNS),
        DOCS_WIRE_OVERLAY,
    )
    return specs


#: per-blob/per-event packing for the synthesized seq.  seq is a signed
#: long and the packing adds 1, so the three fields get 62 bits and the
#: largest seq is exactly 2^62: 2^20 rows per ROWS event (a real master
#: batches rows up to binlog_row_event_max_size — a narrow table easily
#: exceeds the old 2^12), 2^17 events per blob (spool_dump's
#: max_blob_events backstop caps blobs at 2^16), and 2^25 ≈ 33M blobs
#: (a 10^10-event log at 2048 events/blob is ~4.9M).  Each ordinal is
#: guarded with raise_error below — an overflow must abort the replay,
#: never silently fold into a neighboring field and corrupt the LWW
#: order.
_ROW_BITS, _EVT_BITS, _BLOB_BITS = 20, 17, 25
_EVT_SHIFT = _ROW_BITS
_BLOB_SHIFT = _EVT_BITS + _EVT_SHIFT


def envelope_from_binlog_rows(
    changes: DataFrame,
    specs: list[ColumnSpec] | None = None,
    blob_col: str = "blob_id",
) -> DataFrame:
    """``binlog_rows_stream`` output (filtered to the docs table) → the
    change-log envelope schema.

    ``seq`` is synthesized from (blob ordinal, event ordinal, row
    ordinal) — the binlog position order, strictly increasing in apply
    order, which is all the LWW compaction requires.  GTID context and
    the header timestamp fill the identity columns; ``tokens`` stays
    NULL because the engine's fused Arrow pass decodes the payload
    itself (the packed bytes ARE the upstream column value).
    """
    from binlake_spark.functions.binlog_decode import decode_row_images

    specs = specs or docs_wire_specs()
    typed = decode_row_images(
        changes.filter(F.col("table") == "docs").select(
            blob_col, "evt_idx", "row_idx", "op", "ts", "gtid_sid", "gno",
            "image",
        ),
        "image",
        specs,
    )
    def _guarded(col: str, bits: int):
        c = F.col(col).cast("long")
        return F.when(
            (c < 0) | (c >= F.lit(1 << bits)),
            F.raise_error(F.concat(
                F.lit(f"binlog seq packing overflow: {col}="), c.cast("string"),
                F.lit(f" outside [0, 2^{bits}) — widen the bit budget"),
            )).cast("long"),
        ).otherwise(c)

    seq = (
        (_guarded(blob_col, _BLOB_BITS) * F.lit(1 << _BLOB_SHIFT))
        + (_guarded("evt_idx", _EVT_BITS) * F.lit(1 << _EVT_SHIFT))
        + _guarded("row_idx", _ROW_BITS)
        + F.lit(1)
    )
    return typed.select(
        seq.alias("seq"),
        F.col("gtid_sid").alias("server_uuid"),
        F.col("gno").cast("long").alias("gno"),
        F.col("gno").cast("long").alias("trx_id"),
        F.timestamp_seconds(F.col("ts")).alias("ts"),
        "op",
        "doc_id",
        F.lit(None).cast("array<int>").alias("tokens"),
        F.col("n_tok").cast("int").alias("n_tok"),
        "source",
        "payload",
        F.lit(None).cast("binary").alias("before_payload"),
        F.col("schema_ver").cast("int").alias("schema_ver"),
        F.lit(None).cast("map<string,string>").alias("extra"),
        F.lit(0).cast("int").alias("epoch_hint"),
    )


def encode_envelope_as_binlog(pdf, checksum_len: int = 0) -> list[bytes]:
    """Test/fixture side: a change-log envelope pandas frame (generator
    output, seq-ordered) → the equivalent binlog event stream — one
    transaction per ``trx_id`` (GTID, TABLE_MAP, one ROWS event per
    change, XID), full images per the wire contract (an UPDATE's before
    image is the envelope's ``before_payload`` when carried, else the
    post image — the LWW path never reads it).

    ``checksum_len=BINLOG_CHECKSUM_LEN`` when the events will be served
    by a ``checksum=True`` master: a conformant master's ``event_len``
    counts the CRC32 tail it appends on the wire, so the headers must
    be built +4 (functions/binlog_events.encode_event)."""
    from binlake_spark.functions.binlog_decode import encode_row_images
    from binlake_spark.functions.binlog_events import (
        GTID_EVENT,
        TABLE_MAP_EVENT,
        XID_EVENT,
        encode_event,
        encode_gtid_body,
        encode_rows_event,
        encode_xid_body,
    )

    specs = docs_wire_specs()
    events: list[bytes] = []
    pdf = pdf.sort_values("seq")
    for trx_id, txn in pdf.groupby("trx_id", sort=True):
        first = txn.iloc[0]
        ts = int(first["ts"].timestamp())
        events.append(encode_event(
            GTID_EVENT,
            encode_gtid_body(str(first["server_uuid"]), int(first["gno"])),
            ts=ts, checksum_len=checksum_len,
        ))
        events.append(encode_event(
            TABLE_MAP_EVENT,
            encode_table_map(1, "shop", "docs", DOCS_WIRE_COLUMNS),
            ts=ts, checksum_len=checksum_len,
        ))
        for _, r in txn.iterrows():
            row = {
                "doc_id": r["doc_id"],
                "payload": bytes(r["payload"]) if r["payload"] is not None else b"",
                "n_tok": int(r["n_tok"]),
                "source": r["source"],
                "schema_ver": int(r["schema_ver"]),
            }
            img = encode_row_images([row], specs)[0]
            before = None
            if r["op"] == "U":
                bp = r.get("before_payload")
                brow = dict(row)
                if bp is not None:
                    brow["payload"] = bytes(bp)
                    brow["n_tok"] = len(bp) // 4
                before = encode_row_images([brow], specs)[0]
            events.append(encode_event(
                *encode_rows_event(1, str(r["op"]), [(img, before)], len(specs)),
                ts=int(r["ts"].timestamp()), checksum_len=checksum_len,
            ))
        events.append(encode_event(
            XID_EVENT, encode_xid_body(int(trx_id)), ts=ts,
            checksum_len=checksum_len,
        ))
    return events
