"""Binlog event-stream parse: v4 headers, TABLE_MAP, ROWS v1/v2, GTID,
QUERY, XID, ROTATE, FORMAT_DESCRIPTION — the layer between the dump
socket and the row-image decoder.

This is the walk the reference performs per event in its decoder tower
(LogDecoder.decode dispatch; TableMapLogEvent / RowsLogEvent header
parses in binlake-wave.parser), rebuilt from the published binlog v4
layouts.  Everything below the event boundary reuses the existing
codecs: row images go to ``decode_row_images`` / ``split_row_images``
(functions/binlog_decode.py) and the per-type value walk is
``_col_width`` — this module only adds the stream grammar.

Design notes, both inherited from MySQL itself:

* **Column NAMES and signedness are not in the binlog.**  A TABLE_MAP
  carries type codes + metadata only; real replicas resolve names and
  unsigned flags from a schema registry (the reference's TableMeta via
  SHOW, here the lake snapshot — lake/table.py).  ``schema_overlay``
  is that registry's injection point: per (db, table), per position,
  optional ``name`` / ``unsigned`` / ``charset``.  Without an overlay,
  columns decode as ``c0..cN`` signed utf8 — correct bytes, generic
  labels.
* **Statefulness is per contiguous stream.**  A ROWS event references
  the TABLE_MAP that precedes it; parse state therefore lives inside
  one blob walk and resets between blobs.  ``spool_dump(...,
  flush_after=...)`` (sources/socket_dump.py) exists precisely so blobs
  cut at transaction boundaries (XID), keeping every TABLE_MAP with its
  rows — the same invariant MySQL guarantees inside a transaction.

At 100 TB the walk distributes with the scan exactly like deframing:
one ``mapInArrow`` pass per blob, no shuffle, Python cost ∝ events.
"""

from __future__ import annotations

import struct
from typing import Iterator

from binlake_spark.functions.binlog_decode import (
    ColumnSpec,
    _col_width,
    char_meta,
)
from binlake_spark.functions.framing import BINLOG_CHECKSUM_LEN

EVENT_HEADER_LEN = 19

# event type codes used here (full catalog: functions/event_catalog.py)
QUERY_EVENT = 2
ROTATE_EVENT = 4
FORMAT_DESCRIPTION_EVENT = 15
XID_EVENT = 16
TABLE_MAP_EVENT = 19
WRITE_ROWS_V1, UPDATE_ROWS_V1, DELETE_ROWS_V1 = 23, 24, 25
HEARTBEAT_EVENT = 27
ROWS_QUERY_EVENT = 29
WRITE_ROWS_V2, UPDATE_ROWS_V2, DELETE_ROWS_V2 = 30, 31, 32
GTID_EVENT = 33

_ROWS_OPS = {
    WRITE_ROWS_V1: ("I", 1), UPDATE_ROWS_V1: ("U", 1), DELETE_ROWS_V1: ("D", 1),
    WRITE_ROWS_V2: ("I", 2), UPDATE_ROWS_V2: ("U", 2), DELETE_ROWS_V2: ("D", 2),
}

# -- MySQL column type codes (public enum_field_types) ----------------- #
_T = {
    "DECIMAL": 0, "TINY": 1, "SHORT": 2, "LONG": 3, "FLOAT": 4, "DOUBLE": 5,
    "NULL": 6, "TIMESTAMP": 7, "LONGLONG": 8, "INT24": 9, "DATE": 10,
    "TIME": 11, "DATETIME": 12, "YEAR": 13, "NEWDATE": 14, "VARCHAR": 15,
    "BIT": 16, "TIMESTAMP2": 17, "DATETIME2": 18, "TIME2": 19, "JSON": 245,
    "NEWDECIMAL": 246, "ENUM": 247, "SET": 248, "TINY_BLOB": 249,
    "MEDIUM_BLOB": 250, "LONG_BLOB": 251, "BLOB": 252, "VAR_STRING": 253,
    "STRING": 254, "GEOMETRY": 255,
}

#: type code → (ColumnSpec kind, unsigned twin, table-map metadata bytes)
_TYPE_INFO: dict[int, tuple[str, str | None, int]] = {
    _T["TINY"]: ("int8", "uint8", 0),
    _T["SHORT"]: ("int16", "uint16", 0),
    _T["INT24"]: ("int24", None, 0),
    _T["LONG"]: ("int32", "uint32", 0),
    _T["LONGLONG"]: ("int64", "uint64", 0),
    _T["FLOAT"]: ("float", None, 1),
    _T["DOUBLE"]: ("double", None, 1),
    _T["NEWDECIMAL"]: ("newdecimal", None, 2),
    _T["DATE"]: ("date", None, 0),
    _T["NEWDATE"]: ("date", None, 0),
    _T["TIMESTAMP"]: ("timestamp_v0", None, 0),
    _T["DATETIME"]: ("datetime_v0", None, 0),
    _T["TIME"]: ("time_v0", None, 0),
    _T["TIMESTAMP2"]: ("timestamp2", None, 1),
    _T["DATETIME2"]: ("datetime2", None, 1),
    _T["TIME2"]: ("time2", None, 1),
    _T["YEAR"]: ("year", None, 0),
    _T["VARCHAR"]: ("varchar", None, 2),
    _T["VAR_STRING"]: ("varchar", None, 2),
    _T["STRING"]: ("char", None, 2),
    _T["BIT"]: ("bit", None, 2),
    _T["BLOB"]: ("blob", None, 1),
    _T["JSON"]: ("jsonb", None, 1),
    _T["GEOMETRY"]: ("geometry", None, 1),
}


def _lenenc(buf: bytes, pos: int) -> tuple[int, int]:
    b0 = buf[pos]
    if b0 < 0xFB:
        return b0, pos + 1
    if b0 == 0xFC:
        return int.from_bytes(buf[pos + 1 : pos + 3], "little"), pos + 3
    if b0 == 0xFD:
        return int.from_bytes(buf[pos + 1 : pos + 4], "little"), pos + 4
    if b0 == 0xFE:
        return int.from_bytes(buf[pos + 1 : pos + 9], "little"), pos + 9
    raise ValueError(f"invalid length-encoded int prefix 0x{b0:02x} at {pos}")


def _enc_lenenc(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + n.to_bytes(2, "little")
    if n < 1 << 24:
        return b"\xfd" + n.to_bytes(3, "little")
    return b"\xfe" + n.to_bytes(8, "little")


# --------------------------------------------------------------------- #
# event header
# --------------------------------------------------------------------- #


def decode_event_header(ev: bytes, checksums: bool | None = None) -> dict:
    """v4 common header (19 bytes): ts, type, server_id, event_len,
    next_pos, flags.

    ``event_len`` covers the whole wire event — and on a
    checksum-enabled master (``binlog_checksum=CRC32``, the 5.6+
    default) that INCLUDES the 4-byte CRC32 tail.  The dump/deframe
    layer validates and strips the tail without rewriting the header
    (the LogDecoder.java:112-124 ``eventLen -= BINLOG_CHECKSUM_LEN``
    truncation, expressed as tolerance here), so two byte counts are
    legal: ``elen == len(ev)`` (checksum off) and ``elen == len(ev) +
    BINLOG_CHECKSUM_LEN`` (CRC32 tail stripped upstream, reported as
    ``checksum_stripped=True``).  Any other mismatch means the stream
    was mis-framed and must fail loudly, not mis-walk.

    ``checksums`` narrows that to one form when the caller knows the
    stream's checksum mode: ``False`` (no CRC32 tails) accepts only
    ``elen == len(ev)``, so an event 4 bytes short is not mistaken for
    a stripped one; ``True`` (tails stripped upstream) accepts only
    ``elen == len(ev) + 4``.  ``None``, the default, accepts either."""
    if len(ev) < EVENT_HEADER_LEN:
        raise ValueError(f"event is {len(ev)} bytes, header needs 19")
    ts, etype, server_id, elen, next_pos, flags = struct.unpack_from(
        "<IBIIIH", ev, 0
    )
    legal = {
        None: (len(ev), len(ev) + BINLOG_CHECKSUM_LEN),
        False: (len(ev),),
        True: (len(ev) + BINLOG_CHECKSUM_LEN,),
    }[checksums]
    if elen not in legal:
        raise ValueError(
            f"event header declares {elen} bytes, got {len(ev)} "
            f"(mis-framed stream, checksums={checksums} — a stripped "
            f"CRC32 tail would leave exactly len+{BINLOG_CHECKSUM_LEN})"
        )
    return {
        "ts": ts, "type": etype, "server_id": server_id,
        "event_len": elen, "next_pos": next_pos, "flags": flags,
        "checksum_stripped": elen == len(ev) + BINLOG_CHECKSUM_LEN,
    }


def encode_event(
    etype: int, body: bytes, ts: int = 0, server_id: int = 1, next_pos: int = 0,
    flags: int = 0, checksum_len: int = 0,
) -> bytes:
    """Test-vector / loopback-master side of :func:`decode_event_header`.

    ``checksum_len=BINLOG_CHECKSUM_LEN`` builds the header a CONFORMANT
    checksum-enabled master writes: ``event_len`` counts the CRC32 tail
    the master appends on the wire (the tail itself is appended by the
    transport — LoopbackMaster / ``append_checksum`` — over these exact
    header+body bytes, matching a real master's CRC coverage).  Feed
    such events to a ``checksum=True`` master; plain ``checksum_len=0``
    events are the checksum-off / file-path form."""
    elen = EVENT_HEADER_LEN + len(body) + checksum_len
    return struct.pack("<IBIIIH", ts, etype, server_id, elen, next_pos, flags) + body


# --------------------------------------------------------------------- #
# TABLE_MAP
# --------------------------------------------------------------------- #


def decode_table_map(
    body: bytes,
    overlay: list[dict] | None = None,
    overlay_registry: dict[tuple[str, str], list[dict]] | None = None,
) -> tuple[int, str, str, list[ColumnSpec]]:
    """TABLE_MAP body → (table_id, db, table, specs).  The published
    layout: table_id(6) flags(2) db_len(1) db NUL tbl_len(1) tbl NUL
    col_count(lenenc) type_codes meta_len(lenenc) per-type metadata
    null-bitmap.  ``overlay`` supplies what the binlog cannot: names,
    unsigned flags, charsets (one dict per column position);
    ``overlay_registry`` is the keyed form — the per-column list is
    looked up under the (db, table) THIS body names, so callers never
    re-walk the name fields themselves (the stream walk passes its
    whole schema registry here)."""
    table_id = int.from_bytes(body[0:6], "little")
    pos = 8  # 6-byte table id + 2-byte flags
    dlen = body[pos]
    db = body[pos + 1 : pos + 1 + dlen].decode("utf-8")
    pos += 2 + dlen  # len + name + NUL
    tlen = body[pos]
    table = body[pos + 1 : pos + 1 + tlen].decode("utf-8")
    pos += 2 + tlen
    if overlay_registry is not None:
        if overlay is not None:
            raise ValueError("pass overlay or overlay_registry, not both")
        overlay = overlay_registry.get((db, table))
    n_cols, pos = _lenenc(body, pos)
    type_codes = list(body[pos : pos + n_cols])
    pos += n_cols
    meta_len, pos = _lenenc(body, pos)
    meta_end = pos + meta_len
    specs: list[ColumnSpec] = []
    for i, tc in enumerate(type_codes):
        info = _TYPE_INFO.get(tc)
        if info is None:
            raise ValueError(
                f"{db}.{table} column {i}: unsupported wire type code {tc}"
            )
        kind, ukind, n_meta = info
        if tc == _T["STRING"]:
            # 2 bytes: real-type/upper-bits byte, then length byte (the
            # bug#37426 packing char_meta() unpacks)
            raw = (body[pos] << 8) | body[pos + 1]
            real, _ = char_meta(raw)
            if real == _T["ENUM"]:
                kind, meta = "enum", (raw & 0xFF,)
            elif real == _T["SET"]:
                kind, meta = "set", (raw & 0xFF,)
            else:
                meta = (raw,)
            pos += 2
        elif tc == _T["BIT"]:
            meta = (body[pos] + 8 * body[pos + 1],)  # bits%8, bytes
            pos += 2
        elif tc in (_T["VARCHAR"], _T["VAR_STRING"]):
            meta = (int.from_bytes(body[pos : pos + 2], "little"),)
            pos += 2
        elif tc == _T["NEWDECIMAL"]:
            meta = (body[pos], body[pos + 1])  # precision, scale
            pos += 2
        elif n_meta == 1:
            w = body[pos]
            pos += 1
            if tc in (_T["FLOAT"], _T["DOUBLE"]):
                want = 4 if tc == _T["FLOAT"] else 8
                if w != want:
                    raise ValueError(f"float/double pack length {w} != {want}")
                meta = ()
            else:
                meta = (w,)  # fsp, or blob/json/geometry length bytes
        else:
            meta = ()
        ov = (overlay[i] if overlay and i < len(overlay) else {}) or {}
        if ov.get("unsigned"):
            if ukind is None:
                raise ValueError(
                    f"{db}.{table} column {i}: unsigned overlay on "
                    f"non-integer wire type {tc}"
                )
            kind = ukind
        specs.append(
            ColumnSpec(
                name=ov.get("name", f"c{i}"),
                kind=kind,
                meta=meta,
                charset=ov.get("charset", 33),
            )
        )
    if pos != meta_end:
        raise ValueError(f"table-map metadata mis-walk: {pos} != {meta_end}")
    return table_id, db, table, specs


def encode_table_map(
    table_id: int, db: str, table: str, columns: list[tuple[int, tuple]]
) -> bytes:
    """Fixture/loopback side: columns = [(type_code, meta_tuple)] with
    meta in the same convention decode_table_map produces (varchar:
    (max_bytes,); char: (raw_meta,); newdecimal: (P, S); bit: (bits,);
    fsp/len-bytes: (n,))."""
    body = bytearray(table_id.to_bytes(6, "little") + b"\x01\x00")
    dbb, tbb = db.encode(), table.encode()
    body += bytes([len(dbb)]) + dbb + b"\x00"
    body += bytes([len(tbb)]) + tbb + b"\x00"
    body += _enc_lenenc(len(columns))
    body += bytes(tc for tc, _ in columns)
    meta = bytearray()
    for tc, m in columns:
        if tc == _T["STRING"]:
            meta += bytes([m[0] >> 8, m[0] & 0xFF])
        elif tc == _T["BIT"]:
            meta += bytes([m[0] % 8, m[0] // 8])
        elif tc in (_T["VARCHAR"], _T["VAR_STRING"]):
            meta += int(m[0]).to_bytes(2, "little")
        elif tc == _T["NEWDECIMAL"]:
            meta += bytes([m[0], m[1]])
        elif tc == _T["FLOAT"]:
            meta += bytes([4])
        elif tc == _T["DOUBLE"]:
            meta += bytes([8])
        elif _TYPE_INFO.get(tc, (None, None, 0))[2] == 1:
            meta += bytes([m[0]])
        # unknown codes carry no metadata here; the decode side rejects
        # them with a clear error (the fixture for that test path)
    body += _enc_lenenc(len(meta)) + meta
    body += bytes((len(columns) + 7) // 8)  # null-allowed bitmap (unused here)
    return bytes(body)


# --------------------------------------------------------------------- #
# ROWS events
# --------------------------------------------------------------------- #


def _walk_image(buf: bytes, pos: int, specs: list[ColumnSpec]) -> int:
    """End offset of one row image starting at pos (null bitmap + packed
    non-null values) — the boundary walk split_row_images repeats
    per-column; shared logic via _col_width."""
    nbm = (len(specs) + 7) // 8
    bitmap = buf[pos : pos + nbm]
    p = pos + nbm
    for i, spec in enumerate(specs):
        if bitmap[i // 8] >> (i % 8) & 1:
            continue
        _, p = _col_width(spec, buf, p)
    return p


def decode_rows_body(
    body: bytes, op: str, version: int, specs: list[ColumnSpec]
) -> tuple[int, list[tuple[bytes, bytes | None]]]:
    """ROWS event body → (table_id, [(image, before_image|None)]).
    UPDATE rows carry (after, before); WRITE/DELETE carry (image, None).
    Only full row images are supported (binlog_row_image=FULL, the
    default and what the reference decodes) — a partial present-bitmap
    raises rather than mis-assigning columns."""
    table_id = int.from_bytes(body[0:6], "little")
    pos = 8
    if version == 2:
        extra_len = int.from_bytes(body[pos : pos + 2], "little")
        pos += extra_len
    n_cols, pos = _lenenc(body, pos)
    if n_cols != len(specs):
        raise ValueError(
            f"rows event has {n_cols} columns, table map declared {len(specs)}"
        )
    nbm = (n_cols + 7) // 8
    full = bytearray(nbm)
    for i in range(n_cols):
        full[i // 8] |= 1 << (i % 8)

    def check_present(b: bytes) -> None:
        if bytes(b) != bytes(full):
            raise NotImplementedError(
                "partial row images (binlog_row_image=MINIMAL/NOBLOB) not "
                f"supported: present bitmap {bytes(b).hex()} != "
                f"{bytes(full).hex()}"
            )

    check_present(body[pos : pos + nbm])
    pos += nbm
    if op == "U":
        check_present(body[pos : pos + nbm])
        pos += nbm
    rows: list[tuple[bytes, bytes | None]] = []
    while pos < len(body):
        end1 = _walk_image(body, pos, specs)
        img1 = body[pos:end1]
        pos = end1
        if op == "U":
            end2 = _walk_image(body, pos, specs)
            rows.append((body[pos:end2], img1))  # (after, before)
            pos = end2
        else:
            rows.append((img1, None))
    return table_id, rows


def encode_rows_event(
    table_id: int,
    op: str,
    images: list[tuple[bytes, bytes | None]],
    n_cols: int,
    version: int = 2,
) -> tuple[int, bytes]:
    """Fixture/loopback side → (event_type_code, body).  ``images`` are
    (image, before_image|None) pairs as produced by encode_row_images."""
    codes = {
        ("I", 2): WRITE_ROWS_V2, ("U", 2): UPDATE_ROWS_V2,
        ("D", 2): DELETE_ROWS_V2, ("I", 1): WRITE_ROWS_V1,
        ("U", 1): UPDATE_ROWS_V1, ("D", 1): DELETE_ROWS_V1,
    }
    body = bytearray(table_id.to_bytes(6, "little") + b"\x01\x00")
    if version == 2:
        body += (2).to_bytes(2, "little")  # extra data: just the length
    body += _enc_lenenc(n_cols)
    nbm = (n_cols + 7) // 8
    full = bytearray(nbm)
    for i in range(n_cols):
        full[i // 8] |= 1 << (i % 8)
    body += full
    if op == "U":
        body += full
    for img, before in images:
        if op == "U":
            if before is None:
                raise ValueError("UPDATE rows need a before image")
            body += before + img  # wire order: before, then after
        else:
            body += img
    return codes[(op, version)], bytes(body)


# --------------------------------------------------------------------- #
# other event bodies (encode + decode, symmetric)
# --------------------------------------------------------------------- #


def encode_gtid_body(sid_hex: str, gno: int, flags: int = 1) -> bytes:
    import uuid

    return bytes([flags]) + uuid.UUID(sid_hex).bytes + gno.to_bytes(8, "little")


def decode_gtid_body(body: bytes) -> tuple[str, int]:
    import uuid

    return str(uuid.UUID(bytes=body[1:17])), int.from_bytes(body[17:25], "little")


def encode_query_body(db: str, sql: str) -> bytes:
    dbb = db.encode()
    return (
        struct.pack("<IIBHH", 0, 0, len(dbb), 0, 0) + dbb + b"\x00" + sql.encode()
    )


def decode_query_body(body: bytes) -> tuple[str, str]:
    _, _, dlen, _, svlen = struct.unpack_from("<IIBHH", body, 0)
    pos = 13 + svlen
    db = body[pos : pos + dlen].decode("utf-8")
    return db, body[pos + dlen + 1 :].decode("utf-8")


def encode_xid_body(xid: int) -> bytes:
    return xid.to_bytes(8, "little")


def encode_rotate_body(next_log: str, pos: int = 4) -> bytes:
    return pos.to_bytes(8, "little") + next_log.encode()


def encode_format_description_body() -> bytes:
    # binlog v4, padded server version, create ts, header len, zeroed
    # post-header-length array (parser reads none of it), alg byte 0
    return (
        struct.pack("<H", 4)
        + b"8.0.0-binlake".ljust(50, b"\x00")
        + struct.pack("<I", 0)
        + bytes([EVENT_HEADER_LEN])
        + bytes(40)
    )


# --------------------------------------------------------------------- #
# the stream walk
# --------------------------------------------------------------------- #


def parse_binlog_events(
    events: list[bytes],
    schema_overlay: dict[tuple[str, str], list[dict]] | None = None,
    checksums: bool | None = None,
) -> Iterator[dict]:
    """Walk a contiguous checksum-stripped event run and yield one dict
    per logical item, each tagged ``kind``:

    - ``row``: db, table, op, image, before_image, specs, plus the
      enclosing gtid (sid, gno), xid-pending ts/server_id — the unit
      ``decode_row_images`` consumes downstream
    - ``query``: db, sql (DDL feed — operators/ddl.py classifies)
    - ``gtid`` / ``xid`` / ``rotate`` / ``format`` / ``heartbeat``:
      stream plumbing, surfaced for position tracking
    - ``skip``: recognized event with nothing the pipeline needs

    State (table-id → specs from the last TABLE_MAP, current gtid) is
    local to this walk, mirroring the per-connection decode loop of the
    reference (BinlogWorker's LogDecoder context).  ``checksums`` is the
    stream's checksum mode when known (see :func:`decode_event_header`).
    """
    tmaps: dict[int, tuple[str, str, list[ColumnSpec]]] = {}
    cur_sid: str | None = None
    cur_gno: int | None = None
    for idx, ev in enumerate(events):
        h = decode_event_header(ev, checksums)
        body = ev[EVENT_HEADER_LEN:]
        et = h["type"]
        base = {"evt_idx": idx, "ts": h["ts"], "server_id": h["server_id"]}
        if et == FORMAT_DESCRIPTION_EVENT:
            yield {"kind": "format", **base}
        elif et == ROTATE_EVENT:
            yield {
                "kind": "rotate", **base,
                "next_log": body[8:].decode("utf-8", "replace"),
                "pos": int.from_bytes(body[0:8], "little"),
            }
        elif et == GTID_EVENT:
            cur_sid, cur_gno = decode_gtid_body(body)
            yield {"kind": "gtid", **base, "sid": cur_sid, "gno": cur_gno}
        elif et == QUERY_EVENT:
            db, sql = decode_query_body(body)
            yield {"kind": "query", **base, "db": db, "sql": sql,
                   "sid": cur_sid, "gno": cur_gno}
        elif et == XID_EVENT:
            yield {"kind": "xid", **base,
                   "xid": int.from_bytes(body[0:8], "little"),
                   "sid": cur_sid, "gno": cur_gno}
        elif et == TABLE_MAP_EVENT:
            # names/charsets come from the registry overlay, keyed by the
            # db.table the map itself names — resolved inside the single
            # body walk
            tid, db, table, specs = decode_table_map(
                body, overlay_registry=schema_overlay or {}
            )
            tmaps[tid] = (db, table, specs)
            yield {"kind": "table_map", **base, "db": db, "table": table,
                   "table_id": tid, "specs": specs}
        elif et in _ROWS_OPS:
            op, version = _ROWS_OPS[et]
            tid = int.from_bytes(body[0:6], "little")
            if tid not in tmaps:
                raise ValueError(
                    f"rows event {idx} references table id {tid} with no "
                    f"preceding TABLE_MAP in this stream segment — spool "
                    f"blobs must be cut at transaction boundaries "
                    f"(spool_dump flush_after)"
                )
            db, table, specs = tmaps[tid]
            _, rows = decode_rows_body(body, op, version, specs)
            for j, (img, before) in enumerate(rows):
                yield {
                    "kind": "row", **base, "db": db, "table": table,
                    "op": op, "image": img, "before_image": before,
                    "specs": specs, "sid": cur_sid, "gno": cur_gno,
                    "row_idx": j, "log_pos": h["next_pos"],
                }
        elif et in (HEARTBEAT_EVENT, ROWS_QUERY_EVENT):
            yield {"kind": "heartbeat" if et == HEARTBEAT_EVENT else "query",
                   **base,
                   **({"db": "", "sql": body[1:].decode("utf-8", "replace"),
                       "sid": cur_sid, "gno": cur_gno}
                      if et == ROWS_QUERY_EVENT else {})}
        else:
            # known-but-unneeded ids flow through as skip; genuinely
            # unknown ids too — the alarm layer watches for them
            yield {"kind": "skip", **base, "type": et}


# --------------------------------------------------------------------- #
# Spark operator: spooled frames → change rows
# --------------------------------------------------------------------- #


def binlog_rows_stream(
    df,
    frames_col: str = "frames",
    schema_overlay: dict[tuple[str, str], list[dict]] | None = None,
    checksums: bool | None = None,
):
    """Framed binlog blobs → one row per change, in one fused
    ``mapInArrow`` pass (deframe + event walk + row split fused — no
    shuffle; the walk distributes with the scan).

    Input: a DataFrame with ``frames_col`` holding a framed event run
    per row (what ``spool_dump(..., flush_after=xid)`` writes).  Output
    per change row: every other input column passes through, plus
    ``evt_idx`` (event ordinal within its blob), ``db``, ``table``,
    ``op`` (I/U/D), ``ts``, ``server_id``, ``gtid_sid``, ``gno``,
    ``image``, ``before_image``.  Chain
    ``decode_row_images(out.filter(...), "image", specs)`` per table for
    typed columns — specs come from the caller's schema registry, the
    same source the overlay names come from.  ``checksums``: the
    stream's checksum mode when known (see :func:`decode_event_header`).
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    from binlake_spark.functions.framing import split_packets

    fields = [f for f in df.schema.fields if f.name != frames_col]
    out_schema = T.StructType(
        fields
        + [
            T.StructField("evt_idx", T.IntegerType(), False),
            T.StructField("row_idx", T.IntegerType(), False),
            T.StructField("log_pos", T.LongType(), False),
            T.StructField("db", T.StringType(), False),
            T.StructField("table", T.StringType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("ts", T.LongType(), False),
            T.StructField("server_id", T.LongType(), False),
            T.StructField("gtid_sid", T.StringType(), True),
            T.StructField("gno", T.LongType(), True),
            T.StructField("image", T.BinaryType(), False),
            T.StructField("before_image", T.BinaryType(), True),
        ]
    )

    def fn(batches):
        for b in batches:
            names = [n for n in b.schema.names if n != frames_col]
            keep = [b.column(n) for n in names]
            blobs = b.column(frames_col)
            take, evt_idx, row_idx, poss = [], [], [], []
            dbs, tbls, ops = [], [], []
            tss, sids, gsids, gnos, imgs, befores = [], [], [], [], [], []
            for i in range(len(blobs)):
                blob = blobs[i].as_py()
                if blob is None:
                    continue
                events = split_packets(blob)
                for rec in parse_binlog_events(events, schema_overlay, checksums):
                    if rec["kind"] != "row":
                        continue
                    take.append(i)
                    evt_idx.append(rec["evt_idx"])
                    row_idx.append(rec["row_idx"])
                    poss.append(rec["log_pos"])
                    dbs.append(rec["db"])
                    tbls.append(rec["table"])
                    ops.append(rec["op"])
                    tss.append(rec["ts"])
                    sids.append(rec["server_id"])
                    gsids.append(rec["sid"])
                    gnos.append(rec["gno"])
                    imgs.append(rec["image"])
                    befores.append(rec["before_image"])
            idx = pa.array(take, type=pa.int64())
            cols = [c.take(idx) for c in keep] + [
                pa.array(evt_idx, type=pa.int32()),
                pa.array(row_idx, type=pa.int32()),
                pa.array(poss, type=pa.int64()),
                pa.array(dbs, type=pa.string()),
                pa.array(tbls, type=pa.string()),
                pa.array(ops, type=pa.string()),
                pa.array(tss, type=pa.int64()),
                pa.array(sids, type=pa.int64()),
                pa.array(gsids, type=pa.string()),
                pa.array(gnos, type=pa.int64()),
                pa.array(imgs, type=pa.binary()),
                pa.array(befores, type=pa.binary()),
            ]
            out_names = names + [
                "evt_idx", "row_idx", "log_pos", "db", "table", "op", "ts",
                "server_id", "gtid_sid", "gno", "image", "before_image",
            ]
            yield pa.RecordBatch.from_arrays(
                cols, schema=pa.schema(
                    [(n, c.type) for n, c in zip(out_names, cols)]
                )
            )

    return df.mapInArrow(fn, out_schema)
