"""Binlog event-stream grammar (functions/binlog_events.py): headers,
TABLE_MAP metadata, ROWS v1/v2 walks, and the full socket→typed-rows
pipe through the loopback master."""

from __future__ import annotations

from decimal import Decimal

import pytest

from binlake_spark.functions.binlog_decode import (
    decode_row_images,
    encode_char_table_meta,
    encode_row_images,
)
from binlake_spark.functions.binlog_events import (
    GTID_EVENT,
    QUERY_EVENT,
    ROTATE_EVENT,
    TABLE_MAP_EVENT,
    XID_EVENT,
    FORMAT_DESCRIPTION_EVENT,
    _T,
    decode_event_header,
    decode_rows_body,
    decode_table_map,
    encode_event,
    encode_format_description_body,
    encode_gtid_body,
    encode_query_body,
    encode_rotate_body,
    encode_rows_event,
    encode_table_map,
    encode_xid_body,
    binlog_rows_stream,
    parse_binlog_events,
)

SID = "e6954592-8dba-11e6-af0e-fa163e1cf111"

#: docs table wire schema: (type_code, meta) + the registry overlay
DOCS_COLS = [
    (_T["LONG"], ()),                              # id int
    (_T["VARCHAR"], (300,)),                       # title varchar(100) utf8mb4
    (_T["NEWDECIMAL"], (10, 4)),                   # price decimal(10,4)
    (_T["STRING"], (encode_char_table_meta(12),)), # code char(12)
    (_T["BLOB"], (2,)),                            # payload blob
]
DOCS_OVERLAY = [
    {"name": "id"}, {"name": "title"}, {"name": "price"},
    {"name": "code"}, {"name": "payload"},
]
USERS_COLS = [
    (_T["TINY"], ()),          # flag tinyint unsigned
    (_T["DATETIME2"], (3,)),   # created datetime(3)
]
USERS_OVERLAY = [{"name": "flag", "unsigned": True}, {"name": "created"}]

DOCS_ROWS = [
    {"id": 1, "title": "hello world", "price": Decimal("12.3456"),
     "code": "abc", "payload": b"\x01\x02"},
    {"id": 2, "title": None, "price": Decimal("-0.5000"),
     "code": None, "payload": b""},
]
DOCS_UPDATED = {"id": 1, "title": "hello again", "price": Decimal("99.0000"),
                "code": "xyz", "payload": b"\xff"}


def _specs(cols, overlay):
    _, _, _, specs = decode_table_map(encode_table_map(7, "d", "t", cols), overlay)
    return specs


def _build_stream() -> tuple[list[bytes], dict]:
    """FDE, ROTATE, then two transactions over two tables; returns the
    events plus the expected decode targets."""
    overlay = {("shop", "docs"): DOCS_OVERLAY, ("shop", "users"): USERS_OVERLAY}
    docs_specs = _specs(DOCS_COLS, DOCS_OVERLAY)
    users_specs = _specs(USERS_COLS, USERS_OVERLAY)

    import pandas as pd

    users_rows = [{"flag": 200, "created": pd.Timestamp("2026-01-02 03:04:05.678")}]
    ev = [
        encode_event(FORMAT_DESCRIPTION_EVENT, encode_format_description_body()),
        encode_event(ROTATE_EVENT, encode_rotate_body("binlog.000042")),
        # txn 1: insert 2 docs, update 1, on table id 23
        encode_event(GTID_EVENT, encode_gtid_body(SID, 101)),
        encode_event(QUERY_EVENT, encode_query_body("shop", "BEGIN")),
        encode_event(
            TABLE_MAP_EVENT, encode_table_map(23, "shop", "docs", DOCS_COLS)
        ),
        encode_event(
            *encode_rows_event(
                23, "I",
                [(i, None) for i in encode_row_images(DOCS_ROWS, docs_specs)],
                len(DOCS_COLS),
            )
        ),
        encode_event(
            *encode_rows_event(
                23, "U",
                [(encode_row_images([DOCS_UPDATED], docs_specs)[0],
                  encode_row_images([DOCS_ROWS[0]], docs_specs)[0])],
                len(DOCS_COLS),
            )
        ),
        encode_event(XID_EVENT, encode_xid_body(5001)),
        # txn 2: insert then delete (v1 event) on users, table id 24
        encode_event(GTID_EVENT, encode_gtid_body(SID, 102)),
        encode_event(
            TABLE_MAP_EVENT, encode_table_map(24, "shop", "users", USERS_COLS)
        ),
        encode_event(
            *encode_rows_event(
                24, "I",
                [(encode_row_images(users_rows, users_specs)[0], None)],
                len(USERS_COLS),
            )
        ),
        encode_event(
            *encode_rows_event(
                24, "D",
                [(encode_row_images(users_rows, users_specs)[0], None)],
                len(USERS_COLS), version=1,
            )
        ),
        encode_event(XID_EVENT, encode_xid_body(5002)),
    ]
    return ev, {"overlay": overlay, "docs_specs": docs_specs,
                "users_specs": users_specs, "users_rows": users_rows}


# --------------------------------------------------------------------- #


def test_event_header_roundtrip_and_length_check():
    ev = encode_event(XID_EVENT, encode_xid_body(9), ts=1234, server_id=7,
                      next_pos=555, flags=1)
    h = decode_event_header(ev)
    assert h == {"ts": 1234, "type": XID_EVENT, "server_id": 7,
                 "event_len": len(ev), "next_pos": 555, "flags": 1,
                 "checksum_stripped": False}
    with pytest.raises(ValueError, match="declares"):
        decode_event_header(ev + b"XX")  # +2: no legal form
    with pytest.raises(ValueError, match="declares"):
        decode_event_header(ev[:-1])  # truncated


def test_event_header_known_checksum_mode_allows_one_form():
    """With checksums known to be off there is no CRC32 tail to strip,
    so an event 4 bytes short is mis-framed, not stripped."""
    ev = encode_event(XID_EVENT, encode_xid_body(9), ts=1234)
    short = ev[:-4]
    assert decode_event_header(short)["checksum_stripped"] is True
    with pytest.raises(ValueError, match="declares"):
        decode_event_header(short, checksums=False)
    assert decode_event_header(ev, checksums=False)["checksum_stripped"] is False
    # tails known stripped: the unstripped length form is the wrong one
    assert decode_event_header(short, checksums=True)["checksum_stripped"] is True
    with pytest.raises(ValueError, match="declares"):
        decode_event_header(ev, checksums=True)
    with pytest.raises(ValueError, match="declares"):
        list(parse_binlog_events([short], checksums=False))


def test_event_header_conformant_checksum_master():
    """A REAL CRC32 master's event_len counts the 4-byte tail it
    appends (the loopback fixtures used to exclude it, masking a
    live-master incompatibility): after validate-and-strip, the header
    declares len+4 and must decode with checksum_stripped=True — the
    LogDecoder.java:112-124 eventLen truncation expressed as
    tolerance."""
    from binlake_spark.functions.framing import (
        BINLOG_CHECKSUM_LEN,
        append_checksum,
        _strip_checksum,
    )

    ev = encode_event(XID_EVENT, encode_xid_body(7), ts=99,
                      checksum_len=BINLOG_CHECKSUM_LEN)
    wire = append_checksum(ev)  # what the master puts on the socket
    h_wire = struct_unpack_elen(wire)
    assert h_wire == len(wire)  # conformant: elen covers the CRC tail
    stripped = _strip_checksum(wire, "(test)")
    h = decode_event_header(stripped)
    assert h["checksum_stripped"] is True
    assert h["event_len"] == len(stripped) + BINLOG_CHECKSUM_LEN
    # and the full stream walk accepts the stripped conformant run
    recs = list(parse_binlog_events([stripped]))
    assert [r["kind"] for r in recs] == ["xid"]
    assert recs[0]["xid"] == 7


def struct_unpack_elen(ev: bytes) -> int:
    import struct

    return struct.unpack_from("<I", ev, 9)[0]


def test_table_map_metadata_all_kinds():
    cols = DOCS_COLS + USERS_COLS + [
        (_T["DOUBLE"], ()), (_T["BIT"], (13,)), (_T["JSON"], (4,)),
        (_T["GEOMETRY"], (4,)), (_T["DATE"], ()), (_T["YEAR"], ()),
        (_T["TIME2"], (6,)), (_T["TIMESTAMP2"], (0,)),
        (_T["STRING"], ((247 << 8) | 1,)),  # ENUM under STRING, 1-byte pack
        (_T["STRING"], ((248 << 8) | 2,)),  # SET under STRING, 2-byte pack
    ]
    tid, db, tbl, specs = decode_table_map(
        encode_table_map(99, "mydb", "mytab", cols)
    )
    assert (tid, db, tbl) == (99, "mydb", "mytab")
    kinds = [s.kind for s in specs]
    assert kinds == [
        "int32", "varchar", "newdecimal", "char", "blob",
        "int8", "datetime2",
        "double", "bit", "jsonb", "geometry", "date", "year",
        "time2", "timestamp2", "enum", "set",
    ]
    by = {f"c{i}": s for i, s in enumerate(specs)}
    assert by["c1"].meta == (300,)
    assert by["c2"].meta == (10, 4)
    assert by["c3"].meta == (encode_char_table_meta(12),)
    assert by["c8"].meta == (13,)       # bit: bits%8 + 8*bytes round-trip
    assert by["c15"].meta == (1,) and by["c16"].meta == (2,)
    with pytest.raises(ValueError, match="unsupported wire type"):
        decode_table_map(encode_table_map(1, "d", "t", [(6, ())]))  # NULL type


def test_table_map_overlay_registry_lookup():
    """The keyed overlay form: the registry is resolved under the
    (db, table) the body itself names, inside the single walk — no
    caller re-parse of the name fields."""
    body = encode_table_map(5, "shop", "docs", [(_T["TINY"], ())])
    reg = {("shop", "docs"): [{"name": "flag", "unsigned": True}],
           ("shop", "other"): [{"name": "WRONG"}]}
    tid, db, tbl, specs = decode_table_map(body, overlay_registry=reg)
    assert (tid, db, tbl) == (5, "shop", "docs")
    assert specs[0].name == "flag" and specs[0].kind == "uint8"
    # unknown table → generic labels, not an error
    _, _, _, bare = decode_table_map(
        encode_table_map(6, "shop", "users", [(_T["TINY"], ())]),
        overlay_registry=reg,
    )
    assert bare[0].name == "c0" and bare[0].kind == "int8"
    with pytest.raises(ValueError, match="not both"):
        decode_table_map(body, overlay=[{}], overlay_registry=reg)


def test_unsigned_overlay_rules():
    specs = _specs([(_T["TINY"], ())], [{"name": "f", "unsigned": True}])
    assert specs[0].kind == "uint8" and specs[0].name == "f"
    with pytest.raises(ValueError, match="unsigned overlay"):
        _specs([(_T["VARCHAR"], (10,))], [{"unsigned": True}])


def test_rows_body_update_order_and_partial_bitmap():
    specs = _specs(DOCS_COLS, DOCS_OVERLAY)
    before = encode_row_images([DOCS_ROWS[0]], specs)[0]
    after = encode_row_images([DOCS_UPDATED], specs)[0]
    et, body = encode_rows_event(23, "U", [(after, before)], len(DOCS_COLS))
    tid, rows = decode_rows_body(body, "U", 2, specs)
    assert tid == 23 and rows == [(after, before)]
    # flip a present bit → must refuse, not mis-assign columns
    mutated = bytearray(body)
    mutated[10 + 1] ^= 0x01  # first present bitmap byte (after extra+count)
    with pytest.raises(NotImplementedError, match="partial row images"):
        decode_rows_body(bytes(mutated), "U", 2, specs)


def test_parse_stream_records_and_missing_table_map():
    events, ctx = _build_stream()
    recs = list(parse_binlog_events(events, ctx["overlay"]))
    kinds = [r["kind"] for r in recs]
    assert kinds == [
        "format", "rotate", "gtid", "query", "table_map", "row", "row",
        "row", "xid", "gtid", "table_map", "row", "row", "xid",
    ]
    rows = [r for r in recs if r["kind"] == "row"]
    assert [r["op"] for r in rows] == ["I", "I", "U", "I", "D"]
    assert [r["gno"] for r in rows] == [101, 101, 101, 102, 102]
    assert all(r["sid"] == SID for r in rows)
    assert rows[2]["before_image"] is not None  # the update pre-image
    # a rows event with no table map in the segment fails loudly
    with pytest.raises(ValueError, match="no preceding TABLE_MAP"):
        list(parse_binlog_events(events[5:6], ctx["overlay"]))


def test_socket_to_typed_rows_end_to_end(spark, tmp_path):
    """The complete live path: loopback master → authenticated dump →
    CRC strip → spool cut at XID → Spark deframe+walk → per-table
    row-image decode → typed values equal the source dicts."""
    from pyspark.sql import functions as F

    from binlake_spark.functions.binlog_events import XID_EVENT
    from binlake_spark.operators.gtid import GTIDSet
    from binlake_spark.sources.socket_dump import (
        BinlogDumpClient,
        LoopbackMaster,
        spool_dump,
        spooled_frames,
    )

    events, ctx = _build_stream()
    spool = str(tmp_path / "spool")

    def is_xid(ev: bytes) -> bool:
        return ev[4] == XID_EVENT

    with LoopbackMaster("u", "pw", events) as m:
        with BinlogDumpClient("127.0.0.1", m.port, "u", "pw", server_id=9) as c:
            n = spool_dump(
                c.dump(gtid_set=GTIDSet.parse(f"{SID}:1-100")),
                spool,
                flush_after=is_xid,
            )
    assert n == len(events)

    # binlog_rows_stream consumes the RAW framed blobs (it fuses the
    # deframe into its own walk); spooled_frames is the per-event view
    frames = spark.read.parquet(spool).select("blob_id", "frames")
    # cut at each XID: [FDE..XID 5001], [GTID..XID 5002]
    assert frames.count() == 2
    assert spooled_frames(spark, spool).count() == len(events)
    changes = binlog_rows_stream(frames, schema_overlay=ctx["overlay"])
    got = changes.orderBy("blob_id", "evt_idx").collect()
    assert [r.op for r in got] == ["I", "I", "U", "I", "D"]
    assert [r.gno for r in got] == [101, 101, 101, 102, 102]
    assert {r.table for r in got} == {"docs", "users"}

    docs = decode_row_images(
        changes.filter(F.col("table") == "docs").select(
            "op", "gno", "evt_idx", "image"
        ),
        "image",
        ctx["docs_specs"],
    ).orderBy("evt_idx", "id").collect()
    assert [(r.op, r.id, r.title, str(r.price), r.code,
             bytes(r.payload) if r.payload is not None else None)
            for r in docs] == [
        ("I", 1, "hello world", "12.3456", "abc", b"\x01\x02"),
        ("I", 2, None, "-0.5000", None, b""),
        ("U", 1, "hello again", "99.0000", "xyz", b"\xff"),
    ]
    users = decode_row_images(
        changes.filter(F.col("table") == "users").select("op", "image"),
        "image",
        ctx["users_specs"],
    ).collect()
    assert [(r.op, r.flag) for r in users] == [("I", 200), ("D", 200)]
    assert all(
        str(r.created) == "2026-01-02 03:04:05.678000" for r in users
    )
