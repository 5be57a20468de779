"""Live socket dump source (sources/socket_dump.py) against an
in-process fake mysqld speaking the published wire protocol.

The fake server is the VERIFIER, not a mirror: it validates the
client's auth response the way a real server does (from the stored
SHA1(SHA1(password)) double hash, never by re-running the client's
scramble function), parses COM_BINLOG_DUMP_GTID with its own inline
struct walk, and streams events with real CRC32 tails — so a bug in the
client codec fails these tests instead of round-tripping through it.
"""

from __future__ import annotations

import hashlib
import os
import socket
import socketserver
import struct
import threading
import uuid as _uuid

import pytest

from binlake_spark.functions.framing import (
    append_checksum,
    frame_payloads,
    split_packets,
)
from binlake_spark.operators.gtid import GTIDSet
from binlake_spark.sources.socket_dump import (
    BINLOG_THROUGH_GTID,
    BinlogDumpClient,
    MySQLError,
    build_com_binlog_dump_gtid,
    decode_gtid_set,
    decode_handshake_v10,
    encode_gtid_set,
    read_packet,
    scramble_native_password,
    spool_dump,
    spooled_frames,
    write_packet,
)

SEED = bytes(range(1, 21))  # 20-byte auth seed the fake server hands out
USER, PASSWORD = "replica", "s3cret"
#: deterministic opaque "binlog events" (the socket layer never
#: interprets them; sizes straddle small/large to exercise buffering)
EVENTS = [
    bytes([i % 251]) * (17 + 97 * i % 993) + i.to_bytes(4, "little")
    for i in range(40)
]


def _send_packet(sock, payload: bytes, seq: int) -> int:
    sock.sendall(frame_payloads([payload], start_seq=seq))
    return (seq + 1) & 0xFF


def _recv_exact(sock, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        c = sock.recv(n - len(buf))
        if not c:
            raise ConnectionError("peer closed")
        buf += c
    return buf


def _recv_packet(sock) -> tuple[bytes, int]:
    head = _recv_exact(sock, 4)
    length = int.from_bytes(head[:3], "little")
    return _recv_exact(sock, length), head[3]


class FakeMysqld(socketserver.ThreadingTCPServer):
    """Minimal master: HandshakeV10 → auth check → OK; then COM_QUERY /
    COM_REGISTER_SLAVE → OK, COM_BINLOG_DUMP(_GTID) → event stream + EOF."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, checksum: bool = True, corrupt_event: int | None = None,
                 fail_queries: bool = False):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.checksum = checksum
        self.corrupt_event = corrupt_event
        self.fail_queries = fail_queries
        # what a real server stores in mysql.user: the DOUBLE sha1
        self.stored_hash2 = hashlib.sha1(
            hashlib.sha1(PASSWORD.encode()).digest()
        ).digest()
        self.seen_queries: list[str] = []
        self.seen_dump: dict | None = None
        self.registered = False

    def __enter__(self):
        threading.Thread(target=self.serve_forever, daemon=True).start()
        return self

    def __exit__(self, *exc):
        self.shutdown()
        self.server_close()


class _Handler(socketserver.BaseRequestHandler):
    def handle(self):  # noqa: C901 - a protocol switch is a switch
        srv: FakeMysqld = self.server  # type: ignore[assignment]
        sock = self.request
        # HandshakeV10: proto 0x0a, version, thread id, seed part1(8),
        # filler, caps lo, charset, status, caps hi, auth len, 10
        # reserved, seed part2(12)+NUL, plugin name
        caps = 0x0200 | 0x8000 | 0x00080000 | 0x0001 | 0x0004 | 0x2000
        hs = bytearray(b"\x0a" + b"8.0.99-fake\x00")
        hs += struct.pack("<I", 7)
        hs += SEED[:8] + b"\x00"
        hs += struct.pack("<H", caps & 0xFFFF)
        hs += bytes([33]) + struct.pack("<H", 2)
        hs += struct.pack("<H", caps >> 16)
        hs += bytes([21]) + b"\x00" * 10
        hs += SEED[8:20] + b"\x00"
        hs += b"mysql_native_password\x00"
        seq = _send_packet(sock, bytes(hs), 0)
        resp, got_seq = _recv_packet(sock)
        assert got_seq == seq
        # parse HandshakeResponse41: caps(4) maxpkt(4) charset(1) 23
        # filler, user NUL, authlen(1), auth
        pos = 4 + 4 + 1 + 23
        nul = resp.index(b"\x00", pos)
        user = resp[pos:nul].decode()
        pos = nul + 1
        alen = resp[pos]
        auth = resp[pos + 1 : pos + 1 + alen]
        # server-side native-password check (the real algorithm): from
        # the response and the seed, recover candidate SHA1(pwd) and
        # verify its sha1 equals the stored double hash
        mix = hashlib.sha1(SEED + srv.stored_hash2).digest()
        candidate_hash1 = bytes(a ^ b for a, b in zip(auth, mix))
        ok = (
            user == USER
            and len(auth) == 20
            and hashlib.sha1(candidate_hash1).digest() == srv.stored_hash2
        )
        if not ok:
            _send_packet(
                sock,
                b"\xff" + struct.pack("<H", 1045) + b"#28000Access denied",
                (got_seq + 1) & 0xFF,
            )
            return
        _send_packet(sock, b"\x00\x00\x00\x02\x00\x00\x00", (got_seq + 1) & 0xFF)

        while True:
            try:
                cmd, cseq = _recv_packet(sock)
            except ConnectionError:
                return
            assert cseq == 0, "commands reset the sequence id"
            if not cmd or cmd[0] == 0x01:  # COM_QUIT
                return
            if cmd[0] == 0x03:  # COM_QUERY
                srv.seen_queries.append(cmd[1:].decode())
                if srv.fail_queries:  # e.g. restricted replica user
                    _send_packet(
                        sock,
                        b"\xff" + struct.pack("<H", 1227)
                        + b"#42000Access denied; you need SUPER",
                        1,
                    )
                else:
                    _send_packet(sock, b"\x00\x00\x00\x02\x00\x00\x00", 1)
            elif cmd[0] == 0x15:  # COM_REGISTER_SLAVE
                srv.registered = True
                _send_packet(sock, b"\x00\x00\x00\x02\x00\x00\x00", 1)
            elif cmd[0] in (0x12, 0x1E):  # dump
                srv.seen_dump = self._parse_dump(cmd)
                seq = 1
                for i, ev in enumerate(EVENTS):
                    wire = append_checksum(ev) if srv.checksum else ev
                    if i == srv.corrupt_event:
                        wire = wire[:-1] + bytes([wire[-1] ^ 0xFF])
                    seq = _send_packet(sock, b"\x00" + wire, seq)
                _send_packet(sock, b"\xfe\x00\x00\x02\x00", seq)  # EOF
            else:
                raise AssertionError(f"unexpected command 0x{cmd[0]:02x}")

    @staticmethod
    def _parse_dump(cmd: bytes) -> dict:
        if cmd[0] == 0x12:  # COM_BINLOG_DUMP: pos(4) flags(2) sid(4) name
            pos, flags, sid = struct.unpack_from("<IHI", cmd, 1)
            return {
                "kind": "filepos",
                "pos": pos,
                "flags": flags,
                "server_id": sid,
                "filename": cmd[11:].decode(),
            }
        # COM_BINLOG_DUMP_GTID: flags(2) sid(4) namelen(4) name pos(8)
        # datalen(4) data — walked inline, independent of the client codec
        flags, sid, namelen = struct.unpack_from("<HII", cmd, 1)
        p = 11 + namelen
        (pos,) = struct.unpack_from("<Q", cmd, p)
        (datalen,) = struct.unpack_from("<I", cmd, p + 8)
        data = cmd[p + 12 : p + 12 + datalen]
        assert p + 12 + datalen == len(cmd)
        (n_sids,) = struct.unpack_from("<Q", data, 0)
        gtids, q = {}, 8
        for _ in range(n_sids):
            u = str(_uuid.UUID(bytes=data[q : q + 16]))
            (n_iv,) = struct.unpack_from("<Q", data, q + 16)
            q += 24
            ivs = []
            for _ in range(n_iv):
                lo, end = struct.unpack_from("<QQ", data, q)
                ivs.append((lo, end - 1))  # wire is end+1 (half-open)
                q += 16
            gtids[u] = ivs
        return {
            "kind": "gtid",
            "flags": flags,
            "server_id": sid,
            "pos": pos,
            "gtids": gtids,
        }


def _client(srv: FakeMysqld, password: str = PASSWORD, **kw) -> BinlogDumpClient:
    host, port = srv.server_address
    return BinlogDumpClient(
        host,
        port,
        USER,
        password,
        server_id=4321,
        checksum_alg="crc32" if srv.checksum else "off",
        **kw,
    )


# --------------------------------------------------------------------- #


def test_handshake_auth_and_checksum_announce():
    with FakeMysqld() as srv, _client(srv) as c:
        assert c.handshake.server_version == "8.0.99-fake"
        assert c.handshake.seed == SEED
        assert c.handshake.auth_plugin == "mysql_native_password"
        assert srv.seen_queries == ["SET @master_binlog_checksum = 'CRC32'"]


def test_checksum_announce_failure_closes_socket():
    """The checksum SET runs after auth, outside the handshake guard —
    its failure escapes __enter__, so __exit__ never runs and the
    connected socket must be closed by connect() itself (a dangling
    replica connection per retry would pile up under the resume loop)."""
    with FakeMysqld(fail_queries=True) as srv:
        c = _client(srv)
        with pytest.raises(MySQLError) as ei:
            c.connect()
        assert ei.value.code == 1227
        assert c._sock is None  # closed, not leaked


def test_wrong_password_is_err_1045():
    with FakeMysqld() as srv:
        with pytest.raises(MySQLError) as ei:
            _client(srv, password="nope").connect()
        assert ei.value.code == 1045
        assert ei.value.sqlstate == "28000"


def test_dump_gtid_yields_exact_events_and_command_bytes():
    gtid = GTIDSet.parse(
        "e6954592-8dba-11e6-af0e-fa163e1cf111:1-5:11-18,"
        "e6954592-8dba-11e6-af0e-fa163e1cf3f2:1-27"
    )
    with FakeMysqld() as srv, _client(srv) as c:
        assert c.register_slave()["status"] == 2
        got = list(c.dump(gtid_set=gtid))
    assert got == EVENTS  # CRC32 tails validated AND stripped
    assert srv.registered
    d = srv.seen_dump
    assert d["kind"] == "gtid"
    assert d["server_id"] == 4321
    assert d["flags"] & BINLOG_THROUGH_GTID
    assert d["pos"] == 4
    # the server's independent walk recovered the closed intervals
    assert d["gtids"] == {
        "e6954592-8dba-11e6-af0e-fa163e1cf111": [(1, 5), (11, 18)],
        "e6954592-8dba-11e6-af0e-fa163e1cf3f2": [(1, 27)],
    }


def test_dump_filepos_no_checksum():
    with FakeMysqld(checksum=False) as srv, _client(srv) as c:
        got = list(c.dump(filename="binlog.000007", pos=1234))
    assert got == EVENTS
    assert srv.seen_dump == {
        "kind": "filepos",
        "pos": 1234,
        "flags": 0,
        "server_id": 4321,
        "filename": "binlog.000007",
    }
    assert srv.seen_queries == ["SET @master_binlog_checksum = 'NONE'"]


def test_corrupted_event_dies_at_the_socket():
    with FakeMysqld(corrupt_event=3) as srv, _client(srv) as c:
        with pytest.raises(ValueError, match="CRC32 mismatch"):
            list(c.dump(filename="", pos=4))


def test_gtid_set_wire_roundtrip_and_reference_layout():
    gtid = GTIDSet.parse("e6954592-8dba-11e6-af0e-fa163e1cf111:1-5:11-18")
    data = encode_gtid_set(gtid)
    # GTIDDumpPacket.java:68-92 layout: n_sids, uuid, n_intervals, then
    # start / end+1 per interval
    assert data[:8] == struct.pack("<Q", 1)
    assert data[8:24] == _uuid.UUID("e6954592-8dba-11e6-af0e-fa163e1cf111").bytes
    assert data[24:32] == struct.pack("<Q", 2)
    assert struct.unpack_from("<QQQQ", data, 32) == (1, 6, 11, 19)
    assert decode_gtid_set(data) == gtid


def test_build_dump_gtid_total_layout():
    gtid = GTIDSet.parse("e6954592-8dba-11e6-af0e-fa163e1cf111:1-27")
    cmd = build_com_binlog_dump_gtid(99, gtid, filename="f.000001", pos=4)
    assert cmd[0] == 0x1E
    flags, sid, namelen = struct.unpack_from("<HII", cmd, 1)
    assert (flags, sid, namelen) == (BINLOG_THROUGH_GTID, 99, 8)
    assert cmd[11:19] == b"f.000001"
    assert struct.unpack_from("<Q", cmd, 19) == (4,)
    (dlen,) = struct.unpack_from("<I", cmd, 27)
    assert dlen == len(cmd) - 31 == 8 + 16 + 8 + 16


def test_packet_io_continuation_chain():
    a, b = socket.socketpair()
    try:
        big = bytes(0xFFFFFF) + b"tail"  # 2 packets: 0xFFFFFF + 4
        t = threading.Thread(target=write_packet, args=(a, big, 5))
        t.start()
        payload, nxt = read_packet(b, expect_seq=5)
        t.join()
        assert payload == big
        assert nxt == 7
    finally:
        a.close()
        b.close()


def test_scramble_shape():
    assert scramble_native_password("", SEED) == b""
    s = scramble_native_password(PASSWORD, SEED)
    assert len(s) == 20
    assert s != scramble_native_password(PASSWORD, bytes(20))  # seed-bound


def test_decode_handshake_rejects_err_greeting():
    with pytest.raises(MySQLError):
        decode_handshake_v10(b"\xff" + struct.pack("<H", 1040) + b"#08004Too many")


def test_spool_and_spark_deframe(spark, tmp_path):
    spool = str(tmp_path / "spool")
    with FakeMysqld() as srv, _client(srv) as c:
        n = spool_dump(c.dump(filename="", pos=4), spool, events_per_blob=16)
    assert n == len(EVENTS)
    rows = (
        spooled_frames(spark, spool)
        .orderBy("blob_id", "pkt_idx")
        .select("blob_id", "n_events", "first_event", "pkt_idx", "event")
        .collect()
    )
    assert [bytes(r.event) for r in rows] == EVENTS
    # ≥2 blobs (parallelism unit) and per-blob ordinals restart at 0
    assert rows[0].blob_id == 0 and rows[-1].blob_id == (len(EVENTS) - 1) // 16
    assert rows[16].pkt_idx == 0 and rows[16].first_event == 16
    assert all(r.n_events <= 16 for r in rows)
    # the spooled frames are the exact stream split_packets walks
    import pyarrow.parquet as pq

    blob0 = pq.read_table(f"{spool}/blob-00000000.parquet")
    assert split_packets(blob0["frames"][0].as_py()) == EVENTS[:16]


def test_loopback_master_auth_and_dump():
    """The shipped LoopbackMaster (the sandbox's integration target —
    BinlogDumpTest.java runs against a live MySQL) speaks the same
    protocol the independent FakeMysqld above verifies."""
    from binlake_spark.sources.socket_dump import (
        LoopbackMaster,
        verify_native_password,
    )

    evs = [b"x" * i for i in range(1, 8)]
    with LoopbackMaster("u", "pw", evs) as m:
        with BinlogDumpClient("127.0.0.1", m.port, "u", "pw", server_id=1) as c:
            assert list(c.dump(filename="b.1", pos=4)) == evs
        with pytest.raises(MySQLError) as ei:
            BinlogDumpClient("127.0.0.1", m.port, "u", "bad", server_id=1).connect()
        assert ei.value.code == 1045
    # the server-side check accepts exactly the client's scramble
    import hashlib

    h2 = hashlib.sha1(hashlib.sha1(b"pw").digest()).digest()
    good = scramble_native_password("pw", LoopbackMaster.SEED)
    assert verify_native_password(good, LoopbackMaster.SEED, h2)
    assert not verify_native_password(good[:-1] + b"\x00", LoopbackMaster.SEED, h2)


def test_spool_resumes_blob_ids_after_reconnect(tmp_path):
    """A fetcher re-spooling into the same directory after a dropped
    dump must APPEND — restarting blob ids at 0 would rename new blobs
    over files a tailer already consumed by name (silent event loss)."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "spool")
    first = [b"first-%d" % i for i in range(5)]
    second = [b"second-%d" % i for i in range(3)]
    spool_dump(iter(first), d, events_per_blob=2)   # blobs 0,1,2
    spool_dump(iter(second), d, events_per_blob=2)  # must continue at 3
    names = sorted(os.listdir(d))
    assert names == [f"blob-{i:08d}.parquet" for i in range(5)]
    # the pre-existing blobs are untouched and the new ones carry the
    # reconnect's events in order
    got = []
    for f in names:
        t = pq.read_table(f"{d}/{f}")
        got.extend(split_packets(t["frames"][0].as_py()))
    assert got == first + second
    # in-flight files are dot-prefixed so a concurrent Spark listing
    # skips them; after the run no tmp residue remains
    assert not [f for f in os.listdir(d) if f.endswith(".tmp")]


def test_spool_resume_parses_ids_wider_than_the_pad(tmp_path):
    """Ids past 10^8 are written wider than 08d; the resume scan must
    read every digit, or it restarts numbering too low and renames a
    new blob over one a tailer already consumed."""
    d = tmp_path / "spool"
    d.mkdir()
    for i in (99_999_999, 100_000_000):
        (d / f"blob-{i:08d}.parquet").write_bytes(b"consumed-%d" % i)
    spool_dump(iter([b"a", b"b"]), str(d), events_per_blob=2)
    assert sorted(os.listdir(d)) == [
        "blob-100000000.parquet", "blob-100000001.parquet", "blob-99999999.parquet",
    ]
    assert (d / "blob-100000000.parquet").read_bytes() == b"consumed-100000000"

    one = tmp_path / "one"
    one.mkdir()
    (one / "blob-123456789.parquet").write_bytes(b"x")
    spool_dump(iter([b"c"]), str(one))
    assert sorted(os.listdir(one))[-1] == "blob-123456790.parquet"


def test_spool_flush_after_and_size_backstop(tmp_path):
    import pyarrow.parquet as pq

    evs = [bytes([t]) * 8 for t in range(1, 30)]
    # predicate cut: every 7th event closes a blob
    d1 = str(tmp_path / "cut")
    spool_dump(iter(evs), d1, flush_after=lambda e: e[0] % 7 == 0)
    sizes = [
        pq.read_table(f"{d1}/{f}")["n_events"][0].as_py()
        for f in sorted(os.listdir(d1))
    ]
    assert sizes == [7, 7, 7, 7, 1]
    # runaway transaction: the backstop force-cuts instead of buffering
    d2 = str(tmp_path / "backstop")
    spool_dump(iter(evs), d2, flush_after=lambda e: False, max_blob_events=10)
    sizes = [
        pq.read_table(f"{d2}/{f}")["n_events"][0].as_py()
        for f in sorted(os.listdir(d2))
    ]
    assert sizes == [10, 10, 9]
