"""Wire→engine unification: the SAME change log, once as the parquet
envelope and once as real binlog bytes through the live socket path,
must land the identical final table (sources/binlog_bridge.py)."""

from __future__ import annotations

import pandas as pd
import pytest

from binlake_spark.changelog.generator import (
    CHANGE_LOG_SCHEMA,
    GenSpec,
    generate_change_log,
    write_change_log,
)
from binlake_spark.functions.binlog_events import (
    XID_EVENT,
    binlog_rows_stream,
    parse_binlog_events,
)
from binlake_spark.functions.framing import BINLOG_CHECKSUM_LEN
from binlake_spark.sources.binlog_bridge import (
    DOCS_WIRE_OVERLAY,
    encode_envelope_as_binlog,
    envelope_from_binlog_rows,
)
from binlake_spark.sources.socket_dump import (
    BinlogDumpClient,
    LoopbackMaster,
    spool_dump,
)
from binlake_spark.streaming import CdcEngine


def _is_xid(ev: bytes) -> bool:
    return ev[4] == XID_EVENT


def test_encode_parse_roundtrip_counts():
    pdf = generate_change_log(GenSpec(n_docs=20, n_events=120))
    events = encode_envelope_as_binlog(pdf)
    recs = list(
        parse_binlog_events(events, {("shop", "docs"): DOCS_WIRE_OVERLAY})
    )
    rows = [r for r in recs if r["kind"] == "row"]
    assert len(rows) == len(pdf)
    assert [r["op"] for r in rows] == list(pdf.sort_values("seq")["op"])
    n_txn = pdf["trx_id"].nunique()
    assert sum(r["kind"] == "gtid" for r in recs) == n_txn
    assert sum(r["kind"] == "xid" for r in recs) == n_txn


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_engine_replay_from_binlog_wire(spark, tmp_path, mode):
    """Retransmits, hot keys, out-of-order windows, corrupt rows, and
    update before-images — generated once, replayed twice: file-source
    envelope vs socket→spool→wire-decode→bridge envelope, in both
    engine modes."""
    spec = GenSpec(
        n_docs=60, n_events=900, events_per_epoch=300,
        retransmit_frac=0.08, hot_keys=3, hot_frac=0.2,
        corrupt_frac=0.02, before_images=True,
    )
    pdf = generate_change_log(spec)

    # leg A: the oracle-checked file path
    src = str(tmp_path / "log")
    write_change_log(pdf, src)
    ta = CdcEngine.create_table(str(tmp_path / "a"), num_buckets=8)
    ea = CdcEngine(ta, mode=mode)
    ea.run_batch_replay(spark, src)

    # leg B: binlog bytes through the live socket transport — CONFORMANT
    # wire events: a real CRC32 master's event_len counts the checksum
    # tail it appends, and the stripped events reaching the stream walk
    # carry elen == len + 4 (decode_event_header's checksum_stripped)
    events = encode_envelope_as_binlog(pdf, checksum_len=BINLOG_CHECKSUM_LEN)
    spool = str(tmp_path / "spool")
    with LoopbackMaster("u", "pw", events) as m:
        with BinlogDumpClient("127.0.0.1", m.port, "u", "pw", server_id=5) as c:
            n = spool_dump(c.dump(filename="b.1", pos=4), spool,
                           flush_after=_is_xid)
    assert n == len(events)
    frames = spark.read.schema("blob_id long, n_events int, first_event long,"
                               " frames binary").parquet(spool)
    changes = binlog_rows_stream(
        frames.select("blob_id", "frames"),
        schema_overlay={("shop", "docs"): DOCS_WIRE_OVERLAY},
    )
    env = envelope_from_binlog_rows(changes)
    assert env.schema.simpleString() == (
        spark.createDataFrame([], CHANGE_LOG_SCHEMA).schema.simpleString()
    )
    tb = CdcEngine.create_table(str(tmp_path / "b"), num_buckets=8)
    eb = CdcEngine(tb, mode=mode)
    eb.run_batch_replay(spark, source_df=env, n_events_hint=n)

    cols = ["doc_id", "tokens", "n_tok", "source"]
    a = ea.read_state(spark).select(*cols).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    b = eb.read_state(spark).select(*cols).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert [list(t) for t in a["tokens"]] == [list(t) for t in b["tokens"]]
    assert list(a["n_tok"]) == list(b["n_tok"])
    assert list(a["source"]) == list(b["source"])


def test_streaming_wire_replay(spark, tmp_path):
    """The STREAMING loop over the wire path: Structured Streaming tails
    the spool, the stream walk + bridge run as streaming transforms, and
    run_stream(source_df=) lands the same table as the batch file
    replay — the transport-agnostic twin of the batch entry."""
    pdf = generate_change_log(
        GenSpec(n_docs=40, n_events=400, events_per_epoch=100,
                retransmit_frac=0.1, hot_keys=2, hot_frac=0.3)
    )
    events = encode_envelope_as_binlog(pdf, checksum_len=BINLOG_CHECKSUM_LEN)
    spool = str(tmp_path / "spool")
    with LoopbackMaster("u", "pw", events) as m:
        with BinlogDumpClient("127.0.0.1", m.port, "u", "pw", server_id=5) as c:
            spool_dump(c.dump(filename="b.1", pos=4), spool,
                       flush_after=_is_xid)

    stream = spark.readStream.schema(
        "blob_id long, n_events int, first_event long, frames binary"
    ).parquet(spool).select("blob_id", "frames")
    env = envelope_from_binlog_rows(binlog_rows_stream(
        stream, schema_overlay={("shop", "docs"): DOCS_WIRE_OVERLAY}
    ))
    assert env.isStreaming
    tw = CdcEngine.create_table(str(tmp_path / "wire"), num_buckets=8)
    ew = CdcEngine(tw)
    ew.run_stream(spark, checkpoint_dir=str(tmp_path / "ckpt"),
                  source_df=env)

    src = str(tmp_path / "log")
    write_change_log(pdf, src)
    tf = CdcEngine.create_table(str(tmp_path / "file"), num_buckets=8)
    CdcEngine(tf).run_batch_replay(spark, src)

    cols = ["doc_id", "tokens", "n_tok", "source"]
    a = tw.read(spark).select(*cols).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    b = tf.read(spark).select(*cols).toPandas().sort_values(
        "doc_id").reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert list(a["doc_id"]) == list(b["doc_id"])
    assert [list(t) for t in a["tokens"]] == [list(t) for t in b["tokens"]]

    # entry-contract guards
    with pytest.raises(ValueError, match="exactly one"):
        ew.run_stream(spark, source_dir=spool, source_df=env,
                      checkpoint_dir=str(tmp_path / "ck2"))
    with pytest.raises(ValueError, match="must be a streaming"):
        ew.run_stream(
            spark,
            source_df=spark.read.schema(CHANGE_LOG_SCHEMA).parquet(src),
            checkpoint_dir=str(tmp_path / "ck3"),
        )


def _one_change(spark, blob_id: int, evt_idx: int, row_idx: int):
    """A one-row ``binlog_rows_stream``-shaped docs change at the given
    ordinals."""
    from binlake_spark.functions.binlog_decode import encode_row_images
    from binlake_spark.sources.binlog_bridge import docs_wire_specs

    img = encode_row_images(
        [{"doc_id": "d1", "payload": b"\x01\x00\x00\x00", "n_tok": 1,
          "source": "s", "schema_ver": 1}],
        docs_wire_specs(),
    )[0]
    return spark.createDataFrame(
        [("docs", blob_id, evt_idx, row_idx, "I", 1700000000,
          "e6954592-8dba-11e6-af0e-fa163e1cf111", 1, bytearray(img))],
        "table string, blob_id long, evt_idx long, row_idx long,"
        " op string, ts long, gtid_sid string, gno long, image binary",
    )


def test_seq_packing_overflow_fails_loudly(spark):
    """An ordinal outside its bit budget must ABORT the replay — a
    silent fold into the neighboring seq field would corrupt the LWW
    winner order with no error (a real master can batch >4096 rows into
    one ROWS event; the budget is now 2^20, guarded)."""
    ok = envelope_from_binlog_rows(_one_change(spark, 0, 0, 4097))  # legal under 2^20 now
    assert ok.collect()[0]["seq"] == 4097 + 1
    bad = envelope_from_binlog_rows(_one_change(spark, 0, 0, 1 << 20))
    with pytest.raises(Exception, match="seq packing overflow"):
        bad.collect()


def test_seq_packing_max_ordinals_stay_a_positive_long(spark):
    """The largest ordinals every guard admits must compose to a seq
    that still fits a signed long: the packing's trailing +1 leaves 62
    bits for the three fields, so the largest seq is exactly 2^62."""
    from binlake_spark.sources import binlog_bridge as bb

    top = _one_change(spark, (1 << bb._BLOB_BITS) - 1,
                      (1 << bb._EVT_BITS) - 1, (1 << bb._ROW_BITS) - 1)
    seq = envelope_from_binlog_rows(top).collect()[0]["seq"]
    assert 0 < seq < 1 << 63
    assert seq == 1 << 62
