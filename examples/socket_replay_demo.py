"""Demo: the LIVE wire path end to end — a loopback MySQL master, an
authenticated COM_BINLOG_DUMP_GTID dump over a real TCP socket, CRC32
validation, transaction-cut spooling, the binlog v4 stream walk, and
the CDC engine landing the IDENTICAL table the file-source replay
lands from the same change log.

    spark-submit --master 'local[8]' --py-files binlake_spark.zip \
        examples/socket_replay_demo.py
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binlake_spark.changelog import (  # noqa: E402
    GenSpec,
    generate_change_log,
    write_change_log,
)
from binlake_spark.functions.binlog_events import (  # noqa: E402
    XID_EVENT,
    binlog_rows_stream,
)
from binlake_spark.functions.framing import BINLOG_CHECKSUM_LEN  # noqa: E402
from binlake_spark.operators.gtid import GTIDSet  # noqa: E402
from binlake_spark.session import get_spark  # noqa: E402
from binlake_spark.sources.binlog_bridge import (  # noqa: E402
    DOCS_WIRE_OVERLAY,
    encode_envelope_as_binlog,
    envelope_from_binlog_rows,
)
from binlake_spark.sources.socket_dump import (  # noqa: E402
    BinlogDumpClient,
    LoopbackMaster,
    spool_dump,
)
from binlake_spark.streaming import CdcEngine  # noqa: E402


def main() -> int:
    work = tempfile.mkdtemp(prefix="binlake_socket_demo_")
    spark = get_spark("socket_replay_demo", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spec = GenSpec(
            n_docs=120, n_events=2500, events_per_epoch=500,
            retransmit_frac=0.05, hot_keys=4, hot_frac=0.2,
            corrupt_frac=0.02, before_images=True,
        )
        pdf = generate_change_log(spec)
        events = encode_envelope_as_binlog(pdf, checksum_len=BINLOG_CHECKSUM_LEN)
        print(f"change log: {len(pdf)} events → {len(events)} binlog events "
              f"({pdf['trx_id'].nunique()} transactions)")

        # live transport: loopback master, authenticated dump, CRC strip
        spool = os.path.join(work, "spool")
        with LoopbackMaster("replica", "s3cret", events) as master:
            with BinlogDumpClient(
                "127.0.0.1", master.port, "replica", "s3cret", server_id=99
            ) as client:
                client.register_slave()
                n = spool_dump(
                    client.dump(gtid_set=GTIDSet.parse(
                        "00000000-0000-0000-0000-000000000000:1-1"
                    )),
                    spool,
                    flush_after=lambda ev: ev[4] == XID_EVENT,
                )
        blobs = len(os.listdir(spool))
        print(f"socket dump: {n} events spooled into {blobs} "
              f"transaction-cut blobs ✓")

        # Spark consume side: stream walk → bridge → engine
        frames = spark.read.schema(
            "blob_id long, n_events int, first_event long, frames binary"
        ).parquet(spool).select("blob_id", "frames")
        # the dump negotiated CRC32 and stripped every tail: the walk
        # accepts only the stripped header form
        env = envelope_from_binlog_rows(binlog_rows_stream(
            frames, schema_overlay={("shop", "docs"): DOCS_WIRE_OVERLAY},
            checksums=True,
        ))
        tw = CdcEngine.create_table(os.path.join(work, "wire"), num_buckets=16)
        CdcEngine(tw).run_batch_replay(spark, source_df=env, n_events_hint=n)

        # reference leg: the oracle-checked file-source replay
        src = os.path.join(work, "log")
        write_change_log(pdf, src)
        tf = CdcEngine.create_table(os.path.join(work, "file"), num_buckets=16)
        CdcEngine(tf).run_batch_replay(spark, src)

        cols = ["doc_id", "tokens", "n_tok", "source"]
        a = tw.read(spark).select(*cols).toPandas().sort_values(
            "doc_id").reset_index(drop=True)
        b = tf.read(spark).select(*cols).toPandas().sort_values(
            "doc_id").reset_index(drop=True)
        same = (
            list(a["doc_id"]) == list(b["doc_id"])
            and [list(t) for t in a["tokens"]] == [list(t) for t in b["tokens"]]
            and list(a["n_tok"]) == list(b["n_tok"])
            and list(a["source"]) == list(b["source"])
        )
        print(f"final state: {len(a)} live docs via wire, {len(b)} via file")
        if not same or len(a) == 0:
            print("wire vs file replay MISMATCH ✗")
            return 1
        print("socket demo: wire replay lands the identical table ✓")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
