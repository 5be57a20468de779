"""Concurrent writers on one LakeTable: two threads that write the same
table at once (two ``stream_id``s, or maintenance during ingest) must
both commit, each on the snapshot the other published, and the table
must hold exactly the union of their effects."""

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from binlake_spark.changelog import GenSpec, generate_change_log, write_change_log
from binlake_spark.changelog.generator import CHANGE_LOG_SCHEMA
from binlake_spark.lake import (
    LakeTable,
    compact_buckets,
    merge_into,
    merge_into_mor,
    purge_tombstones,
    rebucket,
)
from binlake_spark.lake.table import _bucket_expr
from binlake_spark.streaming import CdcEngine
from binlake_spark.streaming import engine as engine_mod
from tests.test_engine_replay import assert_state_equals_oracle

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)
N = 2000


def _rows(tag, seq0, n=N):
    return [(f"{tag}{i}", seq0 + i, "I", [i], 1, tag) for i in range(n)]


def _net(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, seq long, op string, tokens array<int>, n_tok int, source string"
    )


def _state(spark, t):
    return sorted(
        (r.doc_id, list(r.tokens), r.n_tok, r.source) for r in t.read(spark).collect()
    )


def _oracle(*row_sets):
    return sorted((d, tok, n, src) for rows in row_sets for d, _, _, tok, n, src in rows)


def _misfiled(spark, t):
    """Bucket ids in the manifest that are out of range, or whose rows do
    not hash to them under the table's current bucket count."""
    snap = t.snapshot()
    nb = snap["num_buckets"]
    ids = sorted({int(b) for m in ("files", "deltas") for b in snap[m]})
    return [
        b
        for b in ids
        if b >= nb
        or t.read(spark, buckets=[b], with_tombstones=True)
        .filter(_bucket_expr("doc_id", nb) != b)
        .count()
    ]


def _race(*calls, timeout=300):
    """Start every call at once on its own thread; every call must return."""
    start = threading.Barrier(len(calls))
    results, errors = [None] * len(calls), [None] * len(calls)

    def run(i, fn):
        start.wait()
        try:
            results[i] = fn()
        except Exception as e:  # noqa: BLE001 — reported below
            errors[i] = e

    threads = [threading.Thread(target=run, args=(i, fn)) for i, fn in enumerate(calls)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout)
    assert not any(th.is_alive() for th in threads), "a writer never returned"
    assert errors == [None] * len(calls), errors
    return results


def test_cow_merge_vs_merge(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, "doc_id", num_buckets=4)
    a, b = _rows("a", 1), _rows("b", 10_001)
    ra, rb = _race(
        lambda: merge_into(spark, t, _net(spark, a), epoch_id=0, stream_id="A"),
        lambda: merge_into(spark, t, _net(spark, b), epoch_id=0, stream_id="B"),
    )
    assert ra.applied and rb.applied and {ra.version, rb.version} == {1, 2}
    assert t.snapshot()["epochs"] == {"A": 0, "B": 0}
    assert _state(spark, t) == _oracle(a, b)


def test_mor_merge_vs_merge(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, "doc_id", num_buckets=4)
    a, b = _rows("a", 1), _rows("b", 10_001)
    ra, rb = _race(
        lambda: merge_into_mor(spark, t, _net(spark, a), epoch_id=0, stream_id="A"),
        lambda: merge_into_mor(spark, t, _net(spark, b), epoch_id=0, stream_id="B"),
    )
    assert ra.applied and rb.applied and {ra.version, rb.version} == {1, 2}
    assert t.snapshot()["epochs"] == {"A": 0, "B": 0}
    assert _state(spark, t) == _oracle(a, b)


def test_mor_merge_vs_compact_buckets(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, "doc_id", num_buckets=4)
    seed, b = _rows("s", 1), _rows("b", 10_001)
    merge_into_mor(spark, t, _net(spark, seed), epoch_id=0, stream_id="seed")
    rb, compacted = _race(
        lambda: merge_into_mor(spark, t, _net(spark, b), epoch_id=0, stream_id="B"),
        lambda: compact_buckets(spark, t),
    )
    assert rb.applied and compacted["compacted_buckets"] > 0
    assert t.snapshot()["epochs"] == {"seed": 0, "B": 0}
    assert _state(spark, t) == _oracle(seed, b)


def test_cow_merge_vs_purge_tombstones(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, "doc_id", num_buckets=4)
    seed, b = _rows("s", 1), _rows("b", 10_001)
    merge_into(spark, t, _net(spark, seed), epoch_id=0, stream_id="seed")
    gone = [(d, 5_000 + i, "D", None, None, None) for i, (d, *_) in enumerate(seed[::2])]
    merge_into(spark, t, _net(spark, gone), epoch_id=1, stream_id="seed")
    rb, purged = _race(
        lambda: merge_into(spark, t, _net(spark, b), epoch_id=0, stream_id="B"),
        lambda: purge_tombstones(spark, t, horizon_seq=10_000),
    )
    assert rb.applied and purged["purged_buckets"] > 0
    assert t.snapshot()["epochs"] == {"seed": 1, "B": 0}
    assert _state(spark, t) == _oracle(seed[1::2], b)
    stored = t.read(spark, with_seq=True, with_tombstones=True)
    assert stored.filter(F.col("_tombstone")).count() == 0


def test_failed_write_releases_the_lock(spark, tmp_path):
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, "doc_id", num_buckets=4)
    a, b = _rows("a", 1, n=200), _rows("b", 10_001, n=200)
    bad = _net(spark, a).withColumn(
        "source", F.raise_error(F.lit("planted write failure")).cast("string")
    )
    with pytest.raises(Exception, match="planted write failure"):
        merge_into(spark, t, bad, epoch_id=0, stream_id="A")
    assert t.snapshot()["version"] == 0
    # the next writer, on another thread, must get the lock and commit
    (rb,) = _race(
        lambda: merge_into(spark, t, _net(spark, b), epoch_id=0, stream_id="B"),
        timeout=120,
    )
    assert rb.applied and rb.version == 1
    assert t.snapshot()["epochs"] == {"B": 0}
    assert _state(spark, t) == _oracle(b)


@pytest.mark.parametrize("mor", [False, True], ids=["cow", "mor"])
def test_bucket_hinted_merge_vs_rebucket(spark, tmp_path, mor):
    """A merge carrying the engine's bucketing hints for 4 buckets races a
    rebucket to 3; whichever commits first, the merge must land every row
    under the bucket count it commits against."""
    merge_fn = merge_into_mor if mor else merge_into
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, "doc_id", num_buckets=4)
    seed, b = _rows("s", 1), _rows("b", 10_001)
    merge_fn(spark, t, _net(spark, seed), epoch_id=0, stream_id="seed")
    net = (
        _net(spark, b)
        .withColumn("_bucket", _bucket_expr("doc_id", 4))
        .repartition(4, "_bucket")
        .persist()
    )
    meta = net.groupBy("_bucket").agg(F.max("seq").alias("mx")).collect()
    hints = {
        "dirty": [r["_bucket"] for r in meta],
        "bucket_max_seq": {r["_bucket"]: r["mx"] for r in meta},
        "assume_persisted": True,
        "bucket_aligned": True,
        "num_buckets": 4,
    }
    try:
        rb, moved = _race(
            lambda: merge_fn(spark, t, net, epoch_id=0, stream_id="B", **hints),
            lambda: rebucket(spark, t, 3),
        )
    finally:
        net.unpersist()
    assert rb.applied and moved["rebucketed"]
    assert t.snapshot()["epochs"] == {"seed": 0, "B": 0}
    assert t.snapshot()["num_buckets"] == 3
    assert _state(spark, t) == _oracle(seed, b)
    assert _misfiled(spark, t) == []


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_engine_merge_queued_behind_rebucket(spark, tmp_path, monkeypatch, mode):
    """The engine buckets an epoch's winners before its merge takes the
    writer lock; a rebucket that commits in between must not leave the
    epoch's rows under the old layout."""
    pdf = generate_change_log(GenSpec(n_docs=60, n_events=1000))
    cut = int(pdf["seq"].quantile(0.5))
    write_change_log(pdf, str(tmp_path / "log"))
    df = spark.read.schema(CHANGE_LOG_SCHEMA).parquet(str(tmp_path / "log"))
    t = CdcEngine.create_table(str(tmp_path / "docs"), num_buckets=4)
    engine = CdcEngine(t, mode=mode, mor_compact_every=10**6)
    engine.apply_batch(df.filter(F.col("seq") <= cut), epoch_id=0)
    # epoch 1 dirties one old bucket only, so a merge that kept the old
    # bucketing would rewrite (COW) or file (MOR) the wrong buckets
    tail = df.filter((F.col("seq") > cut) & (_bucket_expr("doc_id", 4) == 0))
    kept = {r["seq"] for r in tail.select("seq").collect()}
    assert kept

    name = "merge_into_mor" if mode == "mor" else "merge_into"
    merge_fn = getattr(engine_mod, name)

    def queued_behind_rebucket(spark, table, net, **kw):
        rebucket(spark, table, 3)  # wins the lock first
        return merge_fn(spark, table, net, **kw)

    monkeypatch.setattr(engine_mod, name, queued_behind_rebucket)
    res = engine.apply_batch(tail, epoch_id=1)
    assert res.applied
    assert t.snapshot()["num_buckets"] == 3
    assert_state_equals_oracle(spark, engine, pdf[(pdf["seq"] <= cut) | pdf["seq"].isin(kept)])
    assert _misfiled(spark, t) == []
