"""Streaming/batch parity beyond the oracle gate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from perfbench.spans import spark_jobs
from reduction_dask_spark.session import local_frame
from reduction_dask_spark.sources import load_table

from .conftest import SF_SMALL


def test_st4_state_matches_batch_groupby(spark):
    from reduction_dask_spark.streaming import st4_stateful_user_totals

    got = st4_stateful_user_totals(spark, SF_SMALL).toPandas().set_index("user_id")
    exact = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .toPandas()
        .set_index("user_id")
    )
    assert len(got) == len(exact)
    for uid in exact.index:
        assert got.loc[uid, "n_events"] == exact.loc[uid, "n"]
        assert abs(got.loc[uid, "sum_value"] - exact.loc[uid, "s"]) < 0.02


def test_st2_sessions_partition_events(spark):
    from reduction_dask_spark.streaming import st2_stream_sessionization

    sess = st2_stream_sessionization(spark, SF_SMALL).toPandas()
    total = load_table(spark, SF_SMALL, "events").count()
    assert sess["n_events"].sum() == total  # every event in exactly one session
    assert (sess["n_events"] >= 1).all()


def test_st5_stream_join_matches_batch(spark):
    """Stream-stream interval join == batch self-join on the same data."""
    from reduction_dask_spark.streaming import st5_stream_stream_join

    got = {
        (r["click_id"], r["purchase_id"], r["lat_us"])
        for r in st5_stream_stream_join(spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    exact = {
        (r["cid"], r["pid"], r["lat"])
        for r in a.join(b, "u")
        .filter((F.col("pts") >= F.col("cts")) & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")))
        .select("cid", "pid", (F.unix_micros("pts") - F.unix_micros("cts")).alias("lat"))
        .collect()
    }
    assert got == exact
    assert all(0 <= lat <= 3_600_000_000 for _, _, lat in got)


def test_st6_transform_with_state_matches_batch(spark):
    """transformWithStateInPandas totals == batch groupBy totals.
    Executes HERE even without google.protobuf installed: the pickled
    processor carries the vendored mini protobuf runtime
    (vendor/protoshim) and self-installs it in the TWS python workers
    (see UserTotals.__setstate__) — no skip, the full protobuf-over-
    socket state-server path runs."""
    from reduction_dask_spark.sources import load_table
    from reduction_dask_spark.streaming import st6_transform_with_state
    from pyspark.sql import functions as F

    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["max_value"])
        for r in st6_transform_with_state(spark, SF_SMALL).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["s"], r["m"])
        for r in load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
            F.round(F.max("value"), 2).alias("m"),
        )
        .collect()
    }
    assert got == want


def test_kafka_stream_options():
    from reduction_dask_spark.streaming import kafka_stream_options

    opts = kafka_stream_options("broker:9092", "events", max_offsets_per_trigger=100000)
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "events"
    assert opts["startingOffsets"] == "earliest"
    assert opts["failOnDataLoss"] == "true"
    assert opts["maxOffsetsPerTrigger"] == "100000"


def test_kafka_payload_parse_matches_batch_events(spark):
    """parse_event_payload (the Kafka value decoder) round-trips the
    batch events table: serialize each row to the wire JSON (ts as
    epoch nanos, the producer convention), parse, and require exact
    equality with the file-source schema + values. Guards the ADVICE
    r3 NameError class: the parse expression is BUILT and EVALUATED
    here, so a missing/renamed schema constant fails in CI even
    though the container has no Kafka connector."""
    from reduction_dask_spark.streaming import parse_event_payload

    events = load_table(spark, SF_SMALL, "events").limit(200)
    wire = events.select(
        F.to_json(
            F.struct(
                "event_id",
                (F.unix_micros("ts") * F.lit(1000)).alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        ).alias("value")
    )
    parsed = parse_event_payload(wire)
    assert parsed.schema == events.schema
    want = sorted(map(tuple, events.collect()))
    got = sorted(map(tuple, parsed.collect()))
    assert got == want


def test_st8_foreach_batch_sink_idempotent(spark):
    """Re-running the sink overwrites, never duplicates — the
    last-write-wins idempotence the foreachBatch recipe relies on."""
    from reduction_dask_spark.streaming import st8_foreach_batch_sink

    cols = ["era_day", "event_type", "n", "sum_value"]
    first = sorted(map(tuple, st8_foreach_batch_sink(spark, SF_SMALL).select(*cols).collect()))
    second = sorted(map(tuple, st8_foreach_batch_sink(spark, SF_SMALL).select(*cols).collect()))
    assert first == second and len(first) > 0


def test_epoch_state_applies_each_epoch_once(spark):
    """Unpublished state reads as an empty frame and writes nothing; a
    retried epoch that was already published is a no-op; publishing an
    epoch drops its predecessor's dir."""
    from reduction_dask_spark.streaming import _EpochState

    state = _EpochState("st_test", SF_SMALL, "k bigint, n bigint")
    assert os.listdir(state.base) == []
    assert state.read(spark).count() == 0
    merges = []

    def merge(cur, batch):
        merges.append(1)
        return cur.unionByName(batch).groupBy("k").agg(F.sum("n").alias("n"))

    batch = local_frame(spark, [(1, 2), (2, 3)], "k bigint, n bigint")
    state.apply(batch, 0, merge)
    state.apply(batch, 0, merge)
    assert len(merges) == 1
    state.apply(batch, 1, merge)
    assert sorted(os.listdir(state.base)) == ["CURRENT", "epoch_1"]
    assert sorted(map(tuple, state.read(spark).collect())) == [(1, 4), (2, 6)]


def test_st11_warm_build_runs_no_job(spark):
    """Nothing is written before the stream starts: once the events
    schema is cached, building st11 runs no job on the caller's thread
    (the micro-batches run in the stream's own job group)."""
    from reduction_dask_spark.streaming import st11_stream_quantile_sketch

    st11_stream_quantile_sketch(spark, SF_SMALL)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "st11:warm")
    try:
        st11_stream_quantile_sketch(spark, SF_SMALL)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert spark_jobs(sc, "st11:warm") == []


def test_st1_rocksdb_state_store_parity(spark):
    """The production state backend for 100 TB streaming state: run
    the st1 windowed aggregation with RocksDB state store (bounded
    off-heap keyed state + changelog checkpointing) and require the
    exact batch-parity result the default HDFS-backed provider gives."""
    from reduction_dask_spark.streaming import read_event_stream, windowed_value_stats, run_to_memory

    prov = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov, None)
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )
    try:
        agg = windowed_value_stats(read_event_stream(spark, SF_SMALL))
        got = run_to_memory(agg, "st1_rocksdb_t").toPandas()
    finally:
        if old:
            spark.conf.set(prov, old)
        else:
            spark.conf.unset(prov)
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .toPandas()
    )
    assert len(got) == len(batch)
    assert int(got["n"].sum()) == int(batch["n"].sum())
    assert abs(float(got["sum_value"].sum()) - float(batch["s"].sum())) < 0.05


def test_stream_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Durability contract: a file-sink query stopped and restarted
    from the same checkpoint processes only the files that arrived in
    between — every input row lands in the sink exactly once."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    ev = load_table(spark, SF_SMALL, "events").select("event_id", "user_id")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("event_id long, user_id long")
            .parquet(src)
            .writeStream.format("parquet")
            .option("checkpointLocation", chk)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout=300)

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == ev.filter("event_id % 2 = 0").count()

    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    run_once()  # restart from checkpoint: only the new file is read
    sunk = spark.read.parquet(out)
    assert sunk.count() == ev.count()  # no dups, no loss
    assert sunk.select("event_id").distinct().count() == ev.count()


def test_protoshim_wire_roundtrip():
    """The vendored mini protobuf runtime must round-trip the exact
    message shapes the TWS client uses, including negative varints,
    repeated bytes, enums and nested oneofs. (End-to-end JVM-side
    compatibility is covered by test_st6_transform_with_state — the
    Java protobuf parser on the state server is the other peer.)"""
    import sys

    from reduction_dask_spark.streaming import _shim_root, ensure_protobuf

    try:
        import google.protobuf as gp
        native = getattr(gp, "__file__", None) is not None and "protoshim" not in gp.__file__
    except ImportError:
        native = False
    if not native and _shim_root() not in sys.path:
        sys.path.insert(0, _shim_root())
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    cmd = sm.StateCallCommand(stateName="agg", schema="n BIGINT")
    call = sm.StatefulProcessorCall(getValueState=cmd)
    msg = sm.StateRequest(statefulProcessorCall=call)
    back = sm.StateRequest()
    back.ParseFromString(msg.SerializeToString())
    assert back.statefulProcessorCall.getValueState.stateName == "agg"
    assert back.WhichOneof("method") == "statefulProcessorCall"

    lv = sm.StateResponseWithLongTypeVal(statusCode=-3, value=1 << 45)
    lv2 = sm.StateResponseWithLongTypeVal()
    lv2.ParseFromString(lv.SerializeToString())
    assert (lv2.statusCode, lv2.value) == (-3, 1 << 45)

    put = sm.ListStatePut(value=[b"a", b"bb", b""], fetchWithArrow=False)
    p2 = sm.ListStatePut()
    p2.ParseFromString(put.SerializeToString())
    assert p2.value == [b"a", b"bb", b""] and p2.fetchWithArrow is False

    shs = sm.SetHandleState(state=sm.CLOSED)
    s2 = sm.SetHandleState()
    s2.ParseFromString(shs.SerializeToString())
    assert s2.state == sm.CLOSED == 5


def test_protoshim_unknown_fields_and_packed_varints():
    """Forward-compatibility guards for the mini runtime: unknown
    fields of every wire type are skipped (a newer JVM emitting extra
    fields must not break parsing), and packed repeated varints decode
    (the proto3 default encoding for repeated scalars, should the
    state server ever emit one)."""
    import struct
    import sys

    from reduction_dask_spark.streaming import _shim_root

    if _shim_root() not in sys.path:
        sys.path.insert(0, _shim_root())
    from google.protobuf._mini_runtime import (
        EnumDesc,
        FieldDesc,
        MessageDesc,
        Message,
        _enc_varint,
        build_message_class,
    )

    desc = MessageDesc()
    desc.name = "T"
    f1 = FieldDesc(); f1.name = "a"; f1.number = 1; f1.type = 5  # int32
    f2 = FieldDesc(); f2.name = "xs"; f2.number = 2; f2.type = 3; f2.label = 3  # repeated int64
    desc.fields = [f1, f2]
    cls = build_message_class(desc, {}, "pkg")

    # unknown varint (field 7), unknown 64-bit (field 8), unknown
    # length-delimited (field 9), unknown 32-bit (field 10) around a
    # known field
    buf = b"".join([
        _enc_varint((7 << 3) | 0), _enc_varint(12345),
        _enc_varint((8 << 3) | 1), struct.pack("<d", 1.5),
        _enc_varint((1 << 3) | 0), _enc_varint(42),
        _enc_varint((9 << 3) | 2), _enc_varint(3), b"abc",
        _enc_varint((10 << 3) | 5), struct.pack("<f", 2.5),
    ])
    m = cls()
    m.ParseFromString(buf)
    assert m.a == 42

    # packed repeated varints: one LEN field holding three ints
    payload = _enc_varint(1) + _enc_varint(300) + _enc_varint(2**40)
    buf2 = _enc_varint((2 << 3) | 2) + _enc_varint(len(payload)) + payload
    m2 = cls()
    m2.ParseFromString(buf2)
    assert m2.xs == [1, 300, 2**40]

    # unset fields read as proto3 defaults; unset repeated is []
    m3 = cls()
    assert m3.a == 0 and m3.xs == []


def test_protoshim_nested_write_through_and_singular_len_guard():
    """r5 advisor items: (1) writing THROUGH a singular nested message
    (cmd.ttl.durationMs = ...) must attach the child and survive
    serialization — the TWS client sets TTL exactly this way — while a
    mere READ must not mark the field present; (2) a LEN payload on a
    SINGULAR varint field is malformed and must be skipped, not
    decoded as a packed list."""
    import sys

    from reduction_dask_spark.streaming import _shim_root

    if _shim_root() not in sys.path:
        sys.path.insert(0, _shim_root())
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    # write-through: the exact pattern of stateful_processor_api_client
    cmd = sm.StateCallCommand()
    cmd.stateName = "agg"
    cmd.ttl.durationMs = 60000
    assert cmd.HasField("ttl")
    back = sm.StateCallCommand()
    back.ParseFromString(cmd.SerializeToString())
    assert back.ttl.durationMs == 60000
    assert back.stateName == "agg"

    # read-only access does NOT create presence (empty submessage on
    # the wire != absent submessage)
    c2 = sm.StateCallCommand()
    c2.stateName = "x"
    _ = c2.ttl.durationMs  # read only
    assert not c2.HasField("ttl")
    b2 = sm.StateCallCommand()
    b2.ParseFromString(c2.SerializeToString())
    assert not b2.HasField("ttl")

    # deep chain: grandchild write attaches the whole spine
    call = sm.StatefulProcessorCall()
    call.getValueState.stateName = "deep"
    assert call.HasField("getValueState")
    rt = sm.StatefulProcessorCall()
    rt.ParseFromString(call.SerializeToString())
    assert rt.getValueState.stateName == "deep"

    # malformed: LEN wire type on a SINGULAR varint field is skipped
    from google.protobuf._mini_runtime import (
        FieldDesc,
        MessageDesc,
        _enc_varint,
        build_message_class,
    )

    desc = MessageDesc()
    desc.name = "S"
    f1 = FieldDesc(); f1.name = "a"; f1.number = 1; f1.type = 5  # singular int32
    desc.fields = [f1]
    cls = build_message_class(desc, {}, "pkg2")
    buf = b"".join([
        _enc_varint((1 << 3) | 2), _enc_varint(2), _enc_varint(7), _enc_varint(8),
    ])
    m = cls()
    m.ParseFromString(buf)
    assert m.a == 0 and not m.HasField("a")


def test_protoshim_repeated_read_defers_attach_until_mutation():
    """r6 advisor item: reading a repeated field THROUGH a hooked
    nested child (`_ = parent.child.xs`) must not attach the child —
    the read-must-not-mark-present contract the scalar path already
    honors — while the first MUTATION of the handed-out container
    must attach the whole spine and survive serialization."""
    import sys

    from reduction_dask_spark.streaming import _shim_root

    if _shim_root() not in sys.path:
        sys.path.insert(0, _shim_root())
    from google.protobuf._mini_runtime import (
        FieldDesc,
        MessageDesc,
        build_message_class,
    )

    reg: dict = {}
    child = MessageDesc()
    child.name = "C"
    fx = FieldDesc(); fx.name = "xs"; fx.number = 1; fx.type = 3; fx.label = 3
    child.fields = [fx]
    C = build_message_class(child, reg, "pkg3")

    parent = MessageDesc()
    parent.name = "P"
    fc = FieldDesc(); fc.name = "child"; fc.number = 1; fc.type = 11
    fc.type_name = ".pkg3.C"
    parent.fields = [fc]
    P = build_message_class(parent, reg, "pkg3")

    # read through the hook: neither the child nor the list appears
    p = P()
    _ = p.child.xs
    assert not p.HasField("child")
    rt = P()
    rt.ParseFromString(p.SerializeToString())
    assert not rt.HasField("child")

    # a bare repeated read on a TOP-LEVEL message also stays absent
    c = C()
    got = c.xs
    assert got == [] and "xs" not in c._values

    # first mutation materializes: append / extend / += all attach
    for mutate in (
        lambda lst: lst.append(7),
        lambda lst: lst.extend([7]),
        lambda lst: lst.__iadd__([7]),
    ):
        p2 = P()
        mutate(p2.child.xs)
        assert p2.HasField("child")
        back = P()
        back.ParseFromString(p2.SerializeToString())
        assert back.child.xs == [7]

    # the materialized container is live: later reads see mutations
    c2 = C()
    c2.xs.append(1)
    c2.xs.append(2)
    assert c2.xs == [1, 2]


def test_protoshim_stale_repeated_handle_merges_not_overwrites():
    """r7 advisor item: hold a pre-materialization repeated handle
    (a = c.xs), materialize a SECOND container (c.xs.append(1)), then
    mutate the stale handle (a.append(2)) — the earlier element must
    survive (merged into the live container), not be silently lost to
    an overwrite."""
    import sys

    from reduction_dask_spark.streaming import _shim_root

    if _shim_root() not in sys.path:
        sys.path.insert(0, _shim_root())
    from google.protobuf._mini_runtime import (
        FieldDesc,
        MessageDesc,
        build_message_class,
    )

    reg: dict = {}
    child = MessageDesc()
    child.name = "C4"
    fx = FieldDesc(); fx.name = "xs"; fx.number = 1; fx.type = 3; fx.label = 3
    child.fields = [fx]
    C = build_message_class(child, reg, "pkg4")

    c = C()
    a = c.xs            # pre-materialization handle A
    c.xs.append(1)      # handle B goes live
    a.append(2)         # stale-handle mutation must merge, not clobber
    assert sorted(c.xs) == [1, 2]
    rt = C()
    rt.ParseFromString(c.SerializeToString())
    assert sorted(rt.xs) == [1, 2]

    # and mutations through the merged handle keep FORWARDING to the
    # live container (r8: nothing written through any handle is ever
    # dropped from the message)
    a.append(3)
    assert sorted(c.xs) == [1, 2, 3]
    a.extend([4])
    assert sorted(c.xs) == [1, 2, 3, 4]
    # forwarding didn't double-add the merged prefix
    assert list(c.xs).count(2) == 1
