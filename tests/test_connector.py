"""End-to-end connector tests — mirrors the reference's integration
suite (PubsubConnectorTest.scala:117-291, FIXTURES.md A.2) against the
file-backed fake broker:

  1. source count: publish 100, read with 10 msgs/partition, expect 100
  2. sink round-trip with payload/attribute/ordering-key preservation
  3. two streams on one subscription → error
  4. write-schema / output-mode validation errors
  plus replay-determinism and ack-on-commit (SURVEY.md §4.3).
"""

from __future__ import annotations

import json
import os
import re
import time

import pytest
from pyspark.sql import functions as F

from spark_sql_pubsub_connector_spark.sources.broker import FileBroker, PubsubMessage
from spark_sql_pubsub_connector_spark.sources.datasource import register_pubsub
from spark_sql_pubsub_connector_spark.sources.registry import StreamConflictError
from spark_sql_pubsub_connector_spark.streaming import read_stream, write_stream


@pytest.fixture()
def broker_dir(tmp_path):
    return str(tmp_path / "broker")


@pytest.fixture()
def broker(broker_dir):
    b = FileBroker(broker_dir)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=300)
    return b


def _publish_canonical(broker, n=100):
    """FIXTURES.md A.2 canonical payloads."""
    broker.publish(
        "t",
        [
            PubsubMessage(
                data=f"Test Message: {i}".encode(),
                attributes={"key": f"value: {i}"},
                ordering_key=str(i % 7),
                publish_ts_us=1_700_000_000_000_000 + i * 1_000,
            )
            for i in range(n)
        ],
    )


def _run_to_memory(spark, df, name, checkpoint, broker, sub="s"):
    """Run until the subscription is fully drained AND acked.

    Spark calls source.commit(end) when constructing the *next* batch,
    so acks for batch N land at the start of cycle N+1 — the query must
    keep running past the last data batch for at-least-once ack
    delivery to complete (same lifecycle as the reference's
    commit-then-evict, PubsubMicroBatchStream.scala:93-114).
    """
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline and broker.backlog(sub) > 0:
        time.sleep(0.3)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return spark.table(name)


def test_source_count_100(spark, broker, broker_dir, tmp_path):
    _publish_canonical(broker, 100)
    df = read_stream(
        spark, broker_dir, "s", max_messages_per_partition=10, num_partitions=4
    )
    assert [f.name for f in df.schema.fields] == [
        "subscription",
        "ack_id",
        "message_id",
        "ordering_key",
        "data",
        "publish_timestamp",
        "attributes",
    ]
    out = _run_to_memory(spark, df, "src_count", str(tmp_path / "ckpt"), broker)
    rows = out.collect()
    assert len(rows) == 100
    by_id = {r["message_id"]: r for r in rows}
    assert by_id["0"]["data"] == b"Test Message: 0"
    assert by_id["0"]["attributes"] == {"key": "value: 0"}
    assert by_id["0"]["subscription"] == "projects/test-project/subscriptions/s"
    assert by_id["13"]["ordering_key"] == str(13 % 7)
    # publish timestamp is µs-exact
    assert int(by_id["5"]["publish_timestamp"].timestamp() * 1e6) == (
        1_700_000_000_000_000 + 5_000
    )
    # ack-on-commit: after successful drain the backlog is empty
    assert broker.backlog("s") == 0


def test_sink_roundtrip(spark, broker, broker_dir, tmp_path):
    _publish_canonical(broker, 100)
    broker.create_topic("t2")
    broker.create_subscription("s2", "t2")
    src = read_stream(
        spark, broker_dir, "s", max_messages_per_partition=25, num_partitions=4
    )
    # republish with the source ordering key carried through
    out = src.select(
        F.col("data"),
        F.col("attributes"),
        F.col("ordering_key").alias("okey"),
    )
    q = write_stream(
        out,
        broker_dir,
        "t2",
        str(tmp_path / "ckpt_sink"),
        ordering_key="okey",
    )
    deadline = time.time() + 120
    while time.time() < deadline and broker.backlog("s") > 0:
        time.sleep(0.5)
    q.processAllAvailable()
    q.stop()
    msgs = broker.topic_messages("t2")
    assert len(msgs) == 100
    datas = {m.data for m in msgs}
    assert b"Test Message: 0" in datas and b"Test Message: 99" in datas
    one = next(m for m in msgs if m.data == b"Test Message: 42")
    assert one.attributes == {"key": "value: 42"}
    assert one.ordering_key == str(42 % 7)


def test_two_streams_same_subscription_rejected(spark, broker, broker_dir, tmp_path):
    """PubsubConnectorTest.scala:249-291: a subscription supports one
    stream; the second query fails with the conflict error."""
    _publish_canonical(broker, 20)
    df1 = read_stream(spark, broker_dir, "s")
    q1 = (
        df1.writeStream.format("memory")
        .queryName("guard_one")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and broker.backlog("s") > 0:
            time.sleep(0.5)
        df2 = read_stream(spark, broker_dir, "s")
        q2 = (
            df2.writeStream.format("memory")
            .queryName("guard_two")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .start()
        )
        with pytest.raises(Exception) as ei:
            q2.awaitTermination(60)
            if q2.exception() is not None:
                raise q2.exception()
        assert "already consumed" in str(ei.value)
    finally:
        q1.stop()
        for q in spark.streams.active:
            q.stop()


def test_stream_registry_direct(broker_dir, broker):
    """Direct registry-level check of both failure modes (S12)."""
    from spark_sql_pubsub_connector_spark.sources.registry import StreamRegistry

    reg = StreamRegistry(broker_dir)
    reg.register("s", "stream-a")
    reg.register("s", "stream-a")  # same stream re-registers fine (restart)
    with pytest.raises(StreamConflictError, match="already consumed"):
        reg.register("s", "stream-b")
    reg.unregister("s", "stream-a")
    reg.register("s", "stream-b")  # free after release


def test_write_schema_validation(spark, broker, broker_dir, tmp_path):
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
        _validate_write_schema,
    )
    from spark_sql_pubsub_connector_spark.sources.options import (
        validate_write_options,
    )
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    opts = validate_write_options(
        {"project_id": "p", "topic": "t", "broker_dir": broker_dir}
    )
    good = StructType(
        [
            StructField("data", BinaryType()),
            StructField("attributes", MapType(StringType(), StringType())),
            StructField("extra", StringType()),  # extra columns permitted
        ]
    )
    _validate_write_schema(good, opts)

    with pytest.raises(ValueError, match="'data'"):
        _validate_write_schema(
            StructType(
                [
                    StructField("data", StringType()),  # wrong type
                    StructField("attributes", MapType(StringType(), StringType())),
                ]
            ),
            opts,
        )
    with pytest.raises(ValueError, match="attributes"):
        _validate_write_schema(
            StructType([StructField("data", BinaryType())]), opts
        )
    # non-string ordering-key column rejected (PubsubSink.scala:28-35)
    key_opts = validate_write_options(
        {
            "project_id": "p",
            "topic": "t",
            "broker_dir": broker_dir,
            "ordering_key": "okey",
        }
    )
    with pytest.raises(ValueError, match="okey"):
        _validate_write_schema(good, key_opts)  # missing entirely
    with pytest.raises(ValueError, match="StringType"):
        _validate_write_schema(
            StructType(
                good.fields + [StructField("okey", IntegerType())]
            ),
            key_opts,
        )
    # Append-only: overwrite → error (PubsubTableProvider.scala:24-25)
    from spark_sql_pubsub_connector_spark.sources.datasource import PubsubDataSource

    ds = PubsubDataSource(
        {"project_id": "p", "topic": "t", "broker_dir": broker_dir}
    )
    with pytest.raises(ValueError, match="Append"):
        ds.streamWriter(good, overwrite=True)
    assert isinstance(ds.streamWriter(good, overwrite=False), PubsubStreamWriter)


def _read_rows(reader, part):
    """Flatten read()'s Arrow RecordBatches back to row tuples (the
    engine does this JVM-side; direct-call tests do it here)."""
    rows = []
    for batch in reader.read(part):
        rows.extend(tuple(d.values()) for d in batch.to_pylist())
    return rows


def test_replay_determinism(spark, broker, broker_dir):
    """SURVEY.md §4.3-1: re-evaluating the same batch returns identical
    rows (the RDD-block-cache semantics, S9)."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    _publish_canonical(broker, 30)
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "3",
            "max_messages_per_partition": "10",
        }
    )
    try:
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        assert len(parts) == 3
        first = [sorted(tuple(map(str, r)) for r in _read_rows(reader, p)) for p in parts]
        # second evaluation replays the cache, not the broker
        second = [sorted(tuple(map(str, r)) for r in _read_rows(reader, p)) for p in parts]
        assert first == second
        n = sum(len(x) for x in first)
        assert n == 30
        # nothing acked yet → backlog intact (ack only on commit)
        assert broker.backlog("s") == 30
        reader.commit(end)
        assert broker.backlog("s") == 0
    finally:
        reader.stop()


def test_uncommitted_batch_redelivered(spark, broker_dir):
    """At-least-once: a reader that dies before commit leaves its
    messages leased; after deadline expiry a new reader gets them."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    b = FileBroker(broker_dir)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=0.0)  # instant expiry
    _publish_canonical(b, 10)
    # one partition per reader: with a 0-second deadline every pull sees
    # the previous lease expired, so extra partitions would (correctly,
    # at-least-once) re-pull the same messages
    r1 = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "1",
            "max_messages_per_partition": "10",
        }
    )
    parts = r1.partitions(r1.initialOffset(), r1.latestOffset())
    pulled = [row for p in parts for row in _read_rows(r1, p)]
    assert len(pulled) == 10
    r1.stop()  # dies without commit
    r2 = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "1",
            "max_messages_per_partition": "10",
        }
    )
    try:
        parts2 = r2.partitions(r2.initialOffset(), r2.latestOffset())
        again = [row for p in parts2 for row in _read_rows(r2, p)]
        assert {r[2] for r in again} == {str(i) for i in range(10)}
    finally:
        r2.stop()


def test_commit_never_acks_foreign_stream_cache(spark, broker, broker_dir):
    """ADVICE r2 (medium): a crashed query's replay-cache dirs must not
    be swept into a successor's commit-time ack — those messages were
    skipped by the successor as still-leased, so acking them would drop
    them from every committed batch. The successor purges foreign dirs
    unacked; lease expiry redelivers."""
    import os

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
        _read_cache_dir,
    )

    _publish_canonical(broker, 10)
    r1 = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "1",
            "max_messages_per_partition": "10",
            "stream_id": "run1",
        }
    )
    parts = r1.partitions(r1.initialOffset(), r1.latestOffset())
    pulled = [row for p in parts for row in _read_rows(r1, p)]
    assert len(pulled) == 10
    r1.stop()  # crash before commit: cache dirs + broker leases remain
    root = _read_cache_dir(r1.opts)
    assert os.listdir(root), "predecessor cache should exist"

    r2 = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "1",
            "max_messages_per_partition": "10",
            "stream_id": "run2",
        }
    )
    try:
        end = r2.latestOffset()
        parts2 = r2.partitions(r2.initialOffset(), end)
        # messages are still leased to run1 → run2 sees none of them
        assert [row for p in parts2 for row in _read_rows(r2, p)] == []
        r2.commit(end)
        # the commit must NOT have acked run1's cached ack_ids
        assert broker.backlog("s") == 10
        # and run1's stale dirs were purged (unacked) at registration
        assert os.listdir(root) == ["run2"]
    finally:
        r2.stop()


def test_dynamic_partitioning_region_split(spark, broker_dir):
    """S6/S13: skewed region backlog → region-pinned partitions."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    b = FileBroker(broker_dir)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=300)
    b.publish(
        "t",
        [
            PubsubMessage(data=b"x", publish_ts_us=1, region="us-east1")
            for _ in range(30)
        ],
    )
    b.publish(
        "t",
        [PubsubMessage(data=b"y", publish_ts_us=1, region="eu-west1") for _ in range(3)],
    )
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "dynamic_partitioning": "true",
            "backlog_threshold": "1000",  # min clamp
            "max_messages_per_partition": "10",
        }
    )
    try:
        reader.monitor.refresh()
        start, end = reader.initialOffset(), reader.latestOffset()
        parts = reader.partitions(start, end)
        regions = [p.value.region for p in parts]
        assert "us-east1" in regions and "eu-west1" in regions
        rows = [row for p in parts for row in _read_rows(reader, p)]
        assert len(rows) == 33
        reader.commit(end)
        assert b.backlog("s") == 0
    finally:
        reader.stop()


def test_split_stream_two_sinks_rejected(spark, broker, broker_dir, tmp_path):
    """PubsubConnectorTest.scala:201-246: splitting ONE source DataFrame
    into two sinks means two queries each claiming the subscription —
    the second must fail with the conflict error (ack/cache state is a
    per-subscription singleton). The documented workaround is
    foreachBatch fan-out (streaming/pipelines.foreach_batch_fanout)."""
    _publish_canonical(broker, 20)
    df = read_stream(spark, broker_dir, "s")
    q1 = (
        df.writeStream.format("memory")
        .queryName("split_a")
        .option("checkpointLocation", str(tmp_path / "cka"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and broker.backlog("s") > 0:
            time.sleep(0.5)
        q2 = (
            df.writeStream.format("memory")
            .queryName("split_b")
            .option("checkpointLocation", str(tmp_path / "ckb"))
            .start()
        )
        with pytest.raises(Exception) as ei:
            q2.awaitTermination(60)
            if q2.exception() is not None:
                raise q2.exception()
        assert "already consumed" in str(ei.value)
    finally:
        for q in spark.streams.active:
            q.stop()


def test_watermark_drops_late_events(spark, broker_dir, tmp_path):
    """Watermark semantics over the connector: in append mode a window
    only emits once the watermark passes it, and events arriving after
    that are dropped from the result (late-data discipline the driver's
    §2.3 streaming operators rely on)."""
    b = FileBroker(broker_dir)
    b.create_topic("wm")
    b.create_subscription("wm-s", "wm", ack_deadline_s=300)
    base = 1_700_000_000_000_000  # µs

    def msg(i, ts_us):
        return PubsubMessage(
            data=f"e{i}".encode(), attributes={}, publish_ts_us=ts_us
        )

    # batch 1: two events in window [0,60s) and one far ahead at +10min
    # (advances the watermark past the first window)
    b.publish("wm", [msg(0, base), msg(1, base + 1_000_000), msg(2, base + 600_000_000)])
    df = read_stream(spark, broker_dir, "wm-s", max_messages_per_partition=10)
    agg = (
        df.withWatermark("publish_timestamp", "1 minute")
        .groupBy(F.window("publish_timestamp", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wmck"))
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and b.backlog("wm-s") > 0:
            time.sleep(0.5)
        q.processAllAvailable()
        # batch 2: a LATE event for the first (already-emitted) window
        b.publish("wm", [msg(3, base + 2_000_000)])
        deadline = time.time() + 90
        while time.time() < deadline and b.backlog("wm-s") > 0:
            time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    rows = {r["ws"].timestamp(): r["n"] for r in spark.table("wm_out").collect()}
    # first window emitted with exactly the 2 on-time events; the late
    # third never re-emits or bumps the count
    first_window_start = (base // 1_000_000) // 60 * 60  # minute-aligned
    assert rows.get(first_window_start) == 2, rows


def test_foreach_batch_fanout_two_sinks(spark, broker, broker_dir, tmp_path):
    """The reference's documented workaround for stream splitting
    (README.md:131): ONE query, two sinks inside foreachBatch — both
    sinks see every message without violating the single-consumer
    rule."""
    from spark_sql_pubsub_connector_spark.streaming import foreach_batch_fanout

    _publish_canonical(broker, 40)
    df = read_stream(spark, broker_dir, "s", max_messages_per_partition=10)
    seen_a, seen_b = [], []

    def sink_a(batch_df, batch_id):
        seen_a.extend(r["message_id"] for r in batch_df.collect())

    def sink_b(batch_df, batch_id):
        seen_b.extend(r["message_id"] for r in batch_df.collect())

    q = foreach_batch_fanout(df, str(tmp_path / "fanout-ck"), sink_a, sink_b)
    try:
        deadline = time.time() + 90
        while time.time() < deadline and broker.backlog("s") > 0:
            time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert sorted(seen_a, key=int) == [str(i) for i in range(40)]
    assert seen_a == seen_b


def _sink_schema():
    from pyspark.sql.types import (
        BinaryType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("data", BinaryType()),
            StructField("attributes", MapType(StringType(), StringType())),
        ]
    )


def _one_batch(payload=b"payload"):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([payload], type=pa.binary()),
            pa.array([[("k", "v")]], type=pa.map_(pa.string(), pa.string())),
        ],
        names=["data", "attributes"],
    )


def test_sink_batch_idempotence(spark, broker, broker_dir, tmp_path):
    """S14: re-delivered batch ids of the SAME query (sink_id) are
    skipped (PubsubSink.scala:17-18 semantics) — committing the same
    batchId twice publishes once. The Python API builds a fresh writer
    per commit, so the guard rides in persisted (topic, sink_id) state
    rather than an instance field."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
    )

    broker.create_topic("idem")
    opts = {
        "project_id": "test-project",
        "topic": "idem",
        "broker_dir": broker_dir,
        "sink_id": str(tmp_path / "ckpt_idem"),
    }
    schema = _sink_schema()
    msg = PubsubStreamWriter(opts, schema).write(iter([_one_batch()]))
    PubsubStreamWriter(opts, schema).commit([msg], batchId=7)
    n_after_first = len(broker.topic_messages("idem"))
    # Spark re-delivers the same batch after a sink-side failure/restart
    # — and constructs a NEW writer instance for the re-commit
    msg2 = PubsubStreamWriter(opts, schema).write(iter([_one_batch()]))
    PubsubStreamWriter(opts, schema).commit([msg2], batchId=7)
    assert len(broker.topic_messages("idem")) == n_after_first == 1


def test_sink_second_query_not_suppressed(spark, broker, broker_dir, tmp_path):
    """Batch ids are per-query (every new checkpoint restarts at 0), so
    the idempotence record is namespaced by sink_id: a second query —
    or a re-created one on a fresh checkpoint — writing the same topic
    must NOT have its batches swallowed by the first query's state."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
    )

    broker.create_topic("multi")
    schema = _sink_schema()
    opts_a = {
        "project_id": "p",
        "topic": "multi",
        "broker_dir": broker_dir,
        "sink_id": "query-a",
    }
    opts_b = dict(opts_a, sink_id="query-b")
    wa = PubsubStreamWriter(opts_a, schema)
    wa.commit([wa.write(iter([_one_batch(b"from-a")]))], batchId=0)
    wb = PubsubStreamWriter(opts_b, schema)
    wb.commit([wb.write(iter([_one_batch(b"from-b")]))], batchId=0)
    datas = {m.data for m in broker.topic_messages("multi")}
    assert datas == {b"from-a", b"from-b"}


def test_sink_publish_batch_size_chunks_staging(spark, broker, broker_dir):
    """S16: publish_batch_size bounds each staged append unit — the
    element-count flush threshold of the reference's client batching
    (CachedPublishers.scala:19-35)."""
    import pyarrow as pa

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
    )

    broker.create_topic("chunk")
    n = 25
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"m{i}".encode() for i in range(n)], type=pa.binary()),
            pa.array([[("k", "v")]] * n, type=pa.map_(pa.string(), pa.string())),
        ],
        names=["data", "attributes"],
    )
    w = PubsubStreamWriter(
        {
            "project_id": "p",
            "topic": "chunk",
            "broker_dir": broker_dir,
            "publish_batch_size": "10",
        },
        _sink_schema(),
    )
    msg = w.write(iter([batch]))
    assert msg.count == 25
    assert len(msg.staged_files) == 3  # 10 + 10 + 5
    w.commit([msg], batchId=0)
    assert len(broker.topic_messages("chunk")) == 25


def test_sink_failed_task_leaves_no_promoted_chunks(spark, broker, broker_dir):
    """ADVICE r2 (low): a task that fails mid-write must not leave
    promoted (non-.tmp) chunks in .sink_stage/ — abort() only sees
    commit messages, so anything promoted outside one leaks forever.
    Chunks stay .tmp until the whole partition succeeds; the except
    path unlinks them."""
    import os

    import pyarrow as pa

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
        _stage_dir,
    )

    broker.create_topic("failchunk")
    n = 25
    good = pa.RecordBatch.from_arrays(
        [
            pa.array([f"m{i}".encode() for i in range(n)], type=pa.binary()),
            pa.array([[("k", "v")]] * n, type=pa.map_(pa.string(), pa.string())),
        ],
        names=["data", "attributes"],
    )
    bad = pa.RecordBatch.from_arrays(
        [
            pa.array([None], type=pa.binary()),  # null data → ValueError
            pa.array([[]], type=pa.map_(pa.string(), pa.string())),
        ],
        names=["data", "attributes"],
    )
    w = PubsubStreamWriter(
        {
            "project_id": "p",
            "topic": "failchunk",
            "broker_dir": broker_dir,
            "publish_batch_size": "10",  # 2 full chunks roll before the bad row
        },
        _sink_schema(),
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="'data' must not be null"):
        w.write(iter([good, bad]))
    stage = _stage_dir(w.opts)
    leftovers = os.listdir(stage) if os.path.isdir(stage) else []
    assert leftovers == [], f"stage dir must be empty after failure: {leftovers}"


def test_restart_resumes_offset_counter(spark, broker, broker_dir):
    """S4 restart semantics (PubsubMicroBatchStream.scala:87-89): a
    reader built after a restart resumes the synthetic offset counter
    from persisted state instead of regressing to 0, and replays an
    uncommitted batch from its cache so commit() can still ack it."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    _publish_canonical(broker, 10)
    opts = {
        "project_id": "p",
        "subscription": "s",
        "broker_dir": broker_dir,
        "num_partitions": "1",
        "max_messages_per_partition": "10",
        # stable identity → the restarted reader re-claims the
        # subscription immediately (no registry-TTL wait)
        "stream_id": "restart-ck",
    }
    r1 = PubsubStreamReader(opts)
    start, end = r1.initialOffset(), r1.latestOffset()
    assert (start["batch_id"], end["batch_id"]) == (0, 1)
    parts = r1.partitions(start, end)
    first = sorted(tuple(map(str, r)) for p in parts for r in _read_rows(r1, p))
    # r1 "crashes" here: no commit, no stop — Spark has the offsets in
    # its write-ahead log and will replan the same batch after restart
    r2 = PubsubStreamReader(opts)
    try:
        # initialOffset reports the COMMITTED floor (0 — r1 never
        # committed); the planned high-water mark (1) is restored
        # separately so latestOffset never regresses below it
        assert r2.initialOffset()["batch_id"] == 0
        parts2 = r2.partitions(start, end)  # checkpointed offsets replayed
        second = sorted(
            tuple(map(str, r)) for p in parts2 for r in _read_rows(r2, p)
        )
        assert first == second  # served from the batch cache, no re-pull
        r2.commit(end)
        assert broker.backlog("s") == 0  # acks landed despite the restart
        # counter never regresses: with an empty backlog latestOffset
        # holds at the committed position
        assert r2.latestOffset()["batch_id"] == 1
    finally:
        r2.stop()


def test_stream_id_reclaims_after_crash(spark, broker, broker_dir):
    """A stable stream_id (e.g. the checkpoint path) lets a restarted
    query re-claim its subscription immediately instead of waiting out
    the registry's crash TTL; other identities still conflict."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    _publish_canonical(broker, 5)
    opts = {
        "project_id": "p",
        "subscription": "s",
        "broker_dir": broker_dir,
        "stream_id": "ckpt-alpha",
    }
    r1 = PubsubStreamReader(opts)
    r1.initialOffset()  # claims the subscription; then "crashes" (no stop)
    r2 = PubsubStreamReader(opts)
    try:
        r2.initialOffset()  # same identity → immediate re-claim
        with pytest.raises(StreamConflictError, match="already consumed"):
            PubsubStreamReader(dict(opts, stream_id="other")).initialOffset()
    finally:
        r2.stop()


def test_available_now_bounded_drain_across_runs(spark, broker_dir, tmp_path):
    """S5 under the Python DataSource API: PythonMicroBatchStream has no
    SupportsTriggerAvailableNow hook, so Trigger.AvailableNow falls back
    to single-batch execution. The source makes that single batch a
    BOUNDED full drain — min(backlog, max_dynamic_partitions ×
    max_messages) — and a backlog beyond the envelope drains across
    repeated availableNow runs on the same checkpoint, exactly once."""
    b = FileBroker(broker_dir)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=300)
    _publish_canonical(b, 50)
    n_msgs = 50

    def run(name):
        df = read_stream(
            spark,
            broker_dir,
            "s",
            max_messages_per_partition=1,  # envelope = 32 msgs/trigger
            num_partitions=4,
            max_dynamic_partitions=32,
            # stable identity: run 2 re-claims the subscription even if
            # run 1's reader teardown (stop→unregister) is still in
            # flight — exactly how a restarted production query avoids
            # the registry's crash TTL
            stream_id="an-ck",
        )
        seen: list[str] = []

        def sink(batch_df, batch_id):
            seen.extend(r["message_id"] for r in batch_df.collect())

        # foreachBatch (not memory sink): supports restart from the
        # same checkpoint, which is the whole point of this test
        q = (
            df.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "an_ck"))
            .start()
        )
        assert q.awaitTermination(120)
        return seen

    first = run("an_run1")
    assert len(first) == 32  # bounded: one trigger ≤ the drain envelope
    second = run("an_run2")
    assert len(second) == 18  # restart resumed the counter and drained
    assert sorted(first + second, key=int) == [str(i) for i in range(n_msgs)]


def test_batch_read_write_unsupported(spark, broker_dir):
    """The reference declares exactly MICRO_BATCH_READ and a streaming
    sink (PubsubTable.scala:20-22) — batch spark.read/write must fail."""
    register_pubsub(spark)
    with pytest.raises(Exception, match="stream|batch|unsupported|support"):
        (
            spark.read.format("pubsub")
            .option("project_id", "p")
            .option("subscription", "s")
            .option("broker_dir", broker_dir)
            .load()
            .collect()
        )


def test_stateful_dedup_effectively_once_across_restart(spark, broker_dir, tmp_path):
    """At-least-once source delivery + checkpointed dedup state =
    effectively-once output, across a restart with forced redelivery
    (the pairing the reference documents, README.md:125).

    Run 1 drains a backlog with duplicate keys through
    dropDuplicatesWithinWatermark and stops before its acks land
    (source.commit fires on the NEXT run). The short ack deadline then
    expires every lease → the broker redelivers the full backlog to
    run 2 on the same checkpoint — whose restored state drops every
    redelivered row. No key may ever appear twice across both runs."""
    import json as _json

    b = FileBroker(broker_dir)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=3)  # fast lease expiry
    base = 1_700_000_000_000_000
    msgs = [
        PubsubMessage(
            data=_json.dumps({"k": k, "dup": dup}).encode(),
            attributes={},
            ordering_key=str(k),
            publish_ts_us=base + k * 1_000_000,
        )
        for k in range(10)
        for dup in range(3)
    ]
    b.publish("t", msgs)

    def run():
        df = read_stream(
            spark,
            broker_dir,
            "s",
            num_partitions=2,
            max_messages_per_partition=100,
            stream_id="dedup-restart-ck",
        )
        deduped = (
            df.withWatermark("publish_timestamp", "1 hour")
            .dropDuplicatesWithinWatermark(["ordering_key"])
            .select("ordering_key", "message_id")
        )
        seen: list[tuple[str, str]] = []

        def sink(batch_df, batch_id):
            seen.extend(
                (r["ordering_key"], r["message_id"]) for r in batch_df.collect()
            )

        q = (
            deduped.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "dedup_ck"))
            .start()
        )
        assert q.awaitTermination(180)
        return seen

    first = run()
    assert sorted({k for k, _ in first}, key=int) == [str(i) for i in range(10)]
    assert len(first) == 10  # duplicates within the batch already dropped
    time.sleep(4)  # leases expire: the whole backlog redelivers
    assert FileBroker(broker_dir).backlog("s") == 30
    second = run()
    # the restored state recognizes every redelivered key
    assert second == [], second


def test_adversarial_payloads_roundtrip_exactly(spark, broker, broker_dir, tmp_path):
    """Source→sink byte fidelity over the payloads a real corpus will
    eventually throw at the connector: empty data, raw binary junk, a
    pre-1970 publish timestamp, full-unicode payload/attributes/
    ordering key (emoji, CJK, Cyrillic), a 5 MB blob, and kilobyte-long
    attribute keys/values. Every message must survive the pubsub
    source, the staged-commit sink, and a republish with bytes,
    attributes, and ordering keys intact."""
    y9999_us = 253_402_300_799_000_000
    msgs = [
        PubsubMessage(data=b"", attributes={}, ordering_key="",
                      publish_ts_us=1_700_000_000_000_000),
        PubsubMessage(data=b"\x00\xff\xfe junk \x00" * 100,
                      attributes={"k": ""}, ordering_key="",
                      publish_ts_us=-1_000_000),
        PubsubMessage(data="\U0001f600 unicode päyload 中文".encode(),
                      attributes={"emoji \U0001f389": "välue 中"},
                      ordering_key="ключ-\U0001f511",
                      publish_ts_us=y9999_us),
        PubsubMessage(data=b"x" * 5_000_000, attributes={"big": "1"},
                      ordering_key="big", publish_ts_us=123),
        PubsubMessage(data=b'{"nested": {"json": [1,2,3]}}',
                      attributes={"k" * 1000: "v" * 1000},
                      ordering_key="k" * 500, publish_ts_us=456),
    ]
    broker.publish("t", msgs)
    broker.create_topic("t2")

    src = read_stream(
        spark, broker_dir, "s", num_partitions=2, max_messages_per_partition=10
    )
    out = src.select(
        F.col("data"),
        F.col("attributes"),
        F.col("ordering_key").alias("okey"),
        F.col("publish_timestamp"),
    )
    q = write_stream(
        out.drop("publish_timestamp"),
        broker_dir,
        "t2",
        str(tmp_path / "ckpt_adv"),
        ordering_key="okey",
    )
    deadline = time.time() + 120
    while time.time() < deadline and broker.backlog("s") > 0:
        time.sleep(0.3)
    q.processAllAvailable()
    q.stop()

    got = broker.topic_messages("t2")
    assert len(got) == len(msgs)
    by_data = {bytes(m.data): m for m in got}
    for sent in msgs:
        echoed = by_data[sent.data]
        assert echoed.attributes == sent.attributes
        assert echoed.ordering_key == sent.ordering_key


def test_replay_survives_primary_cache_loss(spark, broker, broker_dir):
    """S9 replication analog (PubsubPartitionReader.scala:57,
    MEMORY_AND_DISK_SER_2): with replay_cache_replicas=2, losing the
    whole primary cache between pull and replay serves the identical
    batch from the replica — no re-pull (the broker still holds the
    lease, so a re-pull would return nothing)."""
    import shutil as _shutil

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    _publish_canonical(broker, 30)
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "3",
            "max_messages_per_partition": "10",
            "replay_cache_replicas": "2",
        }
    )
    try:
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        first = [
            sorted(tuple(map(str, r)) for r in _read_rows(reader, p))
            for p in parts
        ]
        assert sum(len(x) for x in first) == 30
        # replica copies exist alongside the primary
        rep_root = os.path.join(broker_dir, ".read_cache_rep1")
        assert os.path.isdir(rep_root)
        # kill the ENTIRE primary cache tree
        _shutil.rmtree(os.path.join(broker_dir, ".read_cache"))
        second = [
            sorted(tuple(map(str, r)) for r in _read_rows(reader, p))
            for p in parts
        ]
        assert first == second  # replica served, byte-identical replay
        # the replica read healed the primary copies
        assert os.path.isdir(os.path.join(broker_dir, ".read_cache"))
        # commit still acks everything and evicts BOTH roots' batch dirs
        reader.commit(end)
        assert broker.backlog("s") == 0
        for root in (".read_cache", ".read_cache_rep1"):
            sub_root = os.path.join(broker_dir, root, "s")
            if os.path.isdir(sub_root):
                for stream_d in os.listdir(sub_root):
                    assert os.listdir(os.path.join(sub_root, stream_d)) == []
    finally:
        reader.stop()


def test_replay_replicas_ack_survives_primary_loss(spark, broker, broker_dir):
    """Commit's ack sweep reads from replica roots too: even if the
    primary is lost and never re-read before commit, the acks land."""
    import shutil as _shutil

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    _publish_canonical(broker, 20)
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "2",
            "max_messages_per_partition": "10",
            "replay_cache_replicas": "2",
        }
    )
    try:
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        n = sum(len(_read_rows(reader, p)) for p in parts)
        assert n == 20
        _shutil.rmtree(os.path.join(broker_dir, ".read_cache"))
        reader.commit(end)  # ack_ids recovered from the replica root
        assert broker.backlog("s") == 0
    finally:
        reader.stop()


def test_replay_cache_replicas_option_validation(broker_dir):
    """Range check mirrors the other option validators (package.scala
    validateAndInitReadOptions style): >=1, <=4, default 1."""
    from spark_sql_pubsub_connector_spark.sources.options import (
        validate_read_options,
    )

    base = {"project_id": "p", "subscription": "s", "broker_dir": broker_dir}
    assert validate_read_options(dict(base)).replay_cache_replicas == 1
    assert (
        validate_read_options(
            dict(base, replay_cache_replicas="2")
        ).replay_cache_replicas
        == 2
    )
    with pytest.raises(ValueError):
        validate_read_options(dict(base, replay_cache_replicas="0"))
    with pytest.raises(ValueError):
        validate_read_options(dict(base, replay_cache_replicas="5"))


def test_source_e2e_with_replicated_cache(spark, broker, broker_dir, tmp_path):
    """End-to-end readStream with replay_cache_replicas=2: the replica
    copies are written by real executor workers (not the in-process
    reader API), all 100 messages arrive exactly once, and commit
    evicts every root's batch dirs."""
    _publish_canonical(broker, 100)
    df = read_stream(
        spark,
        broker_dir,
        "s",
        max_messages_per_partition=10,
        num_partitions=4,
        replay_cache_replicas=2,
    )
    out = _run_to_memory(spark, df, "src_rep", str(tmp_path / "ckpt_rep"), broker)
    rows = out.collect()
    assert len(rows) == 100
    assert len({r["message_id"] for r in rows}) == 100
    assert broker.backlog("s") == 0
    # the replica root was created by the executors, and its eviction
    # mirrors the primary exactly (Spark commits batch N while
    # constructing batch N+1, so a trailing never-committed batch may
    # linger in BOTH roots after stop — same-set, not empty-set)
    rep_root = os.path.join(broker_dir, ".read_cache_rep1", "s")
    pri_root = os.path.join(broker_dir, ".read_cache", "s")
    assert os.path.isdir(rep_root)
    def _remaining(root):
        out = set()
        for stream_d in os.listdir(root):
            for b in os.listdir(os.path.join(root, stream_d)):
                out.add((stream_d, b))
        return out
    assert _remaining(rep_root) == _remaining(pri_root)


def test_commit_acks_primary_copy_only_on_divergence(spark, broker, broker_dir):
    """ADVICE r12 (at-least-once): when a batch's primary and replica
    copies diverge (zombie/speculative-attempt interleave — one
    attempt's pull lands only in a replica while another attempt's pull
    becomes the primary), commit must ack ONLY what the primary copy
    holds. Unioning would ack replica-only messages that appear in no
    replayed/committed batch, silently dropping them. The zombie's copy
    is a valid cache file, so only the primary-first rule keeps its
    ack ids out."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
        _batch_to_ipc,
        _load_ack_ids,
        _records_to_arrow,
        _write_atomic,
    )

    _publish_canonical(broker, 10)
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "1",
            "max_messages_per_partition": "10",
            "replay_cache_replicas": "2",
        }
    )
    try:
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        rows = [r for p in parts for r in _read_rows(reader, p)]
        assert len(rows) == 10  # the committed batch
        # 10 more messages arrive; a second (zombie) attempt pulls them
        # and its records land only in the replica copy of the same
        # part file
        _publish_canonical(broker, 10)
        zombie = broker.pull_raw("s", 10)
        assert len(zombie) == 10
        rep_file = parts[0].value.replica_files[0]
        assert os.path.exists(rep_file)
        _write_atomic(
            rep_file,
            _batch_to_ipc(_records_to_arrow(parts[0].value.subscription_path, zombie)),
        )
        assert _load_ack_ids(rep_file) == [a for a, _ in zombie]
        reader.commit(end)
        # nack the zombie leases: every one of its messages must come
        # back (they were never part of a committed batch). A unioning
        # commit would have acked them away permanently.
        broker.modify_ack_deadline("s", [a for a, _ in zombie], 0)
        redelivered = broker.pull("s", 100)
        ids = {m.message.message_id for m in redelivered}
        assert {rec["message_id"] for _, rec in zombie} == ids
        assert len(redelivered) == 10  # every zombie message came back
    finally:
        reader.stop()


def test_corrupt_all_copies_fails_loudly(spark, broker, broker_dir):
    """ADVICE r12: a present-but-unparseable cache (every copy corrupt)
    must fail the task, not silently re-pull — a re-pull under the
    still-held lease returns nothing and would overwrite the planned
    batch's replay content with an empty batch."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    _publish_canonical(broker, 10)
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "1",
            "max_messages_per_partition": "10",
            "replay_cache_replicas": "2",
        }
    )
    try:
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        assert len(_read_rows(reader, parts[0])) == 10
        payload = parts[0].value
        for path in (payload.cache_file,) + tuple(payload.replica_files):
            with open(path, "w") as fh:
                fh.write("{not json\n")
        with pytest.raises(RuntimeError, match="no .*copy is parseable"):
            _read_rows(reader, parts[0])
        # the corrupt copies were not overwritten by a silent re-pull
        with open(payload.cache_file) as fh:
            assert fh.read() == "{not json\n"
    finally:
        reader.stop()


def test_replica_serve_reheals_all_copies(spark, broker, broker_dir):
    """ADVICE r12: serving from a replica re-heals the primary AND any
    other lost copy, so redundancy never silently degrades below the
    configured replay_cache_replicas."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    _publish_canonical(broker, 10)
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "1",
            "max_messages_per_partition": "10",
            "replay_cache_replicas": "3",
        }
    )
    try:
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        first = sorted(tuple(map(str, r)) for r in _read_rows(reader, parts[0]))
        payload = parts[0].value
        rep1, rep2 = payload.replica_files
        with open(rep1, "rb") as fh:
            healthy = fh.read()
        # lose the primary AND the second replica; only rep1 survives
        os.remove(payload.cache_file)
        os.remove(rep2)
        second = sorted(tuple(map(str, r)) for r in _read_rows(reader, parts[0]))
        assert first == second
        for path in (payload.cache_file, rep2):
            with open(path, "rb") as fh:
                assert fh.read() == healthy  # re-healed, byte-identical
    finally:
        reader.stop()


def _reader(broker_dir, **opts):
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    base = {"project_id": "p", "subscription": "s", "broker_dir": broker_dir}
    return PubsubStreamReader(dict(base, **{k: str(v) for k, v in opts.items()}))


@pytest.mark.parametrize("keep", [0.0, 0.5, 0.99])
def test_torn_primary_without_replica_fails_loudly(broker, broker_dir, keep):
    """A zero-length or truncated cache copy (a torn or lost write) is
    unreadable, not a shorter batch: with no replica to fall back to,
    the replay fails instead of yielding less or re-pulling."""
    _publish_canonical(broker, 10)
    reader = _reader(broker_dir, num_partitions=1, max_messages_per_partition=10)
    try:
        parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
        assert len(_read_rows(reader, parts[0])) == 10
        path = parts[0].value.cache_file
        with open(path, "rb") as fh:
            torn = fh.read()[: int(os.path.getsize(path) * keep)]
        with open(path, "wb") as fh:
            fh.write(torn)
        with pytest.raises(RuntimeError, match="no copy is parseable"):
            _read_rows(reader, parts[0])
        with open(path, "rb") as fh:
            assert fh.read() == torn  # not re-pulled over
    finally:
        reader.stop()


def test_legacy_jsonl_cache_copy_fails_loudly(broker, broker_dir):
    """A batch dir holding only a copy in the older JSON-lines format
    must not be taken for a never-pulled partition: re-pulling under
    the still-held lease would replay a different batch."""
    import json as _json

    _publish_canonical(broker, 10)
    reader = _reader(broker_dir, num_partitions=1, max_messages_per_partition=10)
    try:
        parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
        cache_file = parts[0].value.cache_file
        legacy = cache_file[: -len(".arrow")] + ".jsonl"
        os.makedirs(os.path.dirname(legacy), exist_ok=True)
        with open(legacy, "w") as fh:
            fh.write(_json.dumps({"ack_id": "ack-0-x", "message_id": "0"}) + "\n")
        with pytest.raises(RuntimeError, match="no copy is parseable"):
            _read_rows(reader, parts[0])
        assert not os.path.exists(cache_file)
        assert len(broker.pull("s", 10)) == 10  # nothing was leased
    finally:
        reader.stop()


def test_empty_partition_cache_file_is_small(broker, broker_dir):
    """An empty partition still writes its cache file (the replay must
    find it), but only schema and footer: well under the 4 KiB floor
    below which a leftover cache file counts as holding no data."""
    _publish_canonical(broker, 5)
    reader = _reader(broker_dir, num_partitions=2, max_messages_per_partition=10)
    try:
        parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
        assert [len(_read_rows(reader, p)) for p in parts] == [5, 0]
        empty = parts[1].value.cache_file
        assert 0 < os.path.getsize(empty) < 4096
        assert _read_rows(reader, parts[1]) == []  # replays as empty
    finally:
        reader.stop()


def test_commit_acks_batch_in_one_broker_call(broker, broker_dir, monkeypatch):
    """commit() reads the ack ids of every part and acks the batch with
    a single broker call, even past the real service's 1,500-id request
    limit (RealBrokerClient chunks for itself)."""
    _publish_canonical(broker, 2000)
    reader = _reader(broker_dir, num_partitions=4, max_messages_per_partition=500)
    calls = []
    real_ack = reader.broker.acknowledge
    monkeypatch.setattr(
        reader.broker,
        "acknowledge",
        lambda sub, ids: calls.append(len(ids)) or real_ack(sub, ids),
    )
    try:
        end = reader.latestOffset()
        parts = reader.partitions(reader.initialOffset(), end)
        assert len(parts) == 4
        assert sum(len(_read_rows(reader, p)) for p in parts) == 2000
        reader.commit(end)
        assert calls == [2000]
        assert broker.backlog("s") == 0
    finally:
        reader.stop()


def test_replan_after_restart_reuses_the_persisted_plan(broker, broker_dir):
    """With dynamic partitioning the partition count follows the backlog
    at planning time. A batch re-planned after a restart, once more
    messages were published, must rebuild the SAME partitions: extra
    partitions would pull fresh messages into the planned batch, and
    commit() would ack them even if a sink skips the batch as already
    committed."""
    opts = dict(
        num_partitions=1,
        max_messages_per_partition=1000,
        dynamic_partitioning="true",
        backlog_threshold=1000,
        stream_id="fixed",
    )
    broker.publish("t", [PubsubMessage(data=b"a", publish_ts_us=1)] * 1500)
    r1 = _reader(broker_dir, **opts)
    start, end = r1.initialOffset(), r1.latestOffset()
    parts = r1.partitions(start, end)
    assert len(parts) == 2  # ceil(1500 / 1000)
    assert sum(len(_read_rows(r1, p)) for p in parts) == 1500
    r1.stop()  # crash before commit

    broker.publish("t", [PubsubMessage(data=b"b", publish_ts_us=1)] * 5000)
    r2 = _reader(broker_dir, **opts)
    try:
        replanned = r2.partitions(start, end)
        assert len(replanned) == 2  # the monitor alone would now say 7
        assert sum(len(_read_rows(r2, p)) for p in replanned) == 1500
        r2.commit(end)
        assert broker.backlog("s") == 5000
    finally:
        r2.stop()


def test_ack_only_batch_plans_no_partitions_even_after_restart(broker, broker_dir):
    """Spark acks batch N while it builds batch N+1. When batch N took
    every message, N+1 is planned with nothing deliverable and runs no
    tasks. Its empty plan is persisted: replanned after a restart, once
    new messages have arrived, it stays empty, so it never pulls fresh
    messages into a batch a sink may already have skipped as committed."""
    opts = dict(num_partitions=2, max_messages_per_partition=10, stream_id="fixed")
    _publish_canonical(broker, 20)
    r1 = _reader(broker_dir, **opts)
    b0 = r1.initialOffset()
    b1 = r1.latestOffset()
    assert sum(len(_read_rows(r1, p)) for p in r1.partitions(b0, b1)) == 20
    b2 = r1.latestOffset()  # the leased 20 are still backlog
    assert b2["batch_id"] > b1["batch_id"]
    r1.commit(b1)
    assert broker.backlog("s") == 0
    assert r1.partitions(b1, b2) == []
    r1.stop()  # crash before batch b2 commits

    _publish_canonical(broker, 5)
    r2 = _reader(broker_dir, **opts)
    try:
        assert r2.partitions(b1, b2) == []
        r2.commit(b2)
        assert broker.backlog("s") == 5
        b3 = r2.latestOffset()
        assert sum(len(_read_rows(r2, p)) for p in r2.partitions(b2, b3)) == 5
    finally:
        r2.stop()


def test_batch_planned_over_leased_backlog_is_empty(broker, broker_dir):
    """Messages leased by another consumer are backlog but not
    deliverable: a batch planned over them alone runs no tasks."""
    _publish_canonical(broker, 10)
    zombie = broker.pull("s", 10)
    assert len(zombie) == 10
    reader = _reader(broker_dir, num_partitions=2, max_messages_per_partition=10)
    try:
        start, end = reader.initialOffset(), reader.latestOffset()
        assert end["batch_id"] > start["batch_id"]
        assert reader.partitions(start, end) == []
        reader.commit(end)
        assert broker.backlog("s") == 10  # the zombie's leases stand
    finally:
        reader.stop()


def test_relay_through_ack_only_batch_is_exactly_once(spark, broker, broker_dir, tmp_path):
    """pubsub -> pubsub: the batch after the last data batch plans no
    partitions, and the sink still commits it. The output holds every
    message once, and the source's backlog ends at 0."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        _sink_state_path,
    )
    from spark_sql_pubsub_connector_spark.sources.options import (
        validate_write_options,
    )

    _publish_canonical(broker, 60)
    broker.create_topic("t2")
    ck = str(tmp_path / "ck_ack_only")
    src = read_stream(
        spark, broker_dir, "s", max_messages_per_partition=50, num_partitions=2
    )
    q = write_stream(src.select("data", "attributes"), broker_dir, "t2", ck)
    try:
        deadline = time.time() + 120
        while time.time() < deadline and broker.backlog("s") > 0:
            time.sleep(0.2)
        q.processAllAvailable()
        # batches that ran (idle triggers report no addBatch phase)
        progress = [p for p in q.recentProgress if "addBatch" in p["durationMs"]]
    finally:
        q.stop()
        q.awaitTermination(30)
    assert broker.backlog("s") == 0
    rows = [p["numInputRows"] for p in progress]
    assert sum(rows) == 60 and rows[-1] == 0, rows
    last_batch = progress[-1]["batchId"]
    opts = validate_write_options(
        {"project_id": "test-project", "topic": "t2", "broker_dir": broker_dir,
         "sink_id": ck}
    )
    with open(_sink_state_path(opts)) as fh:
        assert json.load(fh)["last_batch"] == last_batch
    datas = [m.data for m in broker.topic_messages("t2")]
    assert sorted(datas) == sorted(f"Test Message: {i}".encode() for i in range(60))


def test_corrupt_offset_state_fails_loudly(broker, broker_dir):
    """A truncated offset-state file is an error that names the file; a
    missing one starts the counters at 0."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        _offset_state_path,
    )

    reader = _reader(broker_dir)
    assert (reader._last, reader._committed) == (0, 0)
    _publish_canonical(broker, 3)
    reader.latestOffset()
    reader.stop()
    path = _offset_state_path(reader.opts)
    with open(path) as fh:
        whole = fh.read()
    with open(path, "w") as fh:
        fh.write(whole[: len(whole) // 2])
    with pytest.raises(ValueError, match=re.escape(path)):
        _reader(broker_dir)


def test_replay_cache_replica_dirs_option_validation(broker_dir, tmp_path):
    """Explicit replica roots: exactly replicas-1 absolute, distinct
    paths; anything else is an eager ValueError."""
    from spark_sql_pubsub_connector_spark.sources.options import (
        validate_read_options,
    )

    base = {"project_id": "p", "subscription": "s", "broker_dir": broker_dir}
    m1, m2 = str(tmp_path / "m1"), str(tmp_path / "m2")
    ok = validate_read_options(
        dict(base, replay_cache_replicas="3", replay_cache_replica_dirs=f"{m1},{m2}")
    )
    assert ok.replay_cache_replica_dirs == (m1, m2)
    assert validate_read_options(dict(base)).replay_cache_replica_dirs == ()
    with pytest.raises(ValueError, match="exactly"):
        validate_read_options(
            dict(base, replay_cache_replicas="2", replay_cache_replica_dirs=f"{m1},{m2}")
        )
    with pytest.raises(ValueError, match="exactly"):
        validate_read_options(dict(base, replay_cache_replica_dirs=m1))
    with pytest.raises(ValueError, match="absolute"):
        validate_read_options(
            dict(base, replay_cache_replicas="2", replay_cache_replica_dirs="rel/path")
        )
    with pytest.raises(ValueError, match="distinct"):
        validate_read_options(
            dict(base, replay_cache_replicas="3", replay_cache_replica_dirs=f"{m1},{m1}")
        )


def test_explicit_replica_dirs_second_mount(spark, broker, broker_dir, tmp_path):
    """VERDICT r12 #6: replay_cache_replica_dirs places replica copies
    on an explicitly-named root (a second mount in a real deployment —
    the distinct-executor placement of MEMORY_AND_DISK_SER_2,
    PubsubPartitionReader.scala:57): copies land there instead of the
    derived sibling, primary loss replays from it byte-identically, and
    commit's ack sweep + eviction cover it."""
    import shutil as _shutil

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    mount2 = str(tmp_path / "mount2")
    _publish_canonical(broker, 20)
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "2",
            "max_messages_per_partition": "10",
            "replay_cache_replicas": "2",
            "replay_cache_replica_dirs": mount2,
        }
    )
    try:
        start = reader.initialOffset()
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        first = [
            sorted(tuple(map(str, r)) for r in _read_rows(reader, p))
            for p in parts
        ]
        assert sum(len(x) for x in first) == 20
        # copies live on the explicit mount, not the derived sibling
        assert os.path.isdir(os.path.join(mount2, "s"))
        assert not os.path.isdir(os.path.join(broker_dir, ".read_cache_rep1"))
        # kill the whole primary tree: replay serves from mount2
        _shutil.rmtree(os.path.join(broker_dir, ".read_cache"))
        second = [
            sorted(tuple(map(str, r)) for r in _read_rows(reader, p))
            for p in parts
        ]
        assert first == second
        reader.commit(end)
        assert broker.backlog("s") == 0
        # eviction swept the explicit root too
        sub_root = os.path.join(mount2, "s")
        for stream_d in os.listdir(sub_root):
            assert os.listdir(os.path.join(sub_root, stream_d)) == []
    finally:
        reader.stop()


def test_legacy_derived_replica_root_served_after_config_switch(
    spark, broker, broker_dir, tmp_path
):
    """ADVICE r13 (low): a batch pulled under the DERIVED-replica
    config whose primary is lost but whose copy survives under the old
    ``.read_cache_rep1`` sibling must replay from that legacy root
    after the config switches to explicit replay_cache_replica_dirs —
    not hit the fully-absent branch and silently re-pull (the broker
    still holds the lease, so a re-pull returns nothing: exactly the
    planned-batch-content change the corrupt-cache RuntimeError exists
    to prevent). The legacy copy is read-only: healing rewrites the
    configured set (primary + explicit mount), never the retired root."""
    import shutil as _shutil

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    _publish_canonical(broker, 20)
    base = {
        "project_id": "p",
        "subscription": "s",
        "broker_dir": broker_dir,
        "num_partitions": "2",
        "max_messages_per_partition": "10",
        "replay_cache_replicas": "2",
        "stream_id": "sid-cfgswitch",
    }
    old = PubsubStreamReader(dict(base))
    try:
        start = old.initialOffset()
        end = old.latestOffset()
        parts = old.partitions(start, end)
        first = [
            sorted(tuple(map(str, r)) for r in _read_rows(old, p))
            for p in parts
        ]
        assert sum(len(x) for x in first) == 20
        assert os.path.isdir(os.path.join(broker_dir, ".read_cache_rep1"))
    finally:
        old.stop()  # uncommitted: the restart replans this batch

    # restart with the replica moved to an explicit second mount; same
    # stream identity (the registry keeps same-sid dirs), same batch
    mount2 = str(tmp_path / "mount2")
    new = PubsubStreamReader(dict(base, replay_cache_replica_dirs=mount2))
    try:
        parts2 = new.partitions(start, end)
        # primary lost; only the RETIRED derived root still has copies
        _shutil.rmtree(os.path.join(broker_dir, ".read_cache"))
        second = [
            sorted(tuple(map(str, r)) for r in _read_rows(new, p))
            for p in parts2
        ]
        assert first == second  # legacy copy served, byte-identical
        # healing restored the CONFIGURED set: primary + explicit mount
        assert os.path.isdir(os.path.join(broker_dir, ".read_cache"))
        assert os.path.isdir(os.path.join(mount2, "s"))
        # commit acks from whichever root and evicts every copy,
        # including the retired derived sibling's
        new.commit(end)
        assert broker.backlog("s") == 0
        for root in (
            os.path.join(broker_dir, ".read_cache"),
            os.path.join(broker_dir, ".read_cache_rep1"),
            mount2,
        ):
            sub_root = os.path.join(root, "s")
            if os.path.isdir(sub_root):
                for stream_d in os.listdir(sub_root):
                    assert os.listdir(os.path.join(sub_root, stream_d)) == []
    finally:
        new.stop()


def test_sink_losing_attempt_leaves_zero_orphans(
    spark, broker, broker_dir
):
    """VERDICT r13 #5 (stage-file GC): a COMPLETED speculative attempt
    that loses the race promotes stage files no commit message ever
    references — previously unbounded disk junk over a long-lived
    topic. Staged filenames now carry the sink's owner token and
    commit(batch N) sweeps every owned, unreferenced file (losing
    attempts AND zombie .tmp files of killed tasks), while files of
    OTHER owners — a concurrent query's, an anonymous sink's, or
    pre-token legacy names — are untouched."""
    import pyarrow as pa

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
        _sink_owner_token,
        _stage_dir,
    )

    broker.create_topic("spec")
    n = 25
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"m{i}".encode() for i in range(n)], type=pa.binary()),
            pa.array(
                [[("k", "v")]] * n, type=pa.map_(pa.string(), pa.string())
            ),
        ],
        names=["data", "attributes"],
    )
    w = PubsubStreamWriter(
        {
            "project_id": "p",
            "topic": "spec",
            "broker_dir": broker_dir,
            "publish_batch_size": "10",
            "sink_id": "q-spec",
        },
        _sink_schema(),
    )
    winner = w.write(iter([batch]))
    loser = w.write(iter([batch]))  # speculative duplicate, COMPLETED
    assert len(loser.staged_files) == 3
    stage = _stage_dir(w.opts)
    owner = _sink_owner_token(w.opts)
    # zombie .tmp of a hard-killed attempt (its except-unlink never ran)
    zombie = os.path.join(stage, f"stage-{owner}-deadzombie.jsonl.tmp")
    open(zombie, "w").write("{}\n")
    # foreign files that must survive: another query's owner token, an
    # anonymous sink's file, and a pre-token legacy name
    foreign = [
        os.path.join(stage, "stage-0123456789abcdef-feedface.jsonl"),
        os.path.join(stage, "stage-anon-cafebabe.jsonl"),
        os.path.join(stage, "stage-deadbeefdeadbeefdeadbeefdeadbeef.jsonl"),
    ]
    for f in foreign:
        open(f, "w").write("{}\n")

    # Spark delivers only the winner's commit message
    w.commit([winner], batchId=0)
    assert len(broker.topic_messages("spec")) == n  # published once
    left = sorted(os.listdir(stage))
    for f in loser.staged_files:
        assert not os.path.exists(f), f  # losing attempt swept
    assert not os.path.exists(zombie)  # zombie .tmp swept
    for f in foreign:
        assert os.path.exists(f), f  # other owners untouched
    assert [n_ for n_ in left if f"stage-{owner}-" in n_] == []

    # a LATE promotion (zombie finishing after commit 0) is bounded to
    # one batch: the next commit sweeps it
    straggler = os.path.join(stage, f"stage-{owner}-latepromote.jsonl")
    open(straggler, "w").write("{}\n")
    msg1 = w.write(iter([batch]))
    w.commit([msg1], batchId=1)
    assert not os.path.exists(straggler)
    assert len(broker.topic_messages("spec")) == 2 * n


def test_sink_commit_fails_loudly_on_missing_staged_file(
    spark, broker, broker_dir
):
    """r13 self-review (the sink twin of the source-side corrupt-cache
    rule): a commit message referencing a staged file that is absent
    on disk is lost data for an uncommitted batch — commit() must
    fail the batch loudly (Spark then retries it), never publish the
    remainder and record the batch committed."""
    import pyarrow as pa

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
    )

    broker.create_topic("lost")
    n = 25
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"m{i}".encode() for i in range(n)], type=pa.binary()),
            pa.array([[("k", "v")]] * n, type=pa.map_(pa.string(), pa.string())),
        ],
        names=["data", "attributes"],
    )
    w = PubsubStreamWriter(
        {
            "project_id": "p",
            "topic": "lost",
            "broker_dir": broker_dir,
            "publish_batch_size": "10",
            "sink_id": "q1",
        },
        _sink_schema(),
    )
    msg = w.write(iter([batch]))
    assert len(msg.staged_files) == 3
    os.remove(msg.staged_files[1])  # lose the middle chunk
    with pytest.raises(RuntimeError, match="staged files are missing"):
        w.commit([msg], batchId=0)
    # nothing was published and the batch is NOT recorded committed —
    # a retry with re-staged files goes through cleanly
    assert broker.topic_messages("lost") == []
    msg2 = w.write(iter([batch]))
    w.commit([msg2], batchId=0)
    assert len(broker.topic_messages("lost")) == n


def test_sink_anonymous_losing_attempt_leaves_zero_orphans(
    spark, broker, broker_dir
):
    """VERDICT r14 #3, identity-less tier (no sink_id AND no
    checkpoint in the options — direct API use only; real streaming
    queries get the checkpoint-derived identity, next test): the
    per-instance uuid token sweeps this instance's own losing
    attempts and zombies, while a concurrent writer's files (distinct
    token) survive. Across pyspark's separate per-process writer
    constructions this tier's GC degrades to a safe no-op — the
    checkpoint/sink_id path is the one that works there."""
    import pyarrow as pa

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
        _stage_dir,
    )

    broker.create_topic("anonspec")
    n = 25
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"m{i}".encode() for i in range(n)], type=pa.binary()),
            pa.array(
                [[("k", "v")]] * n, type=pa.map_(pa.string(), pa.string())
            ),
        ],
        names=["data", "attributes"],
    )
    opts = {
        "project_id": "p",
        "topic": "anonspec",
        "broker_dir": broker_dir,
        "publish_batch_size": "10",
        # NO sink_id
    }
    w = PubsubStreamWriter(dict(opts), _sink_schema())
    w2 = PubsubStreamWriter(dict(opts), _sink_schema())  # concurrent query
    assert w._owner_token != w2._owner_token  # per-run, not shared
    winner = w.write(iter([batch]))
    loser = w.write(iter([batch]))  # speculative duplicate, COMPLETED
    assert len(loser.staged_files) == 3
    other = w2.write(iter([batch]))  # other query's batch, in flight
    stage = _stage_dir(w.opts)
    # zombie .tmp of a hard-killed attempt of THIS run
    zombie = os.path.join(
        stage, f"stage-{w._owner_token}-deadzombie.jsonl.tmp"
    )
    open(zombie, "w").write("{}\n")

    w.commit([winner], batchId=0)
    assert len(broker.topic_messages("anonspec")) == n  # published once
    for f in loser.staged_files:
        assert not os.path.exists(f), f  # losing attempt swept
    assert not os.path.exists(zombie)  # zombie swept
    for f in other.staged_files:
        assert os.path.exists(f), f  # concurrent anon query untouched
    left = os.listdir(stage)
    assert [x for x in left if f"stage-{w._owner_token}-" in x] == []

    # the concurrent query commits fine afterwards
    w2.commit([other], batchId=0)
    assert len(broker.topic_messages("anonspec")) == 2 * n
    assert [
        x
        for x in os.listdir(stage)
        if f"stage-{w2._owner_token}-" in x
    ] == []


def test_sink_log_retention_bounds_topic_log(spark, broker, broker_dir):
    """log_retention_bytes on the sink (the connector surface of
    VERDICT r14 #4): repeated write/commit cycles against a draining
    subscription keep the topic log near the threshold instead of
    growing with query lifetime; an undrained topic is never cut."""
    import pyarrow as pa

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
    )

    broker.create_topic("retained")
    broker.create_subscription("rsub", "retained", ack_deadline_s=60)
    n = 50
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(
                [f"payload-{i:04d}".encode() for i in range(n)],
                type=pa.binary(),
            ),
            pa.array(
                [[("k", "v")]] * n, type=pa.map_(pa.string(), pa.string())
            ),
        ],
        names=["data", "attributes"],
    )
    w = PubsubStreamWriter(
        {
            "project_id": "p",
            "topic": "retained",
            "broker_dir": broker_dir,
            "publish_batch_size": "25",
            "sink_id": "ret-q",
            "log_retention_bytes": str(8 * 1024),
        },
        _sink_schema(),
    )
    assert w.opts.log_retention_bytes == 8 * 1024
    log = os.path.join(broker_dir, "topics", "retained", "log.jsonl")
    max_size = 0
    seen = 0
    for b in range(20):  # ~9 KB/batch published
        w.commit([w.write(iter([batch]))], batchId=b)
        got = broker.pull("rsub", 200)
        seen += len(got)
        broker.acknowledge("rsub", [m.ack_id for m in got])
        max_size = max(max_size, os.path.getsize(log))
    assert seen == 20 * n  # every message delivered exactly once
    # one batch (~9 KB) can land atop a just-under-threshold log, so
    # the bound is threshold + ~2 batches, far below the ~180 KB
    # unbounded total
    assert max_size < 4 * 8 * 1024, max_size

    # undrained topic: no subscription acks → floor 0 → never cut
    broker.create_topic("undrained")
    w2 = PubsubStreamWriter(
        {
            "project_id": "p",
            "topic": "undrained",
            "broker_dir": broker_dir,
            "publish_batch_size": "25",
            "log_retention_bytes": "1024",
        },
        _sink_schema(),
    )
    for b in range(3):
        w2.commit([w2.write(iter([batch]))], batchId=b)
    assert len(broker.topic_messages("undrained")) == 3 * n


def test_sink_checkpoint_derived_identity_sweeps_across_instances(
    spark, broker, broker_dir, tmp_path
):
    """r15 review finding: pyspark 4.1.2 constructs a SEPARATE writer
    per worker process (one for executor write(), a fresh one for
    every driver commit()), so an instance-held random token cannot
    link staging to the sweep. The fix: with no explicit sink_id, the
    identity derives from the query's checkpointLocation (forwarded
    in the options, lower-cased by Spark) — identical across every
    construction AND across restarts. Modeled here exactly as Spark
    runs it: one instance writes, a DIFFERENT instance (same options)
    commits; the losing attempt is still swept, and a second query on
    a different checkpoint is untouched. Idempotence rides the same
    identity: a redelivered batch id republishes nothing."""
    import pyarrow as pa

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
        _stage_dir,
    )

    broker.create_topic("ckq")
    n = 25
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"m{i}".encode() for i in range(n)], type=pa.binary()),
            pa.array(
                [[("k", "v")]] * n, type=pa.map_(pa.string(), pa.string())
            ),
        ],
        names=["data", "attributes"],
    )
    opts = {
        "project_id": "p",
        "topic": "ckq",
        "broker_dir": broker_dir,
        "publish_batch_size": "10",
        # NO sink_id — Spark forwards the checkpoint, lower-cased
        "checkpointlocation": str(tmp_path / "ckA"),
    }
    w_exec = PubsubStreamWriter(dict(opts), _sink_schema())  # executor proc
    w_commit = PubsubStreamWriter(dict(opts), _sink_schema())  # driver proc
    assert w_exec.opts.sink_id == "ck:" + str(tmp_path / "ckA")
    assert w_exec._owner_token == w_commit._owner_token  # derived, stable
    other_opts = dict(opts, checkpointlocation=str(tmp_path / "ckB"))
    w_other = PubsubStreamWriter(other_opts, _sink_schema())
    assert w_other._owner_token != w_exec._owner_token

    winner = w_exec.write(iter([batch]))
    loser = w_exec.write(iter([batch]))  # losing speculative attempt
    other = w_other.write(iter([batch]))  # other query, in flight
    w_commit.commit([winner], batchId=0)  # the OTHER instance commits
    assert len(broker.topic_messages("ckq")) == n
    for f in loser.staged_files:
        assert not os.path.exists(f), f  # swept across instances
    for f in other.staged_files:
        assert os.path.exists(f), f  # different checkpoint untouched
    stage = _stage_dir(w_exec.opts)
    assert [
        x
        for x in os.listdir(stage)
        if f"stage-{w_exec._owner_token}-" in x
    ] == []

    # checkpoint-derived idempotence: yet another fresh instance (the
    # next commit's process) suppresses a redelivered batch id
    w_commit2 = PubsubStreamWriter(dict(opts), _sink_schema())
    redelivered = w_exec.write(iter([batch]))
    w_commit2.commit([redelivered], batchId=0)
    assert len(broker.topic_messages("ckq")) == n  # not republished


def test_spark_forwards_checkpoint_into_sink_writer_options(
    spark, broker, broker_dir, tmp_path
):
    """LIVE pin of the forwarding contract the previous test assumes:
    pyspark 4.1.2 really does place the query's checkpointLocation
    (lower-cased key) into the options map the Python DataSource
    writer is constructed from. If a future pyspark stops forwarding
    it, the checkpoint-derived sink identity silently degrades to the
    per-run-uuid fallback (safe, but no cross-restart idempotence and
    no crashed-run GC) — this test turns that silent regression into a
    visible failure. Evidence: the committed-batch-id record only
    exists when a sink identity RESOLVED (``_sink_state_path`` is
    keyed by it), so after a real writeStream with a checkpoint and NO
    explicit sink_id, ``.sink_state`` must contain exactly the
    ``ck:<checkpoint>`` entry."""
    _publish_canonical(broker, 20)
    broker.create_topic("fwd_t")
    src = read_stream(
        spark, broker_dir, "s", max_messages_per_partition=10, num_partitions=2
    )
    ck = str(tmp_path / "fwd_ck")
    q = (
        src.select("data", "attributes")
        .writeStream.format("pubsub")
        .option("project_id", "p")
        .option("topic", "fwd_t")
        .option("broker_dir", broker_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and broker.backlog("s") > 0:
            time.sleep(0.5)
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(broker.topic_messages("fwd_t")) == 20
    state_dir = os.path.join(broker_dir, ".sink_state")
    entries = os.listdir(state_dir)
    expected = "fwd_t__" + ("ck:" + ck).replace("/", "__") + ".json"
    assert entries == [expected], entries


def test_sink_wiped_checkpoint_does_not_suppress_new_query(
    broker, broker_dir, tmp_path
):
    """r15 self-review: the batch-id idempotence record is keyed by
    (topic, sink_id), but batch ids are per-CHECKPOINT-INSTANCE — a
    user who wipes a checkpoint dir and starts fresh gets batch ids
    from 0 again, and a stale record at the same path (or the same
    explicit sink_id) used to silently swallow the new query's first
    batches: silent data loss, the exact "re-created one" case the
    sink-state docstring promises to distinguish. The record now also
    carries the checkpoint instance id Spark mints into
    <checkpoint>/metadata at creation; a mismatch voids the record
    (at-least-once in the safe direction). Modeled with direct-API
    writers over real metadata files, both identity modes."""
    import json as _json

    import pyarrow as pa

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
    )

    def mk_ck(name: str, qid: str) -> str:
        d = tmp_path / name
        d.mkdir()
        (d / "metadata").write_text(_json.dumps({"id": qid}))
        return str(d)

    n = 10
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"m{i}".encode() for i in range(n)], type=pa.binary()),
            pa.array(
                [[("k", "v")]] * n, type=pa.map_(pa.string(), pa.string())
            ),
        ],
        names=["data", "attributes"],
    )
    broker.create_topic("wipe_t")
    for sink_opts in (
        {},  # checkpoint-derived identity
        {"sink_id": "stable-id"},  # explicit identity, same hazard
    ):
        ck = mk_ck(f"ck_{len(sink_opts)}_1", "instance-A")
        opts = {
            "project_id": "p",
            "topic": "wipe_t",
            "broker_dir": broker_dir,
            "checkpointlocation": ck,
            **sink_opts,
        }
        before = len(broker.topic_messages("wipe_t"))
        w1 = PubsubStreamWriter(dict(opts), _sink_schema())
        w1.commit([w1.write(iter([batch]))], batchId=0)
        w1b = PubsubStreamWriter(dict(opts), _sink_schema())
        w1b.commit([w1b.write(iter([batch]))], batchId=0)  # redelivery
        assert len(broker.topic_messages("wipe_t")) == before + n  # suppressed

        # wipe + recreate: new instance id, batch ids restart at 0
        import shutil as _shutil

        _shutil.rmtree(ck)
        ck2 = mk_ck(f"ck_{len(sink_opts)}_1", "instance-B")
        assert ck2 == ck  # same path, different instance
        w2 = PubsubStreamWriter(dict(opts), _sink_schema())
        w2.commit([w2.write(iter([batch]))], batchId=0)
        assert (
            len(broker.topic_messages("wipe_t")) == before + 2 * n
        ), "fresh query's batch 0 was swallowed by the stale record"
        # and the new instance's own redeliveries are still suppressed
        w2b = PubsubStreamWriter(dict(opts), _sink_schema())
        w2b.commit([w2b.write(iter([batch]))], batchId=0)
        assert len(broker.topic_messages("wipe_t")) == before + 2 * n


def test_source_drains_topic_that_compacts_mid_stream(
    spark, broker, broker_dir, tmp_path
):
    """Retention under the REAL source (r15): a publisher with a small
    auto_compact_bytes feeds the topic in rounds while the streaming
    query drains it. Source acks (at commit of the NEXT batch) advance
    acked_below; compaction then cuts the log under the subscription's
    live byte cursors, which must reset-and-rescan without losing or
    duplicating a message. 300 messages across 6 publish rounds, every
    one delivered exactly once to the memory sink."""
    compacting = FileBroker(broker_dir, auto_compact_bytes=2048)
    df = read_stream(
        spark, broker_dir, "s", max_messages_per_partition=25, num_partitions=2
    )
    q = (
        df.writeStream.format("memory")
        .queryName("compact_drain")
        .option("checkpointLocation", str(tmp_path / "cd_ck"))
        .start()
    )
    log = os.path.join(broker_dir, "topics", "t", "log.jsonl")
    max_size = 0
    try:
        total = 300
        for r in range(6):
            compacting.publish(
                "t",
                [
                    PubsubMessage(
                        data=f"Msg {r * 50 + i}".encode(),
                        attributes={},
                        publish_ts_us=1_700_000_000_000_000 + (r * 50 + i),
                    )
                    for i in range(50)
                ],
            )
            # wait for THIS round to be fully acked (source acks land
            # at the commit of the following batch) so the next round's
            # publish deterministically sees an advanced floor and must
            # cut — the mid-stream compaction this test exists to drive
            deadline = time.time() + 60
            while time.time() < deadline and broker.backlog("s") > 0:
                time.sleep(0.2)
            assert broker.backlog("s") == 0, f"round {r} never drained"
            max_size = max(max_size, os.path.getsize(log))
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    rows = spark.table("compact_drain").collect()
    datas = [bytes(r["data"]) for r in rows]
    assert len(datas) == total, f"{len(datas)} of {total} delivered"
    assert len(set(datas)) == total  # exactly once, across compactions
    # the log was cut mid-stream: it never held anywhere near all 300
    # messages (~46 KB); each publish atop a drained topic compacts the
    # fully-acked prefix once past the 2 KiB threshold
    assert max_size < 20 * 1024, max_size
    assert os.path.getsize(log) < 10 * 1024
    assert broker.backlog("s") == 0
