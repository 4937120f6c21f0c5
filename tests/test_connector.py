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
import logging
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


def test_idle_reader_heartbeats_the_registry_sparingly(broker_dir, broker, monkeypatch):
    """An idle stream's latestOffset polls (every few ms under Spark's
    default trigger) rewrite the registry at most once per
    ``_HEARTBEAT_EVERY_S``, and a heartbeat that old is refreshed, so
    a live claim never reaches the registry's expiry."""
    from spark_sql_pubsub_connector_spark.sources import datasource, registry
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    writes = []
    real_write = registry._write_atomic

    def counting(path, data):
        writes.append(json.loads(data))
        real_write(path, data)

    monkeypatch.setattr(registry, "_write_atomic", counting)
    reader = PubsubStreamReader(
        {"project_id": "p", "subscription": "s", "broker_dir": broker_dir}
    )
    reader.initialOffset()  # registers: one write
    assert len(writes) == 1
    for _ in range(100):  # nothing published: every poll is idle
        reader.latestOffset()
    assert len(writes) <= 2

    claimed = writes[-1]["s"]["ts"]
    reader._beat -= datasource._HEARTBEAT_EVERY_S  # the last beat is stale
    time.sleep(0.01)
    reader.latestOffset()
    assert writes[-1]["s"]["stream_id"] == reader.stream_id
    assert writes[-1]["s"]["ts"] > claimed
    n = len(writes)
    reader.latestOffset()
    assert len(writes) == n  # fresh again
    reader.stop()


def test_ship_package_zips_into_a_private_dir(monkeypatch):
    """Each process zips the package into a fresh directory of its own,
    under the module's name. A shared path such as
    ``/tmp/spark_sql_pubsub_connector_spark.zip`` can be rewritten by
    another process (another checkout, test run or bench) while this
    one's executors still fetch it."""
    import stat
    import tempfile
    import zipfile
    from types import SimpleNamespace

    from spark_sql_pubsub_connector_spark import session

    shipped = []
    fake = SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append))
    for _ in range(2):
        monkeypatch.setattr(session, "_SHIPPED", False)
        session.ship_package(fake)
    name = "spark_sql_pubsub_connector_spark.zip"
    for path in shipped:
        assert os.path.basename(path) == name
        assert os.path.dirname(path) not in ("/tmp", tempfile.gettempdir())
        assert stat.S_IMODE(os.stat(os.path.dirname(path)).st_mode) == 0o700
        with zipfile.ZipFile(path) as zf:
            assert "spark_sql_pubsub_connector_spark/session.py" in zf.namelist()
    assert shipped[0] != shipped[1]


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
        # and run1's stale dirs were purged (unacked) at registration;
        # run2's batch planned no partitions, so it made no dir
        assert os.listdir(root) == []
    finally:
        r2.stop()


def test_dynamic_partitioning_region_split(spark, broker_dir, caplog):
    """S6/S13: skewed region backlog → region-pinned partitions. The
    plan's debug line names each region's planned count."""
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
            "max_messages_per_partition": "10",
        }
    )
    caplog.set_level(logging.DEBUG, logger=_DS_LOGGER)
    try:
        start, end = reader.initialOffset(), reader.latestOffset()
        parts = reader.partitions(start, end)
        regions = [p.value.region for p in parts]
        assert "us-east1" in regions and "eu-west1" in regions
        key = f"b{start['batch_id']}-{end['batch_id']}"
        assert (
            f"batch {key}: 33 deliverable, planned 4 partitions (8 uncapped); "
            "by region eu-west1=1, us-east1=3"
        ) in caplog.messages
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


def _payload_batch(payloads):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array(payloads, type=pa.binary()),
            pa.array(
                [[("k", "v")]] * len(payloads), type=pa.map_(pa.string(), pa.string())
            ),
        ],
        names=["data", "attributes"],
    )


_SINK_KILL_POINTS = (
    "before_first_rename",
    "between_renames",
    "before_head_write",
    "during_staged_cleanup",
    "during_gc_orphans",
)


@pytest.mark.parametrize("kill", _SINK_KILL_POINTS)
def test_sink_crash_matrix_publishes_every_message_once(
    broker, broker_dir, monkeypatch, kill
):
    """A sink commit killed at any point, then re-run (re-staged, same
    batch id, as Spark does), leaves every message in the topic exactly
    once. The batch becomes visible all at once, at the topic-head
    write that also records its fence: until then a consumer sees none
    of it, and after it the retry publishes nothing. A publish between
    the crash and the retry keeps its messages."""
    from spark_sql_pubsub_connector_spark.sources import broker as broker_mod
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
        _stage_dir,
    )
    from spark_sql_pubsub_connector_spark.sources.options import (
        validate_write_options,
    )

    broker.create_topic("crash")
    broker.create_subscription("crash-sub", "crash", ack_deadline_s=300)
    opts = {
        "project_id": "p",
        "topic": "crash",
        "broker_dir": broker_dir,
        "sink_id": "crash-sink",
    }
    stage = _stage_dir(validate_write_options(opts))
    schema = _sink_schema()
    before = [b"b0-0", b"b0-1", b"b0-2"]
    batch = [b"b1-0", b"b1-1", b"b1-2"]
    w = PubsubStreamWriter(opts, schema)
    w.commit([w.write(iter([_payload_batch(before)]))], batchId=0)
    msgs = [w.write(iter([_payload_batch(part)])) for part in (batch[:2], batch[2:])]
    assert sum(len(m.staged_files) for m in msgs) == 2  # two tasks, two renames

    def dying(owner, name, when):
        real = getattr(owner, name)
        calls = []

        def fn(*args, **kwargs):
            calls.append(args)
            if when(len(calls), args):
                raise KeyboardInterrupt(kill)
            return real(*args, **kwargs)

        monkeypatch.setattr(owner, name, fn)

    {
        "before_first_rename": lambda: dying(os, "rename", lambda n, a: n == 1),
        "between_renames": lambda: dying(os, "rename", lambda n, a: n == 2),
        "before_head_write": lambda: dying(
            broker_mod, "_write_atomic", lambda n, a: a[0].endswith("head.json")
        ),
        "during_staged_cleanup": lambda: dying(os, "remove", lambda n, a: n == 1),
        "during_gc_orphans": lambda: dying(os, "listdir", lambda n, a: a[0] == stage),
    }[kill]()
    with pytest.raises(KeyboardInterrupt):
        PubsubStreamWriter(opts, schema).commit(msgs, batchId=1)
    monkeypatch.undo()

    committed = kill in ("during_staged_cleanup", "during_gc_orphans")
    broker.publish("crash", [PubsubMessage(data=b"side", publish_ts_us=1)])
    window = [m.message.data for m in broker.pull("crash-sub", 100)]
    assert sorted(window) == sorted(before + (batch if committed else []) + [b"side"])

    retry = PubsubStreamWriter(opts, schema)
    retry.commit([retry.write(iter([_payload_batch(batch)]))], batchId=1)
    everything = sorted(before + batch + [b"side"])
    assert sorted(m.data for m in broker.topic_messages("crash")) == everything
    rest = [m.message.data for m in broker.pull("crash-sub", 100)]
    assert sorted(window + rest) == everything
    assert os.listdir(stage) == []  # every staged file published or swept
    assert broker._head(broker._topic_dir("crash"))["sinks"]["crash-sink"] == [None, 1]


def test_sink_fence_decisions_are_logged(broker, broker_dir, tmp_path, caplog):
    """The fence's two silent decisions are logged at INFO: a
    redelivered batch dropped as already committed (naming the sink id,
    the batch id and the staged files removed), and a fence record from
    another checkpoint instance voided."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
    )

    ck = tmp_path / "ck_log"
    ck.mkdir()
    (ck / "metadata").write_text(json.dumps({"id": "instance-A"}))
    broker.create_topic("logged")
    opts = {
        "project_id": "p",
        "topic": "logged",
        "broker_dir": broker_dir,
        "sink_id": "log-sink",
        "checkpointlocation": str(ck),
    }
    w = PubsubStreamWriter(opts, _sink_schema())

    def commit(batch_id):
        caplog.clear()
        with caplog.at_level(logging.INFO):
            msgs = [w.write(iter([_payload_batch(p)])) for p in ([b"x", b"y"], [b"z"])]
            w.commit(msgs, batchId=batch_id)
        return [r for r in caplog.records if r.levelno >= logging.INFO]

    assert commit(4) == []
    (rec,) = commit(4)
    assert rec.name == _DS_LOGGER and rec.levelno == logging.INFO
    assert "sink log-sink: batch 4 already committed" in rec.getMessage()
    assert "removed 2 staged files" in rec.getMessage()
    assert len(broker.topic_messages("logged")) == 3

    (ck / "metadata").write_text(json.dumps({"id": "instance-B"}))  # recreated
    (rec,) = commit(0)
    assert rec.name == "spark_sql_pubsub_connector_spark.sources.broker"
    assert rec.levelno == logging.INFO
    for part in ("log-sink", "batch 4", "instance-A", "instance-B", "voided"):
        assert part in rec.getMessage()
    assert len(broker.topic_messages("logged")) == 6


def test_sink_stages_one_segment_per_task(broker, broker_dir):
    """The sink's staged unit is one segment per write() task, whatever
    its rows and input batches: a 1,000-row task stages one file, and a
    commit of k tasks' files appends exactly k segments, rows in task
    and batch order."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamWriter,
    )

    broker.create_topic("unit")
    w = PubsubStreamWriter(
        {"project_id": "p", "topic": "unit", "broker_dir": broker_dir},
        _sink_schema(),
    )
    tasks = [
        [[f"a{i}".encode() for i in range(1000)]],
        [[b"b0", b"b1"], [], [b"b2"]],  # three input batches, one empty
        [[b"c0"]],
    ]
    msgs = [w.write(iter([_payload_batch(b) for b in task])) for task in tasks]
    assert [len(m.staged_files) for m in msgs] == [1, 1, 1]
    assert [m.count for m in msgs] == [1000, 3, 1]
    w.commit(msgs, batchId=0)
    segs = broker._segments(broker._topic_dir("unit"))
    assert [s.hi - s.lo for s in segs] == [1000, 3, 1]
    want = [p for task in tasks for b in task for p in b]
    assert [m.data for m in broker.topic_messages("unit")] == want


def test_sink_failed_task_leaves_no_promoted_chunks(spark, broker, broker_dir):
    """ADVICE r2 (low): a task that fails mid-write must not leave
    a promoted (non-.tmp) segment in .sink_stage/ — abort() only sees
    commit messages, so anything promoted outside one leaks forever.
    The task's segment stays .tmp until the whole task succeeds, and
    a failure after some rows were written unlinks it."""
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


def test_available_now_batch_plans_at_most_256_partitions(broker, broker_dir):
    """S5 bound: one batch plans at most MAX_PARTITIONS (256) partitions,
    the reference's per-batch cap, so a single availableNow trigger
    drains min(backlog, 256 × max_messages). At one message per pull, a
    300-message backlog plans 256 partitions, then the other 44 once
    the first batch is committed."""
    from spark_sql_pubsub_connector_spark.sources.options import MAX_PARTITIONS

    _publish_canonical(broker, 300)
    reader = _reader(
        broker_dir, num_partitions=4, max_messages_per_partition=1
    )
    try:
        seen = []
        start = reader.initialOffset()
        for want in (MAX_PARTITIONS, 44):
            end = reader.latestOffset()
            parts = reader.partitions(start, end)
            assert len(parts) == want
            seen.extend(r[2] for p in parts for r in _read_rows(reader, p))
            reader.commit(end)
            start = end
        assert sorted(seen, key=int) == [str(i) for i in range(300)]
        assert broker.backlog("s") == 0
    finally:
        reader.stop()


def test_available_now_bounded_drain_across_runs(spark, broker_dir, tmp_path):
    """S5 under the Python DataSource API: PythonMicroBatchStream has no
    SupportsTriggerAvailableNow hook, so Trigger.AvailableNow falls back
    to single-batch execution. The source makes that single batch a
    bounded full drain (see
    test_available_now_batch_plans_at_most_256_partitions), and
    repeated availableNow runs on the same checkpoint, with messages
    published between them, drain every message exactly once."""
    b = FileBroker(broker_dir)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=300)

    def run():
        df = read_stream(
            spark,
            broker_dir,
            "s",
            max_messages_per_partition=5,
            num_partitions=4,
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

    _publish_canonical(b, 30)
    first = run()
    assert sorted(first, key=int) == [str(i) for i in range(30)]
    b.publish(
        "t", [PubsubMessage(data=b"x", publish_ts_us=1) for _ in range(20)]
    )
    second = run()  # restart resumed the counter and drained the rest
    assert sorted(first + second, key=int) == [str(i) for i in range(50)]


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


def test_replay_survives_primary_cache_loss(spark, broker, broker_dir, tmp_path):
    """S9 replication analog (PubsubPartitionReader.scala:57,
    MEMORY_AND_DISK_SER_2): with one replica root, losing the
    whole primary cache between pull and replay serves the identical
    batch from the replica — no re-pull (the broker still holds the
    lease, so a re-pull would return nothing)."""
    import shutil as _shutil

    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    _publish_canonical(broker, 30)
    rep_root = str(tmp_path / "rep1")
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": broker_dir,
            "num_partitions": "3",
            "max_messages_per_partition": "10",
            "replay_cache_replica_dirs": rep_root,
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
        for root in (os.path.join(broker_dir, ".read_cache"), rep_root):
            sub_root = os.path.join(root, "s")
            if os.path.isdir(sub_root):
                for stream_d in os.listdir(sub_root):
                    assert os.listdir(os.path.join(sub_root, stream_d)) == []
    finally:
        reader.stop()


def test_replay_replicas_ack_survives_primary_loss(spark, broker, broker_dir, tmp_path):
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
            "replay_cache_replica_dirs": str(tmp_path / "rep1"),
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


def test_replay_cache_replicas_is_an_unknown_option(broker_dir):
    """The copy count follows from replay_cache_replica_dirs alone, so
    the old count option is rejected like any undeclared key, naming
    the option that replaced it."""
    with pytest.raises(ValueError) as err:
        _reader(broker_dir, replay_cache_replicas=2)
    assert str(err.value) == (
        "Unknown option 'replay_cache_replicas'; "
        "did you mean 'replay_cache_replica_dirs'?"
    )


def test_source_e2e_with_replicated_cache(spark, broker, broker_dir, tmp_path):
    """End-to-end readStream with one replica root: the replica
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
        replay_cache_replica_dirs=str(tmp_path / "rep1"),
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
    rep_root = os.path.join(tmp_path, "rep1", "s")
    pri_root = os.path.join(broker_dir, ".read_cache", "s")
    assert os.path.isdir(rep_root)
    def _remaining(root):
        out = set()
        for stream_d in os.listdir(root):
            for b in os.listdir(os.path.join(root, stream_d)):
                out.add((stream_d, b))
        return out
    assert _remaining(rep_root) == _remaining(pri_root)


def test_commit_acks_primary_copy_only_on_divergence(
    spark, broker, broker_dir, tmp_path
):
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
            "replay_cache_replica_dirs": str(tmp_path / "rep1"),
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
        zombie_acks = zombie.column("ack_id").to_pylist()
        assert len(zombie) == 10
        rep_file = parts[0].value.replica_files[0]
        assert os.path.exists(rep_file)
        _write_atomic(
            rep_file,
            _batch_to_ipc(_records_to_arrow(parts[0].value.subscription_path, zombie)),
        )
        assert _load_ack_ids(rep_file) == zombie_acks
        reader.commit(end)
        # nack the zombie leases: every one of its messages must come
        # back (they were never part of a committed batch). A unioning
        # commit would have acked them away permanently.
        broker.modify_ack_deadline("s", zombie_acks, 0)
        redelivered = broker.pull("s", 100)
        ids = {m.message.message_id for m in redelivered}
        assert set(zombie.column("message_id").to_pylist()) == ids
        assert len(redelivered) == 10  # every zombie message came back
    finally:
        reader.stop()


def test_corrupt_all_copies_fails_loudly(spark, broker, broker_dir, tmp_path):
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
            "replay_cache_replica_dirs": str(tmp_path / "rep1"),
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


def test_replica_serve_reheals_all_copies(spark, broker, broker_dir, tmp_path):
    """ADVICE r12: serving from a replica re-heals the primary AND any
    other lost copy, so redundancy never silently degrades below the
    planned copy count."""
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
            "replay_cache_replica_dirs": f"{tmp_path / 'rep1'},{tmp_path / 'rep2'}",
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
    """A batch dir from the older JSON-lines cache holds a part file but
    the offset state holds no plan for it: planning it raises naming
    the batch instead of taking it for a never-planned batch, and pulls
    nothing."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        _stream_cache_dir,
    )

    _publish_canonical(broker, 10)
    reader = _reader(broker_dir, num_partitions=1, max_messages_per_partition=10)
    try:
        start, end = reader.initialOffset(), reader.latestOffset()
        batch_key = f"b{start['batch_id']}-{end['batch_id']}"
        batch_dir = os.path.join(
            _stream_cache_dir(reader.opts, reader.stream_id), batch_key
        )
        os.makedirs(batch_dir)
        with open(os.path.join(batch_dir, "part-00000.jsonl"), "w") as fh:
            fh.write(json.dumps({"ack_id": "ack-0-x", "message_id": "0"}) + "\n")
        with pytest.raises(RuntimeError, match=re.escape(batch_key)):
            reader.partitions(start, end)
        assert len(broker.pull("s", 10)) == 10  # nothing was leased
    finally:
        reader.stop()


def test_empty_partition_cache_file_is_small(broker, broker_dir):
    """An empty partition still writes its cache file (the replay must
    find it), but only schema and footer: well under the 4 KiB floor
    below which a leftover cache file counts as holding no data. The
    plan holds only pulls the deliverable backlog can fill, so the
    partition is emptied by another consumer leasing the messages
    between planning and the read."""
    _publish_canonical(broker, 5)
    reader = _reader(broker_dir, num_partitions=2, max_messages_per_partition=10)
    try:
        parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
        assert len(FileBroker(broker_dir).pull("s", 10)) == 5
        assert [len(_read_rows(reader, p)) for p in parts] == [0]
        empty = parts[0].value.cache_file
        assert 0 < os.path.getsize(empty) < 4096
        assert _read_rows(reader, parts[0]) == []  # replays as empty
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


def test_replan_after_restart_reuses_the_persisted_plan(tmp_path):
    """The partition count follows the backlog at planning time, under
    dynamic partitioning and under the static count's deliverable cap.
    A batch re-planned after a restart, once more messages were
    published, must rebuild the SAME partitions: extra partitions would
    pull fresh messages into the planned batch, and commit() would ack
    them even if a sink skips the batch as already committed."""
    modes = {
        # a fresh plan of the 2-unit batch would now say
        # min(ceil(26,500 / 10,000) × 2, ceil(25,000 deliverable / 1000)) = 6
        "dynamic": (dict(num_partitions=1, dynamic_partitioning="true"), 6),
        # a fresh plan of the 1-unit batch would now say
        # min(4 × 1, ceil(25,000 / 1000)) = 4
        "static": (dict(num_partitions=4), 4),
    }
    for name, (mode, fresh) in modes.items():
        broker_dir = str(tmp_path / name)
        broker = FileBroker(broker_dir)
        broker.create_topic("t")
        broker.create_subscription("s", "t", ack_deadline_s=300)
        opts = dict(mode, max_messages_per_partition=1000, stream_id="fixed")
        broker.publish("t", [PubsubMessage(data=b"a", publish_ts_us=1)] * 1500)
        r1 = _reader(broker_dir, **opts)
        start, end = r1.initialOffset(), r1.latestOffset()
        parts = r1.partitions(start, end)
        assert len(parts) == 2, name  # ceil(1500 / 1000)
        assert sum(len(_read_rows(r1, p)) for p in parts) == 1500
        r1.stop()  # crash before commit

        broker.publish("t", [PubsubMessage(data=b"b", publish_ts_us=1)] * 25_000)
        r2 = _reader(broker_dir, **opts)
        try:
            units = end["batch_id"] - start["batch_id"]
            assert len(r2._plan(units, "fresh")) == fresh, name
            replanned = r2.partitions(start, end)
            assert len(replanned) == 2, name
            assert sum(len(_read_rows(r2, p)) for p in replanned) == 1500
            r2.commit(end)
            assert broker.backlog("s") == 25_000
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
    deliverable: the offset does not advance over them, and a batch
    planned over them alone runs no tasks."""
    _publish_canonical(broker, 10)
    zombie = broker.pull("s", 10)
    assert len(zombie) == 10
    reader = _reader(broker_dir, num_partitions=2, max_messages_per_partition=10)
    try:
        start = reader.initialOffset()
        assert reader.latestOffset() == start
        end = {"batch_id": start["batch_id"] + 1}
        assert reader.partitions(start, end) == []
        reader.commit(end)
        assert broker.backlog("s") == 10  # the zombie's leases stand
    finally:
        reader.stop()


def test_foreign_leases_do_not_advance_the_offset(broker, broker_dir):
    """Messages another consumer holds under lease (a crashed
    predecessor's, or a plain pull on the same subscription) count as
    backlog, yet no batch of this reader can pull them: latestOffset
    holds at initialOffset instead of planning an empty batch per call
    until the leases expire."""
    _publish_canonical(broker, 10)
    assert len(FileBroker(broker_dir).pull("s", 10)) == 10
    reader = _reader(broker_dir, num_partitions=2, max_messages_per_partition=10)
    try:
        start = reader.initialOffset()
        assert [reader.latestOffset() for _ in range(5)] == [start] * 5
    finally:
        reader.stop()


def test_data_batch_is_followed_by_one_ack_only_batch(broker, broker_dir):
    """Spark acks a batch while it builds the next one, so the offset
    advances once more after the batch that took every message, and
    then holds once that ack has landed. The ack-only batch plans no
    partitions, so it leaves no dir under the cache roots."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        _stream_cache_dir,
    )

    _publish_canonical(broker, 20)
    reader = _reader(broker_dir, num_partitions=2, max_messages_per_partition=10)
    try:
        b0 = reader.initialOffset()
        b1 = reader.latestOffset()
        assert sum(len(_read_rows(reader, p)) for p in reader.partitions(b0, b1)) == 20
        b2 = reader.latestOffset()  # carries batch b1's ack
        assert b2["batch_id"] > b1["batch_id"]
        reader.commit(b1)
        assert reader.partitions(b1, b2) == []
        assert [reader.latestOffset() for _ in range(3)] == [b2] * 3
        assert os.listdir(_stream_cache_dir(reader.opts, reader.stream_id)) == []
    finally:
        reader.stop()


def test_stable_stream_restart_after_a_normal_finish_runs_no_batch(
    spark, broker, broker_dir, tmp_path
):
    """A query with a stable stream_id that drained its backlog and
    stopped leaves no batch for its successor on the same checkpoint:
    the restarted query writes no offset log entry."""
    _publish_canonical(broker, 30)
    broker.create_topic("t2")
    ck = str(tmp_path / "ck_restart")

    def run():
        src = read_stream(
            spark, broker_dir, "s", max_messages_per_partition=10,
            num_partitions=2, stream_id="stable",
        )
        q = write_stream(src.select("data", "attributes"), broker_dir, "t2", ck)
        try:
            deadline = time.time() + 120
            while time.time() < deadline and broker.backlog("s") > 0:
                time.sleep(0.2)
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
        return sorted(os.listdir(os.path.join(ck, "offsets")))

    first = run()
    assert broker.backlog("s") == 0
    assert run() == first
    assert len(broker.topic_messages("t2")) == 30


_DS_LOGGER = "spark_sql_pubsub_connector_spark.sources.datasource"


def test_plan_holds_only_the_pulls_the_backlog_can_fill(broker, broker_dir, caplog):
    """num_partitions is an upper bound: 25 messages at 10 per pull plan
    3 partitions, not 4, and every planned partition reads rows. The
    first planning logs the batch key, the deliverable count, and the
    planned and uncapped partition counts."""
    caplog.set_level(logging.DEBUG, logger=_DS_LOGGER)
    _publish_canonical(broker, 25)
    reader = _reader(broker_dir, num_partitions=4, max_messages_per_partition=10)
    try:
        start, end = reader.initialOffset(), reader.latestOffset()
        parts = reader.partitions(start, end)
        counts = [len(_read_rows(reader, p)) for p in parts]
        assert counts == [10, 10, 5]
        key = f"b{start['batch_id']}-{end['batch_id']}"
        assert f"batch {key}: 25 deliverable, planned 3 partitions (4 uncapped)" in (
            caplog.messages
        )
        reader.commit(end)
        assert broker.backlog("s") == 0
    finally:
        reader.stop()


def test_plan_counts_only_deliverable_messages(broker, broker_dir):
    """Messages another consumer holds under lease are backlog that no
    pull of this batch can lease: with 15 of 25 leased, one pull holds
    the other 10."""
    _publish_canonical(broker, 25)
    assert len(FileBroker(broker_dir).pull("s", 15)) == 15
    reader = _reader(broker_dir, num_partitions=4, max_messages_per_partition=10)
    try:
        parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
        assert [len(_read_rows(reader, p)) for p in parts] == [10]
    finally:
        reader.stop()


def test_dynamic_plan_scans_regions_once_per_batch(broker_dir, monkeypatch):
    """Under dynamic partitioning, latestOffset sizes its units from the
    backlog count alone, and planning a batch reads the per-region
    backlog (a scan of every unacked segment under the broker lock)
    once."""
    b = FileBroker(broker_dir)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=300)
    b.publish(
        "t",
        [PubsubMessage(data=b"u", publish_ts_us=1, region="us-east1")] * 30
        + [PubsubMessage(data=b"e", publish_ts_us=1, region="eu-west1")] * 3,
    )
    scans = []
    real = FileBroker.backlog_by_region
    monkeypatch.setattr(
        FileBroker,
        "backlog_by_region",
        lambda self, sub: scans.append(sub) or real(self, sub),
    )
    reader = _reader(
        broker_dir, dynamic_partitioning="true", max_messages_per_partition=10
    )
    try:
        start, end = reader.initialOffset(), reader.latestOffset()
        assert end == {"batch_id": 4}  # ceil(33 / (1 × 10))
        assert scans == []
        parts = reader.partitions(start, end)
        assert scans == ["s"]
        assert [p.value.region for p in parts] == ["eu-west1"] + ["us-east1"] * 3
    finally:
        reader.stop()


def test_region_split_cap_keeps_a_minority_region(broker_dir):
    """Under the 256-partition cap the regions take turns in the plan:
    a hot region above the split threshold cannot crowd out a small
    region, which would then never be pulled while the hot one stays
    hot."""
    b = FileBroker(broker_dir)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=300)
    b.publish(
        "t",
        [PubsubMessage(data=b"a", publish_ts_us=1, region="asia-east1")] * 33_000
        + [PubsubMessage(data=b"u", publish_ts_us=1, region="us-east1")] * 100,
    )
    reader = _reader(
        broker_dir, dynamic_partitioning="true", max_messages_per_partition=100
    )
    try:
        parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
        regions = [p.value.region for p in parts]
        # each region is capped at the pulls its own backlog can fill:
        # us-east1's 100 messages fill one 100-message pull
        assert len(regions) == 256
        assert regions.count("us-east1") == 1
        assert regions.count("asia-east1") == 255
        first_us = regions.index("us-east1")
        rows = _read_rows(reader, parts[first_us])
        assert len(rows) == 100 and {r[4] for r in rows} == {b"u"}
    finally:
        reader.stop()


def test_replica_heal_is_logged(broker, broker_dir, caplog, tmp_path):
    """A replay served from a replica re-heals the lost primary and says
    so at WARNING, naming both copies."""
    _publish_canonical(broker, 10)
    reader = _reader(
        broker_dir,
        num_partitions=1,
        max_messages_per_partition=10,
        replay_cache_replica_dirs=str(tmp_path / "rep1"),
    )
    try:
        parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
        assert len(_read_rows(reader, parts[0])) == 10
        payload = parts[0].value
        os.remove(payload.cache_file)
        with caplog.at_level(logging.WARNING, logger=_DS_LOGGER):
            assert len(_read_rows(reader, parts[0])) == 10
        (rec,) = [r for r in caplog.records if r.levelno == logging.WARNING]
        assert payload.replica_files[0] in rec.getMessage()
        assert payload.cache_file in rec.getMessage()
    finally:
        reader.stop()


def test_foreign_cache_purge_is_logged(broker, broker_dir, caplog):
    """Registration purges a dead stream's replay cache unacked and says
    so at INFO, naming the purged dir."""
    from spark_sql_pubsub_connector_spark.sources.datasource import _read_cache_dir

    _publish_canonical(broker, 10)
    r1 = _reader(broker_dir, num_partitions=1, stream_id="run1")
    parts = r1.partitions(r1.initialOffset(), r1.latestOffset())
    assert len(_read_rows(r1, parts[0])) == 10
    r1.stop()  # crash before commit
    r2 = _reader(broker_dir, num_partitions=1, stream_id="run2")
    try:
        with caplog.at_level(logging.INFO, logger=_DS_LOGGER):
            r2.initialOffset()
        purged = os.path.join(_read_cache_dir(r1.opts), "run1")
        assert not os.path.exists(purged)
        assert [r.levelno for r in caplog.records] == [logging.INFO]
        assert purged in caplog.records[0].getMessage()
    finally:
        r2.stop()


def test_relay_through_ack_only_batch_is_exactly_once(spark, broker, broker_dir, tmp_path):
    """pubsub -> pubsub: the batch after the last data batch plans no
    partitions, and the sink still commits it. The output holds every
    message once, and the source's backlog ends at 0."""
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
    # write_stream passes the checkpoint as the sink_id
    assert broker._head(broker._topic_dir("t2"))["sinks"][ck][1] == last_batch
    datas = [m.data for m in broker.topic_messages("t2")]
    assert sorted(datas) == sorted(f"Test Message: {i}".encode() for i in range(60))


def test_relay_of_a_backlog_under_one_pull_plans_one_partition(
    spark, broker, broker_dir, tmp_path
):
    """pubsub -> pubsub over a backlog smaller than one pull: the data
    batch plans one partition, not num_partitions, so the query runs one
    source task where three would pull nothing. Two availableNow runs on
    one checkpoint: the first leaves its batch uncommitted on the source
    side (Spark commits it while building the next batch), so its
    plan is still held in the offset state; the second acks it. The
    output holds every message exactly once."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        _offset_state_path,
        _stream_cache_dir,
    )
    from spark_sql_pubsub_connector_spark.sources.options import (
        validate_read_options,
    )

    _publish_canonical(broker, 40)
    broker.create_topic("t2")
    ck = str(tmp_path / "ck_one_pull")

    def run():
        src = read_stream(spark, broker_dir, "s", num_partitions=4, stream_id="relay1")
        q = write_stream(
            src.select("data", "attributes"),
            broker_dir,
            "t2",
            ck,
            trigger_available_now=True,  # sink_id defaults to ck
        )
        assert q.awaitTermination(120)

    run()
    opts = validate_read_options(
        {"project_id": "test-project", "subscription": "s", "broker_dir": broker_dir}
    )
    (batch_dir,) = os.listdir(_stream_cache_dir(opts, "relay1"))
    with open(_offset_state_path(opts)) as fh:
        plans = json.load(fh)["plans"]
    assert plans == {batch_dir: {"regions": [None], "replica_roots": []}}
    assert broker.backlog("s") == 40  # leased, acked by the next batch

    run()
    assert broker.backlog("s") == 0
    datas = [m.data for m in broker.topic_messages("t2")]
    assert sorted(datas) == sorted(f"Test Message: {i}".encode() for i in range(40))


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
    """Replica roots: at most three absolute, distinct paths; anything
    else is an eager ValueError."""
    from spark_sql_pubsub_connector_spark.sources.options import (
        validate_read_options,
    )

    base = {"project_id": "p", "subscription": "s", "broker_dir": broker_dir}
    m1, m2 = str(tmp_path / "m1"), str(tmp_path / "m2")
    ok = validate_read_options(dict(base, replay_cache_replica_dirs=f"{m1},{m2}"))
    assert ok.replay_cache_replica_dirs == (m1, m2)
    assert validate_read_options(dict(base)).replay_cache_replica_dirs == ()
    four = ",".join(str(tmp_path / f"m{i}") for i in range(4))
    with pytest.raises(ValueError, match="at most 3"):
        validate_read_options(dict(base, replay_cache_replica_dirs=four))
    with pytest.raises(ValueError, match="absolute"):
        validate_read_options(dict(base, replay_cache_replica_dirs="rel/path"))
    with pytest.raises(ValueError, match="distinct"):
        validate_read_options(dict(base, replay_cache_replica_dirs=f"{m1},{m1}"))


def test_explicit_replica_dirs_second_mount(spark, broker, broker_dir, tmp_path):
    """VERDICT r12 #6: replay_cache_replica_dirs places replica copies
    on an explicitly-named root (a second mount in a real deployment —
    the distinct-executor placement of MEMORY_AND_DISK_SER_2,
    PubsubPartitionReader.scala:57): copies land there and nowhere
    beside the primary, primary loss replays from it byte-identically, and
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
        # copies live on the explicit mount, not beside the primary
        assert os.path.isdir(os.path.join(mount2, "s"))
        caches = [n for n in os.listdir(broker_dir) if n.startswith(".read_cache")]
        assert caches == [".read_cache"]
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


def test_replica_root_switch_replays_from_the_planned_root(
    spark, broker, broker_dir, tmp_path, monkeypatch
):
    """A batch planned with its replica under root A is replanned after a
    restart whose config names root B instead. Its plan names A, so with
    the primary lost the replay serves A's copy byte for byte rather than
    re-pulling (the broker still holds the lease, so a re-pull would
    return nothing). Healing rewrites the primary; commit acks each
    message once and evicts the primary's and A's copies; nothing is
    ever written under B."""
    import shutil as _shutil

    _publish_canonical(broker, 20)
    root_a, root_b = str(tmp_path / "root_a"), str(tmp_path / "root_b")
    base = dict(num_partitions=2, max_messages_per_partition=10, stream_id="sid-cfgswitch")
    old = _reader(broker_dir, replay_cache_replica_dirs=root_a, **base)
    try:
        start = old.initialOffset()
        end = old.latestOffset()
        parts = old.partitions(start, end)
        first = [_read_rows(old, p) for p in parts]
        assert sum(len(x) for x in first) == 20
        a_bytes = []
        for p in parts:
            (rep_file,) = p.value.replica_files
            assert rep_file.startswith(root_a)
            with open(rep_file, "rb") as fh:
                a_bytes.append(fh.read())
    finally:
        old.stop()  # uncommitted: the restart replans this batch

    # restart with the replica root moved to B; same stream identity
    # (the registry keeps same-sid dirs), same batch
    new = _reader(broker_dir, replay_cache_replica_dirs=root_b, **base)
    try:
        parts2 = new.partitions(start, end)
        assert [p.value.replica_files for p in parts2] == [
            p.value.replica_files for p in parts
        ]
        # primary lost; only root A still has copies
        _shutil.rmtree(os.path.join(broker_dir, ".read_cache"))
        second = [_read_rows(new, p) for p in parts2]
        assert first == second  # A's copy served
        for p, data in zip(parts2, a_bytes):
            with open(p.value.cache_file, "rb") as fh:
                assert fh.read() == data  # primary re-healed, byte-identical
        acked = []
        real_ack = new.broker.acknowledge

        def record_ack(sub, ids):
            acked.extend(ids)
            return real_ack(sub, ids)

        monkeypatch.setattr(new.broker, "acknowledge", record_ack)
        new.commit(end)
        assert sorted(acked) == sorted(r[1] for rows in first for r in rows)
        assert len(set(acked)) == 20
        assert broker.backlog("s") == 0
        for root in (os.path.join(broker_dir, ".read_cache"), root_a):
            stream_root = os.path.join(root, "s", "sid-cfgswitch")
            assert os.listdir(stream_root) == []
        assert not os.path.exists(root_b)
    finally:
        new.stop()


def test_replica_root_switch_with_the_primary_lost_before_restart(
    broker, broker_dir, tmp_path, monkeypatch
):
    """A batch planned and pulled under replica root A, whose primary
    copy (plan included) is lost before a restart under root B, replays
    from A: the offset state records the roots of the last planned
    batch, so the restart finds A's plan rather than planning the batch
    anew (a re-pull under the held lease would return nothing). Commit
    acks each message once and evicts A's copies; nothing is ever
    written under B."""
    import shutil as _shutil

    _publish_canonical(broker, 20)
    root_a, root_b = str(tmp_path / "root_a"), str(tmp_path / "root_b")
    base = dict(num_partitions=1, max_messages_per_partition=20, stream_id="sid-lost")
    old = _reader(broker_dir, replay_cache_replica_dirs=root_a, **base)
    try:
        start, end = old.initialOffset(), old.latestOffset()
        (part,) = old.partitions(start, end)
        first = _read_rows(old, part)
        assert len(first) == 20
        (rep_file,) = part.value.replica_files
        with open(rep_file, "rb") as fh:
            a_bytes = fh.read()
    finally:
        old.stop()  # uncommitted: the restart replans this batch
    _shutil.rmtree(os.path.join(broker_dir, ".read_cache"))

    new = _reader(broker_dir, replay_cache_replica_dirs=root_b, **base)
    try:
        parts = new.partitions(start, end)
        assert [p.value.replica_files for p in parts] == [(rep_file,)]
        assert [_read_rows(new, p) for p in parts] == [first]
        with open(parts[0].value.cache_file, "rb") as fh:
            assert fh.read() == a_bytes  # primary re-healed from A
        acked = []
        real_ack = new.broker.acknowledge

        def record_ack(sub, ids):
            acked.extend(ids)
            return real_ack(sub, ids)

        monkeypatch.setattr(new.broker, "acknowledge", record_ack)
        new.commit(end)
        assert sorted(acked) == sorted(r[1] for r in first)
        assert len(set(acked)) == 20
        assert broker.backlog("s") == 0
        for root in (os.path.join(broker_dir, ".read_cache"), root_a):
            assert os.listdir(os.path.join(root, "s", "sid-lost")) == []
        assert not os.path.exists(root_b)
    finally:
        new.stop()


def test_offset_state_without_replica_roots_reads_as_none(broker, broker_dir):
    """An offset state file written before the state held plans (and
    their replica roots) reads as holding none, not as corrupt. The next
    write records the stream and the batch it plans."""
    state = os.path.join(broker_dir, ".offsets", "s.json")
    os.makedirs(os.path.dirname(state))
    with open(state, "w") as fh:
        json.dump({"planned": 3, "committed": 2}, fh)
    _publish_canonical(broker, 5)
    reader = _reader(broker_dir, num_partitions=1, max_messages_per_partition=5)
    try:
        start, end = reader.initialOffset(), reader.latestOffset()
        assert (start, end) == ({"batch_id": 2}, {"batch_id": 4})
        parts = reader.partitions(start, end)
        assert sum(len(_read_rows(reader, p)) for p in parts) == 5
        with open(state) as fh:
            assert json.load(fh) == {
                "planned": 4,
                "committed": 2,
                "stream_id": reader.stream_id,
                "plans": {"b2-4": {"regions": [None], "replica_roots": []}},
            }
    finally:
        reader.stop()


def test_partitions_and_commit_never_list_the_broker_dir(
    broker, broker_dir, monkeypatch
):
    """Planning, replay and commit find a batch's copies from its plan
    and the configured roots alone: no scan of the broker dir for
    other cache roots."""
    _publish_canonical(broker, 20)
    reader = _reader(broker_dir, num_partitions=2, max_messages_per_partition=10)
    try:
        start = reader.initialOffset()
        end = reader.latestOffset()
        listed = []
        real_listdir = os.listdir

        def record_listdir(path="."):
            listed.append(os.path.abspath(path))
            return real_listdir(path)

        monkeypatch.setattr(os, "listdir", record_listdir)
        parts = reader.partitions(start, end)
        assert sum(len(_read_rows(reader, p)) for p in parts) == 20
        reader.partitions(start, end)  # a replan reads the stored plan
        reader.commit(end)
        assert broker.backlog("s") == 0
        assert listed  # the recorder saw commit's own sweep
        assert os.path.abspath(broker_dir) not in listed
    finally:
        reader.stop()


def test_batch_with_parts_but_no_plan_is_not_replanned(broker, broker_dir):
    """A batch dir holding a part file whose plan is gone from the
    offset state was pulled under that lost plan: replanning it could
    plan other partitions over the same batch key. partitions() raises
    naming the batch instead, and records no new plan."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        _offset_state_path,
    )

    _publish_canonical(broker, 10)
    opts = dict(num_partitions=1, max_messages_per_partition=10, stream_id="fixed")
    reader = _reader(broker_dir, **opts)
    try:
        start, end = reader.initialOffset(), reader.latestOffset()
        parts = reader.partitions(start, end)
        assert len(_read_rows(reader, parts[0])) == 10
    finally:
        reader.stop()
    batch_key = os.path.basename(os.path.dirname(parts[0].value.cache_file))
    path = _offset_state_path(reader.opts)
    with open(path) as fh:
        state = json.load(fh)
    del state["plans"][batch_key]
    with open(path, "w") as fh:
        json.dump(state, fh)
    reader = _reader(broker_dir, **opts)
    try:
        with pytest.raises(RuntimeError, match=re.escape(batch_key)):
            reader.partitions(start, end)
        with open(path) as fh:
            assert json.load(fh)["plans"] == {}
    finally:
        reader.stop()


def test_bare_list_plan_fails_loudly(broker, broker_dir):
    """A held plan in the older bare-list form makes the offset state
    corrupt, naming its file, never a plan with no replica roots."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        _offset_state_path,
    )

    _publish_canonical(broker, 10)
    reader = _reader(broker_dir, num_partitions=1, max_messages_per_partition=10)
    try:
        start, end = reader.initialOffset(), reader.latestOffset()
        reader.partitions(start, end)
    finally:
        reader.stop()
    path = _offset_state_path(reader.opts)
    with open(path) as fh:
        state = json.load(fh)
    state["plans"][f"b{start['batch_id']}-{end['batch_id']}"] = [None]
    with open(path, "w") as fh:
        json.dump(state, fh)
    corrupt = f"corrupt pubsub offset state {re.escape(path)}"
    with pytest.raises(ValueError, match=corrupt):
        _reader(broker_dir)


def test_registration_purges_a_dead_stream_under_its_planned_roots(
    broker, broker_dir, tmp_path
):
    """Stream A pulls a batch with its replica under root A and dies
    before commit; stream B starts configured with root B alone. A's
    held plan names root A, so B's registration purges A's copies there
    as well as under the primary, unacked: A's messages wait out their
    leases."""
    from spark_sql_pubsub_connector_spark.sources.datasource import _read_cache_dir

    _publish_canonical(broker, 10)
    root_a, root_b = str(tmp_path / "root_a"), str(tmp_path / "root_b")
    base = dict(num_partitions=1, max_messages_per_partition=10)
    a = _reader(broker_dir, stream_id="A", replay_cache_replica_dirs=root_a, **base)
    try:
        (part,) = a.partitions(a.initialOffset(), a.latestOffset())
        assert len(_read_rows(a, part)) == 10
    finally:
        a.stop()  # crash before commit
    a_dirs = [
        os.path.join(_read_cache_dir(a.opts, root), "A") for root in (None, root_a)
    ]
    assert all(os.path.isdir(d) for d in a_dirs)

    b = _reader(broker_dir, stream_id="B", replay_cache_replica_dirs=root_b, **base)
    try:
        b.initialOffset()
        assert not any(os.path.exists(d) for d in a_dirs)
        assert broker.backlog("s") == 10
    finally:
        b.stop()


def test_commit_crash_at_the_state_write_is_retried_cleanly(
    broker, broker_dir, monkeypatch
):
    """commit() acks a batch, evicts its copies, then records the
    committed floor with the batch's plan dropped in one offset-state
    write. A crash at that write leaves the plan held; a fresh reader of
    the same stream commits the same end again without error, and ends
    with the backlog at 0, no cache file left and the plan gone. The
    state holds a batch's plan before any of its parts is read."""
    from spark_sql_pubsub_connector_spark.sources import datasource
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        _offset_state_path,
    )

    _publish_canonical(broker, 20)
    opts = dict(num_partitions=2, max_messages_per_partition=10, stream_id="fixed")
    r1 = _reader(broker_dir, **opts)
    path = _offset_state_path(r1.opts)
    try:
        start, end = r1.initialOffset(), r1.latestOffset()
        parts = r1.partitions(start, end)
        key = f"b{start['batch_id']}-{end['batch_id']}"
        with open(path) as fh:
            plans = json.load(fh)["plans"]
        assert plans == {key: {"regions": [None, None], "replica_roots": []}}
        assert not any(os.path.exists(p.value.cache_file) for p in parts)
        assert sum(len(_read_rows(r1, p)) for p in parts) == 20

        real_write = datasource._write_atomic

        def crash_at_state_write(target, data):
            if target == path:
                raise OSError("killed at the offset-state write")
            real_write(target, data)

        with monkeypatch.context() as m:
            m.setattr(datasource, "_write_atomic", crash_at_state_write)
            with pytest.raises(OSError, match="killed"):
                r1.commit(end)
    finally:
        r1.stop()
    assert broker.backlog("s") == 0  # the ack landed before the crash
    with open(path) as fh:
        assert key in json.load(fh)["plans"]

    r2 = _reader(broker_dir, **opts)
    try:
        r2.commit(end)
        assert broker.backlog("s") == 0
        cache = os.path.join(broker_dir, ".read_cache")
        assert [f for _, _, files in os.walk(cache) for f in files] == []
        with open(path) as fh:
            state = json.load(fh)
        assert (state["committed"], state["plans"]) == (end["batch_id"], {})
    finally:
        r2.stop()


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
            "sink_id": "q-spec",
        },
        _sink_schema(),
    )
    winner = w.write(iter([batch]))
    loser = w.write(iter([batch]))  # speculative duplicate, COMPLETED
    assert len(loser.staged_files) == 1
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
            "sink_id": "q1",
        },
        _sink_schema(),
    )
    msgs = [w.write(iter([batch])) for _ in range(3)]  # three tasks
    os.remove(msgs[1].staged_files[0])  # lose the middle task's segment
    with pytest.raises(RuntimeError, match="staged files are missing"):
        w.commit(msgs, batchId=0)
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
        # NO sink_id
    }
    w = PubsubStreamWriter(dict(opts), _sink_schema())
    w2 = PubsubStreamWriter(dict(opts), _sink_schema())  # concurrent query
    assert w._owner_token != w2._owner_token  # per-run, not shared
    winner = w.write(iter([batch]))
    loser = w.write(iter([batch]))  # speculative duplicate, COMPLETED
    assert len(loser.staged_files) == 1
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


def _live_segment_bytes(broker, topic):
    return sum(
        os.path.getsize(s.path) for s in broker._segments(broker._topic_dir(topic))
    )


def _live_segment_messages(broker, topic):
    return sum(s.hi - s.lo for s in broker._segments(broker._topic_dir(topic)))


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
            "sink_id": "ret-q",
            "log_retention_bytes": str(8 * 1024),
        },
        _sink_schema(),
    )
    assert w.opts.log_retention_bytes == 8 * 1024
    max_size = 0
    seen = 0
    for b in range(20):  # one ~6 KB segment per batch
        w.commit([w.write(iter([batch]))], batchId=b)
        got = broker.pull("rsub", 200)
        seen += len(got)
        broker.acknowledge("rsub", [m.ack_id for m in got])
        max_size = max(max_size, _live_segment_bytes(broker, "retained"))
    assert seen == 20 * n  # every message delivered exactly once
    # one batch can land atop a just-under-threshold topic, so the
    # bound is threshold + ~2 batches, far below the ~124 KB unbounded
    # total
    assert max_size < 4 * 8 * 1024, max_size

    # undrained topic: no subscription acks → floor 0 → never cut
    broker.create_topic("undrained")
    w2 = PubsubStreamWriter(
        {
            "project_id": "p",
            "topic": "undrained",
            "broker_dir": broker_dir,
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
    exists when a sink identity RESOLVED (the topic head's ``sinks``
    are keyed by it), so after a real writeStream with a checkpoint and
    NO explicit sink_id, the head must hold exactly the
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
    entries = list(broker._head(broker._topic_dir("fwd_t"))["sinks"])
    assert entries == ["ck:" + ck], entries


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
    max_retained = 0
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
            max_retained = max(max_retained, _live_segment_messages(broker, "t"))
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    rows = spark.table("compact_drain").collect()
    datas = [bytes(r["data"]) for r in rows]
    assert len(datas) == total, f"{len(datas)} of {total} delivered"
    assert len(set(datas)) == total  # exactly once, across compactions
    # the topic was cut mid-stream: it never held anywhere near all 300
    # messages; each publish atop a drained topic unlinks the
    # fully-acked segments once past the 2 KiB threshold
    assert max_retained < 130, max_retained
    assert _live_segment_messages(broker, "t") < 65
    assert broker.backlog("s") == 0
