"""Streaming pipeline helpers over the pubsub connector.

Mirrors the usage surface the reference documents and tests:
``spark.readStream.format("pubsub")`` (README.md:60-70),
``df.writeStream.format("pubsub")`` (README.md:84-96), and the
``foreachBatch`` fan-out workaround for stream splitting
(README.md:131; PubsubConnectorTest.scala:141-145).

Also provides the offline event feeder: the driver's `events` table is
the deterministic message stream for connector tests (FIXTURES.md
"stream-shaped" note) — each event row becomes a message with the
event JSON as payload, `event_type` as an attribute, and the event
time as publish timestamp.
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans.tables import load_table
from ..session import ship_package
from ..sources.broker import FileBroker, segment_schema, write_segment
from ..sources.datasource import register_pubsub


def _stage_segment(staging: str, batches):
    """``mapInArrow`` body of the seeder: write this task's rows as one
    staged segment file named by its partition (a retried task replaces
    the same file) and yield the file's path."""
    import pyarrow as pa
    from pyspark import TaskContext

    path = os.path.join(staging, f"part-{TaskContext.get().partitionId():05d}.arrow")
    if write_segment(path, (b.cast(segment_schema()) for b in batches)):
        yield pa.RecordBatch.from_pydict({"part": [path]})


def seed_topic_from_events(
    spark: SparkSession,
    sf_dir: str,
    broker_dir: str,
    topic: str,
    subscription: str | None = None,
    limit: int | None = None,
    ack_deadline_s: float = 60.0,
    num_partitions: int = 8,
) -> int:
    """Publish the events table into a broker topic deterministically.

    Distributed: the staged-commit protocol of the sink, whose unit is
    one staged segment per task. Executors compose each message's
    segment columns JVM-side (``to_json`` payload, ordering key,
    attributes, publish time) and one ``mapInArrow`` task per
    range-partition of ``event_id`` writes its rows as one staged Arrow
    IPC segment through ``write_segment``, the sink's writer; the
    driver then renames the files into the topic in partition
    (= event_id) order via ``FileBroker.commit_staged``, so message ids
    are monotone in event_id. No event data moves through the driver,
    and seeding scales with the cluster like any other write job. Every
    message's region is ``"global"``.
    (``broker_dir`` is shared storage by the FileBroker contract, so
    executor-written staging files are visible to the driver.)

    ``limit`` keeps its "first N by event_id" meaning via a
    pushed-down ``event_id < N`` filter — event ids are dense 0..N-1
    in every driver fixture (FIXTURES.md), and the filter keeps the
    scan distributed where ``orderBy().limit()`` would TakeOrdered
    everything into one task. Because that meaning silently depends
    on the dense-id contract, the seeded count is asserted against
    ``limit`` after the commit: a fixture whose ids drift fails
    loudly instead of under-seeding (ADVICE r4).

    Field parity with the retired driver-side loop (ADVICE r4):
    ``publish_ts_us`` uses true floor division (``ts_ns DIV 1000``
    truncates toward zero, Python ``//`` floors — they differ on
    negative timestamps) and a null ``user_id`` yields the string
    ``"None"`` exactly as ``str(row["user_id"])`` did. One KNOWN
    byte-level drift remains: payload JSON is ``to_json``-compact
    (``{"a":1}``) where ``json.dumps`` emitted spaces after
    separators — semantically equal JSON, but not byte-identical to
    logs seeded before round 4.
    """
    broker = FileBroker(broker_dir)
    broker.create_topic(topic)
    if subscription is not None:
        broker.create_subscription(subscription, topic, ack_deadline_s=ack_deadline_s)
    ev = load_table(spark, sf_dir, "events")
    if limit is not None:
        ev = ev.filter(F.col("event_id") < limit)

    # ignoreNullFields=false: emit "value": null instead of silently
    # dropping the key (to_json's default) — consumers index payload
    # fields unconditionally
    payload = F.to_json(
        F.struct("event_id", "user_id", "event_type", "value", "props"),
        {"ignoreNullFields": "false"},
    )
    segments = (
        ev.repartitionByRange(num_partitions, "event_id")
        .sortWithinPartitions("event_id")
        .select(
            # str(None) == "None" in the old driver-side loop; keep it
            F.coalesce(F.col("user_id").cast("string"), F.lit("None")).alias(
                "ordering_key"
            ),
            F.encode(payload, "UTF-8").alias("data"),
            F.create_map(F.lit("event_type"), F.col("event_type")).alias(
                "attributes"
            ),
            # exact int64 floor division (pmod is nonnegative), matching
            # Python's ts_ns // 1000 for negative timestamps too
            F.expr("(ts_ns - pmod(ts_ns, 1000)) DIV 1000").alias(
                "publish_ts_us"
            ),
            F.lit("global").alias("region"),
        )
    )
    staging = os.path.join(
        broker_dir, f".seed-staging-{topic}-{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(staging)
    # the write lives inside the same try as the commit (r15 review):
    # a failed distributed write used to leave the staging dir behind
    # forever — the seeder twin of the sink stage-file GC
    try:
        ship_package(spark)
        parts = segments.mapInArrow(
            functools.partial(_stage_segment, staging), "part string"
        ).collect()
        n = broker.commit_staged(topic, sorted(r["part"] for r in parts))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    if limit is not None and n != limit:
        raise ValueError(
            f"seeder under-fill: limit={limit} but {n} messages seeded — "
            "the events fixture's dense event_id 0..N-1 contract "
            "(FIXTURES.md) no longer holds for this sf_dir"
        )
    return n


def read_stream(
    spark: SparkSession,
    broker_dir: str,
    subscription: str,
    project_id: str = "test-project",
    **options,
) -> DataFrame:
    """spark.readStream.format("pubsub")…load() with this engine's
    option spelling; registers the data source on first use."""
    register_pubsub(spark)
    reader = (
        spark.readStream.format("pubsub")
        .option("project_id", project_id)
        .option("subscription", subscription)
        .option("broker_dir", broker_dir)
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def write_stream(
    df: DataFrame,
    broker_dir: str,
    topic: str,
    checkpoint: str,
    project_id: str = "test-project",
    trigger_available_now: bool = False,
    sink_partitions: int | None = None,
    **options,
):
    """df.writeStream.format("pubsub")…start() (append mode).

    Passes ``sink_id=checkpoint`` so the sink's batch-id idempotence is
    scoped to this query: redeliveries of the same query are suppressed
    across restarts (effectively-once) without ever swallowing batches
    from other queries writing the same topic.

    Each sink task stages its rows as one topic segment, and the
    batch's segments become visible together at commit. Client batching
    (``BATCH_MAX_MESSAGES`` messages or ``BATCH_MAX_LATENCY_S``) applies
    only against the real service, in ``RealBrokerClient``.

    ``sink_partitions`` coalesces the write stage to that many publisher
    tasks — the staged-commit analog of the reference's bounded
    publisher-client cache (CachedPublishers.scala:27-35: one cached
    publisher per topic, reused across partitions). Source micro-batches
    often plan many small partitions (backlog ÷ max_messages); each sink
    task pays a fixed Python-worker cost and stages one segment, so
    matching the publisher count to the actual executor slots cuts
    per-batch overhead and segments without touching pull parallelism
    (coalesce, not repartition — no shuffle)."""
    register_pubsub(df.sparkSession)
    if sink_partitions is not None:
        df = df.coalesce(sink_partitions)
    writer = (
        df.writeStream.format("pubsub")
        .option("project_id", project_id)
        .option("topic", topic)
        .option("broker_dir", broker_dir)
        .option("checkpointLocation", checkpoint)
        .option("sink_id", options.pop("sink_id", checkpoint))
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    for k, v in options.items():
        writer = writer.option(k, str(v))
    return writer.start()


def foreach_batch_fanout(df: DataFrame, checkpoint: str, *sink_fns):
    """The reference's documented workaround for splitting a stream into
    multiple sinks (README.md:131): one query, fan out inside
    foreachBatch so the source still sees a single consumer."""

    def _fanout(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for fn in sink_fns:
                fn(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.foreachBatch(_fanout)
        .option("checkpointLocation", checkpoint)
        .start()
    )
