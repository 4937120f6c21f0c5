"""Opt-in integration tier: RealBrokerClient against a live Pub/Sub
emulator (VERDICT r4 next-round #5; reference parity:
``pom.xml:213-282`` starts a ``google/cloud-sdk:emulators`` container,
``PubsubConnectorTest.scala:117-291`` runs four scenarios against it).

Skipped automatically unless BOTH are true:

- ``google-cloud-pubsub`` is importable (not shipped in the build
  container), and
- ``PUBSUB_EMULATOR_HOST`` is set (e.g. ``localhost:8085``).

To run locally::

    docker run -d -p 8085:8085 gcr.io/google.com/cloudsdktool/google-cloud-cli:emulators \
        gcloud beta emulators pubsub start --host-port=0.0.0.0:8085
    PUBSUB_EMULATOR_HOST=localhost:8085 python -m pytest tests/test_emulator_integration.py -q

Scenario mapping: the reference's four emulator tests are mirrored 1:1
against FileBroker through the full Spark datasource
(``test_connector.py``: ``test_source_count_100``,
``test_sink_roundtrip``, ``test_split_stream_two_sinks_rejected``,
``test_two_streams_same_subscription_rejected``). Scenarios 3/4 are
stream-registry guards that do not depend on the broker backend, so
this tier re-runs the broker-dependent halves of scenarios 1/2 — plus
the lease/redelivery and ordering-publisher paths the connector's
at-least-once contract rests on — through the REAL gRPC client, which
``tests/test_broker_real_client.py`` otherwise only mock-exercises.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

pubsub_v1 = pytest.importorskip(
    "google.cloud.pubsub_v1",
    reason="google-cloud-pubsub not installed (offline container)",
)

if not os.environ.get("PUBSUB_EMULATOR_HOST"):
    pytest.skip(
        "PUBSUB_EMULATOR_HOST not set; start an emulator to run this tier",
        allow_module_level=True,
    )

from spark_sql_pubsub_connector_spark.sources.broker import (  # noqa: E402
    PubsubMessage,
    RealBrokerClient,
    pull_schema,
)


@pytest.fixture()
def client():
    return RealBrokerClient(
        "emu-project", endpoint=os.environ["PUBSUB_EMULATOR_HOST"]
    )


@pytest.fixture()
def names():
    run = uuid.uuid4().hex[:8]
    return f"it-topic-{run}", f"it-sub-{run}"


def _drain(client, sub, max_messages=10, deadline_s=30.0):
    """Pull in ≤max_messages chunks (the reference scenario's
    10-msgs/partition cap) until the backlog stays empty, acking as we
    go; returns every received message."""
    out, quiet = [], 0
    t0 = time.time()
    while time.time() - t0 < deadline_s:
        got = client.pull(sub, max_messages)
        if got:
            quiet = 0
            out.extend(rm.message for rm in got)
            client.acknowledge(sub, [rm.ack_id for rm in got])
        else:
            quiet += 1
            if quiet >= 3:
                break
            time.sleep(0.2)
    return out


def test_source_count_100(client, names):
    """Scenario 1 (PubsubConnectorTest.scala:117-153): publish 100,
    pull with a 10-message cap, observe exactly 100."""
    topic, sub = names
    client.create_topic(topic)
    client.create_subscription(sub, topic, ack_deadline_s=60)
    msgs = [
        PubsubMessage(data=f"m-{i}".encode(), attributes={"i": str(i)})
        for i in range(100)
    ]
    ids = client.publish(topic, msgs)
    assert len(ids) == 100
    got = _drain(client, sub)
    assert len(got) == 100
    assert {m.data.decode() for m in got} == {f"m-{i}" for i in range(100)}


def test_sink_roundtrip_payload_and_attributes(client, names):
    """Scenario 2 (PubsubConnectorTest.scala:155-198): source→sink
    republish, then verify payload/attribute content end-to-end."""
    topic, sub = names
    out_topic, out_sub = topic + "-out", sub + "-out"
    client.create_topic(topic)
    client.create_subscription(sub, topic, ack_deadline_s=60)
    client.create_topic(out_topic)
    client.create_subscription(out_sub, out_topic, ack_deadline_s=60)

    client.publish(
        topic,
        [
            PubsubMessage(data=f"p-{i}".encode(), attributes={"k": f"v{i}"})
            for i in range(25)
        ],
    )
    pulled = _drain(client, sub)
    assert len(pulled) == 25
    client.publish(out_topic, list(pulled))
    final = _drain(client, out_sub)
    assert {(m.data, m.attributes.get("k")) for m in final} == {
        (f"p-{i}".encode(), f"v{i}") for i in range(25)
    }


def test_nack_redelivers_at_least_once(client, names):
    """The lease semantics the connector's S11 commit protocol rests
    on: an unacked message whose deadline is zeroed comes back."""
    topic, sub = names
    client.create_topic(topic)
    client.create_subscription(sub, topic, ack_deadline_s=600)
    client.publish(topic, [PubsubMessage(data=b"once")])
    got = client.pull(sub, 10)
    assert len(got) == 1
    client.modify_ack_deadline(sub, [rm.ack_id for rm in got], 0)
    again = _drain(client, sub)
    assert [m.data for m in again] == [b"once"]


def test_ordering_key_publisher_path(client, names):
    """Messages with ordering keys go through the ordering-enabled
    cached publisher (CachedPublishers.scala:53) and arrive intact."""
    topic, sub = names
    client.create_topic(topic)
    client.create_subscription(sub, topic, ack_deadline_s=60)
    client.publish(
        topic,
        [
            PubsubMessage(data=f"o-{i}".encode(), ordering_key="user-1")
            for i in range(5)
        ],
    )
    got = _drain(client, sub)
    assert len(got) == 5
    assert {m.ordering_key for m in got} == {"user-1"}


def test_pull_raw_record_shape_against_real_service(client, names):
    """pull_raw must produce FileBroker's ``pull_schema()`` batch (the
    partition readers consume it directly) from real protobuf
    responses, including the µs publish-time conversion."""
    topic, sub = names
    client.create_topic(topic)
    client.create_subscription(sub, topic, ack_deadline_s=60)
    client.publish(topic, [PubsubMessage(data=b"raw", attributes={"a": "b"})])
    deadline = time.time() + 30
    batch = client.pull_raw(sub, 10)
    while not batch and time.time() < deadline:
        batch = client.pull_raw(sub, 10)
    assert batch.schema == pull_schema()
    (row,) = batch.to_pylist()
    assert row["ack_id"]
    assert row["data"] == b"raw"
    assert dict(row["attributes"]) == {"a": "b"}
    assert row["publish_ts_us"] > 1_000_000_000_000_000  # µs since epoch
