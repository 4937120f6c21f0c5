"""RealBrokerClient plumbing exercised WITHOUT google-cloud-pubsub:
a fake ``google.cloud.pubsub_v1`` injected via ``sys.modules`` drives
publish / pull / ack / modify_ack_deadline / commit_staged / backlog
through the same semantics matrix the FileBroker suite pins
(VERDICT r3 next-round #5).

The fakes reproduce the protobuf-ish shapes the real client exposes
(``received_messages[].message.publish_time.seconds/.nanos``, publish
futures, request-dict call signatures), so what's under test is every
line of adapter logic in ``RealBrokerClient``: topic/subscription path
construction, µs timestamp conversion, the FileBroker record-dict pull
shape, client caching keyed by endpoint / (topic, ordering), the
reference batching + flow-control constants (CachedPublishers.scala:
19-35), and the emulator plaintext-credentials path
(Subscriber.scala:38-54).
"""

from __future__ import annotations

import base64
import sys
import types as _types
from types import SimpleNamespace

import pytest

from spark_sql_pubsub_connector_spark.sources.broker import PubsubMessage

# ---------------------------------------------------------------------------
# in-memory service shared by the fake clients
# ---------------------------------------------------------------------------


class _FakeService:
    """Minimal Pub/Sub semantics: append-only topic logs, leased pulls,
    ack removal, modack(0) lease release (immediate redelivery)."""

    def __init__(self):
        self.topics: dict[str, list] = {}
        self.subs: dict[str, dict] = {}
        self.seq = 0
        self.subscriber_clients: list = []
        self.publisher_clients: list = []
        self.ack_request_sizes: list[int] = []

    def create_topic(self, path: str) -> None:
        self.topics.setdefault(path, [])

    def create_subscription(self, path: str, topic: str, deadline: int) -> None:
        self.subs[path] = {
            "topic": topic,
            "deadline": deadline,
            "leased": set(),
            "acked": set(),
        }

    def publish(self, topic: str, data: bytes, ordering_key: str, attrs: dict) -> str:
        mid = str(self.seq)
        msg = SimpleNamespace(
            data=data,
            attributes=dict(attrs),
            ordering_key=ordering_key,
            message_id=mid,
            # non-zero nanos so the µs conversion in pull() is observable
            publish_time=SimpleNamespace(
                seconds=1_700_000_000 + self.seq, nanos=123_000
            ),
        )
        self.topics.setdefault(topic, []).append(msg)
        self.seq += 1
        return mid

    def pull(self, sub_path: str, max_messages: int) -> list:
        st = self.subs[sub_path]
        out = []
        for msg in self.topics.get(st["topic"], []):
            if len(out) >= max_messages:
                break
            if msg.message_id in st["acked"] or msg.message_id in st["leased"]:
                continue
            st["leased"].add(msg.message_id)
            out.append(SimpleNamespace(ack_id=f"ack-{msg.message_id}", message=msg))
        return out

    def acknowledge(self, sub_path: str, ack_ids: list[str]) -> None:
        st = self.subs[sub_path]
        for a in ack_ids:
            mid = a.removeprefix("ack-")
            st["acked"].add(mid)
            st["leased"].discard(mid)

    def modify_ack_deadline(self, sub_path: str, ack_ids, seconds: int) -> None:
        st = self.subs[sub_path]
        if seconds == 0:  # nack: release the lease -> redeliver next pull
            for a in ack_ids:
                st["leased"].discard(a.removeprefix("ack-"))


class _FakeSubscriberClient:
    def __init__(self, service: _FakeService, **kwargs):
        self.service = service
        self.kwargs = kwargs
        service.subscriber_clients.append(self)

    def create_subscription(self, request):
        self.service.create_subscription(
            request["name"], request["topic"], request["ack_deadline_seconds"]
        )

    def pull(self, request, timeout=None):
        self.last_pull_timeout = timeout
        return SimpleNamespace(
            received_messages=self.service.pull(
                request["subscription"], request["max_messages"]
            )
        )

    def acknowledge(self, request):
        self.service.ack_request_sizes.append(len(request["ack_ids"]))
        self.service.acknowledge(request["subscription"], request["ack_ids"])

    def modify_ack_deadline(self, request):
        self.service.modify_ack_deadline(
            request["subscription"],
            request["ack_ids"],
            request["ack_deadline_seconds"],
        )


class _FakePublisherClient:
    def __init__(
        self,
        service: _FakeService,
        batch_settings=None,
        publisher_options=None,
        **kwargs,
    ):
        self.service = service
        self.batch_settings = batch_settings
        self.publisher_options = publisher_options
        self.kwargs = kwargs
        service.publisher_clients.append(self)

    def create_topic(self, request):
        self.service.create_topic(request["name"])

    def publish(self, topic_path, data, ordering_key="", **attrs):
        mid = self.service.publish(topic_path, data, ordering_key, attrs)
        return SimpleNamespace(result=lambda mid=mid: mid)


class _FakeAnonymousCredentials:
    pass


# ---------------------------------------------------------------------------
# module injection
# ---------------------------------------------------------------------------


def _capture(**fields):
    """types.BatchSettings-style constructor: records its kwargs."""
    return SimpleNamespace(**fields)


@pytest.fixture()
def fake_gcp(monkeypatch):
    """Install fake google.cloud.pubsub_v1 / google.auth.credentials
    modules; yields the shared in-memory service."""
    service = _FakeService()

    pubsub_v1 = _types.ModuleType("google.cloud.pubsub_v1")
    pubsub_v1.SubscriberClient = lambda **kw: _FakeSubscriberClient(service, **kw)
    pubsub_v1.PublisherClient = lambda **kw: _FakePublisherClient(service, **kw)
    pubsub_v1.types = SimpleNamespace(
        BatchSettings=lambda **kw: _capture(**kw),
        PublisherOptions=lambda **kw: _capture(**kw),
        PublishFlowControl=lambda **kw: _capture(**kw),
        LimitExceededBehavior=SimpleNamespace(BLOCK="BLOCK"),
    )

    google = _types.ModuleType("google")
    cloud = _types.ModuleType("google.cloud")
    cloud.pubsub_v1 = pubsub_v1
    google.cloud = cloud
    auth = _types.ModuleType("google.auth")
    credentials = _types.ModuleType("google.auth.credentials")
    credentials.AnonymousCredentials = _FakeAnonymousCredentials
    auth.credentials = credentials
    google.auth = auth

    for name, mod in (
        ("google", google),
        ("google.cloud", cloud),
        ("google.cloud.pubsub_v1", pubsub_v1),
        ("google.auth", auth),
        ("google.auth.credentials", credentials),
    ):
        monkeypatch.setitem(sys.modules, name, mod)
    return service


@pytest.fixture()
def real_client(fake_gcp):
    from spark_sql_pubsub_connector_spark.sources.broker import RealBrokerClient

    c = RealBrokerClient("proj")
    c.create_topic("t")
    c.create_subscription("s", "t", ack_deadline_s=60)
    return c


def _msgs(n):
    return [
        PubsubMessage(
            data=f"Test Message: {i}".encode(),
            attributes={"key": f"value: {i}"},
        )
        for i in range(n)
    ]


# ---------------------------------------------------------------------------
# the FileBroker matrix, through the real-client adapter
# ---------------------------------------------------------------------------


def test_admin_builds_full_resource_paths(real_client, fake_gcp):
    assert "projects/proj/topics/t" in fake_gcp.topics
    sub = fake_gcp.subs["projects/proj/subscriptions/s"]
    assert sub["topic"] == "projects/proj/topics/t"
    assert sub["deadline"] == 60


def test_publish_assigns_monotonic_ids(real_client):
    ids = real_client.publish("t", _msgs(3))
    assert ids == ["0", "1", "2"]


def test_pull_leases_and_ack_removes(real_client):
    real_client.publish("t", _msgs(2))
    got = real_client.pull("s", 10)
    assert [r.message.message_id for r in got] == ["0", "1"]
    assert got[0].message.data == b"Test Message: 0"
    assert got[0].message.attributes == {"key": "value: 0"}
    # µs conversion from publish_time.seconds/.nanos
    assert got[0].message.publish_ts_us == 1_700_000_000_000_000 + 123
    # leased: a second pull sees nothing until ack or nack
    assert real_client.pull("s", 10) == []
    assert real_client.acknowledge("s", [r.ack_id for r in got]) == 2
    assert real_client.pull("s", 10) == []


def test_pull_raw_matches_filebroker_record_shape(real_client):
    real_client.publish("t", _msgs(1))
    (ack_id, rec), = real_client.pull_raw("s", 10)
    assert ack_id == "ack-0"
    assert set(rec) == {
        "message_id",
        "ordering_key",
        "data_b64",
        "attributes",
        "publish_ts_us",
        "region",
    }
    assert base64.b64decode(rec["data_b64"]) == b"Test Message: 0"
    assert rec["region"] == "global"


def test_nack_via_modify_ack_deadline_redelivers(real_client):
    real_client.publish("t", _msgs(1))
    got = real_client.pull("s", 10)
    real_client.modify_ack_deadline("s", [got[0].ack_id], 0)
    again = real_client.pull("s", 10)
    assert [r.message.message_id for r in again] == ["0"]


def test_acknowledge_chunks_to_the_request_limit(real_client, fake_gcp):
    """The service takes at most 1,500 ack ids per request
    (PubsubMicroBatchStream.scala:97); callers pass any number."""
    real_client.publish("t", _msgs(3200))
    got = real_client.pull("s", 5000)
    assert real_client.acknowledge("s", [r.ack_id for r in got]) == 3200
    assert fake_gcp.ack_request_sizes == [1500, 1500, 200]
    sub = fake_gcp.subs["projects/proj/subscriptions/s"]
    assert len(sub["acked"]) == 3200 and not sub["leased"]


def test_empty_ack_and_modack_are_noops(real_client, fake_gcp):
    n_calls = len(fake_gcp.subscriber_clients)
    assert real_client.acknowledge("s", []) == 0
    real_client.modify_ack_deadline("s", [], 30)
    assert len(fake_gcp.subscriber_clients) == n_calls


def test_publisher_cache_and_reference_constants(real_client, fake_gcp):
    real_client.publish("t", _msgs(2))
    real_client.publish("t", _msgs(1))  # cached: same (endpoint, ordering)
    assert len(fake_gcp.publisher_clients) == 1  # create_topic used it too
    pub = fake_gcp.publisher_clients[0]
    # reference constants (CachedPublishers.scala:19-35)
    assert pub.batch_settings.max_messages == 20
    assert pub.batch_settings.max_latency == 0.010
    fc = pub.publisher_options.flow_control
    assert fc.message_limit == 1_000
    assert fc.byte_limit == 20 * 1024 * 1024
    assert fc.limit_exceeded_behavior == "BLOCK"
    assert pub.publisher_options.enable_message_ordering is False


def test_ordering_key_selects_ordering_publisher(real_client, fake_gcp):
    real_client.publish(
        "t", [PubsubMessage(data=b"x", attributes={}, ordering_key="k1")]
    )
    assert len(fake_gcp.publisher_clients) == 2
    assert fake_gcp.publisher_clients[-1].publisher_options.enable_message_ordering


def test_subscriber_cached_per_region_endpoint(real_client, fake_gcp):
    real_client.publish("t", _msgs(1))
    real_client.pull("s", 1)
    n = len(fake_gcp.subscriber_clients)
    # region-pinned pull -> NEW client against the regional endpoint
    real_client.pull("s", 1, region="us-east1")
    assert len(fake_gcp.subscriber_clients) == n + 1
    ep = fake_gcp.subscriber_clients[-1].kwargs["client_options"]["api_endpoint"]
    assert ep == "us-east1-pubsub.googleapis.com:443"
    # and it is cached on repeat
    real_client.pull("s", 1, region="us-east1")
    assert len(fake_gcp.subscriber_clients) == n + 1


def test_localhost_endpoint_uses_anonymous_credentials(fake_gcp):
    from spark_sql_pubsub_connector_spark.sources.broker import RealBrokerClient

    c = RealBrokerClient("proj", endpoint="Localhost:8085")
    c.create_topic("t")
    pub = fake_gcp.publisher_clients[0]
    assert pub.kwargs["client_options"]["api_endpoint"] == "localhost:8085"
    assert isinstance(pub.kwargs["credentials"], _FakeAnonymousCredentials)


def test_commit_staged_publishes_staged_lines(real_client, fake_gcp, tmp_path):
    staged = tmp_path / "chunk-0.jsonl"
    staged.write_text(
        '{"data_b64": "YQ==", "attributes": {"k": "v"}, "ordering_key": ""}\n'
        '{"data_b64": "Yg==", "attributes": {}, "ordering_key": ""}\n'
        "\n"
    )
    assert real_client.commit_staged("t", [str(staged)]) == 2
    log = fake_gcp.topics["projects/proj/topics/t"]
    assert [m.data for m in log] == [b"a", b"b"]
    assert log[0].attributes == {"k": "v"}


def test_backlog_by_region_reads_monitoring_metric(real_client, monkeypatch):
    """backlog()/backlog_by_region() poll the Cloud Monitoring
    num_unacked_messages_by_region time series
    (PubsubSubscriptionMonitor.scala:155-210); fake the metric client
    and check the per-region reduction."""
    series = [
        SimpleNamespace(
            metric=SimpleNamespace(labels={"region": r}),
            points=[SimpleNamespace(value=SimpleNamespace(int64_value=v))],
        )
        for r, v in (("us-east1", 7), ("europe-west1", 5))
    ]
    captured = {}

    class _FakeMetricClient:
        def list_time_series(self, request):
            captured.update(request)
            return series

    monitoring_v3 = _types.ModuleType("google.cloud.monitoring_v3")
    monitoring_v3.MetricServiceClient = _FakeMetricClient
    monitoring_v3.ListTimeSeriesRequest = SimpleNamespace(
        TimeSeriesView=SimpleNamespace(FULL="FULL")
    )
    sys.modules["google.cloud"].monitoring_v3 = monitoring_v3
    monkeypatch.setitem(sys.modules, "google.cloud.monitoring_v3", monitoring_v3)

    assert real_client.backlog_by_region("s") == {"us-east1": 7, "europe-west1": 5}
    assert real_client.backlog("s") == 12
    assert 'subscription_id="s"' in captured["filter"]
    assert "num_unacked_messages_by_region" in captured["filter"]
