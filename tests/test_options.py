"""Option validation unit tests — mirrors the reference's
PubsubOptionsTest.scala:8-113 case for case (FIXTURES.md A.2)."""

from __future__ import annotations

import pytest

from spark_sql_pubsub_connector_spark.sources.options import (
    calculate_partitions,
    region_split,
    validate_read_options,
    validate_write_options,
)

BASE_READ = {"project_id": "p", "subscription": "s", "broker_dir": "/tmp/b"}
BASE_WRITE = {"project_id": "p", "topic": "t", "broker_dir": "/tmp/b"}


def test_missing_project_id_throws():
    with pytest.raises(ValueError, match="project_id"):
        validate_read_options({"subscription": "s", "broker_dir": "/tmp/b"})


def test_missing_subscription_throws():
    with pytest.raises(ValueError, match="subscription"):
        validate_read_options({"project_id": "p", "broker_dir": "/tmp/b"})


def test_missing_topic_throws():
    with pytest.raises(ValueError, match="topic"):
        validate_write_options({"project_id": "p", "broker_dir": "/tmp/b"})


def test_read_defaults():
    o = validate_read_options(BASE_READ)
    assert o.num_partitions == 4  # package.scala:36
    assert o.max_messages_per_partition == 1000  # package.scala:33
    assert o.dynamic_partitioning is False
    assert o.subscription_path == "projects/p/subscriptions/s"


def test_read_full_parse():
    o = validate_read_options(
        {
            **BASE_READ,
            "num_partitions": "8",
            "max_messages_per_partition": "250",
            "dynamic_partitioning": "true",
        }
    )
    assert (o.num_partitions, o.max_messages_per_partition) == (8, 250)
    assert o.dynamic_partitioning is True


@pytest.mark.parametrize("key", ["num_partitions", "max_messages_per_partition"])
@pytest.mark.parametrize("bad", ["0", "-1", "abc"])
def test_read_range_violations_throw(key, bad):
    with pytest.raises(ValueError, match=key):
        validate_read_options({**BASE_READ, key: bad})


@pytest.mark.parametrize(
    "key,bad",
    [
        ("dynamic_partitioning", "ture"),
        ("dynamic_partitioning", ""),
        ("num_partitions", ""),
    ],
)
def test_read_malformed_values_name_the_option(key, bad):
    with pytest.raises(ValueError, match=key):
        validate_read_options({**BASE_READ, key: bad})


@pytest.mark.parametrize(
    "raw,want",
    [("false", False), ("No", False), ("0", False), ("TRUE", True), ("yes", True), ("1", True)],
)
def test_read_bool_spellings(raw, want):
    o = validate_read_options({**BASE_READ, "dynamic_partitioning": raw})
    assert o.dynamic_partitioning is want


def test_write_parse_and_ordering_key():
    o = validate_write_options({**BASE_WRITE, "ordering_key": "my_key"})
    assert o.ordering_key == "my_key"
    assert o.topic_path == "projects/p/topics/t"
    assert validate_write_options(BASE_WRITE).ordering_key is None


# -- partition arithmetic (PubsubSubscriptionMonitor.scala:136-141) --------


def test_calculate_partitions_clamps():
    assert calculate_partitions(0) == 1
    assert calculate_partitions(1) == 1
    assert calculate_partitions(10_000) == 1
    assert calculate_partitions(10_001) == 2
    assert calculate_partitions(10_000_000) == 256  # ceiling
    assert calculate_partitions(25_000) == 3  # 10,000 per partition


def test_plan_partitioning_uniform():
    backlog = {"us-east1": 30_000, "eu-west1": 25_000}
    assert region_split(backlog) == []  # no region dominates (max 55%)
    assert calculate_partitions(sum(backlog.values())) == 6


def test_plan_partitioning_region_split():
    # one region holds >70% of backlog → per-region planning
    # (package.scala:116-129)
    backlog = {"us-east1": 80_000, "eu-west1": 10_000}
    regions = {r: n for r, n, _ in region_split(backlog)}
    assert regions["us-east1"] == 8
    # minor region still gets >= total//n_regions partitions
    total = calculate_partitions(sum(backlog.values()))
    assert regions["eu-west1"] >= total // 2


def test_region_split_threshold_is_strictly_above_70_percent():
    """A region holding exactly 70% of the backlog does not split the
    plan; one holding 71% does (package.scala:118)."""
    assert region_split({"a": 7, "b": 3}) == []
    assert region_split({"a": 71, "b": 29}) == [("a", 1, 71), ("b", 1, 29)]
    assert region_split({"a": 100}) == []  # one region: nothing to split


def test_batches_to_drain_formula(tmp_path):
    """S5: each latestOffset advances the offset by
    ceil(backlog / capacity) units, capacity = partitions × max messages
    (PubsubSubscriptionMonitor.scala:96-113 semantics), capped at
    MAX_PARTITIONS // partitions units (256 // 4 = 64)."""
    from spark_sql_pubsub_connector_spark.sources.broker import (
        FileBroker,
        PubsubMessage,
    )
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    b = FileBroker(str(tmp_path / "broker"))
    b.create_topic("t")
    b.create_subscription("s", "t")
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": str(tmp_path / "broker"),
            "num_partitions": "4",
            "max_messages_per_partition": "10",
        }
    )

    def msgs(n):
        return [PubsubMessage(data=b"x", publish_ts_us=1) for _ in range(n)]

    try:
        assert reader.initialOffset() == {"batch_id": 0}
        assert reader.latestOffset() == {"batch_id": 0}  # empty backlog
        b.publish("t", msgs(95))
        assert reader.latestOffset() == {"batch_id": 3}  # ceil(95/40)
        b.publish("t", msgs(2_905))  # ceil(3000/40) = 75 units > 256 // 4
        assert reader.latestOffset() == {"batch_id": 3 + 64}
    finally:
        reader.stop()


@pytest.mark.parametrize(
    "validate,base,key,closest",
    [
        (validate_write_options, BASE_WRITE, "ordering_kye", "ordering_key"),
        (
            validate_read_options,
            BASE_READ,
            "max_mesages_per_partition",
            "max_messages_per_partition",
        ),
        # removed options: the sink stages one segment per task, and the
        # planner's two thresholds and its partition cap are the
        # reference's constants
        (validate_write_options, BASE_WRITE, "publish_batch_size", None),
        (validate_read_options, BASE_READ, "backlog_threshold", None),
        (validate_read_options, BASE_READ, "region_split_threshold", None),
        (
            validate_read_options,
            BASE_READ,
            "max_dynamic_partitions",
            "dynamic_partitioning",
        ),
    ],
)
def test_unknown_option_keys_are_rejected(validate, base, key, closest):
    """An undeclared key raises, naming it and the closest declared key,
    instead of leaving its option silently at the default."""
    with pytest.raises(ValueError, match=f"Unknown option '{key}'") as ei:
        validate({**base, key: "abc"})
    if closest is not None:
        assert f"did you mean '{closest}'" in str(ei.value)


def test_option_keys_match_case_insensitively():
    """Spark lower-cases option keys before the source sees them; a
    direct caller may spell them in any case, checkpointLocation
    included."""
    r = validate_read_options({**BASE_READ, "Num_Partitions": "7"})
    assert r.num_partitions == 7
    for ck in ("checkpointLocation", "checkpointlocation"):
        w = validate_write_options({**BASE_WRITE, ck: "/ck/q"})
        assert (w.checkpoint_location, w.sink_id) == ("/ck/q", "ck:/ck/q")


def test_region_endpoint_mapping():
    """Region → endpoint derivation (package.scala:87-97): a region pins
    the pull to its regional endpoint; none/global uses the default."""
    from spark_sql_pubsub_connector_spark.sources.options import (
        DEFAULT_ENDPOINT,
        region_endpoint,
    )

    assert region_endpoint() == DEFAULT_ENDPOINT
    assert region_endpoint(None) == DEFAULT_ENDPOINT
    assert region_endpoint("") == DEFAULT_ENDPOINT
    assert region_endpoint("global") == DEFAULT_ENDPOINT
    assert region_endpoint("us-east1") == "us-east1-pubsub.googleapis.com:443"
    assert region_endpoint("europe-west4") == (
        "europe-west4-pubsub.googleapis.com:443"
    )


def test_stream_and_sink_identity_options():
    from spark_sql_pubsub_connector_spark.sources.options import (
        validate_write_options,
    )

    r = validate_read_options(
        {"project_id": "p", "subscription": "s", "broker_dir": "/b"}
    )
    assert r.stream_id is None
    r2 = validate_read_options(
        {"project_id": "p", "subscription": "s", "broker_dir": "/b", "stream_id": "ck"}
    )
    assert r2.stream_id == "ck"
    w = validate_write_options({"project_id": "p", "topic": "t", "broker_dir": "/b"})
    assert w.sink_id is None
    w2 = validate_write_options(
        {"project_id": "p", "topic": "t", "broker_dir": "/b", "sink_id": "/ck/x"}
    )
    assert w2.sink_id == "/ck/x"


def test_log_retention_bytes_option():
    from spark_sql_pubsub_connector_spark.sources.options import (
        validate_write_options,
    )

    base = {"project_id": "p", "topic": "t", "broker_dir": "/b"}
    assert validate_write_options(dict(base)).log_retention_bytes is None
    assert (
        validate_write_options(
            dict(base, log_retention_bytes="65536")
        ).log_retention_bytes
        == 65536
    )
    with pytest.raises(ValueError, match="log_retention_bytes"):
        validate_write_options(dict(base, log_retention_bytes="0"))
    with pytest.raises(ValueError, match="log_retention_bytes"):
        validate_write_options(dict(base, log_retention_bytes="nope"))


def test_reader_reads_only_declared_options(tmp_path):
    """Every key the stream reader reads from its options map is one
    declared in options.py, so the option surface is stated in one
    place and validated there."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )
    from spark_sql_pubsub_connector_spark.sources.options import READ_OPTIONS

    class Recording(dict):
        def __init__(self, *args):
            super().__init__(*args)
            self.read: set[str] = set()

        def get(self, key, default=None):
            self.read.add(key)
            return super().get(key, default)

        def __getitem__(self, key):
            self.read.add(key)
            return super().__getitem__(key)

        def __contains__(self, key):
            self.read.add(key)
            return super().__contains__(key)

    opts = Recording(
        {**BASE_READ, "broker_dir": str(tmp_path), "dynamic_partitioning": "true"}
    )
    PubsubStreamReader(opts).stop()
    assert "dynamic_partitioning" in opts.read
    assert opts.read <= READ_OPTIONS, sorted(opts.read - READ_OPTIONS)


def test_declared_keys_are_the_dataclass_fields():
    """Each option is declared once, as its dataclass field; the key
    sets derive from the fields, Spark's lower-cased checkpointLocation
    being the one key spelled apart from its field's name."""
    from dataclasses import fields

    from spark_sql_pubsub_connector_spark.sources.options import (
        READ_OPTIONS,
        WRITE_OPTIONS,
        PubsubReadOptions,
        PubsubWriteOptions,
    )

    assert READ_OPTIONS == {f.name for f in fields(PubsubReadOptions)}
    assert len(READ_OPTIONS) == 8
    assert WRITE_OPTIONS == (
        {f.name for f in fields(PubsubWriteOptions)} - {"checkpoint_location"}
    ) | {"checkpointlocation"}
    assert len(WRITE_OPTIONS) == 7
    # unset keys take the field defaults
    assert validate_read_options(BASE_READ) == PubsubReadOptions("p", "s", "/tmp/b")
    assert validate_write_options(BASE_WRITE) == PubsubWriteOptions("p", "t", "/tmp/b")
