"""Option models + validation for the pubsub source/sink, and the
partition arithmetic the source plans with.

Mirrors the reference's option surface and eager validation
(package.scala:8-38 keys/defaults, :49-80 case classes, :138-171
validators), raising ``ValueError`` from the DataSource constructor
like the reference's ``IllegalArgumentException`` from
``validateAndInit*`` (S18). An undeclared key is rejected, naming the
closest declared one: ignored, a misspelt key would leave its option at
the default. The planning thresholds are constants, as in the reference
(S6/S13).
"""

from __future__ import annotations

import difflib
import math
from dataclasses import dataclass

# option keys (reference package.scala:8-38)
PROJECT_ID = "project_id"
SUBSCRIPTION = "subscription"
TOPIC = "topic"
NUM_PARTITIONS = "num_partitions"
MAX_MESSAGES_PER_PARTITION = "max_messages_per_partition"
DYNAMIC_PARTITIONING = "dynamic_partitioning"
ORDERING_KEY = "ordering_key"
BROKER_DIR = "broker_dir"  # fake-broker root (stands in for endPoint;
# a real-client endpoint would come from region_endpoint() below)
MAX_DYNAMIC_PARTITIONS = "max_dynamic_partitions"
STREAM_ID = "stream_id"  # stable consumer identity (crash recovery)
SINK_ID = "sink_id"  # stable writer identity (cross-restart idempotence)
# Topic-log retention trigger (the file-broker analog of real Pub/Sub's
# topic message_retention_duration, which is likewise a topic-level
# admin property): when the topic's live segments exceed this many
# bytes at a sink commit, the broker unlinks the segments every
# subscription has acked.
# Unset = grow-forever (historical behavior).
LOG_RETENTION_BYTES = "log_retention_bytes"
# Replica replay-cache roots (comma-separated absolute paths), one per
# copy beyond the primary under broker_dir; unset keeps one copy. Each
# root stands for an independent failure domain (a second disk or mount,
# a DFS path): the analog of MEMORY_AND_DISK_SER_2's distinct-executor
# placement (PubsubPartitionReader.scala:57).
REPLAY_CACHE_REPLICA_DIRS = "replay_cache_replica_dirs"
# Spark forwards the sink query's checkpointLocation in its options,
# lower-cased like every key.
CHECKPOINT_LOCATION = "checkpointlocation"

READ_OPTIONS = frozenset({
    PROJECT_ID, SUBSCRIPTION, BROKER_DIR, NUM_PARTITIONS,
    MAX_MESSAGES_PER_PARTITION, DYNAMIC_PARTITIONING, MAX_DYNAMIC_PARTITIONS,
    STREAM_ID, REPLAY_CACHE_REPLICA_DIRS,
})
WRITE_OPTIONS = frozenset({
    PROJECT_ID, TOPIC, BROKER_DIR, ORDERING_KEY, SINK_ID, LOG_RETENTION_BYTES,
    CHECKPOINT_LOCATION,
})

DEFAULT_NUM_PARTITIONS = 4  # package.scala:36
DEFAULT_MAX_MESSAGES_PER_PARTITION = 1000  # package.scala:33
DEFAULT_MAX_DYNAMIC_PARTITIONS = 256  # PubsubSubscriptionMonitor.scala:26-31
# backlog messages per dynamic partition (PubsubSubscriptionMonitor.scala:33-35)
BACKLOG_PER_PARTITION = 10_000
# a region holding more than this share of the backlog splits the plan
# by region (package.scala:118)
REGION_SPLIT_SHARE = 0.7
# The reference persists each pulled batch at MEMORY_AND_DISK_SER_2 —
# two copies on distinct executors (PubsubPartitionReader.scala:57) —
# so an executor loss between pull and commit replays from the replica
# instead of re-pulling. The file-cache analog keeps one copy unless
# replay_cache_replica_dirs names more roots; one root mirrors the
# reference.
MAX_REPLICA_DIRS = 3

DEFAULT_ENDPOINT = "pubsub.googleapis.com:443"


def region_endpoint(region: str | None = None) -> str:
    """Region → service endpoint mapping (package.scala:87-97): a
    region-pinned pull targets ``$region-pubsub.googleapis.com:443``;
    no region means the global endpoint. Pure function — consumed by
    ``RealBrokerClient`` when a real client library is present; the
    FileBroker models the same routing as a pull-side region filter."""
    if region is None or str(region).strip() == "" or region == "global":
        return DEFAULT_ENDPOINT
    return f"{region}-pubsub.googleapis.com:443"


def _declared(options: dict, declared: frozenset) -> dict:
    """``options`` keyed in lower case, once every key is found declared.
    Spark lower-cases option keys; a direct caller may use any case."""
    for key in options:
        if key.lower() not in declared:
            close = difflib.get_close_matches(key.lower(), sorted(declared), n=1)
            hint = f"; did you mean '{close[0]}'?" if close else ""
            raise ValueError(f"Unknown option '{key}'{hint}")
    if all(key == key.lower() for key in options):
        return options
    return {key.lower(): value for key, value in options.items()}


def _require(options: dict, key: str) -> str:
    v = options.get(key)
    if v is None or str(v).strip() == "":
        raise ValueError(f"Missing required option: '{key}'")
    return str(v)


def _pos_int(options: dict, key: str, default: int, minimum: int = 1) -> int:
    raw = options.get(key)
    if raw is None:
        return default
    try:
        v = int(raw)
    except (TypeError, ValueError):
        raise ValueError(f"Option '{key}' must be an integer, got {raw!r}") from None
    if v < minimum:
        raise ValueError(f"Option '{key}' must be >= {minimum}, got {v}")
    return v


def _bool(options: dict, key: str, default: bool = False) -> bool:
    raw = options.get(key)
    if raw is None:
        return default
    v = str(raw).strip().lower()
    if v in ("true", "1", "yes"):
        return True
    if v in ("false", "0", "no"):
        return False
    raise ValueError(f"Option '{key}' must be a boolean, got {raw!r}")


@dataclass(frozen=True)
class PubsubReadOptions:
    """package.scala:49-57 equivalent."""

    project_id: str
    subscription: str
    broker_dir: str
    num_partitions: int = DEFAULT_NUM_PARTITIONS
    max_messages_per_partition: int = DEFAULT_MAX_MESSAGES_PER_PARTITION
    dynamic_partitioning: bool = False
    max_dynamic_partitions: int = DEFAULT_MAX_DYNAMIC_PARTITIONS
    # Stable consumer identity: a restarted query passing the same
    # stream_id (e.g. its checkpoint path) re-claims the subscription
    # immediately instead of waiting out the registry's crash TTL.
    stream_id: str | None = None
    # Replica replay-cache roots, one per copy beyond the primary;
    # empty keeps one copy.
    replay_cache_replica_dirs: tuple = ()

    @property
    def subscription_path(self) -> str:
        # fully-qualified path, as surfaced in the `subscription` column
        # (PubsubPartitionReader.scala:87)
        return f"projects/{self.project_id}/subscriptions/{self.subscription}"


@dataclass(frozen=True)
class PubsubWriteOptions:
    """package.scala:67-80 equivalent."""

    project_id: str
    topic: str
    broker_dir: str
    ordering_key: str | None = None
    # Stable writer identity: explicit sink_id, else derived from the
    # query's checkpointLocation (see _resolve_sink_id). When set, the
    # sink's last committed batch id is recorded in the topic's head by
    # the same write that publishes the batch, so a redelivered batch
    # is dropped even after a crash mid-commit (exactly-once on
    # FileBroker; RealBrokerClient stays at-least-once), and the
    # orphan sweep can claim this query's staged files. Without one, a
    # redelivered batch republishes: the reference's at-least-once
    # (PubsubSink.scala:17-18 keeps latestBatchId per JVM instance).
    sink_id: str | None = None
    # Ack-based topic-log retention, applied at commit: None retains
    # everything; a positive byte threshold unlinks the fully-acked
    # segments whenever the live segments outgrow it
    # (FileBroker.compact_topic).
    log_retention_bytes: int | None = None
    # The query's checkpointLocation verbatim (when Spark forwarded it
    # or the caller passed it), kept apart from sink_id: the batch
    # fence is also scoped to the checkpoint *instance* (the query id
    # Spark mints into <checkpoint>/metadata), so a wiped-and-recreated
    # checkpoint, whose batch ids restart at 0, is never swallowed by a
    # stale fence of the same sink_id (see
    # datasource._checkpoint_instance_id).
    checkpoint_location: str | None = None

    @property
    def topic_path(self) -> str:
        return f"projects/{self.project_id}/topics/{self.topic}"


def _replica_dirs(options: dict) -> tuple:
    """Parse + validate the replica roots: at most ``MAX_REPLICA_DIRS``
    absolute, distinct paths, so the option cannot map two copies onto
    one failure domain."""
    raw = options.get(REPLAY_CACHE_REPLICA_DIRS)
    dirs = tuple(p.strip() for p in str(raw or "").split(",") if p.strip())
    if len(dirs) > MAX_REPLICA_DIRS:
        raise ValueError(
            f"Option '{REPLAY_CACHE_REPLICA_DIRS}' lists {len(dirs)} paths; "
            f"at most {MAX_REPLICA_DIRS}"
        )
    for p in dirs:
        if not p.startswith("/"):
            raise ValueError(
                f"Option '{REPLAY_CACHE_REPLICA_DIRS}' paths must be "
                f"absolute, got {p!r}"
            )
    if len(set(dirs)) != len(dirs):
        raise ValueError(
            f"Option '{REPLAY_CACHE_REPLICA_DIRS}' paths must be distinct"
        )
    return dirs


def validate_read_options(options: dict) -> PubsubReadOptions:
    """validateAndInitReadOptions (package.scala:138-155)."""
    options = _declared(options, READ_OPTIONS)
    return PubsubReadOptions(
        project_id=_require(options, PROJECT_ID),
        subscription=_require(options, SUBSCRIPTION),
        broker_dir=_require(options, BROKER_DIR),
        num_partitions=_pos_int(options, NUM_PARTITIONS, DEFAULT_NUM_PARTITIONS),
        max_messages_per_partition=_pos_int(
            options, MAX_MESSAGES_PER_PARTITION, DEFAULT_MAX_MESSAGES_PER_PARTITION
        ),
        dynamic_partitioning=_bool(options, DYNAMIC_PARTITIONING, False),
        max_dynamic_partitions=_pos_int(
            options, MAX_DYNAMIC_PARTITIONS, DEFAULT_MAX_DYNAMIC_PARTITIONS, minimum=32
        ),
        stream_id=(
            str(options[STREAM_ID])
            if options.get(STREAM_ID) not in (None, "")
            else None
        ),
        replay_cache_replica_dirs=_replica_dirs(options),
    )


def _resolve_sink_id(options: dict) -> str | None:
    """Stable writer identity. Explicit ``sink_id`` wins; otherwise the
    query's checkpoint location stands in (r15 review: pyspark 4.1.2
    constructs a SEPARATE writer instance per worker process — one for
    executor write(), a fresh one for every driver commit() — so a
    per-instance token cannot link the two; the options dict is the
    one thing every construction sees identically, and Spark forwards
    ``checkpointLocation`` in it, lower-cased). The checkpoint IS the
    query identity Spark itself scopes batch ids to, so deriving both
    the stage-file owner token and batch idempotence from it is sound:
    concurrent queries cannot share a checkpoint, and a restart
    continues its numbering. None only when the query has neither —
    e.g. a session-default checkpoint dir, which Spark resolves
    without putting it in the options."""
    raw = options.get(SINK_ID)
    if raw not in (None, ""):
        return str(raw)
    ck = _checkpoint_of(options)
    if ck is not None:
        return "ck:" + ck
    return None


def _checkpoint_of(options: dict) -> str | None:
    """The query's checkpointLocation from the (lower-cased) options."""
    ck = options.get(CHECKPOINT_LOCATION)
    return str(ck) if ck not in (None, "") else None


def validate_write_options(options: dict) -> PubsubWriteOptions:
    """validateAndInitWriteOption (package.scala:164-171)."""
    options = _declared(options, WRITE_OPTIONS)
    key = options.get(ORDERING_KEY)
    return PubsubWriteOptions(
        project_id=_require(options, PROJECT_ID),
        topic=_require(options, TOPIC),
        broker_dir=_require(options, BROKER_DIR),
        ordering_key=str(key) if key not in (None, "") else None,
        sink_id=_resolve_sink_id(options),
        log_retention_bytes=(
            _pos_int(options, LOG_RETENTION_BYTES, default=0, minimum=1)
            if options.get(LOG_RETENTION_BYTES) not in (None, "")
            else None
        ),
        checkpoint_location=_checkpoint_of(options),
    )


def calculate_partitions(
    backlog: int, max_partitions: int = DEFAULT_MAX_DYNAMIC_PARTITIONS
) -> int:
    """clamp(ceil(backlog / BACKLOG_PER_PARTITION), 1, max_partitions)
    (PubsubSubscriptionMonitor.scala:136-141)."""
    return max(1, min(max_partitions, math.ceil(backlog / BACKLOG_PER_PARTITION)))


def region_split(
    backlog_by_region: dict[str, int],
    max_partitions: int = DEFAULT_MAX_DYNAMIC_PARTITIONS,
) -> list[tuple[str, int, int]]:
    """``(region, partitions, backlog)`` per region, in region order, when
    one region holds more than ``REGION_SPLIT_SHARE`` of the backlog;
    else ``[]``, a plan over every region at once
    (PubsubSubscriptionMonitor.scala:155-210, package.scala:106-129).
    Each region gets at least ``total // n_regions`` partitions, like
    the reference."""
    total = sum(backlog_by_region.values())
    if len(backlog_by_region) < 2 or not total:
        return []
    if max(backlog_by_region.values()) / total <= REGION_SPLIT_SHARE:
        return []
    floor = calculate_partitions(total, max_partitions) // len(backlog_by_region)
    return [
        (region, max(floor, calculate_partitions(b, max_partitions)), b)
        for region, b in sorted(backlog_by_region.items())
    ]
