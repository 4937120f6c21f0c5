"""Option models + validation for the pubsub source/sink, and the
partition arithmetic the source plans with.

Mirrors the reference's option surface and eager validation
(package.scala:8-38 keys/defaults, :49-80 case classes, :138-171
validators), raising ``ValueError`` from the DataSource constructor
like the reference's ``IllegalArgumentException`` from
``validateAndInit*`` (S18). Each option is declared once, as a field
of its dataclass: name, type, default and comment; the declared key
sets derive from the fields. An undeclared key is rejected, naming the
closest declared one: ignored, a misspelt key would leave its option at
the default. The planning thresholds and the per-batch partition cap
are constants, as in the reference (S6/S13).
"""

from __future__ import annotations

import difflib
import math
from dataclasses import MISSING, dataclass, field, fields

# backlog messages per dynamic partition (PubsubSubscriptionMonitor.scala:33-35)
BACKLOG_PER_PARTITION = 10_000
# partitions one batch plans at most (PubsubSubscriptionMonitor.scala:26-31)
MAX_PARTITIONS = 256
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


@dataclass(frozen=True)
class PubsubReadOptions:
    """package.scala:49-57 equivalent."""

    project_id: str
    subscription: str
    # fake-broker root (stands in for endPoint; a real-client endpoint
    # would come from region_endpoint() above)
    broker_dir: str
    num_partitions: int = 4  # package.scala:36
    max_messages_per_partition: int = 1000  # package.scala:33
    dynamic_partitioning: bool = False
    # Stable consumer identity: a restarted query passing the same
    # stream_id (e.g. its checkpoint path) re-claims the subscription
    # immediately instead of waiting out the registry's crash TTL.
    stream_id: str | None = None
    # Replica replay-cache roots (comma-separated absolute paths), one
    # per copy beyond the primary under broker_dir; empty keeps one
    # copy. Each root stands for an independent failure domain (a second
    # disk or mount, a DFS path): the analog of MEMORY_AND_DISK_SER_2's
    # distinct-executor placement (PubsubPartitionReader.scala:57).
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
    # Topic-log retention, the file-broker analog of real Pub/Sub's
    # topic message_retention_duration (likewise a topic-level admin
    # property). Applied at commit: None retains everything; a positive
    # byte threshold unlinks the segments every subscription has acked
    # whenever the live segments outgrow it (FileBroker.compact_topic).
    log_retention_bytes: int | None = None
    # The query's checkpointLocation verbatim, under the key Spark
    # forwards it as (lower-cased like every key), kept apart from
    # sink_id: the batch fence is also scoped to the checkpoint
    # *instance* (the query id Spark mints into <checkpoint>/metadata),
    # so a wiped-and-recreated checkpoint, whose batch ids restart at 0,
    # is never swallowed by a stale fence of the same sink_id (see
    # datasource._checkpoint_instance_id).
    checkpoint_location: str | None = field(
        default=None, metadata={"key": "checkpointlocation"}
    )

    @property
    def topic_path(self) -> str:
        return f"projects/{self.project_id}/topics/{self.topic}"


def _key(f) -> str:
    """The option key of a dataclass field: its name, unless it says
    otherwise."""
    return f.metadata.get("key", f.name)


READ_OPTIONS = frozenset(_key(f) for f in fields(PubsubReadOptions))
WRITE_OPTIONS = frozenset(_key(f) for f in fields(PubsubWriteOptions))


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


def _pos_int(options: dict, key: str) -> int:
    raw = options[key]
    try:
        v = int(raw)
    except (TypeError, ValueError):
        raise ValueError(f"Option '{key}' must be an integer, got {raw!r}") from None
    if v < 1:
        raise ValueError(f"Option '{key}' must be >= 1, got {v}")
    return v


def _bool(options: dict, key: str) -> bool:
    raw = options[key]
    v = str(raw).strip().lower()
    if v in ("true", "1", "yes"):
        return True
    if v in ("false", "0", "no"):
        return False
    raise ValueError(f"Option '{key}' must be a boolean, got {raw!r}")


def _replica_dirs(options: dict, key: str) -> tuple:
    """Parse + validate the replica roots: at most ``MAX_REPLICA_DIRS``
    absolute, distinct paths, so the option cannot map two copies onto
    one failure domain."""
    dirs = tuple(p.strip() for p in str(options[key] or "").split(",") if p.strip())
    if len(dirs) > MAX_REPLICA_DIRS:
        raise ValueError(
            f"Option '{key}' lists {len(dirs)} paths; at most {MAX_REPLICA_DIRS}"
        )
    for p in dirs:
        if not p.startswith("/"):
            raise ValueError(f"Option '{key}' paths must be absolute, got {p!r}")
    if len(set(dirs)) != len(dirs):
        raise ValueError(f"Option '{key}' paths must be distinct")
    return dirs


# A field's parser, by its annotation. An optional field set to "" is
# unset; a required one raises.
_PARSERS = {
    "str": _require,
    "int": _pos_int,
    "bool": _bool,
    "str | None": lambda o, k: str(o[k]) if o[k] != "" else None,
    "int | None": lambda o, k: _pos_int(o, k) if o[k] != "" else None,
    "tuple": _replica_dirs,
}


def _parse(cls, options: dict, declared: frozenset) -> dict:
    """The fields of ``cls`` parsed, in field order, from the keys a
    caller set; a required field must be set, and the field defaults
    apply to the rest."""
    options = _declared(options, declared)
    return {
        f.name: _PARSERS[f.type](options, _key(f))
        for f in fields(cls)
        if f.default is MISSING or options.get(_key(f)) is not None
    }


def validate_read_options(options: dict) -> PubsubReadOptions:
    """validateAndInitReadOptions (package.scala:138-155)."""
    return PubsubReadOptions(**_parse(PubsubReadOptions, options, READ_OPTIONS))


def _resolve_sink_id(values: dict) -> str | None:
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
    if values.get("sink_id") is not None:
        return values["sink_id"]
    ck = values.get("checkpoint_location")
    return None if ck is None else "ck:" + ck


def validate_write_options(options: dict) -> PubsubWriteOptions:
    """validateAndInitWriteOption (package.scala:164-171)."""
    values = _parse(PubsubWriteOptions, options, WRITE_OPTIONS)
    values["sink_id"] = _resolve_sink_id(values)
    return PubsubWriteOptions(**values)


def calculate_partitions(backlog: int) -> int:
    """clamp(ceil(backlog / BACKLOG_PER_PARTITION), 1, MAX_PARTITIONS)
    (PubsubSubscriptionMonitor.scala:136-141)."""
    return max(1, min(MAX_PARTITIONS, math.ceil(backlog / BACKLOG_PER_PARTITION)))


def region_split(backlog_by_region: dict[str, int]) -> list[tuple[str, int, int]]:
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
    floor = calculate_partitions(total) // len(backlog_by_region)
    return [
        (region, max(floor, calculate_partitions(b)), b)
        for region, b in sorted(backlog_by_region.items())
    ]
