"""The pubsub DataSource: micro-batch stream reader + append-only
stream writer on the Python DataSource API (PySpark 4.x).

Parity map to the reference (SURVEY.md §2.1):
  S1/S2  name()="pubsub", fixed read schema, streaming-only capability
  S4     synthetic monotone batch-counter offsets ({"batch_id": n}) —
         Pub/Sub has no offsets (PubsubMicroBatchStream.scala:35-38).
         The counter survives restarts: persisted per subscription
         (.offsets/), with the plan of every batch planned but not yet
         committed, and re-synced from checkpointed offsets in
         partitions()/commit(), mirroring the reference's
         deserializeOffset + processedOffsets re-sync
         (PubsubMicroBatchStream.scala:87-89)
  S5     AvailableNow drain: latestOffset() advances by
         ceil(backlog/capacity) units per trigger, so the start-time
         snapshot covers the whole backlog
         (PubsubSubscriptionMonitor.scala:96-113 analog). The Python
         DataSource API has no SupportsTriggerAvailableNow hook
         (PythonMicroBatchStream falls back to single-batch
         execution), so one availableNow run drains
         min(backlog, 256 × max_messages) in a single bounded batch
         (options.MAX_PARTITIONS, the reference's per-batch cap); a
         backlog beyond that envelope drains across repeated runs on
         the same checkpoint (tested:
         test_available_now_batch_plans_at_most_256_partitions,
         test_available_now_bounded_drain_across_runs).
         Re-checked against pyspark 4.1.2 (rounds 4 and 5; r5 probe:
         zero availableNow mentions in pyspark.sql.datasource, no new
         DataSourceStreamReader methods): still no
         SupportsTriggerAvailableNow analog — watch item stands.
         Spark calls commit() only while it builds the next batch, so
         latestOffset() advances while a batch this reader planned with
         partitions waits for its ack, and that next batch carries it.
         Otherwise it advances only when something is deliverable:
         messages under another consumer's lease plan no batch
  S6/S13 per-batch partition planning in one path, _plan — static
         num_partitions, or backlog-driven with per-region splits
         (options.calculate_partitions / region_split; the reader scans
         the broker's per-region backlog once per planned batch where
         the reference polls Cloud Monitoring,
         PubsubSubscriptionMonitor.scala). Deliberate deviation: the
         reference plans num_partitions pulls every batch
         (PubsubMicroBatchStream.scala:58-74); here a plan holds at
         most ceil(deliverable / max_messages_per_partition) pulls,
         deliverable being the broker's unacked-and-unleased count (a
         region-split plan caps each region by its own backlog). Every
         planned partition is a Spark task with a fixed worker cost,
         and a pull past that count returns nothing. A
         batch with nothing deliverable, such as the ack-only batch
         after a drain, plans no partitions and runs no tasks
  S7/S8  per-task pull of ≤ max_messages_per_partition messages as
         one Arrow batch taken from the topic's IPC segments, given
         the 7-column read schema (PubsubPartitionReader.scala)
  S9     deterministic replay: first pull persists the partition's
         RecordBatch as an atomically-renamed Arrow IPC file; task
         retries and plan re-evaluations yield the stored batch instead
         of re-pulling (RDD-block cache analog,
         PubsubPartitionReader.scala:33-70). A copy that exists but
         does not read (zero-length, truncated, older format) fails the
         task rather than re-pulling. The batch's plan is recorded in
         the offset state before its first copy exists, and dropped
         when the batch commits: its partitions' regions and the
         replica roots (replay_cache_replica_dirs) it was planned
         under. A replan rebuilds the same partitions over the same
         copies whatever the configuration says by then, the primary
         copy lost included; a batch dir holding parts but no plan
         fails planning. A dead stream's copies are purged, unacked,
         under the primary, the configured roots and the roots its
         held plans name
  S10/S11 ack-on-commit: ack ids ride in the cache files' ack_id column
         (the accumulator analog); commit(end) acks each batch with one
         broker call, evicts its cache and drops its plan
         (PubsubMicroBatchStream.scala:93-114; the reference's
         1500-id request chunking lives in RealBrokerClient.acknowledge)
  S12    single-consumer stream registry (registry.py)
  S14-S16 append-only staged-commit sink with batch-id idempotence,
         write-schema + ordering-key validation on driver AND executor
  S18    eager option validation (options.py); an undeclared option
         key is rejected, naming the closest declared one

Scale design: pulls, decoding, and publishing all happen on executors;
the driver only plans partitions, acks, and moves staged files. State
per batch is bounded by partitions × max_messages; cache files are
evicted on commit exactly like the reference's RDD blocks.
"""

from __future__ import annotations

import contextlib
import json
import logging
import math
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceStreamArrowWriter,
    DataSource,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .broker import FileBroker, _write_atomic, segment_schema, write_segment
from .options import (
    MAX_PARTITIONS,
    PubsubReadOptions,
    PubsubWriteOptions,
    calculate_partitions,
    region_split,
    validate_read_options,
    validate_write_options,
)
from .registry import _STALE_AFTER_S, StreamRegistry

_log = logging.getLogger(__name__)

_PART_SUFFIX = ".arrow"  # replay-cache part files (Arrow IPC)
# A live reader refreshes its registry claim at most this often, well
# inside the claim's expiry.
_HEARTBEAT_EVERY_S = _STALE_AFTER_S / 10

# Read schema — 7 fixed columns (reference package.scala:174-186)
PUBSUB_READ_SCHEMA = StructType(
    [
        StructField("subscription", StringType(), False),
        StructField("ack_id", StringType(), False),
        StructField("message_id", StringType(), False),
        StructField("ordering_key", StringType(), False),
        StructField("data", BinaryType(), False),
        StructField("publish_timestamp", TimestampType(), False),
        StructField("attributes", MapType(StringType(), StringType()), True),
    ]
)

# Write schema — required subset (reference package.scala:189-196)
PUBSUB_WRITE_SCHEMA = StructType(
    [
        StructField("data", BinaryType(), False),
        StructField("attributes", MapType(StringType(), StringType()), True),
    ]
)


def _sanitize(name: str) -> str:
    return name.replace("/", "__")


def _read_cache_dir(opts: PubsubReadOptions, root: str | None = None) -> str:
    """Per-subscription replay-cache dir under ``root`` (None: the
    primary root, ``broker_dir/.read_cache``); each stream scopes its
    batch dirs one level deeper under its stream_id. Scoping by consumer
    identity keeps commit()'s ack sweep from ever acking a crashed
    predecessor's cache: those messages were skipped as still-leased by
    the new query, so acking them would drop them from every committed
    batch (at-least-once break). Stale foreign dirs are purged —
    unacked — at registration; the broker's lease expiry redelivers
    their messages.

    The other roots are ``replay_cache_replica_dirs``: the analog of
    the reference's 2× executor replication of the pulled batch
    (``MEMORY_AND_DISK_SER_2``, PubsubPartitionReader.scala:57), each
    root an independent failure domain (a second executor's local disk,
    a second mount, or a DFS path)."""
    root = root or os.path.join(opts.broker_dir, ".read_cache")
    return os.path.join(root, _sanitize(opts.subscription))


def _stream_cache_dir(
    opts: PubsubReadOptions, stream_id: str, root: str | None = None
) -> str:
    return os.path.join(_read_cache_dir(opts, root), _sanitize(stream_id))


def _offset_state_path(opts: PubsubReadOptions) -> str:
    """Persisted high-water mark of the synthetic offset counter, keyed
    by subscription (the registry guarantees one consumer per
    subscription). The reference re-syncs its counter from the
    checkpointed offsets (PubsubMicroBatchStream.scala:87-89,
    processedOffsets = end in planInputPartitions); the Python API
    builds a fresh reader on restart, so the counter must also survive
    the process — otherwise latestOffset() regresses behind the
    checkpoint and the stream stalls until it catches back up.

    ``{"planned", "committed", "stream_id", "plans"}``: ``plans`` maps
    each batch key planned but not yet committed by ``stream_id`` to
    its ``{"regions", "replica_roots"}``, the one record of where its
    copies live, so a restart under other roots finds them even with
    the primary copy lost."""
    return os.path.join(
        opts.broker_dir, ".offsets", _sanitize(opts.subscription) + ".json"
    )


@dataclass
class _PartitionPayload:
    broker_dir: str
    subscription: str
    subscription_path: str
    max_messages: int
    cache_file: str
    region: str | None
    # Copies of the partition cache file under the replica roots the
    # batch's plan names: written on pull, read as fallback when the
    # primary is lost.
    replica_files: tuple = ()


def _records_to_arrow(subscription_path: str, pulled):
    """The partition's read-schema RecordBatch from ``pull_raw``'s
    ``pull_schema()`` batch: the DataSource API accepts RecordBatches from
    read(), which skips per-row pickling through the Python/JVM
    boundary. Adds the ``subscription`` column and casts the publish
    time; every other column is passed through."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([subscription_path] * pulled.num_rows, type=pa.string()),
            pulled.column("ack_id"),
            pulled.column("message_id"),
            pulled.column("ordering_key"),
            pulled.column("data"),
            pulled.column("publish_ts_us").cast(pa.timestamp("us", tz="UTC")),
            pulled.column("attributes"),
        ],
        names=PUBSUB_READ_SCHEMA.names,
    )


def _batch_to_ipc(batch):
    """The Arrow IPC file of ``batch``: the replay-cache format. An
    empty batch is written as schema and footer only."""
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_file(sink, batch.schema) as writer:
        if batch.num_rows:
            writer.write_batch(batch)
    return sink.getvalue()


def _load_ipc(path: str):
    """``(file bytes, batches)`` of a cache copy. Raises on a lost,
    zero-length, truncated or non-IPC copy: an IPC file ends in a
    footer, so a torn write never reads as a shorter batch."""
    import pyarrow as pa

    with open(path, "rb") as fh:
        data = fh.read()
    reader = pa.ipc.open_file(pa.py_buffer(data))
    return data, [reader.get_batch(i) for i in range(reader.num_record_batches)]


def _load_ack_ids(path: str) -> list[str]:
    """The ``ack_id`` column of a cache copy; the memory map pages in
    only that column's buffers."""
    import pyarrow as pa

    with pa.memory_map(path) as src:
        reader = pa.ipc.open_file(src)
        return [
            a
            for i in range(reader.num_record_batches)
            for a in reader.get_batch(i).column("ack_id").to_pylist()
        ]


def _part_file(batch_dir: str, i: int) -> str:
    return os.path.join(batch_dir, f"part-{i:05d}{_PART_SUFFIX}")


def _listdir(path: str) -> list[str]:
    """``os.listdir(path)``, or none when ``path`` is absent."""
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []


def _first_readable(paths, load):
    """``(path, load(path))`` for the first copy in ``paths`` that loads,
    or None when no copy exists. Copies that exist but none of which
    loads raise: re-pulling in their place would change what an
    already-planned batch replays or acks (ADVICE r12)."""
    import pyarrow as pa

    bad = []
    for path in paths:
        try:
            return path, load(path)
        except FileNotFoundError:
            continue
        except (OSError, ValueError, KeyError, pa.ArrowException):
            bad.append(path)
    if bad:
        raise RuntimeError(
            f"pubsub replay cache: {bad[0]} exists but no copy is parseable "
            f"({len(paths)} paths checked); refusing to re-pull "
            "— that would silently change the planned batch"
        )
    return None


def _pull_or_replay(payload: _PartitionPayload):
    """Executor-side body of read(): replay from the partition cache if
    present, else pull once and persist atomically (S7 + S9).

    The cache file is the Arrow IPC file of the partition's RecordBatch,
    so a replay yields the stored batch without parsing. With replica
    roots in the batch's plan, each pull is persisted to every replica
    path before the primary (the primary's existence is the commit
    point), and a replay that finds the primary missing or corrupted
    serves from the first healthy replica — re-healing the primary AND
    any other lost copy with the same bytes, so redundancy never
    silently degrades below the planned copy count — instead of
    re-pulling. This mirrors the reference's 2× replicated
    persist of the pulled batch (PubsubPartitionReader.scala:57,
    MEMORY_AND_DISK_SER_2): losing one copy between pull and commit
    never changes what the batch replays.

    When a copy EXISTS but none parses (zero-length or truncated), the
    task fails loudly instead of re-pulling: a re-pull under a
    still-held broker lease can return fewer (or zero) messages and
    overwrite the cache, silently changing a planned batch's replay
    content (ADVICE r12). Only the fully-absent case (no copy ever
    written) pulls."""
    import pyarrow as pa

    copies = (payload.cache_file,) + tuple(payload.replica_files)
    found = _first_readable(copies, _load_ipc)
    if found is not None:
        source, (data, batches) = found
        if source != payload.cache_file:
            # served from a replica: re-heal every other lost copy
            healed = []
            for path in copies:
                if path == source:
                    continue
                try:
                    _load_ipc(path)
                except (OSError, ValueError, pa.ArrowException):
                    _write_atomic(path, data)
                    healed.append(path)
            if healed:
                _log.warning(
                    "pubsub replay cache: replayed %s, re-healed %s", source, healed
                )
        yield from batches  # an empty partition stores none
        return

    broker = FileBroker(payload.broker_dir)
    pulled = broker.pull_raw(
        payload.subscription, payload.max_messages, region=payload.region
    )
    batch = _records_to_arrow(payload.subscription_path, pulled)
    data = _batch_to_ipc(batch)
    for rep in payload.replica_files:
        _write_atomic(rep, data)
    _write_atomic(payload.cache_file, data)
    if batch.num_rows:
        yield batch


class PubsubStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.opts: PubsubReadOptions = validate_read_options(options)
        # stable identity (option) lets a crashed query re-claim its
        # subscription immediately; otherwise a fresh uuid per run and
        # the registry TTL governs crash recovery
        self.stream_id = self.opts.stream_id or uuid.uuid4().hex
        st = self._restore_state()
        self._last = st["planned"]  # high-water mark of planned offsets
        self._committed = st["committed"]  # floor: all acked below this
        # batch key -> {"regions", "replica_roots"} of each batch planned
        # and not yet committed. Another stream's plans are not ours to
        # replay or ack: registration purges its copies, unacked, under
        # the roots they name.
        self._plans = st["plans"]
        self._dead_roots = ()
        if st["stream_id"] != self.stream_id:
            self._dead_roots = tuple(
                r for plan in self._plans.values() for r in plan["replica_roots"]
            )
            self._plans = {}
        self.broker = FileBroker(self.opts.broker_dir)
        self.registry = StreamRegistry(self.opts.broker_dir)
        # S12 guard is claimed lazily on the first offset/partition call:
        # Spark creates extra short-lived reader instances during
        # analysis/planning, and only the running stream's instance
        # drives the offset lifecycle.
        self._registered = False
        self._beat = -math.inf  # time.monotonic() of the last registry write

    def _ensure_registered(self) -> None:
        if not self._registered:
            self.registry.register(self.opts.subscription, self.stream_id)  # S12
            self._registered = True
            self._beat = time.monotonic()
            self._purge_foreign_cache_dirs()
        else:
            self._heartbeat()

    def _heartbeat(self) -> None:
        """Refresh the registry claim once it is ``_HEARTBEAT_EVERY_S``
        old. Spark polls ``latestOffset`` every few ms on an idle
        stream, and each refresh locks, reads and replaces the
        registry file."""
        now = time.monotonic()
        if now - self._beat >= _HEARTBEAT_EVERY_S:
            self.registry.heartbeat(self.opts.subscription, self.stream_id)
            self._beat = now

    def _purge_foreign_cache_dirs(self) -> None:
        """Remove replay-cache dirs left by other stream_ids on this
        subscription. The registry admits one consumer at a time, so any
        foreign dir belongs to a dead query; its messages must be
        redelivered by lease expiry, never acked by us (ADVICE r2:
        acking a predecessor's cached ack_ids drops messages this query
        skipped as leased). The configured replica roots and those the
        dead stream's held plans name are swept the same way."""
        own = _sanitize(self.stream_id)
        purged = []
        roots = (None, *self.opts.replay_cache_replica_dirs, *self._dead_roots)
        for base in dict.fromkeys(roots):
            root = _read_cache_dir(self.opts, base)
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                if d != own:
                    path = os.path.join(root, d)
                    shutil.rmtree(path, ignore_errors=True)
                    purged.append(path)
        if purged:
            _log.info(
                "subscription %s: purged other streams' replay caches, unacked: %s",
                self.opts.subscription, purged,
            )

    # -- offsets (S4/S5) ---------------------------------------------------
    def _restore_state(self) -> dict:
        """The persisted counters, stream_id and held plans; a missing
        file starts at 0 with none, and a file written before plans were
        recorded holds none. A file or plan that does not parse raises:
        reading it as 0 would re-plan already-committed batch keys, and
        dropping a plan would re-plan a pulled batch (ROADMAP direction
        3)."""
        path = _offset_state_path(self.opts)
        try:
            with open(path) as fh:
                raw = fh.read()
        except FileNotFoundError:
            return {"planned": 0, "committed": 0, "stream_id": None, "plans": {}}
        try:
            st = json.loads(raw)
            return {
                "planned": int(st["planned"]),
                "committed": int(st["committed"]),
                "stream_id": st.get("stream_id"),
                "plans": {
                    key: {"regions": p["regions"], "replica_roots": p["replica_roots"]}
                    for key, p in st.get("plans", {}).items()
                },
            }
        except (ValueError, KeyError, TypeError, AttributeError) as e:
            raise ValueError(f"corrupt pubsub offset state {path}: {e}") from e

    def _persist_state(self) -> None:
        _write_atomic(
            _offset_state_path(self.opts),
            json.dumps(
                {
                    "planned": self._last,
                    "committed": self._committed,
                    "stream_id": self.stream_id,
                    "plans": self._plans,
                }
            ),
        )

    def _advance_to(
        self, n: int, committed: bool = False, changed: bool = False
    ) -> None:
        """Monotone counter update; persists the state when a counter
        rose or the caller ``changed`` the held plans."""
        if n > self._last:
            self._last = n
            changed = True
        if committed and n > self._committed:
            self._committed = n
            changed = True
        if changed:
            self._persist_state()

    def initialOffset(self) -> dict:
        # PubsubMicroBatchStream.scala:87 starts at 0; resuming from the
        # COMMITTED floor for a fresh checkpoint is equivalent (the
        # offset is synthetic — consumption position lives in the
        # broker's ack state) and keeps batch keys monotone across
        # queries on one subscription. Never return the planned
        # high-water mark: Trigger.AvailableNow's single-batch fallback
        # calls latestOffset() (to fix the drain target) BEFORE
        # initialOffset(), and returning the advanced counter would
        # collapse the first batch to an empty [n, n] range.
        self._ensure_registered()
        return {"batch_id": self._committed}

    def _partitions_per_unit(self, backlog: int) -> int:
        """``num_partitions``, or ``calculate_partitions(backlog)`` under
        ``dynamic_partitioning`` (S6/S13)."""
        if not self.opts.dynamic_partitioning:
            return self.opts.num_partitions
        return calculate_partitions(backlog)

    def latestOffset(self) -> dict:
        # advance the synthetic counter by the number of capacity-sized
        # batch units needed to drain the current backlog, bounded so a
        # single trigger never plans more than MAX_PARTITIONS tasks (the
        # reference's 256×1000 ingest envelope, BASELINE.md); a static
        # num_partitions above the cap still advances one unit. The
        # backlog counts leased messages, so advance only for a batch
        # that can pull or one that carries a pending ack: leases held
        # by another consumer would otherwise plan empty batches until
        # they expire.
        self._ensure_registered()
        sub = self.opts.subscription
        backlog = self.broker.backlog(sub)
        n = self._last
        ack_due = any(plan["regions"] for plan in self._plans.values())
        if backlog > 0 and (ack_due or self.broker.deliverable(sub) > 0):
            base = self._partitions_per_unit(backlog)
            capacity = base * self.opts.max_messages_per_partition
            max_units = max(1, MAX_PARTITIONS // base)
            units = min(max_units, max(1, -(-backlog // capacity)))
            n += units
        self._advance_to(n)
        return {"batch_id": n}

    # -- partition planning (S6/S13) --------------------------------------
    def partitions(self, start: dict, end: dict):
        self._ensure_registered()
        units = max(1, end["batch_id"] - start["batch_id"])
        batch_key = f"b{start['batch_id']}-{end['batch_id']}"
        # The plan is fixed the first time a batch is planned, an empty
        # one included: a replan (restart, plan re-evaluation) must
        # rebuild the same partitions over the same copies, or a backlog
        # that grew in between adds partitions that pull fresh messages
        # into an already-planned batch, which a sink may skip as
        # committed while commit() acks. The offset state records the
        # plan, with the replica roots it names, before any copy exists,
        # so a replan after a config switch finds the batch's copies
        # where they were written, even with the primary lost.
        new = batch_key not in self._plans
        if new:
            checked = self._batch_dirs(batch_key, self.opts.replay_cache_replica_dirs)
            if any(name.startswith("part-") for d in checked for name in _listdir(d)):
                raise RuntimeError(
                    f"pubsub replay cache: batch {batch_key} has part files under "
                    f"{checked} but no plan in {_offset_state_path(self.opts)}; "
                    "refusing to re-plan a batch that was already pulled"
                )
            self._plans[batch_key] = {
                "regions": self._plan(units, batch_key),
                "replica_roots": list(self.opts.replay_cache_replica_dirs),
            }
        # restart re-sync: a recovered run replans its uncommitted batch
        # from checkpointed offsets before ever calling latestOffset —
        # never let the counter sit behind them
        self._advance_to(max(start["batch_id"], end["batch_id"]), changed=new)
        plan = self._plans[batch_key]
        cache_dir, *replica_dirs = self._batch_dirs(batch_key, plan["replica_roots"])
        return [
            InputPartition(
                _PartitionPayload(
                    broker_dir=self.opts.broker_dir,
                    subscription=self.opts.subscription,
                    subscription_path=self.opts.subscription_path,
                    max_messages=self.opts.max_messages_per_partition,
                    cache_file=_part_file(cache_dir, i),
                    region=region,
                    replica_files=tuple(_part_file(d, i) for d in replica_dirs),
                )
            )
            for i, region in enumerate(plan["regions"])
        ]

    def _batch_dirs(self, batch_key: str, replica_roots) -> list[str]:
        """The batch's dir under the primary root, then under each of
        ``replica_roots``."""
        return [
            os.path.join(_stream_cache_dir(self.opts, self.stream_id, root), batch_key)
            for root in (None, *replica_roots)
        ]

    def _plan(self, units: int, batch_key: str) -> list[str | None]:
        """The region of each partition of a batch of ``units`` capacity
        units (None pulls from every region), at most ``MAX_PARTITIONS``
        of them.

        Each ``(region, partitions per unit, backlog)`` group plans
        ``min(partitions × units, ceil(backlog / max_messages_per_partition))``
        pulls. A region-less plan is the one group ``(None, base,
        deliverable)``, ``base`` as in ``latestOffset``. Every planned
        partition is a Spark task with a fixed cost, and a pull past the
        deliverable count returns nothing. So a batch with nothing
        deliverable plans no partitions: Spark acks a batch only while
        it builds the next one, so a drain ends with a batch whose only
        job is that ack.

        A dynamic plan splits into one region-pinned group per region
        when ``region_split`` says so (PubsubMicroBatchStream.scala:58-74).
        A region's backlog counts leased messages, so its cap never
        plans fewer pulls than the region can fill. The groups take
        turns in the list, so the ``MAX_PARTITIONS`` cut leaves every
        region at least one partition."""
        deliverable = self.broker.deliverable(self.opts.subscription)
        if deliverable == 0:
            _log.debug("batch %s: nothing deliverable, planned 0 partitions", batch_key)
            return []
        per_pull = self.opts.max_messages_per_partition
        by_region = (
            self.broker.backlog_by_region(self.opts.subscription)
            if self.opts.dynamic_partitioning
            else {}
        )
        groups = region_split(by_region) or [
            (None, self._partitions_per_unit(sum(by_region.values())), deliverable)
        ]
        regions = [
            region
            for _, region in sorted(
                (i, region)
                for region, n, backlog in groups
                for i in range(min(n * units, -(-backlog // per_pull)))
            )
        ][:MAX_PARTITIONS]
        split = ", ".join(f"{r}={regions.count(r)}" for r, _, _ in groups if r)
        _log.debug(
            "batch %s: %d deliverable, planned %d partitions (%d uncapped)%s",
            batch_key, deliverable, len(regions), sum(n for _, n, _ in groups) * units,
            f"; by region {split}" if split else "",
        )
        return regions

    # -- executor read (S7/S8/S9) ------------------------------------------
    def read(self, partition: InputPartition):
        yield from _pull_or_replay(partition.value)

    # -- commit: ack + evict (S10/S11) -------------------------------------
    def commit(self, end: dict) -> None:
        # Only this stream's held plans are acked: another stream's
        # copies are purged unacked at registration. A plan names its
        # replica roots, so the ack set survives the loss of any single
        # copy. Ack ids per part file come from the FIRST readable copy
        # in root order (primary first), never the union across copies:
        # divergent copies (a zombie or speculative task attempt whose
        # pull landed only in a replica while another attempt's pull
        # became the primary) would otherwise ack messages that appear
        # in no replayed batch — an at-least-once violation (ADVICE
        # r12). Replica content counts only where the primary copy of
        # that part file is absent or unreadable, which is exactly when
        # a replay serves that replica. Only the ack_id column is read.
        end_id = end["batch_id"]
        due = [key for key in self._plans if int(key.rsplit("-", 1)[1]) <= end_id]
        for batch_key in due:
            plan = self._plans[batch_key]
            dirs = self._batch_dirs(batch_key, plan["replica_roots"])
            ack_ids: list[str] = []
            for i in range(len(plan["regions"])):
                found = _first_readable([_part_file(d, i) for d in dirs], _load_ack_ids)
                if found is not None:  # else never pulled, or evicted
                    ack_ids.extend(found[1])
            if ack_ids:
                # one call per batch: the file broker takes any number
                # of ids under one lock hold; RealBrokerClient chunks to
                # the service's request limit itself
                self.broker.acknowledge(
                    self.opts.subscription, list(dict.fromkeys(ack_ids))
                )
            for batch_dir in dirs:  # block eviction analog, every copy
                shutil.rmtree(batch_dir, ignore_errors=True)
            del self._plans[batch_key]
        # one state write: the committed floor and the plans dropped
        self._advance_to(end_id, committed=True, changed=bool(due))
        self._heartbeat()

    def stop(self) -> None:
        if self._registered:
            self.registry.unregister(self.opts.subscription, self.stream_id)


# ---------------------------------------------------------------------------
# sink
# ---------------------------------------------------------------------------


def _validate_write_schema(schema: StructType, opts: PubsubWriteOptions) -> None:
    """Subset-based schema validation (PubsubSink.scala:23-35): required
    fields must exist with exact type; extra columns are permitted; the
    configured ordering-key column must exist and be StringType."""
    fields = {f.name: f for f in schema.fields}
    data = fields.get("data")
    if data is None or not isinstance(data.dataType, BinaryType):
        raise ValueError(
            "write schema must contain 'data' of BinaryType "
            f"(got {data.dataType.simpleString() if data else 'missing'})"
        )
    attrs = fields.get("attributes")
    if attrs is None or not isinstance(attrs.dataType, MapType):
        raise ValueError("write schema must contain 'attributes' of MapType")
    mt = attrs.dataType
    if not (
        isinstance(mt.keyType, StringType) and isinstance(mt.valueType, StringType)
    ):
        raise ValueError("'attributes' must be map<string,string>")
    if opts.ordering_key is not None:
        key = fields.get(opts.ordering_key)
        if key is None:
            raise ValueError(
                f"ordering_key column '{opts.ordering_key}' not found in schema"
            )
        if not isinstance(key.dataType, StringType):
            raise ValueError(
                f"ordering_key column '{opts.ordering_key}' must be StringType, "
                f"got {key.dataType.simpleString()}"
            )


@dataclass
class PubsubCommitMessage(WriterCommitMessage):
    staged_files: tuple[str, ...]
    count: int


def _stage_dir(opts: PubsubWriteOptions) -> str:
    return os.path.join(opts.broker_dir, ".sink_stage", _sanitize(opts.topic))


def _sink_owner_token(opts: PubsubWriteOptions) -> str | None:
    """The fixed-width owner token staged filenames carry: md5-hex16 of
    the sink_id, so the orphan sweep tells this query's files from
    another query's on the same topic (sink ids may contain dashes).
    None without a sink_id; the writer then mints a per-run token.
    usedforsecurity=False: a filename namespace, not a credential."""
    if opts.sink_id is None:
        return None
    import hashlib

    return hashlib.md5(
        opts.sink_id.encode(), usedforsecurity=False
    ).hexdigest()[:16]


def _checkpoint_instance_id(opts: PubsubWriteOptions) -> str | None:
    """Identity of the checkpoint INSTANCE behind this query, when
    resolvable: Spark mints a fresh query id into
    ``<checkpoint>/metadata`` exactly when the checkpoint directory is
    created, so the id distinguishes a restart (same id — Spark resumes
    the batch numbering) from a wiped-and-recreated checkpoint (new id —
    batch ids restart at 0). The sink's batch fence in the topic head is
    scoped to it: a stale record honored across a recreation would
    silently swallow the new query's first batches, which path- or
    sink_id-keying alone cannot see (r15 self-review). None when no
    readable metadata file exists (direct-API writers without a real
    checkpoint, or a DFS path this local-FS read cannot reach) — the
    record is then honored as before, identity-scoped only."""
    ck = opts.checkpoint_location
    if not ck:
        return None
    try:
        with open(os.path.join(ck, "metadata")) as fh:
            iid = json.load(fh).get("id")
    except (OSError, ValueError):
        return None
    return str(iid) if iid else None


class PubsubStreamWriter(DataSourceStreamArrowWriter):
    """Staged-commit publisher: executors stage messages, the driver's
    commit() appends them to the topic log exactly once per batch id.

    This is deliberately *stronger* than the reference's async-publish
    (PubsubWriter.scala:64-89, at-least-once): staging gives the same
    batch-id idempotence the reference implements driver-side
    (PubsubSink.scala:17-18) without re-publishing on task retries, and
    the batch fence commits in the topic-head write that publishes the
    batch, so it also holds across a crash anywhere in commit().

    Arrow variant: write() receives pyarrow RecordBatches and stages
    the segment columns selected from them as one Arrow IPC segment
    file per task, with no per-message conversion (mirrors the source's
    RecordBatch read path); commit() renames the task files into the
    topic under one head write. The reference's client batching
    (CachedPublishers.scala:19-35) is ``RealBrokerClient``'s
    ``BATCH_MAX_MESSAGES`` and ``BATCH_MAX_LATENCY_S``.
    """

    def __init__(self, options: dict, schema: StructType):
        self.opts = validate_write_options(options)
        _validate_write_schema(schema, self.opts)  # driver-side check
        self.schema = schema
        # Owner token for staged filenames and the orphan sweep. With a
        # sink identity it is stable across pyspark's per-process writer
        # instances (executor write() and each driver commit() build
        # their own) and across restarts, so a crashed run's orphans are
        # swept by the next run. Without one, the per-run uuid matches
        # no staged file across processes: the sweep is a safe no-op.
        self._owner_token = _sink_owner_token(self.opts) or uuid.uuid4().hex[:16]

    def write(self, iterator) -> PubsubCommitMessage:
        # executor-side: re-validate the ordering-key contract like
        # PubsubWriter.scala:36-45, then stage this task's messages as
        # one segment file that commit() renames into the topic. The
        # file appears only once the whole task succeeded (abort() sees
        # only commit messages). A losing speculative attempt still
        # stages a file no commit message references; the API exposes
        # batchId only driver-side, so filenames carry the owner token
        # and commit()'s sweep removes them (see _gc_orphans).
        import pyarrow as pa
        import pyarrow.compute as pc

        opts = self.opts
        stage = _stage_dir(opts)
        os.makedirs(stage, exist_ok=True)
        now_us = int(time.time() * 1e6)
        schema = segment_schema()
        map_type = schema.field("attributes").type

        def segments():
            for batch in iterator:
                data = batch.column("data")
                if data.null_count:
                    raise ValueError("'data' must not be null")
                rows = batch.num_rows
                if opts.ordering_key is not None:
                    keys = batch.column(opts.ordering_key).cast(pa.string())
                    keys = pc.fill_null(keys, "")
                else:
                    keys = pa.array([""] * rows, pa.string())
                attrs = batch.column("attributes").cast(map_type)
                yield pa.RecordBatch.from_arrays(
                    [
                        keys,
                        data.cast(pa.binary()),
                        pc.fill_null(attrs, pa.scalar([], map_type)),
                        pa.array([now_us] * rows, pa.int64()),
                        pa.array(["global"] * rows, pa.string()),
                    ],
                    schema=schema,
                )

        path = os.path.join(
            stage, f"stage-{self._owner_token}-{uuid.uuid4().hex}.arrow"
        )
        n = write_segment(path, segments())
        return PubsubCommitMessage(staged_files=(path,) if n else (), count=n)

    # -- driver-side commit/abort -----------------------------------------
    def _gc_orphans(self) -> None:
        """Sweep this sink's leftover stage files.

        Called at the end of commit(batch N), after the batch's own
        staged files were published and removed, so every file still
        carrying our owner token belongs to a dead attempt: a losing
        speculative attempt of a batch ≤ N, or a .tmp of a task that
        died before its except-unlink. (A zombie of batch N that
        promotes after this sweep is removed by the next commit.) Other
        queries' files carry another token and are left alone."""
        owner = self._owner_token
        stage = _stage_dir(self.opts)
        prefix = f"stage-{owner}-"
        try:
            names = os.listdir(stage)
        except OSError:
            return
        for n in names:
            if not n.startswith(prefix):
                continue
            try:
                os.remove(os.path.join(stage, n))
            except FileNotFoundError:
                pass

    def commit(self, messages, batchId: int) -> None:
        staged = [f for m in messages if m is not None for f in m.staged_files]
        # A referenced staged file absent on disk is lost data:
        # publishing the rest would silently drop it. Fail the batch so
        # Spark retries it.
        missing = [f for f in staged if not os.path.exists(f)]
        if missing:
            raise RuntimeError(
                f"pubsub sink commit for batch {batchId}: "
                f"{len(missing)}/{len(staged)} staged files are missing "
                f"(first: {missing[0]}); refusing to publish a partial "
                "batch"
            )
        # The fence commits in the topic-head write that publishes the
        # batch, so a redelivered batch of the same query
        # (PubsubSink.scala:17-18) publishes nothing, whatever point of
        # this method a crash hit. Without a sink_id there is no fence:
        # at-least-once, like the reference across restarts.
        fence = (
            None
            if self.opts.sink_id is None
            else (self.opts.sink_id, _checkpoint_instance_id(self.opts), batchId)
        )
        broker = FileBroker(
            self.opts.broker_dir,
            auto_compact_bytes=self.opts.log_retention_bytes,
        )
        n = broker.commit_staged(self.opts.topic, staged, fence=fence)
        # a published file was renamed into the topic; one still here
        # belongs to a batch the fence dropped
        removed = 0
        for f in staged:
            with contextlib.suppress(FileNotFoundError):
                os.remove(f)
                removed += 1
        if removed and not n:
            _log.info(
                "sink %s: batch %d already committed, dropped; removed %d staged files",
                self.opts.sink_id, batchId, removed,
            )
        self._gc_orphans()

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m is None:
                continue
            for f in m.staged_files:
                if os.path.exists(f):
                    os.remove(f)


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------


class PubsubDataSource(DataSource):
    """format("pubsub") — micro-batch streaming source + append sink.

    Batch read/write are unsupported by design: the reference declares
    exactly MICRO_BATCH_READ (PubsubTable.scala:20-22) and a V1
    streaming sink.
    """

    @classmethod
    def name(cls) -> str:
        return "pubsub"  # PubsubTableProvider.scala:30

    def schema(self):
        return PUBSUB_READ_SCHEMA  # static schema, PubsubTable.scala:18

    def streamReader(self, schema: StructType) -> PubsubStreamReader:
        return PubsubStreamReader(dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool) -> PubsubStreamWriter:
        if overwrite:
            # Append output mode only (PubsubTableProvider.scala:24-25)
            raise ValueError("pubsub sink supports Append output mode only")
        return PubsubStreamWriter(dict(self.options), schema)

    def reader(self, schema: StructType):
        raise NotImplementedError(
            "pubsub is a streaming source (MICRO_BATCH_READ only); "
            "use spark.readStream"
        )

    def writer(self, schema: StructType, overwrite: bool):
        raise NotImplementedError(
            "pubsub is a streaming sink; use df.writeStream"
        )


def register_pubsub(spark) -> None:
    """Register format("pubsub") with this session (S1). Ships the
    package zip to executor Python workers first so the DataSource
    class can be unpickled there."""
    from ..session import ship_package

    ship_package(spark)
    spark.dataSource.register(PubsubDataSource)
