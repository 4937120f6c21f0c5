"""The pubsub DataSource: micro-batch stream reader + append-only
stream writer on the Python DataSource API (PySpark 4.x).

Parity map to the reference (SURVEY.md §2.1):
  S1/S2  name()="pubsub", fixed read schema, streaming-only capability
  S4     synthetic monotone batch-counter offsets ({"batch_id": n}) —
         Pub/Sub has no offsets (PubsubMicroBatchStream.scala:35-38).
         The counter survives restarts: persisted per subscription
         (.offsets/) and re-synced from checkpointed offsets in
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
         min(backlog, max_dynamic_partitions × max_messages) in a
         single bounded batch; a backlog beyond that envelope drains
         across repeated runs on the same checkpoint (tested:
         test_available_now_bounded_drain_across_runs).
         Re-checked against pyspark 4.1.2 (rounds 4 and 5; r5 probe:
         zero availableNow mentions in pyspark.sql.datasource, no new
         DataSourceStreamReader methods): still no
         SupportsTriggerAvailableNow analog — watch item stands.
         The backlog counts leased messages, so the batch after a
         drain's last data batch still exists: Spark calls commit() only
         while it builds the next batch, and that batch carries the ack
  S6/S13 per-batch partition planning — static num_partitions, or
         backlog-driven with per-region splits via BacklogMonitor. A
         batch first planned when no message is deliverable (the broker's
         unacked-and-unleased count is 0) plans no partitions, so the
         ack-only batch runs no tasks
  S7/S8  per-task pull of ≤ max_messages_per_partition messages,
         decoded to the 7-column row (PubsubPartitionReader.scala)
  S9     deterministic replay: first pull persists the partition's
         RecordBatch as an atomically-renamed Arrow IPC file; task
         retries and plan re-evaluations yield the stored batch instead
         of re-pulling (RDD-block cache analog,
         PubsubPartitionReader.scala:33-70). A copy that exists but
         does not read (zero-length, truncated, older format) fails the
         task rather than re-pulling. The batch's partition plan is
         persisted beside its parts the first time it is planned, so a
         replan rebuilds the same partitions
  S10/S11 ack-on-commit: ack ids ride in the cache files' ack_id column
         (the accumulator analog); commit(end) acks each batch with one
         broker call and evicts the batch's cache
         (PubsubMicroBatchStream.scala:93-114; the reference's
         1500-id request chunking lives in RealBrokerClient.acknowledge)
  S12    single-consumer stream registry (registry.py)
  S14-S16 append-only staged-commit sink with batch-id idempotence,
         write-schema + ordering-key validation on driver AND executor
  S18    eager option validation (options.py)

Scale design: pulls, decoding, and publishing all happen on executors;
the driver only plans partitions, acks, and moves staged files. State
per batch is bounded by partitions × max_messages; cache files are
evicted on commit exactly like the reference's RDD blocks.
"""

from __future__ import annotations

import json
import os
import shutil
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

from .broker import FileBroker, PubsubMessage
from .monitor import BacklogMonitor
from .options import (
    PubsubReadOptions,
    PubsubWriteOptions,
    validate_read_options,
    validate_write_options,
)
from .registry import StreamRegistry

_PART_SUFFIX = ".arrow"  # replay-cache part files (Arrow IPC)
_PLAN_FILE = "plan.json"  # a batch's partition plan, beside its parts

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


def _read_cache_dir(opts: PubsubReadOptions, replica: int = 0) -> str:
    """Per-subscription replay-cache root; each stream scopes its batch
    dirs one level deeper under its stream_id. Scoping by consumer
    identity keeps commit()'s ack sweep from ever acking a crashed
    predecessor's cache: those messages were skipped as still-leased by
    the new query, so acking them would drop them from every committed
    batch (at-least-once break). Stale foreign dirs are purged —
    unacked — at registration; the broker's lease expiry redelivers
    their messages.

    ``replica > 0`` addresses a sibling root: the analog of the
    reference's 2× executor replication of the pulled batch
    (``MEMORY_AND_DISK_SER_2``, PubsubPartitionReader.scala:57). By
    default replicas live under derived ``.read_cache_rep{r}`` siblings
    of the primary (same broker dir — one disk on this harness); the
    ``replay_cache_replica_dirs`` option substitutes explicit absolute
    roots so each copy maps to an independent failure domain (a second
    executor's local disk, a second mount, or a DFS path) — the
    deployment analog of MEMORY_AND_DISK_SER_2's distinct-executor
    placement."""
    return os.path.join(_replica_base(opts, replica), _sanitize(opts.subscription))


def _replica_base(opts: PubsubReadOptions, replica: int) -> str:
    """The root directory replica ``replica`` lives under — THE
    definition of the derived-vs-explicit layout (everything that
    needs a replica path derives from here, so a layout change cannot
    desynchronize the planner's legacy probing — r14 review)."""
    if replica == 0:
        return os.path.join(opts.broker_dir, ".read_cache")
    if opts.replay_cache_replica_dirs:
        return opts.replay_cache_replica_dirs[replica - 1]
    return os.path.join(opts.broker_dir, f".read_cache_rep{replica}")


def _derived_replica_bases(opts: PubsubReadOptions) -> list[str]:
    """Every derived ``.read_cache_rep*`` sibling present on disk —
    including roots a RETIRED configuration wrote (one local listdir)."""
    try:
        names = os.listdir(opts.broker_dir)
    except OSError:
        names = []
    return [
        os.path.join(opts.broker_dir, n)
        for n in sorted(names)
        if n.startswith(".read_cache_rep")
    ]


def _replica_root_dirs(opts: PubsubReadOptions) -> list[str]:
    """Every replica cache root the ack sweep / foreign-dir purge must
    cover: the explicitly-configured roots (if any) plus any derived
    ``.read_cache_rep*`` siblings present on disk — copies written under
    an older configuration still need eviction and purging."""
    roots = list(opts.replay_cache_replica_dirs) + _derived_replica_bases(opts)
    return list(dict.fromkeys(roots))


def _stream_cache_dir(
    opts: PubsubReadOptions, stream_id: str, replica: int = 0
) -> str:
    return os.path.join(_read_cache_dir(opts, replica), _sanitize(stream_id))


def _offset_state_path(opts: PubsubReadOptions) -> str:
    """Persisted high-water mark of the synthetic offset counter, keyed
    by subscription (the registry guarantees one consumer per
    subscription). The reference re-syncs its counter from the
    checkpointed offsets (PubsubMicroBatchStream.scala:87-89,
    processedOffsets = end in planInputPartitions); the Python API
    builds a fresh reader on restart, so the counter must also survive
    the process — otherwise latestOffset() regresses behind the
    checkpoint and the stream stalls until it catches back up."""
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
    # Extra copies of the partition cache file (replay_cache_replicas
    # > 1): written on pull, read as fallback when the primary is lost.
    replica_files: tuple = ()
    # Copies that may exist under RETIRED derived ``.read_cache_rep*``
    # roots (written before the config switched to explicit
    # ``replay_cache_replica_dirs``, or before the replica count
    # shrank): probed read-side before concluding no copy was ever
    # written, but never heal/write targets — healing restores the
    # CONFIGURED redundancy only (ADVICE r13).
    legacy_files: tuple = ()


def _records_to_arrow(subscription_path: str, received: list[tuple[str, dict]]):
    """One Arrow RecordBatch for the whole partition — the DataSource
    API accepts RecordBatches from read(), which skips per-row pickling
    (the dominant cost of the tuple path: ~1000 rows × 7 fields per
    partition through the Python/JVM boundary). ``received`` is
    ``pull_raw``'s ``(ack_id, record)`` pairs."""
    import base64

    import pyarrow as pa

    recs = [r for _, r in received]
    return pa.RecordBatch.from_arrays(
        [
            pa.array([subscription_path] * len(recs), type=pa.string()),
            pa.array([a for a, _ in received], type=pa.string()),
            pa.array([r["message_id"] for r in recs], type=pa.string()),
            pa.array([r.get("ordering_key", "") for r in recs], type=pa.string()),
            pa.array([base64.b64decode(r["data_b64"]) for r in recs], type=pa.binary()),
            pa.array(
                [r["publish_ts_us"] for r in recs],
                type=pa.timestamp("us", tz="UTC"),
            ),
            pa.array(
                [list((r.get("attributes") or {}).items()) for r in recs],
                type=pa.map_(pa.string(), pa.string()),
            ),
        ],
        names=[
            "subscription",
            "ack_id",
            "message_id",
            "ordering_key",
            "data",
            "publish_timestamp",
            "attributes",
        ],
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


def _write_atomic(path: str, data) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


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


def _load_plan(path: str) -> list:
    with open(path) as fh:
        return json.load(fh)


def _first_readable(paths, load):
    """``(path, load(path))`` for the first copy in ``paths`` that loads,
    or None when no copy exists. Copies that exist but none of which
    loads raise: re-pulling or re-planning in their place would change
    what an already-planned batch replays or acks (ADVICE r12)."""
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
            f"({len(paths)} paths checked); refusing to re-pull or re-plan "
            "— that would silently change the planned batch"
        )
    return None


def _pull_or_replay(payload: _PartitionPayload):
    """Executor-side body of read(): replay from the partition cache if
    present, else pull once and persist atomically (S7 + S9).

    The cache file is the Arrow IPC file of the partition's RecordBatch,
    so a replay yields the stored batch without parsing. With
    ``replay_cache_replicas > 1`` each pull is persisted to every
    replica path before the primary (the primary's existence is the
    commit point), and a replay that finds the primary missing or
    corrupted serves from the first healthy replica — re-healing the
    primary AND any other lost copy with the same bytes, so redundancy
    never silently degrades below the configured replica count —
    instead of re-pulling. This mirrors the reference's 2× replicated
    persist of the pulled batch (PubsubPartitionReader.scala:57,
    MEMORY_AND_DISK_SER_2): losing one copy between pull and commit
    never changes what the batch replays.

    When a copy EXISTS but no existing copy parses (zero-length,
    truncated, or a ``.jsonl`` copy written by the older JSON-lines
    cache format), the task fails loudly instead of re-pulling: a
    re-pull under a still-held broker lease can return fewer (or zero)
    messages and overwrite the cache, silently changing a planned
    batch's replay content (ADVICE r12). Only the fully-absent case (no
    copy ever written) pulls. The probe set includes ``legacy_files`` —
    copies under retired derived ``.read_cache_rep*`` roots (ADVICE
    r13): a batch pulled under an older replica config whose surviving
    copy sits under an old root must replay from it, not silently
    re-pull. Legacy copies are read-only here; healing rewrites only
    the configured set."""
    import pyarrow as pa

    configured = (payload.cache_file,) + tuple(payload.replica_files)
    all_copies = configured + tuple(payload.legacy_files)
    # a .jsonl sibling is a copy in the older format: present, unreadable
    older = tuple(p[: -len(_PART_SUFFIX)] + ".jsonl" for p in all_copies)
    found = _first_readable(all_copies + older, _load_ipc)
    if found is not None:
        source, (data, batches) = found
        if source != payload.cache_file:
            # served from a replica (or a legacy copy): re-heal the
            # primary and every other missing/corrupt CONFIGURED copy
            for path in configured:
                if path == source:
                    continue
                try:
                    _load_ipc(path)
                except (OSError, ValueError, pa.ArrowException):
                    _write_atomic(path, data)
        yield from batches  # an empty partition stores none
        return

    broker = FileBroker(payload.broker_dir)
    # pull_raw keeps payloads base64-encoded, so each payload is decoded
    # exactly once, in _records_to_arrow
    received = broker.pull_raw(
        payload.subscription, payload.max_messages, region=payload.region
    )
    batch = _records_to_arrow(payload.subscription_path, received)
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
        self.broker = FileBroker(self.opts.broker_dir)
        self.registry = StreamRegistry(self.opts.broker_dir)
        # S12 guard is claimed lazily on the first offset/partition call:
        # Spark creates extra short-lived reader instances during
        # analysis/planning, and only the running stream's instance
        # drives the offset lifecycle.
        self._registered = False
        self.monitor: BacklogMonitor | None = None
        if self.opts.dynamic_partitioning:
            self.monitor = BacklogMonitor(
                self.broker,
                self.opts.subscription,
                self.opts,
                refresh_interval_s=float(
                    options.get("monitor_refresh_interval_seconds", 0)
                ),
            )

    def _ensure_registered(self) -> None:
        if not self._registered:
            self.registry.register(self.opts.subscription, self.stream_id)  # S12
            self._registered = True
            self._purge_foreign_cache_dirs()
        else:
            self.registry.heartbeat(self.opts.subscription, self.stream_id)

    def _purge_foreign_cache_dirs(self) -> None:
        """Remove replay-cache dirs left by other stream_ids on this
        subscription. The registry admits one consumer at a time, so any
        foreign dir belongs to a dead query; its messages must be
        redelivered by lease expiry, never acked by us (ADVICE r2:
        acking a predecessor's cached ack_ids drops messages this query
        skipped as leased). Replica roots are swept the same way."""
        own = _sanitize(self.stream_id)
        sub = _sanitize(self.opts.subscription)
        roots = [_read_cache_dir(self.opts)] + [
            os.path.join(rep, sub)
            for rep in _replica_root_dirs(self.opts)
        ]
        for root in roots:
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                if d != own:
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    # -- offsets (S4/S5) ---------------------------------------------------
    def _restore_state(self) -> dict:
        """The persisted counters; a missing file starts at 0. A file
        that does not parse raises: reading it as 0 would re-plan
        already-committed batch keys (ROADMAP direction 3)."""
        path = _offset_state_path(self.opts)
        try:
            with open(path) as fh:
                raw = fh.read()
        except FileNotFoundError:
            return {"planned": 0, "committed": 0}
        try:
            st = json.loads(raw)
            return {"planned": int(st["planned"]), "committed": int(st["committed"])}
        except (ValueError, KeyError, TypeError) as e:
            raise ValueError(f"corrupt pubsub offset state {path}: {e}") from e

    def _persist_state(self) -> None:
        path = _offset_state_path(self.opts)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump({"planned": self._last, "committed": self._committed}, fh)
        os.replace(tmp, path)

    def _advance_to(self, n: int, committed: bool = False) -> None:
        """Monotone counter update + persistence (only on increase)."""
        changed = False
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

    def _base_partitions(self) -> int:
        if self.monitor is not None:
            return self.monitor.partitioning_info().total_partitions
        return self.opts.num_partitions

    def latestOffset(self) -> dict:
        # advance the synthetic counter by the number of capacity-sized
        # batch units needed to drain the current backlog, bounded so a
        # single trigger never plans more than max_dynamic_partitions
        # tasks (the reference's 256×1000 ingest envelope, BASELINE.md)
        self._ensure_registered()
        backlog = self.broker.backlog(self.opts.subscription)
        n = self._last
        if backlog > 0:
            base = self._base_partitions()
            capacity = base * self.opts.max_messages_per_partition
            max_units = max(1, self.opts.max_dynamic_partitions // base)
            units = min(max_units, max(1, -(-backlog // capacity)))
            n += units
        self._advance_to(n)
        return {"batch_id": n}

    # -- partition planning (S6/S13) --------------------------------------
    def partitions(self, start: dict, end: dict):
        self._ensure_registered()
        # restart re-sync: a recovered run replans its uncommitted batch
        # from checkpointed offsets before ever calling latestOffset —
        # never let the counter sit behind them
        self._advance_to(max(start["batch_id"], end["batch_id"]))
        units = max(1, end["batch_id"] - start["batch_id"])
        batch_key = f"b{start['batch_id']}-{end['batch_id']}"
        cache_dir = os.path.join(
            _stream_cache_dir(self.opts, self.stream_id), batch_key
        )
        replica_dirs = [
            os.path.join(
                _stream_cache_dir(self.opts, self.stream_id, r), batch_key
            )
            for r in range(1, self.opts.replay_cache_replicas)
        ]
        # Retired derived roots (ADVICE r13): after switching to
        # explicit replay_cache_replica_dirs (or shrinking the replica
        # count), a batch pulled under the OLD config may have its only
        # surviving copy under a derived .read_cache_rep* sibling no
        # longer in the configured set. Probe those as read-only
        # fallbacks so the replay never silently re-pulls; one local
        # listdir per micro-batch plan, driver-side.
        configured_bases = {
            _replica_base(self.opts, r)
            for r in range(1, self.opts.replay_cache_replicas)
        }
        legacy_dirs = [
            os.path.join(
                base,
                _sanitize(self.opts.subscription),
                _sanitize(self.stream_id),
                batch_key,
            )
            for base in _derived_replica_bases(self.opts)
            if base not in configured_bases
        ]

        # The plan is fixed the first time a batch is planned, an empty
        # one included: a replan (restart, plan re-evaluation) must
        # rebuild the same partitions, or a backlog that grew in between
        # adds partitions that pull fresh messages into an already-planned
        # batch, which a sink may skip as committed while commit() acks.
        plan_dirs = [cache_dir] + replica_dirs + legacy_dirs
        found = _first_readable(
            [os.path.join(d, _PLAN_FILE) for d in plan_dirs], _load_plan
        )
        if found is not None:
            regions = found[1]
        else:
            regions = self._plan(units)
            data = json.dumps(regions).encode()
            for d in replica_dirs + [cache_dir]:  # primary last, as for parts
                _write_atomic(os.path.join(d, _PLAN_FILE), data)

        return [
            InputPartition(
                _PartitionPayload(
                    broker_dir=self.opts.broker_dir,
                    subscription=self.opts.subscription,
                    subscription_path=self.opts.subscription_path,
                    max_messages=self.opts.max_messages_per_partition,
                    cache_file=os.path.join(cache_dir, f"part-{i:05d}{_PART_SUFFIX}"),
                    region=region,
                    replica_files=tuple(
                        os.path.join(d, f"part-{i:05d}{_PART_SUFFIX}")
                        for d in replica_dirs
                    ),
                    legacy_files=tuple(
                        os.path.join(d, f"part-{i:05d}{_PART_SUFFIX}")
                        for d in legacy_dirs
                    ),
                )
            )
            for i, region in enumerate(regions)
        ]

    def _plan(self, units: int) -> list[str | None]:
        """The region of each partition of a batch of ``units`` capacity
        units (None pulls from every region), at most
        ``max_dynamic_partitions`` of them.

        Empty when no message is deliverable: Spark acks a batch only
        while it builds the next one, so a drain ends with a batch whose
        only job is that ack, and its tasks would pull nothing."""
        if self.broker.deliverable(self.opts.subscription) == 0:
            return []
        info = self.monitor.partitioning_info() if self.monitor else None
        if info is None:
            regions = [None] * (self.opts.num_partitions * units)
        elif info.split_by_region:
            # region-aware split (PubsubMicroBatchStream.scala:58-74):
            # each region's partitions pull with a region-pinned
            # "endpoint" so a dominant region gets dedicated tasks
            regions = [
                r.region for r in info.by_region for _ in range(r.num_partitions * units)
            ]
        else:
            regions = [None] * (info.total_partitions * units)
        return regions[: self.opts.max_dynamic_partitions]

    # -- executor read (S7/S8/S9) ------------------------------------------
    def read(self, partition: InputPartition):
        yield from _pull_or_replay(partition.value)

    # -- commit: ack + evict (S10/S11) -------------------------------------
    def commit(self, end: dict) -> None:
        self._advance_to(end["batch_id"], committed=True)
        # sweep is scoped to THIS stream's cache dirs: foreign dirs are
        # purged unacked at registration, never acknowledged here. The
        # sweep spans the primary root and every replica root on disk,
        # so the ack set survives the loss of any single copy and
        # eviction removes all of them.
        sub = _sanitize(self.opts.subscription)
        roots = [_stream_cache_dir(self.opts, self.stream_id)] + [
            os.path.join(rep, sub, _sanitize(self.stream_id))
            for rep in _replica_root_dirs(self.opts)
        ]
        end_id = end["batch_id"]
        # batch_key -> every copy of that batch's dir across roots
        batch_dirs: dict[str, list[str]] = {}
        for root in roots:
            if not os.path.isdir(root):
                continue
            for batch_key in os.listdir(root):
                try:
                    hi = int(batch_key.split("-")[-1])
                except ValueError:
                    continue
                if hi > end_id:
                    continue
                batch_dirs.setdefault(batch_key, []).append(
                    os.path.join(root, batch_key)
                )
        for dirs in batch_dirs.values():
            # Ack set per part file comes from the FIRST readable copy
            # in root order (primary first — `roots` leads with the
            # primary and batch_dirs preserves that order), never the
            # union across copies: divergent copies (a zombie or
            # speculative task attempt whose pull landed only in a
            # replica while another attempt's pull became the primary)
            # would otherwise ack messages that appear in no replayed
            # batch — an at-least-once violation (ADVICE r12). Replica
            # content counts only where the primary copy of that part
            # file is absent or unreadable, which is exactly when a
            # replay serves that replica. Only the ack_id column is
            # read.
            part_names = sorted(
                {f for d in dirs for f in os.listdir(d) if f.endswith(_PART_SUFFIX)}
            )
            ack_ids: list[str] = []
            for name in part_names:
                _path, ids = _first_readable(
                    [os.path.join(d, name) for d in dirs], _load_ack_ids
                )
                ack_ids.extend(ids)
            if ack_ids:
                # one call per batch: the file broker takes any number
                # of ids under one lock hold; RealBrokerClient chunks to
                # the service's request limit itself
                self.broker.acknowledge(
                    self.opts.subscription, list(dict.fromkeys(ack_ids))
                )
            for batch_dir in dirs:  # block eviction analog, every copy
                shutil.rmtree(batch_dir, ignore_errors=True)
        self.registry.heartbeat(self.opts.subscription, self.stream_id)

    def stop(self) -> None:
        if self.monitor is not None:
            self.monitor.stop()
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
    """Fixed-width ownership token staged filenames carry (VERDICT r13
    #5): md5-hex16 of the sink_id, so commit's orphan sweep can tell
    THIS query's files from a concurrent query's on the same topic
    without any separator-parsing ambiguity (sink ids may contain
    dashes). None without a sink_id — the writer then mints a per-run
    token instead (VERDICT r14 #3), so anonymous sinks still get their
    losing-attempt orphans swept within the run; only idempotence
    stays opt-in. usedforsecurity=False: this is a filename namespace,
    not a credential, and FIPS builds reject security-mode md5."""
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
    batch ids restart at 0). The batch-id idempotence record must be
    scoped to it: a stale record honored across a recreation would
    silently swallow the new query's first batches — the "re-created
    one" case _sink_state_path's contract names, which path- or
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


def _sink_state_path(opts: PubsubWriteOptions) -> str:
    """Committed-batch-id record, namespaced by (topic, sink_id): batch
    ids are per-query (they restart at 0 for every new checkpoint), so
    a topic-global record would silently drop batches from a second
    query or a re-created one — idempotence must only suppress
    redeliveries of the *same* query."""
    assert opts.sink_id is not None
    return os.path.join(
        opts.broker_dir,
        ".sink_state",
        _sanitize(opts.topic) + "__" + _sanitize(opts.sink_id) + ".json",
    )


class PubsubStreamWriter(DataSourceStreamArrowWriter):
    """Staged-commit publisher: executors stage messages, the driver's
    commit() appends them to the topic log exactly once per batch id.

    This is deliberately *stronger* than the reference's async-publish
    (PubsubWriter.scala:64-89, at-least-once): staging gives the same
    batch-id idempotence the reference implements driver-side
    (PubsubSink.scala:17-18) without re-publishing on task retries.

    Arrow variant: write() receives pyarrow RecordBatches, so column
    extraction is one vectorized ``to_pylist`` per column instead of
    per-Row field access (mirrors the source's RecordBatch read path).
    """

    def __init__(self, options: dict, schema: StructType):
        self.opts = validate_write_options(options)
        _validate_write_schema(schema, self.opts)  # driver-side check
        self.schema = schema
        # Owner token for staged filenames + the commit-time orphan
        # sweep. With a resolved sink identity (explicit sink_id OR the
        # query's checkpointLocation — _resolve_sink_id) it is the
        # stable md5-hex16: identical across pyspark's separate
        # per-process writer constructions (r15 review: executor
        # write() and every driver commit() each build their OWN
        # instance from the same options dict — an instance attribute
        # alone cannot link them) and across restarts, so a crashed
        # run's orphans are swept by the next run too. The uuid
        # fallback covers only identity-less writers (direct API use,
        # or a session-default checkpoint dir Spark resolves without
        # exposing): there GC degrades to a safe no-op across
        # processes (the commit-side token matches no staged file) —
        # the pre-r15 exempt behavior, now opt-out instead of default.
        self._owner_token = _sink_owner_token(self.opts) or uuid.uuid4().hex[:16]

    def write(self, iterator) -> PubsubCommitMessage:
        # executor-side: re-validate the ordering-key contract like
        # PubsubWriter.scala:36-45, then stage this partition's messages
        # in publish_batch_size chunks — the staged-file analog of the
        # client library's batching element-count threshold
        # (CachedPublishers.scala:19-35: publishes flush every
        # publish_batch_size messages; here every chunk is one atomic
        # append unit at commit time)
        import base64
        import time as _time

        opts = self.opts
        stage = _stage_dir(opts)
        os.makedirs(stage, exist_ok=True)
        now_us = int(_time.time() * 1e6)
        n = 0
        finals: list[str] = []
        tmps: list[str] = []
        fh = None

        # chunks stay .tmp until the whole partition succeeds, then are
        # promoted together: a mid-task failure leaves only .tmp files,
        # which the except path unlinks — nothing mid-promoted can ever
        # be orphaned in .sink_stage/ outside a commit message (ADVICE
        # r2: the old per-chunk promotion leaked completed chunks of
        # failed tasks forever, since abort() only sees commit messages)
        # Ownership in the filename (VERDICT r13 #5): a COMPLETED
        # speculative attempt that loses the race promotes files no
        # commit message references — pure orphans. The Python
        # DataSource API exposes batchId only driver-side (commit/
        # abort), so filenames carry the sink's owner token instead of
        # a batch number; commit()'s sweep reconciles by reference set,
        # which micro-batch sequencing makes safe (see _gc_orphans).
        owner = self._owner_token

        def _roll():
            nonlocal fh
            if fh is not None:
                fh.close()
            tmp = os.path.join(
                stage, f"stage-{owner}-{uuid.uuid4().hex}.jsonl.tmp"
            )
            tmps.append(tmp)
            fh = open(tmp, "w")

        try:
            for batch in iterator:
                names = batch.schema.names
                datas = batch.column(names.index("data")).to_pylist()
                attrs = batch.column(names.index("attributes")).to_pylist()
                if opts.ordering_key is not None:
                    keys = batch.column(names.index(opts.ordering_key)).to_pylist()
                else:
                    keys = None
                for i, data in enumerate(datas):
                    if data is None:
                        raise ValueError("'data' must not be null")
                    a = attrs[i]
                    # pyarrow MapArray rows arrive as [(k, v), ...]
                    attributes = dict(a) if a else {}
                    key = ""
                    if keys is not None and keys[i] is not None:
                        key = keys[i]
                    if fh is None or n % opts.publish_batch_size == 0:
                        _roll()
                    # INVARIANT: no top-level "seq"/"message_id" keys —
                    # FileBroker.commit_staged splices those in as a
                    # text prefix and a duplicate here would win at
                    # json.loads (last key wins), corrupting ordering.
                    # User content only ever appears NESTED (attributes
                    # values, base64 data), never as a top-level key.
                    fh.write(
                        json.dumps(
                            {
                                "ordering_key": str(key),
                                "data_b64": base64.b64encode(bytes(data)).decode(),
                                "attributes": attributes,
                                "publish_ts_us": now_us,
                                "region": "global",
                            }
                        )
                        + "\n"
                    )
                    n += 1
            if fh is not None:
                fh.close()
                fh = None
            # whole partition succeeded: promote every chunk at once
            for tmp in tmps:
                final = tmp[: -len(".tmp")]
                os.replace(tmp, final)
                finals.append(final)
        except BaseException:
            if fh is not None:
                fh.close()
                fh = None
            for tmp in tmps:
                if os.path.exists(tmp):
                    os.unlink(tmp)
            raise
        return PubsubCommitMessage(staged_files=tuple(finals), count=n)

    # -- driver-side commit/abort -----------------------------------------
    def _last_committed(self) -> int:
        if self.opts.sink_id is None:
            return -1
        path = _sink_state_path(self.opts)
        if not os.path.exists(path):
            return -1
        with open(path) as fh:
            state = json.load(fh)
        if state.get("ck_instance") != _checkpoint_instance_id(self.opts):
            # The record was written under a DIFFERENT checkpoint
            # instance (the dir was wiped and recreated — batch ids
            # restart at 0) or under a different resolvability of the
            # metadata file. Honoring it would silently swallow the
            # new query's first batches; treating it as absent costs
            # at most one republished redelivery (at-least-once, the
            # safe direction). _record_committed overwrites with the
            # current instance on the next commit.
            return -1
        return state.get("last_batch", -1)

    def _record_committed(self, batch_id: int) -> None:
        if self.opts.sink_id is None:
            return
        path = _sink_state_path(self.opts)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "last_batch": batch_id,
                    "ck_instance": _checkpoint_instance_id(self.opts),
                },
                fh,
            )
        os.replace(tmp, path)

    def _gc_orphans(self) -> None:
        """Sweep THIS sink's leftover stage files (VERDICT r13 #5).

        Called at the end of commit(batch N), AFTER the batch's own
        staged files have been published and removed — so every file
        in the stage dir still carrying our owner token is either a
        promoted file of a losing speculative batch-≤N attempt whose
        commit message Spark discarded — never publishable — or a
        .tmp of an attempt that died without running its except-unlink
        — equally dead. (A still-running zombie of batch N may promote
        AFTER this sweep; its file is unreferenced garbage by the same
        sequencing argument and the NEXT commit removes it, bounding
        orphan life to one batch.) Files of other queries are
        untouched — their owner token differs. Anonymous sinks sweep
        under their per-run token (VERDICT r14 #3); see __init__ for
        the crash-restart residue that sink_id eliminates."""
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
        if batchId <= self._last_committed():
            # re-delivered batch of the SAME query (PubsubSink.scala:
            # 17-18): drop the duplicate staging, publish nothing.
            # Without a sink_id this guard is off and a redelivered
            # batch republishes — at-least-once, like the reference
            # across restarts.
            for f in staged:
                if os.path.exists(f):
                    os.remove(f)
            self._gc_orphans()
            return
        # A staged file referenced by a commit message but absent on
        # disk is LOST DATA for a batch that has not been committed:
        # publishing the remainder and recording the batch committed
        # would silently drop those messages (the sink twin of the
        # source-side corrupt-cache rule, ADVICE r12). Fail the batch
        # loudly so Spark retries it instead.
        missing = [f for f in staged if not os.path.exists(f)]
        if missing:
            raise RuntimeError(
                f"pubsub sink commit for batch {batchId}: "
                f"{len(missing)}/{len(staged)} staged files are missing "
                f"(first: {missing[0]}); refusing to publish a partial "
                "batch"
            )
        broker = FileBroker(
            self.opts.broker_dir,
            auto_compact_bytes=self.opts.log_retention_bytes,
        )
        broker.commit_staged(self.opts.topic, staged)
        self._record_committed(batchId)
        for f in staged:
            if os.path.exists(f):
                os.remove(f)
        # losing speculative attempts of batches ≤ batchId leave
        # promoted-but-unreferenced files; sweep them now (this
        # batch's staged set was already removed above, so anything
        # of ours still present is an orphan)
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
