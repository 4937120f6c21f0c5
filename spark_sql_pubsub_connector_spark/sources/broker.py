"""Broker abstraction: a deterministic, file-backed fake Pub/Sub.

The reference talks gRPC to Google Cloud Pub/Sub (Subscriber.scala,
CachedPublishers.scala). This engine's tests must run offline, and the
reader/writer code runs in separate Python worker processes on the
executors — so the fake broker lives on the shared filesystem and
serializes all mutations through an ``fcntl`` file lock. Semantics
mirrored from the real service:

  - topics hold an append-only, sequence-numbered message log;
  - a subscription tracks acked seqs and outstanding leases;
  - ``pull`` leases up to ``max_messages`` undelivered messages and
    returns ``(ack_id, message)`` pairs; unacked leases expire after
    the ack deadline and the messages are redelivered (at-least-once,
    README.md:125 of the reference);
  - ``acknowledge`` permanently removes leased messages;
  - per-region backlog stats feed dynamic partition planning (the
    reference polls Cloud Monitoring, PubsubSubscriptionMonitor.scala).

A topic is a directory of immutable Arrow IPC segments, one per
``publish`` call or committed staged file, each holding the
``segment_schema()`` columns, plus one small ``head.json``. A segment
is named by the half-open seq range ``[lo, hi)`` it holds
(``{lo:020d}-{hi:020d}.arrow``): row ``i`` is the message with seq and
message id ``lo + i``, so neither is stored. The head holds ``end``,
the visibility boundary; each sink's batch fence,
``sinks: {sink_id: [checkpoint_instance, last_batch]}``; and the
retention back-off. An append builds its segments in tmp files,
renames them in at ``[end, ...)`` under the broker lock and then
replaces the head: that one write is the commit point, so an append
is whole or invisible. Readers see only segments with ``lo < end``,
which must tile up to ``end``; a gap or an overlap raises an error
naming the topic directory, as does a topic directory without a head.

On a 1000-executor cluster this file broker is replaced by the real
service — the interface is the contract, and all scale-sensitive state
(message payloads) stays out of the subscription metadata file.

A real google-cloud-pubsub client is gated behind an import-try in
:class:`RealBrokerClient`; the library is not installed in this
container.
"""

from __future__ import annotations

import bisect
import contextlib
import fcntl
import functools
import itertools
import json
import logging
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, NamedTuple

if TYPE_CHECKING:
    import pyarrow as pa

# pyarrow is imported where it is used, as in datasource.py: the Python
# processes Spark starts per query to plan batches, count backlogs and
# ack never read a segment, so they do not load it.


@functools.cache
def segment_schema() -> pa.Schema:
    """The columns of a topic segment and of a staged sink file."""
    import pyarrow as pa

    return pa.schema(
        [
            ("ordering_key", pa.string()),
            ("data", pa.binary()),
            ("attributes", pa.map_(pa.string(), pa.string())),
            ("publish_ts_us", pa.int64()),  # µs since epoch
            ("region", pa.string()),
        ]
    )


@functools.cache
def pull_schema() -> pa.Schema:
    """What ``pull_raw`` returns: one row per leased message."""
    import pyarrow as pa

    return pa.schema(
        [("ack_id", pa.string()), ("message_id", pa.string())]
        + list(segment_schema())
    )


_SEGMENT_NAME = re.compile(r"(\d{20})-(\d{20})\.arrow")
_HEAD = "head.json"  # a topic's end, sink fences and retention back-off
_RETRY_ABOVE = "retention_retry_above_bytes"
Fence = tuple[str, str | None, int]  # (sink_id, checkpoint_instance, batch_id)

_log = logging.getLogger(__name__)


def _write_atomic(path: str, data: str | bytes) -> None:
    """Replace ``path`` with ``data`` through a uniquely named tmp file
    and ``os.replace``, so a reader sees the old file or the new one,
    never a torn write. Creates the parent directory only when it is
    missing, so the common case does no extra I/O. No fsync."""
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    mode = "w" if isinstance(data, str) else "wb"
    try:
        fh = open(tmp, mode)
    except FileNotFoundError:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fh = open(tmp, mode)
    with fh:
        fh.write(data)
    os.replace(tmp, path)


def write_ipc(sink: str | pa.NativeFile, data: pa.RecordBatch | pa.Table) -> None:
    """Write ``data`` to ``sink`` (a path or an Arrow stream) as an
    Arrow IPC file."""
    import pyarrow as pa

    with pa.ipc.new_file(sink, data.schema) as writer:
        writer.write(data)


def write_segment(path: str, batches) -> int:
    """Write the ``segment_schema()`` record batches of the iterator
    ``batches`` to ``path`` as one Arrow IPC segment file, one batch at
    a time; returns the rows written. The file is built under a tmp
    name that starts with ``path`` and replaces ``path`` only once
    every batch is written, so ``path`` is whole or absent. No rows
    write no file; a failure unlinks the tmp file and re-raises."""
    import pyarrow as pa

    batches = (b for b in batches if b.num_rows)
    first = next(batches, None)
    if first is None:
        return 0
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    rows = 0
    try:
        with pa.ipc.new_file(tmp, segment_schema()) as writer:
            for batch in itertools.chain([first], batches):
                writer.write_batch(batch)
                rows += batch.num_rows
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise
    return rows


def read_ipc(path: str) -> pa.Table:
    """The Arrow IPC file at ``path``, memory-mapped."""
    import pyarrow as pa

    return pa.ipc.open_file(pa.memory_map(path)).read_all()


def segment_rows(path: str) -> int:
    """Rows of the segment file ``path``. Raises ``ValueError`` naming
    the path unless it opens as Arrow IPC with ``segment_schema()``."""
    import pyarrow as pa

    try:
        with pa.memory_map(path) as src:
            reader = pa.ipc.open_file(src)
            if not reader.schema.equals(segment_schema()):
                raise ValueError(
                    f"{path}: schema {reader.schema} is not the segment schema"
                )
            return sum(
                reader.get_batch(i).num_rows
                for i in range(reader.num_record_batches)
            )
    except pa.ArrowInvalid as e:
        raise ValueError(f"{path}: not an Arrow IPC segment file ({e})") from e


@dataclass(frozen=True)
class PubsubMessage:
    data: bytes
    attributes: dict[str, str] = field(default_factory=dict)
    ordering_key: str = ""
    message_id: str = ""
    publish_ts_us: int = 0  # µs since epoch (reference truncates to µs)
    region: str = "global"


def segment_batch(messages: list[PubsubMessage], now_us: int) -> pa.RecordBatch:
    """``messages`` as one ``segment_schema()`` batch; a message without
    a publish timestamp is stamped ``now_us``."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            pa.array([m.ordering_key for m in messages], pa.string()),
            pa.array([m.data for m in messages], pa.binary()),
            pa.array(
                [m.attributes for m in messages],
                segment_schema().field("attributes").type,
            ),
            pa.array([m.publish_ts_us or now_us for m in messages], pa.int64()),
            pa.array([m.region for m in messages], pa.string()),
        ],
        schema=segment_schema(),
    )


def to_messages(rows: pa.Table | pa.RecordBatch, message_ids) -> list[PubsubMessage]:
    """The ``PubsubMessage`` of each row of a table holding the
    ``segment_schema()`` columns; ``message_ids`` gives their ids."""
    c = rows.select(segment_schema().names).to_pydict()
    return [
        PubsubMessage(
            data=d,
            attributes=dict(a or ()),
            ordering_key=k,
            message_id=i,
            publish_ts_us=t,
            region=r,
        )
        for k, d, a, t, r, i in zip(
            c["ordering_key"],
            c["data"],
            c["attributes"],
            c["publish_ts_us"],
            c["region"],
            message_ids,
        )
    ]


@dataclass(frozen=True)
class ReceivedMessage:
    ack_id: str
    message: PubsubMessage


class Segment(NamedTuple):
    lo: int  # first seq
    hi: int  # one past the last seq
    path: str


class FileBroker:
    """File-backed broker rooted at ``root``; safe across processes."""

    def __init__(self, root: str, auto_compact_bytes: int | None = None):
        self.root = root
        #: opt-in retention (VERDICT r14 #4): when set, publish/commit
        #: runs a compaction pass whenever the topic's live segments
        #: exceed this many bytes, unlinking the segments every
        #: subscription has acked — the substrate twin of the sink
        #: stage-file GC. None keeps the historical grow-forever
        #: behavior (real Pub/Sub bounds retention at 7 days; this file
        #: fake bounds it by acks).
        self.auto_compact_bytes = auto_compact_bytes
        os.makedirs(os.path.join(root, "topics"), exist_ok=True)
        os.makedirs(os.path.join(root, "subs"), exist_ok=True)

    # -- locking ----------------------------------------------------------
    @contextlib.contextmanager
    def _lock(self):
        path = os.path.join(self.root, ".lock")
        with open(path, "a+") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh, fcntl.LOCK_UN)

    # -- paths ------------------------------------------------------------
    def _topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, "topics", topic.replace("/", "__"))

    def _sub_path(self, sub: str) -> str:
        return os.path.join(self.root, "subs", sub.replace("/", "__") + ".json")

    # -- head and segments ----------------------------------------------------
    @staticmethod
    def _head(d: str) -> dict:
        """The head of topic dir ``d``. Raises naming the dir when it has
        none: no such topic, or a dir in an older layout (``log.jsonl``,
        or segments written before heads) that would read as empty."""
        try:
            with open(os.path.join(d, _HEAD)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise RuntimeError(
                f"topic {d}: no {_HEAD}; not a topic of this broker"
            ) from None

    def _segments(
        self, d: str, end: int | None = None, names: list[str] | None = None
    ) -> list[Segment]:
        """The visible segments of topic dir ``d`` in seq order: those
        below ``end`` (the head's when not given), which must tile up to
        it. ``names`` is a listing of ``d`` the caller already took.
        Raises naming the dir on a gap or an overlap."""
        if end is None:
            end = self._head(d)["end"]
        if names is None:
            names = os.listdir(d)
        segs = sorted(
            Segment(int(m[1]), int(m[2]), os.path.join(d, m[0]))
            for m in map(_SEGMENT_NAME.fullmatch, names)
            if m and int(m[1]) < end
        )
        for prev, s in zip([None] + segs, segs):
            if s.hi < s.lo or (prev is not None and s.lo != prev.hi):
                raise RuntimeError(
                    f"topic {d}: segment {os.path.basename(s.path)} does not "
                    "tile with the segments before it (gap or overlap)"
                )
        if segs and segs[-1].hi != end:
            raise RuntimeError(
                f"topic {d}: segments end at {segs[-1].hi}, the head at {end}"
            )
        return segs

    def _append_locked(self, d: str, head: dict, files: list[tuple[str, int]]) -> int:
        """Rename each ``(path, rows)`` file into topic dir ``d`` as the
        next segment, then write ``head`` with the new end: the commit
        point. Returns the first seq minted. Caller holds the broker
        lock."""
        end = head["end"]
        names = os.listdir(d)
        for name in names:  # a killed append's leftovers sit past the end
            m = _SEGMENT_NAME.fullmatch(name)
            if m and int(m[1]) >= end:
                os.unlink(os.path.join(d, name))
        self._segments(d, end, names)  # raises unless the visible ones tile
        lo = end
        for path, n in files:
            os.rename(path, os.path.join(d, f"{lo:020d}-{lo + n:020d}.arrow"))
            lo += n
        head["end"] = lo
        _write_atomic(os.path.join(d, _HEAD), json.dumps(head))
        return end

    # -- admin ------------------------------------------------------------
    def create_topic(self, topic: str) -> None:
        """Create the topic's dir and head. A dir that already holds
        anything keeps what it has: a head is never written over an
        unknown layout."""
        d = self._topic_dir(topic)
        os.makedirs(d, exist_ok=True)
        with self._lock():
            if not os.listdir(d):
                _write_atomic(os.path.join(d, _HEAD), '{"end": 0, "sinks": {}}')

    def create_subscription(
        self, sub: str, topic: str, ack_deadline_s: float = 60.0
    ) -> None:
        self.create_topic(topic)
        state = {
            "topic": topic,
            "ack_deadline_s": ack_deadline_s,
            "acked_below": 0,  # all seqs < this are acked (compaction)
            "acked": [],  # sparse acked seqs >= acked_below
            # one group per pull: [expiry, [seq, ...]] — grouped (not
            # per-message dict entries) so the sub state re-serialized
            # on every pull stays ~7 bytes per outstanding message; the
            # ack id carries the seq (``ack-{seq}-{nonce}``), so acks
            # never need a per-id lookup table
            "lease_groups": [],
        }
        with self._lock():
            # A new sub starts at the first retained seq (the end when
            # none is), not 0: seqs below it no longer exist, so its ack
            # floor could never advance and would pin the topic's
            # retention floor at 0, disabling compaction for good.
            d = self._topic_dir(topic)
            end = self._head(d)["end"]
            segs = self._segments(d, end)
            state["acked_below"] = segs[0].lo if segs else end
            # atomic: a torn sub file would veto compaction of every
            # topic (_retention_floor_locked)
            _write_atomic(self._sub_path(sub), json.dumps(state))

    # -- topic retention (VERDICT r14 #4) -----------------------------------
    #
    # Subscription ack state compacts (``acked_below``); ``compact_topic``
    # drops the segments EVERY subscription of the topic has acked: those
    # whose ``hi`` is at or below the retention floor (min over
    # subscriptions of ``acked_below``). Nothing leased or undelivered
    # sits below that floor, because a lease pins an unacked seq and
    # ``acked_below`` cannot advance past an unacked seq. Segments are
    # unlinked lowest first, so a compaction killed midway leaves a
    # suffix that still tiles. The next range starts at the head's
    # ``end``, which no compaction lowers, so even when every segment
    # goes the next publish gets a seq above every acked one and a new
    # subscription starts there. The head and the topic dir are fsynced
    # before the first unlink: a power loss must never keep an unlink
    # but lose the end it was made under.

    def _retention_floor_locked(self, topic: str) -> int:
        """min over the topic's subscriptions of ``acked_below`` — the
        seq below which every message is acked by everyone. A topic
        with no subscriptions retains everything (conservative: the
        test helpers read unsubscribed topic logs); an unreadable sub
        file vetoes compaction entirely."""
        subs_dir = os.path.join(self.root, "subs")
        floor: int | None = None
        for fn in os.listdir(subs_dir):
            if not fn.endswith(".json"):
                continue  # _store_sub tmp files
            try:
                with open(os.path.join(subs_dir, fn)) as fh:
                    st = json.load(fh)
            except (OSError, json.JSONDecodeError):
                return 0
            if st.get("topic") != topic:
                continue
            ab = int(st.get("acked_below", 0))
            floor = ab if floor is None else min(floor, ab)
        return 0 if floor is None else floor

    def compact_topic(self, topic: str) -> dict:
        """Unlink the segments below the retention floor (see above).
        Returns ``{"floor_seq", "cut_bytes", "cut_messages"}``."""
        d = self._topic_dir(topic)
        if not os.path.isdir(d):
            raise KeyError(f"no such topic: {topic}")
        with self._lock():
            return self._compact_topic_locked(topic, d, self._head(d))

    def _compact_topic_locked(self, topic: str, d: str, head: dict) -> dict:
        floor = self._retention_floor_locked(topic)
        out = {"floor_seq": floor, "cut_bytes": 0, "cut_messages": 0}
        dead = [s for s in self._segments(d, head["end"]) if s.hi <= floor]
        if dead:
            for path in (os.path.join(d, _HEAD), d):
                fd = os.open(path, os.O_RDONLY)
                try:
                    os.fsync(fd)
                finally:
                    os.close(fd)
        for s in dead:
            out["cut_bytes"] += os.path.getsize(s.path)
            out["cut_messages"] += s.hi - s.lo
            os.unlink(s.path)
        return out

    def _maybe_auto_compact_locked(self, topic: str, d: str, head: dict) -> None:
        if self.auto_compact_bytes is None:
            return
        size = sum(os.path.getsize(s.path) for s in self._segments(d, head["end"]))
        if size <= self.auto_compact_bytes:
            return
        # r15 review: an UNDRAINED over-threshold topic (floor cannot
        # advance) would otherwise pay the full subs-directory scan
        # under the broker lock on every publish for the rest of its
        # life. After a no-op pass, back off until the topic grows by
        # another threshold; a pass that cuts re-arms immediately.
        if size < head.get(_RETRY_ABOVE, 0):
            return
        if self._compact_topic_locked(topic, d, head)["cut_bytes"]:
            if head.pop(_RETRY_ABOVE, None) is None:
                return
        else:
            head[_RETRY_ABOVE] = size + self.auto_compact_bytes
        _write_atomic(os.path.join(d, _HEAD), json.dumps(head))

    # -- publish ----------------------------------------------------------
    def publish(
        self,
        topic: str,
        messages: list[PubsubMessage],
        publish_ts_us: int | None = None,
    ) -> list[str]:
        """Append messages to the topic as one segment; returns assigned
        message ids. ``publish_ts_us`` pins the publish timestamp for
        deterministic tests (the real service stamps arrival time)."""
        d = self._topic_dir(topic)
        if not os.path.isdir(d):
            raise KeyError(f"no such topic: {topic}")
        if not messages:
            return []
        now_us = (
            publish_ts_us if publish_ts_us is not None else int(time.time() * 1e6)
        )
        tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")
        try:
            write_ipc(tmp, segment_batch(messages, now_us))
            with self._lock():
                head = self._head(d)
                lo = self._append_locked(d, head, [(tmp, len(messages))])
                self._maybe_auto_compact_locked(topic, d, head)
        except BaseException:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
            raise
        return [str(s) for s in range(lo, lo + len(messages))]

    def commit_staged(
        self, topic: str, staged_files: list[str], fence: Fence | None = None
    ) -> int:
        """Atomically append staged segment files to the topic (the
        sink's exactly-once commit); returns messages appended.

        Each file is renamed into the topic as the next segment. Every
        file must open as Arrow IPC with ``segment_schema()`` before any
        is renamed, so a bad file leaves the topic unchanged. A file
        without rows is left where it is.

        ``fence = (sink_id, checkpoint_instance, batch_id)`` makes the
        commit idempotent per batch: a batch at or below the sink's
        recorded ``last_batch`` appends nothing and returns 0, its files
        left in place. A record from another checkpoint instance counts
        as absent (batch ids restart at 0 in a new checkpoint). The
        record is written in the same head write that publishes the
        batch, so the two land together or not at all."""
        d = self._topic_dir(topic)
        if not os.path.isdir(d):
            raise KeyError(f"no such topic: {topic}")
        files = [(path, segment_rows(path)) for path in staged_files]
        files = [(path, n) for path, n in files if n]
        with self._lock():
            head = self._head(d)
            if fence is not None:
                sink_id, instance, batch_id = fence
                rec = head["sinks"].get(sink_id)
                if rec is not None and rec[0] != instance:
                    _log.info(
                        "topic %s: sink %s's fence record (batch %d) is from "
                        "checkpoint instance %s, not %s; voided",
                        topic, sink_id, rec[1], rec[0], instance,
                    )
                    rec = None
                if rec is not None and batch_id <= rec[1]:
                    return 0
                head["sinks"][sink_id] = [instance, batch_id]
            self._append_locked(d, head, files)
            self._maybe_auto_compact_locked(topic, d, head)
        return sum(n for _, n in files)

    # -- internal state helpers -------------------------------------------
    def _load_sub(self, sub: str) -> dict:
        path = self._sub_path(sub)
        if not os.path.exists(path):
            raise KeyError(f"no such subscription: {sub}")
        with open(path) as fh:
            return json.load(fh)

    def _store_sub(self, sub: str, state: dict) -> None:
        # json.dumps, not json.dump: only dumps uses the C encoder, and
        # this state lists every leased seq (written under the broker
        # lock on every pull and ack)
        _write_atomic(self._sub_path(sub), json.dumps(state))

    @staticmethod
    def _expire_leases(state: dict, now: float) -> None:
        """Drop expired lease groups, rewinding the delivery cursor to
        the lowest seq they held so a pull redelivers them."""
        groups = state["lease_groups"]
        state["lease_groups"] = [g for g in groups if g[0] > now and g[1]]
        lapsed = [min(g[1]) for g in groups if g[0] <= now and g[1]]
        if lapsed and "deliver_pos" in state:
            state["deliver_pos"] = min(state["deliver_pos"], *lapsed)

    @staticmethod
    def _leased_seqs(state: dict) -> set[int]:
        return {s for g in state["lease_groups"] for s in g[1]}

    @staticmethod
    def _ack_seq(ack_id: str) -> int | None:
        """Parse the seq out of an ``ack-{seq}-{nonce}`` ack id."""
        parts = ack_id.split("-")
        if len(parts) != 3 or parts[0] != "ack":
            return None
        try:
            return int(parts[1])
        except ValueError:
            return None

    @staticmethod
    def _compact_acked(state: dict) -> None:
        acked = sorted(set(state["acked"]))
        below = state["acked_below"]
        i = 0
        while i < len(acked) and acked[i] == below:
            below += 1
            i += 1
        state["acked_below"] = below
        state["acked"] = acked[i:]

    @staticmethod
    def _regions(segs: list[Segment], below: int):
        """``(seq, region)`` of every message at or above ``below``."""
        for s in segs:
            if s.hi <= below:
                continue
            start = max(below - s.lo, 0)
            regions = read_ipc(s.path).column("region").to_pylist()
            yield from enumerate(regions[start:], s.lo + start)

    # -- pull / ack ---------------------------------------------------------
    def pull(
        self, sub: str, max_messages: int, region: str | None = None
    ) -> list[ReceivedMessage]:
        """Lease up to ``max_messages`` undelivered messages (optionally
        restricted to one region — the reference's per-region endpoint
        pulls, PubsubMicroBatchStream.scala:58-74)."""
        batch = self.pull_raw(sub, max_messages, region)
        return [
            ReceivedMessage(ack_id=a, message=m)
            for a, m in zip(
                batch.column("ack_id").to_pylist(),
                to_messages(batch, batch.column("message_id").to_pylist()),
            )
        ]

    def pull_raw(
        self, sub: str, max_messages: int, region: str | None = None
    ) -> pa.RecordBatch:
        """``pull`` as one ``pull_schema()`` RecordBatch, the shape the
        connector's partition readers consume.

        All consumers serialize through the global broker lock, so the
        critical section does only lease bookkeeping. A region-less
        pull is seq arithmetic: it resumes at the delivery cursor
        ``deliver_pos`` (every seq below it is acked or under a live
        lease) and skips acked and leased seqs. A region-pinned pull
        skips other regions WITHOUT leasing them, so it reads the region
        column of the unacked segments from the ack floor on and leaves
        the delivery cursor alone. The lock is held only to memory-map
        the leased rows' segments; they are decoded after it is
        released. That is safe: a leased seq is unacked, so no
        compaction unlinks its segment meanwhile, and an open file
        stays readable after an unlink anyway."""
        import pyarrow as pa
        import pyarrow.compute as pc

        now = time.time()
        with self._lock():
            state = self._load_sub(sub)
            d = self._topic_dir(state["topic"])
            end = self._head(d)["end"]
            segs = self._segments(d, end)
            self._expire_leases(state, now)
            acked = set(state["acked"])
            leased = self._leased_seqs(state)
            below = state["acked_below"]
            if region is None:
                start = max(below, state.get("deliver_pos", below))
                candidates = range(start, end)
            else:
                candidates = (
                    s for s, r in self._regions(segs, below) if r == region
                )
            picked: list[int] = []
            consumed_to = None
            for s in candidates:
                if len(picked) >= max_messages:
                    break
                consumed_to = s + 1
                if s not in acked and s not in leased:
                    picked.append(s)
            if picked:
                state["lease_groups"].append(
                    [now + state["ack_deadline_s"], picked]
                )
            if region is None and consumed_to is not None:
                state["deliver_pos"] = consumed_to
            self._store_sub(sub, state)
            los = [s.lo for s in segs]
            rows: dict[int, list[int]] = {}
            for s in picked:
                i = bisect.bisect_right(los, s) - 1
                rows.setdefault(i, []).append(s - los[i])
            sources = [(pa.memory_map(segs[i].path), r) for i, r in rows.items()]
        if not picked:
            return pa.RecordBatch.from_pylist([], schema=pull_schema())
        taken = pa.concat_tables(
            [pa.ipc.open_file(src).read_all().take(r) for src, r in sources]
        )
        seg = taken.combine_chunks().to_batches()[0]
        ids = pc.cast(pa.array(picked, pa.int64()), pa.string())
        # one nonce per pull: the seq already makes each ack id unique
        # within the pull, the nonce tells redeliveries apart
        acks = pc.binary_join_element_wise("ack", ids, uuid.uuid4().hex[:8], "-")
        return pa.RecordBatch.from_arrays(
            [acks, ids, *seg.columns], schema=pull_schema()
        )

    @staticmethod
    def _take_leased(state: dict, wanted: set[int]) -> list[int]:
        """Take the ``wanted`` seqs out of their lease groups, dropping
        emptied groups; returns the seqs taken. A seq no group holds
        (unknown, or its lease expired) is not taken."""
        taken: list[int] = []
        for g in state["lease_groups"]:
            if not wanted.isdisjoint(g[1]):
                keep = []
                for s in g[1]:
                    if s in wanted:
                        taken.append(s)
                        wanted.discard(s)
                    else:
                        keep.append(s)
                g[1] = keep
        state["lease_groups"] = [g for g in state["lease_groups"] if g[1]]
        return taken

    def acknowledge(self, sub: str, ack_ids: list[str]) -> int:
        """Ack leased messages; unknown/expired ack ids are ignored
        (matching the real service's idempotent acks)."""
        wanted = {
            s for s in (self._ack_seq(a) for a in ack_ids) if s is not None
        }
        if not wanted:
            return 0
        with self._lock():
            state = self._load_sub(sub)
            taken = self._take_leased(state, wanted)
            state["acked"].extend(taken)
            self._compact_acked(state)
            self._store_sub(sub, state)
        return len(taken)

    def modify_ack_deadline(self, sub: str, ack_ids: list[str], seconds: float) -> None:
        """0 seconds == nack → immediate redelivery."""
        wanted = {
            s for s in (self._ack_seq(a) for a in ack_ids) if s is not None
        }
        now = time.time()
        with self._lock():
            state = self._load_sub(sub)
            moved = self._take_leased(state, wanted)
            if moved:
                state["lease_groups"].append([now + seconds, moved])
            self._expire_leases(state, now)
            self._store_sub(sub, state)

    # -- monitoring (Cloud Monitoring stand-in) ----------------------------
    def backlog(self, sub: str) -> int:
        """Unacked messages, leased ones included (like the real metric).

        Seqs are dense from the subscription's ``acked_below`` up to the
        head's ``end``, so the backlog is a count: no listing, no
        segment read, no state write. It equals
        ``sum(backlog_by_region(sub).values())``."""
        with self._lock():
            return self._backlog_locked(self._load_sub(sub))

    def _backlog_locked(self, state: dict) -> int:
        end = self._head(self._topic_dir(state["topic"]))["end"]
        return end - state["acked_below"] - len(state["acked"])

    def deliverable(self, sub: str) -> int:
        """Messages a pull could lease now: the backlog minus those under
        an unexpired lease. Counted like ``backlog``, with no segment
        read. Every leased seq is unacked and sits in exactly one lease
        group, so no message is subtracted twice."""
        now = time.time()
        with self._lock():
            state = self._load_sub(sub)
            leased = sum(len(g[1]) for g in state["lease_groups"] if g[0] > now)
            return self._backlog_locked(state) - leased

    def backlog_by_region(self, sub: str) -> dict[str, int]:
        """num_unacked_messages_by_region equivalent
        (PubsubSubscriptionMonitor.scala:155-210). Leased-but-unacked
        messages still count as backlog, like the real metric. Reads the
        region column of the unacked segments; only dynamic partition
        planning needs the per-region split."""
        with self._lock():
            state = self._load_sub(sub)
            segs = self._segments(self._topic_dir(state["topic"]))
            acked = set(state["acked"])
            out: dict[str, int] = {}
            for s, r in self._regions(segs, state["acked_below"]):
                if s not in acked:
                    out[r] = out.get(r, 0) + 1
        return out

    def topic_messages(self, topic: str) -> list[PubsubMessage]:
        """Test helper: every retained message, in seq order."""
        with self._lock():
            segs = self._segments(self._topic_dir(topic))
            return [
                m
                for s in segs
                for m in to_messages(read_ipc(s.path), map(str, range(s.lo, s.hi)))
            ]


class RealBrokerClient:
    """google-cloud-pubsub-backed client with the FileBroker interface.

    Swapping ``FileBroker(broker_dir)`` for
    ``RealBrokerClient(project_id)`` is the only change needed to run
    the connector against the real service: every method the connector
    consumes (``pull_raw`` / ``acknowledge`` / ``modify_ack_deadline`` /
    ``commit_staged`` / ``backlog`` / ``deliverable`` /
    ``backlog_by_region`` / admin) has the same name, signature, and
    return shape (``tests/test_broker.py::TestRealClientParity`` pins
    this without the dependency installed).

    The container ships no ``google-cloud-pubsub`` (and no network), so
    construction raises a descriptive ``ImportError`` when the library
    is absent; nothing past ``__init__`` executes offline. The wiring
    mirrors the reference:

    - per-endpoint cached subscriber clients, created on first use and
      replaced if terminated (Subscriber.scala:57-80 ``getOrCreate``);
      region-pinned pulls go through ``region_endpoint(region)``
      (package.scala:87-97), an explicit ``endpoint`` overrides
      everything (Subscriber.scala:64-70).
    - one cached publisher per (topic, ordering) with the reference's
      batching + flow control: ≤20 MB / ≤1,000 outstanding, Block on
      limit, 20-element / 10 ms batch thresholds
      (CachedPublishers.scala:19-35), message ordering enabled only
      when an ordering key is in play (CachedPublishers.scala:53).
    - ``localhost`` endpoints use plaintext/anonymous credentials, the
      emulator path (Subscriber.scala:38-54 customSubscriberSettings).
    """

    #: reference flow-control constants (CachedPublishers.scala:21-31)
    MAX_OUTSTANDING_BYTES = 20 * 1024 * 1024
    MAX_OUTSTANDING_MESSAGES = 1_000
    BATCH_MAX_MESSAGES = 20
    BATCH_MAX_LATENCY_S = 0.010
    #: ack ids per acknowledge request: the service's request-size
    #: limit, which the reference chunks by (PubsubMicroBatchStream.scala:97)
    ACK_CHUNK = 1_500

    @staticmethod
    def resolve_endpoint(region: str | None = None, endpoint: str | None = None) -> str:
        """Endpoint selection, testable without the client library: an
        explicit endpoint wins (Subscriber.scala:64-70 endpointOverride),
        else the region maps through ``region_endpoint()``
        (package.scala:87-97), else the global endpoint."""
        from .options import region_endpoint

        return (endpoint or region_endpoint(region)).lower()

    def __init__(
        self,
        project_id: str,
        region: str | None = None,
        endpoint: str | None = None,
    ):
        self.project_id = project_id
        self.endpoint = self.resolve_endpoint(region, endpoint)
        try:
            from google.cloud import pubsub_v1
        except ImportError as e:
            raise ImportError(
                "google-cloud-pubsub is not installed; use FileBroker "
                "(option broker_dir=...) for offline operation"
            ) from e
        self._pubsub_v1 = pubsub_v1
        self._subscribers: dict[str, object] = {}  # endpoint -> client
        self._publishers: dict[tuple[str, bool], object] = {}

    # -- client caches (Subscriber.scala:57-80 / CachedPublishers.scala) --

    def _client_kwargs(self, endpoint: str) -> dict:
        kw: dict = {"client_options": {"api_endpoint": endpoint}}
        if endpoint.startswith(("localhost", "127.0.0.1")):
            # emulator path: plaintext + no credentials
            # (Subscriber.scala:38-54); loopback spelled either way
            from google.auth.credentials import AnonymousCredentials

            kw["credentials"] = AnonymousCredentials()
        return kw

    def _subscriber(self, region: str | None = None):
        from .options import region_endpoint

        ep = self.endpoint if region is None else region_endpoint(region).lower()
        cli = self._subscribers.get(ep)
        if cli is None:
            cli = self._pubsub_v1.SubscriberClient(**self._client_kwargs(ep))
            self._subscribers[ep] = cli
        return cli

    def _publisher(self, ordering: bool):
        key = (self.endpoint, ordering)
        pub = self._publishers.get(key)
        if pub is None:
            t = self._pubsub_v1.types
            pub = self._pubsub_v1.PublisherClient(
                batch_settings=t.BatchSettings(
                    max_messages=self.BATCH_MAX_MESSAGES,
                    max_latency=self.BATCH_MAX_LATENCY_S,
                ),
                publisher_options=t.PublisherOptions(
                    enable_message_ordering=ordering,
                    flow_control=t.PublishFlowControl(
                        message_limit=self.MAX_OUTSTANDING_MESSAGES,
                        byte_limit=self.MAX_OUTSTANDING_BYTES,
                        limit_exceeded_behavior=t.LimitExceededBehavior.BLOCK,
                    ),
                ),
                **self._client_kwargs(self.endpoint),
            )
            self._publishers[key] = pub
        return pub

    def _topic_path(self, topic: str) -> str:
        return f"projects/{self.project_id}/topics/{topic}"

    def _sub_path(self, sub: str) -> str:
        return f"projects/{self.project_id}/subscriptions/{sub}"

    # -- admin ------------------------------------------------------------

    def create_topic(self, topic: str) -> None:
        self._publisher(False).create_topic(
            request={"name": self._topic_path(topic)}
        )

    def create_subscription(
        self, sub: str, topic: str, ack_deadline_s: float = 60.0
    ) -> None:
        self._subscriber().create_subscription(
            request={
                "name": self._sub_path(sub),
                "topic": self._topic_path(topic),
                "ack_deadline_seconds": int(ack_deadline_s),
            }
        )

    # -- publish ----------------------------------------------------------

    def publish(
        self,
        topic: str,
        messages: list[PubsubMessage],
        publish_ts_us: int | None = None,
    ) -> list[str]:
        """Publish through the cached batching publisher; blocks on the
        flow-control limits like the reference (LimitExceededBehavior.
        Block). The real service stamps publish time — ``publish_ts_us``
        is accepted for signature parity but ignored."""
        ordering = any(m.ordering_key for m in messages)
        pub = self._publisher(ordering)
        futures = [
            pub.publish(
                self._topic_path(topic),
                m.data,
                ordering_key=m.ordering_key or "",
                **(m.attributes or {}),
            )
            for m in messages
        ]
        return [f.result() for f in futures]

    def commit_staged(
        self, topic: str, staged_files: list[str], fence: Fence | None = None
    ) -> int:
        """Publish staged segment files (Arrow IPC, ``segment_schema()``:
        the sink writer's on-disk format). Against the real service the
        staged-commit degrades to at-least-once — exactly the
        reference publisher's guarantee (PubsubStreamingWrite.scala) —
        because there is no atomic multi-file publish. ``fence`` is
        accepted for signature parity and ignored: the service has no
        transactional publish to record it in, so a re-committed batch
        is published again."""
        n = 0
        for path in staged_files:
            rows = read_ipc(path)
            self.publish(topic, to_messages(rows, [""] * rows.num_rows))
            n += rows.num_rows
        return n

    # -- pull / ack (Subscriber.scala pull surface) ------------------------

    def pull(
        self, sub: str, max_messages: int, region: str | None = None
    ) -> list[ReceivedMessage]:
        resp = self._subscriber(region).pull(
            request={
                "subscription": self._sub_path(sub),
                "max_messages": max_messages,
            },
            timeout=10.0,  # Subscriber.scala:15 PullTimeOutDefault
        )
        out = []
        for rm in resp.received_messages:
            m = rm.message
            ts = m.publish_time
            out.append(
                ReceivedMessage(
                    ack_id=rm.ack_id,
                    message=PubsubMessage(
                        data=bytes(m.data),
                        attributes=dict(m.attributes),
                        ordering_key=m.ordering_key,
                        message_id=m.message_id,
                        publish_ts_us=ts.seconds * 1_000_000 + ts.nanos // 1_000,
                        region=region or "global",
                    ),
                )
            )
        return out

    def pull_raw(
        self, sub: str, max_messages: int, region: str | None = None
    ) -> pa.RecordBatch:
        """FileBroker's ``pull_schema()`` batch over a real service pull
        (the partition readers consume this directly)."""
        import pyarrow as pa

        received = self.pull(sub, max_messages, region)
        seg = segment_batch([rm.message for rm in received], 0)
        return pa.RecordBatch.from_arrays(
            [
                pa.array([rm.ack_id for rm in received], pa.string()),
                pa.array([rm.message.message_id for rm in received], pa.string()),
                *seg.columns,
            ],
            schema=pull_schema(),
        )

    def acknowledge(self, sub: str, ack_ids: list[str]) -> int:
        for i in range(0, len(ack_ids), self.ACK_CHUNK):
            self._subscriber().acknowledge(
                request={
                    "subscription": self._sub_path(sub),
                    "ack_ids": ack_ids[i : i + self.ACK_CHUNK],
                }
            )
        return len(ack_ids)

    def modify_ack_deadline(
        self, sub: str, ack_ids: list[str], seconds: float
    ) -> None:
        if not ack_ids:
            return
        self._subscriber().modify_ack_deadline(
            request={
                "subscription": self._sub_path(sub),
                "ack_ids": ack_ids,
                "ack_deadline_seconds": int(seconds),
            }
        )

    # -- monitoring (PubsubSubscriptionMonitor.scala:155-210) --------------

    def backlog(self, sub: str) -> int:
        return sum(self.backlog_by_region(sub).values())

    def deliverable(self, sub: str) -> int:
        """The service reports no lease counts, so this is the backlog:
        an upper bound, which never plans an empty batch over messages
        a pull could lease. The count also sizes each plan (at most
        ceil(deliverable / max_messages_per_partition) pulls), and Cloud
        Monitoring reports it with a lag. An undercount plans fewer
        pulls than the batch could fill: the messages left over wait
        one batch, none is lost."""
        return self.backlog(sub)

    def backlog_by_region(self, sub: str) -> dict[str, int]:
        """num_unacked_messages_by_region from Cloud Monitoring, the
        metric the reference's backlog monitor polls
        (PubsubSubscriptionMonitor.scala:155-210)."""
        try:
            from google.cloud import monitoring_v3
        except ImportError as e:
            raise ImportError(
                "google-cloud-monitoring is required for backlog metrics "
                "(dynamic partitioning) against the real service"
            ) from e
        client = monitoring_v3.MetricServiceClient()
        now = int(time.time())
        results = client.list_time_series(
            request={
                "name": f"projects/{self.project_id}",
                "filter": (
                    'metric.type="pubsub.googleapis.com/subscription/'
                    'num_unacked_messages_by_region" AND '
                    f'resource.labels.subscription_id="{sub}"'
                ),
                "interval": {
                    "end_time": {"seconds": now},
                    "start_time": {"seconds": now - 300},
                },
                "view": monitoring_v3.ListTimeSeriesRequest.TimeSeriesView.FULL,
            }
        )
        out: dict[str, int] = {}
        for series in results:
            r = series.metric.labels.get("region", "global")
            if series.points:
                out[r] = out.get(r, 0) + int(series.points[0].value.int64_value)
        return out

    def topic_messages(self, topic: str) -> list[PubsubMessage]:
        raise NotImplementedError(
            "topic_messages is a FileBroker test helper; the real "
            "service has no committed-log read API"
        )
