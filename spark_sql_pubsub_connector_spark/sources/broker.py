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

On a 1000-executor cluster this file broker is replaced by the real
service — the interface is the contract, and all scale-sensitive state
(message payloads) stays out of the subscription metadata file.

A real google-cloud-pubsub client is gated behind an import-try in
:class:`RealBrokerClient`; the library is not installed in this
container.
"""

from __future__ import annotations

import base64
import contextlib
import fcntl
import json
import os
import time
import uuid
from dataclasses import dataclass, field


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


@dataclass(frozen=True)
class PubsubMessage:
    data: bytes
    attributes: dict[str, str] = field(default_factory=dict)
    ordering_key: str = ""
    message_id: str = ""
    publish_ts_us: int = 0  # µs since epoch (reference truncates to µs)
    region: str = "global"

    @staticmethod
    def from_record(rec: dict) -> PubsubMessage:
        """The message a topic-log record (or ``pull_raw`` record) holds."""
        return PubsubMessage(
            data=base64.b64decode(rec["data_b64"]),
            attributes=rec.get("attributes") or {},
            ordering_key=rec.get("ordering_key", ""),
            message_id=rec["message_id"],
            publish_ts_us=rec["publish_ts_us"],
            region=rec.get("region", "global"),
        )


@dataclass(frozen=True)
class ReceivedMessage:
    ack_id: str
    message: PubsubMessage


class FileBroker:
    """File-backed broker rooted at ``root``; safe across processes."""

    def __init__(self, root: str, auto_compact_bytes: int | None = None):
        self.root = root
        #: opt-in retention (VERDICT r14 #4): when set, publish/commit
        #: runs a compaction pass whenever the topic log exceeds this
        #: many bytes, cutting the prefix every subscription has acked
        #: — the substrate twin of the sink stage-file GC. None keeps
        #: the historical grow-forever behavior (real Pub/Sub bounds
        #: retention at 7 days; this file fake bounds it by acks).
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

    # -- admin ------------------------------------------------------------
    def create_topic(self, topic: str) -> None:
        d = self._topic_dir(topic)
        os.makedirs(d, exist_ok=True)
        seq = os.path.join(d, ".seq")
        if not os.path.exists(seq):
            with open(seq, "w") as fh:
                fh.write("0")

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
            # r15 review: a subscription created AFTER a compaction must
            # start its ack cursor at the retention floor, not 0 — seqs
            # below the floor no longer exist, so the dense-prefix
            # advance in _compact_acked could never leave 0: the sub's
            # sparse acked list would grow forever AND pin the topic's
            # retention floor at 0, permanently disabling compaction.
            # Starting at the floor keeps the pre-retention semantics
            # (a new sub sees every RETAINED message) intact.
            meta = self._load_topic_meta_locked(topic)
            state["acked_below"] = meta.get("compacted_below_seq", 0)
            # atomic: a torn sub file would veto compaction of every
            # topic (_retention_floor_locked)
            _write_atomic(self._sub_path(sub), json.dumps(state))

    # -- crash-safe sequence minting ---------------------------------------
    def _next_seq(self, d: str, repair: bool = True) -> int:
        """Next dense sequence number for a topic dir, crash-safe
        (r14 self-review, the publish twin of the r13 sink find).

        Both appenders write ``log.jsonl`` FIRST and the ``.seq``
        counter AFTER, so a crash between the two leaves committed
        lines the counter does not cover; minting from the stale
        counter would assign DUPLICATE seq numbers to new messages —
        silent log corruption (acks conflate distinct messages, the
        dense-seq scan cursor under-delivers). Recovery, under the
        broker lock, in two steps:

        1. A torn tail line (a crashed append's partial final write —
           no trailing newline) is TRUNCATED: its publish/commit never
           returned success to the caller, so removing it is the clean
           at-least-once outcome (the publisher retries; a sink batch
           was never recorded committed and re-commits whole).
        2. The next seq is ``max(counter, last_intact_line_seq + 1)``,
           so the counter lagging the log can never re-mint a live seq.

        ``repair=False`` is the read-only form for counting: a torn
        tail is skipped, not truncated.
        """
        with open(os.path.join(d, ".seq")) as fh:
            seq = int(fh.read().strip() or "0")
        path = os.path.join(d, "log.jsonl")

        def read_back_to_newline(fh, end: int) -> bytes:
            # bytes [start, end) where start is just past the last
            # newline strictly before `end` (or 0): i.e. the final
            # line of the region, COMPLETE even when it exceeds one
            # window (a single message line can be megabytes). Each
            # window is searched once as it is read — no re-scan or
            # re-copy of the accumulated buffer, so the walk is O(L)
            # for an L-byte final line (r14 review: the first version
            # re-sliced the whole buffer per window, O(L²) under the
            # global broker lock).
            chunks: list[bytes] = []
            pos = end
            first = True
            while pos > 0:
                step = min(pos, 1 << 16)
                fh.seek(pos - step)
                chunk = fh.read(step)
                pos -= step
                # exclude the region's very last byte from the search
                # so a trailing newline is part of the final line, not
                # its separator
                hi = len(chunk) - 1 if first else len(chunk)
                first = False
                cut = chunk.rfind(b"\n", 0, hi)
                if cut >= 0:
                    chunks.append(chunk[cut + 1 :])
                    return b"".join(reversed(chunks))
                chunks.append(chunk)
            return b"".join(reversed(chunks))

        try:
            with open(path, "rb+" if repair else "rb") as fh:
                fh.seek(0, os.SEEK_END)
                size = fh.tell()
                if size == 0:
                    return seq
                last = read_back_to_newline(fh, size)
                if not last.endswith(b"\n"):
                    # torn tail: cut back to the last complete line
                    if repair:
                        fh.truncate(size - len(last))
                    size -= len(last)
                    last = read_back_to_newline(fh, size) if size else b""
                if last.strip():
                    seq = max(seq, self._seq_of(last) + 1)
        except FileNotFoundError:
            pass
        return seq

    # -- topic-log retention (VERDICT r14 #4) -------------------------------
    #
    # ``log.jsonl`` used to grow forever: subscription ack state compacts
    # (``acked_below``), but the topic log kept every message ever
    # published. ``compact_topic`` cuts the prefix EVERY subscription of
    # the topic has acked (min over subscriptions of ``acked_below``) —
    # nothing leased or undelivered can sit below that floor, because a
    # lease pins an unacked seq and ``acked_below`` cannot advance past
    # an unacked seq.
    #
    # Cutting shifts every byte in the file, and subscriptions cache
    # BYTE cursors (``scan_pos``/``deliver_pos``/lease-group starts) as
    # pure performance state over the seq-authoritative ack bookkeeping.
    # Rewriting all cursor files atomically with the cut is impossible
    # with per-file atomic replaces, so the protocol makes stale cursors
    # *detectable* instead (the same shape as the r14 seq-minting fix —
    # write-ahead, then resolve on next entry):
    #
    #   1. meta.json ← {token: NEW, cut_below_seq: floor, state:
    #      "pending"} (atomic replace). The token identifies the byte
    #      LAYOUT of the log; it changes only here.
    #   2. the cut: retained bytes copied to a tmp file, atomic replace
    #      of log.jsonl (idempotent — a second pass finds nothing below
    #      the floor).
    #   3. meta.json ← state: "done" (atomic replace).
    #
    # Every cursor consumer syncs first (``_sync_cursors``): a sub whose
    # stored ``cursor_token`` differs from the topic's resets its byte
    # cursors to 0 and rescans — always CORRECT (the seq-based acked/
    # leased checks skip duplicates), merely one rescan slower. A crash
    # anywhere in 1–3 leaves either the old layout with the old token
    # (harmless) or a "pending" meta that the next lock holder resolves
    # by re-running the idempotent cut — never a cut log paired with
    # trusted stale cursors, which is the one lethal combination (it
    # would silently SKIP unacked bytes).

    def _topic_meta_path(self, d: str) -> str:
        return os.path.join(d, "meta.json")

    def _store_topic_meta(self, d: str, meta: dict) -> None:
        tmp = self._topic_meta_path(d) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._topic_meta_path(d))
        self._fsync_dir(d)

    @staticmethod
    def _fsync_dir(d: str) -> None:
        """Make a rename in ``d`` durable (r15 review: the write-ahead
        ordering 'meta token changes BEFORE the log layout' only holds
        across power loss if each os.replace is fsynced through the
        directory — otherwise the log's rename can survive a crash the
        meta's rename did not, re-creating the cut-log +
        trusted-stale-cursors pairing the protocol exists to prevent)."""
        fd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def _load_topic_meta_locked(self, topic: str) -> dict:
        """Topic meta, RESOLVING a pending compaction. Caller must hold
        the broker lock (resolution mutates the log)."""
        d = self._topic_dir(topic)
        path = self._topic_meta_path(d)
        if not os.path.exists(path):
            return {}
        with open(path) as fh:
            meta = json.load(fh)
        if meta.get("state") == "pending":
            # crash mid-compaction: finish the idempotent cut, then
            # mark done — cursors reset against the token either way
            self._cut_log_below(d, meta["cut_below_seq"])
            meta["state"] = "done"
            meta["compacted_below_seq"] = meta["cut_below_seq"]
            self._store_topic_meta(d, meta)
        return meta

    def _sync_cursors(self, state: dict, topic: str) -> None:
        """Reset a subscription's byte cursors if the topic log's byte
        layout changed under them (compaction). Seq-based state
        (``acked_below``/``acked``/lease seqs) is layout-independent
        and untouched; the rescan from byte 0 re-skips it."""
        meta = self._load_topic_meta_locked(topic)
        tok = meta.get("token")
        if state.get("cursor_token", None) == tok:
            return
        state.pop("scan_pos", None)
        state.pop("deliver_pos", None)
        for g in state["lease_groups"]:
            g[2] = 0
        state["cursor_token"] = tok

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

    def _cut_log_below(self, d: str, floor: int) -> tuple[int, int]:
        """Remove the log prefix of intact lines with seq < ``floor``
        via copy + atomic replace; returns (bytes_cut, lines_cut).
        Idempotent: an already-cut log has no such prefix. A torn tail
        is copied through untouched (readers already ignore it; the
        next append repairs it)."""
        path = os.path.join(d, "log.jsonl")
        if not os.path.exists(path):
            return 0, 0
        cut = 0
        lines = 0
        with open(path, "rb") as fh:
            for raw in fh:
                if not raw.endswith(b"\n"):
                    break  # torn tail — never below an acked floor
                if not raw.strip():
                    cut += len(raw)  # dead bytes ride along with the cut
                    continue
                if self._seq_of(raw) >= floor:
                    break
                cut += len(raw)
                lines += 1
            if cut == 0:
                return 0, 0
            tmp = path + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "wb") as out:
                fh.seek(cut)
                while True:
                    chunk = fh.read(1 << 20)
                    if not chunk:
                        break
                    out.write(chunk)
                out.flush()
                os.fsync(out.fileno())
        os.replace(tmp, path)
        self._fsync_dir(d)
        return cut, lines

    def compact_topic(self, topic: str) -> dict:
        """Truncate ``log.jsonl`` below the retention floor (min over
        subscriptions of ``acked_below``), write-ahead protocol above.
        Returns ``{"floor_seq", "cut_bytes", "cut_messages"}``."""
        d = self._topic_dir(topic)
        if not os.path.isdir(d):
            raise KeyError(f"no such topic: {topic}")
        with self._lock():
            return self._compact_topic_locked(topic, d)

    def _compact_topic_locked(self, topic: str, d: str) -> dict:
        meta = self._load_topic_meta_locked(topic)  # resolves pending
        floor = self._retention_floor_locked(topic)
        out = {"floor_seq": floor, "cut_bytes": 0, "cut_messages": 0}
        if floor <= meta.get("compacted_below_seq", 0):
            return out
        # the cut can remove the log's last line: bring a counter that
        # lags the log (crash between append and counter write) up to
        # date first, or the next publish would re-mint cut seqs below
        # the ack floor and those messages would read as acked
        with open(os.path.join(d, ".seq"), "w") as fh:
            fh.write(str(self._next_seq(d)))
        meta = {
            "token": uuid.uuid4().hex,
            "cut_below_seq": floor,
            "state": "pending",
            "compacted_below_seq": meta.get("compacted_below_seq", 0),
        }
        self._store_topic_meta(d, meta)  # write-ahead: step 1
        cut, lines = self._cut_log_below(d, floor)  # step 2
        meta["state"] = "done"
        meta["compacted_below_seq"] = floor
        self._store_topic_meta(d, meta)  # step 3
        out["cut_bytes"] = cut
        out["cut_messages"] = lines
        return out

    def _maybe_auto_compact_locked(self, topic: str, d: str) -> None:
        if self.auto_compact_bytes is None:
            return
        try:
            size = os.path.getsize(os.path.join(d, "log.jsonl"))
        except OSError:
            return
        if size <= self.auto_compact_bytes:
            return
        # r15 review: an UNDRAINED over-threshold topic (floor cannot
        # advance) would otherwise pay the full subs-directory scan
        # under the broker lock on every publish for the rest of its
        # life. After a no-op pass, back off until the log grows by
        # another threshold; a successful cut rewrites meta without
        # the key, re-arming immediately.
        meta = self._load_topic_meta_locked(topic)
        if size < meta.get("retention_retry_above_bytes", 0):
            return
        res = self._compact_topic_locked(topic, d)
        if res["cut_bytes"] == 0:
            meta = self._load_topic_meta_locked(topic)
            meta["retention_retry_above_bytes"] = (
                size + self.auto_compact_bytes
            )
            self._store_topic_meta(d, meta)

    # -- publish ----------------------------------------------------------
    def publish(
        self,
        topic: str,
        messages: list[PubsubMessage],
        publish_ts_us: int | None = None,
    ) -> list[str]:
        """Append messages to the topic log; returns assigned message ids.
        ``publish_ts_us`` pins the publish timestamp for deterministic
        tests (the real service stamps arrival time)."""
        d = self._topic_dir(topic)
        if not os.path.isdir(d):
            raise KeyError(f"no such topic: {topic}")
        now_us = (
            publish_ts_us if publish_ts_us is not None else int(time.time() * 1e6)
        )
        with self._lock():
            seq = self._next_seq(d)
            ids = []
            with open(os.path.join(d, "log.jsonl"), "a") as log:
                for m in messages:
                    mid = str(seq)
                    log.write(
                        json.dumps(
                            {
                                "seq": seq,
                                "message_id": mid,
                                "ordering_key": m.ordering_key,
                                "data_b64": base64.b64encode(m.data).decode(),
                                "attributes": m.attributes,
                                "publish_ts_us": m.publish_ts_us or now_us,
                                "region": m.region,
                            }
                        )
                        + "\n"
                    )
                    ids.append(mid)
                    seq += 1
            with open(os.path.join(d, ".seq"), "w") as fh:
                fh.write(str(seq))
            self._maybe_auto_compact_locked(topic, d)
        return ids

    def commit_staged(self, topic: str, staged_files: list[str]) -> int:
        """Atomically append pre-staged JSONL message files to the topic
        log (the sink's exactly-once commit); returns messages appended.

        Sequence numbers are spliced in as a text prefix — staged lines
        are JSON objects (the writer emits them without seq or
        message_id), so ``{"seq": N, "message_id": "N", <rest>`` is
        valid JSON without re-parsing and re-serializing every message
        under the broker lock."""
        d = self._topic_dir(topic)
        if not os.path.isdir(d):
            raise KeyError(f"no such topic: {topic}")
        # Validate and buffer EVERY staged line before appending any:
        # a malformed line discovered mid-append would leave earlier
        # lines in the log with .seq never advanced, so the next
        # publish would mint duplicate seq numbers — silent log
        # corruption. Staged chunks are bounded (publish_batch_size),
        # so buffering one commit's bodies is driver-side small.
        bodies: list[str] = []
        for path in staged_files:
            with open(path) as src:
                for line in src:
                    line = line.strip()
                    if not line:
                        continue
                    if line[0] != "{":
                        # never assert here: under ``python -O`` an
                        # assert vanishes and a malformed line would be
                        # spliced verbatim into the shared topic log,
                        # corrupting it for every consumer
                        raise ValueError(
                            f"staged line must be a JSON object "
                            f"(got {line[:40]!r} in {path})"
                        )
                    bodies.append(line[1:])
        n = 0
        with self._lock():
            seq = self._next_seq(d)
            with open(os.path.join(d, "log.jsonl"), "a") as log:
                for body in bodies:
                    sep = "" if body.lstrip().startswith("}") else " "
                    log.write(
                        f'{{"seq": {seq}, "message_id": "{seq}"'
                        + ("," if sep else "")
                        + sep
                        + body
                        + "\n"
                    )
                    seq += 1
                    n += 1
            with open(os.path.join(d, ".seq"), "w") as fh:
                fh.write(str(seq))
            self._maybe_auto_compact_locked(topic, d)
        return n

    # -- internal state helpers -------------------------------------------
    def _read_log(self, topic: str) -> list[dict]:
        path = os.path.join(self._topic_dir(topic), "log.jsonl")
        if not os.path.exists(path):
            return []
        # Mirror _scan_unacked's torn-tail rule: a final line missing its
        # trailing newline is a crashed append whose publish never returned
        # success — skip it instead of raising JSONDecodeError (the next
        # append truncates and rewrites it).
        with open(path, "rb") as fh:
            raw_lines = fh.readlines()
        if raw_lines and not raw_lines[-1].endswith(b"\n"):
            raw_lines.pop()
        return [json.loads(line) for line in raw_lines if line.strip()]

    @staticmethod
    def _seq_of(raw: bytes) -> int:
        """Sequence number of a raw log line WITHOUT a full JSON parse.

        Every log line starts with ``{"seq": N,`` — ``publish()`` emits
        the dict with ``seq`` first and ``commit_staged`` splices the
        same prefix textually — so the seq is an int slice. Pulls scan
        under the global broker lock; parsing whole messages there
        serialized every consumer behind per-message ``json.loads``
        (the r2 bottleneck). Falls back to a full parse if the prefix
        invariant is ever violated."""
        try:
            return int(raw[8 : raw.index(b",", 8)])
        except ValueError:
            return json.loads(raw)["seq"]

    def _scan_unacked(self, state: dict, topic: str, start_byte: int | None = None):
        """Yield ``(seq, raw_line, line_start, line_end)`` from the
        subscription's scan cursor (or ``start_byte``) onward, advancing
        the cursor past the fully-acked prefix.

        The log is append-only and ``seq`` is dense, so each sub keeps
        ``scan_pos = [seq, byte_offset]`` — the first line not yet known
        to be acked. Pulls then seek instead of re-parsing the whole
        log (the whole-log scan made pulls O(log²) over a topic's
        lifetime; with the cursor they are O(new messages)). Lines stay
        raw — only the seq prefix is decoded — so callers holding the
        broker lock defer ``json.loads`` until after they release it.
        """
        path = os.path.join(self._topic_dir(topic), "log.jsonl")
        if not os.path.exists(path):
            return
        below = state["acked_below"]
        pos = state.get("scan_pos", [0, 0])[1]
        track_cursor = start_byte is None or start_byte <= pos
        if start_byte is not None:
            pos = max(pos, start_byte)
        cursor_set = False
        with open(path, "rb") as fh:
            fh.seek(pos)
            for raw in fh:
                line_start = pos
                pos += len(raw)
                if not raw.endswith(b"\n"):
                    # torn final line of a crashed append (r14 review:
                    # _next_seq repairs it on the NEXT append, but a
                    # drained producer may never append again). Its
                    # publish/commit never returned success, so it must
                    # be invisible to readers: never parsed, never
                    # leased, and never advanced past — leaving every
                    # cursor at its start keeps the repair (truncate +
                    # rewritten line at this same byte) seamless.
                    pos = line_start
                    break
                if not raw.strip():
                    continue
                s = self._seq_of(raw)
                if s < below:
                    continue  # acked prefix — cursor will skip it next time
                if track_cursor and not cursor_set:
                    state["scan_pos"] = [s, line_start]
                    cursor_set = True
                yield s, raw, line_start, pos
        if track_cursor and not cursor_set:
            # everything up to EOF is acked; next scan starts at the end
            state["scan_pos"] = [below, pos]

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
        the earliest expired group's log position so its messages get
        rescanned (redelivered)."""
        kept = []
        dp = state.get("deliver_pos")
        for g in state["lease_groups"]:
            if g[0] > now and g[1]:
                kept.append(g)
            elif g[1]:  # expired with outstanding seqs → redeliver
                dp = g[2] if dp is None else min(dp, g[2])
        state["lease_groups"] = kept
        if dp is not None:
            state["deliver_pos"] = dp

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

    # -- pull / ack ---------------------------------------------------------
    def pull(
        self, sub: str, max_messages: int, region: str | None = None
    ) -> list[ReceivedMessage]:
        """Lease up to ``max_messages`` undelivered messages (optionally
        restricted to one region — the reference's per-region endpoint
        pulls, PubsubMicroBatchStream.scala:58-74)."""
        return [
            ReceivedMessage(ack_id=ack_id, message=PubsubMessage.from_record(rec))
            for ack_id, rec in self.pull_raw(sub, max_messages, region)
        ]

    def pull_raw(
        self, sub: str, max_messages: int, region: str | None = None
    ) -> list[tuple[str, dict]]:
        """``pull`` without the payload decode: returns ``(ack_id,
        record_dict)`` pairs with ``data_b64`` still base64-encoded.

        All consumers serialize through the global broker lock, so the
        critical section does only lease bookkeeping over RAW log lines
        (seq comes from the ``_seq_of`` prefix); ``json.loads``, ack-id
        minting, and any base64 work happen after the lock is released.
        The connector's partition readers consume this directly — they
        re-emit base64 into their replay cache anyway, so the
        decode/re-encode round-trip of ``pull`` is skipped entirely."""
        now = time.time()
        picked: list[tuple[int, bytes | dict]] = []
        with self._lock():
            state = self._load_sub(sub)
            self._sync_cursors(state, state["topic"])
            self._expire_leases(state, now)
            acked = set(state["acked"])
            below = state["acked_below"]
            leased_seqs = self._leased_seqs(state)
            new_seqs: list[int] = []
            # Region-less pulls resume at the delivery cursor: everything
            # before it is acked or actively leased, so re-parsing those
            # lines on every pull of a drain would be O(n²) JSON work.
            # Region-pinned pulls skip other regions WITHOUT leasing
            # them, so they scan from the ack cursor and leave the
            # delivery cursor alone; they are also the one case that
            # must parse under the lock (the region filter needs the
            # record body).
            start_byte = state.get("deliver_pos") if region is None else None
            group_start: int | None = None
            consumed_to: int | None = None
            for s, raw, line_start, line_end in self._scan_unacked(
                state, state["topic"], start_byte
            ):
                if len(picked) >= max_messages:
                    break
                consumed_to = line_end
                if s < below or s in acked or s in leased_seqs:
                    continue
                item: bytes | dict = raw
                if region is not None:
                    rec = json.loads(raw)
                    if rec.get("region", "global") != region:
                        continue
                    item = rec
                if group_start is None:
                    group_start = line_start
                new_seqs.append(s)
                picked.append((s, item))
            if new_seqs:
                state["lease_groups"].append(
                    [now + state["ack_deadline_s"], new_seqs, group_start or 0]
                )
            if region is None and consumed_to is not None:
                state["deliver_pos"] = consumed_to
            self._store_sub(sub, state)
        # one nonce per pull: the seq already makes each ack id unique
        # within the pull, the nonce tells redeliveries apart
        nonce = uuid.uuid4().hex[:8]
        return [
            (
                f"ack-{s}-{nonce}",
                item if isinstance(item, dict) else json.loads(item),
            )
            for s, item in picked
        ]

    def acknowledge(self, sub: str, ack_ids: list[str]) -> int:
        """Ack leased messages; unknown/expired ack ids are ignored
        (matching the real service's idempotent acks)."""
        wanted = {
            s for s in (self._ack_seq(a) for a in ack_ids) if s is not None
        }
        if not wanted:
            return 0
        n = 0
        with self._lock():
            state = self._load_sub(sub)
            for g in state["lease_groups"]:
                if not wanted.isdisjoint(g[1]):
                    keep = []
                    for s in g[1]:
                        if s in wanted:
                            state["acked"].append(s)
                            wanted.discard(s)
                            n += 1
                        else:
                            keep.append(s)
                    g[1] = keep
            state["lease_groups"] = [g for g in state["lease_groups"] if g[1]]
            self._compact_acked(state)
            self._store_sub(sub, state)
        return n

    def modify_ack_deadline(self, sub: str, ack_ids: list[str], seconds: float) -> None:
        """0 seconds == nack → immediate redelivery."""
        wanted = {
            s for s in (self._ack_seq(a) for a in ack_ids) if s is not None
        }
        now = time.time()
        with self._lock():
            state = self._load_sub(sub)
            self._sync_cursors(state, state["topic"])
            moved: list[int] = []
            moved_start: int | None = None
            for g in state["lease_groups"]:
                if not wanted.isdisjoint(g[1]):
                    keep = []
                    for s in g[1]:
                        if s in wanted:
                            moved.append(s)
                        else:
                            keep.append(s)
                    g[1] = keep
                    moved_start = (
                        g[2] if moved_start is None else min(moved_start, g[2])
                    )
            if moved:
                state["lease_groups"].append(
                    [now + seconds, moved, moved_start or 0]
                )
            self._expire_leases(state, now)
            self._store_sub(sub, state)

    # -- monitoring (Cloud Monitoring stand-in) ----------------------------
    def backlog(self, sub: str) -> int:
        """Unacked messages, leased ones included (like the real metric).

        Seqs are dense from the subscription's ``acked_below`` up to the
        topic's next seq, so the backlog is a count: no log scan, no
        JSON parse, no state write. It equals
        ``sum(backlog_by_region(sub).values())``."""
        with self._lock():
            return self._backlog_locked(self._load_sub(sub))

    def _backlog_locked(self, state: dict) -> int:
        end = self._next_seq(self._topic_dir(state["topic"]), repair=False)
        return end - state["acked_below"] - len(state["acked"])

    def deliverable(self, sub: str) -> int:
        """Messages a pull could lease now: the backlog minus those under
        an unexpired lease. Counted like ``backlog``, with no log scan.
        Every leased seq is unacked and sits in exactly one lease group,
        so no message is subtracted twice."""
        now = time.time()
        with self._lock():
            state = self._load_sub(sub)
            leased = sum(len(g[1]) for g in state["lease_groups"] if g[0] > now)
            return self._backlog_locked(state) - leased

    def backlog_by_region(self, sub: str) -> dict[str, int]:
        """num_unacked_messages_by_region equivalent
        (PubsubSubscriptionMonitor.scala:155-210). Leased-but-unacked
        messages still count as backlog, like the real metric. Scans and
        parses the unacked log; only dynamic partition planning needs
        the per-region split."""
        with self._lock():
            state = self._load_sub(sub)
            self._sync_cursors(state, state["topic"])
            acked = set(state["acked"])
            out: dict[str, int] = {}
            for s, raw, _ls, _le in self._scan_unacked(state, state["topic"]):
                if s in acked:
                    continue
                r = json.loads(raw).get("region", "global")
                out[r] = out.get(r, 0) + 1
            self._store_sub(sub, state)  # persist the advanced cursor
        return out

    def topic_messages(self, topic: str) -> list[PubsubMessage]:
        """Test helper: the full committed topic log, in order."""
        return [PubsubMessage.from_record(rec) for rec in self._read_log(topic)]


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

    def commit_staged(self, topic: str, staged_files: list[str]) -> int:
        """Publish staged-chunk files (one JSON record per line, the
        sink writer's on-disk format). Against the real service the
        staged-commit degrades to at-least-once — exactly the
        reference publisher's guarantee (PubsubStreamingWrite.scala) —
        because there is no log-splice primitive to make it atomic."""
        n = 0
        for path in staged_files:
            batch: list[PubsubMessage] = []
            with open(path) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    rec = json.loads(line)
                    batch.append(
                        PubsubMessage(
                            data=base64.b64decode(rec["data_b64"]),
                            attributes=rec.get("attributes") or {},
                            ordering_key=rec.get("ordering_key", ""),
                        )
                    )
            self.publish(topic, batch)
            n += len(batch)
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
    ) -> list[tuple[str, dict]]:
        """FileBroker's record-dict pull shape over a real service pull
        (the partition readers consume this directly)."""
        return [
            (
                rm.ack_id,
                {
                    "message_id": rm.message.message_id,
                    "ordering_key": rm.message.ordering_key,
                    "data_b64": base64.b64encode(rm.message.data).decode(),
                    "attributes": rm.message.attributes,
                    "publish_ts_us": rm.message.publish_ts_us,
                    "region": rm.message.region,
                },
            )
            for rm in self.pull(sub, max_messages, region)
        ]

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
