"""FileBroker semantics: publish/pull/ack, lease redelivery, backlog."""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pytest

from spark_sql_pubsub_connector_spark.sources.broker import (
    FileBroker,
    PubsubMessage,
    segment_batch,
    segment_schema,
    write_ipc,
)


@pytest.fixture()
def broker(tmp_path):
    b = FileBroker(str(tmp_path))
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=60)
    return b


def _msgs(n, region="global"):
    return [
        PubsubMessage(
            data=f"Test Message: {i}".encode(),
            attributes={"key": f"value: {i}"},
            publish_ts_us=1_700_000_000_000_000 + i,
            region=region,
        )
        for i in range(n)
    ]


def test_publish_assigns_monotonic_ids(broker):
    ids = broker.publish("t", _msgs(5))
    assert ids == ["0", "1", "2", "3", "4"]
    assert broker.publish("t", _msgs(2)) == ["5", "6"]


def test_pull_leases_and_ack_removes(broker):
    broker.publish("t", _msgs(10))
    got = broker.pull("s", 4)
    assert len(got) == 4
    assert got[0].message.data == b"Test Message: 0"
    assert got[0].message.attributes == {"key": "value: 0"}
    # leased messages are not re-pulled
    got2 = broker.pull("s", 100)
    assert len(got2) == 6
    assert broker.backlog("s") == 10  # leased-but-unacked still backlog
    broker.acknowledge("s", [r.ack_id for r in got] + [r.ack_id for r in got2])
    assert broker.backlog("s") == 0
    assert broker.pull("s", 100) == []


def test_lease_expiry_redelivers(broker, tmp_path):
    b = FileBroker(str(tmp_path))
    b.create_subscription("fast", "t", ack_deadline_s=0.0)  # instant expiry
    b.publish("t", _msgs(3))
    first = b.pull("fast", 3)
    assert len(first) == 3
    # deadline 0 → lease expired immediately → redelivery (at-least-once)
    again = b.pull("fast", 3)
    assert len(again) == 3
    assert {r.message.message_id for r in again} == {"0", "1", "2"}


def test_nack_via_modify_ack_deadline(broker):
    broker.publish("t", _msgs(2))
    got = broker.pull("s", 2)
    broker.modify_ack_deadline("s", [got[0].ack_id], 0)
    redelivered = broker.pull("s", 2)
    assert len(redelivered) == 1
    assert redelivered[0].message.message_id == got[0].message.message_id


def test_backlog_by_region(broker):
    broker.publish("t", _msgs(7, region="us-east1"))
    broker.publish("t", _msgs(3, region="eu-west1"))
    assert broker.backlog_by_region("s") == {"us-east1": 7, "eu-west1": 3}
    # region-pinned pull only returns that region's messages
    got = broker.pull("s", 100, region="eu-west1")
    assert len(got) == 3
    assert all(r.message.region == "eu-west1" for r in got)


def test_region_lease_expiry_does_not_skip_unpulled_messages(tmp_path):
    """A region-pinned pull leaves the delivery cursor alone. When its
    lease lapses before any region-less pull has run, the cursor must
    not be set to the lapsed seqs: a region-less pull still starts at
    the ack floor and delivers the other regions' earlier messages."""
    b = FileBroker(str(tmp_path))
    b.create_subscription("fast", "t", ack_deadline_s=0.0)  # instant expiry
    b.publish("t", _msgs(1, region="us-east1"))  # seq 0
    b.publish("t", _msgs(1, region="eu-west1"))  # seq 1
    assert [m.message.message_id for m in b.pull("fast", 10, region="eu-west1")] == ["1"]
    got = b.pull("fast", 10)  # the eu lease has lapsed
    assert sorted(m.message.message_id for m in got) == ["0", "1"]


def test_ack_unknown_ids_is_idempotent(broker):
    broker.publish("t", _msgs(1))
    got = broker.pull("s", 1)
    assert broker.acknowledge("s", [got[0].ack_id]) == 1
    assert broker.acknowledge("s", [got[0].ack_id, "ack-bogus-1"]) == 0


class TestRealClientParity:
    """RealBrokerClient must be drop-in for FileBroker: same consumed
    surface (names + signatures), correct option plumbing, and a
    descriptive ImportError when google-cloud-pubsub is absent — all
    verifiable without the dependency installed (VERDICT r2 #6)."""

    # every method the connector / monitor / pipelines call on a broker
    CONSUMED = (
        "create_topic",
        "create_subscription",
        "publish",
        "commit_staged",
        "pull",
        "pull_raw",
        "acknowledge",
        "modify_ack_deadline",
        "backlog",
        "deliverable",
        "backlog_by_region",
        "topic_messages",
    )

    def test_dependency_absent_in_container(self):
        # these tests only prove offline parity when the lib is missing
        with pytest.raises(ImportError):
            import google.cloud.pubsub_v1  # noqa: F401

    def test_interface_parity_signatures(self):
        import inspect

        from spark_sql_pubsub_connector_spark.sources.broker import (
            RealBrokerClient,
        )

        for name in self.CONSUMED:
            fb = inspect.signature(getattr(FileBroker, name))
            rc = inspect.signature(getattr(RealBrokerClient, name))
            assert fb == rc, f"{name}: {fb} != {rc}"

    def test_constructor_raises_descriptive_import_error(self):
        from spark_sql_pubsub_connector_spark.sources.broker import (
            RealBrokerClient,
        )

        with pytest.raises(ImportError, match="google-cloud-pubsub"):
            RealBrokerClient("proj")

    def test_endpoint_option_plumbing(self):
        from spark_sql_pubsub_connector_spark.sources.broker import (
            RealBrokerClient,
        )

        r = RealBrokerClient.resolve_endpoint
        # no region -> global endpoint (Subscriber.scala:16)
        assert r() == "pubsub.googleapis.com:443"
        assert r("global") == "pubsub.googleapis.com:443"
        # region-pinned -> regional endpoint (package.scala:87-97)
        assert r("us-east1") == "us-east1-pubsub.googleapis.com:443"
        # explicit endpoint overrides region (Subscriber.scala:64-70),
        # lowercased like the reference
        assert r("us-east1", "Localhost:8085") == "localhost:8085"


# -- segment failure modes -------------------------------------------------


def _segment_names(broker, topic="t"):
    return [os.path.basename(s.path) for s in broker._segments(broker._topic_dir(topic))]


def _staged(tmp_path, name, n):
    path = str(tmp_path / name)
    write_ipc(path, segment_batch(_msgs(n), 1))
    return path


def _torn_segment(broker, topic="t"):
    """A crashed publish's residue: the first half of a segment file,
    left under its tmp name."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_file(sink, segment_schema()) as w:
        w.write(segment_batch(_msgs(3), 1))
    data = sink.getvalue().to_pybytes()
    path = os.path.join(broker._topic_dir(topic), ".0123abcd.tmp")
    with open(path, "wb") as fh:
        fh.write(data[: len(data) // 2])
    return path


def test_commit_staged_malformed_line_leaves_log_untouched(broker, tmp_path):
    """A staged file that is not an Arrow IPC segment — not IPC at all,
    or IPC with another schema — fails the WHOLE commit before any
    rename: the good file staged before it is not appended either, and
    the topic keeps dense seqs."""
    broker.publish("t", _msgs(2))
    good = _staged(tmp_path, "good.arrow", 1)
    not_ipc = tmp_path / "bad.jsonl"
    not_ipc.write_text('{"data_b64": "Yg==", "attributes": {}}\n')
    wrong = str(tmp_path / "wrong.arrow")
    write_ipc(wrong, pa.table({"data": pa.array([b"x"], pa.binary())}))
    before = sorted(os.listdir(broker._topic_dir("t")))
    for bad in (str(not_ipc), wrong):
        with pytest.raises(ValueError, match=re.escape(bad)):
            broker.commit_staged("t", [good, bad])
        assert sorted(os.listdir(broker._topic_dir("t"))) == before
        assert os.path.exists(good)
    assert len(broker.topic_messages("t")) == 2
    # the topic still works, with contiguous seqs
    assert broker.commit_staged("t", [good]) == 1
    broker.publish("t", _msgs(1))
    msgs = broker.topic_messages("t")
    assert [m.message_id for m in msgs] == ["0", "1", "2", "3"]


def test_segments_that_do_not_tile_raise(broker, tmp_path):
    """A gap between two visible ranges (a lost segment) or an overlap
    (a range minted twice) is corruption: every call that lists the
    segments raises an error naming the topic dir instead of skipping
    or re-minting seqs. (``backlog`` is a count from the head and reads
    no segment.)"""
    import shutil

    broker.publish("t", _msgs(3))
    broker.publish("t", _msgs(2))
    broker.publish("t", _msgs(2))
    d = broker._topic_dir("t")
    first, middle, last = broker._segments(d)
    moved = os.path.join(str(tmp_path), "moved.arrow")
    os.rename(middle.path, moved)  # gap: [0,3) then [5,7)
    overlap = os.path.join(d, f"{2:020d}-{4:020d}.arrow")
    for corrupt in ("gap", "overlap"):
        if corrupt == "overlap":
            os.rename(moved, middle.path)
            shutil.copy(middle.path, overlap)  # [0,3) [2,4) [3,5) [5,7)
        for call in (
            lambda: broker.publish("t", _msgs(1)),
            lambda: broker.pull("s", 10),
            lambda: broker.backlog_by_region("s"),
            lambda: broker.topic_messages("t"),
        ):
            with pytest.raises(RuntimeError, match=re.escape(d)):
                call()
    os.unlink(overlap)
    assert broker.publish("t", _msgs(1)) == ["7"]


def test_append_lists_the_topic_dir_once(broker, monkeypatch):
    """An append takes one listing of the topic dir and feeds both the
    leftover sweep and the tiling check from it."""
    real, calls = os.listdir, []

    def counting(path="."):
        calls.append(path)
        return real(path)

    broker.publish("t", _msgs(2))
    monkeypatch.setattr(os, "listdir", counting)
    broker.publish("t", _msgs(3))
    assert calls == [broker._topic_dir("t")]


def test_commit_staged_killed_between_renames(broker, tmp_path, monkeypatch):
    """A commit killed after renaming some of its staged files never
    wrote the head, so nothing of it is visible: the renamed segment
    sits at the head's end, unread, the files not yet renamed stay
    staged, and the next append replaces the leftover with dense
    seqs."""
    from spark_sql_pubsub_connector_spark.sources import broker as broker_mod

    broker.publish("t", _msgs(4))
    a = _staged(tmp_path, "a.arrow", 2)
    b = _staged(tmp_path, "b.arrow", 3)
    real_rename = os.rename
    calls = []

    def dying_rename(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise KeyboardInterrupt("killed")
        real_rename(src, dst)

    monkeypatch.setattr(broker_mod.os, "rename", dying_rename)
    with pytest.raises(KeyboardInterrupt):
        broker.commit_staged("t", [a, b])
    monkeypatch.undo()
    assert not os.path.exists(a) and os.path.exists(b)
    leftover = os.path.join(broker._topic_dir("t"), f"{4:020d}-{6:020d}.arrow")
    assert os.path.exists(leftover)
    assert [int(m.message_id) for m in broker.topic_messages("t")] == list(range(4))
    assert broker.backlog("s") == broker.deliverable("s") == 4
    assert broker.backlog_by_region("s") == {"global": 4}
    got = broker.pull("s", 20)
    assert sorted(int(m.message.message_id) for m in got) == list(range(4))
    assert broker.commit_staged("t", [b]) == 3
    assert broker.publish("t", _msgs(1)) == ["7"]
    assert _segment_names(broker)[-2:] == [
        f"{4:020d}-{7:020d}.arrow", f"{7:020d}-{8:020d}.arrow"
    ]
    got = broker.pull("s", 20)
    assert sorted(int(m.message.message_id) for m in got) == list(range(4, 8))


def test_compaction_that_cuts_the_whole_log_keeps_a_lagging_counter_safe(
    broker, tmp_path
):
    """A compaction that cuts every message leaves no segment, but the
    head keeps the topic's end, so the next publish does not re-mint
    seqs below the ack floor (new messages that would read as already
    acked)."""
    broker.publish("t", _msgs(3))
    broker.acknowledge("s", [m.ack_id for m in broker.pull("s", 10)])
    assert broker.compact_topic("t")["cut_messages"] == 3
    assert _segment_names(broker) == []
    assert broker._head(broker._topic_dir("t"))["end"] == 3
    assert broker.topic_messages("t") == []
    assert broker.backlog("s") == 0
    assert broker.compact_topic("t")["cut_messages"] == 0
    assert broker.publish("t", _msgs(2)) == ["3", "4"]
    assert broker.backlog("s") == 2
    assert sorted(m.message.message_id for m in broker.pull("s", 10)) == ["3", "4"]


def test_torn_tail_invisible_to_readers_without_an_append(broker, tmp_path):
    """A publish that crashed while writing its segment leaves a torn
    tmp file in the topic dir, and a drained producer may never
    publish again. It must be invisible: no read error in
    pull/backlog, no phantom lease, and no seq taken from the next
    publish."""
    broker.publish("t", _msgs(2))
    _torn_segment(broker)
    # every read API stays functional and blind to the torn write
    assert broker.backlog("s") == 2
    assert broker.deliverable("s") == 2
    assert broker.backlog_by_region("s") == {"global": 2}
    got = broker.pull("s", 10)
    assert sorted(m.message.message_id for m in got) == ["0", "1"]
    broker.acknowledge("s", [m.ack_id for m in got])
    assert broker.backlog("s") == 0
    assert broker.pull("s", 10) == []  # no phantom lease on seq 2
    # producer retry: the torn write took no seq
    ids = broker.publish("t", _msgs(1))
    assert ids == ["2"]
    got2 = broker.pull("s", 10)
    assert [m.message.message_id for m in got2] == ["2"]


def test_topic_messages_blind_to_torn_tail(broker, tmp_path):
    """ADVICE r14: torn-write invisibility must hold for
    ``topic_messages`` too (bench.py and the streaming differential
    twin call it), not only for pulls."""
    broker.publish("t", _msgs(2))
    _torn_segment(broker)
    msgs = broker.topic_messages("t")  # must not raise
    assert [m.data for m in msgs] == [
        b"Test Message: 0",
        b"Test Message: 1",
    ]
    broker.publish("t", _msgs(1))
    assert len(broker.topic_messages("t")) == 3


# -- topic retention (VERDICT r14 #4) ---------------------------------------


def _live(broker, topic="t"):
    """``(bytes, messages)`` held by the topic's live segments."""
    segs = broker._segments(broker._topic_dir(topic))
    return sum(os.path.getsize(s.path) for s in segs), sum(s.hi - s.lo for s in segs)


def test_compact_topic_cuts_fully_acked_prefix(broker, tmp_path):
    """compact_topic removes exactly the segments every subscription has
    acked; everything at or above the floor — leased-unacked and
    undelivered alike — survives and is still delivered."""
    broker.publish("t", _msgs(3))  # segment [0,3)
    broker.publish("t", _msgs(7))  # segment [3,10)
    got = broker.pull("s", 5)  # lease 0-4
    # ack 0,1,2 → acked_below=3; 3,4 stay leased-unacked
    broker.acknowledge("s", [m.ack_id for m in got[:3]])
    stats = broker.compact_topic("t")
    assert stats["floor_seq"] == 3
    assert stats["cut_messages"] == 3
    assert stats["cut_bytes"] > 0
    # retained log starts at seq 3
    msgs = broker.topic_messages("t")
    assert [m.message_id for m in msgs] == [str(i) for i in range(3, 10)]
    # undelivered 5-9 deliverable; 3,4 redeliver after nack
    got2 = broker.pull("s", 10)
    assert sorted(int(m.message.message_id) for m in got2) == [5, 6, 7, 8, 9]
    broker.modify_ack_deadline("s", [m.ack_id for m in got], 0)  # nack 3,4
    got3 = broker.pull("s", 10)
    assert sorted(int(m.message.message_id) for m in got3) == [3, 4]
    broker.acknowledge(
        "s", [m.ack_id for m in got2] + [m.ack_id for m in got3]
    )
    assert broker.backlog("s") == 0
    # second pass cuts the rest; an empty topic still accepts publishes
    # with seq continuity
    broker.compact_topic("t")
    assert _live(broker)[1] == 0
    assert broker.publish("t", _msgs(1)) == ["10"]


def test_compact_topic_floor_is_slowest_subscription(broker, tmp_path):
    """Two subscriptions: the floor is the SLOWER one's acked_below, and
    the slow subscription still drains everything after the cut."""
    broker.create_subscription("s2", "t", ack_deadline_s=60)
    broker.publish("t", _msgs(3))
    broker.publish("t", _msgs(5))
    fast = broker.pull("s", 8)
    broker.acknowledge("s", [m.ack_id for m in fast])  # s: acked_below=8
    slow = broker.pull("s2", 3)
    broker.acknowledge("s2", [m.ack_id for m in slow])  # s2: acked_below=3
    stats = broker.compact_topic("t")
    assert stats["floor_seq"] == 3
    assert stats["cut_messages"] == 3
    rest = broker.pull("s2", 10)
    assert sorted(int(m.message.message_id) for m in rest) == [3, 4, 5, 6, 7]
    broker.acknowledge("s2", [m.ack_id for m in rest])
    assert broker.backlog("s2") == 0
    assert broker.backlog("s") == 0


def test_compact_topic_no_subscription_retains_everything(broker, tmp_path):
    broker.create_topic("lone")
    broker.publish("lone", _msgs(4))
    stats = broker.compact_topic("lone")
    assert stats == {"floor_seq": 0, "cut_bytes": 0, "cut_messages": 0}
    assert len(broker.topic_messages("lone")) == 4


def _kill_compaction_at_unlink(monkeypatch, n):
    """Make the ``n``-th segment unlink of the next compaction die."""
    from spark_sql_pubsub_connector_spark.sources import broker as broker_mod

    real_unlink = os.unlink
    calls = []

    def dying_unlink(path):
        calls.append(path)
        if len(calls) == n:
            raise KeyboardInterrupt("killed")
        real_unlink(path)

    monkeypatch.setattr(broker_mod.os, "unlink", dying_unlink)


def test_crash_between_writeahead_and_cut_resolves(broker, tmp_path, monkeypatch):
    """A compaction fsyncs the head (which holds the topic's end) and
    the topic dir before its first unlink, so no power loss keeps an
    unlink but loses the end. Killed at that unlink, it leaves every
    segment: nothing is lost or duplicated, the next publish continues
    at the end, and the next compaction finishes the cut."""
    from spark_sql_pubsub_connector_spark.sources import broker as broker_mod

    broker.publish("t", _msgs(3))
    broker.publish("t", _msgs(3))
    got = broker.pull("s", 6)
    broker.acknowledge("s", [m.ack_id for m in got])  # acked_below=6
    d = broker._topic_dir("t")
    events = []
    real_open, real_fsync = os.open, os.fsync
    fds = {}

    def tracking_open(path, *args, **kwargs):
        fd = real_open(path, *args, **kwargs)
        fds[fd] = path
        return fd

    def tracking_fsync(fd):
        events.append(fds.get(fd))
        real_fsync(fd)

    monkeypatch.setattr(broker_mod.os, "open", tracking_open)
    monkeypatch.setattr(broker_mod.os, "fsync", tracking_fsync)
    _kill_compaction_at_unlink(monkeypatch, 1)
    with pytest.raises(KeyboardInterrupt):
        broker.compact_topic("t")
    monkeypatch.undo()
    assert events == [os.path.join(d, "head.json"), d]
    assert _live(broker)[1] == 6
    assert broker.backlog("s") == 0
    assert broker.pull("s", 10) == []
    assert broker.publish("t", _msgs(1)) == ["6"]
    got2 = broker.pull("s", 10)
    assert [m.message.message_id for m in got2] == ["6"]
    broker.acknowledge("s", [m.ack_id for m in got2])
    assert broker.compact_topic("t")["cut_messages"] == 7
    assert broker.backlog("s") == 0


def test_crash_between_cut_and_done_resolves(broker, tmp_path, monkeypatch):
    """A compaction killed after unlinking only some of its segments
    leaves a suffix that still tiles, because segments go lowest
    first: leases on retained seqs still redeliver, a new subscription
    starts at the first retained seq, and the next pass cuts the
    rest."""
    for _ in range(3):
        broker.publish("t", _msgs(2))  # [0,2) [2,4) [4,6)
    got = broker.pull("s", 6)
    broker.acknowledge("s", [m.ack_id for m in got[:4]])  # acked_below=4
    _kill_compaction_at_unlink(monkeypatch, 2)
    with pytest.raises(KeyboardInterrupt):
        broker.compact_topic("t")
    monkeypatch.undo()
    assert [m.message_id for m in broker.topic_messages("t")] == ["2", "3", "4", "5"]
    # leases on 4,5 still outstanding; nack and re-pull
    broker.modify_ack_deadline("s", [m.ack_id for m in got[4:]], 0)
    got2 = broker.pull("s", 10)
    assert sorted(int(m.message.message_id) for m in got2) == [4, 5]
    assert broker.backlog("s") == 2
    broker.create_subscription("late", "t")
    assert broker.backlog("late") == 4
    assert broker.compact_topic("t")["cut_messages"] == 0  # "late" holds 2,3
    broker.acknowledge("late", [m.ack_id for m in broker.pull("late", 2)])
    assert broker.compact_topic("t")["cut_messages"] == 2


def test_auto_compaction_bounds_long_lived_topic(tmp_path):
    """The bounded-disk guarantee: a publish/drain/ack loop with
    auto_compact_bytes keeps the live segments near the threshold
    instead of growing with topic lifetime, and delivers every message
    exactly once along the way."""
    b = FileBroker(str(tmp_path), auto_compact_bytes=8 * 1024)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=60)
    delivered = []
    max_bytes = max_msgs = 0
    for _ in range(40):
        b.publish("t", _msgs(25))  # one ~3.2 KB segment per round
        got = b.pull("s", 100)
        delivered.extend(m.message.data for m in got)
        b.acknowledge("s", [m.ack_id for m in got])
        size, msgs = _live(b)
        max_bytes, max_msgs = max(max_bytes, size), max(max_msgs, msgs)
    # 40 rounds ≈ 129 KB and 1,000 messages unbounded; bounded: the
    # threshold plus one round's segment
    assert max_bytes < 8 * 1024 + 4 * 1024, max_bytes
    assert max_msgs <= 3 * 25, max_msgs
    assert len(delivered) == 40 * 25
    assert b.backlog("s") == 0


def test_compaction_preserves_torn_tail_repair(broker, tmp_path):
    """A torn tmp file rides through a compaction untouched: still
    invisible to readers, and the next publish still takes the next
    seq."""
    broker.publish("t", _msgs(2))
    broker.publish("t", _msgs(1))
    got = broker.pull("s", 2)
    broker.acknowledge("s", [m.ack_id for m in got])  # acked_below=2
    torn = _torn_segment(broker)
    stats = broker.compact_topic("t")
    assert stats["cut_messages"] == 2
    assert os.path.exists(torn)
    assert [m.message_id for m in broker.topic_messages("t")] == ["2"]
    assert broker.publish("t", _msgs(1)) == ["3"]
    got2 = broker.pull("s", 10)
    assert sorted(m.message.message_id for m in got2) == ["2", "3"]


def test_old_jsonl_topic_layout_fails_loudly(broker, tmp_path):
    """A topic dir without ``head.json`` — one written by the older
    JSONL broker (``log.jsonl`` and its ``.seq`` counter), or segments
    written before heads — would read as an empty topic; every call
    that reads it raises an error naming the dir instead, and
    ``create_topic`` never writes a head into it."""
    d = broker._topic_dir("t")
    broker.publish("t", _msgs(1))
    head = os.path.join(d, "head.json")
    with open(head) as fh:
        saved = fh.read()
    os.unlink(head)  # segments without a head
    (seg,) = broker._segments(d, 1)
    staged = _staged(tmp_path, "c.arrow", 1)
    for layout in ("segments", "jsonl"):
        if layout == "jsonl":
            os.rename(seg.path, str(tmp_path / "seg.arrow"))
            for name, text in (("log.jsonl", '{"seq": 0}\n'), (".seq", "1")):
                with open(os.path.join(d, name), "w") as fh:
                    fh.write(text)
        for call in (
            lambda: broker.publish("t", _msgs(1)),
            lambda: broker.commit_staged("t", [staged]),
            lambda: broker.pull("s", 10),
            lambda: broker.backlog("s"),
            lambda: broker.deliverable("s"),
            lambda: broker.backlog_by_region("s"),
            lambda: broker.topic_messages("t"),
            lambda: broker.compact_topic("t"),
            lambda: broker.create_subscription("s2", "t"),
        ):
            with pytest.raises(RuntimeError, match=re.escape(d)):
                call()
        broker.create_topic("t")
        assert not os.path.exists(head)
    for name in ("log.jsonl", ".seq"):
        os.unlink(os.path.join(d, name))
    os.rename(str(tmp_path / "seg.arrow"), seg.path)
    with open(head, "w") as fh:
        fh.write(saved)
    assert broker.publish("t", _msgs(1)) == ["1"]


def test_subscription_created_after_compaction_starts_at_floor(
    broker, tmp_path
):
    """r15 review: a sub created after a compaction used to start at
    acked_below=0 with seqs <floor nonexistent — its dense-prefix ack
    advance could never leave 0, so its sparse acked list grew forever
    AND pinned the topic's retention floor at 0, permanently disabling
    compaction. It now starts at the floor: sees every retained
    message, acks compact densely, and the topic keeps compacting."""
    broker.publish("t", _msgs(6))
    got = broker.pull("s", 6)
    broker.acknowledge("s", [m.ack_id for m in got])
    assert broker.compact_topic("t")["cut_messages"] == 6  # floor 6
    broker.create_subscription("s2", "t", ack_deadline_s=60)
    broker.publish("t", _msgs(2))  # seqs 6, 7
    got1 = broker.pull("s", 10)
    got2 = broker.pull("s2", 10)
    assert sorted(m.message.message_id for m in got2) == ["6", "7"]
    broker.acknowledge("s", [m.ack_id for m in got1])
    broker.acknowledge("s2", [m.ack_id for m in got2])
    # dense advance from the floor: no sparse residue in either state
    s2 = broker._load_sub("s2")
    assert s2["acked_below"] == 8
    assert s2["acked"] == []
    # and the topic still compacts (floor would have stuck at 0 before)
    assert broker.compact_topic("t")["cut_messages"] == 2
def test_torn_subscription_create_leaves_compaction_working(
    broker, tmp_path, monkeypatch
):
    """A subscription file torn mid-write used to stay behind unparseable,
    and the retention floor reads any unparseable sub file as 0, so
    compaction stopped for every topic on the broker. The file is now
    written through a tmp file and a rename: a write that fails partway
    leaves no ``subs/*.json`` behind, and other topics still compact."""
    import builtins
    import json
    import os

    from spark_sql_pubsub_connector_spark.sources import broker as broker_mod

    broker.publish("t", _msgs(4))
    got = broker.pull("s", 4)
    broker.acknowledge("s", [m.ack_id for m in got])  # s: acked_below=4

    class TornFile:
        """Writes half of the first chunk, then fails like a full disk."""

        def __init__(self, fh):
            self._fh = fh

        def write(self, data):
            self._fh.write(data[: len(data) // 2])
            self._fh.flush()
            raise OSError("no space left on device")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._fh.close()

    def torn_open(path, mode="r", *args, **kwargs):
        fh = builtins.open(path, mode, *args, **kwargs)
        if os.sep + "subs" + os.sep in str(path) and "w" in mode:
            return TornFile(fh)
        return fh

    monkeypatch.setattr(broker_mod, "open", torn_open, raising=False)
    with pytest.raises(OSError, match="no space"):
        broker.create_subscription("other", "t2")
    monkeypatch.undo()

    subs_dir = os.path.join(str(tmp_path), "subs")
    for fn in os.listdir(subs_dir):
        if fn.endswith(".json"):
            with open(os.path.join(subs_dir, fn)) as fh:
                json.load(fh)  # every subscription file parses
    stats = broker.compact_topic("t")
    assert stats["floor_seq"] == 4
    assert stats["cut_messages"] == 4
