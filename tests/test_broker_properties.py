"""Property tests for the broker's delivery invariants.

The lease bookkeeping was rewritten for O(n) drains (grouped leases +
a delivery cursor that rewinds on expiry), so these tests drive random
interleavings of pull / ack / nack / expiry and check the semantics
the connector is built on:

  1. at-least-once: every published message is eventually delivered;
  2. no double-lease: a message is never handed out twice while its
     lease is active;
  3. acked is final: an acked message is never redelivered;
  4. backlog accounting matches the unacked set exactly.
"""

from __future__ import annotations

import time

from hypothesis import example, given, settings
from hypothesis import strategies as st

from spark_sql_pubsub_connector_spark.sources.broker import (
    FileBroker,
    PubsubMessage,
    segment_batch,
    write_ipc,
)


def _mk(tmp_path, n, deadline):
    b = FileBroker(str(tmp_path / "b"))
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=deadline)
    b.publish(
        "t",
        [PubsubMessage(data=f"m{i}".encode(), publish_ts_us=1) for i in range(n)],
    )
    return b


# op stream: (kind, arg) — pull size, ack a sampled prefix, or nack it
_OPS = st.lists(
    st.tuples(st.sampled_from(["pull", "ack", "nack"]), st.integers(1, 7)),
    min_size=1,
    max_size=25,
)


@settings(max_examples=25, deadline=None)
@given(n=st.integers(1, 30), ops=_OPS)
def test_random_interleavings_preserve_delivery_invariants(tmp_path_factory, n, ops):
    tmp = tmp_path_factory.mktemp("prop")
    b = _mk(tmp, n, deadline=600)  # long deadline: no surprise expiry
    outstanding: dict[str, str] = {}  # ack_id -> message_id (active leases)
    acked_ids: set[str] = set()
    delivered_ids: set[str] = set()

    for kind, k in ops:
        if kind == "pull":
            got = b.pull("s", k)
            for rm in got:
                mid = rm.message.message_id
                # acked is final + no double-lease while active
                assert mid not in acked_ids, "redelivered an acked message"
                assert mid not in outstanding.values(), "double-leased"
                outstanding[rm.ack_id] = mid
                delivered_ids.add(mid)
        elif kind == "ack" and outstanding:
            batch = list(outstanding)[:k]
            n_acked = b.acknowledge("s", batch)
            assert n_acked == len(batch)
            for aid in batch:
                acked_ids.add(outstanding.pop(aid))
        elif kind == "nack" and outstanding:
            batch = list(outstanding)[:k]
            b.modify_ack_deadline("s", batch, 0.0)  # immediate redelivery
            for aid in batch:
                outstanding.pop(aid)

    # backlog = everything not acked (leased still counts, like the metric)
    assert b.backlog("s") == n - len(acked_ids)

    # drain the rest: everything unacked must still be deliverable
    while True:
        got = b.pull("s", 10)
        if not got:
            break
        for rm in got:
            assert rm.message.message_id not in acked_ids
            delivered_ids.add(rm.message.message_id)
    assert delivered_ids | acked_ids == {str(i) for i in range(n)}


@settings(max_examples=10, deadline=None)
@given(n=st.integers(2, 20), first=st.integers(1, 10))
def test_expiry_redelivers_exactly_the_unacked(tmp_path_factory, n, first):
    tmp = tmp_path_factory.mktemp("exp")
    b = _mk(tmp, n, deadline=0.05)
    got = b.pull("s", min(first, n))
    # ack half of what we pulled before the lease lapses
    keep = [rm.ack_id for rm in got[: len(got) // 2]]
    b.acknowledge("s", keep)
    acked = {rm.message.message_id for rm in got[: len(got) // 2]}
    time.sleep(0.08)  # every remaining lease expires
    seen: set[str] = set()
    while True:
        more = b.pull("s", 10)
        if not more:
            break
        seen |= {rm.message.message_id for rm in more}
    assert seen == {str(i) for i in range(n)} - acked


def test_concurrent_consumers_partition_the_stream(tmp_path_factory):
    """TRUE multi-threaded contention (the single-JVM analog of 32
    partition readers pulling one subscription): 8 threads pull and ack
    concurrently under long leases. The file lock must make leases
    mutually exclusive — every message delivered to exactly one thread,
    no double-lease, zero backlog after the drain."""
    import threading

    tmp_path = tmp_path_factory.mktemp("conc")
    n = 400
    b = _mk(tmp_path, n, deadline=600)

    delivered: list[list[bytes]] = [[] for _ in range(8)]
    errors: list[BaseException] = []

    def worker(slot: int) -> None:
        # each thread uses its own FileBroker handle (its own fds),
        # like separate executor processes sharing the broker dir
        wb = FileBroker(str(tmp_path / "b"))
        try:
            while True:
                got = wb.pull("s", 17)
                if not got:
                    # exit gate is NOT racy: backlog counts
                    # leased-but-unacked messages too (the metric
                    # semantics pinned by test_broker.py), and every
                    # worker acks each pulled batch before its next
                    # pull — so backlog 0 implies every delivery was
                    # already acknowledged, never that another thread
                    # still holds a lease that could expire later
                    if wb.backlog("s") == 0:
                        return
                    time.sleep(0.01)
                    continue
                delivered[slot].extend(m.message.data for m in got)
                wb.acknowledge("s", [m.ack_id for m in got])
        except BaseException as exc:  # surface failures to the main thread
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert all(not t.is_alive() for t in threads)

    flat = [d for ds in delivered for d in ds]
    assert len(flat) == n, f"{len(flat)} deliveries for {n} messages"
    assert len(set(flat)) == n  # exactly-one delivery per message
    assert b.backlog("s") == 0
    assert b.pull("s", 1) == []  # direct re-drain: nothing left to lease
    # real contention happened: no single thread drained everything
    assert sum(1 for ds in delivered if ds) >= 2


# op stream with compaction mixed in: compact_topic may run between any
# pull/ack/nack and must never change delivery semantics (r15 retention)
_OPS_C = st.lists(
    st.tuples(
        st.sampled_from(["pull", "ack", "nack", "compact"]), st.integers(1, 7)
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=25, deadline=None)
@given(n=st.integers(1, 30), ops=_OPS_C)
def test_compaction_is_invisible_to_delivery_invariants(
    tmp_path_factory, n, ops
):
    """Randomly interleaved compaction passes (which cut the acked log
    prefix and invalidate every byte cursor) must preserve the same
    four invariants as the plain machine: at-least-once, no
    double-lease, acked-is-final, exact backlog accounting."""
    tmp = tmp_path_factory.mktemp("propc")
    b = _mk(tmp, n, deadline=600)
    outstanding: dict[str, str] = {}
    acked_ids: set[str] = set()
    delivered_ids: set[str] = set()

    for kind, k in ops:
        if kind == "pull":
            got = b.pull("s", k)
            for rm in got:
                mid = rm.message.message_id
                assert mid not in acked_ids, "redelivered an acked message"
                assert mid not in outstanding.values(), "double-leased"
                outstanding[rm.ack_id] = mid
                delivered_ids.add(mid)
        elif kind == "ack" and outstanding:
            batch = list(outstanding)[:k]
            assert b.acknowledge("s", batch) == len(batch)
            for aid in batch:
                acked_ids.add(outstanding.pop(aid))
        elif kind == "nack" and outstanding:
            batch = list(outstanding)[:k]
            b.modify_ack_deadline("s", batch, 0.0)
            for aid in batch:
                outstanding.pop(aid)
        elif kind == "compact":
            stats = b.compact_topic("t")
            # never cuts anything unacked: retained log must still
            # hold every message not yet acked
            retained = {m.message_id for m in b.topic_messages("t")}
            missing = ({str(i) for i in range(n)} - acked_ids) - retained
            assert not missing, f"compaction lost unacked {missing}"
            assert stats["cut_messages"] >= 0

    assert b.backlog("s") == n - len(acked_ids)
    while True:
        got = b.pull("s", 10)
        if not got:
            break
        for rm in got:
            assert rm.message.message_id not in acked_ids
            delivered_ids.add(rm.message.message_id)
    assert delivered_ids | acked_ids == {str(i) for i in range(n)}


def test_concurrent_consumers_with_auto_compacting_publisher(
    tmp_path_factory,
):
    """The retention stack under true contention: a publisher thread
    feeds 10 rounds of 40 messages through a broker with a small
    auto_compact_bytes (so compaction fires mid-drain, under the same
    lock the 8 consumer threads contend on), and every message must
    still be delivered to exactly one consumer."""
    import os
    import threading

    tmp_path = tmp_path_factory.mktemp("concc")
    total = 400
    b = FileBroker(str(tmp_path / "b"), auto_compact_bytes=2048)
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=600)

    delivered: list[list[bytes]] = [[] for _ in range(8)]
    errors: list[BaseException] = []
    done_publishing = threading.Event()

    def publisher() -> None:
        pb = FileBroker(str(tmp_path / "b"), auto_compact_bytes=2048)
        try:
            for r in range(10):
                pb.publish(
                    "t",
                    [
                        PubsubMessage(
                            data=f"m{r * 40 + i}".encode(), publish_ts_us=1
                        )
                        for i in range(40)
                    ],
                )
                time.sleep(0.005)
        except BaseException as exc:
            errors.append(exc)
        finally:
            done_publishing.set()

    def worker(slot: int) -> None:
        wb = FileBroker(str(tmp_path / "b"))
        try:
            while True:
                got = wb.pull("s", 17)
                if not got:
                    if done_publishing.is_set() and wb.backlog("s") == 0:
                        return
                    time.sleep(0.01)
                    continue
                delivered[slot].extend(m.message.data for m in got)
                wb.acknowledge("s", [m.ack_id for m in got])
        except BaseException as exc:
            errors.append(exc)

    threads = [threading.Thread(target=publisher)] + [
        threading.Thread(target=worker, args=(i,)) for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert all(not t.is_alive() for t in threads)

    flat = [d for ds in delivered for d in ds]
    assert len(flat) == total, f"{len(flat)} deliveries for {total}"
    assert len(set(flat)) == total  # exactly-one delivery per message
    assert b.backlog("s") == 0
    # retention actually engaged: the topic retains a fraction of the
    # 400 messages a grow-forever topic would hold. The bound is
    # deliberately loose: the LAST acks can land after the final
    # publish, and with no further append nothing re-triggers
    # auto-compaction, so the tail depends on ack timing (r15 flake).
    segs = b._segments(b._topic_dir("t"))
    assert sum(s.hi - s.lo for s in segs) < 340
    # after an explicit compaction at quiescence (backlog 0, all
    # acked) the bound is deterministic: no segment is left, and the
    # head keeps the end
    b.compact_topic("t")
    assert b._segments(b._topic_dir("t")) == []
    assert b._head(b._topic_dir("t"))["end"] == total


# op stream for the backlog differential: everything that moves the
# ack floor, the topic's end or its segments, plus the crash residues
# (a stray tmp segment, a commit_staged killed between two renames,
# which leaves a renamed segment past the head's end)
_OPS_B = st.lists(
    st.tuples(
        st.sampled_from(
            ["publish", "pull", "ack", "nack", "expire", "compact", "stray",
             "killed_commit", "newsub"]
        ),
        st.integers(1, 7),
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=100, deadline=None)
@given(ops=_OPS_B)
# a lapsed lease is deliverable again before any pull drops its group
@example(ops=[("publish", 3), ("pull", 2), ("expire", 1), ("pull", 1)])
@example(
    # the compaction cuts every segment; the killed commit's leftover
    # is never visible, and the next publish replaces it
    ops=[("publish", 5), ("killed_commit", 3), ("pull", 7), ("pull", 1),
         ("ack", 7), ("ack", 1), ("compact", 1), ("newsub", 1), ("stray", 1),
         ("pull", 2), ("publish", 2), ("compact", 1)]
)
def test_backlog_and_deliverable_counts_match_a_scan(tmp_path_factory, ops):
    """``backlog()`` counts seqs between the ack floor and the log's end
    instead of scanning the log; it must equal the scanned
    ``backlog_by_region`` sum after any history, on every subscription
    (the ``drain`` benchmark's correctness gate reads ``backlog()``).
    ``deliverable()`` must equal that scan minus the leases the model
    holds, and a pull must then lease exactly that many messages (an
    empty plan is made on ``deliverable() == 0``)."""
    import os
    from types import SimpleNamespace
    from unittest import mock

    from spark_sql_pubsub_connector_spark.sources import broker as broker_mod

    tmp = tmp_path_factory.mktemp("backlog")
    b = FileBroker(str(tmp / "b"))
    b.create_topic("t")
    b.create_subscription("s", "t", ack_deadline_s=10)
    topic_dir = b._topic_dir("t")
    clock = [1_000.0]
    subs = ["s"]
    outstanding: dict[str, list[str]] = {"s": []}
    published = 0
    regions = ["global", "us-east1", "eu-west1"]

    def msgs(k: int) -> list[PubsubMessage]:
        return [
            PubsubMessage(data=b"x", publish_ts_us=1,
                          region=regions[(published + i) % 3])
            for i in range(k)
        ]

    def publish(k: int) -> None:
        nonlocal published
        b.publish("t", msgs(k))
        published += k

    real_rename = os.rename

    with mock.patch.object(broker_mod, "time", SimpleNamespace(time=lambda: clock[0])):
        for kind, k in ops:
            sub = subs[k % len(subs)]
            if kind == "publish":
                publish(k)
            elif kind == "pull":
                outstanding[sub] += [rm.ack_id for rm in b.pull(sub, k)]
            elif kind == "ack":
                b.acknowledge(sub, outstanding[sub][:k])
                del outstanding[sub][:k]
            elif kind == "nack":
                b.modify_ack_deadline(sub, outstanding[sub][:k], 0.0)
                del outstanding[sub][:k]
            elif kind == "expire":
                clock[0] += 11  # every lease lapses; redelivered on pull
                outstanding = {s: [] for s in subs}
            elif kind == "compact":
                b.compact_topic("t")
            elif kind == "stray":
                # a crashed publish: half a segment under a tmp name
                with open(os.path.join(topic_dir, f".{k}.tmp"), "wb") as fh:
                    fh.write(b"ARROW1\x00\x00" + b"\x00" * k)
            elif kind == "killed_commit":
                # two staged chunks; the commit dies before the second
                # rename, so the head is not written and nothing of it
                # is appended
                staged = []
                for part, rows in enumerate((k, 1)):
                    path = str(tmp / f"staged-{published}-{part}.arrow")
                    write_ipc(path, segment_batch(msgs(rows), 1))
                    staged.append(path)
                renames = []

                def dying_rename(src, dst):
                    renames.append(src)
                    if len(renames) == 2:
                        raise KeyboardInterrupt("killed")
                    real_rename(src, dst)

                end = b._head(topic_dir)["end"]
                with mock.patch.object(broker_mod.os, "rename", dying_rename):
                    try:
                        b.commit_staged("t", staged)
                    except KeyboardInterrupt:
                        pass
                assert b._head(topic_dir)["end"] == end
            elif kind == "newsub" and len(subs) < 3:
                name = f"s{len(subs)}"
                b.create_subscription(name, "t", ack_deadline_s=10)
                subs.append(name)
                outstanding[name] = []
            for s in subs:
                unacked = sum(b.backlog_by_region(s).values())
                assert b.backlog(s) == unacked, (kind, s)
                assert b.deliverable(s) == unacked - len(outstanding[s]), (kind, s)
        for s in subs:
            want = b.deliverable(s)
            assert len(b.pull(s, 10**6)) == want
            assert b.deliverable(s) == 0


@settings(max_examples=25, deadline=None)
@given(
    backlog=st.integers(0, 60),
    leased=st.integers(0, 60),
    num_partitions=st.integers(1, 6),
    per_pull=st.integers(1, 12),
)
@example(backlog=25, leased=0, num_partitions=4, per_pull=10)
@example(backlog=25, leased=15, num_partitions=4, per_pull=10)
def test_plan_holds_only_the_pulls_the_deliverable_backlog_can_fill(
    tmp_path_factory, backlog, leased, num_partitions, per_pull
):
    """A static plan has min(num_partitions × units,
    ceil(deliverable / max_messages_per_partition)) partitions. Its
    reads take min(deliverable, capacity) rows, and a replay yields the
    same rows."""
    from spark_sql_pubsub_connector_spark.sources.datasource import (
        PubsubStreamReader,
    )

    leased = min(leased, backlog)
    b = _mk(tmp_path_factory.mktemp("plan"), backlog, deadline=600)
    assert len(b.pull("s", leased)) == leased  # another consumer's leases
    reader = PubsubStreamReader(
        {
            "project_id": "p",
            "subscription": "s",
            "broker_dir": b.root,
            "num_partitions": str(num_partitions),
            "max_messages_per_partition": str(per_pull),
        }
    )

    def read_all(parts):
        return [
            [row for batch in reader.read(p) for row in batch.to_pylist()]
            for p in parts
        ]

    try:
        start, end = reader.initialOffset(), reader.latestOffset()
        units = max(1, end["batch_id"] - start["batch_id"])
        deliverable = backlog - leased
        parts = reader.partitions(start, end)
        assert len(parts) == min(num_partitions * units, -(-deliverable // per_pull))
        first = read_all(parts)
        capacity = num_partitions * units * per_pull
        assert sum(map(len, first)) == min(deliverable, capacity)
        assert read_all(parts) == first
    finally:
        reader.stop()
