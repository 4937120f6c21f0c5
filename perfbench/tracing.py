"""In-process traced drives of the connector and their layer table.

The drives call the stream reader and writer the way Spark's
micro-batch loop does, one batch at a time: ``latestOffset``, then
``commit`` of the previous end, ``partitions``, ``read`` of every
partition, a second ``read`` of every partition (the replay path), then
the writer's ``write`` and ``commit``. Spans are recorded around those
calls and around the public ``FileBroker`` methods the reader and writer
reach; they stay in memory and are written out when the drive ends.
Self time of a span is its duration minus the union of its children's
intervals, because ``commit`` acks on several threads at once.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

from gen import messages, publish, pubsub_messages

BROKER_METHODS = ("pull_raw", "acknowledge", "backlog", "publish", "commit_staged")


class Tracer:
    """Spans as ``(name, start, end, parent_index)``; ``parent_index``
    is the span open on the driving thread when the span started, so
    work a span hands to a thread pool is attributed to it."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.sub_state_bytes_max = 0
        self._lock = threading.Lock()
        self._open: list[int] = []
        self._main = threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.perf_counter(), 0.0, parent))
        main = threading.get_ident() == self._main
        if main:
            self._open.append(idx)
        try:
            yield
        finally:
            if main:
                self._open.pop()
            with self._lock:
                n, t0, _, p = self.spans[idx]
                self.spans[idx] = (n, t0, time.perf_counter(), p)

    @contextlib.contextmanager
    def patch_broker(self, broker_cls):
        """Wrap the broker's public methods in spans for the duration."""
        originals = {m: getattr(broker_cls, m) for m in BROKER_METHODS}

        def wrap(name, fn):
            @functools.wraps(fn)
            def traced(broker, *args, **kwargs):
                with self.span(f"broker.{name}"):
                    out = fn(broker, *args, **kwargs)
                if name == "pull_raw":
                    self.count("broker.pull_raw.msgs", len(out))
                    self.count("broker.pull_raw.useful", 1 if out else 0)
                    self._sample_sub_state(broker, args[0] if args else kwargs["sub"])
                elif name == "commit_staged":
                    self.count("broker.commit_staged.msgs", out)
                return out

            return traced

        for m, fn in originals.items():
            setattr(broker_cls, m, wrap(m, fn))
        try:
            yield self
        finally:
            for m, fn in originals.items():
                setattr(broker_cls, m, fn)

    def count(self, name: str, n: int) -> None:
        with self._lock:
            self.spans.append((name, 0.0, float(n), -1))

    def _sample_sub_state(self, broker, sub: str) -> None:
        try:
            size = os.path.getsize(broker._sub_path(sub))
        except (AttributeError, OSError):
            return
        self.sub_state_bytes_max = max(self.sub_state_bytes_max, size)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": n, "start": a, "end": b, "parent": p}
                    for n, a, b, p in self.spans
                ],
                fh,
            )


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_table(tracer: Tracer) -> dict[str, float]:
    """Per-span-name ``calls``, ``s`` (summed time), ``self_s`` and
    ``wait_s`` (summed time minus the union of the calls' intervals:
    time the calls spent queued behind one another), plus counters."""
    spans = tracer.spans
    out: dict[str, float] = {}
    children: dict[int, list[tuple[float, float]]] = {}
    by_name: dict[str, list[int]] = {}
    for i, (n, a, b, p) in enumerate(spans):
        if p == -1:  # a counter: b holds the count
            out[n] = out.get(n, 0) + b
            continue
        if p is not None:
            children.setdefault(p, []).append((a, b))
        by_name.setdefault(n, []).append(i)
    for name, idxs in by_name.items():
        ivs = [(spans[i][1], spans[i][2]) for i in idxs]
        total = sum(b - a for a, b in ivs)
        self_s = 0.0
        for i in idxs:
            a, b = spans[i][1], spans[i][2]
            kids = [(max(a, x), min(b, y)) for x, y in children.get(i, []) if y > a and x < b]
            self_s += (b - a) - _union(kids)
        out[f"{name}.calls"] = len(idxs)
        out[f"{name}.s"] = total
        out[f"{name}.self_s"] = self_s
        out[f"{name}.wait_s"] = total - _union(ivs)
    out["broker.sub_state_bytes_max"] = tracer.sub_state_bytes_max
    return out


def _cache_bytes(broker_dir: str) -> int:
    total = 0
    for name in os.listdir(broker_dir):
        if name.startswith(".read_cache"):
            for root, _dirs, files in os.walk(os.path.join(broker_dir, name)):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
    return total


class Drive:
    """One in-process stream over a FileBroker: a reader on ``sub`` and,
    when ``out_topic`` is given, a writer republishing to it."""

    def __init__(self, broker_dir: str, sub: str, partitions: int,
                 max_per_partition: int, out_topic: str | None = None,
                 tracer: Tracer | None = None):
        from spark_sql_pubsub_connector_spark.sources.datasource import (
            PubsubStreamReader,
            PubsubStreamWriter,
        )
        from pyspark.sql.types import MapType, StringType, StructField, StructType, BinaryType

        self.tracer = tracer
        self.broker_dir = broker_dir
        self.reader = PubsubStreamReader({
            "project_id": "bench", "subscription": sub, "broker_dir": broker_dir,
            "num_partitions": str(partitions),
            "max_messages_per_partition": str(max_per_partition),
        })
        self.writer = None
        if out_topic is not None:
            schema = StructType([
                StructField("data", BinaryType(), False),
                StructField("attributes", MapType(StringType(), StringType()), True),
                StructField("ordering_key", StringType(), False),
            ])
            self.writer = PubsubStreamWriter({
                "project_id": "bench", "topic": out_topic, "broker_dir": broker_dir,
                "ordering_key": "ordering_key", "sink_id": "bench-drive",
            }, schema)
        self.start = self.reader.initialOffset()
        self.prev_end = None
        self.batch_id = 0
        self.rows = 0
        self.cache_bytes = 0

    def _span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def step(self) -> bool:
        """One micro-batch; False when ``latestOffset`` did not advance
        (Spark then constructs no batch and commits nothing)."""
        with self._span("datasource.reader.latestOffset"):
            end = self.reader.latestOffset()
        if end == self.start:
            return False
        if self.prev_end is not None:
            with self._span("datasource.reader.commit"):
                self.reader.commit(self.prev_end)
        with self._span("datasource.reader.partitions"):
            parts = self.reader.partitions(self.start, end)
        if self.tracer:
            self.tracer.count("datasource.reader.partitions.count", len(parts))
        batches = []
        for p in parts:
            with self._span("datasource.reader.read_pull"):
                batches.append(list(self.reader.read(p)))
        self.cache_bytes += _cache_bytes(self.broker_dir)
        replayed = []
        for p in parts:
            with self._span("datasource.reader.read_replay"):
                replayed.append(list(self.reader.read(p)))
        n = sum(b.num_rows for bs in batches for b in bs)
        if n != sum(b.num_rows for bs in replayed for b in bs):
            raise RuntimeError(f"replay of batch {self.batch_id} differs from its pull")
        self.rows += n
        if self.writer is not None:
            msgs = []
            for bs in batches:
                with self._span("datasource.writer.write"):
                    msgs.append(self.writer.write(iter(bs)))
            with self._span("datasource.writer.commit"):
                self.writer.commit(msgs, self.batch_id)
        self.prev_end, self.start = end, end
        self.batch_id += 1
        return True

    def stop(self) -> None:
        self.reader.stop()


def drain_drive(work: str, seed: int, n: int, tracer: Tracer | None) -> dict:
    """Publish ``n`` seeded messages, then drive batches until
    ``latestOffset`` stops advancing; the drain ends acked."""
    from spark_sql_pubsub_connector_spark.sources.broker import FileBroker

    broker = FileBroker(work)
    broker.create_topic("t")
    publish(broker, "t", pubsub_messages(seed, n), 1000)
    broker.create_subscription("s", "t", ack_deadline_s=600)
    ctx = tracer.patch_broker(FileBroker) if tracer else contextlib.nullcontext()
    with ctx:
        t0 = time.perf_counter()
        drive = Drive(work, "s", 8, 2500, tracer=tracer)
        while drive.step():
            pass
        wall = time.perf_counter() - t0
        drive.stop()
    backlog = broker.backlog("s")
    return {"wall_s": wall, "rows": drive.rows, "backlog": backlog,
            "cache_bytes_per_msg": drive.cache_bytes / max(1, drive.rows),
            "ok": drive.rows == n and backlog == 0}


def relay_drive(work: str, seed: int, batches: int, per_batch: int,
                tick_msgs: int, tracer: Tracer | None) -> dict:
    """Per batch, publish ``per_batch`` seeded messages in generator
    ticks of ``tick_msgs``, then run one reader→writer micro-batch."""
    from spark_sql_pubsub_connector_spark.sources.broker import FileBroker

    broker = FileBroker(work)
    broker.create_topic("in")
    broker.create_topic("out")
    broker.create_subscription("s", "in", ack_deadline_s=600)
    ctx = tracer.patch_broker(FileBroker) if tracer else contextlib.nullcontext()
    with ctx:
        t0 = time.perf_counter()
        drive = Drive(work, "s", 4, 1000, out_topic="out", tracer=tracer)
        for b in range(batches):
            publish(broker, "in", pubsub_messages(seed, per_batch, b * per_batch), tick_msgs)
            drive.step()
        drive.step()  # acks the last batch
        wall = time.perf_counter() - t0
        drive.stop()
    out = broker.topic_messages("out")
    want = messages(seed, batches * per_batch)
    ok = [m.data for m in out] == [d for d, _, _ in want]
    return {"wall_s": wall, "rows": drive.rows, "backlog": broker.backlog("s"),
            "cache_bytes_per_msg": drive.cache_bytes / max(1, drive.rows), "ok": ok}
