"""The connector benchmark.

    python3 perfbench/run.py --workload {drain,relay} --seed N --seconds S --trace {0,1}

Runs one workload against the pubsub connector on Spark ``local[nproc]``
and prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics: the
Spark run's micro-batch phases plus an in-process drive of the same
seeded messages with spans around each layer (see ``tracing.py``).
A diagnostics line (host calibration probes, peak RSS, per-round
figures) is printed just before the result.

Everything the run writes lives under ``.perfbench/`` at the checkout
root and is removed at exit, except the last traced run's spans and
layer table per workload. See ``perfbench/README.md`` for the metrics,
the workloads and why they were chosen.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime

from gen import messages, publish, pubsub_messages

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

# drain: one backlog per round, drained through ack by one query
DRAIN_N = 16_000
DRAIN_WARMUP_N = 2_000  # the session's first query runs cold
DRAIN_MIN_ROUNDS = 3
DRAIN_PARTITIONS, DRAIN_PER_PARTITION = 8, 2_500
# relay: open-loop generator -> source -> pubsub sink
RELAY_RATE, RELAY_TICK_S = 500, 0.05
RELAY_TRIGGER_S = 2
RELAY_PARTITIONS = 4
RELAY_WARMUP_S = 2.0
RELAY_PREFILL = 200
SETUP_CYCLES = 3
TRACE_PAIRS = 2  # untraced/traced in-process drives per traced run
POLL_S = 0.05
QUERY_TIMEOUT_S = 60.0

END_TO_END = {
    "setup_s": "s",
    "msgs_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
}

PER_LAYER = {
    "broker.pull_raw.calls": "count",
    "broker.pull_raw.s": "s",
    "broker.pull_raw.msgs": "count",
    "broker.pull_raw.useful_ratio": "ratio",
    "broker.sub_state_bytes_max": "bytes",
    "broker.acknowledge.calls": "count",
    "broker.acknowledge.s": "s",
    "broker.acknowledge.wait_s": "s",
    "broker.backlog.calls": "count",
    "broker.backlog.s": "s",
    "broker.publish.s": "s",
    "broker.commit_staged.s": "s",
    "broker.commit_staged.msgs": "count",
    "datasource.reader.latestOffset.s": "s",
    "datasource.reader.partitions.s": "s",
    "datasource.reader.partitions.count": "count",
    "datasource.reader.read_pull.s": "s",
    "datasource.reader.read_pull.self_s": "s",
    "datasource.reader.read_replay.s": "s",
    "datasource.reader.commit.s": "s",
    "datasource.reader.commit.self_s": "s",
    "datasource.reader.commit.wall_share": "ratio",
    "datasource.reader.cache_bytes_per_msg": "bytes",
    "datasource.writer.write.s": "s",
    "datasource.writer.commit.s": "s",
    "datasource.writer.commit.self_s": "s",
    "drive.wall_s": "s",
    "serial_msgs_per_s": "1/s",
    "trace_overhead_pct": "%",
    "microbatch.batches": "count",
    "microbatch.latestOffset_s": "s",
    "microbatch.queryPlanning_s": "s",
    "microbatch.addBatch_s": "s",
    "microbatch.walCommit_s": "s",
    "microbatch.commitOffsets_s": "s",
    "microbatch.unattributed_s": "s",
    "relay.generator_late_max_s": "s",
    "relay.trigger_overrun_ratio": "ratio",
    "failed_ratio": "ratio",
    "duplicate_ratio": "ratio",
}

PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


# -- process-level plumbing ---------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    """``local[nproc]`` session whose JVM, Python workers and temp files
    stay inside ``work``. Workers import the package from the checkout
    through PYTHONPATH, so nothing is zipped and shipped."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    from spark_sql_pubsub_connector_spark.sources.datasource import PubsubDataSource

    n = nproc()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(PubsubDataSource)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class RssSampler:
    """Peak summed RSS of this process and its descendants, from /proc."""

    def __init__(self, period_s: float = 1.0):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(period_s,), daemon=True)

    @staticmethod
    def tree_rss_mb() -> float:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(d)] = int(fields[1])
                rss[int(d)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        return sum(rss.get(p, 0) for p in tree) / 2**20

    def _run(self, period_s: float) -> None:
        while not self._stop.wait(period_s):
            self.peak_mb = max(self.peak_mb, self.tree_rss_mb())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, as ``statistics.quantiles(n=100)`` cuts it."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100)[q - 1]


def progress_ts(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def phase_metrics(progress: list[dict]) -> dict[str, float]:
    """Mean seconds per micro-batch of each named phase, and of the part
    of triggerExecution no named phase covers."""
    n = max(1, len(progress))
    out = {"microbatch.batches": len(progress)}
    unattributed = 0.0
    for p in progress:
        d = p["durationMs"]
        unattributed += d.get("triggerExecution", 0) - sum(
            d.get(k, 0) for k in PHASES + ("getBatch",)
        )
    for k in PHASES:
        out[f"microbatch.{k}_s"] = sum(p["durationMs"].get(k, 0) for p in progress) / n / 1e3
    out["microbatch.unattributed_s"] = unattributed / n / 1e3
    return out


# -- broker helpers -----------------------------------------------------------


def new_broker(path: str):
    from spark_sql_pubsub_connector_spark.sources.broker import FileBroker

    shutil.rmtree(path, ignore_errors=True)
    return FileBroker(path)


def cache_files_with_data(broker_dir: str, floor_bytes: int = 4096) -> int:
    """Replay-cache files still holding data. Only the batch after the
    last data batch is never committed by Spark, and its partitions are
    empty, so a file above ``floor_bytes`` is an unevicted data batch."""
    n = 0
    for name in os.listdir(broker_dir):
        if name.startswith(".read_cache"):
            for root, _dirs, files in os.walk(os.path.join(broker_dir, name)):
                n += sum(
                    os.path.getsize(os.path.join(root, f)) > floor_bytes for f in files
                )
    return n


def wait_for(cond, timeout_s: float = QUERY_TIMEOUT_S) -> bool:
    """Poll ``cond`` until it holds; False if ``timeout_s`` ran out."""
    deadline = time.monotonic() + timeout_s
    while not cond():
        if time.monotonic() > deadline:
            return False
        time.sleep(POLL_S)
    return True


# -- drain --------------------------------------------------------------------


def drain_round(spark, work: str, name: str, msgs: list) -> dict:
    """Publish ``msgs`` as a fresh backlog (timed as set-up), then drain it
    through ack with one default-trigger query writing to ``noop``."""
    n = len(msgs)
    bd = os.path.join(work, name)
    t = time.perf_counter()
    broker = new_broker(bd)
    broker.create_topic("t")
    publish(broker, "t", msgs, 1000)
    broker.create_subscription("s", "t", ack_deadline_s=600)
    setup_s = time.perf_counter() - t

    t = time.perf_counter()
    q = (
        spark.readStream.format("pubsub")
        .option("project_id", "bench")
        .option("subscription", "s")
        .option("broker_dir", bd)
        .option("num_partitions", str(DRAIN_PARTITIONS))
        .option("max_messages_per_partition", str(DRAIN_PER_PARTITION))
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(work, name + "-ck"))
        .start()
    )
    try:
        # acks of the last data batch run while Spark builds the next
        # batch, so the backlog is acked once that batch's progress lands
        def acked() -> bool:
            rows = 0
            for p in q.recentProgress:
                if rows >= n:
                    return True
                rows += p["numInputRows"]
            return False

        done = wait_for(acked)
        wall = time.perf_counter() - t
        progress = q.recentProgress
    finally:
        q.stop()
    rows = sum(p["numInputRows"] for p in progress)
    backlog = broker.backlog("s")
    leftover = cache_files_with_data(bd)
    shutil.rmtree(bd, ignore_errors=True)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows": rows,
        "backlog": backlog,
        "cache_files_left": leftover,
        "ok": done and rows == n and backlog == 0 and leftover == 0,
        "progress": progress,
    }


def run_drain(spark, work: str, seed: int, seconds: float) -> dict:
    drain_round(spark, work, "warmup", pubsub_messages(seed + 1, DRAIN_WARMUP_N))
    msgs = pubsub_messages(seed, DRAIN_N)
    rounds = []
    while len(rounds) < DRAIN_MIN_ROUNDS or sum(r["wall_s"] for r in rounds) < seconds:
        rounds.append(drain_round(spark, work, f"r{len(rounds)}", msgs))
        if not rounds[-1]["ok"]:
            break
    wall = statistics.median(r["wall_s"] for r in rounds)
    missing = sum(abs(DRAIN_N - r["rows"]) + r["backlog"] for r in rounds)
    return {
        "correct": all(r["ok"] for r in rounds),
        "attempted": DRAIN_N * len(rounds),
        "failed": missing + sum(r["cache_files_left"] > 0 for r in rounds),
        "duplicates": sum(max(0, r["rows"] - DRAIN_N) for r in rounds),
        "metrics": {
            "setup_s": statistics.median(r["setup_s"] for r in rounds),
            "msgs_per_s": statistics.median(DRAIN_N / r["wall_s"] for r in rounds),
            # every message of a backlog is due at query start and done
            # when acked, so one round's messages share its wall time
            "latency_p50_s": wall,
            "latency_p99_s": wall,
        },
        "progress": [p for r in rounds for p in r["progress"]],
        "layers": {},  # the relay.* figures read 0
        "diag": {
            "rounds": [
                {k: round(v, 4) if isinstance(v, float) else v
                 for k, v in r.items() if k != "progress"}
                for r in rounds
            ]
        },
    }


# -- relay --------------------------------------------------------------------


def start_relay_query(spark, bd: str, ck: str):
    return (
        spark.readStream.format("pubsub")
        .option("project_id", "bench")
        .option("subscription", "in-sub")
        .option("broker_dir", bd)
        .option("num_partitions", str(RELAY_PARTITIONS))
        .load()
        .select("data", "attributes", "ordering_key")
        .writeStream.format("pubsub")
        .option("project_id", "bench")
        .option("topic", "out")
        .option("broker_dir", bd)
        .option("ordering_key", "ordering_key")
        .option("checkpointLocation", ck)
        .option("sink_id", ck)
        .trigger(processingTime=f"{RELAY_TRIGGER_S} seconds")
        .start()
    )


def relay_broker(path: str):
    broker = new_broker(path)
    broker.create_topic("in")
    broker.create_topic("out")
    broker.create_subscription("in-sub", "in", ack_deadline_s=600)
    broker.create_subscription("out-sub", "out", ack_deadline_s=600)
    return broker


class Observer:
    """Downstream consumer of the output topic: pulls and acks every
    ``POLL_S`` and stamps each message with the time it was first seen."""

    def __init__(self, bd: str):
        from spark_sql_pubsub_connector_spark.sources.broker import FileBroker

        self.broker = FileBroker(bd)
        self.seen: list[tuple[float, object]] = []
        self.ids: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.error: BaseException | None = None

    def poll(self) -> int:
        got = self.broker.pull("out-sub", 20_000)
        now = time.time()
        if got:
            self.broker.acknowledge("out-sub", [r.ack_id for r in got])
            for r in got:
                self.seen.append((now, r.message))
                self.ids.add(int(r.message.attributes["id"]))
        return len(got)

    def _run(self) -> None:
        try:
            while not self._stop.is_set():
                if not self.poll():
                    self._stop.wait(POLL_S)
        except BaseException as e:  # re-raised by raise_error()
            self.error = e

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=30)

    def raise_error(self) -> None:
        if self.error is not None:
            raise RuntimeError("output observer failed") from self.error


def check_relay(seen: list, seed: int, published: int) -> dict:
    """Every generated id must reach the output exactly with its seeded
    ``data`` bytes and ordering key; repeats are counted as duplicates."""
    want = messages(seed, published)
    first: dict[int, object] = {}
    duplicates = corrupt = foreign = 0
    for _t, m in seen:
        i = int(m.attributes.get("id", -1))
        if not 0 <= i < published:
            foreign += 1
            continue
        if i in first:
            duplicates += 1
            continue
        first[i] = m
        data, _attrs, key = want[i]
        if m.data != data or m.ordering_key != key:
            corrupt += 1
    missing = published - len(first)
    return {
        "missing": missing,
        "corrupt": corrupt,
        "foreign": foreign,
        "duplicates": duplicates,
        "ok": missing == corrupt == foreign == 0,
    }


def relay_setup_cycle(spark, bd: str, msgs: list) -> tuple[float, object]:
    """Stand a relay up on a fresh broker and time it until a prefill of
    ``msgs`` has come out the other end. The query is left running."""
    t = time.perf_counter()
    broker = relay_broker(bd)
    broker.publish("in", msgs)
    q = start_relay_query(spark, bd, bd + "-ck")
    obs = Observer(bd)

    def arrived() -> bool:
        obs.poll()
        return len(obs.ids) >= len(msgs)

    # let the batch finish its offset commits too, so a stop never
    # interrupts it
    if not (wait_for(arrived) and wait_for(lambda: q.lastProgress is not None)):
        q.stop()
        raise TimeoutError(f"relay set-up in {bd} did not deliver its prefill")
    return time.perf_counter() - t, q


def run_relay(spark, work: str, seed: int, seconds: float) -> dict:
    """Set the relay up SETUP_CYCLES times; the last one, warm and with its
    prefill drained and acked downstream, carries the generated traffic."""
    prefill = pubsub_messages(seed + 1, RELAY_PREFILL)
    setups = []
    for c in range(SETUP_CYCLES):
        bd = os.path.join(work, f"relay{c}")
        elapsed, q = relay_setup_cycle(spark, bd, prefill)
        setups.append(elapsed)
        if c < SETUP_CYCLES - 1:
            q.stop()
            shutil.rmtree(bd, ignore_errors=True)

    gen_out = os.path.join(work, "generator.json")
    with Observer(bd) as obs:
        try:
            # the generator runs for `seconds`; its first RELAY_WARMUP_S
            # are warm-up and excluded from the latency window. Spark fires
            # processing-time triggers on multiples of the interval since
            # the epoch; starting half a tick after one, at least a second
            # ahead for the generator to import, fixes the schedule's
            # phase against the trigger in every run.
            t0 = ((time.time() + 1.0) // RELAY_TRIGGER_S + 1) * RELAY_TRIGGER_S
            t0 += RELAY_TICK_S / 2
            window = (t0 + RELAY_WARMUP_S, t0 + seconds)
            gen = subprocess.Popen([
                sys.executable, os.path.join(HERE, "gen.py"),
                "--broker", bd, "--topic", "in", "--seed", str(seed),
                "--rate", str(RELAY_RATE), "--tick", str(RELAY_TICK_S),
                "--start-at", repr(t0), "--stop-at", repr(window[1]),
                "--out", gen_out,
            ])
            try:
                rc = gen.wait(timeout=window[1] - time.time() + 30)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if rc != 0:
                raise RuntimeError(f"generator exited with {rc}")
            with open(gen_out) as fh:
                gen_summary = json.load(fh)
            published = gen_summary["published"]
            # a message that never arrives is reported by check_relay
            wait_for(lambda: len(obs.ids) >= published or obs.error is not None)
            progress = q.recentProgress
        finally:
            q.stop()
    obs.raise_error()

    check = check_relay(obs.seen, seed, published)
    lat = [
        t - int(m.attributes["due_us"]) / 1e6
        for t, m in obs.seen
        if window[0] <= int(m.attributes["due_us"]) / 1e6 < window[1]
    ]
    batches = [
        p for p in progress
        if p["numInputRows"] > 0 and window[0] <= progress_ts(p) < window[1]
    ]
    busy_s = sum(p["durationMs"]["triggerExecution"] for p in batches) / 1e3
    return {
        "correct": check["ok"],
        "attempted": published,
        "failed": check["missing"] + check["corrupt"] + check["foreign"],
        "duplicates": check["duplicates"],
        "metrics": {
            "setup_s": statistics.median(setups),
            # messages per second of the query's busy time: the rate the
            # relay could sustain if it never idled between triggers
            "msgs_per_s": sum(p["numInputRows"] for p in batches) / busy_s,
            "latency_p50_s": statistics.median(lat),
            "latency_p99_s": quantile(lat, 99),
        },
        "progress": batches,
        "layers": {
            "relay.generator_late_max_s": gen_summary["late_max_s"],
            "relay.trigger_overrun_ratio": sum(
                p["durationMs"]["triggerExecution"] > RELAY_TRIGGER_S * 1e3
                for p in batches
            ) / len(batches),
        },
        "diag": {
            "setup_cycles_s": [round(s, 4) for s in setups],
            "window_msgs": len(lat),
            "window_batches": len(batches),
            "batch_trigger_ms": [p["durationMs"]["triggerExecution"] for p in batches],
            "check": check,
            "generator": gen_summary,
        },
    }


WORKLOADS = {"drain": run_drain, "relay": run_relay}


# -- traced run ---------------------------------------------------------------


def traced_layers(workload: str, work: str, seed: int) -> tuple[bool, dict, object, dict]:
    """Drive the workload in process TRACE_PAIRS times untraced and as
    often traced, alternating which goes first, and derive the per-layer
    metrics from the last traced drive's spans."""
    import tracing

    def drive(tracer, name):
        path = os.path.join(work, name)
        shutil.rmtree(path, ignore_errors=True)
        if workload == "drain":
            out = tracing.drain_drive(path, seed, DRAIN_N, tracer)
        else:
            out = tracing.relay_drive(
                path, seed, batches=8, per_batch=RELAY_RATE * RELAY_TRIGGER_S,
                tick_msgs=round(RELAY_RATE * RELAY_TICK_S), tracer=tracer,
            )
        shutil.rmtree(path, ignore_errors=True)
        return out

    plain, traced = [], []
    for i in range(TRACE_PAIRS):
        for kind in (("plain", "traced") if i % 2 == 0 else ("traced", "plain")):
            if kind == "plain":
                plain.append(drive(None, f"plain{i}"))
            else:
                tracer = tracing.Tracer()
                traced.append(drive(tracer, f"traced{i}"))
    last = traced[-1]
    plain_wall = statistics.median(d["wall_s"] for d in plain)
    table = tracing.layer_table(tracer)
    pulls = table.get("broker.pull_raw.calls", 0)
    out = {name: table[name] for name in PER_LAYER if name in table}
    out.update({
        "broker.pull_raw.useful_ratio": table.get("broker.pull_raw.useful", 0) / max(1, pulls),
        "datasource.reader.commit.wall_share":
            table.get("datasource.reader.commit.s", 0.0) / last["wall_s"],
        "datasource.reader.cache_bytes_per_msg": last["cache_bytes_per_msg"],
        "drive.wall_s": last["wall_s"],
        "serial_msgs_per_s": plain[0]["rows"] / plain_wall,
        "trace_overhead_pct": 100.0 * (
            statistics.median(d["wall_s"] for d in traced) / plain_wall - 1.0
        ),
    })
    return all(d["ok"] for d in plain + traced), out, tracer, table


def write_layer_table(path: str, args, metrics: dict, table: dict) -> None:
    """Markdown layer table of one traced run, then its per-layer metrics.
    A span's busy share is the union of its calls' intervals over the
    traced drive's wall time; ``wait s`` is the calls' overlap, i.e. time
    spent queued behind one another."""
    wall = metrics["drive.wall_s"]
    names = sorted({k.rsplit(".", 1)[0] for k in table if k.endswith(".calls")})
    lines = [
        f"# `{args.workload}` layer table (seed {args.seed}, --seconds {args.seconds:g})",
        "",
        f"In-process drive: {metrics['broker.pull_raw.msgs']:.0f} messages pulled in "
        f"{wall:.3f} s traced; untraced serial rate "
        f"{metrics['serial_msgs_per_s']:.0f} msgs/s; tracing overhead "
        f"{metrics['trace_overhead_pct']:.1f}%.",
        "",
        "| span | calls | total s | self s | wait s | busy share of drive wall |",
        "|---|---:|---:|---:|---:|---:|",
    ]
    for n in names:
        lines.append(
            f"| `{n}` | {table[n + '.calls']:.0f} | {table[n + '.s']:.3f} | "
            f"{table[n + '.self_s']:.3f} | {table[n + '.wait_s']:.3f} | "
            f"{(table[n + '.s'] - table[n + '.wait_s']) / wall:.1%} |"
        )
    lines += ["", "| per-layer metric | value | unit |", "|---|---:|---|"]
    lines += [f"| `{k}` | {metrics[k]:.6g} | {u} |" for k, u in PER_LAYER.items()]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


# -- entry point --------------------------------------------------------------


def calibrate(spark) -> dict:
    """The repository's host-speed probe pair, for the diagnostics line."""
    try:
        from tools.calib import calib3
    except ImportError:
        return {}
    return calib3(spark)


def run(args, work: str) -> tuple[dict, dict]:
    t = time.perf_counter()
    spark = start_spark(work)
    diag: dict = {"session_start_s": time.perf_counter() - t}
    try:
        t = time.perf_counter()
        res = WORKLOADS[args.workload](spark, work, args.seed, args.seconds)
        diag["workload_s"] = time.perf_counter() - t
        if args.trace:
            diag["calibration"] = calibrate(spark)
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        diag["session_stop_s"] = time.perf_counter() - t
    diag.update(res["diag"])
    attempted, failed = res["attempted"], res["failed"]
    correct = res["correct"]
    if not args.trace:
        metrics = res["metrics"]
        units = END_TO_END
    else:
        ok, layers, tracer, table = traced_layers(args.workload, work, args.seed)
        correct = correct and ok
        layers.update(phase_metrics(res["progress"]))
        layers.update(res["layers"])
        layers["failed_ratio"] = failed / attempted
        layers["duplicate_ratio"] = res["duplicates"] / attempted
        metrics = {k: layers.get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
        tracer.dump(os.path.join(OUT, f"spans-{args.workload}.json"))
        write_layer_table(os.path.join(OUT, f"layers-{args.workload}.md"), args, metrics, table)
    return result_line(correct, attempted, failed, metrics, units), diag


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    """The final stdout object: every metric named in ``units``, no other."""
    return {
        "correct": bool(correct) and failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="pubsub connector benchmark")
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import spark_sql_pubsub_connector_spark.sources.datasource  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the connector package is not importable: {e}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        with RssSampler() as rss:
            result, diag = run(args, work)
        diag["peak_rss_mb"] = round(rss.peak_mb, 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": diag}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
