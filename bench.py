"""Headline benchmark: runs the bench-tagged queries from the corpus at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3, per round-2
advice): ``queries`` records the COLD first run — comparable with
BENCH_r01/r02, which were single cold runs — and ``queries_warm_median``
the median of the warm repeats, which separates codegen-compilation cost
from steady-state execution. ``deltas_vs_prev`` / ``deltas_warm_vs_prev``
report percentage change against the highest *parseable* BENCH_r{N}.json
strictly below the round being recorded (``prev_round_file`` names it).
``calibration`` times two fixed probes (CPU-bound, shuffle-bound) so
cross-round comparisons can separate host-speed drift — this VM swings
>2x with unobservable host load — from engine regressions: divide a
query delta by the calibration delta before believing it.

Output contract (r6 postmortem): the driver keeps only the LAST
~2,000 chars of stdout and parses the final JSON line it finds there.
Round 6's single ever-growing line outgrew that window and the round's
bench signal was lost (``BENCH_r06.json`` ``"parsed": null``). The
final stdout line is therefore a COMPACT headline — metric, total,
cold + warm-median per query, connector rates — hard-budgeted to
``HEADLINE_BUDGET`` chars (unit-tested in tests/test_bench_utils.py
against the full bench query set), while the complete diagnostics
(per-run arrays, deltas, calibration, normalization) go to an EARLIER
stdout line and to ``BENCH_DIAG.json`` next to this script.

Profile notes (round 2, sf0.1): cold-run times are dominated by
whole-stage-codegen compilation, not execution — q01 runs 1.7 s cold /
0.69 s steady, q17 4.5 s cold / 1.1 s steady. The parquet scans stay on
the vectorized reader (`nanosAsLong` affects only the events table's
ns column and costs ~0.06 s on a 600 k-row scan), and splitting the
small local files 10-ways moves nothing — so the headline total is a
codegen+execute measurement by design, comparable across rounds.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


HEADLINE_BUDGET = 1500  # driver tail capture is ~2,000 chars; leave slack
                        # for progress-bar \r junk sharing the window


def latest_prior_bench(repo_dir: str) -> str | None:
    """Path of the BENCH_r{N}.json to diff against: the highest round
    STRICTLY BELOW the round being recorded (ADVICE r4: once the driver
    writes the current round's BENCH file, a re-run within the round
    would otherwise diff against itself and mask regressions). The
    round being recorded is VERDICT round + 1; with no VERDICT yet
    (round 1) every existing file predates the current run by
    construction.

    Rounds whose artifact failed the driver's parse (``"parsed": null``
    — r6's oversized final line) carry no query timings to diff
    against, so the lookup walks DOWN to the newest round that actually
    parsed rather than silently dropping every delta field."""
    import glob
    import re

    def round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    def parsable(p: str) -> bool:
        try:
            with open(p) as fh:
                d = json.load(fh)
        except (OSError, ValueError):
            return False
        parsed = d.get("parsed", d)
        return isinstance(parsed, dict) and bool(parsed.get("queries"))

    cur_round = None
    try:
        with open(os.path.join(repo_dir, "VERDICT.md")) as fh:
            m = re.search(r"round\s+(\d+)", fh.readline())
        if m:
            cur_round = int(m.group(1)) + 1
    except OSError:
        pass
    prevs = sorted(
        (
            p
            for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
            if cur_round is None or 0 <= round_no(p) < cur_round
        ),
        key=round_no,
    )
    for p in reversed(prevs):
        if parsable(p):
            return p
    return None


def headline_line(result: dict) -> str:
    """The one JSON line the driver parses, compacted to fit its tail
    window: headline metric + per-query cold/warm-median + connector
    rates, ``separators=(",", ":")``. If a future query-set growth ever
    pushes past ``HEADLINE_BUDGET``, optional sections shed in a fixed
    order (warm medians first, then the connector block) rather than
    silently breaking the driver's parse again — coverage of the
    budget with the FULL current bench set is pinned by
    tests/test_bench_utils.py."""
    compact = {
        k: result[k]
        for k in ("metric", "value", "unit", "sf", "n_runs")
        if k in result
    }
    compact["queries"] = result.get("queries", {})
    if "queries_warm_median" in result:
        compact["queries_warm_median"] = result["queries_warm_median"]
    conn = result.get("connector")
    if isinstance(conn, dict):
        compact["connector"] = {
            k: conn[k]
            for k in (
                "n_msgs",
                "source_msgs_per_s",
                "roundtrip_msgs_per_s",
                "source_spread_pct",
                "roundtrip_spread_pct",
            )
            if k in conn
        }
    elif "connector_error" in result:
        # a failed probe carries the exception text — a Py4J message
        # can run to kilobytes, the exact overflow class that silenced
        # r6's signal; the full text is in the diagnostics anyway
        compact["connector_error"] = str(result["connector_error"])[:200]
    # ADVICE r7 (medium): the calibration probes must ride in the
    # DRIVER artifact, not only BENCH_DIAG.json — next round's delta
    # code reads the prior round's calibration from BENCH_r{N}.json
    # "parsed", and without it the drift normalization this >2x-drift
    # VM depends on silently disappears. Two rounded floats, ~70 chars.
    if "calibration" in result:
        compact["calibration"] = result["calibration"]
    # VERDICT r8 #3: the sizing stamp rides in the driver artifact so
    # round-over-round warm comparisons state their session conf;
    # sheds before calibration (next round's normalization needs that)
    if "session" in result:
        compact["session"] = result["session"]
    compact["diagnostics_file"] = "BENCH_DIAG.json"
    line = json.dumps(compact, separators=(",", ":"))
    for shed in ("queries_warm_median", "connector", "connector_error",
                 "session", "calibration"):
        if len(line) <= HEADLINE_BUDGET:
            break
        compact.pop(shed, None)
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > HEADLINE_BUDGET:
        # ADVICE r7 (low): terminal fallback — if the query set itself
        # outgrows the budget after every optional section has shed,
        # drop per-query detail rather than silently recreating the r6
        # tail-window overflow. The totals still parse; the per-query
        # timings live in BENCH_DIAG.json.
        minimal = {
            k: compact[k]
            for k in ("metric", "value", "unit", "sf", "n_runs")
            if k in compact
        }
        minimal["queries_truncated"] = len(compact.get("queries", {}))
        minimal["diagnostics_file"] = "BENCH_DIAG.json"
        line = json.dumps(minimal, separators=(",", ":"))
    return line


def run_once(spark, spec, sf_dir: str) -> float:
    """Wall seconds to build ``spec``'s DataFrame and evaluate it: the
    headline's timed region."""
    t0 = time.perf_counter()
    df = spec.build(spark, sf_dir)
    # write to a no-op sink: forces full evaluation of every row
    # without driver-side collect
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    from spark_sql_pubsub_connector_spark.plans import all_specs, release_caches
    from spark_sql_pubsub_connector_spark.session import get_spark
    from tools.calib import calib3, warmup

    spark = get_spark(app_name="bench")
    specs = {n: s for n, s in sorted(all_specs().items()) if s.bench}

    # Session-conf stamp (VERDICT r8 #3): the bench numbers are only
    # comparable round-over-round under the same session sizing, and
    # the r8 q22 warm>cold inversion was a sizing question the headline
    # could not answer because the conf wasn't recorded. Read back the
    # LIVE values (an inherited session keeps its own heap).
    session_stamp = {
        "driver_memory": spark.conf.get("spark.driver.memory", "unset"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "master": spark.conf.get("spark.master", "unset"),
    }

    # Warm the fixed-cost paths so the first query isn't charged for
    # them: codegen pipeline, parquet reader + filesystem init (via the
    # 5-row region table), and the noop sink committer.
    #
    # r16 REVERT (VERDICT r15 #1): the r15 Python-worker-pool warm-up
    # (a mapInPandas no-op forking one worker per core, each importing
    # pandas + the plans package) is GONE. It reproduced a q22 cold win
    # on the builder host but on the driver host it REGRESSED the whole
    # headline (q22 warm +194% normalized, q22/q17 anti-scaling — 8
    # cores beat 32): 32 resident workers each holding numpy+pandas+the
    # package are multiple GB of RSS beside an 8g driver JVM, and the
    # pool ran BEFORE the calibration probes, contaminating the drift
    # factor every cross-round comparison depends on. q22's cold number
    # again honestly includes the session's one-time Python fork+import
    # storm, directly comparable with rounds ≤14.
    warmup(spark, sf_dir)

    # Host-speed calibration (r5): this box is a VM whose effective
    # speed swings >2x run-to-run with host load we cannot observe
    # (measured r5: cold totals 13.3->23.1 s minutes apart, code
    # unchanged). These two fixed probes — one CPU/codegen-bound, one
    # shuffle-bound — time the SAME work every round; comparing their
    # drift against a prior round's values separates machine-speed
    # drift from genuine engine regressions (best of 3, min).
    calibration = calib3(spark)

    timings: dict[str, float] = {}
    warm_median: dict[str, float] = {}
    warm_min: dict[str, float] = {}
    warm_spread: dict[str, float] = {}
    for name, spec in specs.items():
        runs = [run_once(spark, spec, sf_dir) for _ in range(n_runs)]
        timings[name] = round(runs[0], 4)  # cold, comparable with r1/r2
        if len(runs) > 1:
            warm_median[name] = round(statistics.median(runs[1:]), 4)
            # min-of-warm: the least noise-exposed capacity estimate
            warm_min[name] = round(min(runs[1:]), 4)
            # per-query noise band (r6 verdict #2/B): a normalized
            # warm delta SMALLER than the query's own observed
            # run-to-run spread is noise, not a regression — q20's
            # "+30%" r6 reading fell inside its ±30%+ band (controlled
            # A/B, r7). Diagnostics-only field.
            warm_spread[name] = round(
                100.0 * (max(runs[1:]) - min(runs[1:])) / min(runs[1:]), 1
            )
        # Measurement independence (r6 verdict #2): q17 persists its
        # bands frame and the entry outlives the query in the shared
        # session. A controlled A/B at sf0.1 (r7) measured the
        # residency as harmless to q20 (warm median 0.554 s with bands
        # resident vs 0.577/0.505 s without — inside noise), but
        # clearing between queries makes every measurement independent
        # BY CONSTRUCTION and stops per-corpus cache accumulation
        # (ADVICE r6). Warm repeats above still share the cache — the
        # within-query benefit persist exists for. release_caches drops
        # the plan modules' tracked references with it.
        spark.catalog.clearCache()
        release_caches()

    total = round(sum(timings.values()), 4)
    result = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_runs": n_runs,
    }
    if warm_median:
        result["queries_warm_median"] = warm_median
        result["queries_warm_min"] = warm_min
        result["queries_warm_spread_pct"] = warm_spread
    result["calibration"] = calibration
    result["session"] = session_stamp
    prev = latest_prior_bench(REPO)
    if prev:
        try:
            with open(prev) as fh:  # latest round before the current one
                d = json.load(fh)
            # the driver wraps bench output under "parsed"
            parsed = d.get("parsed", d)
            pq = parsed.get("queries", {})
            result["deltas_vs_prev"] = {
                n: round(100.0 * (timings[n] - pq[n]) / pq[n], 1)
                for n in timings
                if n in pq and pq[n] > 0
            }
            # warm-median deltas separate real regressions from codegen
            # warmup noise (r3 verdict: q17/q20 cold wobble, warm flat)
            pw = parsed.get("queries_warm_median", {})
            result["deltas_warm_vs_prev"] = {
                n: round(100.0 * (warm_median[n] - pw[n]) / pw[n], 1)
                for n in warm_median
                if n in pw and pw[n] > 0
            }
            # Calibration-normalized deltas (VERDICT r5 #5): the probes
            # time identical work every round, so their drift IS the
            # host-speed factor. Dividing this round's times by the
            # mean probe drift before diffing separates machine drift
            # (uniform, tracks the probes) from engine regressions
            # (query-specific, survives normalization).
            pc = parsed.get("calibration", {})
            if pc.get("cpu_probe_s") and pc.get("shuffle_probe_s"):
                drift = (
                    calibration["cpu_probe_s"] / pc["cpu_probe_s"]
                    + calibration["shuffle_probe_s"] / pc["shuffle_probe_s"]
                ) / 2.0
                result["calibration_drift_factor"] = round(drift, 3)
                result["deltas_vs_prev_normalized"] = {
                    n: round(100.0 * (timings[n] / drift - pq[n]) / pq[n], 1)
                    for n in timings
                    if n in pq and pq[n] > 0
                }
                result["deltas_warm_vs_prev_normalized"] = {
                    n: round(100.0 * (warm_median[n] / drift - pw[n]) / pw[n], 1)
                    for n in warm_median
                    if n in pw and pw[n] > 0
                }
            result["prev_round_file"] = os.path.basename(prev)
        except Exception:
            pass
    try:
        result["connector"] = connector_throughput(spark, sf_dir)
    except Exception as e:  # never let the connector probe break the line
        result["connector_error"] = f"{type(e).__name__}: {e}"
    # Full diagnostics: a local file for the round notes plus one
    # stdout line; the driver-facing COMPACT headline is the LAST line
    # (see module docstring — the r6 signal loss).
    try:
        with open(os.path.join(REPO, "BENCH_DIAG.json"), "w") as fh:
            json.dump(result, fh, indent=1)
    except OSError:
        pass
    print(json.dumps({"diagnostics": result}))
    print(headline_line(result), flush=True)
    spark.stop()


def connector_throughput(
    spark, sf_dir: str, n_msgs: int = 60_000, warmup_msgs: int = 1_000
) -> dict:
    """Single-node connector throughput: drain ``n_msgs`` through the
    pubsub source (availableNow, 8×2,500-msg partitions), then through
    source→sink republish. The reference's capacity envelope is
    256 partitions × 1,000 msgs per trigger (BASELINE.md); this
    measures what one JVM actually sustains end-to-end.

    A small untimed roundtrip runs first so the timed drains measure
    steady-state throughput rather than the one-time Python-runner and
    streaming-codegen startup — the connector analog of the batch
    warmup in main() (round-2 advice: n≥1 warm runs).

    Sizing (r3): a streaming query pays a fixed ~1.2 s lifecycle cost
    (driver-side Python planner spawn + StreamExecution init/teardown)
    that r2's 20k-message drain could not amortize — it measured
    startup, not throughput. 60k messages at 2,500 msgs/partition
    (profiled best: fewer Python task roundtrips, same 32-core wave)
    puts >70% of the wall inside addBatch, so the number tracks the
    engine's sustained rate; n_msgs rides in the JSON for
    cross-round comparability."""
    import tempfile
    import uuid

    from spark_sql_pubsub_connector_spark.sources.broker import FileBroker
    from spark_sql_pubsub_connector_spark.streaming import (
        read_stream,
        seed_topic_from_events,
        write_stream,
    )

    def drain(src, ck):
        q = (
            src.writeStream.format("noop")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    run = uuid.uuid4().hex[:8]
    broker_dir = tempfile.mkdtemp(prefix=f"bench-broker-{run}-")
    broker = FileBroker(broker_dir)

    # the seeder asserts it delivered exactly `limit` messages, so clamp
    # to the fixture size rather than fail on a small SPARK_GRAFT_SF_DIR
    # (throughput denominators then match what actually flowed)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    n_msgs = min(n_msgs, n_events)
    warmup_msgs = min(warmup_msgs, n_events)

    # untimed warmup: tiny source drain + sink republish
    wtopic, wsub = f"bw-{run}", f"bws-{run}"
    seed_topic_from_events(
        spark, sf_dir, broker_dir, wtopic, wsub, limit=warmup_msgs, ack_deadline_s=600
    )
    drain(
        read_stream(
            spark, broker_dir, wsub, num_partitions=8, max_messages_per_partition=1000
        ),
        tempfile.mkdtemp(prefix=f"bench-ckw-{run}-"),
    )
    broker.create_subscription(f"{wsub}2", wtopic, ack_deadline_s=600)
    broker.create_topic(f"{wtopic}-out")
    wq = write_stream(
        read_stream(
            spark,
            broker_dir,
            f"{wsub}2",
            num_partitions=8,
            max_messages_per_partition=1000,
        ).select("data", "attributes"),
        broker_dir,
        f"{wtopic}-out",
        tempfile.mkdtemp(prefix=f"bench-ckw2-{run}-"),
        trigger_available_now=True,
        sink_partitions=8,
    )
    wq.awaitTermination(600)

    topic = f"bt-{run}"
    seed_topic_from_events(
        spark, sf_dir, broker_dir, topic, None, limit=n_msgs, ack_deadline_s=600
    )

    # Each timed phase runs three times (SPARK_GRAFT_CONNECTOR_RUNS) on
    # separately-seeded subscriptions of the SAME topic and reports the
    # best run: a single 3-4 s drain is exposed to multi-second
    # scheduler/GC jitter (observed spread on an otherwise-idle 32-core
    # box: 6.5k-23k msgs/s), and the metric is sustained engine
    # capacity, not the jitter floor. The per-run times plus the
    # *_spread_pct fields state the observed noise band so a real
    # regression is distinguishable from jitter (ADVICE/VERDICT r4 #7).
    n_conn_runs = max(2, int(os.environ.get("SPARK_GRAFT_CONNECTOR_RUNS", "3")))
    source_s = []
    for i in range(n_conn_runs):
        sub = f"bs-{run}-{i}"
        broker.create_subscription(sub, topic, ack_deadline_s=600)
        src = read_stream(
            spark, broker_dir, sub, num_partitions=8, max_messages_per_partition=2500
        )
        t0 = time.perf_counter()
        drain(src, tempfile.mkdtemp(prefix=f"bench-ck1-{run}-{i}-"))
        source_s.append(time.perf_counter() - t0)

    roundtrip = []
    for i in range(n_conn_runs):
        sub2, out_topic = f"bs2-{run}-{i}", f"{topic}-out-{i}"
        broker.create_subscription(sub2, topic, ack_deadline_s=600)
        broker.create_topic(out_topic)
        src2 = read_stream(
            spark, broker_dir, sub2, num_partitions=8, max_messages_per_partition=2500
        )
        out = src2.select("data", "attributes")
        t0 = time.perf_counter()
        q2 = write_stream(
            out,
            broker_dir,
            out_topic,
            tempfile.mkdtemp(prefix=f"bench-ck2-{run}-{i}-"),
            trigger_available_now=True,
            sink_partitions=8,  # 8 publisher tasks, matching pull parallelism
        )
        q2.awaitTermination(600)
        roundtrip.append(
            (time.perf_counter() - t0, len(broker.topic_messages(out_topic)))
        )

    rt_s, published = min(roundtrip, key=lambda t: t[0] / max(t[1], 1))

    def spread_pct(times) -> float:
        return round(100.0 * (max(times) - min(times)) / min(times), 1)

    return {
        "n_msgs": n_msgs,
        "source_msgs_per_s": round(n_msgs / min(source_s), 1),
        "roundtrip_msgs_per_s": round(published / rt_s, 1),
        "roundtrip_published": published,
        "source_runs_s": [round(s, 2) for s in source_s],
        "roundtrip_runs_s": [round(t[0], 2) for t in roundtrip],
        # observed noise band: best-vs-worst run of this invocation
        "source_spread_pct": spread_pct(source_s),
        "roundtrip_spread_pct": spread_pct([t[0] for t in roundtrip]),
    }


if __name__ == "__main__":
    main()
