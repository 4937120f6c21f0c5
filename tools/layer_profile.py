"""Layer profiler: where a batch query's or a micro-batch's wall time goes.

    python tools/layer_profile.py batch [--rounds 3] [--warm 2] [--only a,b]
        [--sf-dir DIR] [--out artifacts/profile/headline]
    python tools/layer_profile.py stream --workload {drain,relay} --seed N
        [--seconds 12] [--out artifacts/profile/drain]

Both legs write ``<out>.md`` (tables) and ``<out>.json`` (every figure).

**Batch leg.** Variants come from a registry of ``name -> builder(spark,
sf_dir)``, seeded with the ``bench=True`` specs; an A/B script passes its
own builders to ``main(argv, variants)``. Rounds are interleaved and
alternate their order, and the calibration probes (``tools.calib``)
bracket them. A leg is one first run plus ``--warm`` repeats, each timed
by ``bench.run_once``, then the caches are dropped as ``bench.py`` does.
Each run records the build time, the planning phases of the DataFrame's
``QueryExecution.tracker()`` (read through py4j once the run is over, so
planning runs again untimed), and, from the status API, every stage's
task run and CPU time, shuffle and spill bytes and the Python workers'
run, start and initialise time of each SQL execution.

**Streaming leg.** Runs perfbench's own ``run_drain``/``run_relay`` on a
session with perfbench's launch confs and the UI on, and splits each
micro-batch's ``addBatch`` into the driver time before its first job,
the job span (with per-task scheduler delay, deserialize, run and result
time) and the driver time after its last job (the sink's commit runner).
Jobs belong to a batch by the ``runId``/``batch = N`` Spark writes into
their description. It also reports each query's start-to-first-trigger.

The session's UI binds to 127.0.0.1 (``SPARK_LOCAL_IP``) on a free port.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import urllib.request
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(REPO, "perfbench")
if REPO not in sys.path:
    sys.path.insert(0, REPO)

PHASES = ("analysis", "optimization", "planning")
PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
}
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_BATCH = re.compile(r"runId = (\S+)\s+batch = (\d+)")


# -- shared helpers -------------------------------------------------------------


def ts(stamp: str) -> float:
    """Epoch seconds of a status-API or progress timestamp
    (``2026-10-17T20:22:52.073GMT`` or ``...Z``)."""
    t = datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp()


def metric_seconds(value: str) -> float:
    """Seconds in a SQL timing metric's display string. A multi-task
    value reads ``total (min, med, max ...)\\n2.8 s (...)``: the total is
    the first duration of its last line."""
    m = _DURATION.search(value.rsplit("\n", 1)[-1])
    return float(m[1].replace(",", "")) * _UNIT_S[m[2]] if m else 0.0


def round_order(names: list[str], r: int) -> list[str]:
    """Round ``r``'s variant order: even rounds forward, odd reversed, so
    no variant always runs first or last."""
    return list(names) if r % 2 == 0 else list(reversed(names))


def render_table(headers: list[str], rows: list[list]) -> str:
    """A markdown table; floats print with 3 decimals."""

    def cell(v) -> str:
        return f"{v:.3f}" if isinstance(v, float) else str(v)

    lines = ["| " + " | ".join(headers) + " |", "|" + "---|" * len(headers)]
    lines += ["| " + " | ".join(cell(v) for v in row) + " |" for row in rows]
    return "\n".join(lines) + "\n"


class StatusAPI:
    """The session's monitoring REST API on the loopback interface."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settled(self, check, timeout_s: float = 10.0):
        """Poll ``check()`` until it returns a value: the status store is
        fed by an asynchronous listener, so the last events of an action
        land shortly after it returns."""
        deadline = time.monotonic() + timeout_s
        while (got := check()) is None and time.monotonic() < deadline:
            time.sleep(0.1)
        return got


# -- batch leg ------------------------------------------------------------------


def registry() -> dict:
    """``name -> builder(spark, sf_dir)`` for every ``bench=True`` spec."""
    from spark_sql_pubsub_connector_spark.plans import all_specs

    return {n: s.build for n, s in sorted(all_specs().items()) if s.bench}


class _Recorder:
    """A spec for ``bench.run_once`` that keeps the DataFrame it built and
    the wall-clock time the build finished."""

    def __init__(self, builder):
        self.builder, self.df, self.built_at = builder, None, 0.0

    def build(self, spark, sf_dir):
        self.df = self.builder(spark, sf_dir)
        self.built_at = time.time()
        return self.df


def tracker_phases(df) -> dict[str, float]:
    """Seconds per planning phase of ``df``'s ``QueryExecution``. The
    write shares the frame's tracker for analysis; optimisation and
    planning are forced here, after the run."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {p: phases.apply(p).durationMs() / 1e3 if phases.contains(p) else 0.0 for p in PHASES}


def stage_rows(stages: list[dict]) -> list[dict]:
    """Per completed stage: wall, task run and task CPU time, shuffle and
    spill bytes."""
    return [
        {
            "stage": s["stageId"],
            "tasks": s["numTasks"],
            "wall_s": (ts(s["completionTime"]) - ts(s["submissionTime"])),
            "task_s": s["executorRunTime"] / 1e3,
            "cpu_s": s["executorCpuTime"] / 1e9,
            "shuffle_read_b": s["shuffleReadBytes"],
            "shuffle_write_b": s["shuffleWriteBytes"],
            "spill_b": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
        }
        for s in stages
        if s["status"] == "COMPLETE"
    ]


def python_seconds(executions: list[dict]) -> dict[str, float]:
    """Python worker run/start/initialise seconds summed over the Python
    exec nodes of ``executions`` (``/sql?details=true``)."""
    out = dict.fromkeys(PY_METRICS.values(), 0.0)
    for e in executions:
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] in PY_METRICS:
                    out[PY_METRICS[m["name"]]] += metric_seconds(m["value"])
    return out


def profile_run(spark, api: StatusAPI, group: str, builder, sf_dir: str) -> dict:
    """One ``bench.run_once`` of ``builder`` plus the layers it went through."""
    from bench import run_once

    sc = spark.sparkContext
    n_exec = len(api.get("/sql?details=false&length=100000"))
    sc.setJobGroup(group, group)
    rec = _Recorder(builder)
    t0 = time.time()
    total = run_once(spark, rec, sf_dir)
    phases = tracker_phases(rec.df)
    job_ids = sc.statusTracker().getJobIdsForGroup(group)

    def jobs_done():
        jobs = [api.get(f"/jobs/{j}") for j in job_ids]
        return None if any(j["status"] == "RUNNING" for j in jobs) else jobs

    def execs_done():
        ex = api.get(f"/sql?details=true&planDescription=false&offset={n_exec}&length=100000")
        return None if any(e["status"] == "RUNNING" for e in ex) else ex

    jobs = api.settled(jobs_done) or []
    stages = [a for j in jobs for sid in j["stageIds"] for a in api.get(f"/stages/{sid}")]
    rows = stage_rows(sorted({(s["stageId"], s["attemptId"]): s for s in stages}.values(),
                             key=lambda s: s["stageId"]))
    build_jobs = [j for j in jobs if ts(j["submissionTime"]) < rec.built_at]
    return {
        "total_s": total,
        "build_s": rec.built_at - t0,
        "build_jobs": len(build_jobs),
        "build_jobs_s": sum(ts(j["completionTime"]) - ts(j["submissionTime"]) for j in build_jobs),
        "jobs": len(jobs),
        **{f"{p}_s": v for p, v in phases.items()},
        **python_seconds(api.settled(execs_done) or []),
        "task_s": sum(r["task_s"] for r in rows),
        "cpu_s": sum(r["cpu_s"] for r in rows),
        "shuffle_read_b": sum(r["shuffle_read_b"] for r in rows),
        "shuffle_write_b": sum(r["shuffle_write_b"] for r in rows),
        "spill_b": sum(r["spill_b"] for r in rows),
        "stages": rows,
    }


def summarize(legs: list[dict]) -> dict:
    """Cold = round 1's first run; warm = the median warm run (its layer
    figures travel with it)."""
    warms = sorted((w for leg in legs for w in leg["warm"]), key=lambda r: r["total_s"])
    out = {"cold": legs[0]["first"], "first_median_s": statistics.median(leg["first"]["total_s"] for leg in legs)}
    if warms:
        out["warm"] = warms[(len(warms) - 1) // 2]
        out["warm_median_s"] = statistics.median(w["total_s"] for w in warms)
    return out


LAYER_COLS = ("build_s", "analysis_s", "optimization_s", "planning_s", "jobs", "task_s", "cpu_s",
              "shuffle_read_b", "shuffle_write_b", "spill_b", "py_run_s", "py_start_s", "py_init_s")


def render_batch(meta: dict, summary: dict) -> str:
    head = ["query", "run", "total_s"] + list(LAYER_COLS)
    rows = []
    for name, s in summary.items():
        for run in ("cold", "warm"):
            if run in s:
                rows.append([name, run, s[run]["total_s"]] + [s[run][c] for c in LAYER_COLS])
    times = render_table(
        ["query", "cold_s", "first_median_s", "warm_median_s"],
        [[n, s["cold"]["total_s"], s["first_median_s"], s.get("warm_median_s", "")] for n, s in summary.items()],
    )
    parts = [f"# Batch layer profile\n\n```\n{json.dumps(meta, indent=1)}\n```\n\n## Times\n\n{times}",
             "## Layers (cold run and median warm run)\n\n" + render_table(head, rows),
             "## Stages of the median warm run\n"]
    for name, s in summary.items():
        st = s.get("warm", s["cold"])["stages"]
        parts.append(f"### {name}\n\n" + render_table(list(st[0]) if st else ["stage"], [list(r.values()) for r in st]))
    return "\n".join(parts)


def batch_leg(args, variants: dict) -> tuple[dict, str]:
    from spark_sql_pubsub_connector_spark.plans import release_caches
    from spark_sql_pubsub_connector_spark.session import get_spark
    from tools.calib import calib3, warmup

    names = args.only.split(",") if args.only else sorted(variants)
    unknown = [n for n in names if n not in variants]
    if unknown:
        raise SystemExit(f"unknown variants {unknown}; known: {sorted(variants)}")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    # the status store must still hold every stage of a run when it is
    # read, and q54's loop alone submits hundreds of stages per run
    keep = " ".join(f"--conf {k}=10000000" for k in (
        "spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{keep} {os.environ.get('PYSPARK_SUBMIT_ARGS', 'pyspark-shell')}"
    spark = get_spark(app_name="layer_profile")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        api = StatusAPI(spark.sparkContext)
        warmup(spark, args.sf_dir)
        cal_start = calib3(spark)
        legs: dict[str, list] = {n: [] for n in names}
        for r in range(args.rounds):
            for n in round_order(names, r):
                runs = [profile_run(spark, api, f"lp-{n}-{r}-{i}", variants[n], args.sf_dir)
                        for i in range(1 + args.warm)]
                legs[n].append({"first": runs[0], "warm": runs[1:]})
                spark.catalog.clearCache()
                release_caches()
                print(json.dumps({n: [round(x["total_s"], 3) for x in runs]}), flush=True)
        cal_end = calib3(spark)
    finally:
        spark.stop()
    meta = {"sf_dir": args.sf_dir, "rounds": args.rounds, "warm_per_leg": args.warm,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"), "calibration_start": cal_start,
            "calibration_end": cal_end, "recorded_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    summary = {n: summarize(legs[n]) for n in names}
    runs_s = {n: [[x["total_s"] for x in (leg["first"], *leg["warm"])] for leg in legs[n]] for n in names}
    return {"meta": meta, "summary": summary, "runs_s": runs_s}, render_batch(meta, summary)


# -- streaming leg --------------------------------------------------------------


def split_add_batch(progress: dict, jobs: list[dict], tasks: list[dict]) -> dict:
    """Split one micro-batch's ``addBatch`` by its jobs. ``addBatch`` ends
    where ``commitOffsets`` starts, the batch's last phase; the driver time
    after the last job is what remains of ``addBatch`` once the time before
    the first job and the job span are taken out."""
    d = progress["durationMs"]
    add = d.get("addBatch", 0) / 1e3
    end = ts(progress["timestamp"]) + (d["triggerExecution"] - d.get("commitOffsets", 0)) / 1e3
    out = {"batch": progress["batchId"], "rows": progress["numInputRows"], "addBatch_s": add,
           **{f"{k}_s": d.get(k, 0) / 1e3 for k in ("latestOffset", "walCommit", "queryPlanning",
                                                    "commitOffsets", "triggerExecution")}}
    if not jobs:
        return {**out, "jobs": 0, "tasks": 0, "before_s": add, "span_s": 0.0, "after_s": 0.0}
    first = min(ts(j["submissionTime"]) for j in jobs)
    last = max(ts(j["completionTime"]) for j in jobs)
    out.update(jobs=len(jobs), tasks=len(tasks), before_s=first - (end - add), span_s=last - first)
    out["after_s"] = add - out["before_s"] - out["span_s"]
    for key, get in (
        ("sched", lambda t: t["schedulerDelay"]),
        ("deser", lambda t: t["taskMetrics"]["executorDeserializeTime"]),
        ("run", lambda t: t["taskMetrics"]["executorRunTime"]),
        ("result", lambda t: t["taskMetrics"]["resultSerializationTime"] + t["gettingResultTime"]),
    ):
        vals = [get(t) / 1e3 for t in tasks] or [0.0]
        out[f"task_{key}_min_s"], out[f"task_{key}_max_s"] = min(vals), max(vals)
    return out


BATCH_COLS = ["query", "batch", "rows", "triggerExecution_s", "latestOffset_s", "walCommit_s",
              "queryPlanning_s", "addBatch_s", "before_s", "span_s", "after_s", "commitOffsets_s",
              "jobs", "tasks", "task_sched_max_s", "task_deser_max_s", "task_run_min_s",
              "task_run_max_s", "task_result_max_s"]


def batch_jobs(jobs: list[dict]) -> dict[tuple[str, int], list[dict]]:
    """Jobs keyed by the ``(runId, batchId)`` in their description."""
    out: dict[tuple[str, int], list[dict]] = {}
    for j in jobs:
        m = _BATCH.search(j.get("description") or "")
        if m:
            out.setdefault((m[1], int(m[2])), []).append(j)
    return out


def stream_session(work: str):
    """perfbench's session (``run.start_spark``) with the UI on."""
    import run as pb
    from pyspark.sql import SparkSession

    from spark_sql_pubsub_connector_spark.sources.datasource import PubsubDataSource

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(SPARK_LOCAL_IP="127.0.0.1", TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
                      PYTHONPATH=os.pathsep.join(p for p in (REPO, PERFBENCH, os.environ.get("PYTHONPATH")) if p))
    n = pb.nproc()
    spark = (
        SparkSession.builder.master(f"local[{n}]").appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.port", "0")
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


def stream_leg(args) -> tuple[dict, str]:
    sys.path[:0] = [PERFBENCH]
    import run as pb
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.started: dict[str, float] = {}
            self.progress: list[dict] = []
            self.terminated: set[str] = set()

        def onQueryStarted(self, e):
            self.started[str(e.runId)] = ts(e.timestamp)

        def onQueryProgress(self, e):
            self.progress.append(json.loads(e.progress.json))

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            self.terminated.add(str(e.runId))

    work = os.path.join(pb.OUT, f"profile-{os.getpid()}")
    spark = stream_session(work)
    try:
        listener = Progress()
        spark.streams.addListener(listener)
        res = pb.WORKLOADS[args.workload](spark, work, args.seed, args.seconds)
        api = StatusAPI(spark.sparkContext)
        api.settled(lambda: True if set(listener.started) <= listener.terminated else None)
        by_batch = batch_jobs(api.get("/jobs"))
        label = {r: f"q{i}" for i, r in enumerate(sorted(listener.started, key=listener.started.get), 1)}
        rows = []
        for p in sorted(listener.progress, key=lambda p: ts(p["timestamp"])):
            jobs = by_batch.get((p["runId"], p["batchId"]), [])
            tasks = [t for j in jobs for sid in j["stageIds"]
                     for t in api.get(f"/stages/{sid}/0/taskList?length=100000")]
            rows.append({"query": label[p["runId"]], **split_add_batch(p, jobs, tasks)})
        first = {}
        for p in listener.progress:
            first[p["runId"]] = min(first.get(p["runId"], 1e18), ts(p["timestamp"]))
        starts = {label[r]: first[r] - t for r, t in listener.started.items() if r in first}
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    meta = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "metrics": res["metrics"], "failed": res["failed"], "correct": res["correct"],
            "recorded_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    md = (f"# Streaming layer profile: {args.workload}\n\n```\n{json.dumps(meta, indent=1)}\n```\n\n"
          "## Query start to first trigger\n\n"
          + render_table(["query", "start_to_first_trigger_s"], [[q, s] for q, s in starts.items()])
          + "\n## Micro-batches\n\n" + render_table(BATCH_COLS, [[r.get(c, "") for c in BATCH_COLS] for r in rows]))
    return {"meta": meta, "start_to_first_trigger_s": starts, "batches": rows}, md


# -- entry ----------------------------------------------------------------------


def main(argv=None, variants: dict | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="leg", required=True)
    b = sub.add_parser("batch")
    b.add_argument("--rounds", type=int, default=3)
    b.add_argument("--warm", type=int, default=2)
    b.add_argument("--only", default="")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    b.add_argument("--sf-dir", default=sf_dir, required=sf_dir is None, help="default: $SPARK_GRAFT_SF_DIR")
    b.add_argument("--out", default="")
    s = sub.add_parser("stream")
    s.add_argument("--workload", choices=("drain", "relay"), required=True)
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--seconds", type=float, default=12.0)
    s.add_argument("--out", default="")
    args = ap.parse_args(argv)
    if args.leg == "batch":
        data, md = batch_leg(args, {**registry(), **(variants or {})})
    else:
        data, md = stream_leg(args)
    print(md)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out + ".md", "w") as fh:
            fh.write(md)
        with open(args.out + ".json", "w") as fh:
            json.dump(data, fh, indent=1)


if __name__ == "__main__":
    main()
