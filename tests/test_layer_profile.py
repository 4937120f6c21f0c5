"""tools/layer_profile.py's Spark-free logic: the interleaved round
order, the split of a micro-batch's ``addBatch`` from canned status-API
JSON, the SQL metric parsing and the table rendering."""

from __future__ import annotations

import pytest

from tools.layer_profile import (
    batch_jobs,
    metric_seconds,
    python_seconds,
    render_table,
    round_order,
    split_add_batch,
    stage_rows,
)

RUN = "85ac95c9-6175-41ef-b234-ecce989214a4"


def _job(job_id, batch, submitted, completed, run=RUN):
    return {
        "jobId": job_id,
        "description": f"\nid = 327db87b\nrunId = {run}\nbatch = {batch}",
        "submissionTime": f"2026-10-17T20:22:{submitted}GMT",
        "completionTime": f"2026-10-17T20:22:{completed}GMT",
        "stageIds": [job_id],
    }


def _task(sched, deser, run, ser, getting):
    return {
        "schedulerDelay": sched,
        "gettingResultTime": getting,
        "taskMetrics": {
            "executorDeserializeTime": deser,
            "executorRunTime": run,
            "resultSerializationTime": ser,
        },
    }


def test_rounds_alternate_variant_order():
    names = ["a", "b", "c"]
    orders = [round_order(names, r) for r in range(4)]
    assert orders == [names, names[::-1], names, names[::-1]]
    # every variant runs first in some round and last in another
    assert {o[0] for o in orders} == {o[-1] for o in orders} == {"a", "c"}
    assert names == ["a", "b", "c"]  # the caller's list is not reordered


def test_add_batch_split_from_canned_status_json():
    # trigger starts at :50.000 and runs 1.600 s; commitOffsets, the last
    # phase, takes 0.100 s, so addBatch (1.200 s) ends at :51.500 and
    # starts at :50.300
    progress = {
        "runId": RUN,
        "batchId": 0,
        "numInputRows": 16000,
        "timestamp": "2026-10-17T20:22:50.000Z",
        "durationMs": {
            "triggerExecution": 1600,
            "latestOffset": 5,
            "walCommit": 40,
            "queryPlanning": 30,
            "addBatch": 1200,
            "commitOffsets": 100,
        },
    }
    jobs = [
        _job(6, 0, "50.450", "51.100"),
        _job(7, 0, "50.500", "51.350"),
        _job(8, 1, "52.000", "52.050"),  # the next batch
        _job(9, 0, "50.500", "51.350", run="another-run"),
    ]
    tasks = [_task(40, 30, 300, 1, 20), _task(10, 2, 680, 0, 50)]
    mine = batch_jobs(jobs)[(RUN, 0)]
    assert [j["jobId"] for j in mine] == [6, 7]
    assert sorted(batch_jobs(jobs)) == sorted([("another-run", 0), (RUN, 0), (RUN, 1)])

    out = split_add_batch(progress, mine, tasks)
    # before: 50.450 - 50.300; span: 51.350 - 50.450; after: the rest
    assert out["before_s"] == pytest.approx(0.150, abs=1e-6)
    assert out["span_s"] == pytest.approx(0.900, abs=1e-6)
    assert out["after_s"] == pytest.approx(0.150, abs=1e-6)
    assert out["before_s"] + out["span_s"] + out["after_s"] == pytest.approx(1.2)
    assert (out["jobs"], out["tasks"], out["rows"], out["batch"]) == (2, 2, 16000, 0)
    assert (out["task_sched_min_s"], out["task_sched_max_s"]) == (0.010, 0.040)
    assert (out["task_deser_min_s"], out["task_deser_max_s"]) == (0.002, 0.030)
    assert (out["task_run_min_s"], out["task_run_max_s"]) == (0.300, 0.680)
    assert (out["task_result_min_s"], out["task_result_max_s"]) == (0.021, 0.050)
    assert out["walCommit_s"] == 0.040 and out["commitOffsets_s"] == 0.100

    # a batch that ran no job spent all of addBatch on the driver
    idle = split_add_batch({**progress, "numInputRows": 0}, [], [])
    assert (idle["before_s"], idle["span_s"], idle["after_s"]) == (1.2, 0.0, 0.0)


def test_sql_metrics_and_stage_rows():
    assert metric_seconds("928 ms") == pytest.approx(0.928)
    assert metric_seconds("2.8 s") == pytest.approx(2.8)
    assert metric_seconds(
        "total (min, med, max (stageId: taskId))\n1.5 m (0 ms, 2 s, 3 s (stage 5.0: task 4))"
    ) == pytest.approx(90.0)
    node = {"nodeName": "MapInPandas", "metrics": [
        {"name": "time to run Python workers", "value": "2.8 s"},
        {"name": "time to start Python workers", "value": "1,200 ms"},
        {"name": "data sent to Python workers", "value": "135.2 KiB"},
    ]}
    py = python_seconds([{"nodes": [node]}, {"nodes": [node]}])
    assert py == pytest.approx({"py_run_s": 5.6, "py_start_s": 2.4, "py_init_s": 0.0})

    stage = {"stageId": 3, "numTasks": 4, "status": "COMPLETE",
             "submissionTime": "2026-10-17T20:22:50.000GMT",
             "completionTime": "2026-10-17T20:22:51.250GMT",
             "executorRunTime": 3000, "executorCpuTime": 2_500_000_000, "shuffleReadBytes": 10, "shuffleWriteBytes": 20,
             "memoryBytesSpilled": 5, "diskBytesSpilled": 7}
    rows = stage_rows([stage, {**stage, "stageId": 4, "status": "SKIPPED"}])
    assert rows == [{"stage": 3, "tasks": 4, "wall_s": pytest.approx(1.25), "task_s": 3.0,
                     "cpu_s": 2.5, "shuffle_read_b": 10, "shuffle_write_b": 20, "spill_b": 12}]


def test_layer_table_rendering():
    md = render_table(["query", "run", "total_s", "jobs"],
                      [["q01", "cold", 2.0391, 3], ["q01", "warm", 0.5, 3]])
    assert md == (
        "| query | run | total_s | jobs |\n"
        "|---|---|---|---|\n"
        "| q01 | cold | 2.039 | 3 |\n"
        "| q01 | warm | 0.500 | 3 |\n"
    )
