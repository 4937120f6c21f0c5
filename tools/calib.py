"""Shared host-speed calibration probes for measurement tools.

THE definition of the calibration protocol, and its only copy:
bench.py, tools/scale_probe.py, tools/layer_profile.py and perfbench's
diagnostics line all import it. The probes are load-bearing for every
drift adjudication, so a constant drifting in one copy would silently
split the calibration family across artifacts.

Probe family (established r5): one CPU/codegen-bound probe, one
shuffle-bound probe, min-of-3. Normal-host family on this box:
cpu 0.29-0.34 s (see PARITY.md §3, "Drift-adjudication protocol").
"""

from __future__ import annotations

import time


def warmup(spark, sf_dir: str) -> None:
    """Pay the session's fixed costs before any timed region: codegen
    pipeline, parquet reader + filesystem init, noop sink committer."""
    spark.range(1000).selectExpr("sum(id)").collect()
    (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .groupBy("r_name")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def calib_once(spark) -> tuple[float, float]:
    t0 = time.perf_counter()
    spark.range(2_000_000_000).selectExpr("sum(id * 2 + 1)").collect()
    t1 = time.perf_counter()
    (
        spark.range(60_000_000)
        .selectExpr("id % 1024 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return t1 - t0, time.perf_counter() - t1


def calib3(spark) -> dict:
    """Best-of-3 probe pair — the drift stamp every artifact carries."""
    cs = [calib_once(spark) for _ in range(3)]
    return {
        "cpu_probe_s": round(min(c[0] for c in cs), 4),
        "shuffle_probe_s": round(min(c[1] for c in cs), 4),
    }
