"""Driver-independent bench.py logic: the previous-round selection
that ``deltas_vs_prev`` compares against (ADVICE r4 — must never diff
a re-run against the round's own just-recorded file; r6 — must skip
rounds whose artifact failed the driver's parse) and the final-line
size budget whose overrun silenced the r6 bench signal."""

from __future__ import annotations

import json

from bench import (
    HEADLINE_BUDGET,
    headline_line,
    latest_prior_bench,
)


def _mk(tmp_path, *, verdict_round=None, bench_rounds=(), unparsed=()):
    if verdict_round is not None:
        (tmp_path / "VERDICT.md").write_text(
            f"# VERDICT — round {verdict_round}\n\nbody\n"
        )
    for r in bench_rounds:
        body = (
            {"round": r, "parsed": None}
            if r in unparsed
            else {"round": r, "parsed": {"queries": {"q01": 1.0 + r}}}
        )
        (tmp_path / f"BENCH_r{r:02d}.json").write_text(json.dumps(body))
    return str(tmp_path)


def test_picks_highest_round_below_current(tmp_path):
    # round being recorded = verdict 4 + 1 = 5 → compare against r04
    repo = _mk(tmp_path, verdict_round=4, bench_rounds=(1, 2, 3, 4))
    assert latest_prior_bench(repo).endswith("BENCH_r04.json")


def test_ignores_current_rounds_own_file(tmp_path):
    # the driver already recorded BENCH_r05 within round 5: a bench
    # re-run must still diff against r04, not itself
    repo = _mk(tmp_path, verdict_round=4, bench_rounds=(1, 2, 3, 4, 5))
    assert latest_prior_bench(repo).endswith("BENCH_r04.json")


def test_round_one_no_verdict_no_benches(tmp_path):
    repo = _mk(tmp_path)
    assert latest_prior_bench(repo) is None


def test_no_verdict_falls_back_to_latest(tmp_path):
    # no VERDICT yet (round 1): any existing file predates this run
    repo = _mk(tmp_path, bench_rounds=(1, 2))
    assert latest_prior_bench(repo).endswith("BENCH_r02.json")


def test_unparseable_verdict_header_falls_back(tmp_path):
    repo = _mk(tmp_path, bench_rounds=(1, 2))
    (tmp_path / "VERDICT.md").write_text("no number here\n")
    assert latest_prior_bench(repo).endswith("BENCH_r02.json")


def test_skips_unparsed_round(tmp_path):
    """r6's artifact recorded ``"parsed": null`` (final line outgrew the
    driver's tail window): it carries no timings, so a later round must
    diff against the newest round that actually parsed."""
    repo = _mk(tmp_path, verdict_round=6, bench_rounds=(4, 5, 6), unparsed=(6,))
    assert latest_prior_bench(repo).endswith("BENCH_r05.json")


def test_all_priors_unparsed_yields_none(tmp_path):
    repo = _mk(tmp_path, verdict_round=2, bench_rounds=(1, 2), unparsed=(1, 2))
    assert latest_prior_bench(repo) is None


def _full_result(n_queries=None, connector=True):
    """A worst-case-realistically-sized bench result: every bench-tagged
    query in the CURRENT registry (so the test fails the round a new
    bench query pushes the real line over budget), values at the widest
    round(·, 4) float width the bench emits."""
    from spark_sql_pubsub_connector_spark.plans import all_specs

    names = sorted(n for n, s in all_specs().items() if s.bench)
    if n_queries is not None:  # synthetic growth beyond today's set
        names = names + [f"q{900 + i}_future_bench_query_name" for i in range(n_queries)]
    result = {
        "metric": "headline_queries_total_wall",
        "value": 12345.6789,
        "unit": "sec",
        "sf": 0.1,
        "n_runs": 3,
        "queries": {n: 1234.5678 for n in names},
        "queries_warm_median": {n: 1234.5678 for n in names},
        "queries_warm_min": {n: 1234.5678 for n in names},
        "deltas_vs_prev": {n: -123.4 for n in names},
        "deltas_warm_vs_prev": {n: -123.4 for n in names},
        "deltas_vs_prev_normalized": {n: -123.4 for n in names},
        "deltas_warm_vs_prev_normalized": {n: -123.4 for n in names},
        "calibration": {"cpu_probe_s": 0.3081, "shuffle_probe_s": 1.2345},
        "calibration_drift_factor": 0.879,
        "session": {
            "driver_memory": "13g",
            "shuffle_partitions": "32",
            "master": "local[32]",
        },
        "prev_round_file": "BENCH_r05.json",
    }
    if connector:
        result["connector"] = {
            "n_msgs": 60000,
            "source_msgs_per_s": 25103.4,
            "roundtrip_msgs_per_s": 19782.1,
            "roundtrip_published": 60000,
            "source_runs_s": [2.39, 2.41, 2.45],
            "roundtrip_runs_s": [3.03, 3.05, 3.11],
            "source_spread_pct": 2.5,
            "roundtrip_spread_pct": 2.6,
        }
    return result


def test_headline_line_fits_driver_tail_budget():
    """THE r6 regression guard: the driver keeps ~2,000 chars of stdout
    tail; the final line must stay under HEADLINE_BUDGET with the full
    current bench query set and worst-case value widths."""
    line = headline_line(_full_result())
    assert len(line) <= HEADLINE_BUDGET, len(line)
    parsed = json.loads(line)  # the driver must be able to parse it
    assert parsed["metric"] == "headline_queries_total_wall"
    assert parsed["queries"] and parsed["queries_warm_median"]
    assert parsed["connector"]["source_msgs_per_s"] == 25103.4
    # ADVICE r7 (medium): calibration must ride in the driver artifact
    # so next round's drift normalization has a prior to diff against
    assert parsed["calibration"] == {
        "cpu_probe_s": 0.3081,
        "shuffle_probe_s": 1.2345,
    }
    # VERDICT r8 #3: the session-sizing stamp rides in the headline so
    # warm-number comparisons across rounds state their conf
    assert parsed["session"]["driver_memory"] == "13g"
    # per-run arrays and delta fields are diagnostics, never headline
    assert "source_runs_s" not in json.dumps(parsed)
    assert "deltas_vs_prev" not in parsed
    assert "calibration_drift_factor" not in parsed


def test_headline_line_sheds_sections_rather_than_overflow():
    """If the bench set ever grows past the budget, optional sections
    shed in fixed order instead of overflowing the driver's window."""
    line = headline_line(_full_result(n_queries=12))
    assert len(line) <= HEADLINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["queries"]  # cold timings are never shed
    assert "queries_warm_median" not in parsed  # first to shed


def test_headline_line_terminal_fallback_never_overflows():
    """ADVICE r7 (low): when every sheddable section is gone and the
    line is STILL over budget (a much larger future bench set), the
    headline drops per-query detail to a minimal parseable line rather
    than overflowing the driver's tail window like r6 did."""
    line = headline_line(_full_result(n_queries=60))
    assert len(line) <= HEADLINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert parsed["value"] == 12345.6789
    assert parsed["diagnostics_file"] == "BENCH_DIAG.json"
    # per-query detail is what overflowed; its size is declared instead
    assert "queries" not in parsed
    assert parsed["queries_truncated"] > 60


def test_headline_line_carries_connector_error():
    result = _full_result(connector=False)
    result["connector_error"] = "RuntimeError: broker down"
    parsed = json.loads(headline_line(result))
    assert parsed["connector_error"] == "RuntimeError: broker down"


def test_headline_line_truncates_kilobyte_connector_error():
    """A failed connector probe carries the exception text; a Py4J
    message can run to kilobytes — the same overflow class that
    silenced the r6 signal. The headline keeps only a 200-char prefix
    (the full text rides in the diagnostics)."""
    result = _full_result(connector=False)
    result["connector_error"] = "Py4JJavaError: " + "x" * 5000
    line = headline_line(result)
    assert len(line) <= HEADLINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert len(parsed["connector_error"]) == 200


def test_calibration_drift_normalization_math():
    """The normalized delta must divide this round's time by the mean
    probe drift before diffing (r6): a query that moved exactly with
    the machine normalizes to ~0%, one that moved against it keeps a
    real delta."""
    calibration = {"cpu_probe_s": 0.6, "shuffle_probe_s": 0.8}
    prev_cal = {"cpu_probe_s": 0.3, "shuffle_probe_s": 0.4}  # machine 2x slower now
    drift = (
        calibration["cpu_probe_s"] / prev_cal["cpu_probe_s"]
        + calibration["shuffle_probe_s"] / prev_cal["shuffle_probe_s"]
    ) / 2.0
    assert drift == 2.0
    prev_q, now_uniform, now_regressed = 1.0, 2.0, 4.0
    norm_uniform = 100.0 * (now_uniform / drift - prev_q) / prev_q
    norm_regressed = 100.0 * (now_regressed / drift - prev_q) / prev_q
    assert norm_uniform == 0.0  # pure machine drift reads as flat
    assert norm_regressed == 100.0  # real regression survives normalization
