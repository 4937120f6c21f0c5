"""Driver-independent logic of tools/scale_probe.py: the --compare
regression gate (VERDICT r5 #4) must fail exactly when a query's
scale ratio grew more than GATE_GROWTH× round-over-round, tolerate
coverage changes (queries present in only one artifact), and read
both artifact shapes (this tool's --out layout and the hand-rolled
SCALE_r05.json layout)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from scale_probe import GATE_GROWTH, compare  # noqa: E402


def _write(tmp_path, name, obj):
    p = tmp_path / name
    p.write_text(json.dumps(obj))
    return str(p)


def test_gate_passes_on_flat_ratios(tmp_path, capsys):
    prev = _write(
        tmp_path, "prev.json",
        {"time_ratios_vs_x1": {"25": {"q1": 2.0, "q2": 5.0}}},
    )
    cur = _write(
        tmp_path, "cur.json",
        {"time_ratios_vs_x1": {"25": {"q1": 2.2, "q2": 4.0}}},
    )
    assert compare(prev, cur) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["failures"] == []


def test_gate_fails_on_superlinear_growth(tmp_path, capsys):
    prev = _write(
        tmp_path, "prev.json", {"time_ratios_vs_x1": {"25": {"q1": 2.0}}}
    )
    cur = _write(
        tmp_path, "cur.json",
        {"time_ratios_vs_x1": {"25": {"q1": 2.0 * GATE_GROWTH + 0.1}}},
    )
    assert compare(prev, cur) == 1
    out = json.loads(capsys.readouterr().out)
    assert len(out["failures"]) == 1
    assert out["failures"][0]["query"] == "q1"


def test_new_queries_reported_not_failed(tmp_path, capsys):
    prev = _write(
        tmp_path, "prev.json", {"time_ratios_vs_x1": {"25": {"q1": 2.0}}}
    )
    cur = _write(
        tmp_path, "cur.json",
        {"time_ratios_vs_x1": {"25": {"q1": 2.0, "q_new": 99.0}}},
    )
    assert compare(prev, cur) == 0  # coverage change, not a regression
    out = json.loads(capsys.readouterr().out)
    assert out["coverage_changes"] == {"25x:q_new": {"new_only": 99.0}}


def test_reads_r5_hand_rolled_artifact_shape(tmp_path, capsys):
    prev = _write(tmp_path, "prev.json", {"time_ratios_vs_1x": {"q1": 2.0}})
    cur = _write(
        tmp_path, "cur.json", {"time_ratios_vs_x1": {"25": {"q1": 10.0}}}
    )
    assert compare(prev, cur) == 1
    out = json.loads(capsys.readouterr().out)
    assert out["failures"][0]["growth"] == 5.0


def test_compare_warns_on_methodology_mismatch(tmp_path, capsys):
    """ADVICE r7: a min-of-2-warm artifact gate-compared against a
    single-run-cold (pre-stamp) artifact crosses methodologies —
    sub-second ratios systematically shift when the fixed codegen cost
    drops out. The gate still runs, but the output must carry an
    explicit warning so a failure is adjudicated as methodology, not
    read as a plan regression."""
    from scale_probe import DISCIPLINE

    prev = _write(  # pre-r8 artifact: no discipline/vocab stamps
        tmp_path, "prev.json", {"time_ratios_vs_x1": {"25": {"q1": 2.0}}}
    )
    cur = _write(
        tmp_path, "cur.json",
        {"time_ratios_vs_x1": {"25": {"q1": 2.1}},
         "discipline": DISCIPLINE, "replica_vocab": "disjoint"},
    )
    assert compare(prev, cur) == 0  # warning, never a failure by itself
    out = json.loads(capsys.readouterr().out)
    assert {w["field"] for w in out["methodology_warnings"]} == {
        "discipline", "replica_vocab"
    }
    # matching stamps → no warnings
    cur2 = _write(
        tmp_path, "cur2.json",
        {"time_ratios_vs_x1": {"25": {"q1": 2.1}},
         "discipline": DISCIPLINE, "replica_vocab": "disjoint"},
    )
    cur3 = _write(
        tmp_path, "cur3.json",
        {"time_ratios_vs_x1": {"25": {"q1": 2.2}},
         "discipline": DISCIPLINE, "replica_vocab": "disjoint"},
    )
    assert compare(cur2, cur3) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["methodology_warnings"] == []


def test_session_sizing_matches_measured_anchors():
    """VERDICT r7 #2: the probe session must size itself from the data
    scale. The measured anchors: 32 partitions at 1x is right; 100x
    needed ~256 (32 put ~7M pairs in one task) and a 48g heap (8g
    OOMed). The derived values must respect those anchors and stay
    monotone in scale."""
    from scale_probe import probe_driver_memory, probe_shuffle_partitions

    assert probe_shuffle_partitions(1, 32) == 32  # 1x unchanged
    assert probe_shuffle_partitions(12, 32) == 32
    assert probe_shuffle_partitions(25, 32) == 96
    p100 = probe_shuffle_partitions(100, 32)
    assert 256 <= p100 <= 320  # ≈ the measured-good 256
    assert probe_shuffle_partitions(10_000, 32) == 4096  # capped
    assert probe_driver_memory(1) == "8g"
    assert probe_driver_memory(25) == "13g"
    assert probe_driver_memory(100) == "48g"  # the measured-good heap
    assert probe_driver_memory(1_000) == "48g"  # capped at one box
    prev_p, prev_m = 0, 0
    for s in (1, 5, 10, 25, 50, 100, 200):
        p = probe_shuffle_partitions(s, 32)
        m = int(probe_driver_memory(s).rstrip("g"))
        assert p >= prev_p and m >= prev_m
        prev_p, prev_m = p, m


def test_validate_only_rejects_unknown_names():
    """ADVICE r6: a misspelled --only name must be a hard error, never
    a silently-empty spec set that writes an empty artifact and lets a
    later --compare pass vacuously."""
    import pytest

    from scale_probe import validate_only

    known = {"q01_pricing_summary", "q22_embedding_neardup"}
    assert validate_only(["q22_embedding_neardup"], known) == [
        "q22_embedding_neardup"
    ]
    with pytest.raises(SystemExit, match="q22_embeding_neardup"):
        validate_only(["q22_embeding_neardup"], known)  # typo
    with pytest.raises(SystemExit):
        validate_only([""], known)  # "--only ''" → [''] → unknown
    with pytest.raises(SystemExit, match="empty"):
        validate_only([], known)


def test_reads_100x_hand_rolled_artifact_shape(tmp_path, capsys):
    """SCALE100_r07.json is a hand-rolled summary (its ratios live under
    time_ratios_vs_x1_at_100x); the gate must read it so the 100x probe
    gets round-over-round comparison like the 25x sweep does."""
    prev = _write(
        tmp_path, "prev.json",
        {"time_ratios_vs_x1_at_100x": {"q1": 4.0, "q2": 30.0}},
    )
    cur = _write(
        tmp_path, "cur.json",
        {"time_ratios_vs_x1": {"100": {"q1": 4.5, "q2": 22.0}}},
    )
    assert compare(prev, cur) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["failures"] == []


def test_adjudicated_honest_ratio_replaces_raw_as_gate_baseline(
    tmp_path, capsys
):
    """ADVICE r8 (medium): SCALE100_r08.json stores q54's raw 1.21x —
    which its own q54_x1_adjudication block declares dishonest (honest
    4.89x). A next-round honest ~4.9x gated against the raw 1.21x
    computes growth ~4 > GATE_GROWTH: a guaranteed false fire. The gate
    must consume the artifact's adjudication and baseline on 4.89."""
    prev = _write(
        tmp_path, "prev.json",
        {"time_ratios_vs_x1": {"100": {"q54_dedup_clusters": 1.21}},
         "q54_x1_adjudication": {
             "issue": "slow-host 1x leg deflated the ratio",
             "honest_ratio_100x": 4.89,
         }},
    )
    cur = _write(
        tmp_path, "cur.json",
        {"time_ratios_vs_x1": {"100": {"q54_dedup_clusters": 4.9}}},
    )
    assert compare(prev, cur) == 0  # 4.9/4.89, not 4.9/1.21
    out = json.loads(capsys.readouterr().out)
    assert out["failures"] == []
    assert out["adjudications_applied"] == [
        {"artifact": "prev.json", "scale": "100",
         "query": "q54_dedup_clusters", "raw": 1.21, "honest": 4.89,
         "adjudication_key": "q54_x1_adjudication"}
    ]
    # a REAL regression vs the honest baseline still fires
    cur2 = _write(
        tmp_path, "cur2.json",
        {"time_ratios_vs_x1": {"100": {"q54_dedup_clusters": 11.0}}},
    )
    assert compare(prev, cur2) == 1


def test_adjudication_scaleless_key_applies_to_artifact_scale(
    tmp_path, capsys
):
    """ADVICE r8 (low): SCALE1000_r08_q54.json's block uses the
    scaleless key honest_ratio_vs_x1 (raw 4.43, honest 9.03); a future
    honest 9.03 would compute growth 2.04 > 2.0 — a marginal false
    fire. A scaleless key applies to every scale the artifact carries
    (these adjudicated artifacts are single-scale)."""
    prev = _write(
        tmp_path, "prev.json",
        {"time_ratios_vs_x1": {"1000": {"q54_dedup_clusters": 4.43}},
         "q54_x1_adjudication": {"honest_ratio_vs_x1": 9.03}},
    )
    cur = _write(
        tmp_path, "cur.json",
        {"time_ratios_vs_x1": {"1000": {"q54_dedup_clusters": 9.03}}},
    )
    assert compare(prev, cur) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["failures"] == []
    assert out["adjudications_applied"][0]["honest"] == 9.03


def test_adjudication_applies_to_real_r8_artifacts(capsys):
    """The shipped r8 artifacts themselves: gating either against a
    copy of itself must apply its own adjudication to BOTH sides and
    pass — proving the fix reads the real committed block shapes."""
    measurements = os.path.join(
        os.path.dirname(__file__), "..", "artifacts", "measurements"
    )
    for name, scale, raw, honest in (
        ("SCALE100_r08.json", "100", 1.21, 4.89),
        ("SCALE1000_r08_q54.json", "1000", 4.43, 9.03),
    ):
        p = os.path.join(measurements, name)
        assert os.path.exists(p), p
        assert compare(p, p) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["failures"] == []
        subs = {
            (a["artifact"], a["query"], a["raw"], a["honest"])
            for a in out["adjudications_applied"]
        }
        assert (name, "q54_dedup_clusters", raw, honest) in subs
        assert len(out["adjudications_applied"]) == 2  # both sides


def test_unknown_artifact_shape_dies_cleanly(tmp_path):
    """An artifact with no ratio block at all must produce a one-line
    SystemExit naming the file, not a KeyError traceback."""
    import pytest

    prev = _write(tmp_path, "prev.json", {"some_other_key": 1})
    cur = _write(
        tmp_path, "cur.json", {"time_ratios_vs_x1": {"25": {"q1": 1.0}}}
    )
    with pytest.raises(SystemExit, match="prev.json"):
        compare(prev, cur)
