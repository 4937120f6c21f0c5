"""Pins for ``tools/scale_index.py`` — the consolidated scale-evidence
index PARITY.md carries. Round 11's verdict found the index
citing superseded bodies for exactly the two queries that round fixed
(q22's capped-codebook artifact, q91's pre-fix solo artifact), caused
by (a) no body-staleness awareness and (b) a lexicographic equal-scale
tie-break. These tests pin the r12 fixes: the superseded-skip rules
and the recorded_utc recency tie-break.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import scale_index  # noqa: E402


def _write(tmp: Path, name: str, walls: dict, ratios: dict, stamp=None):
    d = {
        "queries_warm_s": walls,
        "time_ratios_vs_x1": ratios,
    }
    if stamp is not None:
        d["recorded_utc"] = stamp
    (tmp / name).write_text(json.dumps(d))


def test_round_based_supersede_skips_pre_fix_artifacts(tmp_path):
    """A query listed in SUPERSEDED_BEFORE_ROUND ignores every artifact
    whose filename round precedes its fix round — the q22 case: the r10
    capped-body 1000x row must not outrank the r11+ fixed-body rows."""
    q = "q22_embedding_neardup"
    assert scale_index.SUPERSEDED_BEFORE_ROUND[q] == 11
    _write(
        tmp_path,
        "SCALE1000_r10_q22.json",
        {"1000": {q: 547.4}},
        {"1000": {q: 279.31}},
    )
    _write(
        tmp_path,
        "SCALE_r11.json",
        {"25": {q: 6.9}},
        {"25": {q: 4.91}},
    )
    best = scale_index.collect(str(tmp_path))
    scale, ratio, wall, artifact = best[q]
    assert scale == 25 and artifact == "SCALE_r11.json"


def test_exact_pair_supersede_skips_same_round_pre_fix(tmp_path):
    """The q91 case: a same-round artifact recorded BEFORE the fix is
    excluded by exact (artifact, query) pair, so the fixed measurement
    wins even though both carry the same round number and the stale
    filename sorts later."""
    q = "q91_blocking_eval"
    pre = "SCALE100_r11_q91_q99_solo.json"
    assert (pre, q) in scale_index.SUPERSEDED
    _write(tmp_path, pre, {"100": {q: 101.1}}, {"100": {q: 35.7}})
    _write(
        tmp_path,
        "SCALE100_r11_q91_fixed.json",
        {"100": {q: 21.8}},
        {"100": {q: 9.15}},
    )
    best = scale_index.collect(str(tmp_path))
    scale, ratio, wall, artifact = best[q]
    assert (scale, ratio, artifact) == (100, 9.15, "SCALE100_r11_q91_fixed.json")


def test_recorded_utc_tie_break_beats_filename_order(tmp_path):
    """At equal scale the newer recorded_utc stamp wins regardless of
    filename sort; a stampless artifact ranks oldest (ADVICE r11)."""
    q = "q00_demo"
    _write(
        tmp_path,
        "SCALE100_r12_zzz_late_name.json",
        {"100": {q: 10.0}},
        {"100": {q: 5.0}},
        stamp="2026-08-15T10:00:00Z",
    )
    _write(
        tmp_path,
        "SCALE100_r12_aaa_early_name.json",
        {"100": {q: 8.0}},
        {"100": {q: 4.0}},
        stamp="2026-08-15T12:00:00Z",
    )
    best = scale_index.collect(str(tmp_path))
    assert best[q] == (100, 4.0, 8.0, "SCALE100_r12_aaa_early_name.json")
    # stampless loses to any stamped artifact at the same scale
    _write(
        tmp_path,
        "SCALE100_r12_zzz_stampless.json",
        {"100": {q: 9.0}},
        {"100": {q: 4.5}},
    )
    best = scale_index.collect(str(tmp_path))
    assert best[q][3] == "SCALE100_r12_aaa_early_name.json"


def test_higher_scale_still_dominates_stamps(tmp_path):
    """Recency only tie-breaks WITHIN a scale: a newer low-scale
    artifact never displaces an older higher-scale measurement."""
    q = "q00_demo"
    _write(
        tmp_path,
        "SCALE1000_r08_old.json",
        {"1000": {q: 100.0}},
        {"1000": {q: 30.0}},
    )
    _write(
        tmp_path,
        "SCALE_r12_new.json",
        {"25": {q: 2.0}},
        {"25": {q: 1.5}},
        stamp="2026-08-15T12:00:00Z",
    )
    best = scale_index.collect(str(tmp_path))
    assert best[q][0] == 1000


def test_artifact_round_parses_probe_filenames():
    ar = scale_index.artifact_round
    assert ar("SCALE1000_r10_q22.json") == 10
    assert ar("SCALE_r11.json") == 11
    assert ar("SCALE100_r11_q91_fixed.json") == 11
    assert ar("SCALE_nostamp.json") is None


def test_default_root_is_the_measurements_dir():
    """With no argument the index reads ``artifacts/measurements/``, and
    every artifact a row cites lives there."""
    best = scale_index.collect()
    assert len(best) > 0
    for _scale, _ratio, _wall, artifact in best.values():
        assert (Path(scale_index.MEASUREMENTS) / artifact).is_file(), artifact
