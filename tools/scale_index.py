"""Consolidated scale-evidence index: one row per query, the LARGEST
scale it has ever been measured at, across every SCALE*.json artifact
in artifacts/measurements/.

The per-round artifacts answer "did this round regress?" (--compare);
this index answers the coverage question: "which queries have real
measurements at which scale, and what did they say?" Regenerate and
re-paste into PARITY.md §3 when coverage moves:

    python tools/scale_index.py            # markdown table on stdout

Rows prefer the highest scale; at equal scale, the artifact with the
newer ``recorded_utc`` stamp wins (stampless pre-r12 artifacts rank
oldest, then lexicographic filename as the final fallback — ADVICE
r11: filename order does not encode recency for same-round suffixed
artifacts, so SCALE100_r11_q91_q99_solo outranked ..._q91_fixed).

SUPERSEDED pins the body-staleness exclusions (VERDICT r11 #2): a
(artifact, query) pair listed there measured a body that was fixed in
a later commit, so indexing it would report the defect the fix
removed. Entries are added when a fix round re-measures the query;
they are never auto-derived (PARITY.md §3, "Scale coverage", gives the
rationale; each entry's comment names the fixing commit).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEASUREMENTS = os.path.join(REPO, "artifacts", "measurements")

# Body-staleness exclusions, two forms (each entry cites the commit
# that last changed the query's body):
#
# - SUPERSEDED_BEFORE_ROUND[query] = R: every artifact whose filename
#   round number (the _rNN_ token all probe artifacts carry) is < R
#   measured a body older than the query's last fix and is skipped.
# - SUPERSEDED exact (artifact, query) pairs: the same-round case a
#   round number cannot express (a fix landing mid-round after an
#   earlier same-round measurement).
SUPERSEDED_BEFORE_ROUND: dict[str, int] = {
    # q22 codebook uncap landed as r11's first body commit (45f89d5):
    # every pre-r11 artifact measured the k<=4096 cap whose pair
    # volume bent superlinear.
    "q22_embedding_neardup": 11,
    # q91 verify payload moved to 48-bit gram keys in r11 (8370cbb).
    "q91_blocking_eval": 11,
    # q85/q79 int64-overflow fixes rewrote their arithmetic in
    # DECIMAL(38,0)/HUGEINT lockstep in r13; pre-fix points measured
    # the BIGINT bodies (q85 re-measured r13, q79 r14).
    "q85_hourly_anomalies": 13,
    "q79_source_mixture": 14,
    # q95 verify payload moved to 60-bit hashed shingle keys in r15
    # (ee32562): the pre-fix points measured the raw-string arrays
    # whose spill width was the 300x No-space wall.
    "q95_lsh_tuning": 15,
    # q19/q101 got the same hashed-key verify in r15 (a4199d9); their
    # pre-fix points measured the string-array payload.
    "q19_dedup_ngram_jaccard": 15,
    "q101_minhash_calibration": 15,
}
SUPERSEDED: set[tuple[str, str]] = {
    # r11 artifact, but recorded BEFORE the same round's q91 fix:
    # it measured the pre-fix string-gram spill cliff.
    ("SCALE100_r11_q91_q99_solo.json", "q91_blocking_eval"),
}


def artifact_round(basename: str) -> int | None:
    """Round number from the _rNN[_.] token probe artifacts carry."""
    m = re.search(r"_r(\d+)[_.]", basename)
    return int(m.group(1)) if m else None


def collect(root: str = MEASUREMENTS) -> dict[str, tuple[int, float, float | None, str]]:
    """query -> (max_scale, ratio, wall_s, artifact)."""
    # query -> (scale, recorded_utc, filename, ratio, wall)
    best: dict[str, tuple[int, str, str, float, float | None]] = {}
    for f in sorted(glob.glob(os.path.join(root, "SCALE*.json"))):
        try:
            d = json.load(open(f))
        except (json.JSONDecodeError, OSError):
            continue
        ratios = d.get("time_ratios_vs_x1", {})
        walls = d.get("queries_warm_s", {})
        stamp = d.get("recorded_utc", "")  # stampless ranks oldest
        base = os.path.basename(f)
        rnd = artifact_round(base)
        for scale, qs in ratios.items():
            if not isinstance(qs, dict):
                continue
            s = int(scale)
            for q, r in qs.items():
                if (base, q) in SUPERSEDED:
                    continue
                fix_round = SUPERSEDED_BEFORE_ROUND.get(q)
                if fix_round is not None and rnd is not None and rnd < fix_round:
                    continue
                wall = walls.get(scale, {}).get(q)
                prev = best.get(q)
                # prefer higher scale; at equal scale newer stamp;
                # then later filename (globs come pre-sorted, so >=
                # keeps the lexicographic fallback)
                if prev is None or (s, stamp, base) >= prev[:3]:
                    best[q] = (s, stamp, base, r, wall)
    return {q: (v[0], v[3], v[4], v[2]) for q, v in best.items()}


def main() -> None:
    best = collect()
    print("| query | max scale | time ratio | wall s | artifact |")
    print("|---|---|---|---|---|")
    for q in sorted(best):
        s, r, w, f = best[q]
        wall = f"{w:.1f}" if isinstance(w, (int, float)) else "—"
        print(f"| {q} | {s}× | {r}× | {wall} | `{f}` |")
    # Per-tier count AND max ratio (VERDICT r13 #1: the hand-written
    # PARITY headline claimed "all ≤2.1×" while the table's 25× tier
    # topped at 2.25× — generate the claim so it can't drift from the
    # table it summarizes).
    tiers: dict[int, list[float]] = {}
    for s, r, *_ in best.values():
        tiers.setdefault(s, []).append(r)
    summary = ", ".join(
        f"{len(rs)} at {s}× (max ratio {max(rs)}×)"
        for s, rs in sorted(tiers.items(), reverse=True)
    )
    print(f"\n{len(best)} measured queries: {summary}.", file=sys.stderr)


if __name__ == "__main__":
    main()
