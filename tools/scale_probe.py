"""Measured scale-up probe: replicate the sf0.1 fixtures R× with
key-shifting and run the bench-tagged queries at each scale.

The 100 TB contract (README "Scale design") is argued from plan shapes;
this tool MEASURES it on one box: if a query's wall time grows ~R× for
an R× corpus, its plan is linear in the data (shuffle-partitioned
aggs/joins, bucketed dedup); superlinear growth exposes a pair-space or
driver-side funnel the plan guards missed.

Replication preserves workload shape instead of creating pathology:

  - fact tables shift every key by ``r * stride`` (stride = a power of
    ten above the table's max key), so per-key densities — events per
    user, lineitems per order, docs per source bucket — are unchanged
    and joins stay referentially intact within each replica;
  - ``region``/``nation`` stay single-copy (fixed dimensions, as in
    TPC-H scale-up);
  - document text gets a per-replica token prefix on EVERY token
    (``r3x...``), so replicas are textually disjoint: MinHash/SimHash
    bucket membership stays within-replica, bucket sizes stay constant,
    and near-dup work grows linearly like a real independent corpus
    (replica-suffixing only the doc would instead make every doc a
    near-dup of its replicas — a 100%-duplication corpus, which is the
    bucket-cap stress test, not the scaling probe);
  - embeddings get a deterministic per-replica, per-dimension
    perturbation (direction changes, so replicas are not exact cosine
    ties), while the probe's query set is pinned to the ORIGINAL
    ``vec_id < 100`` rows — top-k work scales with the corpus, the
    query side stays fixed, like a production ANN serving set.

Usage:
    python tools/scale_probe.py [R ...]        # default: 1 2 5 10
    python tools/scale_probe.py --all 1 25 --out artifacts/measurements/SCALE_r06.json
    python tools/scale_probe.py --only q22_embedding_neardup 1 25
    python tools/scale_probe.py --shared-vocab --only q78_lm_doc_score 1 25
    python tools/scale_probe.py --compare artifacts/measurements/SCALE_r05.json \
        artifacts/measurements/SCALE_r06.json
    SPARK_GRAFT_SF_DIR=...                     # base fixtures (sf0.1)

Prints one JSON line per scale with per-query wall seconds, plus a
final summary of time ratios vs R=1 (noop-sink evaluation, cold then
warm, same discipline as bench.py).

``--out FILE`` additionally writes the whole run (per-scale timings +
ratios) as one JSON object — the per-round artifact. ``--compare A B``
is the round-over-round regression gate (VERDICT r5 #4): it diffs the
``time_ratios_vs_x1`` blocks of two artifacts and exits 1 if any
query's ratio grew by more than GATE_GROWTH× — the q22-class
superlinear bug caught the round it is introduced, not three rounds
later. Queries present in only one artifact are reported, not failed
(registrations change between rounds).
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import sys
import tempfile
import time

GATE_GROWTH = 2.0  # --compare fails when ratio_new > GATE_GROWTH * ratio_old

# Timing discipline stamped into every --out artifact (ADVICE r7):
# r7 switched --all from single-run (cold) to min-of-2 (warm), which
# removes the fixed codegen cost and systematically shrinks sub-second
# walls — comparing artifacts produced under different disciplines
# crosses methodologies, so --compare warns when the stamps differ.
DISCIPLINE = {"n_runs": 2, "timing": "min-of-2-warm", "inter_query_gc": True}

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SHIFT = {
    # table -> (key columns to shift, stride)
    "customer": (["c_custkey"], 10_000_000),
    "supplier": (["s_suppkey"], 1_000_000),
    "part": (["p_partkey"], 10_000_000),
    "orders": (["o_orderkey", "o_custkey"], None),  # per-col strides below
    "lineitem": (["l_orderkey", "l_partkey", "l_suppkey"], None),
    "events": (["event_id", "user_id"], None),
    "documents": (["doc_id"], 10_000_000),
    "embeddings": (["vec_id"], 10_000_000),
}
COL_STRIDE = {
    "o_orderkey": 100_000_000,
    "o_custkey": 10_000_000,
    "l_orderkey": 100_000_000,
    "l_partkey": 10_000_000,
    "l_suppkey": 1_000_000,
    "event_id": 100_000_000,
    "user_id": 10_000_000,
}
SINGLE_COPY = ("region", "nation")


def probe_shuffle_partitions(scale: int, cpus: int) -> int:
    """Shuffle-partition count derived from the data scale (VERDICT r7
    #2: the 100x probe needed a MANUAL 256-partition rerun to isolate
    q22's bend — the probe session must size itself so big-scale
    sweeps measure the plan, not one-box spill).

    Rule: keep per-partition shuffle volume roughly at the 1x level,
    where ``cpus`` partitions are measured-right. The r7 measurement
    anchors the divisor: at 100x, 32 partitions put ~7 M candidate
    pairs in one sort-merge task (spill); 256 restored in-memory
    execution — i.e. ~8x more partitions for 100x data, so one
    partition per ``cpus`` per ~12 units of scale. On a real cluster
    the same job is done by AQE initial-partition scaling; here the
    conf is runtime-set per scale step and recorded in the artifact."""
    return min(4096, cpus * max(1, -(-scale // 12)))


def probe_driver_memory(max_scale: int) -> str:
    """Driver-JVM heap derived from the largest scale in the sweep
    (VERDICT r7 #2: the default 8 g OOMed in the 100x query phase and
    the probe needed a manual 48 g override). Local mode holds driver
    AND all 32 executor threads in one heap, so it must grow with the
    corpus: measured anchors are 8 g fine through 25x, 48 g fine at
    100x — ~0.5 g per unit of scale between, floored and capped."""
    return f"{min(48, max(8, -(-max_scale // 2)))}g"


def build_corpus(
    spark, base: str, out: str, r_total: int, shared_vocab: bool = False
) -> None:
    from pyspark.sql import functions as F

    from spark_sql_pubsub_connector_spark.plans.tables import load_table

    for t in SINGLE_COPY:
        shutil.copy(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
    for t, (cols, stride) in SHIFT.items():
        df = load_table(spark, base, t)
        reps = []
        for r in range(r_total):
            rep = df
            for c in cols:
                s = COL_STRIDE.get(c, stride)
                rep = rep.withColumn(c, F.col(c) + F.lit(r * s))
            if t == "documents" and r > 0 and not shared_vocab:
                # textually-disjoint replicas: prefix every token
                rep = rep.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"r{r}x$1")
                ).withColumn("n_chars", F.length("text"))
                # ``shared_vocab`` (VERDICT r7 #1) keeps replica text
                # VERBATIM (keys still shift): the distinct
                # token/bigram key space stays at its 1x size while
                # row volume scales Rx — the controlled counterpart
                # for separating vocabulary growth (a corpus
                # property) from plan defects in q78/q58/q99 ratios.
                # Near-dup queries see a 100%-duplicated corpus under
                # this mode, so it is an experiment switch, not the
                # default probe.
            if t == "embeddings" and r > 0:
                rep = rep.withColumn(
                    "embedding",
                    F.expr(
                        f"transform(embedding, (x, i) -> "
                        f"CAST(x + (({r} * (i + 1)) % 7) * 0.001 AS FLOAT))"
                    ),
                )
            reps.append(rep)
        u = reps[0]
        for rep in reps[1:]:
            u = u.unionByName(rep)
        u.write.mode("overwrite").parquet(f"{out}/{t}.parquet")


def apply_adjudications(d: dict, path: str) -> list[dict]:
    """Substitute an artifact's adjudicated honest ratios for its raw
    stored ones before gating (ADVICE r8, medium): SCALE100_r08.json
    stores q54's raw 1.21× in ``time_ratios_vs_x1`` — a measurement its
    own ``q54_x1_adjudication`` block declares dishonest (slow-host 1×
    leg; honest 4.89×). Gating a future honest ~4.9× against the raw
    1.21× computes growth ~4 > GATE_GROWTH: a guaranteed false fire.
    The adjudication block IS the artifact's own correction, so the
    gate consumes it: any top-level ``q{N}_*adjudication`` mapping with
    an ``honest_ratio_{scale}x`` / ``honest_ratio_vs_x1`` key replaces
    the matching query's ratio (at the named scale, or at every scale
    the artifact carries when the key names none). Mutates ``d`` and
    returns the applied substitutions for the gate's output.

    ADVICE r9: a scaleless ``honest_ratio_vs_x1`` key legitimately
    applies to a single-scale artifact; applying it to EVERY scale of
    a multi-scale artifact would silently mis-correct the scales the
    adjudication never measured, so that case is flagged in the
    applied-substitution records (``scaleless_key_spanned_scales``)."""
    applied = []
    ratios = d.get("time_ratios_vs_x1", {})
    for key, block in d.items():
        m = re.match(r"^(q\d+)\w*_adjudication$", key)
        if not m or not isinstance(block, dict):
            continue
        qprefix = m.group(1) + "_"
        # ADVICE r9: when the block records the full query name, match
        # it exactly; the prefix fallback would also rewrite any other
        # query sharing the q-number prefix.
        exact = block.get("query") if isinstance(block.get("query"), str) else None
        for bk, bv in block.items():
            hm = re.match(r"^honest_ratio(?:_(\d+)x|_vs_x1)$", bk)
            if not hm or not isinstance(bv, (int, float)):
                continue
            scales = [hm.group(1)] if hm.group(1) else list(ratios)
            scaleless_span = None if hm.group(1) or len(scales) <= 1 else scales
            for scale in scales:
                for qname, raw in list(ratios.get(scale, {}).items()):
                    matched = (qname == exact) if exact else qname.startswith(qprefix)
                    if matched and raw != bv:
                        ratios[scale][qname] = bv
                        rec = {"artifact": os.path.basename(path),
                               "scale": scale, "query": qname,
                               "raw": raw, "honest": bv,
                               "adjudication_key": key}
                        if scaleless_span:
                            rec["scaleless_key_spanned_scales"] = scaleless_span
                        applied.append(rec)
    return applied


def compare(prev_path: str, cur_path: str) -> int:
    """Round-over-round gate: any query whose time ratio vs 1× grew
    more than ``GATE_GROWTH``× between artifacts fails the run.

    ADVICE r7: artifacts produced under different timing disciplines
    (single-run cold vs min-of-warm) or different replica-vocabulary
    modes measure different things — the gate still runs, but the
    output carries an explicit ``methodology_warnings`` block so a
    cross-methodology failure is adjudicated as such rather than read
    as a plan regression.

    ADVICE r8: each side's own ``*_adjudication`` honest ratios replace
    its raw stored ratios before gating (see apply_adjudications)."""
    def load(path: str) -> dict:
        with open(path) as f:
            d = json.load(f)
        if "time_ratios_vs_x1" not in d:
            if "time_ratios_vs_1x" in d:
                # SCALE_r05.json's hand-rolled shape: one flat 25x dict
                d["time_ratios_vs_x1"] = {"25": d["time_ratios_vs_1x"]}
            elif "time_ratios_vs_x1_at_100x" in d:
                # SCALE100_r07.json's hand-rolled summary shape — the
                # "100" scale label is that one artifact's key name,
                # not a general convention (ADVICE r8 nit)
                d["time_ratios_vs_x1"] = {
                    "100": d["time_ratios_vs_x1_at_100x"]
                }
            else:
                raise SystemExit(
                    f"--compare: {path} has no ratio block "
                    "(expected time_ratios_vs_x1)"
                )
        return d

    d_prev, d_cur = load(prev_path), load(cur_path)
    adjudications = apply_adjudications(d_prev, prev_path)
    adjudications += apply_adjudications(d_cur, cur_path)
    prev, cur = d_prev["time_ratios_vs_x1"], d_cur["time_ratios_vs_x1"]
    warnings = []
    for field, note in (
        ("discipline", "timing disciplines differ (pre-r8 artifacts "
         "carry no stamp; --all was single-run cold before r7)"),
        ("replica_vocab", "replica vocabulary modes differ (shared-"
         "vocab artifacts are experiment runs, not probe baselines)"),
    ):
        if d_prev.get(field) != d_cur.get(field):
            warnings.append(
                {"field": field, "prev": d_prev.get(field),
                 "cur": d_cur.get(field), "note": note}
            )
    failures, report = [], {}
    for scale, cur_ratios in cur.items():
        prev_ratios = prev.get(scale, {})
        for name, r_new in cur_ratios.items():
            r_old = prev_ratios.get(name)
            if r_old is None:
                report[f"{scale}x:{name}"] = {"new_only": r_new}
                continue
            growth = round(r_new / r_old, 2) if r_old > 0 else None
            if growth is not None and growth > GATE_GROWTH:
                failures.append(
                    {"scale": scale, "query": name, "ratio_prev": r_old,
                     "ratio_new": r_new, "growth": growth}
                )
    print(json.dumps({"gate_growth": GATE_GROWTH, "failures": failures,
                      "coverage_changes": report,
                      "methodology_warnings": warnings,
                      "adjudications_applied": adjudications}), flush=True)
    return 1 if failures else 0


def validate_only(only: list[str], known: set[str]) -> list[str]:
    """ADVICE r6: a misspelled ``--only`` name used to select NOTHING —
    the probe ran zero queries, wrote an artifact with empty
    timings/ratios, and a later ``--compare`` passed vacuously, so a
    typo read as a green gate. Unknown names are now a hard error."""
    unknown = [n for n in only if n not in known]
    if unknown:
        raise SystemExit(
            f"--only: unknown quer{'y' if len(unknown) == 1 else 'ies'} "
            f"{unknown}; known names come from plans.all_specs()"
        )
    if not only:
        raise SystemExit("--only: empty selection")
    return only


def main() -> None:
    args = sys.argv[1:]
    if "--compare" in args:
        i = args.index("--compare")
        sys.exit(compare(args[i + 1], args[i + 2]))
    run_all = "--all" in args  # every batch query, one run each
    shared_vocab = "--shared-vocab" in args
    args = [a for a in args if a != "--shared-vocab"]
    only_flag, only = "--only" in args, []
    if only_flag:
        i = args.index("--only")
        only = args[i + 1].split(",")
        args = args[:i] + args[i + 2:]
    out_file = None
    if "--out" in args:
        i = args.index("--out")
        out_file = args[i + 1]
        args = args[:i] + args[i + 2:]
    scales = [int(a) for a in args if a != "--all"] or [1, 2, 5, 10]
    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from spark_sql_pubsub_connector_spark.plans import all_specs
    from spark_sql_pubsub_connector_spark.session import get_spark
    from tools.calib import calib3

    if only_flag:  # fail fast, before a SparkSession spins up — and
        # unconditionally when the flag was given (ADVICE r7: the old
        # ``if only:`` guard made the empty-selection branch dead code
        # from main; ``--only ""`` must die here, not run zero queries)
        validate_only(only, set(all_specs()))
    # Session sized from the sweep's LARGEST scale (VERDICT r7 #2):
    # driver heap must be fixed at JVM launch, so it is derived from
    # max(scales) up front; an explicit SPARK_GRAFT_DRIVER_MEM wins.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mem_overridden = "SPARK_GRAFT_DRIVER_MEM" in os.environ
    if not mem_overridden:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = probe_driver_memory(
            max(scales)
        )
    session_conf = {
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "driver_memory_overridden": mem_overridden,
        "cpus": cpus,
        "shuffle_partitions_by_scale": {
            str(r): probe_shuffle_partitions(r, cpus) for r in scales
        },
    }
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = {
        n: s
        for n, s in sorted(all_specs().items())
        if (
            (n in only)
            if only
            else (run_all and "streaming" not in s.tags)
            or (not run_all and s.bench)
        )
    }

    spark.range(1000).selectExpr("sum(id)").collect()  # codegen warm

    # Host-speed calibration per scale step (r7): the r7 sweep's 25x
    # phase hit a slow host window and 16 queries' ratios inflated
    # 2-4x without any code change (none reproduced on recheck). The
    # same fixed probes bench.py uses, timed at EACH scale, put the
    # host-drift factor in the artifact so a --compare failure can be
    # adjudicated against measured machine speed, not guessed.
    results: dict[int, dict[str, float]] = {}
    calibrations: dict[int, dict[str, float]] = {}
    for r_total in scales:
        out = tempfile.mkdtemp(prefix=f"scale-x{r_total}-")
        t0 = time.perf_counter()
        build_corpus(spark, base, out, r_total, shared_vocab=shared_vocab)
        build_s = time.perf_counter() - t0
        # calibrate under the FIXED baseline conf (cpus partitions):
        # the probes exist to track host speed across scales/rounds,
        # so their own work must not vary with the per-scale sizing
        calibrations[r_total] = calib3(spark)
        # per-scale shuffle sizing (VERDICT r7 #2) — runtime-settable,
        # applied for the query phase only and recorded in the artifact
        parts = session_conf["shuffle_partitions_by_scale"][str(r_total)]
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        timings: dict[str, float] = {}
        # min-of-2 everywhere (r7): --all used to be single-run on the
        # theory that anomalies ≫ noise, but two same-code r7 sweeps
        # produced DISJOINT --compare failure sets (16 vs 6 queries,
        # ratios swinging 2-4x) purely from single-run timing of
        # sub-second queries on this drift-prone VM. min-of-2 is the
        # cheapest discipline that kills most false fires; a real
        # superlinear regression (q22's old 100x class) still fires.
        n_runs = DISCIPLINE["n_runs"]
        for name, spec in specs.items():
            runs = []
            for _ in range(n_runs):
                t1 = time.perf_counter()
                spec.build(spark, out).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.perf_counter() - t1)
            timings[name] = round(min(runs), 3)
            # q17/q109 persist per-sf_dir frames; each replicated
            # corpus is a distinct sf_dir, so without clearing, every
            # scale step pins another MEMORY_AND_DISK entry for the
            # session's lifetime (ADVICE r6) and later queries measure
            # under someone else's storage pressure.
            spark.catalog.clearCache()
            # Inter-query full GC (r11): two same-day 100x breadth
            # sweeps each produced exactly ONE blown-up late query —
            # DIFFERENT ones (q99 91.8 s then 14.9 s; q91 38.8 s then
            # 170.2 s), both healthy when probed solo (q99 10.9 s).
            # Whichever query runs while the old gen is full of dead
            # broadcast/AQE-stage state from its predecessors pays
            # sustained GC thrash across BOTH its runs, then the full
            # collection lands and the next query reads near-solo.
            # Forcing the collection between queries (outside the
            # timed region; the ContextCleaner also reclaims shuffle
            # files and broadcasts on driver GC) makes each query
            # measure its own cost, not its predecessors' garbage —
            # the same mechanism the aging probe's E2 leg isolates.
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
        results[r_total] = timings
        print(
            json.dumps(
                {
                    "scale": r_total,
                    "build_s": round(build_s, 1),
                    "shuffle_partitions": parts,
                    "calibration": calibrations[r_total],
                    "queries_warm_s": timings,
                }
            ),
            flush=True,
        )
        shutil.rmtree(out, ignore_errors=True)

    ratios = {}
    if 1 in results and len(results) > 1:
        base_t = results[1]
        ratios = {
            r: {
                n: round(results[r][n] / base_t[n], 2)
                for n in base_t
                if base_t[n] > 0
            }
            for r in results
            if r != 1
        }
        print(json.dumps({"time_ratios_vs_x1": ratios}), flush=True)
    if out_file:
        with open(out_file, "w") as f:
            json.dump(
                {
                    "base_dir": base,
                    "scales": scales,
                    # recency stamp (ADVICE r11): scale_index.py used to
                    # tie-break equal-scale artifacts by filename sort,
                    # which let a superseded same-round artifact outrank
                    # a newer fix (q91_q99_solo > q91_fixed). The index
                    # now prefers the newer recorded_utc; stampless
                    # (pre-r12) artifacts rank oldest.
                    "recorded_utc": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    # methodology stamps (ADVICE r7): --compare warns
                    # when two artifacts' stamps differ
                    "discipline": DISCIPLINE,
                    "replica_vocab": "shared" if shared_vocab else "disjoint",
                    "session": session_conf,
                    "calibration": {
                        str(r): c for r, c in calibrations.items()
                    },
                    "queries_warm_s": {str(r): t for r, t in results.items()},
                    "time_ratios_vs_x1": {str(r): v for r, v in ratios.items()},
                },
                f,
                indent=1,
            )
        print(json.dumps({"wrote": out_file}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
