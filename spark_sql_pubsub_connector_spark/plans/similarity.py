"""Similarity search over the ``embeddings`` table (SURVEY.md §2.3 —
driver-mandated; no counterpart in the reference connector).

  q20  brute-force top-k cosine   — exact baseline (broadcast queries)
  q21  sign-LSH bucketed ANN      — the 100 TB scale path
  q22  embedding near-dup pairs   — LSH blocking + cosine threshold

Numeric portability: all reductions use the exact integer-grid scheme
from ``functions.vecops`` (quantize each elementwise product, sum
BIGINTs, one final double op) so Spark and DuckDB agree bit-for-bit.

Scale design:
  - q20 broadcasts the (small) query set against the corpus: one
    embarrassingly-parallel scan, no shuffle until the tiny top-k
    aggregate. Quadratic in corpus × queries — correct-but-baseline.
  - q21 hashes every vector to a 2^8-bucket sign-LSH code with
    *precomputed deterministic ±1 hyperplanes* (vecops.hyperplanes), so
    the candidate join is keyed on the bucket id; only same-bucket
    pairs are reranked exactly. This is the IVF/LSH shape that survives
    100 TB: bucket count scales with corpus, per-bucket rerank stays
    bounded, and the hyperplane coefficients are compile-time literals
    (zero driver state, zero RNG).
  - q22 blocks all-pairs near-dup by IVF cell with the cell COUNT
    scaling in n (deterministic hash-mod centroid sample, two-level
    assign via a ⌊√k⌋-centroid coarse quantizer, within-cell
    pairing): candidate volume is Θ(n · cell) and assignment is
    Θ(n · √k · dim) — both linear. Registered in r6 after the measured
    scale probe caught the old fixed-16-bucket blocking at Θ(n²/16);
    hierarchical since r10 (the flat n·k·dim assignment predicted
    ≈6,500 s/run at 1000× once k hit the 4096 cap).
  - q20/q21 are JVM codegen arithmetic on array columns — no UDFs.
    q22's quantized-cosine chain runs through Arrow-batched numpy
    (``functions.vecnp``, bit-equal by construction) since r10: every
    JVM higher-order-function encoding of it measured at the same
    ~1e8 mult-adds/s interpreted ceiling, while the identical float64
    op sequence vectorizes ~100× faster per core.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.textops import hex_prefix_int, md5_str, sql_hex_prefix_int
from ..functions.vecops import (
    SIM_SCALE,
    bucket_exprs,
    cosine_q_expr,
    dot_q_expr,
    quant_arr_expr,
    sql_dot_q,
    sql_quant_arr,
)
from .caching import persist_tracked
from .registry import query
from .tables import load_table

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 3
ANN_BITS = 8
NEARDUP_SIM_Q = 350_000_000  # cosine >= 0.35 on the 1e9 grid


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("nrm", F.expr(dot_q_expr("embedding", "embedding")))


_SQL_NORM = sql_dot_q("embedding", "embedding")


# --------------------------------------------------------------------------
# q20 — brute-force exact top-k cosine
# --------------------------------------------------------------------------
@query(
    "q20_knn_bruteforce",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding, {_SQL_NORM} AS nrm FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {cosine_q_expr(sql_dot_q("q.qe", "c.embedding"), "q.qn", "c.nrm")} AS sim_q9
  FROM q JOIN e c ON c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim_q9 DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim_q9 FROM ranked WHERE rank <= {TOP_K}
""",
    tags=("similarity", "knn"),
    bench=True,
)
def q20_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 cosine neighbors for the first 8 vectors.

    The query side is broadcast, so the corpus scan never shuffles; the
    per-row work is a 64-wide codegen dot product. The ranking window
    partitions by query (8 partitions of corpus size) — at scale the
    rank-limit optimization (WindowGroupLimit) keeps only k rows per
    query per task before the shuffle."""
    # NOTE: q111 persists a frame byte-matching this `e` for
    # CacheManager substitution across its two legs — if this chain
    # changes shape, update q111's e_shared in lockstep (ADVICE r15)
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("dot", F.expr(dot_q_expr("qe", "embedding")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(cosine_q_expr("dot", "qn", "nrm")).alias("sim_q9"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_q9").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "sim_q9")
    )


# --------------------------------------------------------------------------
# q21 — LSH-bucketed approximate nearest neighbors
# --------------------------------------------------------------------------
_ANN_SPARK_BUCKET, _ANN_SQL_BUCKET = bucket_exprs(ANN_BITS, qarr="qa")


@query(
    "q21_ann_lsh",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding, {_SQL_NORM} AS nrm,
         {_ANN_SQL_BUCKET} AS bucket
  FROM (SELECT *, {sql_quant_arr('embedding')} AS qa FROM embeddings)
),
q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, bucket
      FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {cosine_q_expr(sql_dot_q("q.qe", "c.embedding"), "q.qn", "c.nrm")} AS sim_q9
  FROM q JOIN e c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim_q9 DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim_q9 FROM ranked WHERE rank <= {TOP_K}
""",
    tags=("similarity", "ann", "lsh"),
)
def q21_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via 8-bit sign-LSH: rerank only vectors whose random-
    hyperplane signature equals the query's. The candidate join is
    keyed on the bucket id — a hash join whose build side is the query
    set — so work is O(corpus/2^bits × queries) instead of O(corpus ×
    queries). Recall < 1 by construction; the oracle applies the
    *identical* approximation, so the comparison stays exact."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("qa", F.expr(quant_arr_expr("embedding")))
        .withColumn("nrm", F.expr(dot_q_expr("embedding", "embedding")))
        .withColumn("bucket", F.expr(_ANN_SPARK_BUCKET))
        .drop("qa")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        e.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("dot", F.expr(dot_q_expr("qe", "embedding")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(cosine_q_expr("dot", "qn", "nrm")).alias("sim_q9"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_q9").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "sim_q9")
    )


# --------------------------------------------------------------------------
# q22 — embedding-cosine near-duplicate pairs (IVF-blocked all-pairs)
# --------------------------------------------------------------------------
# The r1–r5 form blocked on a 4-bit sign-LSH bucket: a FIXED 16-bucket
# space, so candidate volume was Σ|bucket|² with |bucket| ∝ n/16 —
# Θ(n²/16), all-pairs with a constant divisor. The round-5 measured
# scale probe caught it at 100.6× wall for 25× data with blocking
# recall 0.11 vs brute force (SCALE_r05.json); this registered form is
# the staged IVF-blocked replacement (VERDICT r5 #1): blocks are IVF
# cells whose COUNT scales with n, so the expected cell size is the
# constant ``_ND_TARGET_CELL`` knob and candidate volume is
# Θ(n · target_cell) — linear. Measured 2.9× wall at 25× data with
# recall 0.85 and precision 1.0 while staged.
_ND_TARGET_CELL = 256  # expected vectors per IVF cell — the linearity knob
_ND_NPROBE = 2  # fine cells each vector joins (multi-probe recall lever)
_ND_CPROBE = 3  # coarse cells each vector descends into (recall lever —
# at 3 the fixture recall equals the flat form's exactly; per-vector
# work stays ≈(m + 3·k/m)·dim ≈ 4·√k·dim)
# r11 (VERDICT r10 #1): the r6–r10 forms capped the codebook at
# k ≤ 4096, which made expected cell size grow as n/k_max past
# n ≈ 1.05 M vectors — pair volume n²·nprobe²/(2·k_max), measured as
# 81% of the 547 s 1000× wall (`SCALE1000_r10_q22_anatomy.json`).
# Quadratic-with-a-big-divisor is still quadratic; the cap is GONE.
# k = ⌈n/256⌉ at every n (the q49/q61 stored-codebook discipline), so
# expected cell size is the constant knob and pair volume is
# n·target_cell·nprobe²/2 — linear — at every corpus size. The
# two-level assignment keeps per-vector work ≈ 4·√k·dim, which now
# grows as √n per vector (n^1.5 total with a tiny constant) — the
# standard IVF trade; at real scale the codebook comes from a stored
# index build (q49/q66) sized the same way.


def _sql_neardup_ivf() -> str:
    """DuckDB oracle mirroring :func:`embedding_neardup_ivf` exactly:
    same portable md5 centroid selection (fine AND the ``:c``-salted
    coarse sub-sample), same count→k→stride→m→cstride derivation
    (computed in SQL where Spark computes it driver-side from the same
    count), same two-level argmax assignment (fine→coarse pick-1,
    vector→coarse top-cprobe, vector→fine top-nprobe among fines in
    probed coarse cells) and the same pair join."""
    hs = sql_hex_prefix_int("md5(CAST(e.vec_id AS VARCHAR))", 15)
    hs2 = sql_hex_prefix_int("md5(CAST(cent_id AS VARCHAR) || ':c')", 15)
    cos_f2c = (
        f"CASE WHEN cc.ccnrm > 0 THEN CAST({sql_dot_q('c0.cent', 'cc.ccent')} AS DOUBLE)"
        f" / sqrt(CAST(cc.ccnrm AS DOUBLE)) END"
    )
    cos_vc = (
        f"CASE WHEN cc.ccnrm > 0 THEN CAST({sql_dot_q('e.embedding', 'cc.ccent')} AS DOUBLE)"
        f" / sqrt(CAST(cc.ccnrm AS DOUBLE)) END"
    )
    cos_vf = (
        f"CASE WHEN f.cent_nrm > 0 THEN CAST({sql_dot_q('e.embedding', 'f.cent')} AS DOUBLE)"
        f" / sqrt(CAST(f.cent_nrm AS DOUBLE)) END"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding, {_SQL_NORM} AS nrm FROM embeddings),
p AS (
  SELECT GREATEST(1, CAST(ceil(count(*) / {_ND_TARGET_CELL}.0) AS BIGINT)) AS k,
         count(*) AS n, min(vec_id) AS mn
  FROM e
),
p2 AS (
  SELECT mn, GREATEST(2, n // k) AS stride,
         GREATEST(2, k // GREATEST(1,
           CAST(floor(sqrt(CAST(k AS DOUBLE))) AS BIGINT))) AS cstride
  FROM p
),
c0 AS (
  SELECT e.vec_id AS cent_id, e.embedding AS cent, e.nrm AS cent_nrm
  FROM e, p2
  WHERE ({hs}) % p2.stride = 0 OR e.vec_id = p2.mn
),
cc AS (
  SELECT cent_id AS ccid, cent AS ccent, cent_nrm AS ccnrm
  FROM c0, p2
  WHERE ({hs2}) % p2.cstride = 0 OR cent_id = p2.mn
),
f2c AS (
  SELECT cent_id, cent, cent_nrm, ccid FROM (
    SELECT c0.cent_id, c0.cent, c0.cent_nrm, cc.ccid,
           row_number() OVER (
             PARTITION BY c0.cent_id
             ORDER BY ({cos_f2c}) DESC NULLS LAST, cc.ccid
           ) AS pick
    FROM c0 CROSS JOIN cc
  ) WHERE pick = 1
),
vp AS (
  SELECT vec_id, ccid FROM (
    SELECT e.vec_id, cc.ccid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ({cos_vc}) DESC NULLS LAST, cc.ccid
           ) AS pick
    FROM e CROSS JOIN cc
  ) WHERE pick <= {_ND_CPROBE}
),
asg AS (
  SELECT vec_id, embedding, nrm, cell FROM (
    SELECT e.vec_id, e.embedding, e.nrm, f.cent_id AS cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ({cos_vf}) DESC NULLS LAST, f.cent_id
           ) AS pick
    FROM e
    JOIN vp ON vp.vec_id = e.vec_id
    JOIN f2c f ON f.ccid = vp.ccid
  ) WHERE pick <= {_ND_NPROBE}
),
pr AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {cosine_q_expr(sql_dot_q("a.embedding", "b.embedding"), "a.nrm", "b.nrm")} AS sim_q9
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT DISTINCT vec_a, vec_b, sim_q9 FROM pr WHERE sim_q9 >= {NEARDUP_SIM_Q}
"""


def _nd_cand_set(ids, embs):
    """Candidate-set structure for the two-level pick: ids (int64,
    ASCENDING — the tie-break order), float64 embeddings (or None for
    a NULL embedding), exact norms, and per-length stacked matrices
    restricted to members with a positive norm AND no NULL elements
    (the only members whose cosine against an equal-length vector is
    non-NULL — ``cnrm > 0`` CASE guard + the NULL-on-length-mismatch
    dot rule + the NULL-element-propagates rule: a NULL inside the
    array arrives as NaN after the Arrow/numpy conversion, and the
    JVM/DuckDB chain makes any dot against it NULL, so such rows are
    masked BEFORE ``nrm_q`` — floor/int64-cast on NaN is
    platform-defined and could otherwise fabricate a positive norm)."""
    import numpy as np

    from ..functions import vecnp

    order = np.argsort(np.asarray(ids, dtype=np.int64), kind="stable")
    ids = np.asarray(ids, dtype=np.int64)[order]
    embs = [embs[i] for i in order]
    lens = np.array(
        [-1 if v is None else v.size for v in embs], dtype=np.int64
    )
    nrms = np.zeros(ids.size, dtype=np.int64)
    by_len: dict = {}
    for L in set(lens.tolist()):
        if L < 0:
            continue
        idx = np.nonzero(lens == L)[0]
        M = (
            np.stack([embs[i] for i in idx])
            if idx.size
            else np.empty((0, max(L, 0)))
        )
        fin = ~np.isnan(M).any(axis=1)
        nr = np.zeros(idx.size, dtype=np.int64)
        if fin.any():
            nr[fin] = vecnp.nrm_q(M[fin])
        nrms[idx] = nr
        pos = fin & (nr > 0)
        if pos.any():
            by_len[L] = (idx[pos], M[pos], nr[pos])
    return {"ids": ids, "embs": embs, "lens": lens, "nrms": nrms, "by_len": by_len}


def _nd_scores(X, L, cs):
    """(b × |cs|) float64 ranking-cosine matrix of the length-``L``
    rows ``X`` against candidate set ``cs`` — NULL encoded as -inf
    (mismatched length, NULL embedding, or non-positive norm)."""
    import numpy as np

    from ..functions import vecnp

    sc = np.full((X.shape[0], cs["ids"].size), -np.inf)
    ent = cs["by_len"].get(L)
    if ent is not None:
        idx, M, nr = ent
        sc[:, idx] = vecnp.cos_scores(vecnp.dots_q(X, M), nr)
    return sc


def _nd_assigned(
    spark: SparkSession,
    sf_dir: str,
    target_cell: int = _ND_TARGET_CELL,
    nprobe: int = _ND_NPROBE,
    cprobe: int = _ND_CPROBE,
) -> DataFrame:
    """q22's ASSIGNMENT stage alone — (vec_id, embedding, nrm, cell),
    one row per (vector, probed fine cell). Split out of
    :func:`embedding_neardup_ivf` so the scale anatomy can time the
    linear assignment separately from the within-cell pair stage
    (`SCALE1000_r10_q22_anatomy.json`); the composed plan is
    byte-identical to building it inline.

    Centroids are a deterministic hash-mod sample: the vectors whose
    portable md5 hash (same ``hex_prefix_int ∘ md5`` chain the dedup
    family uses, mirrored verbatim in DuckDB) lands on the stride
    grid, UNIONed with the min-vec_id vector so the centroid set is
    never empty (an unlucky hash sample on a tiny corpus would
    otherwise silently emit zero pairs). Expected k = n/stride, so the
    expected cell size is the constant ``target_cell`` knob — no
    global sort, no single-task window. At real scale the centroid
    set would come from a stored index build (q49/q66); the probe
    stays self-contained and deterministic.

    Assignment is TWO-LEVEL (r10, VERDICT r9 #1): the flat broadcast
    argmax was n·k·dim — the committed anatomy predicted ≈6,500 s/run
    at 1000×. A coarse quantizer of m = ⌊√k⌋ centroids (a
    ``':c'``-salted hash-mod sub-sample of the fine codebook — the
    unsalted hash is ≡0 mod stride on every fine, so a second mod on
    it would be badly non-uniform; min-cent_id fallback keeps it
    non-empty) cuts per-vector work to m·dim + ~cprobe·(k/m)·dim ≈
    4·√k·dim. With the r11 UNCAPPED k = ⌈n/256⌉ that is Θ(√n) per
    vector — Θ(n^1.5·dim/16) total with a numpy-rate constant — in
    exchange for pair volume staying linear at every n (the cap made
    pairs n²·nprobe²/(2·k_max) past n ≈ 1.05 M — 81% of the 1000×
    wall, `SCALE1000_r10_q22_anatomy.json`).

    Execution is VECTORIZED (r10): three JVM expression encodings of
    the quantized-cosine chain — windowed argmax (r8), aggregate fold
    and broadcast-map lookup (r10 drafts, `SCALE100_r10_q22_*.json`) —
    all plateaued at ~1e8 mult-adds/s aggregate because Spark's
    higher-order functions are interpreted per element and excluded
    from whole-stage codegen. The chain is therefore run through
    ``functions.vecnp`` (Arrow-batched numpy, the multimodal family's
    sanctioned pattern), which performs the IDENTICAL IEEE-754 float64
    op sequence — bit-equal scores, ~100× the arithmetic rate:

      1. the ≈k-row codebook (k = ⌈n/256⌉ — 1/256th of the corpus,
         embeddings only) is collected and the coarse sub-sample +
         fine→coarse pick-1 are computed driver-side, then broadcast —
         the q49/q66 stored-codebook discipline; at true 100 TB scale
         the build step materializes it once to parquet instead of
         re-collecting per query;
      2. ``mapInPandas`` assigns each vector: coarse-probe all m
         (top-``cprobe`` by cos DESC NULLS LAST, id ASC — a stable
         argsort over id-sorted candidates, equal to the oracle's
         window), then rank ONLY the probed cells' fines for the
         top-``nprobe`` cells. Zero shuffle; vectors sharing a probed
         coarse set are scored as one numpy block. Vectors with a
         non-positive/NULL norm are dropped here — every pair they
         could form has NULL similarity under the CASE guard, so the
         emitted pair set is unchanged;
      3. one Exchange on the cell id feeds ``applyInPandas`` pair
         scoring: within each cell, equal-length pairs get the exact
         quantized dot + 1e9-grid similarity (mismatched lengths are
         NULL-dot pairs on both engines — dropped), thresholded
         before anything leaves the worker;
      4. ``distinct()`` folds pairs surfaced via >1 shared cell.

    The oracle is byte-unchanged — it mirrors the same two-level
    derivation in SQL, and every numpy op is the identical correctly-
    rounded float64 operation (see ``vecnp`` module docstring), so
    rankings and similarities stay bit-reproducible cross-engine.

    Cost: candidate volume Θ(n · target_cell · nprobe²) — linear in
    n at EVERY n (uncapped k keeps expected cell size at the constant
    knob); assignment Θ(n · √k · dim) = Θ(n^1.5 · dim / √target_cell).
    The within-cell pair stage is the operator's real quadratic-per-
    cell work; expected cell size is the constant knob. Worker memory
    bound: ``applyInPandas`` materializes one cell per Python worker —
    expected cell ≈ target_cell·nprobe rows (≈0.5 MB at dim 128); a
    pathological corpus (≫target_cell near-identical vectors
    collapsing into one cell) is bounded by the corpus's duplicate
    multiplicity, the pair kernel chunks its scratch to ≤32 MB, and
    past ``_ND_CELL_SPLIT`` rows the kernel salt-splits the cell with
    a loud stderr warning (r12 — see :func:`_nd_pairs_kernel`),
    bounding the quadratic at ~n·salt_block dots for the documented
    cross-salt recall trade.
    Recall is defined by the blocking (measured vs the
    ``brute_force_neardup`` ground truth — see test_neardup_scalable's
    floor); precision stays 1.0 (exact cosine on every emitted pair).
    r9's ``persist()`` (and its ADVICE-flagged cache leak) is gone:
    pairs form inside the per-cell group, so there is no self-join to
    recompute the assignment for."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    from ..functions import vecnp

    e0 = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n, mn = e0.agg(F.count(F.lit(1)), F.min("vec_id")).first()
    k = max(1, -(-n // target_cell))  # corpus-sized codebook, UNCAPPED (r11)
    stride = max(2, n // k)
    # coarse-quantizer derivation — floor(sqrt(double)) exactly as the
    # oracle computes it (any k ≪ 2^53 is exactly representable, so
    # both engines floor the identical correctly-rounded IEEE sqrt)
    m = max(1, int(math.floor(math.sqrt(float(k)))))
    cstride = max(2, k // m)

    # fine codebook: JVM hash-mod filter (one md5 per row — the scan
    # stays distributed), collect of ≈k = ⌈n/target_cell⌉ rows — the
    # stored-codebook discipline (q49/q66): the codebook is 1/256th of
    # the corpus (embeddings only, no payload), so it fits the driver
    # and the broadcast wherever the corpus itself is tractable; a
    # production deployment materializes it once via an index build
    hs = hex_prefix_int(md5_str(F.col("vec_id").cast("string")), 15)
    sel = hs % F.lit(stride) == 0
    if mn is not None:
        sel = sel | (F.col("vec_id") == F.lit(mn))
    cent_rows = e0.filter(sel).collect()
    fine_ids = [r["vec_id"] for r in cent_rows]
    fine_embs = [
        None if r["embedding"] is None else np.asarray(r["embedding"], dtype=np.float64)
        for r in cent_rows
    ]
    fines = _nd_cand_set(fine_ids, fine_embs)

    # coarse sub-sample: ':c'-salted md5 (hashlib == JVM md5 == DuckDB
    # md5 on the same decimal-string bytes), min-cent_id fallback
    def _csel(cid: int) -> bool:
        h = int(hashlib.md5(f"{cid}:c".encode()).hexdigest()[:15], 16)
        return h % cstride == 0 or (mn is not None and cid == mn)

    cmask = [bool(_csel(int(c))) for c in fines["ids"]]
    coarse = _nd_cand_set(
        [int(c) for c, s in zip(fines["ids"], cmask) if s],
        [v for v, s in zip(fines["embs"], cmask) if s],
    )

    # fine → nearest coarse (pick-1, cos DESC NULLS LAST, ccid ASC),
    # then the fines of each coarse cell as id-ascending index arrays
    fines_by_ccid: dict = {}
    if coarse["ids"].size:
        f2c = np.empty(fines["ids"].size, dtype=np.int64)
        for L in set(fines["lens"].tolist()):
            idx = np.nonzero(fines["lens"] == L)[0]
            if L < 0:
                sc = np.full((idx.size, coarse["ids"].size), -np.inf)
            else:
                X = (
                    np.stack([fines["embs"][i] for i in idx])
                    if idx.size
                    else np.empty((0, max(L, 0)))
                )
                # NULL-element (NaN) fines never reach the kernels —
                # all-NULL scores → deterministic lowest-coarse-id pick.
                # Their ids stay in the candidate arrays at -inf, so
                # they rank LAST (id-ascending among ties) exactly like
                # the oracle's NULLS LAST window — still pickable as
                # cells when a probed coarse set has fewer than nprobe
                # scoreable fines, identically on both engines.
                sc = np.full((idx.size, coarse["ids"].size), -np.inf)
                fin = ~np.isnan(X).any(axis=1)
                if fin.any():
                    sc[fin] = _nd_scores(X[fin], L, coarse)
            f2c[idx] = vecnp.top_ids_stable(sc, coarse["ids"], 1)[:, 0]
        for ccid in np.unique(f2c):
            fines_by_ccid[int(ccid)] = np.nonzero(f2c == ccid)[0]

    bc = spark.sparkContext.broadcast(
        {"coarse": coarse, "fines": fines, "by_ccid": fines_by_ccid}
    )
    cprobe_i, nprobe_i = int(cprobe), int(nprobe)

    def _assign(batches):
        cb = bc.value
        co, fi, by_ccid = cb["coarse"], cb["fines"], cb["by_ccid"]
        if not co["ids"].size:
            return
        gcache: dict = {}
        for pdf in batches:
            vids = pdf["vec_id"].to_numpy()
            embs = [
                None if v is None else np.asarray(v, dtype=np.float64)
                for v in pdf["embedding"]
            ]
            lens = np.array(
                [-1 if v is None else v.size for v in embs], dtype=np.int64
            )
            out_v, out_e, out_n, out_c = [], [], [], []
            for L in set(lens.tolist()):
                if L < 0:
                    continue  # NULL embedding → NULL norm → NULL pairs
                ridx = np.nonzero(lens == L)[0]
                X = np.stack([embs[i] for i in ridx])
                # NULL elements arrive as NaN (Arrow list<float> with a
                # null slot) — the JVM/DuckDB dot against such a vector
                # is NULL, and floor/int64 on NaN is platform-defined,
                # so mask BEFORE nrm_q exactly like zero-norm rows
                fin = ~np.isnan(X).any(axis=1)
                nr = np.zeros(X.shape[0], dtype=np.int64)
                if fin.any():
                    nr[fin] = vecnp.nrm_q(X[fin])
                keep = fin & (nr > 0)
                if not keep.any():
                    continue  # zero-norm/NULL-element vectors form only NULL pairs
                ridx, X, nr = ridx[keep], X[keep], nr[keep]
                pids = vecnp.top_ids_stable(
                    _nd_scores(X, L, co), co["ids"], cprobe_i
                )
                # candidates depend on the probed SET — sort so rows
                # sharing it score as one block
                pids = np.sort(pids, axis=1)
                uniq, inv = np.unique(pids, axis=0, return_inverse=True)
                inv = inv.ravel()  # shape differs across numpy versions
                for g in range(uniq.shape[0]):
                    rows = np.nonzero(inv == g)[0]
                    key = tuple(int(p) for p in uniq[g])
                    if key not in gcache:
                        if len(gcache) > 256:
                            gcache.clear()
                        cand = [by_ccid.get(p) for p in key]
                        cand = [c for c in cand if c is not None]
                        cidx = (
                            np.sort(np.concatenate(cand))
                            if cand
                            else np.empty(0, dtype=np.int64)
                        )
                        gcache[key] = (
                            cidx,
                            _nd_cand_set(
                                fi["ids"][cidx],
                                [fi["embs"][i] for i in cidx],
                            )
                            if cidx.size
                            else None,
                        )
                    cidx, cset = gcache[key]
                    if cset is None:
                        continue  # every probed coarse cell is empty
                    picks = vecnp.top_ids_stable(
                        _nd_scores(X[rows], L, cset), cset["ids"], nprobe_i
                    )
                    w = picks.shape[1]
                    if not w:
                        continue
                    rr = ridx[np.repeat(rows, w)]
                    out_v.append(vids[rr])
                    out_e.extend(pdf["embedding"].iloc[rr])
                    out_n.append(np.repeat(nr[rows], w))
                    out_c.append(picks.ravel())
            if out_v:
                yield pd.DataFrame(
                    {
                        "vec_id": np.concatenate(out_v),
                        "embedding": pd.Series(out_e, dtype=object),
                        "nrm": np.concatenate(out_n),
                        "cell": np.concatenate(out_c),
                    }
                )

    return e0.mapInPandas(
        _assign, "vec_id bigint, embedding array<float>, nrm bigint, cell bigint"
    )


# Hot-cell guard knobs (VERDICT r11 #7 / ADVICE r11): a cell past
# _ND_CELL_SPLIT rows is salt-split INSIDE the pair kernel into blocks
# of ~_ND_SALT_BLOCK, pairs forming only within a salt block. The
# split threshold sits 32× above the expected cell (target_cell·nprobe
# = 512) and >4× above the largest cell any measurement has produced
# (max_cell 3714 at 1000×, SCALE1000_r11_q22_anatomy.json), so every
# oracle-checked and probe-measured run is byte-identical to the
# unsplit kernel; only a pathological duplicate-heavy corpus engages
# it, trading cross-salt recall for bounded quadratic compute — the
# trade the design doc prescribes for SemDeDup-style dedup, where a
# giant near-identical cluster needs membership, not all O(D²) edges.
_ND_CELL_SPLIT = 16384
_ND_SALT_BLOCK = 8192


def _nd_block_pairs(vids, nrs, embs, lens, thr, out_a, out_b, out_s):
    """Exact within-block pair scoring (the pre-r12 kernel body):
    equal-length rows, id-ascending orientation, ≤32 MB scratch."""
    import numpy as np

    from ..functions import vecnp

    for L in set(lens.tolist()):
        idx = np.nonzero(lens == L)[0]
        if idx.size < 2:
            continue
        # vec_a < vec_b orientation via id-ascending row order
        idx = idx[np.argsort(vids[idx], kind="stable")]
        X = np.stack([embs[i] for i in idx])
        nr, vv = nrs[idx], vids[idx]
        B = X.shape[0]
        step = max(1, 4_000_000 // B)
        for i0 in range(0, B - 1, step):
            i1 = min(i0 + step, B - 1)
            # columns start past the block head: j > i for every
            # row in the block is enforced by the mask below
            dots = vecnp.dots_q(X[i0:i1], X[i0 + 1 :])
            sims = vecnp.sim_q9(dots, nr[i0:i1, None], nr[None, i0 + 1 :])
            jj = np.arange(i0 + 1, B)[None, :]
            mask = (jj > np.arange(i0, i1)[:, None]) & (sims >= thr)
            ai, bj = np.nonzero(mask)
            out_a.append(vv[i0 + ai])
            out_b.append(vv[i0 + 1 + bj])
            out_s.append(sims[ai, bj])


def _nd_pairs_kernel(pdf, thr, split_cap=_ND_CELL_SPLIT, salt_block=_ND_SALT_BLOCK):
    """One IVF cell → thresholded pairs. Module-level so the
    pathological-cell test can drive it without a SparkSession.

    Cells within ``split_cap`` rows run the exact kernel unchanged.
    A pathological cell (≫ expected 512 near-identical vectors
    collapsing into one cell) is salt-split on a stable portable hash
    (md5 of the decimal vec_id — session-independent, replay-stable):
    nsalt = ⌈n/salt_block⌉ blocks, pairs only within a block. This
    bounds the per-cell quadratic at ~n·salt_block dots and the
    scratch at the existing 32 MB chunking, accepts the documented
    cross-salt recall loss, and WARNS LOUDLY on the executor's stderr
    (ADVICE r11: an opaque worker OOM is the wrong failure mode) —
    the input materialization itself is the applyInPandas API floor,
    bounded by the corpus's duplicate multiplicity."""
    import hashlib
    import sys

    import numpy as np
    import pandas as pd

    vids = pdf["vec_id"].to_numpy()
    nrs = pdf["nrm"].to_numpy()
    embs = [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
    lens = np.array([v.size for v in embs], dtype=np.int64)
    out_a, out_b, out_s = [], [], []
    n = len(pdf)
    if n <= split_cap:
        _nd_block_pairs(vids, nrs, embs, lens, thr, out_a, out_b, out_s)
    else:
        nsalt = -(-n // salt_block)
        sys.stderr.write(
            f"[q22 hot-cell guard] cell of {n} rows > split cap "
            f"{split_cap}: salt-splitting into {nsalt} blocks of "
            f"~{salt_block}; cross-salt near-dup pairs in this cell "
            "are NOT emitted (documented recall trade; raise the cap "
            "or pre-dedup exact duplicates upstream)\n"
        )
        salts = np.array(
            [
                int(hashlib.md5(str(int(v)).encode()).hexdigest()[:15], 16)
                % nsalt
                for v in vids
            ],
            dtype=np.int64,
        )
        for s in range(nsalt):
            bi = np.nonzero(salts == s)[0]
            if bi.size < 2:
                continue
            _nd_block_pairs(
                vids[bi],
                nrs[bi],
                [embs[i] for i in bi],
                lens[bi],
                thr,
                out_a,
                out_b,
                out_s,
            )
    if not out_a:
        return pd.DataFrame(
            {
                "vec_a": np.empty(0, dtype=np.int64),
                "vec_b": np.empty(0, dtype=np.int64),
                "sim_q9": np.empty(0, dtype=np.int64),
            }
        )
    return pd.DataFrame(
        {
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "sim_q9": np.concatenate(out_s),
        }
    )


def embedding_neardup_ivf(
    spark: SparkSession,
    sf_dir: str,
    target_cell: int = _ND_TARGET_CELL,
    sim_threshold: int = NEARDUP_SIM_Q,
    nprobe: int = _ND_NPROBE,
    cprobe: int = _ND_CPROBE,
) -> DataFrame:
    """Within-cell pair scoring over :func:`_nd_assigned` — see that
    docstring for the full two-level vectorized design story, recall
    contract, and scale anatomy; :func:`_nd_pairs_kernel` for the
    r12 hot-cell salt-split guard."""
    assigned = _nd_assigned(
        spark,
        sf_dir,
        target_cell=target_cell,
        nprobe=nprobe,
        cprobe=cprobe,
    )
    thr = int(sim_threshold)

    def _pairs(pdf):
        return _nd_pairs_kernel(pdf, thr)

    return (
        assigned.groupBy("cell")
        .applyInPandas(_pairs, "vec_a bigint, vec_b bigint, sim_q9 bigint")
        .distinct()  # multi-probe can surface a pair in >1 shared cell
    )


@query(
    "q22_embedding_neardup",
    oracle=_sql_neardup_ivf(),
    tags=("similarity", "neardup"),
    # r7 verdict #8: in the driver-visible bench headline so the
    # scale-critical similarity family gets a round-over-round signal
    bench=True,
)
def q22_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs near-duplicate detection, IVF-blocked: pairs form
    only inside an IVF cell (cell count scales with n, expected cell
    size constant), then survive when cosine ≥ 0.35. Candidate volume
    is Θ(n · cell) — linear, the shape SemDeDup-style embedding dedup
    runs at corpus scale. See :func:`embedding_neardup_ivf`."""
    return embedding_neardup_ivf(spark, sf_dir)


def brute_force_neardup(
    spark: SparkSession, sf_dir: str, sim_threshold: int = NEARDUP_SIM_Q
) -> DataFrame:
    """Unblocked ground truth for the recall measurement (test-scale
    only — this is the all-pairs shape the blocked form exists to
    avoid; never registered)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("nrm", F.expr(dot_q_expr("embedding", "embedding")))
        .select("vec_id", "embedding", "nrm")
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("dot", F.expr(dot_q_expr("ea", "eb")))
        .select(
            "vec_a",
            "vec_b",
            F.expr(cosine_q_expr("dot", "na", "nb")).alias("sim_q9"),
        )
        .filter(F.col("sim_q9") >= sim_threshold)
    )


# --------------------------------------------------------------------------
# q49 — IVF coarse-centroid assignment (index-build / k-means E-step)
# --------------------------------------------------------------------------
_IVF_K = 8
_IVF_SCALE = 1_000_000  # same grid as quant_arr_expr


def _ivf_centroids() -> list[list[int]]:
    """Deterministic md5-derived centroids on the quantized grid
    (values in [-scale, scale]) — identical literals on both engines,
    like vecops.hyperplanes; a real deployment would train these with
    k-means and broadcast them the same way."""
    import hashlib

    cs = []
    for k in range(_IVF_K):
        row = []
        for i in range(64):
            h = hashlib.md5(f"ivf:{k}:{i}".encode()).digest()
            row.append(int.from_bytes(h[:4], "big") % (2 * _IVF_SCALE + 1) - _IVF_SCALE)
        cs.append(row)
    return cs


_IVF_CS = _ivf_centroids()


def _ivf_dist_exprs(one_based: bool) -> list[str]:
    """Per-centroid exact squared distance over the quantized array
    ``q`` — BIGINT-safe: |q_i - c_i| ≤ 2e6, squared 4e12, ×64 ≈ 2.6e14.
    Used by the DuckDB oracles, where the flat spelled-out form is
    harmless; the Spark builders use :func:`_ivf_dists_arr_expr`."""
    out = []
    for row in _IVF_CS:
        terms = " + ".join(
            f"(q[{i + 1 if one_based else i}] - ({c})) * "
            f"(q[{i + 1 if one_based else i}] - ({c}))"
            for i, c in enumerate(row)
        )
        out.append(f"({terms})")
    return out


def _ivf_dists_arr_expr() -> str:
    """Spark-side distances as ONE array expression: transform over a
    k×dim centroid literal with `q` referenced once per lambda.

    The alternative — k separate distance columns — explodes after
    Catalyst's CollapseProject inlines the 64-op quantization of `q`
    into every one of the k·dim terms and again into each argmin/CASE
    reference: a ~1.3 MB expression tree that falls out of codegen and
    costs ~2 ms/row interpreted. The array form keeps the tree k·dim
    literals + one aggregate, identical integer arithmetic."""
    cents = ", ".join(
        "array(" + ", ".join(str(c) for c in row) + ")" for row in _IVF_CS
    )
    return (
        f"transform(array({cents}), c -> "
        f"aggregate(zip_with(q, c, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (a, v) -> a + v))"
    )


def _ivf_dists_arr_guarded() -> str:
    """:func:`_ivf_dists_arr_expr` with a second (never-taken) textual
    reference to ``q``, so the producing projection is NOT collapsed.

    CollapseProject inlines a non-cheap producer referenced once —
    even into a lambda body. Here that inlined the 64-FLOOR
    quantization of ``q`` into the per-centroid lambda, re-evaluating
    it once PER CENTROID: 8 quantizations per row instead of 1
    (plans/r16/q49_ivf_assign_before.txt, node (3)). The ``size()``
    guard's only job is the second reference, which keeps ``q`` a
    materialized attribute computed once per row; it never changes the
    value. ``size(q)`` is at least 0 for a non-null ``q``; for a null
    ``q`` it is null, or -1 under ``spark.sql.legacy.sizeOfNull`` with
    ANSI mode off, so ``size(q) < -1`` is false or null and every row
    takes the else branch, byte-identical to the unguarded expression
    (r16; interleaved A/B in ``R16AB_q49_q44_q39.json``). A guard
    ``size(q) = -1`` would be true for a null ``q`` under the legacy
    setting and turn its distances to NULL, dropping the probe rows of
    a null-embedding query in q61."""
    return (
        f"IF(size(q) < -1, CAST(NULL AS ARRAY<BIGINT>), "
        f"{_ivf_dists_arr_expr()})"
    )


@query(
    "q49_ivf_assign",
    oracle=f"""
WITH e AS (
  SELECT vec_id, {sql_quant_arr('embedding')} AS q FROM embeddings
),
d AS (
  SELECT vec_id,
         {", ".join(f"{x} AS d{k}" for k, x in enumerate(_ivf_dist_exprs(True)))}
  FROM e
),
a AS (
  SELECT vec_id,
         least({", ".join(f"d{k}" for k in range(_IVF_K))}) AS dist_q,
         CASE {" ".join(f"WHEN d{k} = least({', '.join(f'd{j}' for j in range(_IVF_K))}) THEN {k}" for k in range(_IVF_K))} END AS cell
  FROM d
)
SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(dist_q AS BIGINT) AS dist_q
FROM a
""",
    tags=("similarity", "ivf"),
    bench=True,
)
def q49_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build / k-means E-step: assign every embedding to its
    nearest coarse centroid (exact integer squared distance on the
    quantized grid, argmin with lowest-id tiebreak). The cell id is
    the partition key an IVF ANN search probes — q21's sign-LSH
    buckets replaced by learned centroids.

    Scale shape: the centroid table is a compile-time literal (in a
    real deployment: a broadcast of k·dim floats), so this is one scan
    with per-row codegen arithmetic — no aggregation or join shuffle,
    linear at any corpus size.

    r16: the r15 scan widen is REVERTED and the quantization hoisted.
    The widen's repartition bought parallel per-row arithmetic but put
    a shuffle + an extra stage + a first-use ``.rdd`` plan conversion
    on the COLD path the driver scores (driver r15: cold 0.49 → 1.07 s,
    +66% normalized — VERDICT r15 #2). The actual per-row cost was
    inflated 8×-quantization (CollapseProject inlining, see
    :func:`_ivf_dists_arr_guarded`); with the hoist the single-task
    map is cheap enough that the exchange no longer pays for itself
    even warm (interleaved A/B r16). At production scale the scan
    parallelizes by itself and the plan is exactly this one."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(quant_arr_expr("embedding")).alias("q")
    )
    d = e.select("vec_id", F.expr(_ivf_dists_arr_guarded()).alias("ds"))
    return d.select(
        "vec_id",
        # array_position returns the FIRST index of the min — the same
        # lowest-id tiebreak as the oracle's ordered CASE
        F.expr("CAST(array_position(ds, array_min(ds)) - 1 AS BIGINT)").alias(
            "cell"
        ),
        F.expr("CAST(array_min(ds) AS BIGINT)").alias("dist_q"),
    )


# --------------------------------------------------------------------------
# q57 — int8 scalar quantization + reconstruction error
# --------------------------------------------------------------------------
_AMAX_SCALE = 1_000_000  # |x|max measured on the 1e-6 grid
_ERR_SCALE = 10 ** 12  # squared reconstruction error on the 1e-12 grid


@query(
    "q57_int8_quantize",
    oracle=f"""
WITH a AS (
  SELECT vec_id, embedding,
         CAST(list_max(list_transform(embedding, x ->
           CAST(floor(abs(CAST(x AS DOUBLE)) * {_AMAX_SCALE} + 0.5) AS BIGINT)
         )) AS BIGINT) AS amax_q6
  FROM embeddings
),
q AS (
  SELECT vec_id, embedding, amax_q6,
         list_transform(embedding, x ->
           CASE WHEN amax_q6 = 0 THEN CAST(0 AS BIGINT) ELSE
             greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
               CAST(floor(CAST(x AS DOUBLE)
                          * (127.0 / (CAST(amax_q6 AS DOUBLE) / {_AMAX_SCALE}))
                          + 0.5) AS BIGINT)))
           END) AS code
  FROM a
)
SELECT vec_id, amax_q6,
       md5(array_to_string(code, ',')) AS code_md5,
       CAST(list_sum(list_transform(range(1, len(embedding) + 1), i ->
         CASE WHEN amax_q6 = 0 THEN CAST(0 AS BIGINT) ELSE
           CAST(floor(
             (CAST(embedding[i] AS DOUBLE)
              - CAST(code[i] AS DOUBLE)
                / (127.0 / (CAST(amax_q6 AS DOUBLE) / {_AMAX_SCALE})))
             * (CAST(embedding[i] AS DOUBLE)
              - CAST(code[i] AS DOUBLE)
                / (127.0 / (CAST(amax_q6 AS DOUBLE) / {_AMAX_SCALE})))
             * {_ERR_SCALE} + 0.5) AS BIGINT)
         END)) AS BIGINT) AS sq_err_q12
FROM q
""",
    tags=("similarity", "quantization"),
)
def q57_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column — the
    4x memory/bandwidth reduction every large-scale ANN index applies
    before storage — plus per-vector reconstruction error: scale =
    127/max|x| (the max measured on an exact 1e-6 grid so both engines
    derive the identical double), code_i = clamp(round(x_i*scale)),
    and sum((x_i - code_i/scale)^2) on an exact 1e-12 grid. The code
    vector is exported as its md5 (portable array hash).

    Scale: pure per-row array arithmetic inside whole-stage codegen —
    zero shuffles, zero UDFs (plan-asserted no Exchange); at 100 TB
    this is a scan-bound map over every partition independently."""
    emb = load_table(spark, sf_dir, "embeddings")
    scale = f"(127.0d / (CAST(amax_q6 AS DOUBLE) / {_AMAX_SCALE}))"
    a = emb.select(
        "vec_id",
        "embedding",
        F.expr(
            f"CAST(array_max(transform(embedding, x -> "
            f"CAST(floor(abs(CAST(x AS DOUBLE)) * {_AMAX_SCALE} + 0.5d) AS BIGINT)"
            f")) AS BIGINT)"
        ).alias("amax_q6"),
    )
    q = a.withColumn(
        "code",
        F.expr(
            f"transform(embedding, x -> "
            f"CASE WHEN amax_q6 = 0 THEN CAST(0 AS BIGINT) ELSE "
            f"greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT), "
            f"CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5d) AS BIGINT))) END)"
        ),
    )
    recon = (
        f"CAST(embedding[i] AS DOUBLE) - CAST(code[i] AS DOUBLE) / {scale}"
    )
    return q.select(
        "vec_id",
        "amax_q6",
        F.expr("md5(concat_ws(',', transform(code, v -> CAST(v AS STRING))))").alias(
            "code_md5"
        ),
        F.expr(
            f"CAST(aggregate(sequence(0, size(embedding) - 1), CAST(0 AS BIGINT), "
            f"(acc, i) -> acc + CASE WHEN amax_q6 = 0 THEN CAST(0 AS BIGINT) ELSE "
            f"CAST(floor(({recon}) * ({recon}) * {_ERR_SCALE} + 0.5d) AS BIGINT) END"
            f") AS BIGINT)"
        ).alias("sq_err_q12"),
    )


# --------------------------------------------------------------------------
# q61 — IVF probe search (the ANN query path over q49's index)
# --------------------------------------------------------------------------
_IVF_NPROBE = 2


@query(
    "q61_ivf_probe_search",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding, {sql_quant_arr('embedding')} AS q, {_SQL_NORM} AS nrm
  FROM embeddings
),
d AS (
  SELECT vec_id, embedding, nrm,
         {", ".join(f"{x} AS d{k}" for k, x in enumerate(_ivf_dist_exprs(True)))}
  FROM e
),
corpus AS (
  SELECT vec_id, embedding, nrm,
         CASE {" ".join(f"WHEN d{k} = least({', '.join(f'd{j}' for j in range(_IVF_K))}) THEN {k}" for k in range(_IVF_K))} END AS cell
  FROM d
),
probes AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
         unnest([
           list_sort([{", ".join(f"[d{k}, {k}]" for k in range(_IVF_K))}])[1][2],
           list_sort([{", ".join(f"[d{k}, {k}]" for k in range(_IVF_K))}])[2][2]
         ]) AS cell
  FROM d WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {cosine_q_expr(sql_dot_q("p.qe", "c.embedding"), "p.qn", "c.nrm")} AS sim_q9
  FROM probes p JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY sim_q9 DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, sim_q9 FROM ranked WHERE rank <= {TOP_K}
""",
    tags=("similarity", "ivf", "ann"),
)
def q61_ivf_probe_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search: q49 assigns the corpus to coarse cells; each
    query probes its nprobe={_IVF_NPROBE} nearest cells and reranks
    only those cells' members by exact quantized cosine — the
    FAISS-style two-level search that replaces q20's full scan with
    ~nprobe/k of the corpus per query.

    Scale shape: cell assignment is the q49 zero-shuffle scan; the
    probe table (queries x nprobe rows) broadcasts, so the join never
    shuffles the corpus; the rerank window gets rank pushdown
    (WindowGroupLimit). Probe-cell selection sorts (distance, cell)
    pairs — exact integer lexicographic order, so both engines pick
    identical cells with deterministic ties."""
    e = _with_norm(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "embedding",
        "nrm",
        F.expr(quant_arr_expr("embedding")).alias("q"),
    )
    # guarded dists (r16): without the guard CollapseProject inlined
    # the 64-FLOOR quantization into the per-centroid lambda — 8
    # quantizations per row; see _ivf_dists_arr_guarded. q111
    # replicates this frame byte-for-byte for cache substitution.
    d = e.select(
        "vec_id", "embedding", "nrm", F.expr(_ivf_dists_arr_guarded()).alias("ds")
    )
    corpus = d.select(
        "vec_id",
        "embedding",
        "nrm",
        F.expr("CAST(array_position(ds, array_min(ds)) - 1 AS BIGINT)").alias(
            "cell"
        ),
    )

    probe_cells = F.expr(
        f"transform(slice(array_sort(zip_with(ds, sequence(0, {_IVF_K - 1}), "
        f"(d, c) -> struct(d AS d, CAST(c AS BIGINT) AS c))), 1, {_IVF_NPROBE}), "
        f"p -> p.c)"
    )
    probes = (
        d.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qn"),
            F.explode(probe_cells).alias("probe_cell"),
        )
    )
    scored = (
        corpus.join(
            F.broadcast(probes),
            # eqNullSafe (r16): a plain == lets InferFiltersFromConstraints
            # derive isnotnull(cell) and push it below corpus's projection,
            # re-inlining the WHOLE 8-centroid distance + 8x quantization
            # as a per-row pre-join Filter (plans/r16/
            # q61_ivf_probe_search_before.txt) — every corpus row paid the
            # assignment twice. <=> infers no not-null constraint and is
            # value-identical here: probe_cell comes out of an explode()
            # (null ds explodes to zero rows), so a null probe_cell row
            # cannot exist and null-matching never fires.
            (F.col("cell").eqNullSafe(F.col("probe_cell")))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("dot", F.expr(dot_q_expr("qe", "embedding")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(cosine_q_expr("dot", "qn", "nrm")).alias("sim_q9"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_q9").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "sim_q9")
    )


# --------------------------------------------------------------------------
# q66 — k-means update step (M-step over the IVF assignment)
# --------------------------------------------------------------------------
@query(
    "q66_kmeans_update",
    oracle=f"""
WITH e AS (
  SELECT vec_id, {sql_quant_arr('embedding')} AS q FROM embeddings
),
d AS (
  SELECT vec_id, q,
         {", ".join(f"{x} AS d{k}" for k, x in enumerate(_ivf_dist_exprs(True)))}
  FROM e
),
a AS (
  SELECT q,
         CASE {" ".join(f"WHEN d{k} = least({', '.join(f'd{j}' for j in range(_IVF_K))}) THEN {k}" for k in range(_IVF_K))} END AS cell
  FROM d
),
x AS (
  SELECT cell, i - 1 AS pos, q[i] AS v
  FROM a, unnest(range(1, 65)) AS t(i)
)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(pos AS BIGINT) AS pos,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS centroid_q6
FROM x
GROUP BY 1, 2
""",
    tags=("similarity", "ivf", "kmeans", "iterative"),
)
def q66_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means M-step: re-estimate every IVF centroid as the
    elementwise mean of its assigned vectors (q49 is the E-step; a
    training loop alternates the two until assignments stabilize —
    each iteration is this same bounded-shuffle job).

    The update stays in LONG form — (cell, pos) keyed rows, never a
    per-cell array aggregate — so the shuffle is fine-grained
    (k x dim groups, each a scalar sum/count with map-side partials)
    and no executor ever holds collect_list state. The mean floors
    through an identical IEEE divide on both engines; sums stay exact
    BIGINTs on the 1e-6 grid."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(quant_arr_expr("embedding")).alias("q")
    )
    d = e.select("vec_id", "q", F.expr(_ivf_dists_arr_expr()).alias("ds"))
    a = d.select(
        "q",
        F.expr("CAST(array_position(ds, array_min(ds)) - 1 AS BIGINT)").alias(
            "cell"
        ),
    )
    x = a.select("cell", F.posexplode("q").alias("pos", "v"))
    return (
        x.groupBy("cell", "pos")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum("v").alias("s"))
        .select(
            "cell",
            F.col("pos").cast("long").alias("pos"),
            F.col("n_members").cast("long").alias("n_members"),
            F.expr("CAST(floor(CAST(s AS DOUBLE) / n_members) AS BIGINT)").alias(
                "centroid_q6"
            ),
        )
    )


# --------------------------------------------------------------------------
# q76 — sign random projection (Johnson–Lindenstrauss dim reduction)
# --------------------------------------------------------------------------
_RP_PLANES = 16
_RP_SCALE = 1_000_000  # per-element quantization grid


def _rp_rows() -> list[tuple[int, list[int]]]:
    from ..functions.vecops import DIM, hyperplanes

    return list(enumerate(hyperplanes(_RP_PLANES, DIM)))


def _rp_oracle() -> str:
    from ..functions.vecops import DIM

    vals = ", ".join(
        f"({j}, [{', '.join(str(c) for c in row)}])" for j, row in _rp_rows()
    )
    q = f"CAST(floor(CAST(embedding[i] AS DOUBLE) * {_RP_SCALE} + 0.5) AS BIGINT)"
    return f"""
WITH planes(j, c) AS (VALUES {vals})
SELECT e.vec_id,
       CAST(e.label AS BIGINT) AS label,
       CAST(p.j AS BIGINT) AS j,
       CAST(list_sum(list_transform(range(1, {DIM + 1}),
            i -> CAST(p.c[i] AS BIGINT) * {q})) AS BIGINT) AS comp_q
FROM embeddings e, planes p
"""


@query(
    "q76_random_projection",
    oracle=_rp_oracle(),
    tags=("similarity", "dimreduce", "map-only"),
)
def q76_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection: every 64-d
    embedding is projected onto {_RP_PLANES} deterministic ±1
    hyperplanes (vecops.hyperplanes — md5-derived compile-time
    literals), emitted long-form as (vec_id, j, comp_q) on an exact
    1e-6 integer grid — the dimensionality-reduction front end an
    embedding pipeline runs before clustering or ANN indexing at
    100 TB, cutting vector bytes 4x while approximately preserving
    pairwise distances (the JL lemma).

    Scale: pure map — each row expands to a constant {_RP_PLANES}
    projections computed by zip_with/aggregate inside whole-stage
    codegen; zero shuffle, zero Python (plan-asserted no Exchange).
    Elementwise quantization before the signed sum makes the result
    order-independent and bit-equal across engines."""
    from ..functions.vecops import DIM  # noqa: F401 (doc parity)

    emb = load_table(spark, sf_dir, "embeddings")
    qterm = f"CAST(floor(CAST(x AS DOUBLE) * {_RP_SCALE} + 0.5d) AS BIGINT)"
    projs = []
    for j, row in _rp_rows():
        carr = f"array({', '.join(str(c) for c in row)})"
        comp = (
            f"aggregate(zip_with(embedding, {carr}, (x, c) -> "
            f"CAST(c AS BIGINT) * {qterm}), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        projs.append(
            F.struct(
                F.lit(j).cast("long").alias("j"),
                F.expr(comp).alias("comp_q"),
            )
        )
    return emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.explode(F.array(*projs)).alias("p"),
    ).select("vec_id", "label", F.col("p.j").alias("j"), F.col("p.comp_q").alias("comp_q"))


# --------------------------------------------------------------------------
# q82 — product quantization (PQ) code assignment
# --------------------------------------------------------------------------
_PQ_SUBS = 8  # subspaces of 8 dims each
_PQ_SUBDIM = 8
_PQ_K = 16  # centroids per subspace
_PQ_GRID = 1_000_000  # element quantization grid (q6)


def _pq_centroid(j: int, k: int, d: int) -> int:
    """Deterministic centroid coordinate on the q6 grid in
    [-0.5, 0.5] — md5-derived literal, no RNG (same scheme as
    vecops.hyperplanes)."""
    import hashlib

    v = int.from_bytes(hashlib.md5(f"pq:{j}:{k}:{d}".encode()).digest()[:3], "big")
    return (v % (_PQ_GRID + 1)) - _PQ_GRID // 2


@query(
    "q82_pq_codes",
    oracle=f"""
WITH cents(j, k, c) AS (VALUES {", ".join(
        f"({j}, {k}, [{', '.join(str(_pq_centroid(j, k, d)) for d in range(_PQ_SUBDIM))}])"
        for j in range(_PQ_SUBS) for k in range(_PQ_K)
    )}),
q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_PQ_GRID} + 0.5) AS BIGINT)) AS xq
  FROM embeddings
),
dists AS (
  SELECT q.vec_id, cents.j, cents.k,
         CAST(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
           d -> (q.xq[cents.j * {_PQ_SUBDIM} + d] - cents.c[d])
              * (q.xq[cents.j * {_PQ_SUBDIM} + d] - cents.c[d])))
           AS BIGINT) AS dist_q
  FROM q, cents
),
best AS (
  SELECT vec_id, j,
         min(dist_q) AS dist_q
  FROM dists GROUP BY 1, 2
)
SELECT b.vec_id,
       CAST(b.j AS BIGINT) AS subspace,
       CAST(min(d.k) AS BIGINT) AS code,
       b.dist_q
FROM best b
JOIN dists d ON d.vec_id = b.vec_id AND d.j = b.j AND d.dist_q = b.dist_q
GROUP BY b.vec_id, b.j, b.dist_q
""",
    tags=("similarity", "pq", "map-only"),
)
def q82_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each 64-d embedding splits into
    {_PQ_SUBS} subvectors of {_PQ_SUBDIM} dims, each assigned to the
    nearest of {_PQ_K} deterministic (md5-derived) sub-centroids —
    compressing a vector to {_PQ_SUBS} 4-bit codes. Combined with
    q49/q61's IVF this is the IVF-PQ index layout (Jégou et al.) that
    makes billion-vector ANN feasible: the PQ code table is ~100x
    smaller than raw floats and distance evaluation becomes table
    lookups.

    Scale: pure map — the centroid tables are compile-time literals
    constant-folded by Catalyst; per row, {_PQ_SUBS}x{_PQ_K} exact
    integer squared distances and an argmin, all in whole-stage
    codegen with zero shuffle (plan-asserted no Exchange; ties broken
    toward the lowest code id identically in both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {_PQ_GRID} + 0.5d) AS BIGINT))"
        ).alias("xq"),
    )
    assigns = []
    for j in range(_PQ_SUBS):
        cents = ", ".join(
            f"array({', '.join(f'{_pq_centroid(j, k, d)}L' for d in range(_PQ_SUBDIM))})"
            for k in range(_PQ_K)
        )
        # struct comparison orders by (dist_q, code): lowest distance,
        # ties toward the lowest code id — same as the oracle's min(k)
        best = (
            f"array_min(transform(array({cents}), (c, k) -> struct("
            f"aggregate(zip_with(slice(xq, {j * _PQ_SUBDIM + 1}, {_PQ_SUBDIM}), c, "
            f"(x, cc) -> (x - cc) * (x - cc)), 0L, (a, v) -> a + v) AS dist_q, "
            f"CAST(k AS BIGINT) AS code)))"
        )
        # ONE evaluation per subspace (r16): referencing `{best}.code`
        # and `{best}.dist_q` as two separate expressions evaluated the
        # whole 16-centroid argmin TWICE per row per subspace; carrying
        # the argmin struct through the explode and field-accessing the
        # exploded attribute is a per-row struct lookup instead.
        assigns.append(
            F.struct(
                F.lit(j).cast("long").alias("subspace"),
                F.expr(best).alias("bc"),
            )
        )
    return q.select(
        "vec_id", F.explode(F.array(*assigns)).alias("a")
    ).select(
        "vec_id",
        "a.subspace",
        F.col("a.bc.code").alias("code"),
        F.col("a.bc.dist_q").alias("dist_q"),
    )


# --------------------------------------------------------------------------
# q83 — PQ asymmetric-distance (ADC) top-k search over q82's codes
# --------------------------------------------------------------------------
_ADC_TOPK = 3


def _pq_cents_values() -> str:
    """DuckDB VALUES list of all (j, k, coords) PQ centroids."""
    return ", ".join(
        f"({j}, {k}, [{', '.join(str(_pq_centroid(j, k, d)) for d in range(_PQ_SUBDIM))}])"
        for j in range(_PQ_SUBS)
        for k in range(_PQ_K)
    )


@query(
    "q83_pq_adc_search",
    oracle=f"""
WITH cents(j, k, c) AS (VALUES {{cents}}),
q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_PQ_GRID} + 0.5) AS BIGINT)) AS xq
  FROM embeddings
),
dists AS (
  SELECT q.vec_id, cents.j, cents.k,
         CAST(list_sum(list_transform(range(1, {_PQ_SUBDIM + 1}),
           d -> (q.xq[cents.j * {_PQ_SUBDIM} + d] - cents.c[d])
              * (q.xq[cents.j * {_PQ_SUBDIM} + d] - cents.c[d])))
           AS BIGINT) AS dist_q
  FROM q, cents
),
best AS (SELECT vec_id, j, min(dist_q) AS dist_q FROM dists GROUP BY 1, 2),
codes AS (
  SELECT b.vec_id, b.j, CAST(min(d.k) AS BIGINT) AS code
  FROM best b
  JOIN dists d ON d.vec_id = b.vec_id AND d.j = b.j AND d.dist_q = b.dist_q
  GROUP BY b.vec_id, b.j
),
lut AS (
  SELECT vec_id AS query_id, j, k, dist_q FROM dists WHERE vec_id < {N_QUERIES}
),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id,
         CAST(sum(l.dist_q) AS BIGINT) AS adc_q
  FROM codes c
  JOIN lut l ON l.j = c.j AND l.k = c.code AND c.vec_id <> l.query_id
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, adc_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_q, neighbor_id) AS rnk
  FROM adc
)
SELECT query_id, neighbor_id, adc_q, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_ADC_TOPK}
""".replace("{cents}", _pq_cents_values()),
    tags=("similarity", "pq", "ann"),
)
def q83_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ query path: asymmetric distance computation. Each query
    vector builds a {_PQ_SUBS}x{_PQ_K} lookup table of exact squared
    distances to every sub-centroid; a database vector's approximate
    distance is then the SUM of {_PQ_SUBS} table lookups indexed by
    its PQ codes (q82) — no float math ever touches the compressed
    corpus. Top-{_ADC_TOPK} per query, ties toward the lower id.

    Scale (r15 restructure): the LUT broadcasts as ONE row per query
    holding a flat {_PQ_SUBS}×{_PQ_K}-entry distance ARRAY (ordered
    (j, k), so entry j·{_PQ_K}+k), and each database vector carries
    its {_PQ_SUBS} codes as an array — the ADC sum is then
    {_PQ_SUBS} element_at lookups per (vector, query) inside
    whole-stage codegen. The before-plan instead EXPLODED the code
    table {_PQ_SUBS}× into a broadcast hash join and re-aggregated
    (query, vec) partial sums through a corpus×queries shuffle; both
    that shuffle and the explode are gone, leaving the top-k window
    (WindowGroupLimit prunes to {_ADC_TOPK} per query map-side)
    as the only exchange. The broadcast nested-loop join has
    constant fan-out = |queries| — the q20/q90 brute-force shape.
    This is the IVF-PQ scan kernel (Jégou et al.) expressed in
    Catalyst operators."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the per-vector code ARRAY, map-only — the same argmin
    # expressions q82 uses, kept unexploded so no re-grouping shuffle
    # is ever needed (codes here == q82's codes by construction)
    xq_expr = (
        f"transform(embedding, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) * {_PQ_GRID} + 0.5d) AS BIGINT))"
    )
    bests = []
    for j in range(_PQ_SUBS):
        cents = ", ".join(
            f"array({', '.join(f'{_pq_centroid(j, k, d)}L' for d in range(_PQ_SUBDIM))})"
            for k in range(_PQ_K)
        )
        bests.append(
            f"array_min(transform(array({cents}), (c, k) -> struct("
            f"aggregate(zip_with(slice(xq, {j * _PQ_SUBDIM + 1}, {_PQ_SUBDIM}), c, "
            f"(x, cc) -> (x - cc) * (x - cc)), 0L, (a, v) -> a + v) AS dist_q, "
            f"CAST(k AS BIGINT) AS code))).code"
        )
    codes_arr = emb.select(
        "vec_id", F.expr(xq_expr).alias("xq")
    ).select("vec_id", F.expr(f"array({', '.join(bests)})").alias("cv"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {_PQ_GRID} + 0.5d) AS BIGINT))"
        ).alias("xq"),
    )
    luts = []
    for j in range(_PQ_SUBS):
        cents = ", ".join(
            f"array({', '.join(f'{_pq_centroid(j, k, d)}L' for d in range(_PQ_SUBDIM))})"
            for k in range(_PQ_K)
        )
        luts.append(
            f"transform(array({cents}), (c, k) -> "
            f"aggregate(zip_with(slice(xq, {j * _PQ_SUBDIM + 1}, {_PQ_SUBDIM}), c, "
            f"(x, cc) -> (x - cc) * (x - cc)), 0L, (a, v) -> a + v))"
        )
    lut = q.select(
        "query_id",
        F.expr(f"flatten(array({', '.join(luts)}))").alias("dqs"),
    )
    adc_expr = " + ".join(
        f"element_at(dqs, {j * _PQ_K} + CAST(element_at(cv, {j + 1}) AS INT) + 1)"
        for j in range(_PQ_SUBS)
    )
    adc = (
        codes_arr.join(
            F.broadcast(lut), F.col("vec_id") != F.col("query_id")
        )
        .select(
            "query_id",
            "vec_id",
            F.expr(f"CAST({adc_expr} AS BIGINT)").alias("adc_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_q").asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _ADC_TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_q",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# --------------------------------------------------------------------------
# q90 — Matryoshka truncation quality: prefix-dim recall against full-dim
# --------------------------------------------------------------------------
_MRL_DIM = 16  # prefix dims kept after truncation (64 -> 16 = 4x cheaper)
_MRL_K = 10
_MRL_SCALE = 1_000_000


@query(
    "q90_matryoshka_recall",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         {sql_dot_q('embedding', 'embedding')} AS nrm,
         {sql_dot_q('embedding', 'embedding', _MRL_DIM)} AS nrm_p
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, nrm_p AS qn_p
      FROM e WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {cosine_q_expr(sql_dot_q("q.qe", "c.embedding"), "q.qn", "c.nrm")} AS sim_full,
         {cosine_q_expr(sql_dot_q("q.qe", "c.embedding", _MRL_DIM), "q.qn_p", "c.nrm_p")} AS sim_pre
  FROM q JOIN e c ON c.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
             ORDER BY sim_full DESC, neighbor_id ASC) AS rank_full,
         row_number() OVER (PARTITION BY query_id
             ORDER BY sim_pre DESC, neighbor_id ASC) AS rank_pre
  FROM scored
)
SELECT query_id,
       CAST(sum(CASE WHEN rank_full <= {_MRL_K} AND rank_pre <= {_MRL_K}
            THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(sum(CASE WHEN rank_full <= {_MRL_K} AND rank_pre <= {_MRL_K}
            THEN 1 ELSE 0 END) * {_MRL_SCALE} // {_MRL_K} AS BIGINT) AS recall_q6
FROM ranked GROUP BY 1
""",
    tags=("similarity", "matryoshka", "eval"),
)
def q90_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-truncation quality: recall@10 of a 16-dim prefix
    (Matryoshka-style truncation, 4x cheaper distance math) against the
    full 64-dim exact ranking, per query vector — the measurement that
    decides whether an index can store truncated vectors and rerank
    with full precision only for finalists.

    One corpus scan computes BOTH similarities (full and prefix dots
    share the broadcast query row), then two rank windows over the
    same (query-keyed) partition and a count of rank-intersection —
    no self-join of two top-k results. Scale: identical shape to q20's
    baseline (broadcast queries, map-only scan, WindowGroupLimit-
    friendly windows); the prefix dot is a 16-wide codegen reduce."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("nrm", F.expr(dot_q_expr("embedding", "embedding")))
        .withColumn(
            "nrm_p",
            F.expr(
                dot_q_expr(
                    f"slice(embedding, 1, {_MRL_DIM})",
                    f"slice(embedding, 1, {_MRL_DIM})",
                )
            ),
        )
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("nrm_p").alias("qn_p"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("dot_f", F.expr(dot_q_expr("qe", "embedding")))
        .withColumn(
            "dot_p",
            F.expr(
                dot_q_expr(
                    f"slice(qe, 1, {_MRL_DIM})", f"slice(embedding, 1, {_MRL_DIM})"
                )
            ),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(cosine_q_expr("dot_f", "qn", "nrm")).alias("sim_full"),
            F.expr(cosine_q_expr("dot_p", "qn_p", "nrm_p")).alias("sim_pre"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.col("sim_full").desc(), F.col("neighbor_id").asc()
    )
    w_pre = Window.partitionBy("query_id").orderBy(
        F.col("sim_pre").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank_full", F.row_number().over(w_full))
        .withColumn("rank_pre", F.row_number().over(w_pre))
        .groupBy("query_id")
        .agg(
            F.sum(
                F.expr(f"CAST(rank_full <= {_MRL_K} AND rank_pre <= {_MRL_K} AS BIGINT)")
            )
            .cast("long")
            .alias("n_overlap"),
        )
        .withColumn(
            "recall_q6",
            F.expr(f"CAST(n_overlap * {_MRL_SCALE} DIV {_MRL_K} AS BIGINT)"),
        )
    )


# --------------------------------------------------------------------------
# q111 — IVF recall against the exact baseline (the ANN quality gate)
# --------------------------------------------------------------------------
@query(
    "q111_ivf_recall",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding, {_SQL_NORM} AS nrm,
                  {sql_quant_arr('embedding')} AS q
           FROM embeddings),
d AS (
  SELECT vec_id, embedding, nrm,
         {", ".join(f"{x} AS d{k}" for k, x in enumerate(_ivf_dist_exprs(True)))}
  FROM e
),
a AS (
  SELECT vec_id, embedding, nrm,
         CASE {" ".join(f"WHEN d{k} = least({', '.join(f'd{j}' for j in range(_IVF_K))}) THEN {k}" for k in range(_IVF_K))} END AS cell,
         [{", ".join(f"d{k}" for k in range(_IVF_K))}] AS ds
  FROM d
),
qv AS (
  SELECT vec_id AS query_id, embedding AS qe, nrm AS qn, ds
  FROM a WHERE vec_id < {N_QUERIES}
),
probes AS (
  SELECT query_id, qe, qn, unnest(list_transform(list_slice(
           list_sort(list_transform(range(1, {_IVF_K + 1}),
             i -> {{'d': ds[i], 'c': i - 1}})), 1, {_IVF_NPROBE}),
           p -> p.c)) AS probe_cell
  FROM qv
),
ivf AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY p.query_id ORDER BY
           {cosine_q_expr(sql_dot_q("p.qe", "c.embedding"), "p.qn", "c.nrm")} DESC,
           c.vec_id ASC) AS rnk
  FROM probes p JOIN a c ON c.cell = p.probe_cell AND c.vec_id <> p.query_id
),
exact AS (
  SELECT q2.query_id, c.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY q2.query_id ORDER BY
           {cosine_q_expr(sql_dot_q("q2.qe", "c.embedding"), "q2.qn", "c.nrm")} DESC,
           c.vec_id ASC) AS rnk
  FROM qv q2 JOIN e c ON c.vec_id <> q2.query_id
)
SELECT x.query_id,
       CAST(count(i.neighbor_id) AS BIGINT) AS n_found,
       CAST(count(i.neighbor_id) * 1000000 // {TOP_K} AS BIGINT) AS recall_q6
FROM (SELECT * FROM exact WHERE rnk <= {TOP_K}) x
LEFT JOIN (SELECT * FROM ivf WHERE rnk <= {TOP_K}) i
  ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
GROUP BY 1
""",
    tags=("similarity", "ivf", "eval"),
)
def q111_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN quality gate: recall@{TOP_K} of the IVF probe search
    (q61, nprobe={_IVF_NPROBE} of {_IVF_K} cells) against the exact
    brute-force ranking (q20) per query — the number that tells you
    whether the index's speedup is paid for with missed neighbors,
    and the companion to q90's truncation recall (index error vs
    representation error).

    Scale: reuses both operators' plans as-is (broadcast query sides,
    bucket-pruned rerank vs full scan) and aligns the two top-k sets
    with a pair-keyed left join from the exact side — recall counts
    misses, so the exact ranking is the spine.

    r15 (guide §5.3/§2.4): the two legs independently re-derived the
    same embeddings subtrees — q20's leg scans corpus+norm twice
    (corpus side + broadcast query side) and q61's leg computes the
    quantize+{_IVF_K}-distance pass twice (cell assignment + probe
    selection) — 8 parquet scans in the before-plan. Persisting the
    shared base (scan+norm) and the distance frame HERE, with plans
    byte-matching the legs' internal subtrees, lets Spark's
    CacheManager substitute the cached build into both legs without
    touching either pinned operator (6 InMemoryTableScan nodes in the
    after-plan). Interleaved 4-round A/Bs at sf0.1 (Q111AB_r15.json):
    steady-state warm 1.073 → 0.468 s (−56%, non-overlapping bands;
    cold 1.20 → 0.97 including the cache build); rebuild-per-run
    protocol 2.448 → 1.295 s (−47%, new < old pairwise every round).
    At 100 TB the persist trades one extra corpus
    pass of storage (MEMORY_AND_DISK default) for two eliminated
    corpus passes plus a duplicated distance computation — and this
    eval-gate query already needs the full corpus resident twice for
    its exact leg.

    Caller contract (ADVICE r15 / r16 hygiene): the persists outlive
    this query in a shared session and will substitute into later
    builds of q20/q61 there; consumers composing multiple queries must
    call ``plans.release_caches()`` (or ``clearCache``) after the
    action — bench.py's per-query clearCache already does."""
    e_shared = _with_norm(load_table(spark, sf_dir, "embeddings")).transform(persist_tracked)
    d_shared = (
        e_shared.select(
            "vec_id",
            "embedding",
            "nrm",
            F.expr(quant_arr_expr("embedding")).alias("q"),
        )
        .select(
            # byte-matches q61's guarded `d` frame (cache substitution)
            "vec_id", "embedding", "nrm", F.expr(_ivf_dists_arr_guarded()).alias("ds")
        )
        .transform(persist_tracked)
    )
    ivf = q61_ivf_probe_search(spark, sf_dir).filter(F.col("rank") <= TOP_K)
    exact = q20_knn_bruteforce(spark, sf_dir).filter(F.col("rank") <= TOP_K)
    hits = exact.select("query_id", "neighbor_id").join(
        ivf.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_found"),
    ).withColumn(
        "recall_q6", F.expr(f"CAST(n_found * 1000000 DIV {TOP_K} AS BIGINT)")
    )
