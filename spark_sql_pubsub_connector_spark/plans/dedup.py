"""Deduplication operators (SURVEY.md §2.3 — driver-mandated extension
surface; absent from the reference, which delegates all relational work
to Spark, SURVEY.md §2.1 closing note).

Four tiers over the ``documents`` table, each a deterministic
DataFrame program with a DuckDB oracle twin:

  q16  exact dedup        — md5 fingerprint groupBy
  q17  MinHash + LSH      — shingle → 8 minhashes → 4 bands → bucket
                            self-join → candidate pairs
  q18  SimHash            — 32-bit bit-majority fingerprint per doc
  q19  n-gram Jaccard     — LSH candidates verified with exact Jaccard

Scale design (100 TB):
  - q16 is a hash aggregate: partial aggregation collapses duplicates
    map-side; the shuffle carries one row per distinct fingerprint.
  - q17/q19 never form the quadratic pair space — candidate pairs come
    from a self-join on (band, band_hash), i.e. a shuffle keyed by
    bucket where each group is tiny; this is the standard LSH
    band-bucket join and the only scalable near-dup path.
  - q18 is explode→groupBy(doc_id): linear, partial-agg friendly; the
    simhash band prefix (sh16) is the blocking key for Hamming-ball
    candidate generation at scale.
  - Everything is JVM built-ins inside whole-stage codegen (md5,
    transform, array_min) — no Python UDFs.

Cross-engine notes: md5 lowercase hex is the only portable hash; the
lexicographic min of equal-width hex strings equals the numeric min of
the 128-bit values (functions/textops.py docstring).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.textops import (
    hex_prefix_int,
    md5_str,
    shingles,
    sql_hex_prefix_int,
    sql_shingles,
    sql_tokens,
    tokens,
)
from .caching import persist_tracked
from .registry import query
from .tables import load_table

N_HASHES = 8
N_BANDS = 4  # rows-per-band r = 2; P(candidate) = 1 - (1 - j^2)^4

# Universal-hash MinHash family over p = 2^31-1: one md5 per shingle
# (the expensive part) is folded to h ∈ [0, p), then the 8 independent
# hashes are g_j(h) = (a_j·h + b_j) mod p — pure integer arithmetic,
# 8× cheaper than 8 seeded md5 passes and exactly portable to DuckDB
# (products stay < 2^62). Coefficients are md5-derived compile-time
# literals (no RNG), like vecops.hyperplanes.
_MH_P = 2_147_483_647


def _mh_coeff(tag: str, j: int, lo: int, mod: int) -> int:
    import hashlib

    return lo + int.from_bytes(hashlib.md5(f"mh-{tag}:{j}".encode()).digest()[:8], "big") % mod


_MH_A = [_mh_coeff("a", j, 1, _MH_P - 1) for j in range(N_HASHES)]
_MH_B = [_mh_coeff("b", j, 0, _MH_P) for j in range(N_HASHES)]


# --------------------------------------------------------------------------
# q16 — exact dedup by content fingerprint
# --------------------------------------------------------------------------
@query(
    "q16_dedup_exact",
    oracle="""
SELECT md5(text)    AS fingerprint,
       min(doc_id)  AS keep_id,
       count(*)     AS n_copies
FROM documents
GROUP BY 1
""",
    tags=("dedup", "exact"),
)
def q16_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id as
    the canonical copy. Map-side partial agg means the shuffle carries
    ~one row per *distinct* document — at 100 TB with heavy duplication
    this is far cheaper than dropDuplicates on raw text."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.encode(F.col("text"), "UTF-8")).alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# shared MinHash machinery (Spark side + oracle-SQL generator)
# --------------------------------------------------------------------------
def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m0..m7): the 8 per-document MinHash values.

    shingle(3-word) → one md5 → 60-bit hex prefix mod p = base hash →
    minhash_j = min over shingles of (a_j·h + b_j) mod p.

    Deliberately NOT widened (r15): a widen here would hash-shuffle the
    documents table INCLUDING the text payload to parallelize the
    md5-per-shingle pass — guide §2.3's "shuffle keys and metadata
    instead of payloads" in reverse. The clean interleaved A/B
    (Q17ALIGN_AB_r15.json) read widen-only warm 0.98 s vs 0.35 s plain
    and cold 1.28 vs 1.05 s: the text shuffle costs more than the
    parallelized md5 buys at every phase, and at production scale the
    scan parallelizes by itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= 3)
    s = t.select("doc_id", shingles("w", 3).alias("sh"))
    hv = (
        "transform(sh, x -> CAST(conv(substr(md5(encode(x, 'utf-8')), 1, 15), 16, 10) "
        f"AS BIGINT) % {_MH_P})"
    )
    return s.select("doc_id", F.expr(hv).alias("hv")).select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(hv, v -> ({_MH_A[j]} * v + {_MH_B[j]}) % {_MH_P}))"
            ).alias(f"m{j}")
            for j in range(N_HASHES)
        ],
    )


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, h): one row per document per LSH band, with the
    band key h = m_{2b}·p + m_{2b+1} (exact BIGINT pairing, no second
    hash)."""
    m = _minhash_sigs(spark, sf_dir)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            (F.col(f"m{2 * b}") * _MH_P + F.col(f"m{2 * b + 1}")).alias("h"),
        )
        for b in range(N_BANDS)
    ]
    return m.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


def _sql_minhash_m() -> str:
    """DuckDB CTE chain up to ``m`` (doc_id, m0..m7), mirroring
    :func:`_minhash_sigs` (1-based lists)."""
    hex15 = sql_hex_prefix_int("md5(x)", 15)
    mins = ",\n       ".join(
        f"list_min(list_transform(hv, v -> ({_MH_A[j]} * v + {_MH_B[j]}) % {_MH_P})) AS m{j}"
        for j in range(N_HASHES)
    )
    return f"""
t AS (SELECT doc_id, {sql_tokens('text')} AS w FROM documents),
tt AS (SELECT doc_id, w FROM t WHERE len(w) >= 3),
s AS (SELECT doc_id, {sql_shingles('w', 3)} AS sh FROM tt),
hh AS (SELECT doc_id, list_transform(sh, x -> {hex15} % {_MH_P}) AS hv FROM s),
m AS (SELECT doc_id, {mins} FROM hh)"""


def _sql_minhash_bands() -> str:
    """DuckDB CTE chain mirroring :func:`_minhash_bands` (1-based)."""
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, m{2 * b} * {_MH_P} + m{2 * b + 1} AS h FROM m"
        for b in range(N_BANDS)
    )
    return f"""{_sql_minhash_m()},
b AS (
{bands}
)"""


# --------------------------------------------------------------------------
# q17 — MinHash + LSH candidate pairs
# --------------------------------------------------------------------------
# Defensive per-bucket membership cap. LSH buckets are small for true
# NEAR-dups, but a 100 TB corpus also contains pathological EXACT
# duplication (millions of byte-identical docs, shared license-header
# prefixes) that lands whole families in one (band, h) bucket — an
# unbounded collect_list there is an executor OOM and |bucket|² pair
# blow-up. Contract: exact dedup (q16/q88) runs upstream, so any
# bucket past the cap is residual pathology; an oversize bucket is
# routed out WHOLE (count-based pre-filter, same discipline as q109)
# and reported through the "q17_bucket_cap" observed metric instead
# of dying. CAP=64 is ~6× the largest bucket seen at sf0.1 (11), so
# test-scale results are byte-identical to the uncapped oracle.
_LSH_BUCKET_CAP = 64


@query(
    "q17_dedup_minhash_lsh",
    oracle=f"""
WITH {_sql_minhash_bands()}
SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
FROM b a
JOIN b b2 ON a.band = b2.band AND a.h = b2.h AND a.doc_id < b2.doc_id
""",
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def q17_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs: docs agreeing on any MinHash band.

    Pairs come from grouping by (band, band_hash) and exploding each
    bucket's member list — ONE pass over the expensive minhash subtree
    (a band-keyed self-join would execute it twice) and one shuffle
    keyed by bucket, never the O(n²) pair space. 8 hashes / 4 bands of
    2 gives P(candidate) = 1-(1-j²)⁴: ≈1 for true near-dups (j≥0.9),
    ≈4% noise at j=0.1. Bucket lists are small by construction for
    near-dups, and the count-based hot-bucket cap bounds both the
    collect_list state and the pair expansion against pathological
    exact-duplicate buckets: bucket sizes partial-aggregate map-side,
    the oversize key set (tiny by contract) broadcasts into a left
    join, and oversize buckets route out WHOLE — no per-bucket
    row_number sort, so a pathological million-member bucket never
    becomes a single-task external sort (the r4 verdict #3 / r5-staged
    form, proven output-identical at every oracle-checked scale by the
    retired twin test). Overflow is reported via the
    ``q17_bucket_cap`` observed metric (CollectMetrics node), not
    silently — see the cap comment above."""
    # Both the hot-bucket count and the pair path read the bands frame,
    # and the minhash subtree (md5 over every shingle) IS q17's cost —
    # without persist the count side re-executes it whole (+68 %
    # warm-bench, measured). Persisting shares ONE computation, the
    # same discipline q54 applies to its edge list; bands is (doc_id,
    # band, h) — a few percent of corpus bytes, MEMORY_AND_DISK, and
    # Spark's cache manager dedupes the entry across repeated builds
    # (q54/q68/q95/q101 all re-enter through this builder).
    # r15 note: repartitioning the persisted frame by (band, h) before
    # caching — so both downstream aggregations elide their exchanges —
    # was tried and REVERTED: the hot-bucket count partial-aggregates
    # map-side, so its exchange carries ~one row per distinct bucket
    # and the alignment shuffle moves MORE bytes than it saves; the
    # clean interleaved A/B (Q17ALIGN_AB_r15.json) read align+widen
    # warm 0.48 s vs 0.35 s for this plain persist, cold a wash.
    bands = _minhash_bands(spark, sf_dir).transform(persist_tracked)
    hot = (
        bands.groupBy("band", "h")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > _LSH_BUCKET_CAP)
    )
    capped = (
        bands.join(F.broadcast(hot), ["band", "h"], "left")
        # Column renamed dropped_members → routed_members in r7
        # (ADVICE r6): the r6 count-based cap swap changed the counter's
        # meaning from "members beyond the cap" to "ALL members of
        # oversize buckets, routed out whole"; the new name states the
        # new semantics instead of silently redefining the old one.
        .observe(
            "q17_bucket_cap",
            F.sum(F.col("bucket_n").isNotNull().cast("long")).alias(
                "routed_members"
            ),
        )
        .filter(F.col("bucket_n").isNull())
        .drop("bucket_n")
    )
    buckets = (
        capped.groupBy("band", "h")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair_expr = (
        "filter(flatten(transform(ds, a -> transform(ds, b -> struct(a AS doc_a, b AS doc_b)))), "
        "p -> p.doc_a < p.doc_b)"
    )
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# q18 — SimHash fingerprint (32-bit, token-level)
# --------------------------------------------------------------------------
def _sql_simhash(prefix: str = "") -> tuple[str, str]:
    """(weights_select, simhash_expr) for the DuckDB oracle.
    ``prefix`` renames the CTEs so the block can coexist with other
    shared CTE generators (e.g. the MinHash bands, which also use
    ``t``) inside one WITH clause."""
    h = sql_hex_prefix_int("md5(tok)", 8)
    weights = ",\n         ".join(
        f"sum(((h >> {b}) & 1) * 2 - 1) AS w{b}" for b in range(32)
    )
    simhash = " + ".join(
        f"(CASE WHEN w{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    return (
        f"""
{prefix}t AS (SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents),
{prefix}hh AS (SELECT doc_id, {h} AS h FROM {prefix}t),
{prefix}w AS (SELECT doc_id,
         {weights}
      FROM {prefix}hh GROUP BY doc_id)""",
        simhash,
    )


_W_CTE, _SIMHASH_EXPR = _sql_simhash()


@query(
    "q18_dedup_simhash",
    oracle=f"""
WITH {_W_CTE}
SELECT doc_id, {_SIMHASH_EXPR} AS simhash,
       ({_SIMHASH_EXPR}) >> 16 AS sh_band
FROM w
""",
    tags=("dedup", "simhash"),
)
def q18_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: per-token 32-bit hash, per-bit ±1 majority vote over
    the document, reassembled into a fingerprint. Near-identical docs
    differ in few bits (Hamming ball); ``sh_band`` (high 16 bits) is
    the blocking key a scale deployment joins on before Hamming
    verification.

    Shape: explode(tokens) → groupBy(doc_id) — linear in corpus size,
    map-side partial aggregation, no UDFs (conv/shiftright are JVM
    built-ins)."""
    docs = load_table(spark, sf_dir, "documents")
    # NOTE (r16): routing this explode through an explicit
    # (doc_id, tokens AS w) projection — to let q91 cache-share the
    # tokenize pass — was tried and REVERTED: the intermediate Project
    # does not collapse into Generate, and InferFiltersFromGenerate
    # pushes a size(w) > 0 filter below it that re-inlines the split,
    # tokenizing every row TWICE on q18's standalone path
    # (plans/r16/q18_dedup_simhash_{before,after}.txt).
    toks = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    h = hex_prefix_int(F.md5(F.encode(F.col("tok"), "UTF-8")), 8)
    hh = toks.select("doc_id", h.alias("h"))
    weights = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"w{b}")
        for b in range(32)
    ]
    w = hh.groupBy("doc_id").agg(*weights)
    simhash = None
    for b in range(32):
        term = F.when(F.col(f"w{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return w.select(
        "doc_id",
        simhash.alias("simhash"),
        F.shiftright(simhash, 16).alias("sh_band"),
    )


# --------------------------------------------------------------------------
# q19 — n-gram Jaccard verification of LSH candidates
# --------------------------------------------------------------------------
_JACCARD_THRESHOLD_Q6 = 200_000  # jaccard >= 0.2 on the 1e-6 grid


@query(
    "q19_dedup_ngram_jaccard",
    oracle=f"""
WITH {_sql_minhash_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM b a
  JOIN b b2 ON a.band = b2.band AND a.h = b2.h AND a.doc_id < b2.doc_id
),
sets AS (SELECT doc_id,
                list_distinct(list_transform(sh, x -> {sql_hex_prefix_int("md5(x)", 15)})) AS sd
         FROM s),
scored AS (
  SELECT doc_a, doc_b,
         CAST(floor(CAST(len(list_intersect(x.sd, y.sd)) AS DOUBLE)
                    / len(list_distinct(x.sd || y.sd)) * 1000000 + 0.5) AS BIGINT)
           AS jaccard_q6
  FROM cand
  JOIN sets x ON x.doc_id = doc_a
  JOIN sets y ON y.doc_id = doc_b
)
SELECT doc_a, doc_b, jaccard_q6
FROM scored
WHERE jaccard_q6 >= {_JACCARD_THRESHOLD_Q6}
""",
    tags=("dedup", "jaccard"),
)
def q19_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact 3-gram Jaccard →
    threshold. Only candidate pairs (bucket-join output) ever reach the
    quadratic-cost verification, so the plan scales as O(corpus +
    candidates), not O(n²). Jaccard is computed on distinct shingle
    sets with one double division, quantized to the 1e-6 grid.

    Payload discipline (r15, the q95/q109/q91 fix generalized): the
    two pair-keyed verify joins ship a shingle array per candidate
    pair, so the verify carries 60-bit md5-prefix keys (the minhash
    subtree's portable conversion), not raw 3-gram strings — ~3×
    lighter shuffle payload, hashed identically in the DuckDB oracle
    so Jaccard over the hashed distinct sets stays value-equal by
    construction."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= 3)
    # persisted (r15): feeds both verify-join sides; the plan is
    # byte-identical to q95/q101's sets, so the cache manager shares
    # one entry across the family
    sets = t.select("doc_id", shingles("w", 3).alias("sh")).select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sh, x -> "
            "CAST(conv(substr(md5(encode(x, 'utf-8')), 1, 15), 16, 10) AS BIGINT)))"
        ).alias("sd"),
    ).transform(persist_tracked)
    cand = q17_dedup_minhash_lsh(spark, sf_dir)
    x = sets.select(F.col("doc_id").alias("doc_a"), F.col("sd").alias("sda"))
    y = sets.select(F.col("doc_id").alias("doc_b"), F.col("sd").alias("sdb"))
    inter = F.size(F.array_intersect("sda", "sdb"))
    union = F.size(F.array_distinct(F.concat("sda", "sdb")))
    jq6 = F.floor(
        inter.cast("double") / union.cast("double") * 1_000_000 + F.lit(0.5)
    ).cast("long")
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", jq6.alias("jaccard_q6"))
        .filter(F.col("jaccard_q6") >= _JACCARD_THRESHOLD_Q6)
    )


# --------------------------------------------------------------------------
# q54 — transitive dedup clusters (connected components)
# --------------------------------------------------------------------------
@query(
    "q54_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_sql_minhash_bands()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM b a
  JOIN b b2 ON a.band = b2.band AND a.h = b2.h AND a.doc_id < b2.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, reach.lab FROM edges e JOIN reach ON reach.node = e.dst
)
SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS component_id
FROM reach
GROUP BY node
""",
    tags=("dedup", "graph", "iterative"),
)
def q54_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    MinHash-LSH candidate-pair graph (q17). Pairwise candidates alone
    under-merge — A~B and B~C puts A and C in the same duplicate
    cluster even when LSH never paired them directly — so cluster
    assignment (doc_id -> min doc_id of its component) is the operator
    an LLM-dedup pipeline actually keeps one document per.

    Distributed min-label propagation with pointer jumping:
    each round (1) takes the min label over each node's neighbors and
    itself (join edges->labels + groupBy-min: two fine-grained
    shuffles keyed by doc_id), then (2) contracts label chains by one
    hop (labels self-join: label := label(label)). The contraction
    step makes convergence O(log D) rounds in the component diameter
    D, not O(D) — the same doubling idea as the large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce").
    Convergence is detected from sum(label), which strictly decreases
    until fixpoint — a 1-row aggregate per round, no driver-side data.

    At 100 TB: every shuffle is keyed by doc_id/label (high
    cardinality, no skew funnel). Two r15 optimizations (guide §1.2,
    "the distributed algorithm" — measured 36.2 s → 5.4 s at sf0.1,
    results row-identical):

    1. **Iterate only over edge-endpoint nodes.** A document with no
       candidate pair can never change label, yet the old loop carried
       every (doc_id, doc_id) row through three shuffles per round —
       at sf0.1 that was 5,000 label rows iterated for 819 endpoints,
       and at 100 TB it would be the whole corpus iterated for the
       near-dup subgraph. Singletons are re-attached once at the end
       via a left join + coalesce(label, own id).

    2. **Truncate lineage every round** (``localCheckpoint``; lazy
       since r16 — the convergence-sum collect materializes it as the
       round's single job).
       The pointer-jumping self-join references the previous round's
       frame TWICE, so the logical plan doubled per round; Catalyst
       re-analyzes that unrolled tree on every action even though the
       data itself is cached, and the per-round wall grew 1.05 →
       1.80 → 3.87 → 14.45 s at sf0.1 — exponential planning on
       kilobytes of data. An eager local checkpoint materializes the
       round (the persist this replaces did that too) AND cuts the
       plan back to a leaf, making planning O(1) per round. On a real
       cluster localCheckpoint trades fault-tolerance for that
       truncation (an executor loss fails the query and it re-runs);
       the standard production variant is a reliable checkpoint to the
       job's shared filesystem at the same cadence — same plan shape,
       plus a small write (the iteration state is only the near-dup
       subgraph's nodes, point 1).

    The oracle is the same fixpoint via a recursive CTE (UNION-dedup
    transitive closure), feasible at oracle scale only.
    """
    pairs = q17_dedup_minhash_lsh(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    # the edge list joins into EVERY round: without persist each
    # iteration re-executes the whole minhash/LSH subtree (shingle →
    # 8 hashes → buckets → pair expansion) — at sf0.1 that alone was
    # ~1.3 s × rounds of pure recomputation
    edges = edges.transform(persist_tracked)
    # both edge directions are present, so src alone covers every node
    # that can ever receive a non-self label
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    # r16: the iteration state is the near-dup SUBGRAPH (819 nodes at
    # sf0.1), yet every round's shuffles planned at the session's full
    # shuffle-partition count — pure task-scheduling overhead on
    # kilobyte frames. The loop sizes its shuffles from the measured
    # endpoint count (one task per 100k endpoints, capped at the session
    # setting) — at 100 TB the subgraph is huge and p saturates at the
    # session value, so this is scale-adaptive, not a local constant.
    # The width rides on explicit repartition(p, key) calls, never on
    # the session conf, which a concurrent query on the same session
    # would see. The lazy checkpoint below keeps a frame's partitioning,
    # so each round shuffles only where its key changes. A double
    # pointer-jump per round was also tried: 7.77 s vs 5.03 s, REVERTED
    # (the extra self-join outweighs it; round count is driven by the
    # neighbor-min step and stayed at 4).
    n_endpoints = nodes.count()
    session_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    p = max(1, min(session_p, n_endpoints // 100_000 + 1))
    # the neighbor join's edge side never changes: partition it once
    by_dst = edges.repartition(p, "dst").transform(persist_tracked)
    lab = (
        nodes.repartition(p, "doc_id")
        .select("doc_id", F.col("doc_id").alias("component_id"))
        .localCheckpoint(eager=True)
    )
    # empty-graph case: sum over zero rows is NULL on both sides of
    # the comparison below, so the loop exits after one round
    prev_sum = lab.agg(F.sum("component_id")).collect()[0][0]
    while True:
        # (1) min over {self} ∪ neighbor labels, one groupBy-min
        nbr = by_dst.join(
            lab.withColumnRenamed("doc_id", "dst"), "dst"
        ).select(F.col("src").alias("doc_id"), "component_id")
        merged = (
            lab.unionByName(nbr)
            .repartition(p, "doc_id")
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id"))
        )
        # (2) pointer jumping: component_id := label(component_id);
        # every label IS some node's id, so the left join always hits
        jump = merged.select(
            F.col("doc_id").alias("component_id"),
            F.col("component_id").alias("next_id"),
        )
        # lazy checkpoint (r16): the convergence sum's collect is
        # the round's ONE job and materializes the checkpoint as a
        # side effect — eager=True ran a second, separate
        # materialization job per round for the same truncation
        new_lab = (
            merged.repartition(p, "component_id")
            .join(jump, "component_id", "left")
            .select("doc_id", F.coalesce("next_id", "component_id").alias("component_id"))
            .repartition(p, "doc_id")
            .localCheckpoint(eager=False)
        )
        new_sum = new_lab.agg(F.sum("component_id")).collect()[0][0]
        lab = new_lab
        if new_sum == prev_sum:  # labels only decrease; fixpoint reached
            break
        prev_sum = new_sum
    by_dst.unpersist()
    edges.unpersist()
    docs = load_table(spark, sf_dir, "documents")
    # re-attach the (vast) singleton majority: no edges → own label
    return docs.select("doc_id").join(lab, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
    )


# --------------------------------------------------------------------------
# q68 — dedup savings report (cluster stats over q54)
# --------------------------------------------------------------------------
@query(
    "q68_dedup_savings",
    oracle=f"""
WITH RECURSIVE {_sql_minhash_bands()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM b a
  JOIN b b2 ON a.band = b2.band AND a.h = b2.h AND a.doc_id < b2.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, reach.lab FROM edges e JOIN reach ON reach.node = e.dst
),
comp AS (
  SELECT node AS doc_id, min(lab) AS component_id FROM reach GROUP BY node
),
stats AS (
  SELECT c.component_id,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(d.n_chars) AS BIGINT) AS total_chars
  FROM comp c JOIN documents d USING (doc_id)
  GROUP BY 1
)
SELECT s.component_id, s.n_docs, s.total_chars,
       CAST(k.n_chars AS BIGINT) AS keep_chars,
       CAST(s.total_chars - k.n_chars AS BIGINT) AS saved_chars
FROM stats s JOIN documents k ON k.doc_id = s.component_id
""",
    tags=("dedup", "graph", "report"),
)
def q68_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup decision report: per near-dup cluster (q54), how many
    documents collapse into the kept representative and how many
    characters deduplication saves — the number a data-curation run
    actually reports. The representative IS the component id (min
    doc_id of the component), so its size joins back by key.

    Scale: q54's converged (doc_id, component_id) frame joins
    documents on doc_id (co-partitioned high-cardinality key), one
    component-keyed aggregate, then a keyed join for the keeper's
    size — all fine-grained shuffles."""
    comp = q54_dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    stats = (
        comp.join(docs, "doc_id")
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    keep = docs.select(
        F.col("doc_id").alias("component_id"),
        F.col("n_chars").cast("long").alias("keep_chars"),
    )
    return stats.join(keep, "component_id").select(
        "component_id",
        "n_docs",
        "total_chars",
        "keep_chars",
        (F.col("total_chars") - F.col("keep_chars")).cast("long").alias("saved_chars"),
    )


# --------------------------------------------------------------------------
# q69 — PageRank centrality over the near-dup graph (integer-exact)
# --------------------------------------------------------------------------
_PR_ITERS = 3
_PR_ONE = 1_000_000  # rank unit on the 1e-6 grid
_PR_BASE = 150_000  # (1 - d) on the grid, d = 0.85


def _sql_pr_iter(i: int) -> str:
    """One unrolled oracle PageRank step: shares are integer divisions
    of the previous rank by degree, the damping product is an integer
    DIV — bit-identical in any engine."""
    return f"""
s{i} AS (
  SELECT e.dst AS doc_id, p{i}.pr // dg.deg AS share
  FROM edges e
  JOIN dg ON dg.doc_id = e.src
  JOIN p{i} ON p{i}.doc_id = e.src
),
p{i + 1} AS (
  SELECT d.doc_id,
         {_PR_BASE} + (85 * COALESCE(m.s, 0)) // 100 AS pr
  FROM documents d
  LEFT JOIN (SELECT doc_id, CAST(sum(share) AS BIGINT) AS s
             FROM s{i} GROUP BY 1) m USING (doc_id)
)"""


@query(
    "q69_pagerank_centrality",
    oracle=f"""
WITH RECURSIVE {_sql_minhash_bands()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM b a
  JOIN b b2 ON a.band = b2.band AND a.h = b2.h AND a.doc_id < b2.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
dg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
p0 AS (SELECT doc_id, CAST({_PR_ONE} AS BIGINT) AS pr FROM documents),
{",".join(_sql_pr_iter(i) for i in range(_PR_ITERS))}
SELECT doc_id, CAST(pr AS BIGINT) AS rank_q6
FROM p{_PR_ITERS}
""",
    tags=("dedup", "graph", "iterative", "pagerank"),
)
def q69_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document centrality in the near-dup graph: {_PR_ITERS} PageRank
    iterations (d = 0.85) over q17's symmetric candidate-pair edges —
    the keep-priority signal dedup pipelines use when the cluster
    representative should be the most-connected member rather than the
    lowest id. Every step is integer arithmetic on the 1e-6 grid
    (share = pr DIV deg, damping = (85·Σ) DIV 100), so the unrolled
    oracle matches bit-for-bit with no cross-engine float drift —
    the same fixed-point discipline as the exact-sum helpers.

    Scale (r15 restructure, the q54 discipline): per iteration one
    edge→rank join keyed by src and one dst-keyed aggregate, both
    fine-grained. The loop-invariant edges⋈degree join is hoisted out
    and persisted ONCE (before, every iteration re-ran q17's bucket
    self-join twice — once for the edge list, once under the degree
    aggregate — 126 Exchanges in the before-plan). Rank state
    iterates only over edge-ENDPOINT nodes: shares flow exclusively
    between endpoints (every dst of a symmetric edge list is an
    endpoint), so a document with no candidate pair holds the
    constant rank {_PR_BASE} from iteration 1 on and is re-attached
    once at the end — at 100 TB the iteration touches the near-dup
    subgraph, not the corpus."""
    pairs = q17_dedup_minhash_lsh(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    edeg = edges.join(deg, "src").transform(persist_tracked)
    # endpoint nodes all have >=1 incoming edge (the edge list is
    # symmetric), so each iteration's dst-keyed aggregate covers
    # exactly the endpoint set and no per-iteration base-rank join is
    # needed; COALESCE on s is likewise unnecessary
    pr = (
        edeg.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(_PR_ONE).cast("long").alias("pr"))
    )
    for _ in range(_PR_ITERS):
        shares = edeg.join(pr.withColumnRenamed("doc_id", "src"), "src").select(
            F.col("dst").alias("doc_id"), F.expr("pr DIV deg").alias("share")
        )
        pr = (
            shares.groupBy("doc_id")
            .agg(F.sum("share").cast("long").alias("s"))
            .select(
                "doc_id",
                (F.lit(_PR_BASE) + F.expr("85 * s DIV 100")).cast("long").alias("pr"),
            )
        )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(pr, "doc_id", "left").select(
        "doc_id",
        F.coalesce("pr", F.lit(_PR_BASE).cast("long")).alias("rank_q6"),
    )


# --------------------------------------------------------------------------
# q77 — degree-ordered triangle count + local clustering coefficient
# --------------------------------------------------------------------------
_CC_SCALE = 1_000_000


@query(
    "q77_triangle_clustering",
    oracle=f"""
WITH {_sql_minhash_bands()},
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM b a
  JOIN b b2 ON a.band = b2.band AND a.h = b2.h AND a.doc_id < b2.doc_id
),
sym AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION ALL
  SELECT doc_b AS node, doc_a AS nbr FROM pairs
),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
o AS (
  SELECT CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
              THEN p.doc_a ELSE p.doc_b END AS src,
         CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
              THEN p.doc_b ELSE p.doc_a END AS dst,
         CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
              THEN db.deg ELSE da.deg END AS ddst
  FROM pairs p
  JOIN deg da ON da.node = p.doc_a
  JOIN deg db ON db.node = p.doc_b
),
tri AS (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM o e1
  JOIN o e2 ON e1.src = e2.src AND (e1.ddst, e1.dst) < (e2.ddst, e2.dst)
  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
per_node AS (
  SELECT unnest([u, v, w]) AS node, 1 AS one FROM tri
),
tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM per_node GROUP BY 1)
SELECT d.node AS doc_id,
       d.deg,
       CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
       CAST(CASE WHEN d.deg >= 2
                 THEN (2 * coalesce(t.n_tri, 0) * {_CC_SCALE})
                      // (d.deg * (d.deg - 1))
                 ELSE 0 END AS BIGINT) AS cc_q6
FROM deg d LEFT JOIN tcnt t ON t.node = d.node
""",
    tags=("dedup", "graph", "triangle"),
)
def q77_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and local clustering coefficient per node of the
    MinHash-LSH candidate graph (q17): how clique-like each document's
    duplicate neighborhood is. High clustering = tight duplicate
    clusters (safe to collapse); low clustering with high degree =
    hub-like false-positive docs (boilerplate that LSH pairs with
    everything) — the graph diagnostic a dedup pipeline runs before
    trusting transitive clusters (q54).

    Scale: the classic O(m^1.5) degree-ordered algorithm — every edge
    is oriented from its lower-(degree, id) endpoint to the higher, so
    wedge enumeration fans out from LOW-degree vertices only (a
    degree-d hub generates zero wedges as a source unless d is
    globally small), killing the skew that makes naive id-ordered
    triangle joins explode on power-law graphs. Three shuffles total
    (degree agg, wedge self-join keyed by src, closure probe keyed by
    (v, w)); integer clustering coefficient on the 1e-6 grid."""
    # persisted (r15): the pair list fans out 3× (both union legs of
    # sym + the orientation join) and each reference re-ran q17's
    # whole bucket self-join + distinct; the edge list is tiny
    # relative to the corpus (q54's discipline)
    pairs = q17_dedup_minhash_lsh(spark, sf_dir).transform(persist_tracked)
    sym = pairs.select(F.col("doc_a").alias("node"), F.col("doc_b").alias("nbr")).union(
        pairs.select(F.col("doc_b").alias("node"), F.col("doc_a").alias("nbr"))
    )
    # persisted (r15): degrees feed both orientation sides and the
    # final output join (3 references); one row per endpoint node
    deg = (
        sym.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .transform(persist_tracked)
    )
    da = deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("degb"))
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("doc_a") < F.col("doc_b"))
    )
    # persisted (r15): the oriented edge list feeds both wedge legs
    # AND the closure probe (3 references)
    o = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
            F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
            F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("ddst"),
        )
        .transform(persist_tracked)
    )
    e1 = o.select("src", F.col("dst").alias("v"), F.col("ddst").alias("dv"))
    e2 = o.select("src", F.col("dst").alias("w"), F.col("ddst").alias("dw"))
    wedges = e1.join(e2, "src").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closure = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closure, ["v", "w"]).select(
        F.col("src").alias("u"), "v", "w"
    )
    tcnt = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return (
        deg.join(tcnt, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            "deg",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.expr(
                    f"(2 * COALESCE(n_tri, 0L) * {_CC_SCALE}) DIV (deg * (deg - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cc_q6"),
        )
    )


# --------------------------------------------------------------------------
# q87 — incremental near-dup check (new batch vs existing index)
# --------------------------------------------------------------------------
_DELTA_SPLIT_PCT = 80  # first 80% of doc_ids = indexed corpus, rest = new batch


@query(
    "q87_dedup_delta_index",
    oracle=f"""
WITH {_sql_minhash_bands()},
split AS (
  SELECT (min(doc_id) + ((max(doc_id) - min(doc_id)) * {_DELTA_SPLIT_PCT}) // 100)
         AS cut FROM documents
),
old_idx AS (SELECT b.* FROM b, split WHERE b.doc_id <= split.cut),
new_b AS (SELECT b.* FROM b, split WHERE b.doc_id > split.cut),
cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc
  FROM new_b n JOIN old_idx o ON n.band = o.band AND n.h = o.h
),
rollup AS (
  SELECT new_doc, CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(min(old_doc) AS BIGINT) AS first_match
  FROM cand GROUP BY 1
),
new_docs AS (
  SELECT d.doc_id FROM documents d, split WHERE d.doc_id > split.cut
)
SELECT nd.doc_id,
       CAST(r.new_doc IS NOT NULL AS BIGINT) AS is_dup,
       CAST(coalesce(r.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(r.first_match, -1) AS BIGINT) AS first_match
FROM new_docs nd
LEFT JOIN rollup r ON r.new_doc = nd.doc_id
""",
    tags=("dedup", "incremental", "lsh"),
)
def q87_dedup_delta_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen an incoming batch (the top
    {100 - _DELTA_SPLIT_PCT}% of doc_ids here) against the EXISTING
    corpus's MinHash-LSH band index without re-pairing the old corpus
    against itself — the production shape for a pipeline that ingests
    daily: the index is append-only state, and each new batch costs
    O(batch) band hashes plus one band-keyed join against the index,
    not an O(corpus²) recluster. Every new doc reports whether it hit
    the index, how many indexed near-dups it has, and the earliest.

    Scale: the old side is this same band table materialized as a
    bucketed/partitioned-by-(band, h % P) parquet index in production
    (compute it once, append new bands after screening); the join is
    then hash-co-located. Band buckets bound the per-key fan-out
    exactly as in q17; the rollup is a new_doc-keyed partial-then-
    final aggregate, and the novel-doc left join is batch-sized."""
    # persisted (r15): the band table splits into BOTH join sides
    # (index and new batch), so without persist the whole minhash
    # pass over documents executed twice; the plan is identical to
    # q17's persisted bands, so the cache manager shares one entry
    bands = _minhash_bands(spark, sf_dir).transform(persist_tracked)
    docs = load_table(spark, sf_dir, "documents")
    cut_row = docs.agg(
        (
            F.min("doc_id")
            + ((F.max("doc_id") - F.min("doc_id")) * _DELTA_SPLIT_PCT) / 100
        )
        .cast("long")
        .alias("cut")
    )
    old_idx = bands.join(F.broadcast(cut_row), F.col("doc_id") <= F.col("cut")).select(
        "doc_id", "band", "h"
    )
    new_b = bands.join(F.broadcast(cut_row), F.col("doc_id") > F.col("cut")).select(
        F.col("doc_id").alias("new_doc"), "band", "h"
    )
    cand = (
        new_b.join(old_idx, ["band", "h"])
        .select("new_doc", F.col("doc_id").alias("old_doc"))
        .distinct()
    )
    rollup = cand.groupBy("new_doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.min("old_doc").cast("long").alias("first_match"),
    )
    new_docs = docs.join(F.broadcast(cut_row), F.col("doc_id") > F.col("cut")).select(
        "doc_id"
    )
    return new_docs.join(
        rollup, new_docs.doc_id == rollup.new_doc, "left"
    ).select(
        "doc_id",
        F.col("new_doc").isNotNull().cast("long").alias("is_dup"),
        F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce("first_match", F.lit(-1)).cast("long").alias("first_match"),
    )


# --------------------------------------------------------------------------
# q88 — chunk-level exact dedup (the line-dedup analog for running text)
# --------------------------------------------------------------------------
_CHUNK_W = 16  # words per chunk; CCNet/RefinedWeb dedup at line/paragraph
#   granularity — the synthetic docs have no line structure, so fixed
#   16-word blocks play that role
_CHUNK_SCALE = 1_000_000


@query(
    "q88_chunk_dedup",
    oracle=f"""
WITH w AS (
  SELECT doc_id, {sql_tokens('text')} AS w FROM documents
),
ch AS (
  SELECT doc_id,
         unnest(list_transform(range(0, (len(w) + {_CHUNK_W - 1}) // {_CHUNK_W}),
                i -> md5(array_to_string(
                     list_slice(w, i * {_CHUNK_W} + 1, i * {_CHUNK_W} + {_CHUNK_W}),
                     ' ')))) AS fp
  FROM w
),
cnt AS (SELECT fp, count(*) AS c FROM ch GROUP BY 1)
SELECT ch.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * {_CHUNK_SCALE} // count(*)
            AS BIGINT) AS dup_pct_q6
FROM ch JOIN cnt USING (fp)
GROUP BY 1
""",
    tags=("dedup", "chunk", "exact"),
)
def q88_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup at fixed {_CHUNK_W}-word chunk
    granularity — the running-text analog of CCNet/RefinedWeb
    line-level dedup: a chunk repeated ANYWHERE in the corpus (cross-
    doc boilerplate or within-doc repetition) marks every occurrence,
    and each doc reports its duplicated-chunk fraction, the signal a
    cleaning pipeline uses to strip boilerplate before training.

    Scale (100 TB): chunking is map-only (tokens → slice → md5 inside
    whole-stage codegen, no Python); the corpus-wide chunk census is a
    hash aggregate keyed by the md5 fingerprint — high cardinality, no
    hot keys, partial aggregation collapses repeats map-side. The join
    back to occurrences is fingerprint-keyed (never positional), and
    the final per-doc rollup shuffles one row per chunk occurrence.
    Three fine-grained shuffles, nothing quadratic, no skew: the worst
    key is the most-repeated boilerplate chunk, which is exactly the
    row a salted two-level variant (q40's pattern) would split if a
    production corpus made it hot.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", tokens("text").alias("w"))
    ch = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST((size(w) + {_CHUNK_W - 1}) / {_CHUNK_W} AS INT) - 1), "
                f"i -> md5(encode(concat_ws(' ', slice(w, i * {_CHUNK_W} + 1, {_CHUNK_W})), 'UTF-8')))"
            )
        ).alias("fp"),
    )
    cnt = ch.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    return (
        ch.join(cnt, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.expr("CAST(c >= 2 AS BIGINT)")).cast("long").alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_pct_q6",
            F.expr(f"CAST(n_dup_chunks * {_CHUNK_SCALE} DIV n_chunks AS BIGINT)"),
        )
    )


# --------------------------------------------------------------------------
# q91 — blocking-scheme evaluation: MinHash vs SimHash candidate precision
# --------------------------------------------------------------------------
_BE_TRUE_Q6 = 200_000  # ground truth: exact 3-gram Jaccard >= 0.2
_BE_SCALE = 1_000_000
_BE_W_CTE, _BE_SIMHASH_EXPR = _sql_simhash("sh_")


@query(
    "q91_blocking_eval",
    oracle=f"""
WITH {_sql_minhash_bands()},
{_BE_W_CTE},
mc AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM b a JOIN b b2 ON a.band = b2.band AND a.h = b2.h AND a.doc_id < b2.doc_id
),
shb AS (SELECT doc_id, ({_BE_SIMHASH_EXPR}) >> 16 AS sb FROM sh_w),
sc AS (
  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM shb a JOIN shb c ON a.sb = c.sb AND a.doc_id < c.doc_id
),
allc AS (
  SELECT coalesce(m.doc_a, s2.doc_a) AS doc_a,
         coalesce(m.doc_b, s2.doc_b) AS doc_b,
         CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS from_mh,
         CASE WHEN s2.doc_a IS NOT NULL THEN 1 ELSE 0 END AS from_sh
  FROM mc m FULL JOIN sc s2 ON m.doc_a = s2.doc_a AND m.doc_b = s2.doc_b
),
sets AS (SELECT doc_id,
         list_distinct(list_transform(sh, g -> {sql_hex_prefix_int('md5(g)', 12)}))
           AS sd FROM s),
scored AS (
  SELECT from_mh, from_sh,
         CASE WHEN CAST(floor(CAST(len(list_intersect(x.sd, y.sd)) AS DOUBLE)
                   / len(list_distinct(x.sd || y.sd)) * {_BE_SCALE} + 0.5) AS BIGINT)
              >= {_BE_TRUE_Q6} THEN 1 ELSE 0 END AS is_true
  FROM allc
  JOIN sets x ON x.doc_id = doc_a
  JOIN sets y ON y.doc_id = doc_b
)
SELECT method,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(CASE WHEN n_candidates > 0
            THEN n_true * {_BE_SCALE} // n_candidates ELSE 0 END
            AS BIGINT) AS precision_q6
FROM (
  SELECT 'minhash' AS method, sum(from_mh) AS n_candidates,
         sum(from_mh * is_true) AS n_true FROM scored
  UNION ALL
  SELECT 'simhash', sum(from_sh), sum(from_sh * is_true) FROM scored
)
""",
    tags=("dedup", "eval", "blocking"),
)
def q91_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme bake-off: what fraction of each scheme's
    candidate pairs are REAL near-dups — Jaccard >= 0.2 over 48-bit
    md5-hashed 3-gram keys (collision-tolerant at ~52²/2^49 per doc;
    q19/q95/q101 verify on raw-string shingle sets, this query hashes
    because its verify payload rides a pair-keyed shuffle — see the
    last paragraph)?
    MinHash band-buckets (q17) versus the SimHash high-16-bit band
    (q18's blocking key) — the measurement that decides which blocking
    key a production dedup pipeline joins on, and the evaluation
    harness every new blocking scheme should pass through before it
    ships.

    Scale: both candidate generators are bucket self-joins (never
    O(n²)); the expensive Jaccard verification runs ONCE per distinct
    candidate pair — the two schemes' sets are aligned with a
    pair-keyed full outer join, so a pair proposed by both is verified
    once and attributed to both. The final rollup is two global sums
    over flag columns (one partial-agg shuffle to a 2-row result).

    The simhash scheme's band space is FIXED at 2^16, so its candidate
    count is the scheme's intrinsic quadratic n²/2^17 (measured: 11.0M
    pairs over 500k docs at 100x, max band 821) — that growth is the
    ANSWER this query reports, not a plan defect. What the plan must
    not do is amplify it: verifying on raw string 3-gram arrays
    dragged ~2 KB per pair (two ~52-string arrays) through the verify
    joins — ~22 GB of shuffle payload at 100x, a spill cliff that made
    the wall swing 38.8-170.2 s across sessions. The verify sets are
    therefore 48-bit md5-hashed gram keys (q44/q99's fixed-width key
    discipline, collision rate ~52²/2^49 per doc, hashed identically
    in the DuckDB oracle), cutting per-pair payload ~4x and keeping
    the verify stage a plain linear-in-pairs shuffle."""
    # r16 (q111's CacheManager mechanism, guide §5.3): q17's minhash
    # pass and q91's own verify sets each tokenized AND shingled the
    # corpus from scratch. Persisting the shingle frame HERE, with an
    # analyzed plan byte-matching the `s` subtree inside the pinned
    # _minhash_sigs chain, lets the CacheManager serve both passes
    # from ONE tokenize+shingle computation without touching q17's
    # results. (Extending the share to q18's simhash tokenize was
    # tried and REVERTED — see the note in q18's body.)
    docs0 = load_table(spark, sf_dir, "documents")
    s_shared = (
        docs0.select("doc_id", tokens("text").alias("w"))
        .filter(F.size("w") >= 3)
        .select("doc_id", shingles("w", 3).alias("sh"))
        .transform(persist_tracked)
    )
    mh = q17_dedup_minhash_lsh(spark, sf_dir).withColumn("from_mh", F.lit(1))
    # persisted (r15): both self-join sides re-ran the whole simhash
    # computation; (doc_id, sh_band) is two longs per doc
    shb = q18_dedup_simhash(spark, sf_dir).select("doc_id", "sh_band").transform(persist_tracked)
    a = shb.select(F.col("doc_id").alias("doc_a"), F.col("sh_band").alias("sb"))
    c = shb.select(F.col("doc_id").alias("doc_b"), F.col("sh_band").alias("sb"))
    sh_cand = (
        a.join(c, "sb")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .withColumn("from_sh", F.lit(1))
    )
    allc = (
        mh.join(sh_cand, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("from_mh", F.lit(0)).alias("from_mh"),
            F.coalesce("from_sh", F.lit(0)).alias("from_sh"),
        )
    )
    # persisted (r15): feeds both verify-join sides (q95's discipline);
    # built from s_shared (r16) so the tokenize+shingle work is the
    # same cached computation the minhash pass read
    sets = s_shared.select(
        "doc_id",
        F.array_distinct(
            F.transform(F.col("sh"), lambda g: hex_prefix_int(md5_str(g), 12))
        ).alias("sd"),
    ).transform(persist_tracked)
    x = sets.select(F.col("doc_id").alias("doc_a"), F.col("sd").alias("sda"))
    y = sets.select(F.col("doc_id").alias("doc_b"), F.col("sd").alias("sdb"))
    inter = F.size(F.array_intersect("sda", "sdb"))
    union = F.size(F.array_distinct(F.concat("sda", "sdb")))
    jq6 = F.floor(
        inter.cast("double") / union.cast("double") * _BE_SCALE + F.lit(0.5)
    ).cast("long")
    scored = (
        allc.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("is_true", (jq6 >= _BE_TRUE_Q6).cast("long"))
    )
    agg = scored.agg(
        F.sum("from_mh").alias("mh_cand"),
        F.sum(F.expr("from_mh * is_true")).alias("mh_true"),
        F.sum("from_sh").alias("sh_cand"),
        F.sum(F.expr("from_sh * is_true")).alias("sh_true"),
    )
    rows = agg.selectExpr(
        "stack(2, 'minhash', mh_cand, mh_true, 'simhash', sh_cand, sh_true) "
        "AS (method, n_candidates, n_true)"
    )
    return rows.select(
        "method",
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_true").cast("long").alias("n_true"),
        F.expr(
            f"CAST(CASE WHEN n_candidates > 0 "
            f"THEN n_true * {_BE_SCALE} DIV n_candidates ELSE 0 END AS BIGINT)"
        ).alias("precision_q6"),
    )


# --------------------------------------------------------------------------
# q95 — LSH banding sweep: the (r, b) tuning curve on real candidates
# --------------------------------------------------------------------------
_LSH_SWEEP = ((1, 8, "r1b8"), (2, 4, "r2b4"), (4, 2, "r4b2"))
_LS_SCALE = 1_000_000


def _sql_sweep_cand(r: int, nb: int, label: str) -> str:
    sep = " || ':' || "
    parts = []
    for b in range(nb):
        cat = sep.join(f"CAST(m{b * r + k} AS VARCHAR)" for k in range(r))
        parts.append(f"SELECT doc_id, {b} AS band, md5({cat}) AS sig FROM m")
    bands = "\n  UNION ALL\n".join(parts)
    return (
        f"b_{label} AS (\n{bands}\n),\n"
        f"c_{label} AS (SELECT DISTINCT '{label}' AS cfg, a.doc_id AS doc_a, "
        f"c.doc_id AS doc_b FROM b_{label} a JOIN b_{label} c "
        f"ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id)"
    )


@query(
    "q95_lsh_tuning",
    oracle=f"""
WITH {_sql_minhash_m()},
{",".join(_sql_sweep_cand(r, nb, lb) for r, nb, lb in _LSH_SWEEP)},
cand AS ({" UNION ALL ".join(f"SELECT * FROM c_{lb}" for _, _, lb in _LSH_SWEEP)}),
pairs AS (SELECT DISTINCT doc_a, doc_b FROM cand),
sets AS (SELECT doc_id,
                list_distinct(list_transform(sh, x -> {sql_hex_prefix_int("md5(x)", 15)})) AS sd
         FROM s),
verdict AS (
  SELECT doc_a, doc_b,
         CASE WHEN CAST(floor(CAST(len(list_intersect(x.sd, y.sd)) AS DOUBLE)
                   / len(list_distinct(x.sd || y.sd)) * {_LS_SCALE} + 0.5) AS BIGINT)
              >= {_JACCARD_THRESHOLD_Q6} THEN 1 ELSE 0 END AS is_true
  FROM pairs
  JOIN sets x ON x.doc_id = doc_a
  JOIN sets y ON y.doc_id = doc_b
),
tot AS (SELECT CAST(sum(is_true) AS BIGINT) AS total_true FROM verdict)
SELECT cfg,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(is_true) AS BIGINT) AS n_true,
       CAST(sum(is_true) * {_LS_SCALE} // count(*) AS BIGINT) AS precision_q6,
       CAST(sum(is_true) * {_LS_SCALE} // max(total_true) AS BIGINT) AS recall_q6
FROM cand JOIN verdict USING (doc_a, doc_b) CROSS JOIN tot
GROUP BY cfg
""",
    tags=("dedup", "lsh", "tuning", "eval"),
)
def q95_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH operating-point sweep: candidate count, precision, and
    relative recall for three bandings of the SAME 8 minhashes —
    8 bands of 1 row (loose: catches everything, drowns in noise),
    4 bands of 2 (the q17 production point), 2 bands of 4 (strict).
    Recall is relative to the union of swept configs (r=1 is a strict
    superset of the others, so the union IS the r=1 candidate set) —
    exactly the curve a dedup pipeline reads before picking (r, b).

    Scale: the minhash subtree is computed ONCE, and (r15) all three
    configs' bands explode from that one pass into a single
    (cfg, band, sig)-keyed bucket shuffle — the before-plan executed
    the minhash subtree per config per reference, 13 scans of the
    documents table in all; now the corpus is scanned twice (minhash +
    shingle-verify), with the candidate set, shingle sets, and verdict
    persisted at their shared fan-out points (never O(n²) — the
    loosest config's buckets are the largest, and its Σ|bucket|² term
    is the sweep's cost ceiling). Every distinct candidate pair is
    Jaccard-verified once,
    then attributed to its configs by a pair-keyed join. The verify
    side carries HASHED shingle keys (60-bit md5 prefix — the same
    portable conversion the minhash subtree uses), not the raw 3-gram
    strings: the two pair-keyed joins ship a shingle array per
    CANDIDATE pair, so at scale the array payload is the sweep's
    entire shuffle-spill footprint, and 8-byte keys cut it ~3× vs
    ~25-byte strings (r15: the 300× run's spill exceeded the
    single-disk harness at string width; it fits at key width). Both
    engines hash identically, so Jaccard over the hashed distinct
    sets stays in cross-engine lockstep by construction."""
    m = _minhash_sigs(spark, sf_dir)
    # r15: ALL configs' bands explode from ONE pass over m — a single
    # struct array of Σnb = 14 (cfg, band, sig) rows per doc and ONE
    # bucket-keyed shuffle grouped by (cfg, band, sig), instead of one
    # minhash-subtree execution + bucket shuffle per config (the
    # before-plan scanned documents 13×; guide §2.2 "compute shared
    # subtrees once"). Bucket contents per (cfg, band, sig) group are
    # identical to the per-config grouping, so pairs are unchanged.
    structs = []
    for r, nb, label in _LSH_SWEEP:
        for b in range(nb):
            cat = F.concat_ws(
                ":", *[F.col(f"m{b * r + k}").cast("string") for k in range(r)]
            )
            structs.append(
                F.struct(
                    F.lit(label).alias("cfg"),
                    F.lit(b).alias("band"),
                    F.md5(F.encode(cat, "UTF-8")).alias("sig"),
                )
            )
    bands = m.select("doc_id", F.explode(F.array(*structs)).alias("bs")).select(
        "doc_id", "bs.cfg", "bs.band", "bs.sig"
    )
    buckets = (
        bands.groupBy("cfg", "band", "sig")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair_expr = (
        "filter(flatten(transform(ds, a -> transform(ds, b -> "
        "struct(a AS doc_a, b AS doc_b)))), p -> p.doc_a < p.doc_b)"
    )
    # persisted: referenced by the verdict chain AND the final
    # per-config attribution join (was recomputed whole before)
    cand = (
        buckets.select("cfg", F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"), "cfg")
        .distinct()
        .transform(persist_tracked)
    )
    pairs = cand.select("doc_a", "doc_b").distinct()
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= 3)
    # persisted: the shingle-hash pass feeds both verify-join sides
    # (doc_a and doc_b are different join keys, so without persist the
    # md5-per-shingle pass runs once per side)
    sets = t.select("doc_id", shingles("w", 3).alias("sh")).select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sh, x -> "
            "CAST(conv(substr(md5(encode(x, 'utf-8')), 1, 15), 16, 10) AS BIGINT)))"
        ).alias("sd"),
    ).transform(persist_tracked)
    x = sets.select(F.col("doc_id").alias("doc_a"), F.col("sd").alias("sda"))
    y = sets.select(F.col("doc_id").alias("doc_b"), F.col("sd").alias("sdb"))
    inter = F.size(F.array_intersect("sda", "sdb"))
    union = F.size(F.array_distinct(F.concat("sda", "sdb")))
    jq6 = F.floor(
        inter.cast("double") / union.cast("double") * _LS_SCALE + F.lit(0.5)
    ).cast("long")
    # persisted: verdict feeds BOTH the broadcast total and the final
    # attribution join — without it the two expensive sets-joins (and
    # the whole shingle-hash pass under them) execute twice
    verdict = (
        pairs.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", (jq6 >= _JACCARD_THRESHOLD_Q6).cast("long").alias("is_true"))
        .transform(persist_tracked)
    )
    tot = verdict.agg(F.sum("is_true").cast("long").alias("total_true"))
    return (
        cand.join(verdict, ["doc_a", "doc_b"])
        .crossJoin(F.broadcast(tot))
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum("is_true").cast("long").alias("n_true"),
            F.max("total_true").alias("tt"),
        )
        .select(
            "cfg",
            "n_candidates",
            "n_true",
            F.expr(f"CAST(n_true * {_LS_SCALE} DIV n_candidates AS BIGINT)").alias(
                "precision_q6"
            ),
            F.expr(f"CAST(n_true * {_LS_SCALE} DIV tt AS BIGINT)").alias("recall_q6"),
        )
    )


# --------------------------------------------------------------------------
# q101 — MinHash estimator calibration against exact Jaccard
# --------------------------------------------------------------------------
_CAL_SCALE = 1_000_000


@query(
    "q101_minhash_calibration",
    oracle=f"""
WITH {_sql_minhash_bands()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM b a JOIN b b2 ON a.band = b2.band AND a.h = b2.h AND a.doc_id < b2.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         ({" + ".join(f"CASE WHEN x.m{j} = y.m{j} THEN 1 ELSE 0 END" for j in range(N_HASHES))})
           * {_CAL_SCALE} // {N_HASHES} AS est_q6
  FROM cand c
  JOIN m x ON x.doc_id = c.doc_a
  JOIN m y ON y.doc_id = c.doc_b
),
sets AS (SELECT doc_id,
                list_distinct(list_transform(sh, x -> {sql_hex_prefix_int("md5(x)", 15)})) AS sd
         FROM s),
exact AS (
  SELECT e.doc_a, e.doc_b, e.est_q6,
         CAST(floor(CAST(len(list_intersect(x.sd, y.sd)) AS DOUBLE)
              / len(list_distinct(x.sd || y.sd)) * {_CAL_SCALE} + 0.5) AS BIGINT)
           AS jaccard_q6
  FROM est e
  JOIN sets x ON x.doc_id = e.doc_a
  JOIN sets y ON y.doc_id = e.doc_b
)
SELECT doc_a, doc_b,
       CAST(est_q6 AS BIGINT) AS est_q6,
       jaccard_q6,
       CAST(abs(est_q6 - jaccard_q6) AS BIGINT) AS abs_err_q6
FROM exact
""",
    tags=("dedup", "minhash", "calibration", "eval"),
)
def q101_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration report: for every LSH candidate pair, the
    MinHash similarity ESTIMATE (matching hashes / {N_HASHES}) next to
    the exact 3-gram Jaccard, with the absolute error — the check that
    tells you whether {N_HASHES} hashes are enough before you trust
    the sketch at corpus scale (E[err] ~ 1/sqrt(k); k=8 is coarse by
    design and this report shows exactly how coarse).

    Scale: estimates come from two doc-keyed joins against the ONE
    shared minhash table (never recomputed); exact Jaccard runs only
    on candidate pairs (q19's discipline). Everything is integer
    arithmetic on the 1e-6 grid."""
    cand = q17_dedup_minhash_lsh(spark, sf_dir)
    # persisted (r15): the signature table feeds BOTH estimate-join
    # sides (doc_a and doc_b), so without persist the whole
    # md5-per-shingle minhash pass executes twice; (doc_id, 8 longs)
    # is a trivially small cache at any scale
    m = _minhash_sigs(spark, sf_dir).transform(persist_tracked)
    ma = m.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(N_HASHES)]
    )
    mb = m.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(N_HASHES)]
    )
    est_expr = (
        "("
        + " + ".join(f"CAST(a{j} = b{j} AS BIGINT)" for j in range(N_HASHES))
        + f") * {_CAL_SCALE} DIV {N_HASHES}"
    )
    est = (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select("doc_a", "doc_b", F.expr(est_expr).alias("est_q6"))
    )
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= 3)
    # hashed shingle keys (r15 payload discipline -- see q19/q95): the
    # verify joins ship an array per candidate pair, so 8-byte keys
    # replace raw 3-gram strings, hashed identically in the oracle.
    # Persisted (r15): feeds both verify-join sides, like q95's sets.
    sets = t.select("doc_id", shingles("w", 3).alias("sh")).select(
        "doc_id",
        F.expr(
            "array_distinct(transform(sh, x -> "
            "CAST(conv(substr(md5(encode(x, 'utf-8')), 1, 15), 16, 10) AS BIGINT)))"
        ).alias("sd"),
    ).transform(persist_tracked)
    x = sets.select(F.col("doc_id").alias("doc_a"), F.col("sd").alias("sda"))
    y = sets.select(F.col("doc_id").alias("doc_b"), F.col("sd").alias("sdb"))
    inter = F.size(F.array_intersect("sda", "sdb"))
    union = F.size(F.array_distinct(F.concat("sda", "sdb")))
    jq6 = F.floor(
        inter.cast("double") / union.cast("double") * _CAL_SCALE + F.lit(0.5)
    ).cast("long")
    return (
        est.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_q6",
            jq6.alias("jaccard_q6"),
            F.abs(F.col("est_q6") - jq6).cast("long").alias("abs_err_q6"),
        )
    )


# --------------------------------------------------------------------------
# q109 — chunk-aligned containment dedup (the case MinHash misses)
# --------------------------------------------------------------------------
_CT_W = 16  # chunk width, matching q88


@query(
    "q109_containment_dedup",
    oracle=f"""
WITH w AS (SELECT doc_id, {sql_tokens('text')} AS w FROM documents),
f AS (
  SELECT doc_id,
         {sql_hex_prefix_int(f"md5(array_to_string(list_slice(w, 1, {_CT_W}), ' '))", 12)} AS fp0,
         list_transform(range(0, (len(w) + {_CT_W - 1}) // {_CT_W}),
           i -> {sql_hex_prefix_int(f"md5(array_to_string(list_slice(w, i * {_CT_W} + 1, i * {_CT_W} + {_CT_W}), ' '))", 12)})
           AS fps
  FROM w
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(a.fps) AS BIGINT) AS n_chunks_a,
       CAST(len(b.fps) AS BIGINT) AS n_chunks_b,
       CAST(len(list_intersect(a.fps, b.fps)) AS BIGINT) AS shared_chunks,
       CAST(len(list_intersect(a.fps, b.fps))
            = least(len(a.fps), len(b.fps)) AS BIGINT) AS is_contained
FROM f a JOIN f b ON a.fp0 = b.fp0 AND a.doc_id < b.doc_id
""",
    tags=("dedup", "containment", "chunk"),
)
def q109_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: find document pairs where the SMALLER doc's
    {_CT_W}-word chunks all appear in the larger one — the
    prefix/quote/excerpt duplication that symmetric similarity
    (MinHash Jaccard) systematically under-scores: a doc fully
    contained in one 10× larger has Jaccard ≈ 0.1 and never surfaces
    in q17, yet it is pure duplication for training purposes.

    Blocking: pairs must share their FIRST chunk fingerprint — a
    fp0-keyed self-join whose buckets are true-duplicate-sized (the
    q17 bucket discipline; chunk-aligned containment implies shared
    leading chunk for prefix dups). Verification is per-pair array
    intersection on chunk-count-sized arrays (≈ tokens/{_CT_W}),
    all codegen.

    Payload discipline (r12, the q91 fix generalized): fingerprints
    are 48-bit md5 prefixes (BIGINT), not 32-char md5 hex strings —
    the fp0 self-join drags both docs' full ``fps`` arrays through
    the verify shuffle, and at q91's 100× scale the equivalent
    string-array payload was a ~22 GB spill cliff. 48-bit keys cut
    per-chunk payload 4× (8 vs ~48 bytes an element) at a collision
    rate of ~(chunks/doc)²/2^49 per pair, hashed identically in the
    DuckDB oracle so results stay value-equal.

    Defensive cap: a shared boilerplate first-chunk (license headers)
    can put millions of docs behind one fp0 at 100 TB, turning the
    self-join quadratic. As in q17, exact dedup (q16/q88) is the
    upstream contract, so any bucket past ``_LSH_BUCKET_CAP`` is
    residual exact-dup pathology — it is ROUTED OUT whole via a
    count-based pre-filter (r4 verdict nit: the earlier row_number
    cap made a pathological million-member bucket one window
    partition, i.e. a single-task external sort; bucket COUNTS
    partial-aggregate map-side, the oversize key set is tiny by
    contract and broadcasts, and the corpus side is never sorted or
    re-shuffled for the cap). Routed-out members are reported via
    the ``q109_bucket_cap`` observed metric, not silently. The cap
    is far above any test-scale bucket (max 4 at sf0.1), so oracle
    results are unchanged — the registered oracle stays the uncapped
    self-join, and ``test_cap_headroom_at_oracle_scale`` canaries
    that the cap never bites at oracle-checked scales."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", tokens("text").alias("w"))
    # fp0 spelled as a direct first-chunk hash (identical value to
    # element_at(fps, 1)) so the bucket-count branch prunes the full
    # per-chunk fingerprint array out of its scan; both are 48-bit
    # md5 prefixes (see docstring payload discipline)
    def _fp48(inner: str) -> str:
        return (
            f"CAST(conv(substring(md5(encode({inner}, 'UTF-8')), 1, 12), "
            f"16, 10) AS BIGINT)"
        )

    fp0_expr = _fp48(f"concat_ws(' ', slice(w, 1, {_CT_W}))")
    chunk_i = f"concat_ws(' ', slice(w, i * {_CT_W} + 1, {_CT_W}))"
    fps_expr = (
        f"transform(sequence(0, CAST((size(w) + {_CT_W - 1}) / {_CT_W} AS INT) - 1), "
        f"i -> {_fp48(chunk_i)})"
    )
    f = w.select(
        "doc_id",
        F.expr(fp0_expr).alias("fp0"),
        F.expr(fps_expr).alias("fps"),
    )
    hot = (
        f.groupBy("fp0")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > _LSH_BUCKET_CAP)
    )
    f = (
        f.join(F.broadcast(hot), "fp0", "left")
        .observe(
            "q109_bucket_cap",
            F.sum(F.col("bucket_n").isNotNull().cast("long")).alias(
                "routed_members"
            ),
        )
        .filter(F.col("bucket_n").isNull())
        .drop("bucket_n")
        # persisted (r15): both self-join sides read this frame, so
        # without persist the per-chunk md5 pass over the whole corpus
        # (and the cap join above) executed twice
        .transform(persist_tracked)
    )
    a = f.select(
        F.col("doc_id").alias("doc_a"), F.col("fp0"), F.col("fps").alias("fa")
    )
    b = f.select(
        F.col("doc_id").alias("doc_b"), F.col("fp0"), F.col("fps").alias("fb")
    )
    inter = F.size(F.array_intersect("fa", "fb"))
    return (
        a.join(b, "fp0")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size("fa").cast("long").alias("n_chunks_a"),
            F.size("fb").cast("long").alias("n_chunks_b"),
            inter.cast("long").alias("shared_chunks"),
            (inter == F.least(F.size("fa"), F.size("fb")))
            .cast("long")
            .alias("is_contained"),
        )
    )
