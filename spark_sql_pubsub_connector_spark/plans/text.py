"""Text-analysis operators over ``documents`` (SURVEY.md §2.3 —
driver-mandated extension surface).

  q23  corpus quality stats     — token/length/stopword/type-token ratios
  q24  language ID              — marker-token profile scoring (argmax)
  q25  token counting           — whitespace + BPE-ish regex tokenizers
  q26  document fingerprint     — Rabin-Karp rolling hash over tokens

Scale design: q23/q25 are scan + per-row array arithmetic + tiny
groupBy (partial agg) — scan-bound at any corpus size. q24 is
explode→broadcast-join(markers)→groupBy(doc) — linear, the marker
table is a compile-time literal. q26 is a per-row sequential fold
(``aggregate``) — embarrassingly parallel, no shuffle at all. No
Python UDFs anywhere; every expression is JVM codegen.

Cross-engine notes: ratios are single double divisions of exact BIGINT
sums (bit-equal across engines); the rolling hash folds left with the
first element as the initial accumulator on BOTH sides (DuckDB
``list_reduce`` has no explicit init, so the Spark ``aggregate`` slices
to match); md5 operates on ASCII-only text (verified in FIXTURES data)
so VARCHAR-md5 (DuckDB) equals utf8-bytes-md5 (Spark).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.textops import (
    hex_prefix_int,
    shingles,
    sql_hex_prefix_int,
    sql_shingles,
    sql_tokens,
    tokens,
)
from .caching import persist_tracked
from .registry import query
from .tables import load_table

_STOPWORDS = ("the", "a", "of", "to", "and", "in")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

# BPE-ish pre-tokenizer: letter runs, digit runs, single non-space symbol
_BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


# --------------------------------------------------------------------------
# q23 — corpus quality statistics per (lang, source)
# --------------------------------------------------------------------------
@query(
    "q23_text_stats",
    oracle=f"""
WITH t AS (
  SELECT lang, source,
         {sql_tokens('text')} AS w,
         length(text) AS n_char
  FROM documents
),
d AS (
  SELECT lang, source, n_char,
         len(w) AS n_tok,
         len(list_distinct(w)) AS n_uniq,
         CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT) AS sum_tok_len,
         len(list_filter(w, t -> t IN ({_STOP_SQL}))) AS n_stop
  FROM t
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_char) AS BIGINT) AS total_chars,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(n_stop) AS DOUBLE) / sum(n_tok)     AS stop_ratio,
       CAST(sum(sum_tok_len) AS DOUBLE) / sum(n_tok) AS avg_token_len,
       CAST(sum(n_uniq) AS DOUBLE) / sum(n_tok)      AS type_token_ratio
FROM d
GROUP BY lang, source
""",
    tags=("text", "stats"),
)
def q23_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring aggregate: stopword ratio, mean token length and
    type-token ratio per (lang, source) — the signals an LLM-data
    pipeline filters on. All counts are exact integers; the three
    ratios are one double division each at the very end."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "source",
        tokens("text").alias("w"),
        F.length("text").alias("n_char"),
    )
    stop_filter = "size(filter(w, t -> t IN ({})))".format(_STOP_SQL)
    d = t.select(
        "lang",
        "source",
        "n_char",
        F.size("w").alias("n_tok"),
        F.size(F.array_distinct("w")).alias("n_uniq"),
        F.expr(
            "aggregate(transform(w, t -> length(t)), CAST(0 AS BIGINT), (a, b) -> a + b)"
        ).alias("sum_tok_len"),
        F.expr(stop_filter).alias("n_stop"),
    )
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_char").alias("total_chars"),
        F.sum("n_tok").alias("total_tokens"),
        (F.sum("n_stop").cast("double") / F.sum("n_tok")).alias("stop_ratio"),
        (F.sum("sum_tok_len").cast("double") / F.sum("n_tok")).alias("avg_token_len"),
        (F.sum("n_uniq").cast("double") / F.sum("n_tok")).alias("type_token_ratio"),
    )


# --------------------------------------------------------------------------
# q24 — language identification by marker-token profiles
# --------------------------------------------------------------------------
# Compile-time marker profiles (an n-gram language model distilled to
# its most discriminative unigrams; contents matter less than the
# operator shape — explode → broadcast join → per-doc argmax).
_MARKERS = (
    ("en", "the"),
    ("en", "a"),
    ("en", "fast"),
    ("es", "data"),
    ("es", "value"),
    ("es", "line"),
    ("zh", "query"),
    ("zh", "table"),
    ("zh", "row"),
    ("de", "window"),
    ("de", "filter"),
    ("de", "stream"),
)
_MARKER_VALUES = ", ".join(f"('{l}', '{t}')" for l, t in _MARKERS)


@query(
    "q24_langid",
    oracle=f"""
WITH m(cand_lang, tok) AS (VALUES {_MARKER_VALUES}),
t AS (SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents),
sc AS (
  SELECT t.doc_id, m.cand_lang, count(*) AS n
  FROM t JOIN m ON t.tok = m.tok
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, cand_lang, n,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, cand_lang ASC) AS rk
  FROM sc
)
SELECT d.doc_id, d.lang,
       coalesce(b.cand_lang, 'und') AS pred_lang,
       coalesce(b.n, 0) AS n_hits
FROM documents d
LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
""",
    tags=("text", "langid"),
)
def q24_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: count marker-token hits per candidate
    language, argmax with a deterministic (count DESC, lang ASC)
    tiebreak, 'und' when no marker fires. The marker table is
    broadcast, so the only shuffle is the per-doc count — linear and
    partial-agg friendly at corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    markers = F.broadcast(
        docs.sparkSession.createDataFrame(list(_MARKERS), ["cand_lang", "tok"])
    )
    t = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    sc = (
        t.join(markers, "tok")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.col("cand_lang").asc()
    )
    best = sc.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        docs.select("doc_id", "lang")
        .join(best.select("doc_id", "cand_lang", "n"), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("cand_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("n", F.lit(0)).alias("n_hits"),
        )
    )


# --------------------------------------------------------------------------
# q25 — token counting: whitespace vs BPE-ish regex tokenizer
# --------------------------------------------------------------------------
@query(
    "q25_token_counts",
    oracle=f"""
WITH d AS (
  SELECT source,
         length(text) AS n_char,
         len({sql_tokens('text')}) AS n_ws,
         len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS n_bpe
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_char) AS BIGINT) AS total_chars,
       CAST(sum(n_ws)  AS BIGINT) AS ws_tokens,
       CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       CAST(sum(n_bpe) AS DOUBLE) / count(*) AS bpe_per_doc
FROM d
GROUP BY source
""",
    tags=("text", "tokens"),
)
def q25_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with two tokenizers: whitespace split and a
    BPE-style pre-tokenizer (letter runs / digit runs / single
    symbols) — the 'how many training tokens is this corpus' query.
    Pure scan + regex + 20-group aggregate; the regex runs once per
    row inside codegen."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.length("text").alias("n_char"),
        F.size(tokens("text")).alias("n_ws"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PATTERN), 0)).alias(
            "n_bpe"
        ),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_char").alias("total_chars"),
        F.sum("n_ws").alias("ws_tokens"),
        F.sum("n_bpe").alias("bpe_tokens"),
        (F.sum("n_bpe").cast("double") / F.count(F.lit(1))).alias("bpe_per_doc"),
    )


# --------------------------------------------------------------------------
# q26 — Rabin-Karp rolling-hash document fingerprint
# --------------------------------------------------------------------------
_RK_BASE = 257
_RK_MOD = 2_147_483_647  # 2^31 - 1: acc*257 + 2^28 stays far inside BIGINT


@query(
    "q26_fingerprint_rolling",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_transform({sql_tokens('text')},
                        tok -> {{hex}}) AS vals
  FROM documents
)
SELECT doc_id,
       list_reduce(vals, (a, b) -> (a * {_RK_BASE} + b) % {_RK_MOD}) AS fingerprint
FROM t
""".replace(
        "{hex}",
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5(tok), {p + 1}, 1)) - 1) * "
            f"CAST({16 ** (6 - p)} AS BIGINT)"
            for p in range(7)
        )
        + ")",
    ),
    tags=("text", "fingerprint"),
)
def q26_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: token→28-bit hash, then a
    Rabin-Karp left fold ``h = (h*257 + v) mod (2^31-1)``. Per-row
    sequential arithmetic, zero shuffle — the cheapest whole-document
    signature for change detection at scale.

    DuckDB's ``list_reduce`` seeds the fold with the first element, so
    the Spark ``aggregate`` slices off element 1 as its init to keep
    the folds identical."""
    docs = load_table(spark, sf_dir, "documents")
    vals = (
        "transform(split(lower(trim(text)), '\\\\s+'), "
        "tok -> CAST(conv(substr(md5(encode(tok, 'utf-8')), 1, 7), 16, 10) AS BIGINT))"
    )
    fold = (
        f"aggregate(slice(vals, 2, greatest(size(vals) - 1, 0)), element_at(vals, 1), "
        f"(a, b) -> (a * {_RK_BASE} + b) % {_RK_MOD})"
    )
    return (
        docs.select("doc_id", F.expr(vals).alias("vals"))
        .select("doc_id", F.expr(fold).alias("fingerprint"))
    )


# --------------------------------------------------------------------------
# q51 — term scrubbing (redaction transform)
# --------------------------------------------------------------------------
_SCRUB_PATTERN = r"\b(the|a|of|to|and|in)\b"
_SCRUB_TOKEN = "<T>"


@query(
    "q51_term_scrub",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{_SCRUB_PATTERN}')) AS BIGINT)
         AS n_scrubbed,
       md5(regexp_replace(lower(text), '{_SCRUB_PATTERN}', '{_SCRUB_TOKEN}', 'g'))
         AS scrubbed_md5
FROM documents
""",
    tags=("text", "scrub", "transform"),
)
def q51_term_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction *transform*: replace denylisted terms with a
    placeholder token and count the replacements — the PII-scrub /
    term-filter step of a cleaning pipeline (the rest of the corpus
    analyzes text; this one rewrites it, verified via the md5 of the
    scrubbed output). Word-boundary ``\\b`` and character classes
    behave identically in Java regex (Spark) and RE2 (DuckDB); Spark
    replaces globally by default, DuckDB needs the 'g' flag.

    Scale shape: one regex pass per row inside codegen, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    lowered = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(lowered, F.lit(_SCRUB_PATTERN), 0)
        ).cast("long").alias("n_scrubbed"),
        F.md5(
            F.encode(
                F.regexp_replace(lowered, _SCRUB_PATTERN, _SCRUB_TOKEN), "UTF-8"
            )
        ).alias("scrubbed_md5"),
    )


# --------------------------------------------------------------------------
# q52 — per-document quality filter (Gopher-style rules)
# --------------------------------------------------------------------------
_QF_MIN_TOK = 5
_QF_MAX_TOK = 100_000
_QF_MIN_MEAN_LEN = 2.0
_QF_MAX_MEAN_LEN = 12.0
_QF_MIN_STOP = 0.01


@query(
    "q52_quality_filter",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         {sql_tokens('text')} AS w
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tok,
         CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT) AS sum_len,
         CAST(len(list_filter(w, t -> t IN ({_STOP_SQL}))) AS BIGINT) AS n_stop
  FROM d
)
SELECT doc_id, n_tok,
       CAST(sum_len AS DOUBLE) / n_tok AS mean_tok_len,
       CAST(n_stop AS DOUBLE) / n_tok  AS stop_ratio,
       (n_tok BETWEEN {_QF_MIN_TOK} AND {_QF_MAX_TOK}) AS ok_length,
       (CAST(sum_len AS DOUBLE) / n_tok BETWEEN {_QF_MIN_MEAN_LEN} AND {_QF_MAX_MEAN_LEN})
         AS ok_word_len,
       (CAST(n_stop AS DOUBLE) / n_tok >= {_QF_MIN_STOP}) AS ok_stopwords,
       ((n_tok BETWEEN {_QF_MIN_TOK} AND {_QF_MAX_TOK})
        AND (CAST(sum_len AS DOUBLE) / n_tok
             BETWEEN {_QF_MIN_MEAN_LEN} AND {_QF_MAX_MEAN_LEN})
        AND (CAST(n_stop AS DOUBLE) / n_tok >= {_QF_MIN_STOP})) AS keep
FROM m
""",
    tags=("text", "quality", "filter"),
)
def q52_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality *filter decisions* — the Gopher-style rule
    set (token-count bounds, mean word length window, minimum stopword
    ratio) that decides keep/drop for every document, with the
    individual rule flags kept for audit. q23 reports corpus-level
    stats; this emits the row-level verdicts a cleaning pipeline
    actually joins against.

    All signals are per-row array arithmetic (zero shuffle); each
    ratio is one double division of exact BIGINTs, so the boolean
    threshold comparisons are bit-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tok"),
        F.expr(
            "CAST(aggregate(transform({w}, t -> length(t)), "
            "CAST(0 AS BIGINT), (a, b) -> a + b) AS BIGINT)".format(
                w="split(lower(trim(text)), '\\\\s+')"
            )
        ).alias("sum_len"),
        F.expr(
            "CAST(size(filter({w}, t -> t IN ({s}))) AS BIGINT)".format(
                w="split(lower(trim(text)), '\\\\s+')", s=_STOP_SQL
            )
        ).alias("n_stop"),
    )
    mean_len = F.col("sum_len").cast("double") / F.col("n_tok")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    ok_length = F.col("n_tok").between(_QF_MIN_TOK, _QF_MAX_TOK)
    ok_word_len = mean_len.between(_QF_MIN_MEAN_LEN, _QF_MAX_MEAN_LEN)
    ok_stop = stop_ratio >= _QF_MIN_STOP
    return m.select(
        "doc_id",
        "n_tok",
        mean_len.alias("mean_tok_len"),
        stop_ratio.alias("stop_ratio"),
        ok_length.alias("ok_length"),
        ok_word_len.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        (ok_length & ok_word_len & ok_stop).alias("keep"),
    )


# --------------------------------------------------------------------------
# q53 — repeated-n-gram fraction (boilerplate / spam detection)
# --------------------------------------------------------------------------
@query(
    "q53_repetition_ngrams",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {sql_tokens('text')} AS w FROM documents
),
sh AS (
  SELECT doc_id, unnest({{sh}}) AS s
  FROM t WHERE len(w) >= 3
),
cnt AS (
  SELECT doc_id, s, count(*) AS c FROM sh GROUP BY doc_id, s
),
agg AS (
  SELECT doc_id,
         CAST(max(c) AS BIGINT) AS top_ngram_count,
         CAST(sum(c) AS BIGINT) AS total_ngrams
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, top_ngram_count, total_ngrams,
       CAST(top_ngram_count AS DOUBLE) / total_ngrams AS top_ngram_frac,
       (CAST(top_ngram_count AS DOUBLE) / total_ngrams > 0.2) AS is_repetitive
FROM agg
""".replace("{sh}", sql_shingles("w", 3)),
    tags=("text", "quality", "repetition"),
)
def q53_repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/spam signal: the fraction of a document's token
    trigrams taken by its single most repeated trigram — high values
    mean templated or looping text (the repeated-n-gram rules of
    public web-corpus cleaning recipes). Docs shorter than one
    trigram are excluded.

    Shape: explode trigrams → groupBy(doc, ngram) with map-side
    partials → per-doc max/sum — linear in corpus size, state bounded
    per (doc, ngram) key, no arrays."""
    from ..functions.textops import shingles as _shingles

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w"))
    sh = t.filter(F.size("w") >= 3).select(
        "doc_id", F.explode(_shingles("w", 3)).alias("s")
    )
    cnt = sh.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.max("c").cast("long").alias("top_ngram_count"),
        F.sum("c").cast("long").alias("total_ngrams"),
    )
    frac = F.col("top_ngram_count").cast("double") / F.col("total_ngrams")
    return agg.select(
        "doc_id",
        "top_ngram_count",
        "total_ngrams",
        frac.alias("top_ngram_frac"),
        (frac > 0.2).alias("is_repetitive"),
    )


# --------------------------------------------------------------------------
# q56 — boilerplate n-gram coverage (the line-dedup analog for
#        unstructured text)
# --------------------------------------------------------------------------
_BOILER_DF = 3  # a 3-gram appearing in >= 3 distinct docs is boilerplate
_COV_SCALE = 1_000_000


@query(
    "q56_boilerplate_coverage",
    oracle=f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS w FROM documents),
s AS (SELECT doc_id, {sql_shingles('w', 3)} AS sh FROM t WHERE len(w) >= 3),
g AS (SELECT doc_id, unnest(list_distinct(sh)) AS gram FROM s),
df AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
  FROM g GROUP BY 1
),
boiler AS (SELECT gram FROM df WHERE n_docs >= {_BOILER_DF}),
per_doc AS (
  SELECT g.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(count(b.gram) AS BIGINT) AS n_boiler
  FROM g LEFT JOIN boiler b ON g.gram = b.gram
  GROUP BY 1
)
SELECT doc_id, n_grams, n_boiler,
       CAST(floor(CAST(n_boiler AS DOUBLE) / n_grams * {_COV_SCALE} + 0.5)
            AS BIGINT) AS boiler_cov_q6
FROM per_doc
""",
    tags=("text", "boilerplate", "dedup"),
)
def q56_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection — the unstructured-text analog of
    line-level dedup (headers/footers/nav chrome in web corpora):
    distinct 3-grams per document, corpus document-frequency per gram,
    grams in >= {_BOILER_DF} docs are boilerplate, and each document
    reports what fraction of its distinct grams is boilerplate (docs
    above a coverage cutoff get dropped or cleaned downstream).

    Scale: gram DF is explode -> hash aggregate (map-side partials
    collapse each doc's repeats before the shuffle; the shuffle key is
    the gram — high cardinality, no funnel). The boilerplate set is
    tiny relative to the corpus (df-threshold keeps only the heavy
    tail), so the coverage join broadcasts it; per-doc coverage is one
    more doc_id-keyed aggregate. Total: two fine-grained shuffles plus
    a broadcast join — no step carries more than one row per distinct
    gram."""
    from pyspark.sql.functions import broadcast

    from ..functions.textops import shingles as _shingles

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w"))
    # persisted (r15): feeds both the DF aggregate and the coverage
    # join — the shingle explode over the corpus ran twice before
    g = (
        t.filter(F.size("w") >= 3)
        .select("doc_id", F.explode(F.array_distinct(_shingles("w", 3))).alias("gram"))
        .transform(persist_tracked)
    )
    boiler = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= _BOILER_DF)
        .select("gram", F.lit(True).alias("is_boiler"))
    )
    per_doc = (
        g.join(broadcast(boiler), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.count("is_boiler").cast("long").alias("n_boiler"),
        )
    )
    cov = F.floor(
        F.col("n_boiler").cast("double") / F.col("n_grams") * _COV_SCALE + F.lit(0.5)
    ).cast("long")
    return per_doc.select(
        "doc_id", "n_grams", "n_boiler", cov.alias("boiler_cov_q6")
    )


# --------------------------------------------------------------------------
# q58 — corpus-rarity (TF-IDF-shaped) token scoring, top-3 per doc
# --------------------------------------------------------------------------
_RARITY_SCALE = 1_000_000
_RARITY_TOPK = 3


@query(
    "q58_tfidf_rarity",
    oracle=f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS token FROM t),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
),
df AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(tf.tf * ((n.n_docs * {_RARITY_SCALE}) // df.df) AS BIGINT)
           AS rarity_q6
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY rarity_q6 DESC, token
  ) AS rnk
  FROM scored
)
SELECT doc_id, token, tf, df, rarity_q6, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= {_RARITY_TOPK}
""",
    tags=("text", "tfidf", "two-pass"),
)
def q58_tfidf_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass corpus-statistics scoring, the TF-IDF shape every
    training-data pipeline needs (rare-token surfacing, keyword
    extraction, topical filtering): pass 1 builds the corpus document-
    frequency table, pass 2 scores each document's tokens as
    tf x ⌊N·10⁶/df⌋ (an integer-exact IDF surrogate — same ordering
    as log(N/df), no cross-engine libm dependence) and keeps the
    top-{_RARITY_TOPK} rarest tokens per document.

    Scale: tf and df are explode -> hash aggregates with map-side
    partials (stopword-heavy tokens collapse per partition before the
    shuffle, which is what bounds skew). The df table is (token, count)
    — orders of magnitude smaller than the corpus; at 100 TB it joins
    back by token bucketing, here Spark's planner broadcasts it. The
    final top-k is a doc_id-keyed window with rank pushdown
    (WindowGroupLimit keeps k rows per partition pre-shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # pass 0: one scalar, computed distributed
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = (
        tok.distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        (F.col("tf") * F.expr(f"({n_docs}L * {_RARITY_SCALE}) DIV df"))
        .cast("long")
        .alias("rarity_q6"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("rarity_q6").desc(), F.col("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RARITY_TOPK)
        .select("doc_id", "token", "tf", "df", "rarity_q6", "rnk")
    )


# --------------------------------------------------------------------------
# q67 — bigram language-model training (conditional counts)
# --------------------------------------------------------------------------
_LM_SCALE = 1_000_000
_LM_MIN_PAIR = 3  # prune hapax/rare bigrams like real LM pipelines


@query(
    "q67_bigram_lm",
    oracle=f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS w FROM documents),
bi AS (
  SELECT w[i] AS head, w[i + 1] AS tail
  FROM t, unnest(range(1, len(w))) AS u(i)
  WHERE len(w) >= 2
),
pc AS (
  SELECT head, tail, CAST(count(*) AS BIGINT) AS c_pair
  FROM bi GROUP BY 1, 2
),
hc AS (
  SELECT head, CAST(sum(c_pair) AS BIGINT) AS c_head
  FROM pc GROUP BY 1
)
SELECT pc.head, pc.tail, pc.c_pair, hc.c_head,
       CAST((pc.c_pair * {_LM_SCALE}) // hc.c_head AS BIGINT) AS p_q6
FROM pc JOIN hc ON pc.head = hc.head
WHERE pc.c_pair >= {_LM_MIN_PAIR}
""",
    tags=("text", "lm", "two-pass"),
)
def q67_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a bigram language model over the corpus: conditional
    probability P(tail | head) = count(head,tail)/count(head,·) on the
    1e-6 integer grid, rare bigrams pruned — the count-based LM /
    next-token-statistics job (quality scoring, vocabulary induction,
    Kneser-Ney inputs) every text pipeline eventually runs.

    Scale: bigram extraction is a per-row transform + explode; the
    pair count is a hash aggregate whose map-side partials collapse
    repeated bigrams per partition (Zipf makes that collapse large);
    head totals derive from the ALREADY-aggregated pair table — summing
    c_pair per head instead of re-counting tokens, so the second pass
    shuffles one row per distinct pair, not per token. The final join
    is keyed by head; the conditional probability is pure integer
    arithmetic (no cross-engine libm)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(tokens("text").alias("w")).filter(F.size("w") >= 2)
    bi = t.select(
        F.explode(
            F.expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS head, w[i + 1] AS tail))")
        ).alias("b")
    ).select("b.head", "b.tail")
    pc = bi.groupBy("head", "tail").agg(
        F.count(F.lit(1)).cast("long").alias("c_pair")
    )
    hc = pc.groupBy("head").agg(F.sum("c_pair").cast("long").alias("c_head"))
    return (
        pc.join(hc, "head")
        .filter(F.col("c_pair") >= _LM_MIN_PAIR)
        .select(
            "head",
            "tail",
            "c_pair",
            "c_head",
            F.expr(f"(c_pair * {_LM_SCALE}) DIV c_head").cast("long").alias("p_q6"),
        )
    )


# --------------------------------------------------------------------------
# q72 — Count-Min sketch token frequencies (probed against truth)
# --------------------------------------------------------------------------
_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_PROBES = ("the", "a", "spark", "window", "join", "batch", "zzz_absent")
_CMS_PROBE_SQL = ", ".join(f"'{t}'" for t in _CMS_PROBES)

from ..functions.textops import hex_prefix_int, md5_str, sql_hex_prefix_int  # noqa: E402


@query(
    "q72_cms_token_freq",
    oracle=f"""
WITH t AS (SELECT unnest({sql_tokens('text')}) AS token FROM documents),
cells AS (
  SELECT r, md5(CAST(r AS VARCHAR) || ':' || token) AS h, token
  FROM t, unnest(range(0, {_CMS_DEPTH})) AS u(r)
),
sketch AS (
  SELECT r, {sql_hex_prefix_int('h')} % {_CMS_WIDTH} AS col,
         CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2
),
probes AS (SELECT unnest(ARRAY[{_CMS_PROBE_SQL}]) AS token),
pcells AS (
  SELECT p.token, u.r,
         {sql_hex_prefix_int("md5(CAST(u.r AS VARCHAR) || ':' || p.token)")}
           % {_CMS_WIDTH} AS col
  FROM probes p, unnest(range(0, {_CMS_DEPTH})) AS u(r)
),
est AS (
  SELECT pc.token,
         CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cms_est
  FROM pcells pc LEFT JOIN sketch s ON pc.r = s.r AND pc.col = s.col
  GROUP BY 1
),
truth AS (
  SELECT token, CAST(count(*) AS BIGINT) AS true_cnt FROM t GROUP BY 1
)
SELECT e.token, e.cms_est,
       CAST(coalesce(tr.true_cnt, 0) AS BIGINT) AS true_cnt,
       CAST(e.cms_est - coalesce(tr.true_cnt, 0) AS BIGINT) AS overcount
FROM est e LEFT JOIN truth tr ON e.token = tr.token
""",
    tags=("text", "sketch", "frequency"),
)
def q72_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus token stream: a {_CMS_DEPTH}×256
    counter grid built from md5-derived row hashes, probed for a fixed
    token set and compared against exact counts — the heavy-hitter /
    frequency-estimation sketch (CM sketch, Cormode & Muthukrishnan)
    that lets a 100 TB pipeline answer "how often does token X occur"
    from kilobytes of state instead of a full-corpus aggregate.

    Scale: r15 — token occurrences collapse to a per-TOKEN count
    first (one vocabulary-keyed shuffle with map-side partials), and
    the sketch cells sum those counts, so the {_CMS_DEPTH}× row-hash
    explode and its md5s run once per DISTINCT token instead of once
    per corpus token occurrence; cell counts are identical because
    count(occurrences hashing to a cell) = Σ count(token) over the
    tokens hashing there. The per-token table persists: it feeds both
    the sketch build and the exact-count comparison (before, the full
    corpus tokenize+explode ran twice). The sketch key space stays
    constant (depth×width = 1024 cells) regardless of corpus size;
    the probe join is a broadcast against the 1024-row sketch. Every
    hash is md5 + integer arithmetic in whole-stage codegen; no
    Python."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    tcnt = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
        .transform(persist_tracked)
    )
    cells = tcnt.select(
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias("r"),
        F.col("token"),
        F.col("true_cnt"),
    ).select(
        "r",
        (
            hex_prefix_int(
                md5_str(F.concat_ws(":", F.col("r").cast("string"), F.col("token")))
            )
            % _CMS_WIDTH
        ).alias("col"),
        "true_cnt",
    )
    sketch = cells.groupBy("r", "col").agg(
        F.sum("true_cnt").cast("long").alias("cnt")
    )
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _CMS_PROBES])).alias("token")
    )
    pcells = probes.select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias("r"),
    ).select(
        "token",
        "r",
        (
            hex_prefix_int(
                md5_str(F.concat_ws(":", F.col("r").cast("string"), F.col("token")))
            )
            % _CMS_WIDTH
        ).alias("col"),
    )
    est = (
        pcells.join(sketch, ["r", "col"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est"))
    )
    return (
        est.join(tcnt, "token", "left")
        .select(
            "token",
            "cms_est",
            F.coalesce(F.col("true_cnt"), F.lit(0)).cast("long").alias("true_cnt"),
            (F.col("cms_est") - F.coalesce(F.col("true_cnt"), F.lit(0)))
            .cast("long")
            .alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# q73 — HyperLogLog distinct-token estimate (integer-exact registers)
# --------------------------------------------------------------------------
_HLL_M = 256  # 2 hex chars of bucket address
_HLL_ALPHA_Q4 = 7213  # alpha_256 ~= 0.7213 on the 1e-4 grid
_HLL_POW32 = 1 << 32


@query(
    "q73_hll_distinct",
    oracle=f"""
WITH t AS (SELECT unnest({sql_tokens('text')}) AS token FROM documents),
h AS (SELECT token, md5(token) AS h FROM t),
c AS (
  SELECT {sql_hex_prefix_int('h', 2)} AS bucket,
         {sql_hex_prefix_int("substr(h, 3, 8)")} AS v
  FROM h
),
r AS (
  SELECT bucket, CAST(max(33 - length(bin(v))) AS BIGINT) AS rho_max
  FROM c WHERE v > 0 GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS occupied,
         CAST(sum(1::BIGINT << (32 - rho_max)) AS BIGINT) AS s_occ
  FROM r
),
d AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS true_distinct FROM t)
SELECT s.occupied,
       CAST(s.s_occ + ({_HLL_M} - s.occupied) * {_HLL_POW32} AS BIGINT) AS s_scaled,
       CAST(({_HLL_ALPHA_Q4} * {_HLL_M * _HLL_M} * {_HLL_POW32})
            // (10000 * (s.s_occ + ({_HLL_M} - s.occupied) * {_HLL_POW32}))
            AS BIGINT) AS hll_est,
       d.true_distinct
FROM s, d
""",
    tags=("text", "sketch", "distinct"),
)
def q73_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token cardinality: 256 registers addressed
    by the first md5 byte, rho = leading-zero rank of the next 32 hash
    bits, harmonic mean on an exact power-of-two integer grid
    (S = sum 2^(32-rho) so the estimate alpha*m^2/sum(2^-rho) becomes
    one integer division) — the constant-state distinct counter
    (Flajolet et al.) a 100 TB pipeline uses instead of
    count(distinct), compared here against the exact answer.

    Scale: register construction is a 256-key hash aggregate — partial
    max per partition, one kilobyte-scale shuffle, mergeable across any
    partitioning (the property that makes HLL work as a distributed
    accumulator). The exact count(distinct) twin exists only to report
    estimation error. rho is computed without libm: 33 - length(bin(v))
    on both engines (bin() prints without leading zeros in Spark and
    DuckDB alike)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    h = tok.select("token", md5_str(F.col("token")).alias("h"))
    c = h.select(
        hex_prefix_int(F.col("h"), 2).alias("bucket"),
        hex_prefix_int(F.substring("h", 3, 8)).alias("v"),
    ).filter(F.col("v") > 0)
    r = (
        c.select(
            "bucket", (F.lit(33) - F.length(F.bin("v"))).cast("long").alias("rho")
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho_max"))
    )
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("occupied"),
        F.sum(F.expr("shiftleft(1L, CAST(32 - rho_max AS INT))"))
        .cast("long")
        .alias("s_occ"),
    )
    d = h.agg(F.countDistinct("token").cast("long").alias("true_distinct"))
    s_scaled = F.col("s_occ") + (F.lit(_HLL_M) - F.col("occupied")) * F.lit(
        _HLL_POW32
    )
    return s.crossJoin(d).select(
        "occupied",
        s_scaled.cast("long").alias("s_scaled"),
        F.expr(
            f"CAST(({_HLL_ALPHA_Q4} * {_HLL_M * _HLL_M} * {_HLL_POW32}) DIV "
            f"(10000 * (s_occ + ({_HLL_M} - occupied) * {_HLL_POW32})) AS BIGINT)"
        ).alias("hll_est"),
        "true_distinct",
    )


# --------------------------------------------------------------------------
# q78 — LM-based document scoring (integer log2 perplexity surrogate)
# --------------------------------------------------------------------------
_NLL_CAP = 20  # ~log2(1e6): nll of a bigram with p_q6 = 1


@query(
    "q78_lm_doc_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {sql_tokens('text')} AS w FROM documents
  WHERE len({sql_tokens('text')}) >= 2
),
bi AS (
  SELECT doc_id, w[i] AS head, w[i + 1] AS tail
  FROM t, unnest(range(1, len(w))) AS u(i)
),
pc AS (
  SELECT head, tail, CAST(count(*) AS BIGINT) AS c_pair
  FROM bi GROUP BY 1, 2
),
hc AS (SELECT head, CAST(sum(c_pair) AS BIGINT) AS c_head FROM pc GROUP BY 1),
lm AS (
  SELECT pc.head, pc.tail,
         greatest((pc.c_pair * 1000000) // hc.c_head, 1) AS p_q6
  FROM pc JOIN hc ON pc.head = hc.head
),
scored AS (
  SELECT bi.doc_id,
         {_NLL_CAP} - (length(bin(lm.p_q6)) - 1) AS nll
  FROM bi JOIN lm ON bi.head = lm.head AND bi.tail = lm.tail
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(nll) AS BIGINT) AS sum_nll,
       CAST((sum(nll) * 1000) // count(*) AS BIGINT) AS avg_nll_q3
FROM scored GROUP BY 1
""",
    tags=("text", "lm", "quality"),
    # r7 verdict #8: in the driver-visible bench headline so the
    # vocabulary-growth watch (q78's 25x ratio) gets a per-round signal
    bench=True,
)
def q78_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document against the corpus bigram LM (q67's model,
    unpruned): per-bigram negative-log2-likelihood surrogate
    nll = {_NLL_CAP} - floor(log2(p_q6)), summed and averaged per doc
    — the perplexity-style quality filter (fluent text scores low,
    garbled/boilerplate text scores high) that data-curation pipelines
    run with a small LM before training a big one. log2 is computed
    exactly as length(bin(x)) - 1 (both engines print minimal-width
    binary), so no cross-engine libm enters the hash.

    Scale: model training collapses the token stream to distinct-pair
    counts (Zipf => huge map-side combine); scoring joins the bigram
    stream against the far-smaller model keyed by (head, tail) — a
    shuffle join whose hot keys ("of the") are exactly what AQE skew
    splitting handles; the per-doc rollup is a partial-then-final
    aggregate keyed by doc_id. Nothing leaves the JVM."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= 2)
    bi = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 2), "
                "i -> struct(w[i] AS head, w[i + 1] AS tail))"
            )
        ).alias("b"),
    ).select("doc_id", "b.head", "b.tail")
    # The bigram stream feeds BOTH the model aggregation and the
    # scoring join; without persist the tokenize+explode scan runs
    # twice (r7 verdict watch, mechanism confirmed r8 by a controlled
    # shared-vocabulary sweep: the elevated 25x ratio was double-scan
    # + partition sizing, not vocabulary growth — the q17/q54 pattern)
    bi = bi.transform(persist_tracked)
    pc = bi.groupBy("head", "tail").agg(
        F.count(F.lit(1)).cast("long").alias("c_pair")
    )
    # c_head as an unbounded window sum over the MODEL (r15, guide §3.5:
    # the aggregate-then-self-join pc⋈hc shape re-shuffled pc by head
    # and re-aggregated it; one window over the already-head-clustered
    # model computes the identical BIGINT sum with one exchange and no
    # join). Window groups are distinct-tails-per-head — vocabulary-
    # bounded under Zipf, the same bound hc's groups had — so no skew
    # hazard is introduced. Interleaved A/B at sf0.1: 1.238 s → 1.131 s
    # median full-build (−8.6%); results bit-identical.
    lm = pc.withColumn(
        "c_head", F.sum("c_pair").over(Window.partitionBy("head"))
    ).select(
        "head",
        "tail",
        F.expr("greatest((c_pair * 1000000) DIV c_head, 1L)").alias("p_q6"),
    )
    scored = bi.join(lm, ["head", "tail"]).select(
        "doc_id",
        (F.lit(_NLL_CAP) - (F.length(F.bin("p_q6")) - F.lit(1))).alias("nll"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("nll").cast("long").alias("sum_nll"),
        F.expr("(sum(nll) * 1000) DIV count(*)").cast("long").alias("avg_nll_q3"),
    )


# --------------------------------------------------------------------------
# q80 — BPE merge candidates (adjacent-pair counts over the word table)
# --------------------------------------------------------------------------
_BPE_TOPK = 20


@query(
    "q80_bpe_merge_candidates",
    oracle=f"""
WITH t AS (SELECT unnest({sql_tokens('text')}) AS word FROM documents),
wf AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM t WHERE length(word) >= 2 GROUP BY 1
),
pairs AS (
  SELECT substr(word, i, 1) AS left_sym,
         substr(word, i + 1, 1) AS right_sym,
         freq
  FROM wf, unnest(range(1, length(word))) AS u(i)
),
pc AS (
  SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS pair_count
  FROM pairs GROUP BY 1, 2
)
SELECT left_sym, right_sym, pair_count
FROM pc
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT {_BPE_TOPK}
""",
    tags=("text", "tokenizer", "bpe"),
)
def q80_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training: count adjacent
    character pairs across the corpus — weighted by word frequency,
    computed over the DISTINCT-word table so a word repeated a million
    times costs one row, not a million — and emit the top {_BPE_TOPK}
    merge candidates (ties broken lexicographically for determinism).

    Scale: the token stream collapses to the word-frequency table
    first (Zipf => the distinct-word table is orders of magnitude
    smaller than the corpus); pair extraction then fans out by
    word LENGTH, not word count. The pair aggregate's key space is
    bounded by |alphabet|^2, so map-side partials collapse it to a
    constant-size shuffle, and the global top-k is a TakeOrdered —
    no full sort. This is exactly how industrial BPE trainers
    (SentencePiece et al.) structure the count pass."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.explode(tokens("text")).alias("word")).filter(
        F.length("word") >= 2
    )
    wf = t.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    pairs = wf.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> struct(substring(word, i, 1) AS left_sym, "
                "substring(word, i + 1, 1) AS right_sym))"
            )
        ).alias("p"),
        "freq",
    ).select("p.left_sym", "p.right_sym", "freq")
    pc = pairs.groupBy("left_sym", "right_sym").agg(
        F.sum("freq").cast("long").alias("pair_count")
    )
    return pc.orderBy(
        F.col("pair_count").desc(), "left_sym", "right_sym"
    ).limit(_BPE_TOPK)


# --------------------------------------------------------------------------
# q81 — histogram-sketch quantiles of document length (vs exact)
# --------------------------------------------------------------------------
_HQ_W = 64  # sketch bucket width (chars)
_HQ_PCTS = (50, 90, 99)
_HQ_PCT_SQL = ", ".join(str(p) for p in _HQ_PCTS)


@query(
    "q81_histogram_quantiles",
    oracle=f"""
WITH hist AS (
  SELECT n_chars // {_HQ_W} AS bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1
),
cum AS (
  SELECT bucket, cnt,
         CAST(sum(cnt) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
  FROM hist
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
tgt AS (
  SELECT p, (n.n * p + 99) // 100 AS r
  FROM unnest(ARRAY[{_HQ_PCT_SQL}]) AS u(p), n
),
est AS (
  SELECT t.p, t.r,
         CAST(c.bucket * {_HQ_W}
              + ((t.r - (c.c - c.cnt)) * {_HQ_W}) // c.cnt AS BIGINT) AS est_chars
  FROM tgt t JOIN cum c ON c.c >= t.r AND c.c - c.cnt < t.r
),
vhist AS (
  SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1
),
vcum AS (
  SELECT v, cnt,
         CAST(sum(cnt) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
  FROM vhist
),
truth AS (
  SELECT t.p, CAST(vc.v AS BIGINT) AS true_chars
  FROM tgt t JOIN vcum vc ON vc.c >= t.r AND vc.c - vc.cnt < t.r
)
SELECT CAST(e.p AS BIGINT) AS p,
       CAST(e.r AS BIGINT) AS rank_r,
       e.est_chars,
       tr.true_chars,
       CAST(e.est_chars - tr.true_chars AS BIGINT) AS err_chars
FROM est e JOIN truth tr ON e.p = tr.p
""",
    tags=("text", "sketch", "quantile"),
)
def q81_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles of document length from a fixed-width
    ({_HQ_W}-char-bucket) histogram — linear interpolation inside the
    hit bucket — compared against the EXACT quantile computed from a
    value-keyed histogram. Both are histogram scans: the engine never
    globally sorts the corpus, which is how a 100 TB pipeline answers
    "p99 document length" (the sketch needs #value-range/{_HQ_W}
    counters; the exact path needs one counter per distinct length —
    still bounded, unlike a sort by rows).

    Scale: two partial-then-final hash aggregates (constant key
    spaces), two cumulative windows over bucket-count-sized frames
    (thousands of rows, one task each, independent of corpus size),
    and rank probes as tiny joins. Ceil-rank r = (N*p + 99) DIV 100
    and the interpolation are pure integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy(F.expr(f"n_chars DIV {_HQ_W}").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bucket", "cnt", F.sum("cnt").over(wb).cast("long").alias("c"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tgt = (
        n.select(
            F.explode(F.array(*[F.lit(p) for p in _HQ_PCTS])).alias("p"), "n"
        )
        .select("p", F.expr("(n * p + 99) DIV 100").alias("r"))
    )
    est = tgt.join(
        cum, (F.col("c") >= F.col("r")) & (F.col("c") - F.col("cnt") < F.col("r"))
    ).select(
        "p",
        "r",
        F.expr(
            f"bucket * {_HQ_W} + ((r - (c - cnt)) * {_HQ_W}) DIV cnt"
        ).cast("long").alias("est_chars"),
    )
    vhist = docs.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    vcum = vhist.select("v", "cnt", F.sum("cnt").over(wv).cast("long").alias("c"))
    truth = tgt.join(
        vcum, (F.col("c") >= F.col("r")) & (F.col("c") - F.col("cnt") < F.col("r"))
    ).select("p", F.col("v").cast("long").alias("true_chars"))
    return est.join(truth, "p").select(
        F.col("p").cast("long").alias("p"),
        F.col("r").cast("long").alias("rank_r"),
        "est_chars",
        "true_chars",
        (F.col("est_chars") - F.col("true_chars")).cast("long").alias("err_chars"),
    )


# --------------------------------------------------------------------------
# q94 — per-source token-distribution drift (KL-surrogate mixture monitor)
# --------------------------------------------------------------------------
_DRIFT_V = 100  # vocabulary: top-V corpus tokens (deterministic tiebreak)
_DRIFT_SCALE = 1_000_000  # probability grid (1e-6)
_DRIFT_LOG_CENTER = 9  # floor(log2(1000)): ratio grid is 1e3, q==p -> 0


@query(
    "q94_source_drift",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({sql_tokens('text')}) AS tok FROM documents
),
call AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_all FROM tok GROUP BY 1),
vocab AS (
  SELECT tok, c_all FROM call ORDER BY c_all DESC, tok ASC LIMIT {_DRIFT_V}
),
tot AS (SELECT CAST(sum(c_all) AS BIGINT) AS t_all FROM vocab),
src AS (
  SELECT t.source, t.tok, CAST(count(*) AS BIGINT) AS c_src
  FROM tok t JOIN vocab v ON t.tok = v.tok
  GROUP BY 1, 2
),
stot AS (SELECT source, CAST(sum(c_src) AS BIGINT) AS t_src FROM src GROUP BY 1),
terms AS (
  SELECT s.source,
         s.c_src * {_DRIFT_SCALE} // st.t_src AS q_q6,
         v.c_all * {_DRIFT_SCALE} // tt.t_all AS p_q6
  FROM src s
  JOIN stot st ON s.source = st.source
  JOIN vocab v ON s.tok = v.tok
  CROSS JOIN tot tt
)
SELECT source,
       CAST(max(t_src) AS BIGINT) AS vocab_tokens,
       CAST(sum(q_q6 * ((length(bin(q_q6 * 1000 // p_q6)) - 1)
                        - {_DRIFT_LOG_CENTER})) AS BIGINT) AS drift_score
FROM terms JOIN stot USING (source)
GROUP BY 1
""",
    tags=("text", "drift", "monitoring"),
)
def q94_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-drift monitor: a KL-divergence surrogate between each
    source's token distribution and the corpus distribution over the
    top-{_DRIFT_V} vocabulary — the recurring health check a training-
    data pipeline runs per ingest batch ("did src7 suddenly turn into
    navigation boilerplate?"). Probabilities live on the 1e-6 integer
    grid; log2 is the exact floor form length(bin(x))-1 (identical in
    both engines, no libm), centered so q == p contributes 0.

    Scale: one explode feeds two hash aggregates (corpus census and
    per-(source, token) counts — both partial-agg, token-keyed, no hot
    keys beyond true stopwords); the vocabulary is a {_DRIFT_V}-row
    TakeOrdered broadcast; everything after is vocab×sources sized,
    i.e. metadata scale. No floats anywhere.

    r15 note — merging the two aggregates into one (source, token)
    census (to scan the corpus once) was tried and REVERTED: the
    merged census shuffles a |sources|×-larger key space with weaker
    map-side collapse, while the original second pass pre-filters by
    the broadcast vocabulary BEFORE aggregating, so it shuffles only
    vocab-hit rows; measured 0.94 → 1.55 s warm at sf0.1. Two cheap
    passes beat one expensive pass here."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("tok"))
    call = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c_all"))
    vocab = call.orderBy(F.col("c_all").desc(), F.col("tok").asc()).limit(_DRIFT_V)
    tot = vocab.agg(F.sum("c_all").cast("long").alias("t_all"))
    src = (
        tok.join(F.broadcast(vocab.select("tok")), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c_src"))
    )
    stot = src.groupBy("source").agg(F.sum("c_src").cast("long").alias("t_src"))
    terms = (
        src.join(stot, "source")
        .join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "t_src",
            F.expr(f"c_src * {_DRIFT_SCALE} DIV t_src").alias("q_q6"),
            F.expr(f"c_all * {_DRIFT_SCALE} DIV t_all").alias("p_q6"),
        )
    )
    return terms.groupBy("source").agg(
        F.max("t_src").cast("long").alias("vocab_tokens"),
        F.sum(
            F.expr(
                f"q_q6 * ((length(bin(q_q6 * 1000 DIV p_q6)) - 1) "
                f"- {_DRIFT_LOG_CENTER})"
            )
        )
        .cast("long")
        .alias("drift_score"),
    )


# --------------------------------------------------------------------------
# q99 — corpus novelty curve (crawl-saturation measurement)
# --------------------------------------------------------------------------
_NV_BUCKET = 50  # docs per ingest batch in the curve
_NV_KEY_HEX = 12  # 48-bit gram keys (same discipline as q44)
_NV_SCALE = 1_000_000


@query(
    "q99_novelty_curve",
    oracle=f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS w FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         {sql_hex_prefix_int("md5(gram)", _NV_KEY_HEX)} AS gk
  FROM (
    SELECT doc_id, unnest({sql_shingles('w', 3)}) AS gram
    FROM t WHERE len(w) >= 3
  )
),
firstd AS (SELECT gk, min(doc_id) AS fd FROM g GROUP BY 1),
bkt AS (
  SELECT g.doc_id // {_NV_BUCKET} AS bucket,
         count(*) AS n_grams,
         sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS n_new
  FROM g JOIN firstd f ON g.gk = f.gk GROUP BY 1
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(n_new * {_NV_SCALE} // n_grams AS BIGINT) AS novelty_q6
FROM bkt
""",
    tags=("text", "novelty", "curation"),
)
def q99_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-saturation curve: per {_NV_BUCKET}-doc ingest batch, the
    fraction of its distinct 3-grams never seen in ANY earlier doc —
    the diminishing-returns measurement ("is another month of this
    crawl still adding information?") behind dedup-ROI and
    stop-crawling decisions. On this corpus novelty falls from ~95%
    in batch 0 to ~40% by batch 9: visible saturation.

    Scale: grams are 48-bit md5 keys (q44's discipline — fixed-width
    shuffle keys, documented collision rate ~n²/2⁴⁹); first-occurrence
    is a gram-keyed min aggregate (map-side partials). r15: the
    curve's two counts come from two independent rollups — per-bucket
    gram rows directly from the gram table, per-bucket novel grams
    from the first-occurrence table (a gram is new in the bucket of
    its min doc_id, by definition) — joined at |buckets| granularity,
    replacing the gram-keyed join that shipped the corpus-scale gram
    table through a second shuffle just to tag each row with its
    gram's min; the gram table persists for its two aggregate
    readers (it was computed twice before). Nothing quadratic, no
    windows, no skew hot-spots."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= 3)
    g = (
        t.select("doc_id", F.explode(shingles("w", 3)).alias("gram"))
        .select(
            "doc_id",
            hex_prefix_int(
                F.md5(F.encode(F.col("gram"), "UTF-8")), _NV_KEY_HEX
            ).alias("gk"),
        )
        .distinct()
        .transform(persist_tracked)
    )
    bcnt = g.groupBy(F.expr(f"doc_id DIV {_NV_BUCKET}").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    newc = (
        g.groupBy("gk")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy(F.expr(f"fd DIV {_NV_BUCKET}").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    return bcnt.join(newc, "bucket", "left").select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_grams",
        F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        F.expr(
            f"CAST(COALESCE(n_new, 0L) * {_NV_SCALE} DIV n_grams AS BIGINT)"
        ).alias("novelty_q6"),
    )


# --------------------------------------------------------------------------
# q104 — n-gram diversity (compression-ratio quality proxy)
# --------------------------------------------------------------------------
_DIV_N = 4  # 4-gram diversity, the "zlib ratio" surrogate
_DIV_SCALE = 1_000_000
_DIV_REP_Q6 = 300_000  # diversity < 0.3 -> repetitive/boilerplate


@query(
    "q104_ngram_diversity",
    oracle=f"""
WITH t AS (SELECT doc_id, {sql_tokens('text')} AS w FROM documents),
g AS (
  SELECT doc_id,
         CAST(len(w) - {_DIV_N - 1} AS BIGINT) AS total_grams,
         CAST(len(list_distinct({sql_shingles('w', _DIV_N)})) AS BIGINT)
           AS distinct_grams
  FROM t WHERE len(w) >= {_DIV_N}
)
SELECT doc_id, total_grams, distinct_grams,
       CAST(distinct_grams * {_DIV_SCALE} // total_grams AS BIGINT)
         AS diversity_q6,
       CAST(distinct_grams * {_DIV_SCALE} // total_grams < {_DIV_REP_Q6}
            AS BIGINT) AS is_repetitive
FROM g
""",
    tags=("text", "quality", "diversity"),
)
def q104_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality proxy: distinct/total {_DIV_N}-gram
    ratio per document — the cheap stand-in for the zlib-compressibility
    filter real pipelines use (machine-generated or boilerplate text
    compresses well ⇔ repeats its n-grams ⇔ low diversity). Documents
    under {_DIV_REP_Q6 / _DIV_SCALE} diversity are flagged.

    Scale: entirely per-row array arithmetic inside whole-stage
    codegen (shingle + array_distinct + size) — ZERO shuffles, no
    explode, no Python; the cheapest possible quality signal to add
    to a 100 TB scan, and the plan test pins the no-Exchange shape."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("w")).filter(
        F.size("w") >= _DIV_N
    )
    g = t.select(
        "doc_id",
        (F.size("w") - (_DIV_N - 1)).cast("long").alias("total_grams"),
        F.size(F.array_distinct(shingles("w", _DIV_N))).cast("long").alias(
            "distinct_grams"
        ),
    )
    return g.select(
        "doc_id",
        "total_grams",
        "distinct_grams",
        F.expr(f"CAST(distinct_grams * {_DIV_SCALE} DIV total_grams AS BIGINT)").alias(
            "diversity_q6"
        ),
        F.expr(
            f"CAST(distinct_grams * {_DIV_SCALE} DIV total_grams < {_DIV_REP_Q6} "
            f"AS BIGINT)"
        ).alias("is_repetitive"),
    )


# --------------------------------------------------------------------------
# q108 — grouped HyperLogLog: per-source distinct tokens with error report
# --------------------------------------------------------------------------
@query(
    "q108_hll_by_source",
    oracle=f"""
WITH t AS (
  SELECT source, unnest({sql_tokens('text')}) AS token FROM documents
),
h AS (SELECT source, token, md5(token) AS h FROM t),
c AS (
  SELECT source, {sql_hex_prefix_int('h', 2)} AS bucket,
         {sql_hex_prefix_int("substr(h, 3, 8)")} AS v
  FROM h
),
r AS (
  SELECT source, bucket, CAST(max(33 - length(bin(v))) AS BIGINT) AS rho_max
  FROM c WHERE v > 0 GROUP BY 1, 2
),
s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS occupied,
         CAST(sum(1::BIGINT << (32 - rho_max)) AS BIGINT) AS s_occ
  FROM r GROUP BY 1
),
d AS (SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS true_distinct
      FROM t GROUP BY 1),
est AS (
  SELECT s.source, s.occupied,
         CAST(({_HLL_ALPHA_Q4} * {_HLL_M * _HLL_M} * {_HLL_POW32})
              // (10000 * (s.s_occ + ({_HLL_M} - s.occupied) * {_HLL_POW32}))
              AS BIGINT) AS hll_est,
         d.true_distinct
  FROM s JOIN d ON s.source = d.source
)
SELECT source, occupied, hll_est, true_distinct,
       CAST(abs(hll_est - true_distinct) * 10000 // true_distinct AS BIGINT)
         AS abs_err_q4
FROM est
""",
    tags=("text", "sketch", "distinct", "grouped"),
)
def q108_hll_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HyperLogLog — q73's sketch in its grouped form: one
    256-register estimator PER SOURCE, each compared to that source's
    exact distinct-token count with relative error. This is the form a
    100 TB pipeline actually runs ("distinct terms per crawl feed")
    and it demonstrates the property that matters: registers aggregate
    with a plain (group, bucket)-keyed max, so the sketch composes
    with any GROUP BY for the cost of a (sources × 256)-row shuffle —
    no giant distinct-set state per group.

    rho and the harmonic sum stay on exact integer grids (q73's
    discipline); the error column shows the ±1/sqrt(256) ≈ 6% band
    the m=256 sketch promises."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("token"))
    # r15: BOTH consumers (the register sketch — max rho is
    # duplicate-insensitive — and the exact distinct count) only need
    # DISTINCT (source, token), so occurrences collapse once up front
    # (map-side partial distinct) and the md5 runs per distinct token
    # per source, not per corpus occurrence; the distinct table
    # persists for its two readers (the full tokenize+explode ran
    # twice before)
    dt = tok.distinct().transform(persist_tracked)
    h = dt.select("source", "token", md5_str(F.col("token")).alias("h"))
    c = h.select(
        "source",
        hex_prefix_int(F.col("h"), 2).alias("bucket"),
        hex_prefix_int(F.substring("h", 3, 8)).alias("v"),
    ).filter(F.col("v") > 0)
    r = (
        c.select(
            "source",
            "bucket",
            (F.lit(33) - F.length(F.bin("v"))).cast("long").alias("rho"),
        )
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("rho_max"))
    )
    s = r.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("occupied"),
        F.sum(F.expr("shiftleft(1L, CAST(32 - rho_max AS INT))"))
        .cast("long")
        .alias("s_occ"),
    )
    d = dt.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("true_distinct")
    )
    est = s.join(d, "source").select(
        "source",
        "occupied",
        F.expr(
            f"CAST(({_HLL_ALPHA_Q4} * {_HLL_M * _HLL_M} * {_HLL_POW32}) DIV "
            f"(10000 * (s_occ + ({_HLL_M} - occupied) * {_HLL_POW32})) AS BIGINT)"
        ).alias("hll_est"),
        "true_distinct",
    )
    return est.withColumn(
        "abs_err_q4",
        F.expr(
            "CAST(abs(hll_est - true_distinct) * 10000 DIV true_distinct AS BIGINT)"
        ),
    )


# --------------------------------------------------------------------------
# q110 — language-ID confusion matrix (classifier evaluation)
# --------------------------------------------------------------------------
_LE_SCALE = 1_000_000


@query(
    "q110_langid_eval",
    oracle=f"""
WITH m(cand_lang, tok) AS (VALUES {_MARKER_VALUES}),
t AS (SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents),
sc AS (
  SELECT t.doc_id, m.cand_lang, count(*) AS n
  FROM t JOIN m ON t.tok = m.tok
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, cand_lang, n,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, cand_lang ASC) AS rk
  FROM sc
),
pred AS (
  SELECT d.lang, coalesce(b.cand_lang, 'und') AS pred_lang
  FROM documents d
  LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
),
cell AS (
  SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY 1, 2
),
tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cell GROUP BY 1)
SELECT c.lang, c.pred_lang, c.n, t.n_lang,
       CAST(c.n * {_LE_SCALE} // t.n_lang AS BIGINT) AS share_q6,
       CAST(c.lang = c.pred_lang AS BIGINT) AS is_correct
FROM cell c JOIN tot t ON c.lang = t.lang
""",
    tags=("text", "langid", "eval"),
)
def q110_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation for the q24 language identifier: the full
    (actual, predicted) confusion matrix with per-actual-language
    recall shares — the quality gate you run on a lang-ID heuristic
    before trusting it to route a 100 TB corpus into per-language
    pipelines. Diagonal rows (is_correct = 1) carry recall; off-
    diagonal rows show exactly which languages the marker table
    confuses.

    Scale: reuses q24's plan (broadcast marker table, doc-keyed count,
    WindowGroupLimit argmax) and adds only a (lang, pred)-keyed
    aggregate — the matrix is |langs|² rows, metadata-sized."""
    pred = q24_langid(spark, sf_dir).select("lang", "pred_lang")
    # persisted (r15): the |langs|²-row matrix feeds both the
    # per-language totals and the final join — without persist each
    # reference re-ran the whole q24 classifier over the corpus
    cell = (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(persist_tracked)
    )
    tot = cell.groupBy("lang").agg(F.sum("n").cast("long").alias("n_lang"))
    return (
        cell.join(tot, "lang")
        .select(
            "lang",
            "pred_lang",
            "n",
            "n_lang",
            F.expr(f"CAST(n * {_LE_SCALE} DIV n_lang AS BIGINT)").alias("share_q6"),
            (F.col("lang") == F.col("pred_lang")).cast("long").alias("is_correct"),
        )
    )


# --------------------------------------------------------------------------
# q113 — robust length stats (value histogram)
# --------------------------------------------------------------------------
@query(
    "q113_robust_length_stats",
    oracle="""
WITH m AS (
  SELECT source, CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS median_len,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
)
SELECT d.source, m.n_docs, m.median_len,
       CAST(quantile_disc(abs(d.n_chars - m.median_len), 0.5) AS BIGINT) AS mad_len
FROM documents d JOIN m ON d.source = m.source
GROUP BY 1, 2, 3
""",
    tags=("text", "robust-stats", "histogram"),
)
def q113_robust_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust length statistics (discrete median + MAD) via
    a value histogram — the q81 shape. Median/MAD are the
    outlier-resistant screen a curation pipeline uses where
    mean/stddev would be dragged by the long tail.

    Why not grouped-map: ``groupBy(source).applyInPandas`` delivers
    each group as ONE pandas frame — corpus/|sources| rows per task,
    an executor OOM at 100 TB. A discrete quantile over an integer
    column only needs the (source, n_chars) → count histogram, whose
    size is bounded by |sources| × |distinct lengths| (metadata-scale
    at any corpus size), and a cumulative-sum walk to the target rank.
    pandas ``quantile(0.5, interpolation='lower')`` picks 0-based
    index floor((n-1)/2); the cumulative filter mirrors that exactly,
    so the result is still bit-equal to DuckDB ``quantile_disc``.

    Scale: the histogram aggregate (partial+final, keyed
    (source, n_chars)) does the only data-sized shuffle; the windows
    then repartition the metadata-sized histogram by ``source`` once,
    and every later stage — per-source total, median pick, deviation
    re-histogram, MAD pick — reuses that source partitioning (Spark
    satisfies a groupBy whose keys are a superset of the incoming
    hash partitioning without a new Exchange). Plan guard asserts no
    pandas/Python stage and ≤2 Exchanges."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    hist = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_src = Window.partitionBy("source")
    w_cum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rank = F.expr("(n_docs - 1) DIV 2 + 1")
    h = hist.select(
        "source",
        "n_chars",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_src).alias("n_docs"),
    )
    # discrete median = smallest value whose cumulative count reaches
    # the target rank, lifted to every row of the source via a window
    # min (keeps the whole derivation inside one source partitioning)
    h = h.select(
        "source",
        "n_chars",
        "cnt",
        "n_docs",
        F.min(F.when(F.col("cum") >= rank, F.col("n_chars")))
        .over(w_src)
        .alias("median_len"),
    )
    dev_hist = h.groupBy(
        "source",
        "n_docs",
        "median_len",
        F.abs(F.col("n_chars") - F.col("median_len")).alias("dev"),
    ).agg(F.sum("cnt").alias("dcnt"))
    w_dev = (
        Window.partitionBy("source")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = dev_hist.select(
        "source",
        "n_docs",
        "median_len",
        "dev",
        F.sum("dcnt").over(w_dev).alias("dcum"),
    )
    return (
        d.filter(F.col("dcum") >= rank)
        .groupBy("source", "n_docs", "median_len")
        .agg(F.min("dev").cast("long").alias("mad_len"))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("median_len").cast("long").alias("median_len"),
            "mad_len",
        )
    )
