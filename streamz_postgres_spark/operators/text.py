"""Text-analysis operators for training-data pipelines (SURVEY §2.8):
corpus stats, token counting, quality scoring, language ID, tf-idf,
rolling-hash fingerprints.

All pure Catalyst expressions (explode + groupBy + HOFs) — no Python
in the hot path. Every operator is exact-checked against the DuckDB
oracle; transcendentals (idf) go through qround.

Scale notes: these all reduce to one explode (tokens) + hash
aggregations -> shuffle O(docs + vocab), never O(tokens); the lang-ID
signature table is tiny (langs x 20) and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.numeric import (
    davg,
    dsum,
    qround,
    sql_davg,
    sql_dsum,
    sql_qround,
)
from streamz_postgres_spark.functions.text_features import (
    FP_MOD,
    hash60,
    shingles,
    sql_hash60,
    sql_shingles,
    sql_tokens,
    tokens,
)
from streamz_postgres_spark.registry import register

#: tiny "stopword" list drawn from the fixtures' SQL-themed vocab;
#: at 100 TB this is a broadcast set per language.
_STOPWORDS = ("join", "hash", "row", "scan", "filter")
_SQL_STOPWORDS = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"
_SIG_SIZE = 20


@register(
    "q_text_stats",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       {sql_dsum("len(string_split(text, ' '))")} AS total_tokens,
       {sql_davg("len(string_split(text, ' '))")} AS avg_tokens,
       {sql_davg('n_chars')} AS avg_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang
""",
    tags=("text",),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokens("text"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        dsum(ntok.cast("double")).alias("total_tokens"),
        davg(ntok.cast("double")).alias("avg_tokens"),
        davg("n_chars").alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q_text_tokens",
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_unique,
       CAST(list_sum(list_transform(string_split(text, ' '),
            w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT)
         AS n_subword_est,
       length(text) AS n_chars_measured
FROM documents
""",
    tags=("text",),
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish subword
    estimate (ceil(len/4) pieces per word — the standard ~4 chars/
    token heuristic), computed as integer HOF arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    tok = tokens("text")
    sub = F.aggregate(
        F.transform(tok, lambda w: F.ceil(F.length(w) / 4.0).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size(tok).alias("n_ws_tokens"),
        F.size(F.array_distinct(tok)).alias("n_unique"),
        sub.alias("n_subword_est"),
        F.length("text").alias("n_chars_measured"),
    )


@register(
    "q_text_quality",
    oracle=f"""
SELECT doc_id, lang,
       n_tok,
       CAST(n_uniq AS DOUBLE) / n_tok AS unique_ratio,
       CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio,
       CAST(len_chars AS DOUBLE) / n_tok AS avg_word_len,
       CASE WHEN n_tok >= 40 AND CAST(n_uniq AS DOUBLE) / n_tok >= 0.4
            THEN 'good'
            WHEN n_tok >= 20 THEN 'fair'
            ELSE 'short' END AS quality_bucket
FROM (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         len(list_filter(string_split(text, ' '),
             w -> w IN {_SQL_STOPWORDS})) AS n_stop,
         length(replace(text, ' ', '')) AS len_chars
  FROM documents
) t
""",
    tags=("text",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, lexical diversity, stopword ratio,
    mean word length, bucketed verdict — the usual pre-training
    filter features."""
    d = load_table(spark, sf_dir, "documents")
    tok = tokens("text")
    n_tok = F.size(tok)
    n_uniq = F.size(F.array_distinct(tok))
    n_stop = F.size(F.filter(tok, lambda w: w.isin(*_STOPWORDS)))
    len_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    uniq_ratio = n_uniq.cast("double") / n_tok
    return d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        uniq_ratio.alias("unique_ratio"),
        (n_stop.cast("double") / n_tok).alias("stopword_ratio"),
        (len_chars.cast("double") / n_tok).alias("avg_word_len"),
        F.when((n_tok >= 40) & (uniq_ratio >= 0.4), "good")
        .when(n_tok >= 20, "fair")
        .otherwise("short")
        .alias("quality_bucket"),
    )


@register(
    "q_text_langid",
    oracle="""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
  FROM documents
),
freq AS (
  -- signatures are trained from LABELED docs only: a NULL lang is
  -- not a language and must not become a predictable class (it
  -- also ties engine-divergently: Spark sorts NULLS FIRST asc,
  -- DuckDB NULLS LAST; hostile-sweep v5 find). Unlabeled docs are
  -- still scored below.
  SELECT lang, token, COUNT(*) AS cnt FROM tok
  WHERE lang IS NOT NULL
  GROUP BY lang, token
),
sig AS (
  SELECT lang, token FROM (
    SELECT lang, token,
           row_number() OVER (PARTITION BY lang
                              ORDER BY cnt DESC, token) AS rn
    FROM freq
  ) r WHERE rn <= 20
),
doc_tok AS (SELECT DISTINCT doc_id, lang, token FROM tok),
scores AS (
  SELECT d.doc_id, d.lang AS actual_lang, s.lang AS cand_lang,
         COUNT(*) AS n_matched
  FROM doc_tok d JOIN sig s ON d.token = s.token
  GROUP BY d.doc_id, d.lang, s.lang
)
SELECT doc_id, actual_lang, cand_lang AS predicted_lang, n_matched
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY n_matched DESC, cand_lang) AS rn
  FROM scores
) ranked
WHERE rn = 1
""",
    tags=("text", "langid"),
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-frequency language ID: per-language signature = top-20
    tokens by frequency (trained from the corpus itself); each doc
    scored by distinct-token overlap with every signature; argmax
    with deterministic tiebreaks. The signature table is tiny and
    broadcast; scoring is an inverted-index equi-join, not a cross
    join."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(tokens("text")).alias("token"))
    freq = (
        tok.filter(F.col("lang").isNotNull())
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
    sig = F.broadcast(
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SIG_SIZE)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    # per-doc array_distinct BEFORE the explode (r13, guide §2.3:
    # shuffle fewer bytes): repeated tokens collapse row-locally, so
    # the cross-row distinct — still required, because a PK-duplicated
    # corpus must yield ONE (doc_id, lang, token) row to match the
    # oracle's SELECT DISTINCT — shuffles the per-doc vocabulary
    # instead of every token occurrence.
    doc_tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(tokens("text"))).alias("token"),
    ).distinct()
    scores = (
        doc_tok.join(sig, "token")
        .groupBy("doc_id", F.col("lang").alias("actual_lang"), "cand_lang")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    w2 = Window.partitionBy("doc_id").orderBy(
        F.col("n_matched").desc(), "cand_lang"
    )
    return (
        scores.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "actual_lang",
            F.col("cand_lang").alias("predicted_lang"),
            "n_matched",
        )
    )


@register(
    "q_text_tfidf",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         tf.tf * {sql_qround('LN(CAST(n.n_docs AS DOUBLE) / df.df)', 6)}
           AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT doc_id, token, tf, df, tfidf
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rn
  FROM scored
) ranked
WHERE rn <= 3 AND doc_id < 100
""",
    tags=("text", "tfidf"),
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF term scoring: document frequencies joined back to term
    frequencies, idf through qround, top-3 terms per doc (bounded to
    doc_id < 100 to keep the checked output small). df is a
    broadcastable vocab-size table."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df feeds countDistinct (a distinct-expand shuffle); collapsing
    # repeats row-locally first shrinks its input to the per-doc
    # vocabulary (r13, guide §2.3). countDistinct stays — a
    # PK-duplicated corpus must count a doc once, as the oracle's
    # COUNT(DISTINCT doc_id) does.
    dtok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token")
    )
    df = dtok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = qround(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "token", "tf", "df", (F.col("tf") * idf).alias("tfidf")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "token", "tf", "df", "tfidf")
    )


@register(
    "q_text_fingerprint",
    oracle=f"""
WITH fp AS (
  -- the NULL guard keeps a NULL document's fingerprint NULL: DuckDB's
  -- list_prepend(0, NULL) is [0] (folding to fingerprint 0 — the
  -- EMPTY document's value), while Spark's aggregate over a NULL
  -- array is NULL, which is the correct "no content" answer
  -- (hostile-fixture sweep find, r12)
  SELECT doc_id, lang,
         CASE WHEN text IS NULL THEN NULL ELSE
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform({sql_tokens('text')},
                            t -> {sql_hash60('t')} % {FP_MOD})),
           (acc, h) -> (acc * 31 + h) % {FP_MOD}) END AS fingerprint
  FROM documents
)
SELECT doc_id, lang, fingerprint FROM fp
""",
    tags=("text", "fingerprint"),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint: polynomial
    hash (base 31 mod 2^31-1) over the token sequence — distinguishes
    reordered docs that token-set dedup would merge. Pure integer HOF
    fold, bit-identical in both engines."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.aggregate(
        F.transform(tokens("text"), lambda t: hash60(t) % F.lit(FP_MOD)),
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * 31 + h) % F.lit(FP_MOD),
    )
    return d.select("doc_id", "lang", fp.alias("fingerprint"))


@register(
    "q_text_repetition",
    oracle=f"""
SELECT doc_id, lang,
       n_bigrams,
       n_distinct,
       {sql_qround('1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams', 6)}
         AS rep_ratio
FROM (
  SELECT doc_id, lang,
         COUNT(*) AS n_bigrams,
         COUNT(DISTINCT bg) AS n_distinct
  FROM (
    SELECT doc_id, lang,
           unnest({sql_shingles(sql_tokens('text'), 2)}) AS bg
    FROM documents
  ) t
  GROUP BY doc_id, lang
) s
WHERE n_bigrams > 0
""",
    tags=("text", "quality"),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score (Gopher-style quality rule,
    public methodology): fraction of duplicate word bigrams —
    high-repetition docs are boilerplate/spam candidates. One explode
    + per-doc count/count-distinct: shuffle O(docs x distinct
    bigrams), embarrassingly parallel per doc at any scale."""
    d = load_table(spark, sf_dir, "documents")
    bg = d.select(
        "doc_id", "lang", F.explode(shingles(tokens("text"), 2)).alias("bg")
    )
    agg = (
        bg.groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("bg").alias("n_distinct"),
        )
        .filter(F.col("n_bigrams") > 0)
    )
    rep = 1.0 - F.col("n_distinct").cast("double") / F.col("n_bigrams")
    return agg.select(
        "doc_id", "lang", "n_bigrams", "n_distinct",
        qround(rep, 6).alias("rep_ratio"),
    )


@register(
    "q_text_entropy",
    oracle="""
SELECT doc_id,
       (CAST(FLOOR((-(CAST(SUM(CAST((term) AS DECIMAL(38,6))) AS DOUBLE))) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0) AS entropy_bits
FROM (
  SELECT doc_id, (CAST(n AS DOUBLE)/tot) * log2(CAST(n AS DOUBLE)/tot) AS term
  FROM (
    SELECT doc_id, token, COUNT(*) AS n,
           SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS tot
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ) t
    GROUP BY doc_id, token
  ) c
) terms
GROUP BY doc_id
""",
    tags=("text", "quality"),
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy — the low-entropy tail is
    keyword-stuffing/boilerplate, the high-entropy tail is noise;
    both are standard pretraining quality cut candidates. Token
    counts via one explode + agg, totals via a per-doc window, then
    a rounded (qround, engine-exact arithmetic) entropy sum; shuffle
    is O(docs x vocab-per-doc)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    counts = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("doc_id")
    p = F.col("n").cast("double") / F.sum("n").over(tot)
    terms = counts.select(
        "doc_id", (p * F.log2(p)).alias("term")
    )
    return terms.groupBy("doc_id").agg(
        qround(-dsum("term"), 6).alias("entropy_bits")
    )


@register(
    "q_vocab_topk",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token, COUNT(*) AS n_occurrences
FROM tok
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 20
""",
    tags=("text", "topk"),
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: the 20 most frequent tokens
    (deterministic tiebreak on the token itself). Two-phase under the
    hood: map-side partial counts collapse the exploded token stream
    before the exchange (shuffle bytes ~ vocabulary, not corpus), and
    the ordered limit runs as TakeOrderedAndProject — per-partition
    top-20 then a 20-row merge, never a global sort. This is the
    exact-count baseline a count-min/SpaceSaving sketch would relax
    when the vocabulary itself stops fitting."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(20)
    )


_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_text_bm25",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS DECIMAL(38,6)))
                  AS DOUBLE) / COUNT(*) AS avgdl
      FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dl.dl,
         {sql_qround('LN((CAST(n.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)', 6)}
           * (tf.tf * CAST({_BM25_K1} + 1.0 AS DOUBLE))
           / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
              * (CAST(1.0 - {_BM25_B} AS DOUBLE)
                 + CAST({_BM25_B} AS DOUBLE) * dl.dl / n.avgdl))
           AS bm25
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN df ON tf.token = df.token
  CROSS JOIN n
)
SELECT doc_id, token, tf, dl, bm25
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY bm25 DESC, token) AS rn
  FROM scored
) ranked
WHERE rn <= 3 AND doc_id < 100
""",
    tags=("text", "retrieval"),
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 term scoring (k1=1.2, b=0.75) — the retrieval-
    standard upgrade of tf-idf: term saturation via k1 and document-
    length normalization against the corpus average. Same plan shape
    as q_text_tfidf plus one per-doc length join; df and the
    (n_docs, avgdl) singleton broadcast, so the corpus-side cost is
    one exploded-token pass. The idf goes through qround (ln differs
    by ulps across engines); everything after is plain IEEE
    arithmetic on exact inputs, so scores hash-match. avgdl uses the
    exact decimal mean — partition-order-independent. Gotcha baked
    into the oracle: DuckDB parses bare numeric literals as exact
    DECIMALs (1.2 + 1.0 = exactly 2.2), while the Spark side folds
    them as binary doubles — every constant in the oracle is CAST to
    DOUBLE so both engines multiply by the same inexact 2.2."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # dl = one more pass over tf (already doc_id-partitioned), NOT a
    # second aggregation of the exploded token stream + join back —
    # saves a full-corpus exchange; the window shares its partitioning
    # with the final rank window
    dl_w = Window.partitionBy("doc_id")
    tf = tf.withColumn("dl", F.sum("tf").over(dl_w))
    n = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (dsum(F.size(tokens("text")).cast("double")) / F.count(F.lit(1))).alias(
            "avgdl"
        ),
    )
    idf = qround(
        F.log(
            (F.col("n_docs").cast("double") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
            + 1.0
        ),
        6,
    )
    k1, b = _BM25_K1, _BM25_B
    scored = (
        tf.join(F.broadcast(tok.groupBy("token").agg(
            F.countDistinct("doc_id").alias("df"))), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "dl",
            (
                idf
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("bm25").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "token", "tf", "dl", "bm25")
    )


# -- collocation mining -----------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


@register(
    "q_pmi_collocations",
    oracle=f"""
WITH toks AS (
  SELECT unnest({sql_tokens('text')}) AS w FROM documents
),
uni AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS cx FROM toks GROUP BY w),
n1 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t1 FROM toks),
big AS (
  SELECT unnest({sql_shingles(sql_tokens('text'), 2)}) AS bg
  FROM documents
),
bc AS (
  SELECT bg, COUNT(*) AS n FROM big
  GROUP BY bg HAVING COUNT(*) >= {_PMI_MIN_COUNT}
),
n2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t2 FROM big)
SELECT bg AS bigram, CAST(bc.n AS BIGINT) AS n,
       {sql_qround(
           "ln((CAST(bc.n AS DOUBLE) / t2)"
           " / ((u1.cx / t1) * (u2.cx / t1)))", 9)} AS pmi
FROM bc
CROSS JOIN n1 CROSS JOIN n2
JOIN uni u1 ON string_split(bg, ' ')[1] = u1.w
JOIN uni u2 ON string_split(bg, ' ')[2] = u2.w
ORDER BY pmi DESC, bigram
LIMIT {_PMI_TOPK}
""",
    tags=("text", "agg"),
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_PMI_TOPK} collocations by pointwise mutual information —
    word pairs that co-occur far above chance, the corpus-analysis
    pass that finds multiword units worth protecting from tokenizer
    splits (and a quality signal: templated corpora have degenerate
    PMI tails). Two explode+agg passes (unigrams, adjacent bigrams)
    plus two joins of the bigram table against the unigram counts —
    the unigram side is a vocabulary, orders of magnitude smaller
    than the corpus, so both joins broadcast at any corpus scale;
    the corpus-size denominators arrive as broadcast 1-row aggs.
    ln() goes through the qround(9) guard (JVM vs C libm last-ulp),
    and the (pmi, bigram) order makes the top-k cut deterministic."""
    d = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    toks = d.select(F.explode(tok).alias("w"))
    uni = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("cx")
    )
    n1 = toks.agg(F.count(F.lit(1)).cast("double").alias("t1"))
    big = d.select(F.explode(shingles(tok, 2)).alias("bg"))
    bc = big.groupBy("bg").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") >= _PMI_MIN_COUNT
    )
    n2 = big.agg(F.count(F.lit(1)).cast("double").alias("t2"))
    parts = F.split(F.col("bg"), " ")
    u1 = uni.select(F.col("w").alias("w1"), F.col("cx").alias("cx1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cx").alias("cx2"))
    j = (
        bc.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
    )
    pmi = qround(
        F.log(
            (F.col("n").cast("double") / F.col("t2"))
            / ((F.col("cx1") / F.col("t1")) * (F.col("cx2") / F.col("t1")))
        ),
        9,
    )
    return (
        j.select(
            F.col("bg").alias("bigram"),
            F.col("n").cast("bigint").alias("n"),
            pmi.alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "bigram")
        .limit(_PMI_TOPK)
    )


# -- bigram-LM perplexity scoring -------------------------------------------


@register(
    "q_doc_perplexity",
    oracle=f"""
WITH toks AS (
  SELECT unnest({sql_tokens('text')}) AS w FROM documents
),
uni AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS cx FROM toks GROUP BY w),
vocab AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
bc AS (
  SELECT bg, CAST(COUNT(*) AS DOUBLE) AS cxy
  FROM (SELECT unnest({sql_shingles(sql_tokens('text'), 2)}) AS bg
        FROM documents)
  GROUP BY bg
),
db AS (
  SELECT doc_id, unnest({sql_shingles(sql_tokens('text'), 2)}) AS bg
  FROM documents
),
nll AS (
  SELECT db.doc_id,
         {sql_qround(
             "-ln((bc.cxy + 1.0) / (uni.cx + vocab.v))", 6)} AS term
  FROM db
  JOIN bc ON db.bg = bc.bg
  JOIN uni ON string_split(db.bg, ' ')[1] = uni.w
  CROSS JOIN vocab
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       {sql_qround(f"{sql_dsum('term')} / COUNT(*)", 6)} AS avg_nll
FROM nll
GROUP BY doc_id
""",
    tags=("text", "pipeline"),
)
def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under an add-one
    bigram language model trained on the corpus itself — the
    perplexity-style quality filter (CCNet-shape): template spam
    scores low, lexical soup scores high, and the score is a
    cheap SQL-only stand-in for a neural-LM filter. Two count
    passes build the LM (bigram + unigram tables); scoring is one
    equi-join of exploded doc bigrams against the LM — at 100 TB
    that's a plain hash join against an LM table that is vocabulary-
    sized, orders below the corpus (broadcast when it fits, shuffle
    join when it doesn't). Each -ln term goes through qround(6)
    (libm ulp guard) before the exact decimal mean."""
    d = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    toks = d.select(F.explode(tok).alias("w"))
    uni = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("cx")
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("v"))
    big_all = d.select(F.explode(shingles(tok, 2)).alias("bg"))
    bc = big_all.groupBy("bg").agg(
        F.count(F.lit(1)).cast("double").alias("cxy")
    )
    db = d.select("doc_id", F.explode(shingles(tok, 2)).alias("bg"))
    uni_j = uni.select(F.col("w").alias("w1"), "cx")
    nll = (
        db.join(bc, "bg")
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(F.broadcast(uni_j), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            qround(
                -F.log((F.col("cxy") + 1.0) / (F.col("cx") + F.col("v"))), 6
            ).alias("term"),
        )
    )
    return nll.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        qround(dsum("term") / F.count(F.lit(1)), 6).alias("avg_nll"),
    )


# -- cross-document boilerplate spans ---------------------------------------

_SPAN_N = 5
_SPAN_MIN_DOCS = 3
_SPAN_TOPK = 20


@register(
    "q_boilerplate_spans",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest({sql_shingles(sql_tokens('text'), _SPAN_N)}) AS span
  FROM documents
)
SELECT span,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM sh
GROUP BY span
HAVING COUNT(DISTINCT doc_id) >= {_SPAN_MIN_DOCS}
ORDER BY n_docs DESC, n_occurrences DESC, span
LIMIT {_SPAN_TOPK}
""",
    tags=("text", "dedup", "pipeline"),
)
def q_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated {_SPAN_N}-gram spans — the boilerplate
    report (headers, licenses, templates) that span-level dedup
    (Lee et al.-style) removes where document-level near-dup can't:
    the surrounding documents differ, only the span repeats. One
    explode + count/count-distinct agg, df-gated and top-k'd with a
    total (n_docs, n_occurrences, span) order. At 100 TB group on
    hash60(span) instead of the string (8-byte shuffle keys, same
    pattern as q_dedup_minhash) and join the winning hashes back for
    display text; q_text_repetition is the within-doc complement."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(shingles(tokens("text"), _SPAN_N)).alias("span")
    )
    return (
        sh.groupBy("span")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= _SPAN_MIN_DOCS)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "span"
        )
        .limit(_SPAN_TOPK)
    )


# -- Zipf-law corpus diagnostic ---------------------------------------------


@register(
    "q_zipf_fit",
    oracle=f"""
WITH toks AS (
  SELECT unnest({sql_tokens('text')}) AS w FROM documents
),
freq AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS c FROM toks GROUP BY w),
ranked AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE) AS r
  FROM freq
),
pts AS (SELECT ln(r) AS x, ln(c) AS y FROM ranked),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dsum(sql_qround('x', 9))} AS sx,
         {sql_dsum(sql_qround('y', 9))} AS sy,
         {sql_dsum(sql_qround('x * x', 9))} AS sxx,
         {sql_dsum(sql_qround('x * y', 9))} AS sxy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS vocab_size,
       {sql_qround('(n * sxy - sx * sy) / (n * sxx - sx * sx)', 6)}
         AS zipf_slope,
       {sql_qround('(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)'
                   ' / n', 6)} AS zipf_intercept
FROM m
""",
    tags=("text", "stats", "quality"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the token frequency distribution: regression
    slope of ln(freq) on ln(rank) — natural corpora sit near -1,
    template spam and synthetic word soup drift far off, making the
    slope a one-number corpus-health check next to q_benford's digit
    audit. Ranks come from the two-pass partition-offset with_seq
    (range exchange + local ordinal — no single-partition window
    even at extreme vocabulary sizes); the regression then
    reduces to five sums. ln() outputs quantize (qround(9)) before
    the exact decimal accumulation — the same computed-double rule
    as the CUSUM deviations — and slope/intercept pin at qround(6)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens(F.col("text"))).alias("w"))
    freq = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    from streamz_postgres_spark.operators.joins import with_seq

    ranked = with_seq(
        freq, [F.col("c").desc(), F.col("w")], name="r_seq"
    ).select("c", F.col("r_seq").cast("double").alias("r"))
    x, y = F.log("r"), F.log("c")
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(qround(x, 9)).alias("sx"),
        dsum(qround(y, 9)).alias("sy"),
        dsum(qround(x * x, 9)).alias("sxx"),
        dsum(qround(x * y, 9)).alias("sxy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        n.cast("bigint").alias("vocab_size"),
        qround(slope, 6).alias("zipf_slope"),
        qround((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "zipf_intercept"
        ),
    )


# -- multi-query BM25 retrieval ---------------------------------------------

#: the literal query panel (fixture-vocabulary terms); at 100 TB this
#: is the broadcast query batch of a retrieval service
_RETRIEVAL_QUERIES = (
    (0, ("spark", "window")),
    (1, ("vector", "hash", "batch")),
    (2, ("customer", "query")),
)
_RETRIEVAL_K = 5

_SQL_QUERY_TERMS = " UNION ALL ".join(
    f"SELECT {qid} AS query_id, '{t}' AS token"
    for qid, terms in _RETRIEVAL_QUERIES
    for t in terms
)


@register(
    "q_retrieval_topk",
    oracle=f"""
WITH qt AS ({_SQL_QUERY_TERMS}),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
tf AS (
  SELECT tok.doc_id, tok.token, COUNT(*) AS tf
  FROM tok
  WHERE tok.token IN (SELECT DISTINCT token FROM qt)
  GROUP BY tok.doc_id, tok.token
),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
  WHERE token IN (SELECT DISTINCT token FROM qt)
  GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS DECIMAL(38,6)))
                  AS DOUBLE) / COUNT(*) AS avgdl
      FROM documents),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         {sql_qround('LN((CAST(n.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)', 6)}
           * (tf.tf * CAST({_BM25_K1} + 1.0 AS DOUBLE))
           / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
              * (CAST(1.0 - {_BM25_B} AS DOUBLE)
                 + CAST({_BM25_B} AS DOUBLE) * dl.dl / n.avgdl))
           AS term_score
  FROM qt
  JOIN tf ON tf.token = qt.token
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN df ON df.token = qt.token
  CROSS JOIN n
),
agg AS (
  SELECT query_id, doc_id, {sql_dsum('term_score')} AS score
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score, rn
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS BIGINT) AS rn
  FROM agg
) t
WHERE rn <= {_RETRIEVAL_K}
""",
    tags=("text", "retrieval", "topk"),
)
def q_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end BM25 SEARCH: a broadcast query panel scored against
    the corpus, top-{k} docs per query — the serving read-out on top
    of q_text_bm25's term machinery. The corpus token stream is
    pruned to the query vocabulary BEFORE any aggregation (the
    relational form of an inverted-index probe), so per-query cost
    scales with posting-list sizes, not corpus size; only the per-doc
    length pass touches every token, and a production index
    precomputes it. Per-(query, doc) scores sum through the exact
    decimal path, so ranking ties and hash parity are engine-stable.
    """
    d = load_table(spark, sf_dir, "documents")
    qt = F.broadcast(
        spark.createDataFrame(
            [(qid, t) for qid, terms in _RETRIEVAL_QUERIES for t in terms],
            "query_id int, token string",
        )
    )
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    qtok = tok.join(qt.select("token").distinct(), "token", "left_semi")
    tf = qtok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    df = qtok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (dsum(F.size(tokens("text")).cast("double")) / F.count(F.lit(1))).alias(
            "avgdl"
        ),
    )
    idf = qround(
        F.log(
            (F.col("n_docs").cast("double") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
            + 1.0
        ),
        6,
    )
    k1, b = _BM25_K1, _BM25_B
    term_score = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        qt.join(tf, "token")
        .join(dl, "doc_id")
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select("query_id", "doc_id", term_score.alias("term_score"))
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        dsum("term_score").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        agg.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _RETRIEVAL_K)
    )


# -- pseudo-relevance-feedback retrieval ------------------------------------

_PRF_K = 10


def _prf_oracle() -> str:
    from streamz_postgres_spark.functions.vector import sql_dot, sql_l2_norm

    from streamz_postgres_spark.registry import REGISTRY

    topk = REGISTRY["q_retrieval_topk"].oracle
    return f"""
WITH seeds AS ({topk}),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         {sql_l2_norm('embedding')} AS nrm
  FROM embeddings
),
cd AS (
  SELECT s.query_id, dim,
         CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS c
  FROM seeds s
  JOIN (
    SELECT vec_id, generate_subscripts(e, 1) - 1 AS dim, unnest(e) AS val
    FROM v
  ) ex ON ex.vec_id = s.doc_id
  GROUP BY s.query_id, dim
),
cent AS (
  SELECT query_id, ce, {sql_l2_norm('ce')} AS cnrm FROM (
    SELECT query_id, list(c ORDER BY dim) AS ce FROM cd GROUP BY query_id
  ) g
)
SELECT query_id, vec_id, cosine, is_seed, rn
FROM (
  SELECT c.query_id, v.vec_id,
         {sql_dot('v.e', 'c.ce')} / (v.nrm * c.cnrm) AS cosine,
         CAST(EXISTS (SELECT 1 FROM seeds s
                      WHERE s.query_id = c.query_id
                        AND s.doc_id = v.vec_id) AS INTEGER) AS is_seed,
         row_number() OVER (
           PARTITION BY c.query_id
           ORDER BY {sql_dot('v.e', 'c.ce')} / (v.nrm * c.cnrm) DESC,
                    v.vec_id) AS rn
  FROM v CROSS JOIN cent c
) t
WHERE rn <= {_PRF_K}
"""


def q_retrieval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio) retrieval: the BM25 top-5
    per query (q_retrieval_topk, reused verbatim — its oracle embeds
    as a CTE here) seed a per-query embedding centroid (exact decimal
    per-dim means), and the corpus is re-ranked by cosine to that
    centroid — lexical recall expanded with semantic similarity, the
    standard hybrid-search second stage. ``is_seed`` marks which of
    the final top-10 were already lexical hits; the rest are the
    semantic expansion. Scale: centroids are Q×d (broadcast); the
    re-rank is the q_sim_cosine broadcast-probe scan per query — at
    100 TB the ANN index (q_sim_ann_ivf cells) replaces the full
    scan, same read-out."""
    from streamz_postgres_spark.functions.numeric import dsum
    from streamz_postgres_spark.functions.vector import dot, l2_norm

    seeds = q_retrieval_topk(spark, sf_dir).select(
        "query_id", F.col("doc_id").alias("vec_id")
    )
    # r14 (guide §3.3 — truncate duplicated subtrees): seeds feeds
    # TWO consumers (the centroid build and the is_seed flag), both
    # broadcast subtrees, so the entire BM25 pipeline behind
    # q_retrieval_topk was planned and executed twice — the
    # pre-checkpoint plan scanned documents EIGHT times (the
    # q_retrieval_prf entry of tests/plan_budget.json caps the current
    # plan). seeds is Q x 5 rows: one eager localCheckpoint
    # runs BM25 once; track_scoped frees the blocks at this thread's
    # next invocation.
    from streamz_postgres_spark.lifecycle import track_scoped

    seeds = seeds.localCheckpoint(eager=True)
    track_scoped("q_retrieval_prf", seeds)
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("e"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    ex = seeds.join(v, "vec_id").select(
        "query_id", F.posexplode("e").alias("dim", "val")
    )
    cd = ex.groupBy("query_id", "dim").agg(
        (dsum("val") / F.count(F.lit(1))).alias("c")
    )
    cent = (
        cd.groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda x: x.c,
            ).alias("ce")
        )
        .withColumn("cnrm", l2_norm(F.col("ce")))
    )
    cos = F.try_divide(dot(F.col("e"), F.col("ce")), F.col("nrm") * F.col("cnrm"))
    scored = v.crossJoin(F.broadcast(cent)).select(
        "query_id", "vec_id", cos.alias("cosine")
    )
    seed_flag = seeds.withColumn("is_seed_f", F.lit(1))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.join(F.broadcast(seed_flag), ["query_id", "vec_id"], "left")
        .select(
            "query_id",
            "vec_id",
            "cosine",
            F.coalesce(F.col("is_seed_f"), F.lit(0)).cast("int").alias(
                "is_seed"
            ),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _PRF_K)
    )


def _register_prf() -> None:
    register(
        "q_retrieval_prf",
        oracle=_prf_oracle(),
        tags=("text", "retrieval", "similarity", "hybrid"),
    )(q_retrieval_prf)


_register_prf()


# -- readability scoring ------------------------------------------------------

_SYLL_RE = "[aeiouy]+"  # vowel-group syllable heuristic
_SENT_RE = "[.!?]+"


@register(
    "q_text_readability",
    oracle=f"""
SELECT doc_id, lang, n_words, n_sentences, n_syllables,
       CAST('206.835' AS DOUBLE)
         - CAST('1.015' AS DOUBLE) * wps
         - CAST('84.6' AS DOUBLE) * spw AS flesch,
       CAST('0.39' AS DOUBLE) * wps
         + CAST('11.8' AS DOUBLE) * spw
         - CAST('15.59' AS DOUBLE) AS fk_grade,
       CASE WHEN CAST('206.835' AS DOUBLE)
                   - CAST('1.015' AS DOUBLE) * wps
                   - CAST('84.6' AS DOUBLE) * spw >= 60.0 THEN 'easy'
            WHEN CAST('206.835' AS DOUBLE)
                   - CAST('1.015' AS DOUBLE) * wps
                   - CAST('84.6' AS DOUBLE) * spw >= 30.0 THEN 'medium'
            ELSE 'hard' END AS band
FROM (
  SELECT doc_id, lang, n_words, n_sentences, n_syllables,
         CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
         CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw
  FROM (
    SELECT doc_id, lang,
           CAST(len({sql_tokens('text')}) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '{_SENT_RE}')) + 1
                AS BIGINT) AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '{_SYLL_RE}'))
                AS BIGINT) AS n_syllables
    FROM documents
  ) raw
) f
""",
    tags=("text",),
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (Flesch reading-ease + Flesch-Kincaid
    grade) with the classic VOWEL-GROUP syllable heuristic — the
    corpus-quality feature reading-level filters and curriculum
    orderings key on. Sentence count is delimiter-based with a +1
    floor (a delimiter-free document is one sentence — which is every
    document in this fixture, so the variation the oracle checks
    comes from the words-per-sentence and syllables-per-word terms).

    Determinism: the three counts are exact integers from the same
    regex semantics on both engines (non-overlapping leftmost vowel
    groups; a space can never appear inside a group so tokens don't
    fuse); the Flesch weights enter as quoted-string DOUBLE casts
    (the house rule for feeding literals to DuckDB) and the two
    divisions and the weighted sum are the same IEEE expression tree
    on both engines, so the doubles — and the band cut at 60/30 —
    match bit-for-bit. Pure per-row codegen: no shuffle at all, at
    any scale."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokens("text")).cast("bigint")
    n_sent = (
        F.regexp_count(F.col("text"), F.lit(_SENT_RE)) + F.lit(1)
    ).cast("bigint")
    n_syll = F.regexp_count(F.lower(F.col("text")), F.lit(_SYLL_RE)).cast(
        "bigint"
    )
    base = d.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast(
        "double"
    )
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast(
        "double"
    )
    flesch = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return base.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        flesch.alias("flesch"),
        fk.alias("fk_grade"),
        F.when(flesch >= 60.0, "easy")
        .when(flesch >= 30.0, "medium")
        .otherwise("hard")
        .alias("band"),
    )


# -- Kneser-Ney bigram LM scoring ---------------------------------------------

_KN_D = 0.75  # absolute discount (exactly representable: 3/4)


@register(
    "q_doc_perplexity_kn",
    oracle=f"""
WITH bc AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS cxy
  FROM (SELECT unnest({sql_shingles(sql_tokens('text'), 2)}) AS bg
        FROM documents)
  GROUP BY bg
),
sp AS (
  SELECT bg, cxy,
         string_split(bg, ' ')[1] AS w1,
         string_split(bg, ' ')[2] AS w2
  FROM bc
),
fwd AS (
  SELECT w1, CAST(SUM(cxy) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS nf
  FROM sp GROUP BY w1
),
back AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM sp GROUP BY w2
),
ntypes AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM bc),
db AS (
  SELECT doc_id, unnest({sql_shingles(sql_tokens('text'), 2)}) AS bg
  FROM documents
),
terms AS (
  SELECT db.doc_id,
         {sql_qround(
             "-ln(greatest(CAST(sp.cxy AS DOUBLE) - 0.75, 0.0)"
             " / CAST(fwd.c1 AS DOUBLE)"
             " + (0.75 * CAST(fwd.nf AS DOUBLE) / CAST(fwd.c1 AS DOUBLE))"
             " * (CAST(back.nb AS DOUBLE) / CAST(ntypes.nt AS DOUBLE)))",
             6)} AS term
  FROM db
  JOIN sp ON db.bg = sp.bg
  JOIN fwd ON sp.w1 = fwd.w1
  JOIN back ON sp.w2 = back.w2
  CROSS JOIN ntypes
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       {sql_qround(f"{sql_dsum('term')} / COUNT(*)", 6)} AS avg_nll
FROM terms
GROUP BY doc_id
""",
    tags=("text", "pipeline"),
)
def q_doc_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under an
    INTERPOLATED KNESER-NEY bigram model (d=0.75) — the production
    n-gram smoothing (Chen & Goodman '98), beside q_doc_perplexity's
    add-one baseline: P(w2|w1) = max(c12-d, 0)/c1 +
    (d*N1+(w1,.)/c1) * (N1+(.,w2)/N1+(.,.)). The continuation
    counts make the backoff reward words that follow MANY contexts,
    not merely frequent words — the difference that makes KN the
    default quality-filter LM.

    Determinism: all five count tables are exact integers derived
    from ONE doc-bigram count table; d=0.75 is dyadic-exact; the
    probability is the identical IEEE expression tree on both
    engines and each -ln term goes through qround(6) (libm ulp
    guard) before the exact decimal mean. Scale: the LM tables are
    vocabulary-sized (broadcast); scoring shuffles doc-bigram TYPES
    on the bigram key, never instances and never a cross join.

    Restructured r11 (the r10 verdict's x10 wall, 28-31 s): the old
    shape tokenized+exploded ``documents`` TWICE (the type-count
    branch and the scoring branch have different projections, so
    ReuseExchange could NOT dedupe them) and shuffled every bigram
    INSTANCE through the scoring join with no combine. Now ONE
    explode feeds ``groupBy(doc_id, bg).count()`` — partial
    map-side combine collapses within-doc repeats BEFORE the
    exchange — the global type table re-aggregates from that
    (doc-bigram types, not instances), and each doc contributes
    k * micro6(term) in EXACT integer micro-units (identical to
    summing k per-instance qround(6) terms, since k copies of the
    same micro integer sum to k*m — value-identical to the
    pre-r11 formulation, same oracle). Measured x10: 30.9 -> 6.6 s
    (4.7x) — the larger share from the shingles() free-variable
    binding fix (functions/text_features.py r11: the scan was
    re-splitting the document once per element_at, quadratic in doc
    length), the rest from the one-scan + type-level-join shape;
    values hash-equal at both SFs. NOT persist_scoped,
    measured deliberately (r10 tail attack): the type table's four
    consumers share an IDENTICAL exchange that ReuseExchange already
    deduplicates — pinning REGRESSED it (x10 27.5->45.8 s); the
    persist-vs-ReuseExchange discriminator lives in SCALE.md."""
    d = load_table(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    dbc = (
        d.select("doc_id", F.explode(shingles(tok, 2)).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    bc = dbc.groupBy("bg").agg(
        F.sum("k").cast("bigint").alias("cxy")
    )
    sp = bc.select(
        "bg",
        "cxy",
        F.split(F.col("bg"), " ").getItem(0).alias("w1"),
        F.split(F.col("bg"), " ").getItem(1).alias("w2"),
    )
    fwd = sp.groupBy("w1").agg(
        F.sum("cxy").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("nf"),
    )
    back = sp.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    ntypes = bc.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    p = (
        F.greatest(
            F.col("cxy").cast("double") - F.lit(_KN_D), F.lit(0.0)
        )
        / F.col("c1").cast("double")
        + (F.lit(_KN_D) * F.col("nf").cast("double") / F.col("c1").cast("double"))
        * (F.col("nb").cast("double") / F.col("nt").cast("double"))
    )
    # exact micro-unit integer of the per-instance qround(6) term
    # (the same floor(x*1e6+0.5) rule dsum applies internally);
    # k identical instances contribute exactly k * m
    m = F.floor(qround(-F.log(p), 6) * F.lit(1e6) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    terms = (
        dbc.join(sp, "bg")
        .join(F.broadcast(fwd), "w1")
        .join(F.broadcast(back), "w2")
        .crossJoin(F.broadcast(ntypes))
        .select("doc_id", "k", (F.col("k").cast("decimal(38,0)") * m).alias("km"))
    )
    return terms.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_bigrams"),
        qround(
            (F.sum("km").cast("double") / F.lit(1e6))
            / F.sum("k").cast("bigint").cast("double"),
            6,
        ).alias("avg_nll"),
    )
