"""Second text-operator family: TF-IDF, near-dup clustering, exact
percentiles.

The clustering oracle uses a recursive CTE for transitive closure —
DuckDB's declarative equivalent of the engine's iterative min-label
propagation (operators/components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.queries._textsql import WORDS_SQL, WS_PLUS
from clearcare_data_pipeline_spark.operators.components import connected_components
from clearcare_data_pipeline_spark.operators.dedup import (
    doc_shingles,
    lsh_band_keys,
    lsh_candidate_pairs,
    minhash_signatures,
    SHINGLE_N,
)
from clearcare_data_pipeline_spark.operators.textstats import words_expr
from clearcare_data_pipeline_spark.queries.textops import _CORPUS_NEAR_SQL, _MINHASH_SQL, corpus_near_dups
from clearcare_data_pipeline_spark.sources.tables import load_table

_TOP_TERMS = 3


# --- TF-IDF -------------------------------------------------------------


def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(words_expr(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    doc_sizes = tf.groupBy("doc_id").agg(F.sum("cnt").alias("n_tokens"))
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # driver-side scalar (metadata-scale)
    scored = (
        tf.join(doc_sizes, "doc_id")
        .join(F.broadcast(df_counts), "term")
        .withColumn(
            "tfidf",
            F.round((F.col("cnt") / F.col("n_tokens")) * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_TERMS)
        .select("doc_id", "term", "tfidf", F.col("rn").cast("long").alias("rn"))
    )


_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(trim(text, ' '), '{WS_PLUS}'),
                        t -> length(t) > 0)) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
sizes AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens FROM tf GROUP BY 1),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
    round((tf.cnt / sizes.n_tokens) * ln(n.n_docs / dfc.df), 6) AS tfidf
  FROM tf JOIN sizes USING (doc_id) JOIN dfc USING (term), n
)
SELECT doc_id, term, tfidf, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= {_TOP_TERMS}
"""


# --- near-dup clustering (LSH pairs -> connected components) -------------


def q_doc_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = corpus_near_dups(spark, sf_dir)
    sh = doc_shingles(corpus, n=SHINGLE_N)
    pairs = lsh_candidate_pairs(lsh_band_keys(minhash_signatures(sh)))
    nodes = corpus.select(F.col("doc_id").alias("id"))
    comps = connected_components(nodes, pairs)
    return (
        comps.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"), F.max("id").alias("max_id"))
        .where(F.col("cluster_size") > 1)
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE corpus AS ({_CORPUS_NEAR_SQL}),
{_MINHASH_SQL},
pairs AS (
  SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
  FROM bands b1 JOIN bands b2 USING (band, band_key)
  WHERE b1.doc_id < b2.doc_id
),
edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
),
comps AS (SELECT src AS id, min(node) AS component FROM reach GROUP BY src)
SELECT component, count(*) AS cluster_size, max(id) AS max_id
FROM comps GROUP BY component HAVING count(*) > 1
"""


# --- exact percentiles ----------------------------------------------------


def q_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 6).alias("p50"),
        F.round(F.percentile("l_quantity", 0.9), 6).alias("p90"),
        F.round(F.percentile("l_extendedprice", 0.25), 6).alias("price_p25"),
        F.count(F.lit(1)).alias("n"),
    )


_PCT_ORACLE = """
SELECT l_returnflag,
  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
  round(quantile_cont(l_extendedprice, 0.25), 6) AS price_p25,
  count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


# --- chunking + PII masking ----------------------------------------------

_CHUNK = 64
_OVERLAP = 16
_STRIDE = _CHUNK - _OVERLAP


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clearcare_data_pipeline_spark.operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=_CHUNK, overlap=_OVERLAP)


_WORDS = WORDS_SQL

_CHUNKS_ORACLE = f"""
WITH w0 AS (SELECT doc_id, {_WORDS} AS w FROM documents),
st AS (
  SELECT doc_id, w, unnest(range(0, greatest(len(w) - 1, 0) + 1, {_STRIDE})) AS s
  FROM w0
)
SELECT doc_id,
  CAST(s // {_STRIDE} AS INT) AS chunk_id,
  CAST(s AS INT) AS start_token,
  CAST(least({_CHUNK}, len(w) - s) AS INT) AS n_tokens,
  array_to_string(w[s + 1 : s + {_CHUNK}], ' ') AS chunk_text
FROM st
WHERE least({_CHUNK}, len(w) - s) > 0
  AND (s = 0 OR s + {_OVERLAP} < len(w))
"""

_PII_SUFFIX = " contact: a.smith+x@example.com or 555-123-4567, ssn 123-45-6789"


def q_doc_pii_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking over a corpus with planted contact strings (every
    doc_id % 9 == 0 doc gets an email + phone + SSN appended)."""
    from clearcare_data_pipeline_spark.operators.chunking import mask_pii

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(_PII_SUFFIX))
        ).otherwise(F.col("text")),
    )
    return mask_pii(corpus).select("doc_id", "text")


def _pii_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.chunking import pii_mask_sql

    return f"""
WITH corpus AS (
  SELECT doc_id,
    CASE WHEN doc_id % 9 = 0 THEN text || '{_PII_SUFFIX}' ELSE text END AS text
  FROM documents
)
SELECT doc_id, {pii_mask_sql('text')} AS text FROM corpus
"""


# --- deterministic train/eval split ---------------------------------------


def q_doc_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 90/10 split: membership is a pure function of
    doc_id (md5 hex buckets), so it survives re-runs, re-partitioning,
    and engine changes — the property rand()-based splits lack."""
    from clearcare_data_pipeline_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", train_pct=90)
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


def _split_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.sampling import hash_bucket_sql

    return f"""
SELECT CASE WHEN {hash_bucket_sql('doc_id')} < 90 THEN 'train' ELSE 'eval' END AS split,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS total_chars,
  min(doc_id) AS min_doc,
  max(doc_id) AS max_doc
FROM documents GROUP BY 1
"""


# --- training-data selection (the composite corpus-prep flow) ------------

_SEL_QUALITY = 0.3
_SEL_BUDGET = 20000


def q_doc_training_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical LLM corpus-prep chain as ONE declarative plan:
    exact dedup (min-id per fingerprint) -> language gate -> quality
    threshold -> greedy token-budget selection (best-quality-first
    cumulative sum capped at the budget).

    Scale note: the final cumulative sum is a globally ordered window
    (single-task reduce of the SURVIVORS, which the quality gate has
    already shrunk by orders of magnitude). At 100 TB, replace the
    greedy scan with a quality-threshold search via approx quantiles
    over (quality, n_tokens) — constant number of full passes — and
    keep this exact plan for the final within-epsilon slice.
    """
    from clearcare_data_pipeline_spark.operators.textstats import text_stats

    d = text_stats(load_table(spark, sf_dir, "documents"))
    keep = d.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    deduped = d.join(keep, ["fingerprint", "doc_id"])
    gated = deduped.where(
        (F.col("lang_guess") == "en") & (F.col("quality") >= _SEL_QUALITY)
    )
    w = (
        Window.orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        gated.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= _SEL_BUDGET)
        .select("doc_id", "n_tokens", "quality", F.col("cum_tokens").cast("long").alias("cum_tokens"))
    )


def _training_selection_oracle() -> str:
    from clearcare_data_pipeline_spark.queries.textops import _doc_stats_oracle

    return f"""
WITH stats AS (
{_doc_stats_oracle()}
),
keep AS (
  SELECT fingerprint, min(doc_id) AS doc_id FROM stats GROUP BY fingerprint
),
gated AS (
  SELECT s.* FROM stats s JOIN keep USING (fingerprint, doc_id)
  WHERE s.lang_guess = 'en' AND s.quality >= {_SEL_QUALITY}
),
cum AS (
  SELECT doc_id, n_tokens, quality,
    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM gated
)
SELECT doc_id, n_tokens, quality, cum_tokens FROM cum
WHERE cum_tokens <= {_SEL_BUDGET}
"""


QUERIES = {
    "doc_train_eval_split": q_doc_train_eval_split,
    "doc_chunks": q_doc_chunks,
    "doc_pii_masked": q_doc_pii_masked,
    "doc_training_selection": q_doc_training_selection,
    "doc_tfidf_top_terms": q_doc_tfidf_top_terms,
    "doc_near_dup_clusters": q_doc_near_dup_clusters,
    "quantity_percentiles": q_quantity_percentiles,
}

ORACLES = {
    "doc_train_eval_split": _split_oracle(),
    "doc_chunks": _CHUNKS_ORACLE,
    "doc_pii_masked": _pii_oracle(),
    "doc_training_selection": _training_selection_oracle(),
    "doc_tfidf_top_terms": _TFIDF_ORACLE,
    "doc_near_dup_clusters": _CLUSTERS_ORACLE,
    "quantity_percentiles": _PCT_ORACLE,
}


# --- eval-set decontamination (operators/dedup.py) -----------------------

_DECON_N = 8
_DECON_MAX_DF = 50


def q_doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination check of the hash-split eval set against the train
    set: eval docs sharing any rare 8-gram shingle with a train doc.
    Spark joins on xxhash64 shingle keys (8 bytes over the wire); the
    oracle joins the strings — identical counts modulo 2^-64 collisions."""
    from clearcare_data_pipeline_spark.operators.dedup import cross_corpus_contamination
    from clearcare_data_pipeline_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id", train_pct=90)
    train = split.where(F.col("split") == "train").select("doc_id", "text")
    ev = split.where(F.col("split") == "eval").select("doc_id", "text")
    return cross_corpus_contamination(
        train, ev, n=_DECON_N, max_df=_DECON_MAX_DF, min_shared=1
    )


def _decon_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.sampling import hash_bucket_sql

    words = WORDS_SQL
    return f"""
WITH split_docs AS (
  SELECT doc_id, text,
         CASE WHEN {hash_bucket_sql('doc_id')} < 90 THEN 'train' ELSE 'eval' END AS split
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, split, shingle FROM (
    SELECT doc_id, split,
      unnest(list_transform(range(0, greatest(len(w) - {_DECON_N}, 0) + 1),
             i -> array_to_string(w[i + 1 : i + {_DECON_N}], ' '))) AS shingle
    FROM (SELECT doc_id, split, {words} AS w FROM split_docs)
  ) WHERE length(shingle) > 0
),
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {_DECON_MAX_DF}),
shared AS (
  SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc, count(*) AS n_shared
  FROM (SELECT doc_id, shingle FROM sh WHERE split = 'eval') e
  JOIN keep USING (shingle)
  JOIN (SELECT doc_id, shingle FROM sh WHERE split = 'train') t USING (shingle)
  GROUP BY 1, 2
)
SELECT eval_doc, count(*) AS n_train_docs, max(n_shared) AS max_shared_shingles
FROM shared GROUP BY eval_doc
"""


QUERIES["doc_decontamination"] = q_doc_decontamination
ORACLES["doc_decontamination"] = _decon_oracle()


# --- repetition / diversity quality signals ------------------------------


def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition signals: type-token ratio,
    top-word fraction, and duplicate-bigram fraction. Word counts run
    as explode -> two keyed aggs (shuffle bounded by distinct
    (doc, word) pairs — never a per-doc O(n^2) scan); bigram stats are
    pure array expressions. The filter keeps the clearly repetitive
    tail, which is what a quality gate would drop."""
    from clearcare_data_pipeline_spark.operators.textstats import words_expr

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", words_expr(F.col("text")).alias("w"))
    word_stats = (
        base.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_count"),
        )
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("w") - 2, F.lit(0))),
        lambda i: F.array_join(F.slice("w", i + 1, 2), " "),
    )
    bigram_stats = base.where(F.size("w") >= 2).select(
        "doc_id",
        (F.size("w") - 1).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_distinct_bigrams"),
    )
    joined = word_stats.join(bigram_stats, "doc_id")
    ttr = F.col("n_distinct").cast("double") / F.col("n_words")
    topf = F.col("top_count").cast("double") / F.col("n_words")
    dupb = F.lit(1.0) - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams")
    return joined.select(
        "doc_id",
        "n_words",
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(topf, 6).alias("top_word_frac"),
        F.round(dupb, 6).alias("dup_bigram_frac"),
    ).where((F.col("top_word_frac") > 0.1) | (F.col("dup_bigram_frac") > 0.2))


_REPETITION_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text, ' '), '{WS_PLUS}'), t -> length(t) > 0) AS w
  FROM documents
),
word_stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_count
  FROM (SELECT doc_id, word, count(*) AS c
        FROM (SELECT doc_id, unnest(w) AS word FROM base)
        GROUP BY doc_id, word)
  GROUP BY doc_id
),
bigram_stats AS (
  SELECT doc_id, CAST(len(w) - 1 AS BIGINT) AS n_bigrams,
         CAST(len(list_distinct(list_transform(range(0, greatest(len(w) - 2, 0) + 1),
              i -> array_to_string(w[i + 1 : i + 2], ' ')))) AS BIGINT) AS n_distinct_bigrams
  FROM base WHERE len(w) >= 2
)
SELECT doc_id, n_words,
       round(CAST(n_distinct AS DOUBLE) / n_words, 6) AS type_token_ratio,
       round(CAST(top_count AS DOUBLE) / n_words, 6) AS top_word_frac,
       round(1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams, 6) AS dup_bigram_frac
FROM word_stats JOIN bigram_stats USING (doc_id)
WHERE round(CAST(top_count AS DOUBLE) / n_words, 6) > 0.1
   OR round(1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams, 6) > 0.2
"""

QUERIES["doc_repetition_stats"] = q_doc_repetition_stats
ORACLES["doc_repetition_stats"] = _REPETITION_ORACLE


# --- approximate heavy hitters with an exactness gate --------------------

_HH_SUPPORT = 0.01
_HH_TOPK = 10


def q_doc_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: exact top-10 words (explode + keyed agg +
    deterministic (n DESC, word) top-k) cross-checked against Spark's
    one-pass frequent-items sketch. freqItems guarantees every item
    with true frequency > support appears in its result, so the
    ``in_sketch`` column must be uniformly TRUE — the oracle pins it,
    turning the sketch's guarantee into a hash-checked invariant (same
    pattern as the HLL / t-digest error gates in queries/stats.py)."""
    from clearcare_data_pipeline_spark.operators.textstats import words_expr

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(words_expr(F.col("text"))).alias("word"))
    total = words.count()
    exact = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(_HH_TOPK)
    )
    sketch_items = set(
        words.stat.freqItems(["word"], support=_HH_SUPPORT).collect()[0][0]
    )
    in_sketch = F.when(
        (F.col("n").cast("double") / total > _HH_SUPPORT)
        & ~F.col("word").isin(*sketch_items),
        F.lit(False),
    ).otherwise(F.lit(True))
    return exact.select("word", "n", in_sketch.alias("in_sketch"))


_HH_ORACLE = f"""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(trim(text, ' '), '{WS_PLUS}'),
                t -> length(t) > 0)) AS word
  FROM documents
)
SELECT word, count(*) AS n, TRUE AS in_sketch
FROM words GROUP BY word
ORDER BY n DESC, word LIMIT {_HH_TOPK}
"""

QUERIES["doc_heavy_hitter_words"] = q_doc_heavy_hitter_words
ORACLES["doc_heavy_hitter_words"] = _HH_ORACLE


# --- word co-occurrence (informative mid-frequency vocabulary) -----------

# Rank-based vocabulary band: skip the top _COOC_SKIP stopword-like
# terms, keep the next _COOC_VOCAB by document frequency. A rank band
# (unlike a fixed DF-value band) is non-empty at every corpus scale
# and gives a HARD vocabulary bound.
_COOC_SKIP, _COOC_VOCAB, _COOC_TOPK = 10, 100, 50


def q_doc_word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word-pair co-occurrence counts over mid-rank vocabulary.

    The vocabulary filter is the scale guard: the per-doc self-join is
    quadratic in KEPT words per doc, so (a) the top ``_COOC_SKIP``
    stopword-like terms are excluded and (b) only the next
    ``_COOC_VOCAB`` ranks are kept — per-doc pair fan-out is bounded
    by C(vocab, 2) regardless of corpus size. The top-(skip+vocab)
    cut runs as a distributed TakeOrdered (sort+limit), never a global
    sort; the surviving vocabulary is dimension-sized and broadcasts.
    DF ties at the rank boundary break by word for engine-portable
    determinism."""
    from pyspark.sql import Window

    from clearcare_data_pipeline_spark.operators.textstats import words_expr

    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.array_distinct(words_expr(F.col("text")))).alias("word")
    )
    top = (
        dw.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("word"))
        .limit(_COOC_SKIP + _COOC_VOCAB)
    )
    # row_number over <=110 rows: the single-partition window is bounded.
    rank = F.row_number().over(Window.orderBy(F.desc("df"), F.asc("word")))
    vocab = top.withColumn("rank", rank).where(F.col("rank") > _COOC_SKIP).select("word")
    kept = dw.join(F.broadcast(vocab), "word").select("doc_id", "word")
    a = kept.select("doc_id", F.col("word").alias("w1"))
    b = kept.select("doc_id", F.col("word").alias("w2"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.orderBy(F.desc("n"), F.asc("w1"), F.asc("w2")).limit(_COOC_TOPK)


_COOC_ORACLE = f"""
WITH dw AS (
  SELECT DISTINCT doc_id,
    unnest(list_filter(string_split_regex(trim(text, ' '), '{WS_PLUS}'),
           t -> length(t) > 0)) AS word
  FROM documents
),
ranked AS (
  SELECT word, row_number() OVER (ORDER BY count(*) DESC, word) AS rank
  FROM dw GROUP BY word
),
vocab AS (
  SELECT word FROM ranked
  WHERE rank > {_COOC_SKIP} AND rank <= {_COOC_SKIP + _COOC_VOCAB}
),
kept AS (SELECT doc_id, word FROM dw JOIN vocab USING (word))
SELECT a.word AS w1, b.word AS w2, count(*) AS n
FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.word < b.word
GROUP BY 1, 2
ORDER BY n DESC, w1, w2 LIMIT {_COOC_TOPK}
"""

QUERIES["doc_word_cooccurrence"] = q_doc_word_cooccurrence
ORACLES["doc_word_cooccurrence"] = _COOC_ORACLE


# --- corpus mixing to target source weights ------------------------------

_MIX_BOOSTED = ("src0", "src1")
_MIX_DEFAULT_PCT = 40


def q_doc_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus re-weighting: keep 100 % of boosted
    sources, hash-sample the rest to 40 % — membership is a pure
    function of doc_id (same engine-portable md5 buckets as
    hash_split), so the mix is identical across re-runs, partitions,
    and engines. Output: per-source before/after counts."""
    from clearcare_data_pipeline_spark.operators.sampling import hash_bucket_expr

    docs = load_table(spark, sf_dir, "documents")
    pct = F.when(F.col("source").isin(*_MIX_BOOSTED), F.lit(100)).otherwise(
        F.lit(_MIX_DEFAULT_PCT)
    )
    kept = hash_bucket_expr(F.col("doc_id")) < pct
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_before"),
        F.sum(kept.cast("long")).alias("n_after"),
    )


def _mix_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.sampling import hash_bucket_sql

    boosted = ", ".join(f"'{s}'" for s in _MIX_BOOSTED)
    return f"""
SELECT source, count(*) AS n_before,
  CAST(sum(CASE WHEN {hash_bucket_sql('doc_id')} <
       (CASE WHEN source IN ({boosted}) THEN 100 ELSE {_MIX_DEFAULT_PCT} END)
       THEN 1 ELSE 0 END) AS BIGINT) AS n_after
FROM documents GROUP BY source
"""


QUERIES["doc_source_mix"] = q_doc_source_mix
ORACLES["doc_source_mix"] = _mix_oracle()


# --- greedy contiguous sequence packing ----------------------------------

_PACK_SEQ_LEN = 512


def q_doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing for training batches: within each
    source (doc_id order), documents pack into bins of ~512 tokens by
    cumulative token count — bin = floor((cumsum - tokens) / seq_len).
    One keyed window cumsum + one keyed agg; integer arithmetic
    throughout, so the fill fractions mirror the oracle exactly."""
    from clearcare_data_pipeline_spark.operators.textstats import token_count_expr

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", token_count_expr(F.col("text")).cast("long").alias("tok")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    binned = toks.withColumn(
        "bin",
        F.floor((F.sum("tok").over(w) - F.col("tok")) / F.lit(_PACK_SEQ_LEN)).cast("long"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("total_tokens"),
        F.round(
            F.sum("tok").cast("double") / F.lit(float(_PACK_SEQ_LEN)), 6
        ).alias("fill_frac"),
    )


_PACKING_ORACLE = f"""
WITH toks AS (
  SELECT source, doc_id,
    CAST(len(list_filter(string_split_regex(trim(text, ' '), '{WS_PLUS}'),
             t -> length(t) > 0)) AS BIGINT) AS tok
  FROM documents
),
binned AS (
  SELECT source, doc_id, tok,
    CAST(floor((sum(tok) OVER (PARTITION BY source ORDER BY doc_id) - tok)
         / {_PACK_SEQ_LEN}) AS BIGINT) AS bin
  FROM toks
)
SELECT source, bin, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS total_tokens,
  round(CAST(sum(tok) AS DOUBLE) / {_PACK_SEQ_LEN}.0, 6) AS fill_frac
FROM binned GROUP BY source, bin
"""

QUERIES["doc_sequence_packing"] = q_doc_sequence_packing
ORACLES["doc_sequence_packing"] = _PACKING_ORACLE


# --- self-trained trigram-LM perplexity (operators/textstats.py) --------


def q_doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality signal: each document scored by a word-
    trigram LM whose counts come from the corpus itself
    (operators/textstats.py trigram_lm_perplexity). The reference has
    no LM filter; this is the standard curation op its charge-quality
    rules approximate for text (SURVEY §2.3 F-family analogue)."""
    from clearcare_data_pipeline_spark.operators.textstats import (
        trigram_lm_perplexity,
    )

    docs = load_table(spark, sf_dir, "documents")
    return trigram_lm_perplexity(docs)


_LM_PPL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text, ' '), '{WS_PLUS}'),
                             t -> length(t) > 0) AS ts
  FROM documents
),
tri AS (
  SELECT doc_id,
         unnest(list_transform(range(len(ts) - 2),
                i -> struct_pack(w1 := ts[i + 1], w2 := ts[i + 2], w3 := ts[i + 3]))) AS t
  FROM toks WHERE len(ts) >= 3
),
occ AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3 FROM tri),
m3 AS (SELECT w1, w2, w3, CAST(count(*) AS DOUBLE) AS c3 FROM occ GROUP BY 1, 2, 3),
m2 AS (SELECT w1, w2, sum(c3) AS c2 FROM m3 GROUP BY 1, 2),
model AS (
  SELECT w1, w2, w3, ln(c3 / c2) AS lp FROM m3 JOIN m2 USING (w1, w2)
),
scored AS (SELECT occ.doc_id, model.lp FROM occ JOIN model USING (w1, w2, w3))
SELECT doc_id, count(*) AS n_trigrams,
       round(avg(lp), 6) AS avg_logprob,
       round(exp(-avg(lp)), 6) AS perplexity
FROM scored GROUP BY doc_id
"""

QUERIES["doc_lm_perplexity"] = q_doc_lm_perplexity
ORACLES["doc_lm_perplexity"] = _LM_PPL_ORACLE


# --- feature-hashed TF vectors (operators/textstats.py) ------------------


def q_doc_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashingTF document vectorization: every doc becomes a dim-64
    hashed term-frequency vector in ONE shuffle-free codegen projection
    (operators/textstats.py hashed_tf_expr) — the text-side entry point
    into the embedding operators (cosine/LSH/IVF take any fixed-width
    vector column). n_tokens and the L2 norm ride along as scalars."""
    from clearcare_data_pipeline_spark.operators.textstats import (
        hashed_tf_expr,
        l2_norm_expr,
        words_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = words_expr(F.col("text"))
    # Two-stage select: the upper project references `tf` twice (as the
    # output column and inside the norm); inlining the hashed-TF tree in
    # both spots would pay the per-token md5 bucketing twice per row.
    # CollapseProject keeps the stages separate because the duplicated
    # expression is non-cheap.
    staged = docs.select(
        "doc_id",
        hashed_tf_expr(toks, 64).alias("tf"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    return staged.select(
        "doc_id",
        "tf",
        "n_tokens",
        F.round(l2_norm_expr(F.col("tf")), 6).alias("l2_norm"),
    )


def _hashed_tf_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.sampling import hash_bucket_sql

    bucket = hash_bucket_sql("t", 64)
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text, ' '), '{WS_PLUS}'),
                             t -> length(t) > 0) AS ts
  FROM documents
),
b AS (
  SELECT doc_id, ts, list_transform(ts, t -> {bucket}) AS bs FROM toks
),
v AS (
  SELECT doc_id, ts,
         list_transform(range(64),
                        i -> CAST(len(list_filter(bs, x -> x = i)) AS BIGINT)) AS tf
  FROM b
)
SELECT doc_id, tf, CAST(len(ts) AS BIGINT) AS n_tokens,
  round(sqrt(list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(tf, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      (a, acc) -> a + acc)), 6) AS l2_norm
FROM v
"""


QUERIES["doc_hashed_tf"] = q_doc_hashed_tf
ORACLES["doc_hashed_tf"] = _hashed_tf_oracle()


_TF_QUERY_MOD = 251
_TF_TOPK = 5
# Fixed evaluation workload (sf10 lesson, same rationale as
# queries/similarity.py _QUERY_ID_BOUND): the retrieval query set is
# doc_id % 251 == 0 AND doc_id < 50000 — every id at sf <= 1, a fixed
# ~200-query sample beyond — so the brute-force baseline scales with
# the corpus, not with corpus x queries (measured 102x for 10x data
# when both sides grew).
_TF_QUERY_ID_BOUND = 50000


def q_doc_tf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text -> vector -> ANN composition: documents are
    vectorized with the shuffle-free hashed-TF projection, then every
    doc_id % 251 == 0 doc retrieves its top-5 cosine neighbors through
    the SAME brute-force baseline operator the float embeddings use
    (operators/similarity.py cosine_topk — query side broadcast,
    candidates stream). Proves the vector operators are payload-
    agnostic: any fixed-width array column plugs in."""
    from clearcare_data_pipeline_spark.operators.similarity import cosine_topk
    from clearcare_data_pipeline_spark.operators.textstats import (
        hashed_tf_expr,
        words_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = words_expr(F.col("text"))
    vecs = docs.where(F.size(toks) > 0).select(
        F.col("doc_id").alias("vec_id"),
        F.transform(hashed_tf_expr(toks, 64), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    queries = vecs.where(
        (F.col("vec_id") % _TF_QUERY_MOD == 0) & (F.col("vec_id") < _TF_QUERY_ID_BOUND)
    )
    return cosine_topk(vecs, queries, k=_TF_TOPK)


def _tf_cosine_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.sampling import hash_bucket_sql

    bucket = hash_bucket_sql("t", 64)
    dot = (
        "list_reduce(list_transform(range(1, 65), i -> {a}[i] * {b}[i]),"
        " (x, y) -> x + y)"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text, ' '), '{WS_PLUS}'),
                             t -> length(t) > 0) AS ts
  FROM documents
),
b AS (
  SELECT doc_id, list_transform(ts, t -> {bucket}) AS bs
  FROM toks WHERE len(ts) > 0
),
v AS (
  SELECT doc_id AS vec_id,
         list_transform(range(64),
                        i -> CAST(len(list_filter(bs, x -> x = i)) AS DOUBLE)) AS dv
  FROM b
),
n AS (SELECT vec_id, dv, sqrt({dot.format(a='dv', b='dv')}) AS nrm FROM v),
q AS (SELECT * FROM n
      WHERE vec_id % {_TF_QUERY_MOD} = 0 AND vec_id < {_TF_QUERY_ID_BOUND}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    round({dot.format(a='c.dv', b='q.dv')} / (c.nrm * q.nrm), 6) AS cos_sim
  FROM n c, q WHERE c.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rn FROM ranked WHERE rn <= {_TF_TOPK}
"""


QUERIES["doc_tf_cosine_topk"] = q_doc_tf_cosine_topk
ORACLES["doc_tf_cosine_topk"] = _tf_cosine_oracle()


# --- deterministic per-source sample cap (operators/sampling.py) ---------

_CAP_K = 20


def q_doc_source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source's contribution at 20 docs with the
    hash-ranked uniform sample (operators/sampling.py
    hash_topk_sample): membership is a pure function of doc_id, so the
    cap is reproducible across runs/engines/partitionings — the
    corpus-mixing primitive for bounding a dominant source."""
    from clearcare_data_pipeline_spark.operators.sampling import hash_topk_sample

    docs = load_table(spark, sf_dir, "documents")
    out = hash_topk_sample(docs, "source", _CAP_K)
    return out.select("doc_id", "source")


def _capped_sample_oracle() -> str:
    h = "md5(CAST(doc_id AS VARCHAR))"
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY {h} ASC, doc_id ASC) AS rk
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rk <= {_CAP_K}
"""


QUERIES["doc_source_capped_sample"] = q_doc_source_capped_sample
ORACLES["doc_source_capped_sample"] = _capped_sample_oracle()
