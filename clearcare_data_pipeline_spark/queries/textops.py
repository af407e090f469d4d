"""Document/text-analysis queries with DuckDB oracles.

Corpus variants are derived deterministically from ``documents`` in
both engines (planted exact and near duplicates) so the dedup
operators have non-trivial positives to find at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.operators.dedup import (
    doc_shingles,
    exact_dedup,
    jaccard_pairs,
    lsh_band_keys,
    lsh_candidate_pairs,
    MINHASH_MOD,
    minhash_consts,
    minhash_signatures,
    NUM_HASHES,
    ROWS_PER_BAND,
    SHINGLE_N,
    simhash_signatures,
)
from clearcare_data_pipeline_spark.operators.textstats import (
    LANG_STOPWORDS,
    text_stats,
)
from clearcare_data_pipeline_spark.queries._textsql import (
    BPE_TOKEN_RE,
    FINGERPRINT_SQL,
    NON_WORD_NON_WS_CLASS,
    WORDS_SQL,
)
from clearcare_data_pipeline_spark.sources.tables import load_table


# --- deterministic corpora (planted duplicates), both engines ----------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def corpus_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + verbatim copies of every doc_id % 7 == 0 doc."""
    d = _docs(spark, sf_dir)
    dups = d.where(F.col("doc_id") % 7 == 0).withColumn("doc_id", F.col("doc_id") + 1000000)
    return d.unionByName(dups)


_CORPUS_EXACT_SQL = """
SELECT * FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
FROM documents WHERE doc_id % 7 = 0
"""


def corpus_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + suffix-perturbed copies of every doc_id % 10 == 0
    doc (near-duplicates: shingle sets overlap heavily)."""
    d = _docs(spark, sf_dir)
    dups = (
        d.where(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zz yy xx")))
    )
    return d.unionByName(dups)


_CORPUS_NEAR_SQL = """
SELECT * FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || ' zz yy xx' AS text, lang, source, n_chars
FROM documents WHERE doc_id % 10 = 0
"""

# --- shared oracle fragments ------------------------------------------

# Java-\s explicit class (r12: RE2's \s excludes U+000B, Java's does
# not — see queries/_textsql.py for the pinned divergence)
_WORDS = WORDS_SQL

_SHINGLES_SQL = f"""
shingled AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      unnest(list_transform(range(0, greatest(len(w) - {SHINGLE_N}, 0) + 1),
             i -> array_to_string(w[i + 1 : i + {SHINGLE_N}], ' '))) AS shingle
    FROM (SELECT doc_id, {_WORDS} AS w FROM corpus)
  ) WHERE length(shingle) > 0
)
"""

# Replays operators/dedup.py minhash_signatures exactly: one md5 per
# shingle, k affine permutations of its two 28-bit hex chunks modulo
# MINHASH_MOD, coefficients from the shared minhash_consts().
_SEED_ROWS = ", ".join(
    f"({s}, {a1}, {a2}, {c})" for s, (a1, a2, c) in enumerate(minhash_consts(NUM_HASHES))
)

_MINHASH_SQL = f"""
{_SHINGLES_SQL},
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS b1,
         CAST(('0x' || substr(md5(shingle), 8, 7)) AS BIGINT) AS b2
  FROM shingled
),
seeds(seed, a1, a2, c) AS (VALUES {_SEED_ROWS}),
signatures AS (
  SELECT doc_id, seed,
         min((a1 * b1 + a2 * b2 + c) % {MINHASH_MOD}) AS minhash
  FROM hashed CROSS JOIN seeds GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // {ROWS_PER_BAND} AS INT) AS band,
         md5(string_agg(CAST(minhash AS STRING), '|' ORDER BY seed)) AS band_key
  FROM signatures GROUP BY doc_id, seed // {ROWS_PER_BAND}
)
"""


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(_docs(spark, sf_dir))


def _lang_score_sql(lang: str) -> str:
    toks = ", ".join(f"'{t}'" for t in LANG_STOPWORDS[lang])
    return (
        f"CASE WHEN len(w) > 0 THEN "
        f"len(list_filter(w, t -> list_contains([{toks}], lower(t)))) / len(w) "
        f"ELSE 0.0 END"
    )


def _doc_stats_oracle() -> str:
    langs = list(LANG_STOPWORDS)
    scores = ", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in langs)
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN s_{lg} > 0 AND s_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " ELSE 'und' END"
    punct = (
        "CASE WHEN length(text) > 0 THEN "
        "(length(text) - length(regexp_replace(text, "
        f"'{NON_WORD_NON_WS_CLASS}', '', 'g'))) / length(text) "
        "ELSE 0.0 END"
    )
    return f"""
WITH w0 AS (
  SELECT doc_id, text, {_WORDS} AS w FROM documents
),
scored AS (
  SELECT doc_id, text, w, {scores},
    len(w) AS n_tokens,
    len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_bpe_tokens,
    length(text) AS n_chars
  FROM w0
)
SELECT doc_id,
  CAST(n_tokens AS INT) AS n_tokens,
  CAST(n_bpe_tokens AS INT) AS n_bpe_tokens,
  CAST(n_chars AS INT) AS n_chars,
  {lang_case} AS lang_guess,
  round(0.4 * least(1.0, n_tokens / 100.0) + 0.4 * s_en + 0.2 * (1.0 - {punct}), 6) AS quality,
  {FINGERPRINT_SQL} AS fingerprint
FROM scored
"""


def q_doc_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup fingerprint groups (>1 member) on the planted corpus."""
    from clearcare_data_pipeline_spark.operators.textstats import fingerprint_expr

    c = corpus_exact_dups(spark, sf_dir)
    return (
        c.select(F.col("doc_id"), fingerprint_expr(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc"))
        .where(F.col("n") > 1)
    )


_DUP_GROUPS_ORACLE = f"""
WITH corpus AS ({_CORPUS_EXACT_SQL})
SELECT {FINGERPRINT_SQL} AS fingerprint,
       count(*) AS n, min(doc_id) AS min_doc
FROM corpus
GROUP BY 1 HAVING count(*) > 1
"""


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors of exact dedup on the planted corpus (min id wins)."""
    c = corpus_exact_dups(spark, sf_dir)
    return exact_dedup(c).select("doc_id", "lang", "source")


_EXACT_DEDUP_ORACLE = f"""
WITH corpus AS ({_CORPUS_EXACT_SQL}),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM corpus
  GROUP BY {FINGERPRINT_SQL}
)
SELECT c.doc_id, c.lang, c.source FROM corpus c JOIN keep USING (doc_id)
"""


_SEEN_MOD = 250


def q_doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: docs with id < 250 stand in for the
    historical fingerprint store; the planted-duplicate corpus is the
    incoming batch. Survivors = batch docs unseen in history, deduped
    within the batch (min id wins)."""
    from clearcare_data_pipeline_spark.operators.dedup import incremental_exact_dedup
    from clearcare_data_pipeline_spark.operators.textstats import fingerprint_expr

    docs = _docs(spark, sf_dir)
    seen = (
        docs.where(F.col("doc_id") < _SEEN_MOD)
        .select(fingerprint_expr(F.col("text")).alias("fingerprint"))
        .distinct()
    )
    batch = corpus_exact_dups(spark, sf_dir)
    return incremental_exact_dedup(batch, seen).select("doc_id", "lang", "source")


_FP_SQL = FINGERPRINT_SQL

_INCR_DEDUP_ORACLE = f"""
WITH corpus AS ({_CORPUS_EXACT_SQL}),
seen AS (
  SELECT DISTINCT {_FP_SQL} AS fingerprint FROM documents WHERE doc_id < {_SEEN_MOD}
),
fp AS (SELECT c.*, {_FP_SQL} AS f FROM corpus c),
fresh AS (
  SELECT * FROM fp WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.fingerprint = fp.f)
),
keep AS (SELECT f, min(doc_id) AS doc_id FROM fresh GROUP BY f)
SELECT fr.doc_id, fr.lang, fr.source FROM fresh fr JOIN keep USING (f, doc_id)
"""


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (J >= 0.7), restricted to
    MinHash-LSH candidates — the plan that survives hub shingles at
    100 TB (the unrestricted shingle-share join is quadratic in a hot
    shingle's posting list).

    The shingle frame feeds BOTH the signature/banding branch and the
    posting-list branch; a localCheckpoint materializes it once (doc_id
    + shingle + its xxhash64 join key, ~linear in corpus bytes) so the
    text-to-shingles explode and the key hash are not recomputed per
    branch or per jaccard_pairs consumer."""
    sh = doc_shingles(corpus_near_dups(spark, sf_dir), n=SHINGLE_N).localCheckpoint()
    cands = lsh_candidate_pairs(lsh_band_keys(minhash_signatures(sh)))
    return jaccard_pairs(sh, cands, min_jaccard=0.7)


_JACCARD_ORACLE = f"""
WITH corpus AS ({_CORPUS_NEAR_SQL}),
{_MINHASH_SQL},
cands AS (
  SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
  FROM bands b1 JOIN bands b2 USING (band, band_key)
  WHERE b1.doc_id < b2.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS inter
  FROM cands c
  JOIN shingled s1 ON s1.doc_id = c.a
  JOIN shingled s2 ON s2.doc_id = c.b AND s2.shingle = s1.shingle
  GROUP BY c.a, c.b
)
SELECT a, b, round(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= 0.7
"""


def q_doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate near-dup pairs on the planted corpus."""
    sh = doc_shingles(corpus_near_dups(spark, sf_dir), n=SHINGLE_N)
    return lsh_candidate_pairs(lsh_band_keys(minhash_signatures(sh)))


_MINHASH_ORACLE = f"""
WITH corpus AS ({_CORPUS_NEAR_SQL}),
{_MINHASH_SQL}
SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
FROM bands b1 JOIN bands b2 USING (band, band_key)
WHERE b1.doc_id < b2.doc_id
"""


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(_docs(spark, sf_dir))


def _simhash_cte(relation: str) -> str:
    """WITH-clause body ending in ``sigs`` = (doc_id, simhash) over
    ``relation`` — shared by the signature and pairing oracles. Mirrors
    the 64-bit construction in operators/dedup.py: bit i = majority
    vote of bit (i % 4) of md5-hex digit (i // 4); bit 63 carries
    two's-complement weight -2^63 (sums ride HUGEINT, land in BIGINT)."""
    return f"""
toks AS (
  SELECT DISTINCT doc_id, unnest({WORDS_SQL}) AS tok
  FROM {relation}
),
votes AS (
  SELECT doc_id, bit,
    (((strpos('0123456789abcdef', substr(mh, CAST(bit // 4 AS INT) + 1, 1)) - 1)
      // CAST(power(2, bit % 4) AS BIGINT)) % 2) * 2 - 1 AS vote
  FROM (SELECT doc_id, md5(tok) AS mh FROM toks),
       (SELECT unnest(range(0, 64)) AS bit)
),
bitsums AS (
  SELECT doc_id, bit, sum(vote) AS s FROM votes GROUP BY doc_id, bit
),
sigs AS (
  SELECT doc_id,
    CAST(sum(CASE WHEN s < 0 THEN 0
             WHEN bit = 63 THEN CAST(-9223372036854775807 AS HUGEINT) - 1
             ELSE CAST(power(2, bit) AS HUGEINT) END) AS BIGINT) AS simhash
  FROM bitsums GROUP BY doc_id
)
""".strip()


_SIMHASH_ORACLE = f"""
WITH {_simhash_cte('documents')}
SELECT doc_id, simhash FROM sigs
"""


def q_doc_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3) on the planted corpus.

    The Spark plan buckets on 16-bit signature blocks (pigeonhole: any
    pair at hamming <= 3 agrees exactly on one of the 4), so the self-join
    is keyed, never all-pairs; the oracle deliberately computes the
    same result by brute force, proving the bucketing is lossless."""
    from clearcare_data_pipeline_spark.operators.dedup import simhash_near_dup_pairs

    sigs = simhash_signatures(corpus_near_dups(spark, sf_dir))
    return simhash_near_dup_pairs(sigs, max_hamming=3)


_SIMHASH_PAIRS_ORACLE = f"""
WITH corpus AS ({_CORPUS_NEAR_SQL}),
{_simhash_cte('corpus')}
SELECT s1.doc_id AS a, s2.doc_id AS b,
       bit_count(xor(s1.simhash, s2.simhash)) AS hamming
FROM sigs s1, sigs s2
WHERE s1.doc_id < s2.doc_id
  AND bit_count(xor(s1.simhash, s2.simhash)) <= 3
"""


def q_doc_simhash_near_dup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIR COUNTS by hamming distance — the scale-safe form
    of ``doc_simhash_near_dups`` (VERDICT r10 #3).

    The pair LISTING is quadratic in clique size (12.2M rows already at
    sf1), so it cannot be materialized at sf10+; this query keeps the
    SAME physical plan shape — signature build, then the pigeonhole
    block-bucketed self-join of operators/dedup.py — but runs it over
    the DISTINCT-signature relation (one row per clique, with its
    population n) instead of per-document. Cross-clique pairs at
    hamming h weigh n_a*n_b; within-clique (hamming 0) pairs weigh
    n*(n-1)/2; output is at most 4 rows (hamming 0..3). Collapsing
    identical keys BEFORE the quadratic join is exactly the 100 TB
    design: work becomes quadratic only in distinct signatures
    (36.7k at sf1 vs 55k docs), and the output is a keyed aggregate,
    never a pair dump."""
    from clearcare_data_pipeline_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_signatures,
    )

    sigs = simhash_signatures(corpus_near_dups(spark, sf_dir))
    cliques = sigs.groupBy("simhash").agg(F.count(F.lit(1)).alias("n"))
    sig_pairs = simhash_near_dup_pairs(
        cliques.select(F.col("simhash").alias("doc_id"), "simhash"), max_hamming=3
    )
    cross = (
        sig_pairs
        .join(cliques.select(F.col("simhash").alias("a"), F.col("n").alias("n_a")), "a")
        .join(cliques.select(F.col("simhash").alias("b"), F.col("n").alias("n_b")), "b")
        .select(
            F.col("hamming").cast("int").alias("hamming"),
            (F.col("n_a").cast("long") * F.col("n_b")).alias("w"),
        )
    )
    # exact bigint DIV (n*(n-1) is even, so DIV 2 is exact up to
    # 2^63), matching the oracle's HUGEINT // 2 — see ADVICE r11 #2
    same = cliques.where(F.col("n") > 1).select(
        F.lit(0).alias("hamming"),
        F.expr("(CAST(n AS BIGINT) * (CAST(n AS BIGINT) - 1)) DIV 2").alias("w"),
    )
    return (
        cross.unionByName(same)
        .groupBy("hamming")
        .agg(F.sum("w").alias("n_pairs"))
    )


# Oracle twin: same collapse-then-block-join formulation in DuckDB SQL.
# Brute force over distinct signatures is out of budget at sf10
# (~300k^2 bit_count probes), but the pigeonhole candidate join is not
# a heuristic here — any pair at hamming <= 3 < num_blocks agrees
# exactly on >= 1 of the 4 16-bit blocks (pigeonhole theorem), and
# ``doc_simhash_near_dups``'s brute-force oracle already pins the
# block-join == all-pairs equivalence for this corpus at sf0.01/sf1.
# The unsigned block extraction rides HUGEINT (DuckDB's >> on a
# negative BIGINT is arithmetic; adding 2^64 first gives the logical
# value Spark's shiftrightunsigned sees).
_SIMHASH_PAIR_COUNTS_ORACLE = f"""
WITH corpus AS ({_CORPUS_NEAR_SQL}),
{_simhash_cte('corpus')},
cliques AS (
  SELECT simhash, count(*) AS n FROM sigs GROUP BY simhash
),
blocks AS (
  SELECT simhash, n, b.blk,
         CAST(((CAST(simhash AS HUGEINT)
                + CASE WHEN simhash < 0 THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END)
               // CAST(power(2, 16 * b.blk) AS HUGEINT)) % 65536 AS BIGINT) AS blk_val
  FROM cliques, (SELECT unnest(range(0, 4)) AS blk) b
),
cand AS (
  SELECT DISTINCT a.simhash AS s1, a.n AS n1, b.simhash AS s2, b.n AS n2
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.blk_val = b.blk_val
  WHERE a.simhash < b.simhash
    AND bit_count(xor(a.simhash, b.simhash)) <= 3
),
cross_w AS (
  SELECT CAST(bit_count(xor(s1, s2)) AS INT) AS hamming,
         CAST(n1 AS HUGEINT) * n2 AS w
  FROM cand
),
same_w AS (
  SELECT 0 AS hamming, CAST(n AS HUGEINT) * (n - 1) // 2 AS w
  FROM cliques WHERE n > 1
)
SELECT hamming, CAST(sum(w) AS BIGINT) AS n_pairs
FROM (SELECT * FROM cross_w UNION ALL SELECT * FROM same_w)
GROUP BY hamming
"""


def q_doc_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup: doc counts and char mass by (lang, source)."""
    d = _docs(spark, sf_dir)
    return (
        d.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


_ROLLUP_ORACLE = """
SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP (lang, source)
"""


def q_doc_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion NEAR-dup (r13): docs with id < 250 stand
    in for the history band-key store; the planted near-duplicate
    corpus is the incoming batch. Survivors = batch docs whose band
    keys hit neither history nor a smaller batch doc id
    (operators/dedup.incremental_minhash_dedup; history-then-batch ≡
    full-run composition pinned in tests/test_minhash.py)."""
    from clearcare_data_pipeline_spark.operators.dedup import incremental_minhash_dedup

    # History docs (doc_id < _SEEN_MOD) appear VERBATIM in the batch
    # corpus and banding is deterministic per (doc_id, text), so the
    # history band-key store is the batch banding filtered to history
    # ids — exactly how the oracle below derives `hist`. The banding is
    # computed ONCE and shared by the history side and the operator
    # (no second shingle+md5+k-min pipeline for the history side); the
    # localCheckpoint materializes the narrow (doc_id, band, band_key)
    # frame so its FOUR consumers (history filter + the operator's
    # three) read cached blocks instead of re-planning the pipeline —
    # without it the optimizer pushes the doc_id filter back down and
    # rebuilds a separate filtered pipeline per consumer (same-JVM A/B
    # medians: 3.12 s original, 2.73 s lazy-shared, 1.85 s
    # checkpointed; plans/r13/doc_incremental_minhash_*.txt).
    batch = corpus_near_dups(spark, sf_dir)
    bands = (
        lsh_band_keys(minhash_signatures(doc_shingles(batch, n=SHINGLE_N)))
        .repartition("band", "band_key")
        .localCheckpoint()
    )
    seen = (
        bands.where(F.col("doc_id") < _SEEN_MOD)
        .select("band", "band_key")
        .distinct()
    )
    return incremental_minhash_dedup(batch, seen, bands).select("doc_id", "lang", "source")


# History bands fall out of the SAME batch band computation (history
# docs are a subset of the batch corpus and banding is deterministic
# per doc), so the oracle computes bands once and filters.
_INCR_MINHASH_ORACLE = f"""
WITH corpus AS ({_CORPUS_NEAR_SQL}),
{_MINHASH_SQL},
hist AS (
  SELECT DISTINCT band, band_key FROM bands WHERE doc_id < {_SEEN_MOD}
),
hist_hits AS (
  SELECT DISTINCT b.doc_id FROM bands b JOIN hist USING (band, band_key)
),
grp AS (
  SELECT band, band_key, min(doc_id) AS min_id FROM bands GROUP BY band, band_key
),
blocked AS (
  SELECT DISTINCT b.doc_id
  FROM bands b JOIN grp USING (band, band_key)
  WHERE b.doc_id > grp.min_id
),
dropped AS (
  SELECT doc_id FROM hist_hits UNION SELECT doc_id FROM blocked
)
SELECT c.doc_id, c.lang, c.source FROM corpus c
WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.doc_id = c.doc_id)
"""


QUERIES = {
    "doc_stats": q_doc_stats,
    "doc_incremental_minhash": q_doc_incremental_minhash,
    "doc_dup_groups": q_doc_dup_groups,
    "doc_exact_dedup": q_doc_exact_dedup,
    "doc_incremental_dedup": q_doc_incremental_dedup,
    "doc_ngram_jaccard": q_doc_ngram_jaccard,
    "doc_minhash_lsh": q_doc_minhash_lsh,
    "doc_simhash": q_doc_simhash,
    "doc_simhash_near_dups": q_doc_simhash_near_dups,
    "doc_simhash_near_dup_counts": q_doc_simhash_near_dup_counts,
    "doc_lang_source_rollup": q_doc_lang_source_rollup,
}

ORACLES = {
    "doc_stats": _doc_stats_oracle(),
    "doc_incremental_minhash": _INCR_MINHASH_ORACLE,
    "doc_dup_groups": _DUP_GROUPS_ORACLE,
    "doc_exact_dedup": _EXACT_DEDUP_ORACLE,
    "doc_incremental_dedup": _INCR_DEDUP_ORACLE,
    "doc_ngram_jaccard": _JACCARD_ORACLE,
    "doc_minhash_lsh": _MINHASH_ORACLE,
    "doc_simhash": _SIMHASH_ORACLE,
    "doc_simhash_near_dups": _SIMHASH_PAIRS_ORACLE,
    "doc_simhash_near_dup_counts": _SIMHASH_PAIR_COUNTS_ORACLE,
    "doc_lang_source_rollup": _ROLLUP_ORACLE,
}


# --- declared-vs-detected language confusion matrix ----------------------


def q_doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the declared ``lang`` column vs the n-gram
    language ID — the calibration view that decides whether the
    detector is trustworthy enough to gate on. Pure column expressions
    + one small keyed agg."""
    from clearcare_data_pipeline_spark.operators.textstats import lang_id_expr, words_expr

    docs = _docs(spark, sf_dir)
    detected = lang_id_expr(words_expr(F.col("text")))
    return (
        docs.select(F.col("lang").alias("declared"), detected.alias("detected"))
        .groupBy("declared", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lang_confusion_oracle() -> str:
    langs = list(LANG_STOPWORDS)
    scores = ", ".join(f"{_lang_score_sql(lg)} AS s_{lg}" for lg in langs)
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN s_{lg} > 0 AND s_{lg} = {best} THEN '{lg}'" for lg in langs
    ) + " ELSE 'und' END"
    return f"""
WITH w0 AS (SELECT doc_id, lang, text, {_WORDS} AS w FROM documents),
scored AS (SELECT doc_id, lang, {scores} FROM w0)
SELECT lang AS declared, {lang_case} AS detected, count(*) AS n
FROM scored GROUP BY 1, 2
"""


QUERIES["doc_lang_confusion"] = q_doc_lang_confusion
ORACLES["doc_lang_confusion"] = _lang_confusion_oracle()


# --- rolling-hash fingerprint dup groups ---------------------------------


def q_doc_rolling_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup groups by Rabin-Karp rolling hash over the planted-dup
    corpus — the incremental-fingerprint counterpart of the md5 groups
    (doc_dup_groups); identical group structure proves the hash."""
    from clearcare_data_pipeline_spark.operators.textstats import rolling_hash_expr

    c = corpus_exact_dups(spark, sf_dir)
    return (
        c.select("doc_id", rolling_hash_expr(F.col("text")).alias("rhash"))
        .groupBy("rhash")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc"))
        .where(F.col("n") > 1)
    )


def _rolling_hash_oracle() -> str:
    from clearcare_data_pipeline_spark.operators.textstats import ROLLING_HASH_SQL

    rh = ROLLING_HASH_SQL.format(col="text")
    return f"""
WITH corpus AS ({_CORPUS_EXACT_SQL})
SELECT {rh} AS rhash, count(*) AS n, min(doc_id) AS min_doc
FROM corpus GROUP BY 1 HAVING count(*) > 1
"""


QUERIES["doc_rolling_hash_groups"] = q_doc_rolling_hash_groups
ORACLES["doc_rolling_hash_groups"] = _rolling_hash_oracle()
