"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding near-dup.

Designed for the 100 TB regime:

* exact dedup    — hash aggregate on a content fingerprint (one
                   shuffle keyed by a 16-byte digest instead of the
                   full row).
* MinHash-LSH    — shingle -> k independent min-hashes -> banded
                   bucket keys; only docs sharing a band key are ever
                   paired, so the candidate join is keyed and local,
                   never an all-pairs product.
* SimHash        — 64-bit per-doc signature; pigeonhole blocks bucket
                   near-identical token sets.
* n-gram Jaccard — exact verify step over LSH candidate pairs.

Hash function note: min-hashes are affine permutations of one
md5(shingle) per shingle, so the same signatures are computable in any
engine (the correctness oracle reproduces them in SQL); md5 here is a
deterministic mixer, not a security primitive.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clearcare_data_pipeline_spark.operators.sampling import md5_hex_digit
from clearcare_data_pipeline_spark.operators.textstats import fingerprint_expr, words_expr

# Document MinHash shape, read at call time: 5-word shingles, 12
# permutations, 3 rows per band (4 bands). queries/textops.py builds its
# DuckDB oracles from these same constants.
SHINGLE_N = 5
NUM_HASHES = 12
ROWS_PER_BAND = 3

# SimHash shape, read at call time: 64-bit signatures, 4 pigeonhole
# blocks of 16 bits (see simhash_near_dup_pairs for the sizing).
SIMHASH_BITS = 64
SIMHASH_BLOCKS = 4


def _keep_min_id(fingerprinted: DataFrame) -> DataFrame:
    """One row per ``_fp`` fingerprint: the min ``doc_id`` wins
    (deterministic, unlike dropDuplicates' arbitrary pick), joined back
    to recover the row."""
    keep = fingerprinted.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    return fingerprinted.join(keep, ["_fp", "doc_id"], "inner").drop("_fp")


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct normalized content (min id wins)."""
    return _keep_min_id(df.withColumn("_fp", fingerprint_expr(F.col(text_col))))


def incremental_exact_dedup(
    new_docs: DataFrame, seen_fingerprints: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Continuous-ingestion dedup: drop incoming docs whose fingerprint
    already exists in the history store, then dedup the batch itself
    (min id wins). The history check is a LEFT ANTI join on the
    16-byte fingerprint — at 100 TB the seen-store is a fingerprint-
    bucketed table and this join co-locates by the same key, touching
    no document payload. ``seen_fingerprints`` needs one column:
    ``fingerprint``."""
    fp = fingerprint_expr(F.col(text_col))
    w = new_docs.withColumn("_fp", fp)
    fresh = w.join(
        seen_fingerprints.select(F.col("fingerprint").alias("_fp")), "_fp", "left_anti"
    )
    return _keep_min_id(fresh)


def incremental_minhash_dedup(
    new_docs: DataFrame, seen_band_keys: DataFrame, band_keys: DataFrame
) -> DataFrame:
    """Continuous-ingestion NEAR-dup (r13 — closes the incremental gap
    for MinHash that incremental_exact_dedup closes for exact dedup):
    drop incoming docs that share any LSH band key with the history
    store, and within the batch apply the smaller-id-wins rule — a
    batch doc survives iff NONE of its band keys is owned by a
    smaller batch doc id and NONE appears in history.

    The rule is 'collides with any EARLIER doc', not 'any earlier
    SURVIVOR', which is what makes it compose exactly: with the
    history store holding the band keys of ALL previously ingested
    docs (``seen_band_keys`` columns: band, band_key), running
    history-then-batch is row-identical to one full-corpus run
    (pinned in tests/test_minhash.py). Docs shorter than the shingle
    width emit one whole-text shingle (shingles_expr), so identical
    short docs are still caught; only empty/NULL texts emit nothing
    and always survive.

    ``band_keys`` is the (doc_id, band, band_key) frame of ``new_docs``,
    ``lsh_band_keys(minhash_signatures(doc_shingles(new_docs,
    n=SHINGLE_N)))``: the caller computes it once, so a history store
    derived from the same banding shares one banding subtree with this
    operator.

    Scale shape: signature stage is the one-pass k-min groupBy of
    minhash_signatures; the history check is a keyed left-semi join on
    (band, band_key) — at 100 TB the store is bucketed by band_key and
    the join co-locates, touching no document payload; the in-batch
    rule is one keyed min-aggregate + equi-join. No pair enumeration
    anywhere."""
    # One explicit hash repartition feeds all three band consumers
    # below (history semi-join, per-bucket min aggregate, blocked
    # join): the consumers' children canonicalize to the same Exchange
    # and ReuseExchange materializes the signature pipeline ONCE — the
    # naive form re-ran the corpus-sized shingle+md5+k-min chain once
    # per consumer (3x; measured 16 scans / 28 exchanges in the r13
    # before-plan, plans/r13/doc_incremental_minhash_before.txt). The
    # aggregate and both joins are keyed on (band, band_key), so no
    # consumer adds an exchange of its own on this side. (A band_keys
    # frame that was repartitioned-then-localCheckpointed — textops'
    # shape — pays the repartition again
    # per consumer: a checkpoint's LogicalRDD does not advertise its
    # partitioning, so the nodes cannot collapse; ADVICE r13 #4. The
    # re-shuffles move only narrow (doc_id, band, band_key) rows. An
    # r14 attempt to make the three consumer subtrees canonicalize to
    # ONE reused exchange via a shared notnull pre-filter failed —
    # the optimizer reorders each leg differently (the history
    # semi-join lands below the repartition on one), so executed
    # ReusedExchange stayed 0 and the A/B was a wash: 2.59 s base /
    # 2.53 s filtered medians at sf0.1.)
    bands = band_keys.repartition("band", "band_key")
    hist_hits = (
        bands.join(
            seen_band_keys.select("band", "band_key").distinct(),
            ["band", "band_key"],
            "left_semi",
        )
        .select("doc_id")
        .distinct()
    )
    grp_min = bands.groupBy("band", "band_key").agg(F.min("doc_id").alias("_min_id"))
    blocked = (
        bands.join(grp_min, ["band", "band_key"])
        .where(F.col("doc_id") > F.col("_min_id"))
        .select("doc_id")
        .distinct()
    )
    dropped = hist_hits.unionByName(blocked).distinct()
    return new_docs.join(dropped, "doc_id", "left_anti")


def shingles_expr(tokens: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a pre-staged TOKEN ARRAY.

    Takes the token array, not the raw text: ``tokens`` is referenced
    inside the per-index slice lambda, and Catalyst does not hoist
    lambda-invariant subtrees (r7 lesson, see ``hashed_tf_expr``) — an
    inline tokenization expression here would re-split the text once
    per shingle index, O(tokens^2) per row. Callers stage the token
    array as its own projection column first (``doc_shingles``)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(tokens, i + 1, n), " ")
    )
    return F.array_distinct(F.filter(grams, lambda g: F.length(g) > 0))


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", *, n: int
) -> DataFrame:
    """(doc_id, shingle, sh) rows, shingles distinct per doc. Tokens
    are staged in their own projection so the per-index shingle lambda
    reads a bound column, not a re-evaluated split (see
    ``shingles_expr``).

    ``sh`` = xxhash64(shingle) is the shingle join key: 8 bytes instead
    of a 30-50 byte n-gram string, cutting shuffle volume ~5x. Join
    counts are identical to string joins absent a 64-bit collision
    within a doc pair (~2^-64 per pair — ignorable even at 100 TB).
    Consumers that never join on shingles leave it to column pruning."""
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        words_expr(F.col(text_col)).alias("_toks"),
    )
    return staged.select(
        "doc_id",
        F.explode(shingles_expr(F.col("_toks"), n)).alias("shingle"),
    ).withColumn("sh", F.xxhash64("shingle"))


# Modulus for the affine minhash permutations: the Mersenne prime
# 2^31 - 1. It must be far SMALLER than the maximum of the affine form
# (a1*b1 + a2*b2 + c < 2^60) so the mod wraps ~2^29 times and actually
# mixes — with a modulus above that maximum the map is monotone in
# (b1, b2), one small-hash shingle wins the min under EVERY seed, and
# the "permutations" all agree regardless of Jaccard similarity
# (measured: a J=0.9 pair agreed on 1/12 seeds instead of ~11/12).
# 32-bit minhashes are the industry-standard sketch width; the exact
# Jaccard verify stage downstream absorbs the 2^-31 collision bias.
# All arithmetic stays exact signed-64-bit in BOTH engines and safe
# under Spark's ANSI overflow checking.
MINHASH_MOD = (1 << 31) - 1


def minhash_consts(num_hashes: int) -> list[tuple[int, int, int]]:
    """Deterministic (a1, a2, c) coefficients for the k affine minhash
    permutations — the single source shared by the Spark operator and
    the DuckDB oracle builders, so both replay the identical hash
    family.

    Derived from md5 of the seed, NOT an LCG: coefficients linear in
    the seed make the k permutations strongly correlated (as (a1, a2)
    moves along a line the argmin shingle rarely changes, so
    consecutive seeds produce the same minhash regardless of Jaccard
    similarity — measured: a J=0.9 pair agreed on only 7/12 seeds,
    in a pattern, where ~11/12 i.i.d. agreement is expected)."""
    out = []
    for s in range(num_hashes):
        h = hashlib.md5(f"minhash-perm|{s}".encode()).hexdigest()
        a1 = (int(h[0:8], 16) % (1 << 31)) | 1
        a2 = (int(h[8:16], 16) % (1 << 31)) | 1
        c = int(h[16:24], 16) % (1 << 31)
        out.append((a1, a2, c))
    return out


def md5_chunks(h: Column) -> tuple[Column, Column]:
    """The first two 28-bit chunks (hex digits 1-7 and 8-14) of the md5
    hex ``h`` as longs: the (b1, b2) inputs of ``minhash_perm``. The
    oracles replay them as ``CAST('0x' || substr(h, 1, 7) AS BIGINT)``."""
    b1 = F.conv(F.substring(h, 1, 7), 16, 10).cast("long")
    b2 = F.conv(F.substring(h, 8, 7), 16, 10).cast("long")
    return b1, b2


def minhash_perm(b1: Column, b2: Column, a1: int, a2: int, c: int) -> Column:
    """One affine minhash permutation ``(a1*b1 + a2*b2 + c) mod
    MINHASH_MOD`` of a digest's (b1, b2) chunks, with one seed's
    ``minhash_consts`` coefficients."""
    return (F.lit(a1) * b1 + F.lit(a2) * b2 + F.lit(c)) % F.lit(MINHASH_MOD)


def band_key(*minhashes: Column) -> Column:
    """LSH band key: md5 of the band's seed-ordered minhash strings
    joined with '|' (string columns, or one array of them)."""
    return F.md5(F.concat_ws("|", *minhashes).cast("binary"))


def minhash_signatures(shingled: DataFrame) -> DataFrame:
    """(doc_id, seed, minhash) -> one row per doc per seed.

    Minhash_s(doc) = min over shingles of an affine permutation
    ``minhash_perm`` of ONE md5 per shingle (b1/b2 = its
    ``md5_chunks``), NUM_HASHES permutations. The
    classic universal-hashing formulation: one strong base hash, k
    cheap independent permutations — versus salting the md5 k times,
    this cuts per-shingle digest work k-fold, which IS the dominant
    cost of LSH dedup at corpus scale (measured at sf1: the signature
    stage dropped ~6x). Exactly replayable in the DuckDB oracle via
    ``CAST('0x' || substr(md5(shingle), ...) AS BIGINT)`` and the same
    ``minhash_consts`` coefficients.

    Single-pass: all k minimums are computed as k min-aggregates in ONE
    groupBy over the (doc_id, shingle) frame — map-side partial min
    collapses each input partition to one row per doc before the
    shuffle, so shuffle volume is per-doc, not per-shingle, and never
    multiplied by k (the seed-explode formulation shuffles k rows per
    (doc, shingle) — ~k× the bytes at 100 TB). The long shape the LSH
    bander consumes is recovered by a posexplode of k columns per doc,
    which is negligible post-aggregation.
    """
    num_hashes = NUM_HASHES
    b1, b2 = md5_chunks(F.md5(F.col("shingle")))
    hashed = shingled.select(
        "doc_id", b1.alias("_b1"), b2.alias("_b2")
    )
    aggs = [
        F.min(minhash_perm(F.col("_b1"), F.col("_b2"), *co)).alias(f"mh_{s}")
        for s, co in enumerate(minhash_consts(num_hashes))
    ]
    wide = hashed.groupBy("doc_id").agg(*aggs)
    return wide.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"mh_{s}") for s in range(num_hashes)])).alias(
            "seed", "minhash"
        ),
    )


def lsh_band_keys(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): ROWS_PER_BAND consecutive seeds per
    band. Docs agreeing on ANY band key are candidate near-duplicates."""
    banded = signatures.withColumn("band", (F.col("seed") / ROWS_PER_BAND).cast("int"))
    return banded.groupBy("doc_id", "band").agg(
        band_key(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                lambda s: s["minhash"].cast("string"),
            )
        ).alias("band_key")
    )


def lsh_candidate_pairs(band_keys: DataFrame) -> DataFrame:
    """Distinct (a, b) doc pairs (a < b) sharing at least one band —
    a keyed self-join on (band, band_key), never a cross product.

    Both join sides derive from ONE explicit hash repartition of the
    band frame (r13): the two children canonicalize to the same
    Exchange, so ReuseExchange materializes the upstream signature
    pipeline (scan -> shingle explode -> per-shingle md5 -> k-min
    aggregate) once instead of once per side — the duplicated subtree
    was the whole corpus-sized cost twice at every scale. The
    repartition shuffles only the narrow (band, band_key, doc_id)
    rows, a few rows per doc, and AQE may still coalesce or broadcast
    downstream as before."""
    shared = band_keys.repartition("band", "band_key")
    left = shared.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("a"))
    right = shared.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("b"))
    return (
        left.join(right, ["band", "band_key"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(
    shingled: DataFrame, candidates: DataFrame, min_jaccard: float = 0.8
) -> DataFrame:
    """Exact n-gram Jaccard |A∩B| / |A∪B| over candidate doc pairs.

    ``shingled`` is ``doc_shingles`` output; the joins run on its ``sh``
    key. Intersections are computed by joining each candidate (a, b)
    pair to the shingle postings of *a* and then of *b* — two keyed
    joins whose volume is bounded by the LSH bucket sizes. The raw
    shingle-share self-join never runs, so a high-document-frequency
    shingle (a hub key) cannot make the plan quadratic in its posting
    list.
    """
    hashed = shingled.select("doc_id", "sh")
    sizes = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = hashed.select(F.col("doc_id").alias("a"), "sh")
    b = hashed.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        candidates.select("a", "b")
        .distinct()
        .join(a, "a")
        .join(b, ["b", "sh"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "a", "sz": "sz_a"}), "a")
        .join(sizes.withColumnsRenamed({"doc_id": "b", "sz": "sz_b"}), "b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .where(F.col("jaccard") >= min_jaccard)
        .select("a", "b", "jaccard")
    )


# --- SimHash -----------------------------------------------------------

_LONG_MIN = -9223372036854775808


def simhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash over distinct tokens, SIMHASH_BITS (at most 64) wide:
    bit_i = majority vote across tokens of bit (i % 4) of md5-hex digit
    (i // 4) — four bits per hex digit, so md5's 32 digits supply up to
    128 bits. Engine-portable (strpos + floor-division arithmetic, no
    native bit ops on binary). The signature lands in a signed long:
    bit 63 carries two's-complement weight -2^63, so XOR/bit_count
    hamming math downstream is unaffected by sign."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(words_expr(F.col(text_col)))).alias("tok"),
    ).withColumn("th", F.md5(F.col("tok").cast("binary")))
    bit = F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit")
    digit = md5_hex_digit(F.col("th"), (F.col("bit") / 4).cast("int") + 1)
    bitval = F.floor(digit / F.pow(F.lit(2.0), F.col("bit") % 4)).cast("long") % 2
    votes = toks.select("doc_id", "th", bit).select(
        "doc_id", "bit", (bitval * 2 - 1).alias("vote")
    )
    weight = F.when(F.col("bit") == 63, F.lit(_LONG_MIN).cast("long")).otherwise(
        F.pow(F.lit(2.0), F.col("bit")).cast("long")
    )
    bitvals = votes.groupBy("doc_id", "bit").agg(F.sum("vote").alias("s"))
    return bitvals.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") >= 0, weight).otherwise(F.lit(0))).alias("simhash")
    )


def simhash_near_dup_pairs(signatures: DataFrame, *, max_hamming: int = 1) -> DataFrame:
    """(a, b, hamming) near-dup pairs by SimHash block bucketing.

    Pigeonhole LSH: a signature is split into SIMHASH_BLOCKS equal bit
    blocks; any pair within hamming distance < SIMHASH_BLOCKS must agree
    exactly on at least one block, so candidate generation is a keyed
    self-join on (block_index, block_value) — never all-pairs — and the
    exact popcount(xor) verify runs only inside buckets.

    The shape is corpus-scale: 64-bit signatures / 4 blocks = 2^16
    bucket keys per block, so at 10^9 docs the expected bucket holds
    ~15k docs (vs the 2^8-key 16/2 parameterization, whose buckets
    degenerate toward all-pairs). Size SIMHASH_BLOCKS so
    docs / 2^(bits/blocks) keeps bucket populations bounded — more
    blocks = more recall (hamming < blocks guaranteed caught) but
    bigger buckets. Block extraction uses an UNSIGNED shift + pmod so
    a negative 64-bit signature (bit 63 set) still yields the correct
    non-negative block values.
    """
    num_blocks = SIMHASH_BLOCKS
    block_bits = SIMHASH_BITS // num_blocks
    blocks = signatures.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.pmod(
                        F.shiftrightunsigned(F.col("simhash"), i * block_bits),
                        F.lit(1 << block_bits),
                    )
                    for i in range(num_blocks)
                ]
            )
        ).alias("block", "block_val"),
    )
    # One shared exchange for the self-join (r13, same pattern as
    # lsh_candidate_pairs): the signature/blocking pass runs once and
    # the pigeonhole join is co-partitioned on (block, block_val).
    blocks = blocks.repartition("block", "block_val")
    left = blocks.select(
        F.col("block"), F.col("block_val"),
        F.col("doc_id").alias("a"), F.col("simhash").alias("sig_a"),
    )
    right = blocks.select(
        F.col("block"), F.col("block_val"),
        F.col("doc_id").alias("b"), F.col("simhash").alias("sig_b"),
    )
    return (
        left.join(right, ["block", "block_val"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def cross_corpus_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    max_df: int = 50,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-set decontamination: find eval docs sharing word n-gram
    shingles with any train doc (the standard exact-overlap
    contamination check run before training on a new corpus).

    Plan shape at 100 TB: shingle both corpora (explode; joins move
    the 8-byte ``sh`` key, not strings), CAP SHINGLE DOCUMENT FREQUENCY over the union corpus
    before joining (a boilerplate shingle appearing in millions of
    docs would otherwise make the equi-join quadratic in its posting
    list — the same hub blowup jaccard_pairs guards against), then one
    keyed join + one (eval, train) count agg. ``max_df`` trades recall
    on extremely common passages for a bounded join; contaminated
    pairs share rare shingles overwhelmingly.
    """
    # r13 optimization note — measured and deliberately NOT shared:
    # each shingle frame feeds two consumers (DF-cap aggregate +
    # shared-shingle join) whose column pruning differs, and an
    # explicit repartition("sh") did not produce runtime exchange
    # reuse (ColumnPruning pushes the narrower Project below the
    # repartition, splitting the exchanges again) while costing the
    # aggregate leg its map-side partial aggregation — same finding
    # as operators/spans.py _grams_by_key. The duplicated explode
    # below the legs shares its scan exchange via AQE's runtime stage
    # cache.
    t_sh = doc_shingles(train, id_col, text_col, n=n).select(
        F.col("doc_id").alias("train_doc"), "sh"
    )
    e_sh = doc_shingles(eval_df, id_col, text_col, n=n).select(
        F.col("doc_id").alias("eval_doc"), "sh"
    )
    df_counts = (
        t_sh.select(F.col("train_doc").alias("d"), "sh")
        .unionByName(e_sh.select(F.col("eval_doc").alias("d"), "sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .select("sh")
    )
    shared = (
        e_sh.join(df_counts, "sh")
        .join(t_sh, "sh")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return shared.groupBy("eval_doc").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.max("n_shared").alias("max_shared_shingles"),
    )
