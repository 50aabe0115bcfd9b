"""Training-data pipeline queries (q20-q38): text analysis, dedup,
similarity search, events, multimodal, temporal joins.

Oracle notes: Spark's sequential ``aggregate`` fold is mirrored by
DuckDB ``list_reduce`` (both left folds over the same element order →
bit-identical doubles). xxhash64-based ops (MinHash/SimHash) are not
portable; MinHash-LSH verifies candidates with exact Jaccard so its
OUTPUT still matches the exact oracle w.h.p.; only SimHash/IVF are
rows-only checked (recall-tested in pytest against exact baselines).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    EN_STOPWORDS,
    bpe_ish_token_count,
    digit_count,
    punct_count,
    rolling_hash,
    stopword_hits,
    token_count,
    tokens,
)
from ..operators import cdc, dedup, graph, multimodal, sessionize, similarity
from ..sources.catalog import load_table

_STOP_SQL = ", ".join(f"'{s}'" for s in EN_STOPWORDS)


# --- q20: per-document text statistics / quality score ----------------------

def q20_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tc = token_count("text")
    pc = punct_count("text")
    sh = stopword_hits("text")
    length = F.length("text").cast("long")
    stop_ratio = sh.cast("double") / tc.cast("double")
    punct_ratio = pc.cast("double") / length.cast("double")
    quality = (
        stop_ratio * 0.5
        + (F.lit(1.0) - punct_ratio) * 0.3
        + F.when(tc.between(20, 500), 0.2).otherwise(0.0)
    )
    return docs.select(
        "doc_id",
        length.alias("n_chars_actual"),
        tc.alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        pc.alias("n_punct"),
        digit_count("text").alias("n_digits"),
        sh.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        quality.alias("quality_score"),
        (quality >= 0.35).alias("is_quality"),
    ).orderBy("doc_id")


Q20_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           text,
           length(text)::BIGINT AS n_chars_actual,
           len(string_split_regex(trim(text), ' +'))::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT
               AS n_bpe_tokens,
           len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::BIGINT AS n_punct,
           len(regexp_extract_all(text, '[0-9]'))::BIGINT AS n_digits,
           len(list_filter(string_split_regex(trim(text), ' +'),
                           x -> lower(x) IN ({_STOP_SQL})))::BIGINT AS n_stopwords
    FROM documents
)
SELECT doc_id, n_chars_actual, n_tokens, n_bpe_tokens, n_punct, n_digits,
       n_stopwords,
       n_stopwords::DOUBLE / n_tokens::DOUBLE AS stopword_ratio,
       n_punct::DOUBLE / n_chars_actual::DOUBLE AS punct_ratio,
       (n_stopwords::DOUBLE / n_tokens::DOUBLE) * 0.5
         + (1.0 - n_punct::DOUBLE / n_chars_actual::DOUBLE) * 0.3
         + (CASE WHEN n_tokens BETWEEN 20 AND 500 THEN 0.2 ELSE 0.0 END)
           AS quality_score,
       ((n_stopwords::DOUBLE / n_tokens::DOUBLE) * 0.5
         + (1.0 - n_punct::DOUBLE / n_chars_actual::DOUBLE) * 0.3
         + (CASE WHEN n_tokens BETWEEN 20 AND 500 THEN 0.2 ELSE 0.0 END))
           >= 0.35 AS is_quality
FROM t
ORDER BY doc_id
"""


# --- q21: heuristic language identification ---------------------------------

def q21_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    ratio = stopword_hits("text").cast("double") / token_count("text").cast(
        "double"
    )
    predicted = F.when(ratio > 0.02, "en").otherwise("unknown")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        ratio.alias("stopword_ratio"),
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("is_match"),
    ).orderBy("doc_id")


Q21_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang,
           len(list_filter(string_split_regex(trim(text), ' +'),
                           x -> lower(x) IN ({_STOP_SQL})))::DOUBLE
             / len(string_split_regex(trim(text), ' +'))::DOUBLE AS ratio
    FROM documents
)
SELECT doc_id,
       lang AS labeled_lang,
       ratio AS stopword_ratio,
       CASE WHEN ratio > 0.02 THEN 'en' ELSE 'unknown' END AS predicted_lang,
       (CASE WHEN ratio > 0.02 THEN 'en' ELSE 'unknown' END) = lang AS is_match
FROM t
ORDER BY doc_id
"""


# --- q22: exact (hash) dedup groups ------------------------------------------

def q22_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.exact_dedup_groups(docs).orderBy("fingerprint")


Q22_ORACLE = """
SELECT md5(lower(trim(text)))  AS fingerprint,
       COUNT(*)                AS dup_count,
       MIN(doc_id)             AS canonical_doc_id
FROM documents
GROUP BY 1
ORDER BY 1
"""


# --- q23/q24: n-gram Jaccard near-dup pairs (exact + MinHash-LSH path) -------

_JACCARD_ORACLE = """
WITH docs AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
    FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END)) AS shingle
    FROM docs
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, intersection,
       sa.n + sb.n - intersection                        AS union_size,
       intersection::DOUBLE / (sa.n + sb.n - intersection)::DOUBLE AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE intersection::DOUBLE / (sa.n + sb.n - intersection)::DOUBLE >= 0.8
ORDER BY doc_a, doc_b
"""


def q23_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.jaccard_pairs(docs, threshold=0.8)


Q23_ORACLE = _JACCARD_ORACLE


def q24_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.minhash_lsh_pairs(docs, threshold=0.8)


# LSH recall at J≥0.8 with 16 bands × 4 rows ≈ 0.9997+ → output equals
# the exact-Jaccard pairs; checked against the same oracle.
Q24_ORACLE = _JACCARD_ORACLE


# --- q158: shingle-containment near-dup pairs (asymmetric) -------------------
# Broder's OTHER resemblance measure: containment(A in B) =
# |sh(A)∩sh(B)| / |sh(A)| — the subset-duplication detector Jaccard
# structurally misses (a snippet inside a long page has J ~ |A|/|B|).
# The corpus plants the regime: every 5th document contributes a
# 22-token lead snippet under doc_id+2M — its 3-gram shingles are BY
# CONSTRUCTION a subset of the parent's, so containment is exactly 1.0
# while Jaccard sits near 20/n_parent_shingles. Both the snippet
# construction and the exact set math replay in DuckDB, so the driver
# hash-checks the asymmetric verdicts themselves.

_SNIPPET_OFFSET = 2_000_000
_SNIPPET_TOKENS = 22


def _snippet_corpus(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text")
    toks = F.split(F.trim("text"), " +")
    snip = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _SNIPPET_OFFSET).alias("doc_id"),
        F.array_join(F.slice(toks, 1, _SNIPPET_TOKENS), " ").alias("text"),
    )
    return base.unionByName(snip)


def q158_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.containment_pairs(_snippet_corpus(docs), threshold=0.9)


Q158_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_SNIPPET_OFFSET} AS doc_id,
           array_to_string(list_slice(string_split_regex(trim(text), ' +'),
                                      1, {_SNIPPET_TOKENS}), ' ') AS text
    FROM documents WHERE doc_id % 5 = 0
),
docs AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
    FROM corpus
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END)) AS shingle
    FROM docs
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sized AS (
    SELECT doc_a, doc_b, intersection, sa.n AS n_a, sb.n AS n_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
),
oriented AS (
    SELECT doc_a AS doc_inner, doc_b AS doc_outer, intersection,
           n_a AS n_inner, n_b AS n_outer
    FROM sized
    UNION ALL
    SELECT doc_b AS doc_inner, doc_a AS doc_outer, intersection,
           n_b AS n_inner, n_a AS n_outer
    FROM sized
)
SELECT doc_inner, doc_outer, intersection, n_inner, n_outer,
       intersection::DOUBLE / n_inner::DOUBLE AS containment
FROM oriented
WHERE intersection::DOUBLE / n_inner::DOUBLE >= 0.9
ORDER BY doc_inner, doc_outer
"""


# --- q159: MinHash estimator calibration (estimate vs exact, hash-gated) -----
# The MinHash signature itself under the hash gate: per candidate pair
# (exact Jaccard >= 0.5, the q23 machinery at a looser threshold), the
# estimate sig-agreement/64 next to the exact Jaccard — the estimator's
# error distribution is what you size num_hashes/bands from, and both
# engines must reproduce the SIGNATURES token-for-token to agree.
# Portable hash basis: the production signatures hash shingles with
# xxhash64 (JVM-side, no DuckDB twin), so this query derives h30 from
# md5 hex digits — the q25 portable-bits mechanism — and applies the
# same 64 affine permutations mod the same 30-bit prime in both
# engines. 28-bit h30 x 30-bit coefficient < 2^58: BIGINT-safe in both.

_Q159_THRESHOLD = 0.5
_H30_SQL = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substring(md5(shingle), {k + 1}, 1))"
        f" - 1) * {16 ** (6 - k)}"
        for k in range(7)
    )
    + ")"
)


def _q159_oracle() -> str:
    from ..operators.dedup import _MINHASH_COEFFS, _P30

    mh_cols = ",\n           ".join(
        f"MIN((h30 * {a} + {b}) % {_P30}) AS mh_{j}"
        for j, (a, b) in enumerate(_MINHASH_COEFFS)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END)"
        for j in range(64)
    )
    return f"""
WITH docs AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
    FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END)) AS shingle
    FROM docs
),
hsh AS (SELECT doc_id, {_H30_SQL}::BIGINT AS h30 FROM sh),
sig AS (
    SELECT doc_id,
           {mh_cols}
    FROM hsh GROUP BY doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b,
           intersection::DOUBLE
             / (sa.n + sb.n - intersection)::DOUBLE AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE intersection::DOUBLE
            / (sa.n + sb.n - intersection)::DOUBLE >= {_Q159_THRESHOLD}
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       ({agree})::INT AS n_agree,
       ({agree})::DOUBLE / 64.0 AS est_jaccard
FROM pairs p
JOIN sig sa ON p.doc_a = sa.doc_id
JOIN sig sb ON p.doc_b = sb.doc_id
ORDER BY p.doc_a, p.doc_b
"""


def q159_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _MINHASH_COEFFS, _P30, shingle_table

    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.jaccard_pairs(docs, threshold=_Q159_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )
    sh = shingle_table(docs, 3)
    h30 = F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("long")
    sig = (
        sh.select("doc_id", h30.alias("h30"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(
                    (F.col("h30") * F.lit(a) + F.lit(b)) % F.lit(_P30)
                ).alias(f"mh_{j}")
                for j, (a, b) in enumerate(_MINHASH_COEFFS)
            ]
        )
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(64)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(64)],
    )
    n_agree = None
    for j in range(64):
        term = F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
        n_agree = term if n_agree is None else n_agree + term
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            n_agree.cast("int").alias("n_agree"),
            (n_agree.cast("double") / F.lit(64.0)).alias("est_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


Q159_ORACLE = _q159_oracle()


# --- q160: containment-sketch calibration (bottom-k hits, hash-gated) --------
# The bottom-k containment sketch itself under the hash gate (the q159
# pattern for containment_pairs_indexed): per exact-containment pair at
# a LOOSE threshold (0.5 — so the calibration sees c well below 1, not
# just the subset snippets), the number of the inner doc's k=8 smallest
# shingle hashes present in the outer doc, next to the exact
# containment. hit_rate ~ c is the estimator property the (1-c)^k
# recall bound is sized from (operators/dedup.py bound table;
# tests/test_containment.py plants the miss-rate measurement).
# Portable hash basis: bottom-k by md5(shingle) hex — lexicographic
# order reproduces in DuckDB digit-for-digit (the production index
# orders by xxhash64, Spark-only; ordering basis changes WHICH shingles
# are sketched, not the hit-rate-vs-c statistics).

_Q160_K = 8
_Q160_THRESHOLD = 0.5


def q160_containment_sketch_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    corpus = _snippet_corpus(docs)
    pairs = dedup.containment_pairs(
        corpus, threshold=_Q160_THRESHOLD
    ).select("doc_inner", "doc_outer", "n_inner", "containment")
    sh = dedup.shingle_table(corpus, 3)
    w = Window.partitionBy("doc_id").orderBy(F.md5("shingle"), "shingle")
    bk = (
        sh.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= _Q160_K)
        .drop("_r")
    )
    hits = (
        pairs.select("doc_inner", "doc_outer")
        .join(
            bk.select(F.col("doc_id").alias("doc_inner"), "shingle"),
            "doc_inner",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_outer"), "shingle"),
            ["doc_outer", "shingle"],
        )
        .groupBy("doc_inner", "doc_outer")
        .agg(F.count("*").alias("_h"))
    )
    n_hits = F.coalesce(F.col("_h"), F.lit(0))
    k_eff = F.least(F.lit(_Q160_K), F.col("n_inner"))
    return (
        pairs.join(hits, ["doc_inner", "doc_outer"], "left")
        .select(
            "doc_inner",
            "doc_outer",
            "containment",
            n_hits.cast("int").alias("n_hits"),
            k_eff.cast("int").alias("k_eff"),
            (n_hits.cast("double") / k_eff.cast("double")).alias(
                "hit_rate"
            ),
        )
        .orderBy("doc_inner", "doc_outer")
    )


Q160_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_SNIPPET_OFFSET} AS doc_id,
           array_to_string(list_slice(string_split_regex(trim(text), ' +'),
                                      1, {_SNIPPET_TOKENS}), ' ') AS text
    FROM documents WHERE doc_id % 5 = 0
),
docs AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
    FROM corpus
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END)) AS shingle
    FROM docs
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sized AS (
    SELECT doc_a, doc_b, intersection, sa.n AS n_a, sb.n AS n_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
),
oriented AS (
    SELECT doc_a AS doc_inner, doc_b AS doc_outer, intersection,
           n_a AS n_inner
    FROM sized
    UNION ALL
    SELECT doc_b AS doc_inner, doc_a AS doc_outer, intersection,
           n_b AS n_inner
    FROM sized
),
pairs AS (
    SELECT doc_inner, doc_outer, n_inner,
           intersection::DOUBLE / n_inner::DOUBLE AS containment
    FROM oriented
    WHERE intersection::DOUBLE / n_inner::DOUBLE >= {_Q160_THRESHOLD}
),
bk AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY md5(shingle), shingle) AS r
        FROM sh)
    WHERE r <= {_Q160_K}
),
hits AS (
    SELECT p.doc_inner, p.doc_outer, COUNT(*) AS n_hits
    FROM pairs p
    JOIN bk ON bk.doc_id = p.doc_inner
    JOIN sh so ON so.doc_id = p.doc_outer AND so.shingle = bk.shingle
    GROUP BY 1, 2
)
SELECT p.doc_inner, p.doc_outer, p.containment,
       COALESCE(h.n_hits, 0)::INT AS n_hits,
       LEAST({_Q160_K}, p.n_inner)::INT AS k_eff,
       COALESCE(h.n_hits, 0)::DOUBLE
           / LEAST({_Q160_K}, p.n_inner)::DOUBLE AS hit_rate
FROM pairs p
LEFT JOIN hits h ON p.doc_inner = h.doc_inner AND p.doc_outer = h.doc_outer
ORDER BY p.doc_inner, p.doc_outer
"""


# --- q163: containment keep-longest dedup verdicts ---------------------------
# The keep RULE for subset duplication (q158 finds the pairs, q163
# decides the corpus): drop every doc that is the inner side of a
# containment pair — snippets/quotes fall, the superset survives; exact
# mutual containment keeps the smaller doc_id. Per-pair rule with a
# justifying `container` per dropped doc (min outer id) — the
# asymmetric twin of q97's Jaccard keep-longest. Same snippet corpus
# as q158, so every planted snippet must be dropped with its parent
# named as the container.

def q163_containment_keep_longest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.containment_keep_longest(
        _snippet_corpus(docs), threshold=0.9
    )


Q163_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {_SNIPPET_OFFSET} AS doc_id,
           array_to_string(list_slice(string_split_regex(trim(text), ' +'),
                                      1, {_SNIPPET_TOKENS}), ' ') AS text
    FROM documents WHERE doc_id % 5 = 0
),
docs AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
    FROM corpus
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END)) AS shingle
    FROM docs
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sized AS (
    SELECT doc_a, doc_b, intersection, sa.n AS n_a, sb.n AS n_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
),
oriented AS (
    SELECT doc_a AS doc_inner, doc_b AS doc_outer, intersection,
           n_a AS n_inner, n_b AS n_outer
    FROM sized
    UNION ALL
    SELECT doc_b AS doc_inner, doc_a AS doc_outer, intersection,
           n_b AS n_inner, n_a AS n_outer
    FROM sized
),
pairs AS (
    SELECT doc_inner, doc_outer, n_inner, n_outer
    FROM oriented
    WHERE intersection::DOUBLE / n_inner::DOUBLE >= 0.9
),
dropped AS (
    SELECT doc_inner AS doc_id, MIN(doc_outer) AS container
    FROM pairs
    WHERE n_inner < n_outer
       OR (n_inner = n_outer AND doc_inner > doc_outer)
    GROUP BY doc_inner
)
SELECT c.doc_id,
       COALESCE(s.n, 0)::BIGINT AS n_shingles,
       d.container IS NULL      AS kept,
       d.container
FROM corpus c
LEFT JOIN sizes s USING (doc_id)
LEFT JOIN dropped d USING (doc_id)
ORDER BY c.doc_id
"""


# --- q164: keep-longest verdicts via the INDEXED containment path ------------
# q163's scale twin (the q129/q130 pattern): the same per-document
# keep-longest verdicts decided from containment_pairs_indexed's
# bottom-k/df-capped candidate pairs instead of the quadratic
# inverted-index self-join, hash-gated against q163's OWN exact oracle
# — the driver row proves indexed == exact bit-for-bit at the VERDICT
# level. The df-cap can only suppress candidate pairs (values are
# verified exactly on uncapped shingle sets), so a cap/recall effect
# would surface as an over-KEEP — and the hash row pins that there is
# none on this corpus: true subsets have deterministic recall 1 and
# the near-containment pairs sit in the hypergeometric zero-miss
# regime (bound table in containment_pairs_indexed's docstring).


def q164_containment_keep_longest_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.containment_keep_longest_indexed(
        _snippet_corpus(docs), threshold=0.9
    )


# --- q161: SimHash estimator calibration (hamming vs exact, hash-gated) ------
# Completes the estimator-calibration family: q159 puts the MinHash
# signature next to exact Jaccard, q160 the containment sketch next to
# exact containment — q161 puts the 64-bit SimHash next to exact
# Jaccard: per exact pair at J >= 0.5, the Hamming distance between
# the two portable md5-bit signatures and the per-bit agreement rate
# (64 - hamming)/64. This is the curve max_hamming is sized from (q25
# ships max_hamming=6); SimHash agreement tracks the cosine of the
# token-frequency vectors, so its spread AGAINST Jaccard on real pairs
# is exactly what the calibration needs to expose. Signatures are the
# q25 md5-derived bits — DuckDB reproduces them digit-for-digit.

_Q161_THRESHOLD = 0.5


def q161_simhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.jaccard_pairs(docs, threshold=_Q161_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )
    sig = dedup.simhash_signatures_md5(docs)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha")
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb")
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            hamming.alias("hamming"),
            (
                (F.lit(64) - hamming).cast("double") / F.lit(64.0)
            ).alias("bit_agreement"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _q161_oracle() -> str:
    """Exact-Jaccard pairs (the q23/q159 CTE chain) joined to the q25
    md5-bit SimHash signatures, carried as two 32-bit halves."""
    vote_cols = ",\n           ".join(
        f"SUM(CASE WHEN ((instr('0123456789abcdef', substring(hx, {b // 4 + 1}, 1)) - 1) >> {b % 4}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(64)
    )
    lo = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN (1::BIGINT << {b - 32}) ELSE 0 END)"
        for b in range(32, 64)
    )
    return f"""
WITH docs AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
    FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(list_distinct(
               CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [] END)) AS shingle
    FROM docs
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS intersection
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b,
           intersection::DOUBLE
             / (sa.n + sb.n - intersection)::DOUBLE AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE intersection::DOUBLE
            / (sa.n + sb.n - intersection)::DOUBLE >= {_Q161_THRESHOLD}
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS t
    FROM documents
),
h AS (SELECT doc_id, md5(t) AS hx FROM tok),
votes AS (
    SELECT doc_id,
           {vote_cols}
    FROM h
    GROUP BY doc_id
),
sig AS (SELECT doc_id, {lo} AS lo, {hi} AS hi FROM votes)
SELECT p.doc_a, p.doc_b, p.jaccard,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT)
           AS hamming,
       (64 - (bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))))::DOUBLE
           / 64.0 AS bit_agreement
FROM pairs p
JOIN sig a ON p.doc_a = a.doc_id
JOIN sig b ON p.doc_b = b.doc_id
ORDER BY p.doc_a, p.doc_b
"""


Q161_ORACLE = _q161_oracle()


# --- q25: SimHash near-dup pairs (blocked, portable md5 bits) ----------------
# Blocked candidate generation (pigeonhole over 8x8-bit chunks — exact
# recall at Hamming <= 6, no cross join) over md5-derived signatures the
# DuckDB oracle reproduces digit-for-digit; the oracle itself goes
# all-pairs, which is fine at oracle scale.

def q25_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.simhash_pairs_blocked(
        docs, max_hamming=6, signatures=dedup.simhash_signatures_md5
    )


def _q25_oracle() -> str:
    """DuckDB twin of simhash_signatures_md5 + Hamming<=6 pairs: same
    md5-hex-digit bit derivation, same strictly-positive vote rule; the
    64-bit signature is carried as two 32-bit halves (BIGINT sign-safe)."""
    vote_cols = ",\n           ".join(
        f"SUM(CASE WHEN ((instr('0123456789abcdef', substring(hx, {b // 4 + 1}, 1)) - 1) >> {b % 4}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(64)
    )
    lo = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN (1::BIGINT << {b - 32}) ELSE 0 END)"
        for b in range(32, 64)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS t
    FROM documents
),
h AS (SELECT doc_id, md5(t) AS hx FROM tok),
votes AS (
    SELECT doc_id,
           {vote_cols}
    FROM h
    GROUP BY doc_id
),
sig AS (SELECT doc_id, {lo} AS lo, {hi} AS hi FROM votes)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT)
           AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 6
ORDER BY doc_a, doc_b
"""


Q25_ORACLE = _q25_oracle()


# --- q26/q27: embedding similarity (brute-force oracle-checked) --------------

_DOT_SQL = (
    "list_reduce(list_transform(generate_series(1, len({a})), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
)
_NORM_SQL = (
    "sqrt(list_reduce(list_transform({a}, v -> v::DOUBLE * v::DOUBLE), "
    "(x, y) -> x + y))"
)


def q26_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.brute_force_topk(emb, emb, k=5)


Q26_ORACLE = f"""
WITH sims AS (
    SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
           {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
             / ({_NORM_SQL.format(a="a.embedding")}
                * {_NORM_SQL.format(a="b.embedding")}) AS cosine_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY src_id
                                 ORDER BY cosine_sim DESC, neighbor_id)::INT
                  AS rank
    FROM sims
)
SELECT src_id, neighbor_id, cosine_sim, rank
FROM ranked WHERE rank <= 5
ORDER BY src_id, rank
"""


def q27_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.cosine_neardup_pairs(emb, threshold=0.45)


Q27_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
         / ({_NORM_SQL.format(a="a.embedding")}
            * {_NORM_SQL.format(a="b.embedding")}) AS cosine_sim
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_DOT_SQL.format(a="a.embedding", b="b.embedding")}
        / ({_NORM_SQL.format(a="a.embedding")}
           * {_NORM_SQL.format(a="b.embedding")}) >= 0.45
ORDER BY vec_a, vec_b
"""


# --- q41: hyperplane-LSH near-dup pairs (scale path for q27's regime) --------
# The synthetic embeddings are random noise (max pair cosine ~0.51 — no
# actual near-dups), so q41 demonstrates the operator on the corpus
# augmented with deterministic perturbed twins (each vector gets a copy
# scaled per-coordinate by 1 + 0.05*((vec_id + i) % 5), cosine ~0.998
# to its source). Both the twin construction and the exact verify are
# pure arithmetic the DuckDB oracle replays bit-for-bit, so the output
# is fully hash-checked; LSH miss probability at the planted regime is
# < 1e-9 (see hyperplane_lsh_neardup docstring).

_TWIN_OFFSET = 1_000_000


def _twin_corpus(emb: DataFrame) -> DataFrame:
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    twins = emb.select(
        (F.col("vec_id") + _TWIN_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            * (
                F.lit(1.0)
                + F.lit(0.05)
                * F.pmod(F.col("vec_id") + i, F.lit(5)).cast("double")
            ),
        ).alias("embedding"),
    )
    return base.unionByName(twins)


def q41_hyperplane_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.hyperplane_lsh_neardup(_twin_corpus(emb), threshold=0.9)


Q41_ORACLE = f"""
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
    FROM embeddings
),
twins AS (
    SELECT vec_id + {_TWIN_OFFSET} AS vec_id,
           list_transform(generate_series(1, len(embedding)),
               i -> embedding[i]::DOUBLE
                    * (1.0 + 0.05 * ((vec_id + i - 1) % 5)::DOUBLE)) AS v
    FROM embeddings
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twins)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_DOT_SQL.format(a="a.v", b="b.v")}
         / ({_NORM_SQL.format(a="a.v")}
            * {_NORM_SQL.format(a="b.v")}) AS cosine_sim
FROM corpus a
JOIN corpus b ON a.vec_id < b.vec_id
WHERE {_DOT_SQL.format(a="a.v", b="b.v")}
        / ({_NORM_SQL.format(a="a.v")}
           * {_NORM_SQL.format(a="b.v")}) >= 0.9
ORDER BY vec_a, vec_b
"""


# --- q28: IVF approximate top-k (oracle-checked deterministic replay) --------
# IVF here is fully deterministic: centroids are the first n_cells
# vec_ids, assignment/probing rank by the fold-cosine (bit-exact in
# DuckDB via list_reduce — same math q26 proves), ties broken by
# cell_id/neighbor_id. So the oracle REPLAYS the algorithm in SQL —
# same centroids, same nprobe probe lists, same candidate set, same
# final ranking — and the driver hash-checks the approximate output
# itself (not just rows). Defaults (n_cells, nprobe) are re-derived
# from COUNT(*) in SQL exactly as ivf_topk derives them from .count().

def q28_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.ivf_topk(emb, k=5)


Q28_ORACLE = f"""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vv
    FROM embeddings
),
params AS (
    SELECT least(256, greatest(16, COUNT(*) // 64)) AS n_cells,
           greatest(3, least(256, greatest(16, COUNT(*) // 64)) // 8) AS nprobe
    FROM v
),
cent AS (
    SELECT vec_id AS cell_id, vv AS cv
    FROM v
    QUALIFY row_number() OVER (ORDER BY vec_id)
                <= (SELECT n_cells FROM params)
),
ranked AS (
    SELECT v.vec_id AS vid, c.cell_id,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_DOT_SQL.format(a="v.vv", b="c.cv")}
                          / ({_NORM_SQL.format(a="v.vv")}
                             * {_NORM_SQL.format(a="c.cv")}) DESC,
                        c.cell_id
           ) AS r
    FROM v CROSS JOIN cent c
),
assigned AS (SELECT vid, cell_id FROM ranked WHERE r = 1),
probes AS (
    SELECT vid AS src_id, cell_id FROM ranked
    WHERE r <= (SELECT nprobe FROM params)
),
sims AS (
    SELECT p.src_id, a.vid AS neighbor_id,
           {_DOT_SQL.format(a="q.vv", b="t.vv")}
             / ({_NORM_SQL.format(a="q.vv")}
                * {_NORM_SQL.format(a="t.vv")}) AS cosine_sim
    FROM probes p
    JOIN assigned a USING (cell_id)
    JOIN v q ON q.vec_id = p.src_id
    JOIN v t ON t.vec_id = a.vid
    WHERE p.src_id <> a.vid
)
SELECT src_id, neighbor_id, cosine_sim, rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY src_id
                                 ORDER BY cosine_sim DESC, neighbor_id)::INT
                  AS rank
    FROM sims
)
WHERE rank <= 5
ORDER BY src_id, rank
"""


# --- q29: document fingerprinting (md5 + rolling hash) ------------------------

def q29_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("md5_fingerprint"),
        rolling_hash("text").alias("rolling_fingerprint"),
    ).orderBy("doc_id")


Q29_ORACLE = """
SELECT doc_id,
       md5(lower(trim(text))) AS md5_fingerprint,
       list_reduce(
           list_concat([0::BIGINT],
               list_transform(
                   generate_series(1, length(substring(lower(trim(text)), 1, 256))),
                   i -> ascii(substring(lower(trim(text)), i, 1))::BIGINT)),
           (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fingerprint
FROM documents
ORDER BY doc_id
"""


# --- q30-q32: event operators --------------------------------------------------

def q30_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return sessionize.sessionize(events)


Q30_ORACLE = """
WITH flagged AS (
    SELECT user_id, event_id, event_type,
           epoch_ms(ts) AS ts_ms,
           CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                  OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
with_idx AS (
    SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                     ROWS UNBOUNDED PRECEDING)::INT AS session_idx
    FROM flagged
)
SELECT user_id, session_idx,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_purchases,
       MIN(ts_ms) AS session_start_ms,
       MAX(ts_ms) AS session_end_ms,
       (MAX(ts_ms) - MIN(ts_ms)) / 1000.0 AS duration_secs
FROM with_idx
GROUP BY 1, 2
ORDER BY user_id, session_idx
"""


def q31_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return sessionize.daily_event_rollup(events)


Q31_ORACLE = """
SELECT ts::DATE    AS event_date,
       event_type,
       COUNT(*)    AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)
           AS avg_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q32_event_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return sessionize.extract_props_key(events, "k")


Q32_ORACLE = """
SELECT event_id, event_type,
       CASE WHEN regexp_matches(props, '"k": ([0-9]+)')
            THEN regexp_extract(props, '"k": ([0-9]+)', 1)::INT
            ELSE NULL END AS k_value
FROM events
ORDER BY event_id
"""


# --- q33: multimodal feature extraction (Arrow mapInPandas) -----------------
# Oracle-checkable ONLY because the fabricated payloads are ASCII text
# (byte codes == character codes); a real image/audio payload would be
# opaque to SQL and this would revert to a rows-only check.

def q33_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator emits ``byte_histogram array<bigint>``; the driver's
    pandas canonicalizer cannot sort/hash list cells, so the registered
    query projects the 8 bins into scalar ``hist_0..hist_7`` BIGINT
    columns (the oracle emits the same scalars)."""
    docs = load_table(spark, "documents", sf_dir)
    assets = multimodal.fake_assets(docs)
    feats = multimodal.extract_features(assets)
    return feats.select(
        "asset_id",
        "media_type",
        "n_bytes",
        "byte_mean",
        *[
            F.col("byte_histogram")[i].alias(f"hist_{i}")
            for i in range(8)
        ],
    ).orderBy("asset_id")


Q33_ORACLE = """
WITH codes AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           length(text) AS n_bytes,
           list_transform(generate_series(1, length(text)),
                          i -> ascii(substring(text, i, 1))) AS c
    FROM documents
)
SELECT doc_id            AS asset_id,
       media_type,
       n_bytes::BIGINT   AS n_bytes,
       CAST(list_reduce(list_concat([0], c), (a, b) -> a + b) AS DOUBLE)
           / n_bytes     AS byte_mean,
       CAST(len(list_filter(c, x -> x // 32 = 0)) AS BIGINT) AS hist_0,
       CAST(len(list_filter(c, x -> x // 32 = 1)) AS BIGINT) AS hist_1,
       CAST(len(list_filter(c, x -> x // 32 = 2)) AS BIGINT) AS hist_2,
       CAST(len(list_filter(c, x -> x // 32 = 3)) AS BIGINT) AS hist_3,
       CAST(len(list_filter(c, x -> x // 32 = 4)) AS BIGINT) AS hist_4,
       CAST(len(list_filter(c, x -> x // 32 = 5)) AS BIGINT) AS hist_5,
       CAST(len(list_filter(c, x -> x // 32 = 6)) AS BIGINT) AS hist_6,
       CAST(len(list_filter(c, x -> x // 32 = 7)) AS BIGINT) AS hist_7
FROM codes
ORDER BY asset_id
"""


# --- q55: per-vector embedding statistics ------------------------------------
# Pure sequential folds (the q26-proven aggregate ≡ list_reduce idiom):
# every stat is per-row array math — zero shuffles, bit-identical.

def q55_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    e = F.col("embedding")
    # cast BEFORE multiplying: float*float would round to float first,
    # while the oracle multiplies in double (v::DOUBLE * v::DOUBLE).
    ssum = F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    ssq = F.aggregate(
        e,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id",
        "label",
        F.size(e).cast("int").alias("dim"),
        F.sqrt(ssq).alias("l2_norm"),
        (ssum / F.size(e).cast("double")).alias("mean_val"),
        F.array_min(e).cast("double").alias("min_val"),
        F.array_max(e).cast("double").alias("max_val"),
    ).orderBy("vec_id")


Q55_ORACLE = """
SELECT vec_id, label,
       len(embedding)::INT AS dim,
       sqrt(list_reduce(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE),
                        (x, y) -> x + y)) AS l2_norm,
       list_reduce(list_transform(embedding, v -> v::DOUBLE), (x, y) -> x + y)
         / len(embedding)::DOUBLE AS mean_val,
       list_min(embedding)::DOUBLE AS min_val,
       list_max(embedding)::DOUBLE AS max_val
FROM embeddings
ORDER BY vec_id
"""


# --- q59: dedup clusters (connected components over near-dup pairs) ---------

def q59_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs (exact-verified, so the
    edge set equals the exact-Jaccard graph) → connected components →
    per-doc cluster id / size / canonical flag. The oracle closes the
    same pair graph with a recursive CTE."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    return graph.dedup_clusters(docs, pairs)


Q59_ORACLE = f"""
WITH RECURSIVE
pairs AS ({_JACCARD_ORACLE.replace("ORDER BY doc_a, doc_b", "")}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
lbl AS (
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
assigned AS (
    SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN lbl l USING (doc_id)
)
SELECT doc_id, cluster_id,
       (COUNT(*) OVER (PARTITION BY cluster_id))::BIGINT AS cluster_size,
       (doc_id = cluster_id) AS is_canonical
FROM assigned
ORDER BY doc_id
"""



# --- q97: keep-best representative per near-dup cluster ----------------------
# What a dedup pipeline actually DOES with q59's clusters: keep one
# representative per cluster and drop the rest. Keep rule = longest
# document (token count), doc_id as the unique tiebreaker — the common
# "keep the most complete copy" policy. One extra window over the
# cluster id on top of the q59 component computation.

def q97_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    clusters = graph.dedup_clusters(docs, pairs)
    scored = clusters.join(
        docs.select("doc_id", token_count("text").alias("n_tokens")),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    return scored.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "n_tokens",
        (F.row_number().over(w) == 1).alias("keep"),
    ).orderBy("doc_id")


Q97_ORACLE = f"""
WITH RECURSIVE
pairs AS ({_JACCARD_ORACLE.replace("ORDER BY doc_a, doc_b", "")}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
lbl AS (
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
assigned AS (
    SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           len(string_split_regex(trim(d.text), ' +'))::BIGINT AS n_tokens
    FROM documents d LEFT JOIN lbl l USING (doc_id)
)
SELECT doc_id, cluster_id,
       (COUNT(*) OVER (PARTITION BY cluster_id))::BIGINT AS cluster_size,
       n_tokens,
       (row_number() OVER (
            PARTITION BY cluster_id ORDER BY n_tokens DESC, doc_id
        ) = 1) AS keep
FROM assigned
ORDER BY doc_id
"""


# --- q81: IVFADC with TRAINED, FROZEN quantizer state (hash-checked) ---------
# Live k-means training has no bit-exact SQL replay (fp-summation-order
# state), which kept q81 rows-only through r8. Round 9 applied the q94
# trick to the TRAINED quantizer: train once offline (4 Lloyd
# iterations on the sf0.001 embeddings — tools/freeze_q81.py, which
# reproduces the artifact bit-for-bit on re-run), persist centroids +
# codebooks as a small parquet artifact
# (etl_data_warehouse_spark/artifacts/q81_quantizer/), and replay
# INFERENCE ONLY in both engines — the production trained-artifact
# pattern (and exactly how the persisted IVF-PQ index's frozen
# quantizers behave, operators/ann_index.py). BOTH engines load the
# SAME parquet files (Spark scan here, DuckDB read_parquet in the
# oracle), so the state cannot diverge; shipping it as data instead of
# 45KB of plan literals keeps the analyzed plan small (round-9 audit
# flagged q81 as the most expensive ANALYSIS at 9.7s — constant
# folding over the literal trees). Every stage is the same pure
# left-fold math q94 proves, so the trained path sits under the full
# hash gate; training QUALITY stays pinned by TestIvfPq's
# recall >= 0.9 contract.

_Q81_ARTIFACT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts",
    "q81_quantizer",
)


def _q81_frozen_state(spark: SparkSession):
    from ..operators.pq import _dot

    cents = spark.read.parquet(
        os.path.join(_Q81_ARTIFACT_DIR, "centroids.parquet")
    )
    books = spark.read.parquet(
        os.path.join(_Q81_ARTIFACT_DIR, "codebooks.parquet")
    ).withColumn("cnorm2", _dot("cv", "cv"))
    return cents, books


def q81_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-and-frozen IVFADC top-k: encode → pack → ADC scan →
    exact refine under the checked-in trained quantizer artifact."""
    from ..operators.pq import ivfadc_topk

    emb = load_table(spark, "embeddings", sf_dir)
    cents, books = _q81_frozen_state(spark)
    return ivfadc_topk(
        emb,
        emb,
        k=5,
        nprobe=4,
        m=4,
        codes=16,
        centroids=cents,
        codebooks=books,
    )


# --- q82: SemDeDup semantic dedup (cluster → within-cell prune) --------------
# Same planted-twin corpus as q41 (the raw embeddings are random noise
# with max pair cosine ~0.51 — nothing to deduplicate). Deterministic
# replay like q28: seed centroids are the first n_cells vec_ids,
# assignment ranks by the fold-cosine, prune keeps the lowest vec_id —
# so the DuckDB oracle replays the whole algorithm and the driver
# hash-checks the semantic-dedup verdicts themselves.

def q82_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.semantic_dedup(_twin_corpus(emb), threshold=0.9)


Q82_ORACLE = f"""
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vv
    FROM embeddings
),
twins AS (
    SELECT vec_id + {_TWIN_OFFSET} AS vec_id,
           list_transform(generate_series(1, len(embedding)),
               i -> embedding[i]::DOUBLE
                    * (1.0 + 0.05 * ((vec_id + i - 1) % 5)::DOUBLE)) AS vv
    FROM embeddings
),
v AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
params AS (
    SELECT least(256, greatest(16, COUNT(*) // 64)) AS n_cells FROM v
),
cent AS (
    SELECT vec_id AS cell_id, vv AS cv
    FROM v
    QUALIFY row_number() OVER (ORDER BY vec_id)
                <= (SELECT n_cells FROM params)
),
assigned AS (
    SELECT vid AS vec_id, cell_id FROM (
        SELECT v.vec_id AS vid, c.cell_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_DOT_SQL.format(a="v.vv", b="c.cv")}
                              / ({_NORM_SQL.format(a="v.vv")}
                                 * {_NORM_SQL.format(a="c.cv")}) DESC,
                            c.cell_id
               ) AS r
        FROM v CROSS JOIN cent c
    ) WHERE r = 1
),
dups AS (
    SELECT b.vec_id, MIN(a.vec_id) AS dup_of
    FROM assigned a
    JOIN assigned b USING (cell_id)
    JOIN v va ON va.vec_id = a.vec_id
    JOIN v vb ON vb.vec_id = b.vec_id
    WHERE a.vec_id < b.vec_id
      AND {_DOT_SQL.format(a="va.vv", b="vb.vv")}
            / ({_NORM_SQL.format(a="va.vv")}
               * {_NORM_SQL.format(a="vb.vv")}) >= 0.9
    GROUP BY b.vec_id
)
SELECT s.vec_id, s.cell_id, d.dup_of IS NULL AS kept, d.dup_of
FROM assigned s LEFT JOIN dups d USING (vec_id)
ORDER BY s.vec_id
"""


# --- q157: whitened SemDeDup under the hash gate (frozen PCA model) ----------
# q82 runs SemDeDup in RAW embedding space; the paper (Abbas et al.
# 2023, arXiv:2303.09540 §3) whitens first. Live PCA training has no
# bit-exact SQL replay (eigensolver), which kept the whitened path
# pytest-only through r10 — so round 11 applies the q81
# trained-artifact pattern to the WHITENING MODEL: tools/freeze_q157.py
# trains (mean, top-32 components, scale=1/sqrt(eigenvalue)) offline on
# the sf0.001 twin corpus, canonicalizes eigenvector signs, and commits
# it as parquet (artifacts/q157_whitening/). Both engines project with
# the IDENTICAL left-fold — per component j:
# (fold_i (v[i]-mean[i])*w_j[i]) * scale_j — then replay q82's
# semantic-dedup inference in the whitened space. Output columns are
# ints/bools only (vec_id, cell_id, kept, dup_of), so the driver
# hash-checks the whitened VERDICTS themselves. Threshold 0.9 sits in
# a wide planted margin (whitened twin cosines >= 0.994, background
# <= 0.68 at both SFs — measured, r11).
#
# 100 TB shape: the projection is MAP-ONLY — the K-row model collapses
# to a single broadcast row (sort_array(collect_list(struct))), so no
# shuffle is added on top of semantic_dedup's own cell shuffle; the
# per-row cost is K x d fused multiply-adds, the same matmul
# similarity.pca_project runs vectorized. (The persisted whitened
# IVF-PQ index that once ran it at scale is retired:
# git show 5be66ed:etl_data_warehouse_spark/operators/ann_index.py.)

_Q157_ARTIFACT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "artifacts",
    "q157_whitening",
)
_Q157_DIM = 64
_Q157_THRESHOLD = 0.9


def q157_whitened_semantic_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frozen-model whitened SemDeDup: project via the committed PCA
    artifact (one broadcast row, map-only fold math), then q82's
    deterministic semantic-dedup replay in whitened space."""
    emb = load_table(spark, "embeddings", sf_dir)
    corpus = _twin_corpus(emb)
    mean = spark.read.parquet(
        os.path.join(_Q157_ARTIFACT_DIR, "mean.parquet")
    )
    comps = spark.read.parquet(
        os.path.join(_Q157_ARTIFACT_DIR, "components.parquet")
    )
    model = comps.agg(
        F.sort_array(
            F.collect_list(F.struct("comp_id", "w", "scale"))
        ).alias("comps")
    ).crossJoin(mean)
    proj = corpus.crossJoin(F.broadcast(model)).select(
        "vec_id",
        F.transform(
            "comps",
            lambda c: F.aggregate(
                F.zip_with(
                    F.zip_with(
                        F.col("embedding"),
                        F.col("mean"),
                        lambda x, m: x - m,
                    ),
                    c["w"],
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * c["scale"],
        ).alias("embedding"),
    )
    return similarity.semantic_dedup(proj, threshold=_Q157_THRESHOLD)


_Q157_MEAN_SQL = (
    "SELECT list_transform(mean, x -> x::DOUBLE) AS mu "
    f"FROM read_parquet('{os.path.join(_Q157_ARTIFACT_DIR, 'mean.parquet')}')"
)
_Q157_COMPS_SQL = (
    "SELECT comp_id, list_transform(w, x -> x::DOUBLE) AS w, "
    "scale::DOUBLE AS scale "
    f"FROM read_parquet('{os.path.join(_Q157_ARTIFACT_DIR, 'components.parquet')}')"
)

Q157_ORACLE = f"""
WITH base AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vv
    FROM embeddings
),
twins AS (
    SELECT vec_id + {_TWIN_OFFSET} AS vec_id,
           list_transform(generate_series(1, len(embedding)),
               i -> embedding[i]::DOUBLE
                    * (1.0 + 0.05 * ((vec_id + i - 1) % 5)::DOUBLE)) AS vv
    FROM embeddings
),
raw AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
mdl_mean AS ({_Q157_MEAN_SQL}),
mdl_comps AS ({_Q157_COMPS_SQL}),
v AS (
    SELECT r.vec_id,
           list(list_reduce(list_transform(
                    generate_series(1, {_Q157_DIM}),
                    i -> (r.vv[i] - m.mu[i]) * c.w[i]), (x, y) -> x + y)
                * c.scale ORDER BY c.comp_id) AS vv
    FROM raw r CROSS JOIN mdl_mean m CROSS JOIN mdl_comps c
    GROUP BY r.vec_id
),
params AS (
    SELECT least(256, greatest(16, COUNT(*) // 64)) AS n_cells FROM v
),
cent AS (
    SELECT vec_id AS cell_id, vv AS cv
    FROM v
    QUALIFY row_number() OVER (ORDER BY vec_id)
                <= (SELECT n_cells FROM params)
),
assigned AS (
    SELECT vid AS vec_id, cell_id FROM (
        SELECT v.vec_id AS vid, c.cell_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_DOT_SQL.format(a="v.vv", b="c.cv")}
                              / ({_NORM_SQL.format(a="v.vv")}
                                 * {_NORM_SQL.format(a="c.cv")}) DESC,
                            c.cell_id
               ) AS r
        FROM v CROSS JOIN cent c
    ) WHERE r = 1
),
dups AS (
    SELECT b.vec_id, MIN(a.vec_id) AS dup_of
    FROM assigned a
    JOIN assigned b USING (cell_id)
    JOIN v va ON va.vec_id = a.vec_id
    JOIN v vb ON vb.vec_id = b.vec_id
    WHERE a.vec_id < b.vec_id
      AND {_DOT_SQL.format(a="va.vv", b="vb.vv")}
            / ({_NORM_SQL.format(a="va.vv")}
               * {_NORM_SQL.format(a="vb.vv")}) >= {_Q157_THRESHOLD}
    GROUP BY b.vec_id
)
SELECT s.vec_id, s.cell_id, d.dup_of IS NULL AS kept, d.dup_of
FROM assigned s LEFT JOIN dups d USING (vec_id)
ORDER BY s.vec_id
"""


# --- q87: CDC changelog apply (last-writer-wins + deletes) -------------------
# The events stream read as a CDC feed: user_id is the key, (ts_ms,
# event_id) the total order, 'error' events are tombstones. The state
# fold is operators/cdc.py apply_changelog — ONE shuffle on the key;
# the reference's loaders cover only the upsert half of this semantics
# (reference: loaders/warehouse_loader.py:63-69 ON CONFLICT DO UPDATE).

def q87_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    changes = events.select(
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", cdc.DELETE_OP)
        .otherwise(cdc.UPSERT_OP)
        .alias("op"),
    )
    state = cdc.apply_changelog(changes, ["user_id"], ["ts_ms", "event_id"])
    return state.select(
        "user_id", "ts_ms", "event_id", "value", "n_changes"
    ).orderBy("user_id")


Q87_ORACLE = """
WITH c AS (
    SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value,
           CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
    FROM events
),
r AS (
    SELECT *,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC
           ) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_changes
    FROM c
)
SELECT user_id, ts_ms, event_id, value, n_changes
FROM r
WHERE rn = 1 AND op <> 'D'
ORDER BY user_id
"""


# --- q96: snapshot diff (derive a changelog from two snapshots) --------------
# The inverse of q87: sources that can't emit CDC events (the
# reference's extractors re-read whole tables every run) get their
# change feed recovered by diffing consecutive snapshots. Snapshot B is
# a deterministic mutation of documents (drops, edits, inserts) so the
# oracle replays the whole derivation; output is O(changes) only.

def q96_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 17 != 3)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 5,
                F.concat(F.col("text"), F.lit(" v2")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 19 == 7).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new "), F.col("text")).alias("text"),
            )
        )
    )
    diff = cdc.snapshot_diff(docs, new, ["doc_id"])
    return diff.select(
        "doc_id",
        "change_kind",
        "op",
        F.md5(F.coalesce("text", F.lit(""))).alias("fp"),
    ).orderBy("doc_id")


Q96_ORACLE = """
WITH old AS (
    SELECT doc_id, text FROM documents
),
new AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 5 THEN text || ' v2' ELSE text END
               AS text
    FROM documents WHERE doc_id % 17 <> 3
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, 'new ' || text AS text
    FROM documents WHERE doc_id % 19 = 7
),
j AS (
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           o.text AS otext, n.text AS ntext,
           o.doc_id IS NOT NULL AS in_old,
           n.doc_id IS NOT NULL AS in_new
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT doc_id,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            ELSE 'changed' END AS change_kind,
       CASE WHEN NOT in_new THEN 'D' ELSE 'U' END AS op,
       md5(COALESCE(ntext, '')) AS fp
FROM j
WHERE NOT in_old OR NOT in_new OR otext IS DISTINCT FROM ntext
ORDER BY doc_id
"""


# --- q98: schema-on-read JSON flatten (S5 twin, hash-checked) ----------------
# The document-source ingestion semantics (sources/external.py
# read_json_documents; reference: extractors/mongo_extractor.py:19-80)
# exercised on hashable data: a deterministic nested-JSON string is
# built from the documents table with IDENTICAL concatenation in both
# engines, then Spark's from_json(explicit schema) + struct flatten is
# checked against DuckDB's json_extract — including a planted
# truncated/corrupt row (parses to NULL, json_valid=false) and a JSON
# null field. Schema-on-read with explicit schema is the 100 TB
# posture (inferSchema double-reads the corpus).

def q98_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    docs = load_table(spark, "documents", sf_dir)
    good = F.concat(
        F.lit('{"id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "meta": {"lang": "'),
        F.col("lang"),
        F.lit('", "source": "'),
        F.col("source"),
        F.lit('"}, "n": '),
        F.col("n_chars").cast("string"),
        F.lit(', "val": '),
        F.when(F.col("doc_id") % 7 == 0, F.lit("null")).otherwise(
            (F.col("doc_id") * 3 % 100).cast("string")
        ),
        F.lit("}"),
    )
    js = F.when(
        F.col("doc_id") % 31 == 11,
        F.concat(F.lit('{"id": '), F.col("doc_id").cast("string")),
    ).otherwise(good)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("lang", T.StringType()),
                        T.StructField("source", T.StringType()),
                    ]
                ),
            ),
            T.StructField("n", T.LongType()),
            T.StructField("val", T.LongType()),
            # PERMISSIVE from_json yields a struct of NULLs (not a NULL
            # struct) for malformed input — the corrupt-record field is
            # the reliable validity signal
            T.StructField("_corr", T.StringType()),
        ]
    )
    parsed = docs.select(
        "doc_id",
        F.from_json(
            js, schema, {"columnNameOfCorruptRecord": "_corr"}
        ).alias("j"),
    )
    return parsed.select(
        "doc_id",
        F.col("j._corr").isNull().alias("is_valid"),
        F.col("j.id").alias("j_id"),
        F.col("j.meta.lang").alias("j_lang"),
        F.col("j.meta.source").alias("j_source"),
        F.col("j.n").alias("j_n"),
        F.col("j.val").alias("j_val"),
    ).orderBy("doc_id")


Q98_ORACLE = """
WITH j AS (
    SELECT doc_id,
           CASE WHEN doc_id % 31 = 11
                THEN '{"id": ' || doc_id
                ELSE '{"id": ' || doc_id || ', "meta": {"lang": "'
                     || lang || '", "source": "' || source
                     || '"}, "n": ' || n_chars || ', "val": '
                     || CASE WHEN doc_id % 7 = 0 THEN 'null'
                             ELSE (doc_id * 3 % 100)::VARCHAR END
                     || '}'
           END AS js
    FROM documents
)
SELECT doc_id,
       json_valid(js) AS is_valid,
       CASE WHEN json_valid(js)
            THEN json_extract(js, '$.id')::BIGINT END AS j_id,
       CASE WHEN json_valid(js)
            THEN json_extract_string(js, '$.meta.lang') END AS j_lang,
       CASE WHEN json_valid(js)
            THEN json_extract_string(js, '$.meta.source') END AS j_source,
       CASE WHEN json_valid(js)
            THEN json_extract(js, '$.n')::BIGINT END AS j_n,
       CASE WHEN json_valid(js)
            THEN json_extract(js, '$.val')::BIGINT END AS j_val
FROM j
ORDER BY doc_id
"""


# --- q90: last-touch attribution (purchase ← preceding non-purchase) ---------
# For every purchase event: the user's most recent PRECEDING
# non-purchase event (the "touch"), via last(ignore nulls) over an
# unbounded-preceding-to-1-preceding frame — one shuffle on user_id,
# no self-join (the naive formulation joins events to events on a
# range predicate; the window form is the 100 TB shape).

def q90_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    base = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = base.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_ms",
        F.last(F.when(F.col("event_type") != "purchase", F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(F.col("event_type") != "purchase", F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
        F.last(F.when(F.col("event_type") != "purchase", F.col("ts_ms")), ignorenulls=True)
        .over(w)
        .alias("touch_ts_ms"),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts_ms",
            "touch_event_id",
            "touch_type",
            (F.col("ts_ms") - F.col("touch_ts_ms")).alias("ms_since_touch"),
        )
        .orderBy("event_id")
    )


Q90_ORACLE = """
WITH base AS (
    SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
    FROM events
),
attributed AS (
    SELECT event_id, user_id, event_type, ts_ms,
           last_value(CASE WHEN event_type <> 'purchase'
                           THEN event_id END IGNORE NULLS) OVER w
               AS touch_event_id,
           last_value(CASE WHEN event_type <> 'purchase'
                           THEN event_type END IGNORE NULLS) OVER w
               AS touch_type,
           last_value(CASE WHEN event_type <> 'purchase'
                           THEN ts_ms END IGNORE NULLS) OVER w
               AS touch_ts_ms
    FROM base
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts_ms, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    )
)
SELECT event_id, user_id, ts_ms, touch_event_id, touch_type,
       ts_ms - touch_ts_ms AS ms_since_touch
FROM attributed
WHERE event_type = 'purchase'
ORDER BY event_id
"""


# --- q91: segmented running balance (running sum with resets) ----------------
# Per user, a running decimal-exact balance of event value that RESETS
# at every signup event: segment id = running count of signups, then a
# running sum within (user, segment). The standard ledger/inventory
# "balance since last reset" shape, decomposed into two windows — no
# recursive logic, no self-join. Money rule: DECIMAL inside the
# running sum, DOUBLE only at the output boundary.

def q91_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, "events", sf_dir)
    base = events.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        "value",
    )
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = base.withColumn(
        "seg",
        F.sum(
            F.when(F.col("event_type") == "signup", 1).otherwise(0)
        ).over(w_seg).cast("long"),
    )
    w_bal = (
        Window.partitionBy("user_id", "seg")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return seg.select(
        "event_id",
        "user_id",
        "ts_ms",
        "seg",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w_bal)
        .cast("double")
        .alias("balance"),
    ).orderBy("event_id")


Q91_ORACLE = """
WITH base AS (
    SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value
    FROM events
),
seg AS (
    SELECT *,
           SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts_ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS seg
    FROM base
)
SELECT event_id, user_id, ts_ms, seg,
       SUM(value::DECIMAL(18,6)) OVER (
           PARTITION BY user_id, seg ORDER BY ts_ms, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       )::DOUBLE AS balance
FROM seg
ORDER BY event_id
"""


# --- q92: frequent-items sketch rollup, oracle-checked -----------------------
# Monthly top event types via the MERGEABLE approx_top_k sketch path
# (operators/sketches.py: daily accumulate → monthly combine →
# estimate). With 5 distinct event types and maxItemsTracked=1024 the
# sketch guarantee makes counts EXACT, so the DuckDB oracle is a plain
# GROUP BY — i.e. the sketch algebra itself is hash-checked, not just
# test-pinned. The estimate's struct array is exploded and re-ranked
# (count DESC, item) because the sketch orders ties arbitrarily.

def q92_topk_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import sketches

    events = load_table(spark, "events", sf_dir)
    daily = sketches.daily_topk_sketches(events)
    # trunc() keeps the grain DATE-typed (date_trunc returns TIMESTAMP,
    # which would re-enter session-timezone formatting); day itself is
    # already the session-tz-independent UTC day (sketches._utc_day).
    monthly = sketches.rollup_topk(
        daily, F.trunc(F.col("day"), "month"), k=5, grain_name="month"
    )
    exploded = monthly.select(
        F.substring(F.col("month").cast("string"), 1, 7).alias("month"),
        "n_rows",
        F.explode("top_k").alias("e"),
    ).select(
        "month",
        F.col("e.item").alias("event_type"),
        F.col("e.count").alias("n_events"),
        "n_rows",
    )
    w = Window.partitionBy("month").orderBy(
        F.desc("n_events"), "event_type"
    )
    return exploded.select(
        "month",
        F.row_number().over(w).cast("int").alias("rank"),
        "event_type",
        "n_events",
        "n_rows",
    ).orderBy("month", "rank")


Q92_ORACLE = """
WITH monthly AS (
    SELECT strftime(date_trunc('month', ts::DATE), '%Y-%m') AS month,
           event_type,
           COUNT(*)::BIGINT AS n_events
    FROM events
    GROUP BY 1, 2
),
totals AS (
    SELECT month, SUM(n_events)::BIGINT AS n_rows FROM monthly GROUP BY 1
)
SELECT m.month,
       row_number() OVER (
           PARTITION BY m.month ORDER BY m.n_events DESC, m.event_type
       )::INT AS rank,
       m.event_type, m.n_events, t.n_rows
FROM monthly m JOIN totals t USING (month)
QUALIFY rank <= 5
ORDER BY month, rank
"""


# --- q93: multimodal frame sampling (1→many payload fan-out) -----------------
# sample_frames slices every video payload into one probe row per
# 64-byte "frame" — the frame-extraction plumbing shape with the codec
# stubbed to a byte slice. Both sides are BYTE-exact for any UTF-8 text:
# Spark counts/slices the raw binary and hex-encodes the probe; the
# oracle hexes the UTF-8 bytes (encode) and char-slices the hex string
# (2 hex chars per byte), so multi-byte characters cannot shift frames.

def q93_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    assets = multimodal.fake_assets(docs)
    return multimodal.sample_frames(assets).orderBy("asset_id", "frame_idx")


Q93_ORACLE = """
WITH video AS (
    SELECT doc_id AS asset_id, hex(encode(text)) AS payload_hex,
           octet_length(encode(text)) AS n_bytes
    FROM documents WHERE doc_id % 3 = 2
),
frames AS (
    SELECT asset_id,
           unnest(generate_series(
               0, greatest((n_bytes // 64) - 1, 0)
           ))::INT AS frame_idx,
           payload_hex
    FROM video
)
SELECT asset_id, frame_idx,
       substring(payload_hex, frame_idx * 128 + 1, 16) AS frame_probe
FROM frames
ORDER BY asset_id, frame_idx
"""


# --- q94: IVFADC composition, hash-oracle-checked (untrained config) ---------
# q81's trained quantizers have no bit-exact SQL replay (fp-summation-
# order k-means state), so it carries only the rows-only check + pinned
# recall. This twin runs the SAME encode → pack → ADC-scan → refine
# pipeline (operators/pq.py) with UNTRAINED deterministic state —
# coarse centroids = first n_cells vectors (kmeans max_iterations=0),
# PQ codebooks = first `codes` subvectors per subspace — making every
# stage pure left-fold math the DuckDB oracle replays exactly, the same
# way Q28/Q82 replay IVF and SemDeDup. This hash-checks the composition
# PLUMBING (slicing, encoding argmin ties, packed-LUT indexing, ADC
# fold order, two-stage re-rank); the trained variant's QUALITY is
# covered by TestIvfPq's recall >= 0.9 contract.

_Q94_CELLS, _Q94_PROBE, _Q94_M, _Q94_CODES, _Q94_K = 16, 4, 4, 16, 5
_Q94_SUBDIM = 16  # embeddings testdata is dim 64; 64 / m


def q94_ivfadc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pq import ivfadc_topk, train_pq_codebooks

    emb = load_table(spark, "embeddings", sf_dir)
    cents = similarity.kmeans_centroids(
        emb, n_cells=_Q94_CELLS, max_iterations=0
    )
    books = train_pq_codebooks(
        emb, m=_Q94_M, codes=_Q94_CODES, max_iterations=0
    )
    return ivfadc_topk(
        emb,
        emb,
        k=_Q94_K,
        nprobe=_Q94_PROBE,
        m=_Q94_M,
        codes=_Q94_CODES,
        centroids=cents,
        codebooks=books,
    )


_Q94_L2_SQL = (
    "list_reduce(list_transform(generate_series(1, {n}),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)

Q94_ORACLE = f"""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vv
    FROM embeddings
),
cent AS (
    SELECT row_number() OVER (ORDER BY vec_id) AS cell_id, vv AS cv
    FROM v
    QUALIFY cell_id <= {_Q94_CELLS}
),
cosr AS (  -- cosine rank of every (vector, cell): shared by assign+probe
    SELECT v.vec_id, c.cell_id,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_DOT_SQL.format(a="v.vv", b="c.cv")}
                          / ({_NORM_SQL.format(a="v.vv")}
                             * {_NORM_SQL.format(a="c.cv")}) DESC,
                        c.cell_id
           ) AS r
    FROM v CROSS JOIN cent c
),
assigned AS (SELECT vec_id, cell_id FROM cosr WHERE r = 1),
probe AS (
    SELECT vec_id AS src_id, cell_id FROM cosr WHERE r <= {_Q94_PROBE}
),
subspaces AS (
    SELECT unnest(generate_series(0, {_Q94_M - 1})) AS subspace
),
books AS (  -- untrained codebooks: first {_Q94_CODES} subvectors/subspace
    SELECT s.subspace,
           row_number() OVER (
               PARTITION BY s.subspace ORDER BY v.vec_id
           ) AS code_id,
           list_slice(v.vv, s.subspace * {_Q94_SUBDIM} + 1,
                      (s.subspace + 1) * {_Q94_SUBDIM}) AS cv
    FROM v CROSS JOIN subspaces s
    QUALIFY code_id <= {_Q94_CODES}
),
books2 AS (
    SELECT subspace, code_id, cv,
           {_DOT_SQL.format(a="cv", b="cv")} AS cnorm2
    FROM books
),
sub AS (
    SELECT v.vec_id, s.subspace,
           list_slice(v.vv, s.subspace * {_Q94_SUBDIM} + 1,
                      (s.subspace + 1) * {_Q94_SUBDIM}) AS sv
    FROM v CROSS JOIN subspaces s
),
enc AS (  -- PQ encode: argmin L2, asc code_id tiebreak (pq_encode)
    SELECT vec_id, subspace, code_id, cnorm2, cv FROM (
        SELECT sub.vec_id, sub.subspace, b.code_id, b.cnorm2, b.cv,
               row_number() OVER (
                   PARTITION BY sub.vec_id, sub.subspace
                   ORDER BY {_Q94_L2_SQL.format(
                       n=_Q94_SUBDIM, a="sub.sv", b="b.cv")},
                            b.code_id
               ) AS r
        FROM sub JOIN books2 b USING (subspace)
    ) WHERE r = 1
),
packed AS (  -- pack_codes: subspace-ordered left folds
    SELECT vec_id,
           list(cv ORDER BY subspace) AS cvs,
           list_reduce(list(cnorm2 ORDER BY subspace),
                       (x, y) -> x + y) AS rnorm2
    FROM enc GROUP BY vec_id
),
qn AS (
    SELECT vec_id AS src_id, vv AS qv,
           {_NORM_SQL.format(a="vv")} AS qnorm
    FROM v
),
adc AS (  -- compressed-domain score: m ordered partial-dot lookups
    SELECT p.src_id, a.vec_id AS neighbor_id,
           list_reduce(
               list_transform(generate_series(0, {_Q94_M - 1}), ss ->
                   list_reduce(list_transform(
                       generate_series(1, {_Q94_SUBDIM}),
                       i -> q.qv[ss * {_Q94_SUBDIM} + i]
                            * k.cvs[ss + 1][i]), (x, y) -> x + y)),
               (x, y) -> x + y)
             / (q.qnorm * sqrt(k.rnorm2)) AS score
    FROM probe p
    JOIN assigned a USING (cell_id)
    JOIN packed k ON k.vec_id = a.vec_id
    JOIN qn q ON q.src_id = p.src_id
    WHERE p.src_id != a.vec_id
),
short AS (
    SELECT src_id, neighbor_id FROM (
        SELECT src_id, neighbor_id,
               row_number() OVER (
                   PARTITION BY src_id ORDER BY score DESC, neighbor_id
               ) AS r
        FROM adc
    ) WHERE r <= {_Q94_K * 10}
),
refined AS (
    SELECT sh.src_id, sh.neighbor_id,
           {_DOT_SQL.format(a="q.qv", b="n.vv")}
             / ({_NORM_SQL.format(a="q.qv")}
                * {_NORM_SQL.format(a="n.vv")}) AS score
    FROM short sh
    JOIN qn q ON q.src_id = sh.src_id
    JOIN v n ON n.vec_id = sh.neighbor_id
)
SELECT src_id, neighbor_id, score,
       row_number() OVER (
           PARTITION BY src_id ORDER BY score DESC, neighbor_id
       )::INT AS rank
FROM refined
QUALIFY rank <= {_Q94_K}
ORDER BY src_id, rank
"""


# --- Q81 oracle: the Q94 replay with the frozen TRAINED state spliced in -----
# Identical inference pipeline; `cent`/`books` come from the SAME
# committed parquet artifact the Spark query scans
# (artifacts/q81_quantizer/, generated + bit-verified by
# tools/freeze_q81.py) instead of being derived from the data, and
# nprobe/k match q81's call (4 / 5). DuckDB reads the files directly
# (read_parquet over an absolute, module-derived path — cwd-proof), so
# the twins share one physical source of quantizer truth.

_Q81_CENT_SQL = (
    "SELECT cell_id, list_transform(cv, x -> x::DOUBLE) AS cv "
    f"FROM read_parquet('{os.path.join(_Q81_ARTIFACT_DIR, 'centroids.parquet')}')"
)
_Q81_BOOKS_SQL = (
    "SELECT subspace, code_id, list_transform(cv, x -> x::DOUBLE) AS cv "
    f"FROM read_parquet('{os.path.join(_Q81_ARTIFACT_DIR, 'codebooks.parquet')}')"
)
_Q81_PROBE, _Q81_K = 4, 5

Q81_ORACLE = f"""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vv
    FROM embeddings
),
cent AS ({_Q81_CENT_SQL}),
cosr AS (
    SELECT v.vec_id, c.cell_id,
           row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_DOT_SQL.format(a="v.vv", b="c.cv")}
                          / ({_NORM_SQL.format(a="v.vv")}
                             * {_NORM_SQL.format(a="c.cv")}) DESC,
                        c.cell_id
           ) AS r
    FROM v CROSS JOIN cent c
),
assigned AS (SELECT vec_id, cell_id FROM cosr WHERE r = 1),
probe AS (
    SELECT vec_id AS src_id, cell_id FROM cosr WHERE r <= {_Q81_PROBE}
),
books AS ({_Q81_BOOKS_SQL}),
books2 AS (
    SELECT subspace, code_id, cv,
           {_DOT_SQL.format(a="cv", b="cv")} AS cnorm2
    FROM books
),
subspaces AS (
    SELECT unnest(generate_series(0, {_Q94_M - 1})) AS subspace
),
sub AS (
    SELECT v.vec_id, s.subspace,
           list_slice(v.vv, s.subspace * {_Q94_SUBDIM} + 1,
                      (s.subspace + 1) * {_Q94_SUBDIM}) AS sv
    FROM v CROSS JOIN subspaces s
),
enc AS (
    SELECT vec_id, subspace, code_id, cnorm2, cv FROM (
        SELECT sub.vec_id, sub.subspace, b.code_id, b.cnorm2, b.cv,
               row_number() OVER (
                   PARTITION BY sub.vec_id, sub.subspace
                   ORDER BY {_Q94_L2_SQL.format(
                       n=_Q94_SUBDIM, a="sub.sv", b="b.cv")},
                            b.code_id
               ) AS r
        FROM sub JOIN books2 b USING (subspace)
    ) WHERE r = 1
),
packed AS (
    SELECT vec_id,
           list(cv ORDER BY subspace) AS cvs,
           list_reduce(list(cnorm2 ORDER BY subspace),
                       (x, y) -> x + y) AS rnorm2
    FROM enc GROUP BY vec_id
),
qn AS (
    SELECT vec_id AS src_id, vv AS qv,
           {_NORM_SQL.format(a="vv")} AS qnorm
    FROM v
),
adc AS (
    SELECT p.src_id, a.vec_id AS neighbor_id,
           list_reduce(
               list_transform(generate_series(0, {_Q94_M - 1}), ss ->
                   list_reduce(list_transform(
                       generate_series(1, {_Q94_SUBDIM}),
                       i -> q.qv[ss * {_Q94_SUBDIM} + i]
                            * k.cvs[ss + 1][i]), (x, y) -> x + y)),
               (x, y) -> x + y)
             / (q.qnorm * sqrt(k.rnorm2)) AS score
    FROM probe p
    JOIN assigned a USING (cell_id)
    JOIN packed k ON k.vec_id = a.vec_id
    JOIN qn q ON q.src_id = p.src_id
    WHERE p.src_id != a.vec_id
),
short AS (
    SELECT src_id, neighbor_id FROM (
        SELECT src_id, neighbor_id,
               row_number() OVER (
                   PARTITION BY src_id ORDER BY score DESC, neighbor_id
               ) AS r
        FROM adc
    ) WHERE r <= {_Q81_K * 10}
),
refined AS (
    SELECT sh.src_id, sh.neighbor_id,
           {_DOT_SQL.format(a="q.qv", b="n.vv")}
             / ({_NORM_SQL.format(a="q.qv")}
                * {_NORM_SQL.format(a="n.vv")}) AS score
    FROM short sh
    JOIN qn q ON q.src_id = sh.src_id
    JOIN v n ON n.vec_id = sh.neighbor_id
)
SELECT src_id, neighbor_id, score,
       row_number() OVER (
           PARTITION BY src_id ORDER BY score DESC, neighbor_id
       )::INT AS rank
FROM refined
QUALIFY rank <= {_Q81_K}
ORDER BY src_id, rank
"""


QUERIES = {
    "q20_text_stats": q20_text_stats,
    "q21_lang_id": q21_lang_id,
    "q22_exact_dedup": q22_exact_dedup,
    "q23_ngram_jaccard_dedup": q23_ngram_jaccard_dedup,
    "q24_minhash_lsh_dedup": q24_minhash_lsh_dedup,
    "q25_simhash_pairs": q25_simhash_pairs,
    "q26_embedding_topk": q26_embedding_topk,
    "q27_embedding_neardup": q27_embedding_neardup,
    "q28_ivf_topk": q28_ivf_topk,
    "q29_doc_fingerprint": q29_doc_fingerprint,
    "q30_sessionization": q30_sessionization,
    "q31_event_rollup": q31_event_rollup,
    "q32_event_props_extract": q32_event_props_extract,
    "q33_multimodal_features": q33_multimodal_features,
    "q41_hyperplane_lsh_neardup": q41_hyperplane_lsh_neardup,
    "q55_embedding_stats": q55_embedding_stats,
    "q81_ivfadc_topk": q81_ivfadc_topk,
    "q82_semantic_dedup": q82_semantic_dedup,
    "q157_whitened_semantic_dedup": q157_whitened_semantic_dedup,
    "q158_containment_dedup": q158_containment_dedup,
    "q159_minhash_estimate": q159_minhash_estimate,
    "q160_containment_sketch_calibration": q160_containment_sketch_calibration,
    "q161_simhash_estimate": q161_simhash_estimate,
    "q163_containment_keep_longest": q163_containment_keep_longest,
    "q164_containment_keep_longest_indexed": (
        q164_containment_keep_longest_indexed
    ),
    "q87_cdc_apply": q87_cdc_apply,
    "q96_snapshot_diff": q96_snapshot_diff,
    "q98_json_flatten": q98_json_flatten,
    "q90_last_touch_attribution": q90_last_touch_attribution,
    "q91_running_balance": q91_running_balance,
    "q92_topk_sketch_rollup": q92_topk_sketch_rollup,
    "q93_frame_sample": q93_frame_sample,
    "q94_ivfadc_exact": q94_ivfadc_exact,
    "q59_dedup_clusters": q59_dedup_clusters,
    "q97_dedup_keep_longest": q97_dedup_keep_longest,
}

ORACLES = {
    "q20_text_stats": Q20_ORACLE,
    "q21_lang_id": Q21_ORACLE,
    "q22_exact_dedup": Q22_ORACLE,
    "q23_ngram_jaccard_dedup": Q23_ORACLE,
    "q24_minhash_lsh_dedup": Q24_ORACLE,
    "q25_simhash_pairs": Q25_ORACLE,
    "q26_embedding_topk": Q26_ORACLE,
    "q27_embedding_neardup": Q27_ORACLE,
    "q28_ivf_topk": Q28_ORACLE,
    "q29_doc_fingerprint": Q29_ORACLE,
    "q30_sessionization": Q30_ORACLE,
    "q31_event_rollup": Q31_ORACLE,
    "q32_event_props_extract": Q32_ORACLE,
    "q33_multimodal_features": Q33_ORACLE,
    "q41_hyperplane_lsh_neardup": Q41_ORACLE,
    "q55_embedding_stats": Q55_ORACLE,
    "q81_ivfadc_topk": Q81_ORACLE,
    "q82_semantic_dedup": Q82_ORACLE,
    "q157_whitened_semantic_dedup": Q157_ORACLE,
    "q158_containment_dedup": Q158_ORACLE,
    "q159_minhash_estimate": Q159_ORACLE,
    "q160_containment_sketch_calibration": Q160_ORACLE,
    "q161_simhash_estimate": Q161_ORACLE,
    "q163_containment_keep_longest": Q163_ORACLE,
    "q164_containment_keep_longest_indexed": Q163_ORACLE,
    "q87_cdc_apply": Q87_ORACLE,
    "q96_snapshot_diff": Q96_ORACLE,
    "q98_json_flatten": Q98_ORACLE,
    "q90_last_touch_attribution": Q90_ORACLE,
    "q91_running_balance": Q91_ORACLE,
    "q92_topk_sketch_rollup": Q92_ORACLE,
    "q93_frame_sample": Q93_ORACLE,
    "q94_ivfadc_exact": Q94_ORACLE,
    "q59_dedup_clusters": Q59_ORACLE,
    "q97_dedup_keep_longest": Q97_ORACLE,
}


# --- q36: event funnel (signup → purchase conversion by cohort day) ----------

def q36_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-min funnel: first signup vs first purchase per user,
    conversion rolled up by signup-day cohort. One shuffle on user_id,
    one tiny shuffle on the day grain."""
    events = load_table(spark, "events", sf_dir)
    firsts = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("signup_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("purchase_ts"),
    )
    return (
        firsts.filter(F.col("signup_ts").isNotNull())
        .groupBy(F.to_date("signup_ts").alias("cohort_date"))
        .agg(
            F.count("*").alias("n_signups"),
            F.sum(
                F.when(F.col("purchase_ts") > F.col("signup_ts"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_converted"),
        )
        .withColumn(
            "conversion_pct",
            F.col("n_converted") * F.lit(100.0) / F.col("n_signups"),
        )
        .orderBy("cohort_date")
    )


Q36_ORACLE = """
WITH firsts AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup' THEN ts END)   AS signup_ts,
           MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS purchase_ts
    FROM events
    GROUP BY user_id
)
SELECT signup_ts::DATE AS cohort_date,
       COUNT(*)        AS n_signups,
       CAST(SUM(CASE WHEN purchase_ts > signup_ts THEN 1 ELSE 0 END) AS BIGINT)
           AS n_converted,
       SUM(CASE WHEN purchase_ts > signup_ts THEN 1 ELSE 0 END) * 100.0
           / COUNT(*)  AS conversion_pct
FROM firsts
WHERE signup_ts IS NOT NULL
GROUP BY 1
ORDER BY 1
"""

QUERIES["q36_event_funnel"] = q36_event_funnel
ORACLES["q36_event_funnel"] = Q36_ORACLE


# --- q37: AS-OF join (custom operator — Spark has no built-in) ---------------

def q37_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event, the user's most recent order at-or-before the
    event time. Orders are first made unique per (custkey, orderdate)
    so the as-of pick is deterministic (DuckDB ASOF JOIN cannot
    tiebreak equal timestamps)."""
    from ..operators.temporal import asof_join

    events = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "ts"
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("asof_orderkey"),
            F.max_by("o_totalprice", "o_orderkey")
            .cast("double")
            .alias("asof_amount"),
        )
    )
    out = asof_join(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        left_id="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.to_date("ts").alias("event_date"),
        "asof_orderkey",
        F.to_date("o_orderdate").alias("asof_order_date"),
        "asof_amount",
    ).orderBy("event_id")


Q37_ORACLE = """
WITH o AS (
    SELECT o_custkey, o_orderdate,
           MAX(o_orderkey)                    AS asof_orderkey,
           arg_max(o_totalprice, o_orderkey)::DOUBLE AS asof_amount
    FROM orders
    GROUP BY 1, 2
)
SELECT e.event_id,
       e.user_id,
       e.ts::DATE          AS event_date,
       o.asof_orderkey,
       o.o_orderdate::DATE AS asof_order_date,
       o.asof_amount
FROM events e
ASOF JOIN o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
ORDER BY e.event_id
"""

QUERIES["q37_asof_join"] = q37_asof_join
ORACLES["q37_asof_join"] = Q37_ORACLE


# --- q38: RANGE join via equality buckets (no nested-loop plan) --------------

def q38_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to overlapping 14-day promo windows (every 10 days
    from the first order date) — point-in-range via the bucketed range
    join, rolled up per window."""
    from ..operators.temporal import bucketed_range_join

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
        "o_totalprice",
    )
    bounds = orders.agg(
        F.min("order_date").alias("d0"), F.max("order_date").alias("d1")
    )
    windows = (
        bounds.select(
            F.posexplode(
                F.expr("sequence(d0, date_sub(d1, 13), interval 10 days)")
            ).alias("window_id", "window_start")
        )
        .withColumn("window_end", F.date_add("window_start", 13))
    )
    joined = bucketed_range_join(
        orders, windows, "order_date", "window_start", "window_end"
    )
    return (
        joined.groupBy("window_id", "window_start", "window_end")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(dec_total := F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("window_revenue"),
        )
        .orderBy("window_id")
    )


Q38_ORACLE = """
WITH bounds AS (
    SELECT min(o_orderdate)::DATE AS d0, max(o_orderdate)::DATE AS d1
    FROM orders
),
windows AS (
    SELECT (ROW_NUMBER() OVER (ORDER BY ws) - 1)::INT AS window_id,
           ws::DATE               AS window_start,
           (ws + INTERVAL 13 DAY)::DATE AS window_end
    FROM (SELECT unnest(generate_series(d0, d1 - INTERVAL 13 DAY,
                                        INTERVAL 10 DAY)) AS ws
          FROM bounds)
)
SELECT w.window_id, w.window_start, w.window_end,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS window_revenue
FROM orders o
JOIN windows w
  ON o.o_orderdate::DATE BETWEEN w.window_start AND w.window_end
GROUP BY 1, 2, 3
ORDER BY 1
"""

QUERIES["q38_range_join"] = q38_range_join
ORACLES["q38_range_join"] = Q38_ORACLE


# --- q67: NATIVE session_window sessionization -------------------------------
# Same semantic as q30's composed islands-and-gaps pipeline, but through
# Spark's built-in session_window aggregation — the operator Structured
# Streaming uses for streaming sessions, here proven in batch against a
# plain-SQL oracle. Boundary subtlety pinned by the oracle: Spark session
# windows are HALF-OPEN [start, last+gap) — an event arriving at exactly
# gap after the previous one starts a NEW session (oracle: >= gap), while
# q30's composed sessionizer keeps it (oracle: > gap).

def q67_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_micros(F.min("ts")) / F.lit(1000)).cast("long")
            .alias("session_start_ms"),
            (F.unix_micros(F.max("ts")) / F.lit(1000)).cast("long")
            .alias("session_end_ms"),
        )
        .select("user_id", "session_start_ms", "session_end_ms", "n_events")
        .orderBy("user_id", "session_start_ms")
    )


Q67_ORACLE = """
WITH flagged AS (
    SELECT user_id, event_id,
           epoch_ms(ts) AS ts_ms,
           CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                  OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
with_idx AS (
    SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                     ROWS UNBOUNDED PRECEDING)::INT AS session_idx
    FROM flagged
)
SELECT user_id,
       MIN(ts_ms) AS session_start_ms,
       MAX(ts_ms) AS session_end_ms,
       COUNT(*)   AS n_events
FROM with_idx
GROUP BY user_id, session_idx
ORDER BY user_id, session_start_ms
"""

QUERIES["q67_native_session_window"] = q67_native_session_window
ORACLES["q67_native_session_window"] = Q67_ORACLE


# --- q105: context-window document chunking ---------------------------------

def q105_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping token chunks (size 16, stride
    12 → overlap 4) — the context-window prep step of a pretraining /
    RAG ingest pipeline. Each chunk carries its token count and an md5
    fingerprint (the chunk-level dedup key). Zero shuffles: tokenize +
    explode the offset sequence + slice, all projection-side; at 100 TB
    this runs at scan speed and the fingerprint feeds exact_dedup.
    Chunk identity is (doc_id, chunk_idx = offset div stride) —
    arithmetic both engines, no ordinal-of-unnest dependence.
    """
    from ..operators.corpus import chunk_documents

    docs = load_table(spark, "documents", sf_dir, columns=["doc_id", "text"])
    return chunk_documents(docs, chunk_size=16, stride=12)


Q105_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS tok
    FROM documents
),
o AS (
    SELECT doc_id, tok,
           unnest(range(0, greatest(len(tok), 1), 12)) AS off
    FROM t
),
c AS (
    SELECT doc_id, off,
           list_slice(tok, off + 1, off + 16) AS chunk
    FROM o
)
SELECT doc_id,
       (off // 12)::INT AS chunk_idx,
       len(chunk)::INT AS n_chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text,
       md5(array_to_string(chunk, ' ')) AS chunk_fp
FROM c
ORDER BY doc_id, chunk_idx
"""

QUERIES["q105_doc_chunking"] = q105_doc_chunking
ORACLES["q105_doc_chunking"] = Q105_ORACLE


# --- q106: entity PageRank over the customer-supplier graph -----------------

def q106_entity_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (3 rounds, d=0.85) over the bipartite
    customer↔supplier trade graph — entity-importance scoring, the
    second graph-iteration operator next to q59's connected
    components (operators/graph.py pagerank_fixed).

    Node ids disambiguate the two key spaces (customer → 2k,
    supplier → 2k+1); edges are the DISTINCT trade pairs from
    lineitem ⋈ orders, symmetrized so every node has out-mass. All
    rank math is BIGINT fixed-point (1e-12 units) — integer division
    and sums are bit-exact and order-independent in both engines, so
    the oracle replays the iteration exactly (a float PageRank could
    never hash-match across engines).
    """
    li = load_table(spark, "lineitem", sf_dir, columns=["l_orderkey", "l_suppkey"])
    orders = load_table(spark, "orders", sf_dir, columns=["o_orderkey", "o_custkey"])
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ranks = graph.pagerank_fixed(edges, iterations=3)
    return ranks.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("entity_type"),
        F.expr("node div 2").cast("long").alias("entity_key"),
        "rank_fixed",
        "rank",
    ).orderBy(F.desc("rank_fixed"), "node")


Q106_ORACLE = """
WITH pairs AS (
    SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
    SELECT a AS src, b AS dst FROM pairs
    UNION ALL
    SELECT b AS src, a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src, COUNT(*)::BIGINT AS outdeg FROM edges GROUP BY src),
c AS (
    SELECT (1000000000000 // COUNT(*))::BIGINT AS p0,
           ((15 * (1000000000000 // COUNT(*))) // 100)::BIGINT AS base
    FROM nodes
),
r0 AS (SELECT node, c.p0 AS p FROM nodes CROSS JOIN c),
s1 AS (
    SELECT e.dst AS node, CAST(SUM(r.p // d.outdeg) AS BIGINT) AS s
    FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON d.src = e.src
    GROUP BY e.dst
),
r1 AS (
    SELECT n.node, CAST(c.base + (85 * COALESCE(s1.s, 0)) // 100 AS BIGINT) AS p
    FROM nodes n CROSS JOIN c LEFT JOIN s1 ON s1.node = n.node
),
s2 AS (
    SELECT e.dst AS node, CAST(SUM(r.p // d.outdeg) AS BIGINT) AS s
    FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON d.src = e.src
    GROUP BY e.dst
),
r2 AS (
    SELECT n.node, CAST(c.base + (85 * COALESCE(s2.s, 0)) // 100 AS BIGINT) AS p
    FROM nodes n CROSS JOIN c LEFT JOIN s2 ON s2.node = n.node
),
s3 AS (
    SELECT e.dst AS node, CAST(SUM(r.p // d.outdeg) AS BIGINT) AS s
    FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON d.src = e.src
    GROUP BY e.dst
),
r3 AS (
    SELECT n.node, CAST(c.base + (85 * COALESCE(s3.s, 0)) // 100 AS BIGINT) AS p
    FROM nodes n CROSS JOIN c LEFT JOIN s3 ON s3.node = n.node
)
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
         AS entity_type,
       (node // 2)::BIGINT AS entity_key,
       p AS rank_fixed,
       p::DOUBLE / 1000000000000.0 AS rank
FROM r3
ORDER BY rank_fixed DESC, node
"""

QUERIES["q106_entity_pagerank"] = q106_entity_pagerank
ORACLES["q106_entity_pagerank"] = Q106_ORACLE


# --- q108: RAG retrieval-context join ---------------------------------------

def q108_retrieval_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly: exact cosine top-3 retrieval for a query
    batch, joined back to the document table for the payload a prompt
    builder needs (source + leading snippet). The retrieval stage is
    the exact brute-force baseline (bounded: 25 queries — the ANN
    ladder q28/q81/q94 is the scale path; the JOIN-back is the part
    this query exists to pin: neighbor_id → doc_id is predicate-pushed
    into the documents scan, shortlist-sized, never corpus-sized."""
    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    queries = emb.filter(F.col("vec_id") < 25)
    topk = similarity.brute_force_topk(emb, queries, k=3)
    return (
        topk.join(docs, topk.neighbor_id == docs.doc_id)
        .select(
            "src_id",
            "rank",
            "doc_id",
            "cosine_sim",
            "source",
            F.substring("text", 1, 80).alias("snippet"),
        )
        .orderBy("src_id", "rank")
    )


Q108_ORACLE = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 25),
sims AS (
    SELECT q.vec_id AS src_id, b.vec_id AS neighbor_id,
           {_DOT_SQL.format(a="q.embedding", b="b.embedding")}
             / ({_NORM_SQL.format(a="q.embedding")}
                * {_NORM_SQL.format(a="b.embedding")}) AS cosine_sim
    FROM q JOIN embeddings b ON q.vec_id <> b.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY src_id ORDER BY cosine_sim DESC, neighbor_id
    )::INT AS rank
    FROM sims
)
SELECT src_id, rank, neighbor_id AS doc_id, cosine_sim,
       d.source, substring(d.text, 1, 80) AS snippet
FROM ranked JOIN documents d ON neighbor_id = d.doc_id
WHERE rank <= 3
ORDER BY src_id, rank
"""

QUERIES["q108_retrieval_context"] = q108_retrieval_context
ORACLES["q108_retrieval_context"] = Q108_ORACLE


# --- q109: int8 embedding quantization --------------------------------------

def q109_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding table with
    per-vector reconstruction MSE (operators/pq.py int8_quantize) —
    the storage-tier op an embedding lake applies corpus-wide.

    The operator returns ``codes ARRAY<INT>``; the registered query
    scalarizes it to a CSV string (``codes_csv``) because the driver's
    pandas canonicalizer cannot sort list-typed cells (the r6 red row).
    Same rule as q33's scalarized histogram: no top-level array/map/
    binary columns in any registered query output.
    """
    from ..operators.pq import int8_quantize

    emb = load_table(spark, "embeddings", sf_dir)
    q = int8_quantize(emb)
    return q.select(
        "vec_id",
        "quant_scale",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias(
            "codes_csv"
        ),
        "recon_mse",
    ).orderBy("vec_id")


Q109_ORACLE = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vv
    FROM embeddings
),
s AS (
    SELECT vec_id, vv,
           CASE WHEN list_max(list_transform(vv, x -> abs(x))) > 0
                THEN 127.0 / list_max(list_transform(vv, x -> abs(x)))
                ELSE 0.0 END AS quant_scale
    FROM v
),
s2 AS (
    SELECT vec_id, vv, quant_scale,
           CASE WHEN quant_scale > 0 THEN 1.0 / quant_scale
                ELSE 0.0 END AS inv_scale
    FROM s
)
SELECT vec_id, quant_scale,
       array_to_string(
           list_transform(vv, x -> (floor(x * quant_scale + 0.5)::INT)::VARCHAR),
           ',') AS codes_csv,
       list_reduce(
           list_transform(
               vv,
               x -> (x - floor(x * quant_scale + 0.5) * inv_scale)
                    * (x - floor(x * quant_scale + 0.5) * inv_scale)),
           (a, b) -> a + b) / len(vv)::DOUBLE AS recon_mse
FROM s2
ORDER BY vec_id
"""

QUERIES["q109_int8_quantize"] = q109_int8_quantize
ORACLES["q109_int8_quantize"] = Q109_ORACLE


# --- q110: per-label centroid distance / embedding outlier scan -------------

def q110_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-set hygiene: distance of every vector to its LABEL
    centroid plus an outlier flag (dist > 1.5x the label's mean dist) —
    the mislabeled/garbage-embedding scan a training pipeline runs
    before similarity ops trust the space.

    Determinism playbook: centroids are per-(label, position) means of
    9dp-rounded DECIMAL(20,9) sums (order-independent; raw double sums
    would depend on partition order), mean in DOUBLE at the boundary;
    distances are then identical left folds over identical inputs in
    both engines (emitted raw — never round an engine-identical
    double); the label mean distance is decimal-summed the same way.

    Scale: one posexplode agg keyed (label, pos) — cardinality
    labels x dim, tiny; centroids broadcast back; one label-keyed agg
    over vector-grain distances. Linear, no skew (labels x dim keys)."""
    emb = load_table(spark, "embeddings", sf_dir)
    v = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vv"),
    )
    el = v.select("vec_id", "label", F.posexplode("vv").alias("pos", "x"))
    dec = F.round(F.col("x"), 9).cast("decimal(20,9)")
    cent = el.groupBy("label", "pos").agg(
        (F.sum(dec).cast("double") / F.count("*").cast("double")).alias("c")
    )
    cents = cent.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc")
    ).select(
        "label", F.transform("pc", lambda s: s["c"]).alias("cv")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("vv", "cv", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )
    )
    scored = v.join(F.broadcast(cents), "label").select(
        "vec_id", "label", dist.alias("centroid_dist")
    )
    ddec = F.round(F.col("centroid_dist"), 9).cast("decimal(20,9)")
    stats = scored.groupBy("label").agg(
        (F.sum(ddec).cast("double") / F.count("*").cast("double")).alias(
            "label_avg_dist"
        )
    )
    return (
        scored.join(F.broadcast(stats), "label")
        .select(
            "vec_id",
            "label",
            "centroid_dist",
            "label_avg_dist",
            (F.col("centroid_dist") > F.lit(1.5) * F.col("label_avg_dist"))
            .alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


Q110_ORACLE = """
WITH v AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> x::DOUBLE) AS vv
    FROM embeddings
),
el AS (
    SELECT vec_id, label, i - 1 AS pos, vv[i] AS x
    FROM v, unnest(generate_series(1, len(vv))) AS t(i)
),
cent AS (
    SELECT label, pos,
           CAST(SUM(CAST(round(x, 9) AS DECIMAL(20,9))) AS DOUBLE)
             / COUNT(*)::DOUBLE AS c
    FROM el GROUP BY label, pos
),
cents AS (
    SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label
),
scored AS (
    SELECT v.vec_id, v.label,
           sqrt(list_reduce(
               list_transform(
                   generate_series(1, len(vv)),
                   i -> (vv[i] - cv[i]) * (vv[i] - cv[i])),
               (a, b) -> a + b)) AS centroid_dist
    FROM v JOIN cents USING (label)
),
stats AS (
    SELECT label,
           CAST(SUM(CAST(round(centroid_dist, 9) AS DECIMAL(20,9)))
                AS DOUBLE) / COUNT(*)::DOUBLE AS label_avg_dist
    FROM scored GROUP BY label
)
SELECT vec_id, label, centroid_dist, label_avg_dist,
       centroid_dist > 1.5 * label_avg_dist AS is_outlier
FROM scored JOIN stats USING (label)
ORDER BY vec_id
"""

QUERIES["q110_embedding_outliers"] = q110_embedding_outliers
ORACLES["q110_embedding_outliers"] = Q110_ORACLE


# --- q115: contrastive negative sampling -------------------------------------

_NEG_PER_DOC = 4


def q115_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive / embedding
    training: each document draws ``_NEG_PER_DOC`` pseudo-random
    negatives from the corpus via the md5 bucket (hash, never rand —
    re-running builds the SAME pairs), with a self-collision bumped to
    the next id and a ``same_source`` flag so a trainer can drop or
    re-weight likely-false negatives.

    Density-proof (ADVICE r7): the draw targets a DENSE
    ``row_number``-derived index 0..n_docs-1, never raw doc_ids — on a
    corpus with id gaps a ``hash % n_docs`` drawn as an id would
    silently vanish in the enrichment join and break the
    k-negatives-per-doc contract. Self-collisions are bumped in index
    space ((idx+1) % n) and the negative is joined back BY INDEX, so
    every (doc, rank) pair resolves to exactly one real document.

    Plan shape: one global numbering window (the compact doc list —
    at 100 TB shard-and-number it exactly like the q121/q122 manifest
    closers), a zero-shuffle explode projection to (doc_id, neg_rank,
    neg_idx), then ONE equi-join back to the numbered list to type the
    negative — the unavoidable pair-enrichment shuffle and nothing
    else."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    numbered = docs.select(
        "doc_id",
        "source",
        (
            F.row_number().over(Window.orderBy("doc_id")) - 1
        ).cast("long").alias("idx"),
    )
    n = numbered.agg(F.count("*").alias("n_docs"))
    ranks = F.explode(
        F.sequence(F.lit(1), F.lit(_NEG_PER_DOC))
    ).alias("neg_rank")
    pairs = (
        numbered.select(
            "doc_id",
            F.col("source").alias("src_source"),
            F.col("idx").alias("src_idx"),
        )
        .crossJoin(F.broadcast(n))
        .select("doc_id", "src_source", "src_idx", "n_docs", ranks)
    )
    # operators/sampling.hash_bucket inlined with a COLUMN modulus (the
    # helper takes a literal bucket count): same md5/first-8-hex recipe
    raw32 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("neg"),
                    F.concat_ws(":", F.col("doc_id"), F.col("neg_rank")),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    neg0 = raw32 % F.col("n_docs")
    neg = F.when(
        neg0 == F.col("src_idx"), (neg0 + 1) % F.col("n_docs")
    ).otherwise(neg0)
    pairs = pairs.select(
        "doc_id",
        "src_source",
        F.col("neg_rank").cast("int").alias("neg_rank"),
        neg.alias("neg_idx"),
    )
    target = numbered.select(
        F.col("idx").alias("neg_idx"),
        F.col("doc_id").alias("neg_doc_id"),
        F.col("source").alias("neg_source"),
    )
    return (
        pairs.join(target, "neg_idx")
        .select(
            "doc_id",
            "neg_rank",
            "neg_doc_id",
            "neg_source",
            (F.col("src_source") == F.col("neg_source")).alias("same_source"),
        )
        .orderBy("doc_id", "neg_rank")
    )


Q115_ORACLE = f"""
WITH numbered AS (
    SELECT doc_id, source,
           (ROW_NUMBER() OVER (ORDER BY doc_id) - 1)::BIGINT AS idx
    FROM documents
),
n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM numbered),
pairs AS (
    SELECT d.doc_id, d.source AS src_source, d.idx AS src_idx, n.n_docs,
           unnest(generate_series(1, {_NEG_PER_DOC}))::INT AS neg_rank
    FROM numbered d, n
),
drawn AS (
    SELECT doc_id, src_source, src_idx, neg_rank,
           (('0x' || substring(
                 md5('neg' || doc_id || ':' || neg_rank), 1, 8))::BIGINT
            % n_docs) AS neg0,
           n_docs
    FROM pairs
),
resolved AS (
    SELECT doc_id, src_source, neg_rank,
           CASE WHEN neg0 = src_idx THEN (neg0 + 1) % n_docs
                ELSE neg0 END AS neg_idx
    FROM drawn
)
SELECT r.doc_id, r.neg_rank, t.doc_id AS neg_doc_id,
       t.source AS neg_source,
       r.src_source = t.source AS same_source
FROM resolved r JOIN numbered t ON r.neg_idx = t.idx
ORDER BY r.doc_id, r.neg_rank
"""

QUERIES["q115_negative_sampling"] = q115_negative_sampling
ORACLES["q115_negative_sampling"] = Q115_ORACLE


# --- q119: BM25 lexical retrieval --------------------------------------------

_BM25_TERMS = ["vector", "query", "scan", "stream"]
_BM25_TOPK = 10

# ONE expression string used VERBATIM by both engines (Spark SQL and
# DuckDB both accept CAST(x AS DOUBLE) and ln()): identical parse tree
# => identical IEEE double op sequence, so the only cross-engine risk
# is the final ulp of ln(), which the round-to-9/DECIMAL cast absorbs
# (the q50/q104 policy). k1 = 1.2, b = 0.75; (k1+1) and (1-b) are
# pre-folded literals so neither engine folds them differently.
_BM25_TERM_SCORE_SQL = (
    "CAST(round("
    "ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
    " / (CAST(df AS DOUBLE) + 0.5) + 1.0)"
    " * ((CAST(tf AS DOUBLE) * 2.2)"
    " / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)"
    " / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"
    ", 9) AS DECIMAL(18,9))"
)


def q119_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval over the document corpus for a fixed term
    set — the lexical half of a hybrid (BM25 + ANN) retrieval stack;
    q108 is the dense half. Corpus statistics (tf, dl, df, avgdl) come
    from one tokenize pass; candidate math runs only on docs matching
    a query term (posting-list-sized, never corpus-sized), with the
    1-row corpus stats broadcast. Per-term scores are rounded to 9
    decimals and DECIMAL-summed per doc, so the per-doc score is
    order-independent and hash-exact; ranking orders by the EXACT
    decimal sum with a doc_id tiebreaker. The global top-k window runs
    on the candidate set only — at 100 TB that is bounded by the
    posting lists of the query terms.

    Plan shape (the executed-plan audit lesson,
    `git show b4f93cf:PLAN_AUDIT.json`): the first cut tokenized the
    corpus FOUR times (tf, dl, and two copies of the filtered tf). Now
    dl rides the tf rows as a doc-partitioned window sum and the corpus
    totals come from a projection-only second scan (token_count, no
    explode), so the explode runs ONCE; df is a token-partitioned
    window over the already-filtered posting rows (posting-list-sized
    exchange) instead of a separate dfreq frame whose column-pruned
    lineage copy would re-run the explode."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    para = spark.sparkContext.defaultParallelism
    tok = (
        docs.filter(F.col("doc_id").isNotNull())
        .repartition(para)
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), " +")).alias("token"),
        )
        .filter(F.col("token").isNotNull())
    )
    tft = (
        tok.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "dl", F.sum("tf").over(Window.partitionBy("doc_id")).cast("long")
        )
        .filter(F.col("token").isin(_BM25_TERMS))
    )
    totals = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).alias("sum_dl"),
    )
    scored = (
        tft.withColumn(
            "df", F.count("*").over(Window.partitionBy("token")).cast("long")
        )
        .crossJoin(F.broadcast(totals))
        .withColumn("term_score", F.expr(_BM25_TERM_SCORE_SQL))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("score_exact"),
        F.count("*").cast("long").alias("matched_terms"),
    )
    w = Window.orderBy(F.col("score_exact").desc(), "doc_id")
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select(
            "rank",
            "doc_id",
            "matched_terms",
            F.col("score_exact").cast("double").alias("bm25_score"),
        )
        .orderBy("rank")
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

Q119_ORACLE = f"""
WITH tok AS (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), ' +')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, COUNT(*)::BIGINT AS tf FROM tok GROUP BY 1, 2
),
dl AS (
    SELECT doc_id, COUNT(*)::BIGINT AS dl FROM tok GROUP BY 1
),
totals AS (
    SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_dl FROM dl
),
tft AS (
    SELECT * FROM tf WHERE token IN ({_BM25_TERMS_SQL})
),
dfreq AS (
    SELECT token, COUNT(*)::BIGINT AS df FROM tft GROUP BY 1
),
scored AS (
    SELECT t.doc_id,
           {_BM25_TERM_SCORE_SQL} AS term_score
    FROM tft t
    JOIN dfreq USING (token)
    JOIN dl USING (doc_id), totals
),
per_doc AS (
    SELECT doc_id, SUM(term_score) AS score_exact,
           COUNT(*)::BIGINT AS matched_terms
    FROM scored GROUP BY doc_id
),
ranked AS (
    SELECT *, row_number() OVER (
        ORDER BY score_exact DESC, doc_id)::INT AS rank
    FROM per_doc
)
SELECT rank, doc_id, matched_terms,
       CAST(score_exact AS DOUBLE) AS bm25_score
FROM ranked
WHERE rank <= {_BM25_TOPK}
ORDER BY rank
"""

QUERIES["q119_bm25_topk"] = q119_bm25_topk
ORACLES["q119_bm25_topk"] = Q119_ORACLE


# --- q120: hybrid retrieval — reciprocal-rank fusion -------------------------

_RRF_NQ = 10        # query docs: doc_id < 10
_RRF_POOL = 10      # per-ranker pool depth
_RRF_K = 5          # fused top-k
# one shared fusion expression — identical parse tree in both engines;
# each fused score is at most two IEEE terms added in a fixed order, so
# it is bit-exact with NO rounding policy needed
_RRF_SCORE_SQL = (
    "COALESCE(1.0 / (60.0 + CAST(dense_rank AS DOUBLE)), 0.0)"
    " + COALESCE(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)), 0.0)"
)


def q120_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009): fuse a DENSE ranking (exact cosine top-10 per query vector —
    q108's retrieval stage) with a LEXICAL ranking (distinct-token
    Jaccard top-10) via RRF = sum over rankers of 1/(60 + rank) — the
    standard fusion for hybrid (BM25/ANN) stacks, here composed from
    the engine's own retrieval primitives.

    Scale shape: the query side is 10 docs (broadcast everywhere); the
    dense pass is the brute-force baseline (the ANN ladder is the
    corpus-scale path); the lexical pass joins on shared tokens so its
    cost is posting-list-sized. The fused score is at most two IEEE
    additions in a fixed order — bit-exact cross-engine without any
    rounding policy.

    Plan shape (r7 cut 6 scans/10 exchanges to 4/8; r9 to 4/6): the
    corpus is tokenized ONCE; per-doc distinct-token counts ride the
    token rows as a doc-partitioned window sum (q119's `dl` trick)
    instead of a separate corpus-sized `ntok` frame; the dense arm
    skips brute_force_topk's presentation sort (sort=False — the
    fusion re-aggregates anyway); and ONE qid repartition serves both
    the fusion aggregate (hashpartitioning(qid) satisfies the agg's
    (qid, doc_id) clustering by the subset rule) and the fused-rank
    window. Both Jaccard denominator inputs are AGG OUTPUTS of the one
    pair aggregation, so no corpus-sized enrichment joins remain.

    Why the audit still counts 4 FileScans: each table is scanned
    fully ONCE (corpus arm) plus once PRUNED TO THE QUERY BATCH
    (`vec_id < NQ` / `doc_id < NQ` reach the parquet scan as pushed
    filters — an O(|Q|) read). Deriving the query side from the corpus
    arm's Exchange instead would replace that O(|Q|) pruned read with
    an O(corpus) shuffle re-read on the broadcast build path — worse
    at 100 TB, so the two pruned scans are the plan you want; no
    corpus-sized scan runs twice."""
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)

    dense = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _RRF_NQ), k=_RRF_POOL, sort=False
    ).select(
        F.col("src_id").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").cast("int").alias("dense_rank"),
    )

    tokd = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), " +"))
        ).alias("token"),
    ).withColumn(
        "ntok",
        F.count("*").over(Window.partitionBy("doc_id")).cast("long"),
    )
    # query side: the doc_id < NQ predicate prunes ITS copy of the scan
    # to the 10 query docs (per-partition filter, so the window's ntok
    # is unchanged); the result is broadcast — no corpus-side shuffle
    qtok = tokd.filter(F.col("doc_id") < _RRF_NQ).select(
        F.col("doc_id").alias("qid"), "token", F.col("ntok").alias("qn")
    )
    shared = (
        tokd.join(F.broadcast(qtok), "token")
        .filter(F.col("qid") != F.col("doc_id"))
        .groupBy("qid", "doc_id")
        .agg(
            F.count("*").alias("shared"),
            F.max("ntok").alias("ntok"),
            F.max("qn").alias("qn"),
        )
    )
    jac = shared.select(
        "qid",
        "doc_id",
        (
            F.col("shared").cast("double")
            / (F.col("qn") + F.col("ntok") - F.col("shared")).cast(
                "double"
            )
        ).alias("jaccard"),
    )
    wl = Window.partitionBy("qid").orderBy(
        F.col("jaccard").desc(), "doc_id"
    )
    lex = (
        jac.withColumn("lex_rank", F.row_number().over(wl).cast("int"))
        .filter(F.col("lex_rank") <= _RRF_POOL)
        .select("qid", "doc_id", "lex_rank")
    )

    # full-outer fusion as union + one agg: one (qid, doc_id) exchange
    # instead of the join's two, on the ≤ NQ·POOL·2 candidate rows
    fused = (
        dense.select(
            "qid",
            "doc_id",
            "dense_rank",
            F.lit(None).cast("int").alias("lex_rank"),
        )
        .unionByName(
            lex.select(
                "qid",
                "doc_id",
                F.lit(None).cast("int").alias("dense_rank"),
                "lex_rank",
            )
        )
        # ONE qid Exchange serves both the pair aggregation and the
        # fused-rank window below it: hashpartitioning(qid) satisfies
        # the agg's ClusteredDistribution(qid, doc_id) (subset rule),
        # so the explicit repartition replaces the planner's separate
        # (qid, doc_id) and (qid) Exchanges
        .repartition("qid")
        .groupBy("qid", "doc_id")
        .agg(
            F.max("dense_rank").alias("dense_rank"),
            F.max("lex_rank").alias("lex_rank"),
        )
        .withColumn("rrf_score", F.expr(_RRF_SCORE_SQL))
    )
    wf = Window.partitionBy("qid").orderBy(
        F.col("rrf_score").desc(), "doc_id"
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("fused_rank") <= _RRF_K)
        .select(
            "qid", "fused_rank", "doc_id", "rrf_score",
            "dense_rank", "lex_rank",
        )
        .orderBy("qid", "fused_rank")
    )


Q120_ORACLE = f"""
WITH q AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_RRF_NQ}
),
dsims AS (
    SELECT q.vec_id AS qid, b.vec_id AS doc_id,
           {_DOT_SQL.format(a="q.embedding", b="b.embedding")}
             / ({_NORM_SQL.format(a="q.embedding")}
                * {_NORM_SQL.format(a="b.embedding")}) AS cosine_sim
    FROM q JOIN embeddings b ON q.vec_id <> b.vec_id
),
dense AS (
    SELECT qid, doc_id, rank::INT AS dense_rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY cosine_sim DESC, doc_id) AS rank
        FROM dsims)
    WHERE rank <= {_RRF_POOL}
),
tok AS (
    SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), ' +')) AS token
        FROM documents)
),
ntok AS (SELECT doc_id, COUNT(*)::BIGINT AS ntok FROM tok GROUP BY 1),
shared AS (
    SELECT a.doc_id AS qid, b.doc_id AS doc_id, COUNT(*)::BIGINT AS shared
    FROM tok a JOIN tok b USING (token)
    WHERE a.doc_id < {_RRF_NQ} AND a.doc_id <> b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT s.qid, s.doc_id,
           s.shared::DOUBLE
             / (nq.ntok + nd.ntok - s.shared)::DOUBLE AS jaccard
    FROM shared s
    JOIN ntok nq ON nq.doc_id = s.qid
    JOIN ntok nd ON nd.doc_id = s.doc_id
),
lex AS (
    SELECT qid, doc_id, rank::INT AS lex_rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY qid ORDER BY jaccard DESC, doc_id) AS rank
        FROM jac)
    WHERE rank <= {_RRF_POOL}
),
fused AS (
    SELECT COALESCE(d.qid, l.qid) AS qid,
           COALESCE(d.doc_id, l.doc_id) AS doc_id,
           d.dense_rank, l.lex_rank,
           {_RRF_SCORE_SQL.replace("dense_rank", "d.dense_rank")
                          .replace("lex_rank", "l.lex_rank")} AS rrf_score
    FROM dense d
    FULL OUTER JOIN lex l ON d.qid = l.qid AND d.doc_id = l.doc_id
)
SELECT qid, fused_rank, doc_id, rrf_score, dense_rank, lex_rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY qid ORDER BY rrf_score DESC, doc_id)::INT AS fused_rank
    FROM fused)
WHERE fused_rank <= {_RRF_K}
ORDER BY qid, fused_rank
"""

QUERIES["q120_hybrid_rrf"] = q120_hybrid_rrf
ORACLES["q120_hybrid_rrf"] = Q120_ORACLE


# --- q123: fill-in-the-middle (FIM) transform --------------------------------


def _md5_long(salt: str, key) -> "F.Column":
    """Nonnegative 32-bit value from md5(salt || key) — the hash_bucket
    primitive with a COLUMN modulus applied by the caller (hash_bucket
    itself takes a constant bucket count)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(key).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")


def q123_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022):
    split each document's token sequence at two deterministic points
    into (prefix, middle, suffix) and re-emit in PSM order —
    ``<PRE> prefix <SUF> suffix <MID> middle`` — the standard infilling
    augmentation for code/text pretraining.

    The two cut points are md5-derived (h % valid_range), so the
    transform is reproducible and hash-exact cross-engine; cut1 lands in
    [1, n-2] and cut2 in [cut1+1, n-1], so all three spans are
    non-empty. Token-unit slicing on both sides (never char slicing —
    the q93 multi-byte lesson); the rebuilt string is fingerprinted
    with md5 and measured in BYTES (octet_length) so the output stays
    scalar and the hash gate sees the whole transform.

    Scale shape: a pure zero-shuffle projection over the corpus — the
    ideal 100 TB operator (like q105 chunking); the only order-sensitive
    step is the final cosmetic orderBy."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens("text")
    n = F.size(toks).cast("int")
    base = docs.select("doc_id", toks.alias("tok"), n.alias("n_tokens")).filter(
        F.col("n_tokens") >= 3
    )
    cut1 = (F.lit(1) + _md5_long("fim1", "doc_id") % (F.col("n_tokens") - 2)).cast(
        "int"
    )
    cut2 = (
        F.col("cut1")
        + 1
        + _md5_long("fim2", "doc_id")
        % (F.col("n_tokens") - 1 - F.col("cut1"))
    ).cast("int")
    with_cuts = base.withColumn("cut1", cut1).withColumn("cut2", cut2)
    fim_text = F.concat(
        F.lit("<PRE> "),
        F.array_join(F.slice("tok", F.lit(1), F.col("cut1")), " "),
        F.lit(" <SUF> "),
        F.array_join(
            F.slice(
                "tok",
                F.col("cut2") + 1,
                F.col("n_tokens") - F.col("cut2"),
            ),
            " ",
        ),
        F.lit(" <MID> "),
        F.array_join(
            F.slice(
                "tok", F.col("cut1") + 1, F.col("cut2") - F.col("cut1")
            ),
            " ",
        ),
    )
    return (
        with_cuts.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "cut1",
            "cut2",
            F.octet_length(fim_text).cast("long").alias("fim_bytes"),
            F.md5(fim_text).alias("fim_md5"),
        )
        .orderBy("doc_id")
    )


Q123_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS tok,
           len(string_split_regex(trim(text), ' +'))::INT AS n_tokens
    FROM documents
),
c1 AS (
    SELECT *,
           (1 + ('0x' || substring(md5('fim1' || doc_id), 1, 8))::BIGINT
                % (n_tokens - 2))::INT AS cut1
    FROM t WHERE n_tokens >= 3
),
c2 AS (
    SELECT *,
           (cut1 + 1 + ('0x' || substring(md5('fim2' || doc_id), 1, 8))::BIGINT
                % (n_tokens - 1 - cut1))::INT AS cut2
    FROM c1
),
f AS (
    SELECT doc_id, n_tokens, cut1, cut2,
           '<PRE> ' || array_to_string(list_slice(tok, 1, cut1), ' ')
           || ' <SUF> '
           || array_to_string(list_slice(tok, cut2 + 1, n_tokens), ' ')
           || ' <MID> '
           || array_to_string(list_slice(tok, cut1 + 1, cut2), ' ')
             AS fim_text
    FROM c2
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens, cut1, cut2,
       octet_length(encode(fim_text))::BIGINT AS fim_bytes,
       md5(fim_text) AS fim_md5
FROM f
ORDER BY doc_id
"""

QUERIES["q123_fim_transform"] = q123_fim_transform
ORACLES["q123_fim_transform"] = Q123_ORACLE


# --- q124: tokenizer fertility / compression stats ---------------------------


def q124_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility and compression report: bytes,
    characters, whitespace tokens, and BPE-ish pre-tokenizer tokens per
    source, with the derived ratios every tokenizer evaluation tracks —
    bytes/token (compression) and bpe/ws fertility (how many subword
    pieces a whitespace word splits into). These ratios are how
    pretraining pipelines budget compute per source and catch encoding
    pathologies (a source whose bytes/token spikes is binary junk or
    the wrong language for the tokenizer).

    All sums are BIGINT (byte counts via octet_length — never char
    counts, the q93 multi-byte lesson); ratios are BIGINT::DOUBLE /
    BIGINT::DOUBLE at the output boundary — the same IEEE divide in
    both engines, no rounding policy needed. One scan, one
    source-grain agg — the zero-risk 100 TB shape."""
    docs = load_table(spark, "documents", sf_dir)
    agg = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.octet_length("text").cast("long")).alias("total_bytes"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        F.sum(token_count("text")).cast("long").alias("ws_tokens"),
        F.sum(bpe_ish_token_count("text")).cast("long").alias("bpe_tokens"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.select(
        "source",
        "n_docs",
        "total_bytes",
        "total_chars",
        "ws_tokens",
        "bpe_tokens",
        (d("total_bytes") / d("ws_tokens")).alias("bytes_per_ws_token"),
        (d("total_bytes") / d("bpe_tokens")).alias("bytes_per_bpe_token"),
        (d("bpe_tokens") / d("ws_tokens")).alias("fertility"),
    ).orderBy("source")


Q124_ORACLE = """
WITH t AS (
    SELECT source,
           octet_length(encode(text))::BIGINT AS n_bytes,
           length(text)::BIGINT AS n_chars,
           len(string_split_regex(trim(text), ' +'))::BIGINT AS n_ws,
           len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS n_bpe
    FROM documents
),
a AS (
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           SUM(n_bytes)::BIGINT AS total_bytes,
           SUM(n_chars)::BIGINT AS total_chars,
           SUM(n_ws)::BIGINT AS ws_tokens,
           SUM(n_bpe)::BIGINT AS bpe_tokens
    FROM t GROUP BY source
)
SELECT source, n_docs, total_bytes, total_chars, ws_tokens, bpe_tokens,
       total_bytes::DOUBLE / ws_tokens::DOUBLE AS bytes_per_ws_token,
       total_bytes::DOUBLE / bpe_tokens::DOUBLE AS bytes_per_bpe_token,
       bpe_tokens::DOUBLE / ws_tokens::DOUBLE AS fertility
FROM a
ORDER BY source
"""

QUERIES["q124_tokenizer_fertility"] = q124_tokenizer_fertility
ORACLES["q124_tokenizer_fertility"] = Q124_ORACLE


# --- q125: T5-style span corruption ------------------------------------------

_T5_MASK_PCT = 15  # per-token corruption probability (md5 percent bucket)


def q125_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 denoising objective (Raffel et al. 2020): mask a deterministic
    ~15% of tokens, collapse each CONTIGUOUS masked run into one
    sentinel <Xi> in the input, and emit the target as the sentinel
    sequence with the original spans — the span-corruption pair every
    encoder-decoder pretraining pipeline materializes.

    The per-token mask is md5(doc_id, pos) % 100 — reproducible and
    hash-exact cross-engine; spans and sentinel numbering fall out of
    one window pass (lag for span starts, running sum for span index).
    Input/target are rebuilt with the q95 discipline — Spark
    array_sort(collect_list(struct(pos, piece))) ≡ DuckDB
    string_agg(ORDER BY pos), null pieces dropped by both engines —
    and surfaced as md5 + byte length so the output stays scalar.

    Scale shape: posexplode + ONE doc-keyed window pass + one doc
    aggregate. The entry repartition is keyed on doc_id (not round
    robin, r14): Generate preserves the child's hashpartitioning, so
    the doc-keyed window and the closing groupBy both ride the
    pre-explode Exchange — the shuffle moves N doc rows, not the
    ~200x larger token table (guide §2.4 "explode after the shuffle";
    the r13 shape paid an Exchange(doc_id) over every exploded token).
    The output sort was presentation-only (the driver compare is an
    order-insensitive value hash; at 1M docs it range-shuffled the
    whole verdict frame) and is dropped per the q42/q47/q30 rule."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    para = spark.sparkContext.defaultParallelism
    tk = (
        docs.repartition(para, "doc_id")  # keyed: explode BELOW the Exchange
        .select("doc_id", F.posexplode(tokens("text")).alias("pos", "w"))
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("t5"),
                    F.col("doc_id").cast("string"),
                    F.lit("_"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("doc_id").orderBy("pos")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    x = (
        tk.withColumn("masked", (h % 100) < _T5_MASK_PCT)
        .withColumn(
            "span_start",
            F.col("masked")
            & ~F.coalesce(F.lag("masked").over(w), F.lit(False)),
        )
        .withColumn(
            "span_idx",
            F.sum(F.col("span_start").cast("int")).over(run).cast("long"),
        )
    )
    sentinel = F.concat(
        F.lit("<X"), (F.col("span_idx") - 1).cast("string"), F.lit(">")
    )
    ip = (
        F.when(~F.col("masked"), F.col("w"))
        .when(F.col("span_start"), sentinel)
    )
    tp = (
        F.when(
            F.col("span_start"), F.concat(sentinel, F.lit(" "), F.col("w"))
        )
        .when(F.col("masked"), F.col("w"))
    )

    def rebuild(piece):
        return F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            piece.isNotNull(), F.struct("pos", piece.alias("t"))
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            " ",
        )

    agg = x.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.col("masked").cast("int")).cast("long").alias("n_masked"),
        F.max("span_idx").cast("long").alias("n_spans"),
        rebuild(ip).alias("input_text"),
        rebuild(tp).alias("target_text"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        "n_spans",
        F.md5("input_text").alias("input_md5"),
        F.octet_length("input_text").cast("long").alias("input_bytes"),
        F.md5("target_text").alias("target_md5"),
        F.octet_length("target_text").cast("long").alias("target_bytes"),
    )


Q125_ORACLE = f"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS tok
    FROM documents
),
tk AS (
    SELECT doc_id, unnest(generate_series(1, len(tok))) - 1 AS pos,
           unnest(tok) AS w
    FROM t
),
m AS (
    SELECT *,
           (('0x' || substring(md5('t5' || doc_id || '_' || pos), 1, 8))
              ::BIGINT % 100 < {_T5_MASK_PCT}) AS masked
    FROM tk
),
s AS (
    SELECT *,
           (masked AND NOT COALESCE(lag(masked) OVER (
               PARTITION BY doc_id ORDER BY pos), false)) AS span_start
    FROM m
),
x AS (
    SELECT *,
           SUM(CASE WHEN span_start THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING)::BIGINT AS span_idx
    FROM s
),
p AS (
    SELECT doc_id, pos, masked, span_start, span_idx,
           CASE WHEN NOT masked THEN w
                WHEN span_start THEN '<X' || (span_idx - 1) || '>' END AS ip,
           CASE WHEN span_start
                    THEN '<X' || (span_idx - 1) || '> ' || w
                WHEN masked THEN w END AS tp
    FROM x
),
a AS (
    SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
           SUM(masked::INT)::BIGINT AS n_masked,
           MAX(span_idx)::BIGINT AS n_spans,
           COALESCE(string_agg(ip, ' ' ORDER BY pos), '') AS input_text,
           COALESCE(string_agg(tp, ' ' ORDER BY pos), '') AS target_text
    FROM p GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_masked, n_spans,
       md5(input_text) AS input_md5,
       octet_length(encode(input_text))::BIGINT AS input_bytes,
       md5(target_text) AS target_md5,
       octet_length(encode(target_text))::BIGINT AS target_bytes
FROM a
ORDER BY doc_id
"""

QUERIES["q125_span_corruption"] = q125_span_corruption
ORACLES["q125_span_corruption"] = Q125_ORACLE


# --- q126: contrastive hard-negative mining ----------------------------------

_HN_NQ = 10    # anchor docs: vec_id < 10
_HN_NEG = 3    # hard negatives per anchor


def q126_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    data-prep step): for each anchor, emit its POSITIVE (the most
    similar same-label example) and its top-3 HARD NEGATIVES (the most
    similar different-label examples — the ones a contrastive loss
    learns the most from). Ranking is exact cosine with the fold dot
    product (Spark F.aggregate left fold == DuckDB list_reduce, the
    repo's bit-exact identity), ties broken by cand_id.

    Scale shape: anchors broadcast against one in-place corpus scan
    (brute_force_topk's regime); the per-(anchor, same/diff) window
    becomes a partial WindowGroupLimit so only ~(1+k) survivors per
    partition shuffle. The ANN ladder (q28/q81/q94 + the persisted
    index) is the corpus-scale candidate generator — this is the exact
    twin a miner validates against."""
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)
    q = similarity.with_norm(emb.filter(F.col("vec_id") < _HN_NQ)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("_v").alias("qv"),
        F.col("_norm").alias("qn"),
    )
    v = similarity.with_norm(emb).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("_v").alias("nv"),
        F.col("_norm").alias("nn"),
    )
    sims = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "cand_id",
            "cand_label",
            (
                similarity._dot(F.col("qv"), F.col("nv"))
                / (F.col("qn") * F.col("nn"))
            ).alias("cosine_sim"),
            (F.col("anchor_label") == F.col("cand_label")).alias("is_same"),
        )
    )
    w = Window.partitionBy("anchor_id", "is_same").orderBy(
        F.desc("cosine_sim"), "cand_id"
    )
    ranked = sims.withColumn("pair_rank", F.row_number().over(w).cast("int"))
    return (
        ranked.filter(
            (F.col("is_same") & (F.col("pair_rank") == 1))
            | (~F.col("is_same") & (F.col("pair_rank") <= _HN_NEG))
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.when(F.col("is_same"), "positive")
            .otherwise("hard_negative")
            .alias("pair_type"),
            "pair_rank",
            "cand_id",
            "cand_label",
            "cosine_sim",
        )
        .orderBy("anchor_id", F.desc("pair_type"), "pair_rank")
    )


Q126_ORACLE = f"""
WITH q AS (
    SELECT vec_id, embedding, label FROM embeddings
    WHERE vec_id < {_HN_NQ}
),
sims AS (
    SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
           b.vec_id AS cand_id, b.label AS cand_label,
           {_DOT_SQL.format(a="q.embedding", b="b.embedding")}
             / ({_NORM_SQL.format(a="q.embedding")}
                * {_NORM_SQL.format(a="b.embedding")}) AS cosine_sim,
           (q.label = b.label) AS is_same
    FROM q JOIN embeddings b ON q.vec_id <> b.vec_id
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY anchor_id, is_same
        ORDER BY cosine_sim DESC, cand_id)::INT AS pair_rank
    FROM sims
)
SELECT anchor_id, anchor_label,
       CASE WHEN is_same THEN 'positive'
            ELSE 'hard_negative' END AS pair_type,
       pair_rank, cand_id, cand_label, cosine_sim
FROM r
WHERE (is_same AND pair_rank = 1)
   OR (NOT is_same AND pair_rank <= {_HN_NEG})
ORDER BY anchor_id, pair_type DESC, pair_rank
"""

QUERIES["q126_hard_negatives"] = q126_hard_negatives
ORACLES["q126_hard_negatives"] = Q126_ORACLE


# --- q127: behavior-sequence training examples --------------------------------

_SEQ_LEN = 16  # input sequence length (most recent events)


def q127_behavior_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-recommendation dataset builder (the SASRec/GRU4Rec
    prep step): per user, the chronologically ordered types of the most
    recent ``_SEQ_LEN`` events as the INPUT sequence and the single most
    recent event as the NEXT-EVENT label — the leave-one-out split every
    next-item-prediction trainer materializes from an event log.

    Event ordering is (ts, event_id) in both engines — the proven q30
    discipline (load_table's NTZ normalization is order-preserving, and
    the unique event_id tiebreak makes the window deterministic). The
    input string is rebuilt with the ordered-struct pattern keyed on
    NEGATED recency rank, so the sequence reads oldest -> newest.

    Scale shape: one user-keyed window (rank + count share the shuffle)
    + one user aggregate — a single corpus shuffle; the WindowGroupLimit
    prunes to seq_len+1 rows per user before the aggregate."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    r = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count("*").over(wc).cast("long"))
        .filter(F.col("rn") <= _SEQ_LEN + 1)
    )
    piece = F.when(
        F.col("rn") > 1,
        F.struct((-F.col("rn")).alias("k"), F.col("event_type").alias("t")),
    )
    agg = (
        r.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            (F.count("*") - 1).cast("long").alias("seq_len"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(piece)), lambda s: s["t"]
                ),
                " ",
            ).alias("input_seq"),
            F.max(
                F.when(F.col("rn") == 1, F.col("event_type"))
            ).alias("next_event"),
        )
        .filter(F.col("seq_len") >= 1)
    )
    return agg.select(
        "user_id", "n_events", "seq_len", "input_seq", "next_event"
    ).orderBy("user_id")


Q127_ORACLE = f"""
WITH r AS (
    SELECT user_id, event_type,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id)::BIGINT AS n_events
    FROM events
),
k AS (SELECT * FROM r WHERE rn <= {_SEQ_LEN + 1})
SELECT user_id,
       MAX(n_events) AS n_events,
       (COUNT(*) - 1)::BIGINT AS seq_len,
       string_agg(CASE WHEN rn > 1 THEN event_type END, ' '
                  ORDER BY rn DESC) AS input_seq,
       MAX(CASE WHEN rn = 1 THEN event_type END) AS next_event
FROM k
GROUP BY user_id
HAVING COUNT(*) >= 2
ORDER BY user_id
"""

QUERIES["q127_behavior_sequences"] = q127_behavior_sequences
ORACLES["q127_behavior_sequences"] = Q127_ORACLE


# --- q141: SFT chat-template rendering with loss-mask boundaries -------------


def q141_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning (SFT) example formatting — the step between
    corpus curation and the trainer that every chat model needs:
    each document is split at a deterministic md5-derived point into
    (prompt, response), rendered into a chat template
    ``<|system|> ... <|user|> prompt <|assistant|> response <|end|>``,
    and the LOSS-MASK boundary is emitted in token units — tokens
    before ``mask_upto_token`` get label -100 (system+user+template),
    the ``n_loss_tokens`` after it (response + <|end|>) train. The
    rendered string is fingerprinted (md5 + octet_length) so the gate
    sees the whole render (the q123 scalarization policy); the mask
    arithmetic is pinned exactly: mask_upto = 7 template tokens +
    prompt + 1 assistant mark; loss = response + end mark.

    Completes the trainer-facing family: q45 packing, q123 FIM, q125
    span corruption, q127 behavior sequences, q134 preference pairs —
    this is the supervised-pairs formatter. Scale shape: zero-shuffle
    projection over the corpus (the q105/q123 ideal); cosmetic final
    orderBy only.

    Reference scope: the reference has no training-data surface;
    brief extension (SFT formatting a la Alpaca/Vicuna templates)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens("text")
    base = docs.select(
        "doc_id",
        toks.alias("tok"),
        F.size(toks).cast("int").alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 2)
    cut = (
        F.lit(1) + _md5_long("sft", "doc_id") % (F.col("n_tokens") - 1)
    ).cast("int")
    with_cut = base.withColumn("cut", cut)
    rendered = F.concat(
        F.lit("<|system|> You are a helpful assistant. <|user|> "),
        F.array_join(F.slice("tok", F.lit(1), F.col("cut")), " "),
        F.lit(" <|assistant|> "),
        F.array_join(
            F.slice(
                "tok", F.col("cut") + 1, F.col("n_tokens") - F.col("cut")
            ),
            " ",
        ),
        F.lit(" <|end|>"),
    )
    return (
        with_cut.select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("cut").alias("prompt_tokens"),
            (F.col("n_tokens") - F.col("cut"))
            .cast("int")
            .alias("response_tokens"),
            (F.col("cut") + 8).cast("int").alias("mask_upto_token"),
            (F.col("n_tokens") - F.col("cut") + 1)
            .cast("int")
            .alias("n_loss_tokens"),
            F.octet_length(rendered).cast("long").alias("rendered_bytes"),
            F.md5(rendered).alias("rendered_md5"),
        )
        .orderBy("doc_id")
    )


Q141_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS tok,
           len(string_split_regex(trim(text), ' +'))::INT AS n_tokens
    FROM documents
),
c AS (
    SELECT *,
           (1 + ('0x' || substring(md5('sft' || doc_id), 1, 8))::BIGINT
                % (n_tokens - 1))::INT AS cut
    FROM t WHERE n_tokens >= 2
),
r AS (
    SELECT doc_id, n_tokens, cut,
           '<|system|> You are a helpful assistant. <|user|> '
           || array_to_string(list_slice(tok, 1, cut), ' ')
           || ' <|assistant|> '
           || array_to_string(list_slice(tok, cut + 1, n_tokens), ' ')
           || ' <|end|>' AS rendered
    FROM c
)
SELECT doc_id, n_tokens::BIGINT AS n_tokens,
       cut AS prompt_tokens,
       (n_tokens - cut)::INT AS response_tokens,
       (cut + 8)::INT AS mask_upto_token,
       (n_tokens - cut + 1)::INT AS n_loss_tokens,
       octet_length(encode(rendered))::BIGINT AS rendered_bytes,
       md5(rendered) AS rendered_md5
FROM r
ORDER BY doc_id
"""

QUERIES["q141_sft_format"] = q141_sft_format
ORACLES["q141_sft_format"] = Q141_ORACLE


# --- q143: label-propagation communities over the trade graph ----------------


def q143_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over q106's bipartite customer<->supplier trade graph
    — the third graph-iteration operator next to connected components
    (q59) and fixed-point PageRank (q106), and like them hash-exact:
    the mode-update is argmax by (neighbor-label count DESC, label
    ASC) — pure integer/ordering logic — so the DuckDB oracle unrolls
    the 3 synchronous rounds as CTEs and replays every adoption
    decision bit-for-bit (async/randomized LPA variants could never
    cross-engine match).

    Output is community grain: final label, member count, min/max
    member node. Scale posture: per round one edges-vs-labels
    shuffle-join + one (node, label) count-agg; state is node-sized
    (operators/graph.py label_propagation, lazy per-round
    localCheckpoints)."""
    from ..operators.graph import label_propagation

    li = load_table(
        spark, "lineitem", sf_dir, columns=["l_orderkey", "l_suppkey"]
    )
    orders = load_table(
        spark, "orders", sf_dir, columns=["o_orderkey", "o_custkey"]
    )
    cust = load_table(
        spark, "customer", sf_dir, columns=["c_custkey", "c_nationkey"]
    )
    supp = load_table(
        spark, "supplier", sf_dir, columns=["s_suppkey", "s_nationkey"]
    )
    # same-nation trades only: the full bipartite graph is so dense
    # that 3 LPA rounds collapse it to ~2 communities; the nation cut
    # yields ~25 disconnected subgraphs — the regime LPA is for
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    labels = label_propagation(edges, iterations=3)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("community")
    )


Q143_ORACLE = """
WITH pairs AS (
    SELECT DISTINCT o.o_custkey * 2 AS a, li.l_suppkey * 2 + 1 AS b
    FROM lineitem li
    JOIN orders o ON li.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON li.l_suppkey = s.s_suppkey
    WHERE c.c_nationkey = s.s_nationkey
),
edges AS (
    SELECT a AS src, b AS dst FROM pairs
    UNION ALL
    SELECT b AS src, a AS dst FROM pairs
),
l0 AS (
    SELECT DISTINCT src AS node, src AS label FROM edges
),
v1 AS (
    SELECT e.src AS node, l.label, COUNT(*)::BIGINT AS n
    FROM edges e JOIN l0 l ON e.dst = l.node GROUP BY 1, 2
),
l1 AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (
                   PARTITION BY node ORDER BY n DESC, label ASC) AS rn
        FROM v1
    ) WHERE rn = 1
),
v2 AS (
    SELECT e.src AS node, l.label, COUNT(*)::BIGINT AS n
    FROM edges e JOIN l1 l ON e.dst = l.node GROUP BY 1, 2
),
l2 AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (
                   PARTITION BY node ORDER BY n DESC, label ASC) AS rn
        FROM v2
    ) WHERE rn = 1
),
v3 AS (
    SELECT e.src AS node, l.label, COUNT(*)::BIGINT AS n
    FROM edges e JOIN l2 l ON e.dst = l.node GROUP BY 1, 2
),
l3 AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (
                   PARTITION BY node ORDER BY n DESC, label ASC) AS rn
        FROM v3
    ) WHERE rn = 1
)
SELECT label AS community,
       COUNT(*)::BIGINT AS n_members,
       MIN(node) AS min_node,
       MAX(node) AS max_node
FROM l3
GROUP BY 1
ORDER BY community
"""

QUERIES["q143_label_propagation"] = q143_label_propagation
ORACLES["q143_label_propagation"] = Q143_ORACLE


# --- q151: fixed-point embedding Gramian (covariance/PCA prep) ----------------

_Q151_DIM = 64


def q151_embedding_gramian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix of the embedding table in BIGINT
    fixed-point (operators/similarity.gramian_fixed_point) — the input
    to covariance/PCA/whitening of an embedding space, which a 100 TB
    pipeline computes as d(d+1)/2 mergeable integer sums (map-side
    combine; partials are d^2-sized regardless of row count). Integer
    sums commute, so the result is order-independent and hash-exact —
    a float Gramian never is (the q106 fixed-point rule). The
    bit-identical numpy scale path (gramian_arrow, V^T V per Arrow
    batch) is pinned equal in TestGramian and was benched at 1M rows
    (`git show b4f93cf:BENCH_XL.json`).

    dim is probed from the data (one-row collect) so the same entry
    runs on the 64-dim driver testdata and the 16-dim generated XL
    corpus; the static oracle string pins 64 — the driver's dim."""
    from ..operators.pq import _vec_dim

    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.gramian_fixed_point(emb, dim=_vec_dim(emb, "embedding"))


Q151_ORACLE = f"""
WITH q AS (
    SELECT list_transform(embedding,
                          x -> floor(x::DOUBLE * 1000)::BIGINT) AS qv
    FROM embeddings
),
idx AS (SELECT unnest(generate_series(0, {_Q151_DIM - 1})) AS v),
pairs AS (
    SELECT a.v::INT AS i, b.v::INT AS j,
           (q.qv[a.v + 1] * q.qv[b.v + 1])::BIGINT AS p
    FROM q, idx a, idx b
    WHERE b.v >= a.v
)
SELECT i, j, SUM(p)::BIGINT AS g
FROM pairs
GROUP BY i, j
ORDER BY i, j
"""

QUERIES["q151_embedding_gramian"] = q151_embedding_gramian
ORACLES["q151_embedding_gramian"] = Q151_ORACLE


def q152_gramian_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Gramian: the corpus split into 3 disjoint batches,
    each batch's fixed-point Gramian computed independently, partials
    merged by plain (i, j)-grain integer addition. REGISTERED AGAINST
    q151's oracle, so the hash row is machine-checked proof that
    merged partials == the full-corpus Gramian BIT-FOR-BIT (the
    q129/q130 sharded==global and q147 partials-merge discipline) —
    i.e. a 100 TB covariance/PCA model re-trains incrementally: keep
    per-batch d(d+1)/2-row partials, add the new batch's, never rescan
    history."""
    from ..operators.pq import _vec_dim

    emb = load_table(spark, "embeddings", sf_dir)
    dim = _vec_dim(emb, "embedding")
    parts = [
        similarity.gramian_fixed_point(
            emb.filter(F.col("vec_id") % 3 == r), dim=dim
        )
        for r in range(3)
    ]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return (
        merged.groupBy("i", "j")
        .agg(F.sum("g").cast("long").alias("g"))
        .orderBy("i", "j")
    )


QUERIES["q152_gramian_merge"] = q152_gramian_merge
ORACLES["q152_gramian_merge"] = Q151_ORACLE
