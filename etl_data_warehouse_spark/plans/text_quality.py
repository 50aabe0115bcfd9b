"""Text-hygiene queries (q48-q49): PII scrubbing and repetition stats.

q48 redacts emails/SSNs/phones with shared regexes
(functions/text.py PII_PATTERNS) and hash-checks the md5 of every
redacted document — the synthetic corpus contains ~no PII, so the
planted-PII cross-engine test (tests/test_text_quality.py) is the
behavioral proof and the oracle is the plumbing proof. q49 computes
per-document repetition / lexical-diversity signals, the standard
boilerplate-detection features of a pretraining quality filter.

Scale: q48 is a pure projection (zero shuffles). q49 is one explode +
one (doc_id, token) aggregation + a per-document top-1 window — all
partitioned by doc_id, never global.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    EN_STOPWORDS,
    PII_PATTERNS,
    pii_count,
    redact_pii,
    token_count,
    tokens,
    word_ngrams,
)
from ..operators import corpus
from ..sources.catalog import load_table


def q48_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    out = docs.select(
        "doc_id",
        *[
            pii_count("text", pattern).alias(f"n_{name}")
            for name, pattern, _ in PII_PATTERNS
        ],
        F.md5(redact_pii("text")).alias("redacted_md5"),
    )
    total = sum(F.col(f"n_{name}") for name, _, _ in PII_PATTERNS)
    return out.withColumn("was_redacted", total > 0).orderBy("doc_id")


def _q48_oracle() -> str:
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{p}'))::BIGINT AS n_{name}"
        for name, p, _ in PII_PATTERNS
    )
    redacted = "text"
    for _name, p, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{p}', '{repl}', 'g')"
    total = " + ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return f"""
SELECT doc_id,
       {counts},
       md5({redacted}) AS redacted_md5,
       ({total}) > 0 AS was_redacted
FROM documents
ORDER BY doc_id
"""


Q48_ORACLE = _q48_oracle()


def q49_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition / lexical diversity: top-token share and
    type-token ratio (ties on the top token broken by token text)."""
    docs = load_table(spark, "documents", sf_dir)
    para = spark.sparkContext.defaultParallelism
    tok = docs.repartition(para, "doc_id").select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("freq"), "token")
    top = (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("token").alias("top_token"),
            F.col("freq").alias("top_freq"),
        )
    )
    stats = tf.groupBy("doc_id").agg(
        F.sum("freq").alias("n_tokens"),
        F.count("*").alias("n_distinct_tokens"),
    )
    return (
        stats.join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            "top_token",
            "top_freq",
            (F.col("top_freq").cast("double") / F.col("n_tokens").cast("double")).alias(
                "repetition_ratio"
            ),
            (
                F.col("n_distinct_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("type_token_ratio"),
        )
        .orderBy("doc_id")
    )


Q49_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, COUNT(*) AS freq FROM tok GROUP BY 1, 2
),
top AS (
    SELECT doc_id, token AS top_token, freq AS top_freq
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY freq DESC, token) AS rn
          FROM tf)
    WHERE rn = 1
),
stats AS (
    SELECT doc_id, SUM(freq)::BIGINT AS n_tokens,
           COUNT(*)::BIGINT AS n_distinct_tokens
    FROM tf GROUP BY 1
)
SELECT s.doc_id, s.n_tokens, s.n_distinct_tokens, t.top_token, t.top_freq,
       t.top_freq::DOUBLE / s.n_tokens::DOUBLE AS repetition_ratio,
       s.n_distinct_tokens::DOUBLE / s.n_tokens::DOUBLE AS type_token_ratio
FROM stats s JOIN top t USING (doc_id)
ORDER BY s.doc_id
"""

def q50_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return corpus.tf_idf_topk(docs, k=3)


Q50_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, COUNT(*) AS term_freq FROM tok GROUP BY 1, 2
),
dfreq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
scored AS (
    SELECT tf.doc_id, tf.token, tf.term_freq, dfreq.doc_freq,
           round(tf.term_freq::DOUBLE
                 * ln((SELECT COUNT(*) FROM documents)::DOUBLE
                      / dfreq.doc_freq::DOUBLE), 6) AS tf_idf
    FROM tf JOIN dfreq USING (token)
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tf_idf DESC, token)::INT AS rank
    FROM scored
)
SELECT doc_id, rank, token, term_freq, doc_freq, tf_idf
FROM ranked
WHERE rank <= 3
ORDER BY doc_id, rank
"""

def q83_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule filter (Rae et al. 2021 §A1.1, adapted
    thresholds): per-rule boolean verdicts + the conjunctive pass flag a
    pretraining ingest pipeline gates on. Extends the reference's
    validators (transformers/data_transformer.py quality checks) from
    schema-level to content-level rules.

    Pure projection (zero shuffles): every signal is a Catalyst
    expression over the text column; ratios are computed identically in
    both engines (exact BIGINT folds, division in double) so the
    boolean thresholds are bit-stable."""
    docs = load_table(spark, "documents", sf_dir)
    tok = tokens("text")
    n_words = F.size(tok).cast("long")
    sum_word_len = F.aggregate(
        F.transform(tok, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_chars = F.length("text").cast("long")
    n_punct = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[^A-Za-z0-9 ]"), F.lit(0))
    ).cast("long")
    n_digits = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[0-9]"), F.lit(0))
    ).cast("long")
    n_stop = F.size(
        F.filter(tok, lambda t: F.lower(t).isin(EN_STOPWORDS))
    ).cast("long")
    n_distinct = F.size(F.array_distinct(tok)).cast("long")
    mean_word_len = sum_word_len.cast("double") / n_words.cast("double")
    symbol_word_ratio = n_punct.cast("double") / n_words.cast("double")
    digit_char_ratio = n_digits.cast("double") / n_chars.cast("double")
    distinct_ratio = n_distinct.cast("double") / n_words.cast("double")
    rules = {
        "rule_word_count": (n_words >= 10) & (n_words <= 2000),
        "rule_mean_word_len": (mean_word_len >= 2.0) & (mean_word_len <= 12.0),
        "rule_symbol_ratio": symbol_word_ratio <= 0.5,
        "rule_digit_ratio": digit_char_ratio <= 0.2,
        "rule_stopwords": n_stop >= 2,
        "rule_lexical_diversity": distinct_ratio >= 0.3,
    }
    passes = None
    for c in rules.values():
        passes = c if passes is None else (passes & c)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        digit_char_ratio.alias("digit_char_ratio"),
        n_stop.alias("n_stopwords"),
        distinct_ratio.alias("distinct_ratio"),
        *[c.alias(name) for name, c in rules.items()],
        passes.alias("passes_quality"),
    ).orderBy("doc_id")


_STOPLIST_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

Q83_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           string_split_regex(trim(text), ' +') AS tok,
           length(text)::BIGINT AS n_chars,
           len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::BIGINT AS n_punct,
           len(regexp_extract_all(text, '[0-9]'))::BIGINT AS n_digits
    FROM documents
),
s AS (
    SELECT doc_id,
           len(tok)::BIGINT AS n_words,
           list_reduce(list_concat([0::BIGINT],
               list_transform(tok, x -> length(x)::BIGINT)),
               (acc, x) -> acc + x) AS sum_word_len,
           n_chars, n_punct, n_digits,
           len(list_filter(tok, x -> lower(x) IN ({_STOPLIST_SQL})))::BIGINT
               AS n_stopwords,
           len(list_distinct(tok))::BIGINT AS n_distinct
    FROM t
),
r AS (
    SELECT doc_id, n_words,
           sum_word_len::DOUBLE / n_words::DOUBLE AS mean_word_len,
           n_punct::DOUBLE / n_words::DOUBLE AS symbol_word_ratio,
           n_digits::DOUBLE / n_chars::DOUBLE AS digit_char_ratio,
           n_stopwords,
           n_distinct::DOUBLE / n_words::DOUBLE AS distinct_ratio
    FROM s
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, digit_char_ratio,
       n_stopwords, distinct_ratio,
       (n_words >= 10 AND n_words <= 2000) AS rule_word_count,
       (mean_word_len >= 2.0 AND mean_word_len <= 12.0) AS rule_mean_word_len,
       (symbol_word_ratio <= 0.5) AS rule_symbol_ratio,
       (digit_char_ratio <= 0.2) AS rule_digit_ratio,
       (n_stopwords >= 2) AS rule_stopwords,
       (distinct_ratio >= 0.3) AS rule_lexical_diversity,
       ((n_words >= 10 AND n_words <= 2000)
        AND (mean_word_len >= 2.0 AND mean_word_len <= 12.0)
        AND (symbol_word_ratio <= 0.5)
        AND (digit_char_ratio <= 0.2)
        AND (n_stopwords >= 2)
        AND (distinct_ratio >= 0.3)) AS passes_quality
FROM r
ORDER BY doc_id
"""


def q84_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated n-gram fraction (MassiveText quality filters, Rae et
    al. 2021 §A1.1; RefinedWeb carries the same family): 1 − distinct/
    total over word 2-grams and 3-grams — the standard boilerplate /
    template-spam signal a pretraining filter thresholds on. Pure
    per-row projection: the n-gram arrays are built and reduced inside
    one expression, never exploded. Repartitioned at entry — the
    testdata parquet is a single row group and the interpreted gram
    lambdas are CPU-heavy, so without it ONE task runs the whole
    corpus (9.8s -> ~1s at sf0.001; a real multi-file corpus scan
    parallelizes by itself)."""
    docs = load_table(spark, "documents", sf_dir)
    para = spark.sparkContext.defaultParallelism
    out = docs.select("doc_id", "text").repartition(para)
    for n in (2, 3):
        grams = word_ngrams("text", n)
        total = F.size(grams).cast("long")
        distinct = F.size(F.array_distinct(grams)).cast("long")
        frac = F.when(
            total > 0,
            F.lit(1.0) - distinct.cast("double") / total.cast("double"),
        ).otherwise(F.lit(0.0))
        out = (
            out.withColumn(f"n_{n}grams", total)
            .withColumn(f"n_distinct_{n}grams", distinct)
            .withColumn(f"dup_{n}gram_frac", frac)
        )
    return out.drop("text").orderBy("doc_id")


Q84_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS tok
    FROM documents
),
g AS (
    SELECT doc_id,
           CASE WHEN len(tok) >= 2 THEN
               list_transform(generate_series(1, len(tok) - 1),
                              i -> tok[i] || ' ' || tok[i + 1])
           ELSE [] END AS g2,
           CASE WHEN len(tok) >= 3 THEN
               list_transform(generate_series(1, len(tok) - 2),
                              i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2])
           ELSE [] END AS g3
    FROM t
)
SELECT doc_id,
       len(g2)::BIGINT AS n_2grams,
       len(list_distinct(g2))::BIGINT AS n_distinct_2grams,
       CASE WHEN len(g2) > 0
            THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2)::DOUBLE
            ELSE 0.0 END AS dup_2gram_frac,
       len(g3)::BIGINT AS n_3grams,
       len(list_distinct(g3))::BIGINT AS n_distinct_3grams,
       CASE WHEN len(g3) > 0
            THEN 1.0 - len(list_distinct(g3))::DOUBLE / len(g3)::DOUBLE
            ELSE 0.0 END AS dup_3gram_frac
FROM g
ORDER BY doc_id
"""


def q85_crossdoc_ngram_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring duplication scan (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499, suffix-array method approximated at word-8-gram
    granularity): for every document, the fraction of its word 8-grams
    that also occur in at least one OTHER document — the per-doc signal
    an exact-substring dedup pipeline thresholds on before cutting.

    Scale shape: one posexplode (rows = total tokens, linear), one
    groupBy on the gram key with a map-side partial countDistinct, one
    join back, one per-doc aggregate — the canonical inverted-index
    shape. At 100 TB the gram JOIN KEY would be xxhash64(gram) to keep
    the shuffle narrow (collision odds ~N^2/2^64 are acceptable for a
    filter signal); the string key is kept here so the DuckDB oracle
    replays exactly. The retired hashed-key scale twin reads with
    ``git show 44b50ce:etl_data_warehouse_spark/plans/text_quality.py``.
    """
    docs = load_table(spark, "documents", sf_dir)
    return crossdoc_ngram_dup(docs)


def crossdoc_ngram_dup(docs: DataFrame) -> DataFrame:
    """q85's body over an arbitrary (doc_id, text) frame."""
    para = docs.sparkSession.sparkContext.defaultParallelism
    grams = (
        docs.repartition(para, "doc_id")
        .select("doc_id", F.explode(word_ngrams("text", 8)).alias("gram"))
        .localCheckpoint()
    )
    doc_freq = grams.groupBy("gram").agg(
        F.count_distinct("doc_id").alias("doc_freq")
    )
    per_doc = (
        grams.join(doc_freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_8grams"),
            F.sum((F.col("doc_freq") >= 2).cast("long")).alias(
                "n_dup_8grams"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_8grams", F.lit(0)).alias("n_8grams"),
            F.coalesce("n_dup_8grams", F.lit(0)).alias("n_dup_8grams"),
            F.when(
                F.coalesce("n_8grams", F.lit(0)) > 0,
                F.col("n_dup_8grams").cast("double")
                / F.col("n_8grams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_8gram_frac"),
        )
        .orderBy("doc_id")
    )


Q85_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS tok
    FROM documents
),
grams AS (
    SELECT doc_id, unnest(
        CASE WHEN len(tok) >= 8 THEN
            list_transform(generate_series(1, len(tok) - 7),
                i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' '
                     || tok[i+3] || ' ' || tok[i+4] || ' ' || tok[i+5]
                     || ' ' || tok[i+6] || ' ' || tok[i+7])
        ELSE [] END) AS gram
    FROM t
),
doc_freq AS (
    SELECT gram, COUNT(DISTINCT doc_id) AS doc_freq FROM grams GROUP BY 1
),
per_doc AS (
    SELECT g.doc_id,
           COUNT(*)::BIGINT AS n_8grams,
           SUM((f.doc_freq >= 2)::BIGINT)::BIGINT AS n_dup_8grams
    FROM grams g JOIN doc_freq f USING (gram)
    GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(p.n_8grams, 0) AS n_8grams,
       COALESCE(p.n_dup_8grams, 0) AS n_dup_8grams,
       CASE WHEN COALESCE(p.n_8grams, 0) > 0
            THEN p.n_dup_8grams::DOUBLE / p.n_8grams::DOUBLE
            ELSE 0.0 END AS dup_8gram_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


def q95_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup as a TRANSFORM (Lee et al. 2021,
    arXiv:2107.06499, §3 ExactSubstr): q85 measures the cross-document
    duplication signal; this query applies the cut — every token
    position covered by a word 8-gram that also occurs in at least one
    OTHER document is removed, and the surviving tokens are re-joined
    into the cleaned training text (whitespace-normalized; the
    reference pipeline's dedup is a whole-row drop_duplicates,
    reference: transformers/data_transformer.py:39 — span-level
    removal is the training-data extension).

    Scale shape: the q85 inverted index (posexplode → gram groupBy with
    map-side partial count_distinct → join back), plus an 8× position
    fan-out for covered spans, an anti-join on (doc_id, pos), and a
    per-doc rebuild whose memory is bounded by one document's token
    count. All shuffles are linear in corpus token count; at 100 TB the
    gram join key becomes xxhash64(gram) exactly as documented on q85.
    """
    docs = load_table(spark, "documents", sf_dir)
    return remove_dup_spans(docs)


def _token_grams(docs: DataFrame):
    """Shared span machinery: (tok, grams) for a (doc_id, text) frame —
    the token-array Exchange plus the positioned word-8-gram explode."""
    para = docs.sparkSession.sparkContext.defaultParallelism
    # Project the token array BEFORE the repartition: the Exchange both
    # acts as the CollapseProject optimizer barrier (see CLAUDE.md /
    # hashed_shingles) and — via ReuseExchange — materializes the split
    # ONCE per execution for all three downstream consumers, with zero
    # block-manager-resident state. The earlier localCheckpoint version
    # pinned ~5 GB of token+gram blocks at 10^6 docs and OOM'd the 8 GB
    # local-mode heap; shuffle files spill to disk instead.
    tok = docs.select("doc_id", tokens("text").alias("tok")).repartition(
        para, "doc_id"
    )
    gram_arr = F.when(
        F.size("tok") >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size("tok") - 7),
            lambda i: F.concat_ws(
                " ",
                *[F.element_at("tok", i + F.lit(k)) for k in range(8)],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = tok.select(
        "doc_id", F.posexplode(gram_arr).alias("pos", "gram")
    )
    return tok, grams


def _cut_spans(tok: DataFrame, grams: DataFrame, banned: DataFrame) -> DataFrame:
    """Remove every token position covered by an 8-gram whose key is in
    ``banned`` (a 1-column ``gram`` frame); rebuild the surviving text."""
    covered = (
        grams.join(banned, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + 7)
            ).alias("p"),
        )
        .distinct()
    )
    toks = tok.select("doc_id", F.posexplode("tok").alias("p", "w"))
    rebuilt = (
        toks.join(covered, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return (
        tok.select("doc_id", F.size("tok").cast("long").alias("n_tokens"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("n_tokens")
                - F.coalesce("n_kept", F.lit(0)).cast("long")
            ).alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


def remove_dup_spans(docs: DataFrame) -> DataFrame:
    """Core of q95 over any (doc_id, text) frame — see q95 docstring.
    The string gram key is what the DuckDB oracle replays bit-exactly."""
    tok, grams = _token_grams(docs)
    # no checkpoint: both gram consumers re-explode from the reused
    # token Exchange (cheap CPU, no resident blocks — the 1M shape)
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("doc_freq"))
        .filter(F.col("doc_freq") >= 2)
        .select("gram")
    )
    return _cut_spans(tok, grams, dup_grams)


def decontaminate_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
) -> DataFrame:
    """Eval-set decontamination as a TRANSFORM: remove from ``docs``
    every token position covered by a word 8-gram that occurs ANYWHERE
    in ``eval_docs`` (the benchmark/eval set), and rebuild the cleaned
    training text — q46 measures the leakage, this applies the q95
    span-cut against it, so written shards can be proven free of eval
    n-grams (the GPT-3/PaLM-style n-gram decontamination policy).

    Scale shape: the banned set is the eval corpus's distinct grams —
    benchmark-sized, so it is BROADCAST and the train-side cut needs no
    extra shuffle beyond q95's machinery (one token Exchange, gram
    explode, position anti-join, per-doc rebuild)."""
    tok, grams = _token_grams(docs)
    _etok, egrams = _token_grams(eval_docs)
    banned = F.broadcast(egrams.select("gram").distinct())
    return _cut_spans(tok, grams, banned)


Q95_ORACLE = """
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS tok
    FROM documents
),
grams AS (
    SELECT doc_id,
           unnest(CASE WHEN len(tok) >= 8
               THEN generate_series(1, len(tok) - 7) ELSE [] END) - 1
               AS pos,
           unnest(CASE WHEN len(tok) >= 8 THEN
               list_transform(generate_series(1, len(tok) - 7),
                   i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
                        || ' ' || tok[i+3] || ' ' || tok[i+4] || ' '
                        || tok[i+5] || ' ' || tok[i+6] || ' '
                        || tok[i+7])
           ELSE [] END) AS gram
    FROM t
),
dup_grams AS (
    SELECT gram FROM grams GROUP BY gram
    HAVING COUNT(DISTINCT doc_id) >= 2
),
covered AS (
    SELECT DISTINCT doc_id, p FROM (
        SELECT g.doc_id,
               unnest(generate_series(g.pos, g.pos + 7)) AS p
        FROM grams g JOIN dup_grams USING (gram)
    )
),
toks AS (
    SELECT doc_id,
           unnest(generate_series(1, len(tok))) - 1 AS p,
           unnest(tok) AS w
    FROM t
),
rebuilt AS (
    SELECT k.doc_id,
           COUNT(*)::BIGINT AS n_kept,
           string_agg(k.w, ' ' ORDER BY k.p) AS clean_text
    FROM toks k ANTI JOIN covered c USING (doc_id, p)
    GROUP BY k.doc_id
)
SELECT t.doc_id,
       len(t.tok)::BIGINT AS n_tokens,
       (len(t.tok) - COALESCE(r.n_kept, 0))::BIGINT AS n_removed,
       COALESCE(r.clean_text, '') AS clean_text
FROM t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY t.doc_id
"""


def q104_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/corpus.py
    lm_perplexity_score): unigram LM trained on the doc_id % 5 == 0
    reference slice, every document scored by average token NLL and
    ntiled into 3 quality buckets."""
    docs = load_table(spark, "documents", sf_dir)
    train = docs.filter(F.col("doc_id") % 5 == 0)
    return corpus.lm_perplexity_score(docs, train, buckets=3)


Q104_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS token
    FROM documents
),
train_tok AS (SELECT token FROM tok WHERE doc_id % 5 = 0),
model AS (SELECT token, COUNT(*)::BIGINT AS cnt FROM train_tok GROUP BY 1),
consts AS (
    SELECT (COUNT(*) + COUNT(DISTINCT token) + 1)::DOUBLE AS denom
    FROM train_tok
),
scored AS (
    SELECT t.doc_id,
           CAST(round(ln((COALESCE(m.cnt, 0) + 1)::DOUBLE / c.denom), 9)
                AS DECIMAL(18,9)) AS logp,
           CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END AS oov
    FROM tok t LEFT JOIN model m USING (token), consts c
),
per_doc AS (
    SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
           SUM(oov)::BIGINT AS oov_tokens,
           round(-(CAST(SUM(logp) AS DOUBLE)) / COUNT(*)::DOUBLE, 6)
             AS avg_nll
    FROM scored GROUP BY doc_id
)
SELECT doc_id, n_tokens, oov_tokens, avg_nll,
       ntile(3) OVER (ORDER BY avg_nll, doc_id)::INT AS quality_bucket
FROM per_doc
ORDER BY doc_id
"""


QUERIES = {
    "q48_pii_scrub": q48_pii_scrub,
    "q49_repetition_stats": q49_repetition_stats,
    "q50_tfidf_topk": q50_tfidf_topk,
    "q83_quality_rules": q83_quality_rules,
    "q84_ngram_repetition": q84_ngram_repetition,
    "q85_crossdoc_ngram_dup": q85_crossdoc_ngram_dup,
    "q95_dup_span_removal": q95_dup_span_removal,
    "q104_lm_perplexity": q104_lm_perplexity,
}

ORACLES = {
    "q48_pii_scrub": Q48_ORACLE,
    "q49_repetition_stats": Q49_ORACLE,
    "q50_tfidf_topk": Q50_ORACLE,
    "q83_quality_rules": Q83_ORACLE,
    "q84_ngram_repetition": Q84_ORACLE,
    "q85_crossdoc_ngram_dup": Q85_ORACLE,
    "q95_dup_span_removal": Q95_ORACLE,
    "q104_lm_perplexity": Q104_ORACLE,
}


def q111_source_dup_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication health report: docs, distinct contents,
    duplicate rate and the largest duplicate cluster — the dashboard a
    corpus operator reads before deciding which feed to throttle.
    One shuffle on (source, fingerprint), then a source-grain rollup."""
    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select(
        "source",
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("fingerprint"),
    )
    groups = fp.groupBy("source", "fingerprint").agg(
        F.count("*").cast("long").alias("n")
    )
    return (
        groups.groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.max("n").cast("bigint").alias("max_cluster"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            "max_cluster",
            (
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


Q111_ORACLE = """
WITH fp AS (
    SELECT source, doc_id, md5(lower(trim(text))) AS fingerprint
    FROM documents
),
groups AS (
    SELECT source, fingerprint, COUNT(*)::BIGINT AS n
    FROM fp GROUP BY source, fingerprint
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*)::BIGINT AS n_distinct,
       CAST(MAX(n) AS BIGINT) AS max_cluster,
       (SUM(n) - COUNT(*))::DOUBLE / SUM(n)::DOUBLE AS dup_rate
FROM groups
GROUP BY source
ORDER BY source
"""


def q112_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct word-8-grams they SHARE — the between-feed overlap
    report (is src3 scraping the same sites as src7?). Self-join on
    the gram restricted to per-(source, gram) DISTINCT rows, so cost
    is O(shared grams x pairs-per-gram), never O(docs²); the pair
    ordering (a < b) halves the matrix. At 100 TB hash the gram to a
    64-bit key first (the q85 scaling note applies verbatim)."""
    docs = load_table(spark, "documents", sf_dir)
    g = (
        docs.select(
            "source", F.explode(word_ngrams("text", 8)).alias("gram")
        )
        .distinct()
    )
    a = g.select(F.col("source").alias("src_a"), "gram")
    b = g.select(F.col("source").alias("src_b"), "gram")
    return (
        a.join(b, "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("shared_8grams"))
        .orderBy(F.desc("shared_8grams"), "src_a", "src_b")
    )


Q112_ORACLE = """
WITH t AS (
    SELECT source, string_split_regex(trim(text), ' +') AS tok
    FROM documents
),
g AS (
    SELECT DISTINCT source, unnest(
        CASE WHEN len(tok) >= 8 THEN
            list_transform(generate_series(1, len(tok) - 7),
                i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' '
                     || tok[i+3] || ' ' || tok[i+4] || ' ' || tok[i+5]
                     || ' ' || tok[i+6] || ' ' || tok[i+7])
        ELSE [] END) AS gram
    FROM t
)
SELECT a.source AS src_a, b.source AS src_b,
       COUNT(*)::BIGINT AS shared_8grams
FROM g a JOIN g b ON a.gram = b.gram
WHERE a.source < b.source
GROUP BY a.source, b.source
ORDER BY shared_8grams DESC, src_a, src_b
"""


QUERIES["q111_source_dup_profile"] = q111_source_dup_profile
ORACLES["q111_source_dup_profile"] = Q111_ORACLE
QUERIES["q112_cross_source_overlap"] = q112_cross_source_overlap
ORACLES["q112_cross_source_overlap"] = Q112_ORACLE


# --- q118: BPE merge-step pair counts ----------------------------------------

_BPE_TOP_PAIRS = 20


def q118_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training step over the corpus: adjacent-character-pair
    frequencies, weighted by word frequency — the argmax row is the
    first merge a byte-pair-encoding tokenizer would learn (Sennrich
    et al. 2016). Classic BPE trains on the word-frequency DICTIONARY,
    so the expensive char-pair explosion runs over distinct words
    (vocabulary-sized, ~10^6-10^7 even at 100 TB), not over the corpus:
    one corpus-scan word count, then pair extraction on the dictionary
    and a pair-level agg — two vocabulary-sized shuffles after the
    scan.

    Pair extraction is ``zip_with(slice(chars, 1, n-1),
    slice(chars, 2, n-1), concat)`` — element-wise over the array, no
    per-element ``element_at`` re-evaluation of the char split (the
    CollapseProject O(len^2) trap). All counts are BIGINT — hash-exact
    cross-engine with no float anywhere."""
    docs = load_table(spark, "documents", sf_dir)
    words = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("word_freq"))
    )
    chars = F.regexp_extract_all(F.col("word"), F.lit("."), F.lit(0))
    n = F.size(chars)
    pair_col = F.zip_with(
        F.slice(chars, F.lit(1), n - 1),
        F.slice(chars, F.lit(2), n - 1),
        lambda a, b: F.concat(a, b),
    )
    agg = (
        words.select("word_freq", F.explode(pair_col).alias("pair"))
        .groupBy("pair")
        .agg(
            F.sum("word_freq").alias("pair_count"),
            F.count("*").cast("long").alias("n_vocab_occurrences"),
        )
    )
    w = Window.orderBy(F.col("pair_count").desc(), "pair")
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BPE_TOP_PAIRS)
        .select("rank", "pair", "pair_count", "n_vocab_occurrences")
        .orderBy("rank")
    )


Q118_ORACLE = f"""
WITH w AS (
    SELECT word, COUNT(*)::BIGINT AS word_freq
    FROM (
        SELECT unnest(string_split_regex(trim(text), ' +')) AS word
        FROM documents)
    WHERE len(word) >= 2
    GROUP BY word
),
ch AS (
    SELECT word_freq, regexp_extract_all(word, '.') AS chars FROM w
),
p AS (
    SELECT word_freq,
           unnest(list_transform(
               generate_series(1, len(chars) - 1),
               i -> chars[i] || chars[i + 1])) AS pair
    FROM ch
),
agg AS (
    SELECT pair, SUM(word_freq)::BIGINT AS pair_count,
           COUNT(*)::BIGINT AS n_vocab_occurrences
    FROM p GROUP BY pair
),
ranked AS (
    SELECT *, row_number() OVER (
        ORDER BY pair_count DESC, pair)::INT AS rank
    FROM agg
)
SELECT rank, pair, pair_count, n_vocab_occurrences
FROM ranked
WHERE rank <= {_BPE_TOP_PAIRS}
ORDER BY rank
"""

QUERIES["q118_bpe_pair_counts"] = q118_bpe_pair_counts
ORACLES["q118_bpe_pair_counts"] = Q118_ORACLE


# --- q131: iterated BPE trainer (first K merges) ------------------------------

_BPE_TRAIN_STEPS = 4


def q131_bpe_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first K merges an iterated BPE trainer learns on the corpus
    (operators/bpe.py — q118's merge step looped with deterministic
    tiebreaks). Each iteration is vocabulary-sized: a pair aggregate, a
    1-row argmax collect, and a projection-only merge fold; the oracle
    unrolls the SAME K iterations as DuckDB CTEs (the q106 CTE-unroll
    trick), applying each merge with a delimiter-safe list_reduce
    string fold — hash equality proves pair counts, argmax tiebreaks,
    AND the leftmost-greedy merge application all agree engine-to-
    engine at every step."""
    from ..operators import bpe

    docs = load_table(spark, "documents", sf_dir)
    merges = bpe.train_bpe(docs, _BPE_TRAIN_STEPS)
    return bpe.merges_df(spark, merges).orderBy("step")


def _bpe_train_oracle(steps: int) -> str:
    """DuckDB twin of q131: K trainer iterations unrolled as CTEs.

    Merge application is a list_reduce fold over the symbol list
    building a chr(31)-delimited string: fuse when the accumulator's
    LAST symbol equals the merge left and the incoming symbol equals
    the merge right (delimiter never occurs in corpus text, so
    ends_with(acc, d || left) tests exact last-symbol equality);
    leftmost-greedy falls out of the fold exactly as in
    operators/bpe.py's array fold."""
    d = "chr(31)"
    parts = [
        """w AS (
    SELECT word, COUNT(*)::BIGINT AS word_freq
    FROM (
        SELECT unnest(string_split_regex(trim(text), ' +')) AS word
        FROM documents)
    WHERE len(word) >= 2
    GROUP BY word
)""",
        """s0 AS (
    SELECT word_freq, regexp_extract_all(word, '.') AS symbols FROM w
)""",
    ]
    for i in range(steps):
        parts.append(f"""p{i} AS (
    SELECT s.word_freq,
           s.symbols[t.i] AS "left", s.symbols[t.i + 1] AS "right"
    FROM s{i} s, unnest(generate_series(1, len(s.symbols) - 1)) AS t(i)
    WHERE len(s.symbols) >= 2
)""")
        parts.append(f"""m{i} AS (
    SELECT {i}::INT AS step, "left", "right",
           SUM(word_freq)::BIGINT AS pair_count
    FROM p{i}
    GROUP BY "left", "right"
    ORDER BY pair_count DESC, "left", "right"
    LIMIT 1
)""")
        if i < steps - 1:
            parts.append(f"""s{i + 1} AS (
    SELECT s.word_freq,
           string_split(
               list_reduce(s.symbols, (acc, x) -> CASE
                   WHEN (acc = m."left"
                         OR ends_with(acc, {d} || m."left"))
                        AND x = m."right"
                   THEN acc || m."right"
                   ELSE acc || {d} || x END),
               {d}) AS symbols
    FROM s{i} s, m{i} m
)""")
    union = "\nUNION ALL\n".join(
        f'SELECT step, "left", "right", pair_count FROM m{i}'
        for i in range(steps)
    )
    return (
        "WITH " + ",\n".join(parts) + "\nSELECT * FROM (\n" + union
        + "\n) ORDER BY step"
    )


Q131_ORACLE = _bpe_train_oracle(_BPE_TRAIN_STEPS)

QUERIES["q131_bpe_train_steps"] = q131_bpe_train_steps
ORACLES["q131_bpe_train_steps"] = Q131_ORACLE


# --- q128: eval-set decontamination transform --------------------------------


def q128_eval_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontaminate the TRAIN split against the TEST split's 8-grams
    (q43's deterministic md5 split: bucket < 80 trains, >= 90 is the
    held-out eval set): every train-side token position covered by an
    8-gram that appears anywhere in the eval set is cut and the
    surviving text rebuilt (decontaminate_spans — the q95 span-cut
    pointed at a benchmark set instead of the dup index). The eval
    gram set is benchmark-sized and broadcast; the pipeline twin runs
    this stage before shard writing (plans/corpus_pipeline.py)."""
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, "documents", sf_dir)
    bucket = hash_bucket(F.col("doc_id").cast("string"), "split", 100)
    train = docs.filter(bucket < 80).select("doc_id", "text")
    evals = docs.filter(bucket >= 90).select("doc_id", "text")
    return decontaminate_spans(train, evals)


_Q128_SPLIT_B = (
    "(('0x' || substring(md5('split' || doc_id::VARCHAR), 1, 8))::BIGINT"
    " % 100)"
)

Q128_ORACLE = f"""
WITH train AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS tok
    FROM documents WHERE {_Q128_SPLIT_B} < 80
),
ev AS (
    SELECT doc_id, string_split_regex(trim(text), ' +') AS tok
    FROM documents WHERE {_Q128_SPLIT_B} >= 90
),
banned AS (
    SELECT DISTINCT unnest(CASE WHEN len(tok) >= 8 THEN
        list_transform(generate_series(1, len(tok) - 7),
            i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] || ' '
                 || tok[i+3] || ' ' || tok[i+4] || ' ' || tok[i+5]
                 || ' ' || tok[i+6] || ' ' || tok[i+7])
    ELSE [] END) AS gram
    FROM ev
),
grams AS (
    SELECT doc_id,
           unnest(CASE WHEN len(tok) >= 8
               THEN generate_series(1, len(tok) - 7) ELSE [] END) - 1
               AS pos,
           unnest(CASE WHEN len(tok) >= 8 THEN
               list_transform(generate_series(1, len(tok) - 7),
                   i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]
                        || ' ' || tok[i+3] || ' ' || tok[i+4] || ' '
                        || tok[i+5] || ' ' || tok[i+6] || ' '
                        || tok[i+7])
           ELSE [] END) AS gram
    FROM train
),
covered AS (
    SELECT DISTINCT doc_id, p FROM (
        SELECT g.doc_id,
               unnest(generate_series(g.pos, g.pos + 7)) AS p
        FROM grams g JOIN banned USING (gram)
    )
),
toks AS (
    SELECT doc_id,
           unnest(generate_series(1, len(tok))) - 1 AS p,
           unnest(tok) AS w
    FROM train
),
rebuilt AS (
    SELECT k.doc_id,
           COUNT(*)::BIGINT AS n_kept,
           string_agg(k.w, ' ' ORDER BY k.p) AS clean_text
    FROM toks k ANTI JOIN covered c USING (doc_id, p)
    GROUP BY k.doc_id
)
SELECT t.doc_id,
       len(t.tok)::BIGINT AS n_tokens,
       (len(t.tok) - COALESCE(r.n_kept, 0))::BIGINT AS n_removed,
       COALESCE(r.clean_text, '') AS clean_text
FROM train t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY t.doc_id
"""

QUERIES["q128_eval_decontamination"] = q128_eval_decontamination
ORACLES["q128_eval_decontamination"] = Q128_ORACLE


# --- q135: tokenizer application (encode the corpus with learned merges) -----


def q135_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the other half of q131's trainer: learn
    the first K merges, segment the word DICTIONARY with them
    (operators/bpe.segment_words — vocabulary-sized, the only rows the
    fold ever touches), then join the per-word subword count back to
    the corpus tokens and report per-source fertility under the
    LEARNED tokenizer (q124's report presupposes a trained tokenizer;
    this produces it end-to-end). Words shorter than 2 chars are not
    in the dictionary and encode to 1 symbol by definition (coalesce).

    Scale shape: encoding cost is dictionary-sized (the fold runs per
    DISTINCT word, ~10^6-10^7 rows at 100 TB), corpus-side work is one
    explode + one broadcast join + one source-grain agg — the corpus
    never re-tokenizes per merge. Hash equality proves the trained
    merges AND their application agree engine-to-engine (the oracle
    re-learns the same K merges as unrolled CTEs and re-applies them
    with the delimiter-safe list_reduce fold)."""
    from ..operators import bpe

    docs = load_table(spark, "documents", sf_dir)
    merges = bpe.train_bpe(docs, _BPE_TRAIN_STEPS)
    seg = bpe.segment_words(bpe.word_freq_dictionary(docs), merges)
    vocab = seg.select(
        "word", F.size("symbols").cast("long").alias("n_subwords")
    )
    toks = docs.select(
        "doc_id", "source", F.explode(tokens("text")).alias("word")
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("word_tokens"),
            F.sum(
                F.coalesce(F.col("n_subwords"), F.lit(1).cast("long"))
            )
            .cast("long")
            .alias("subword_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "word_tokens",
            "subword_tokens",
            (
                F.col("subword_tokens").cast("double")
                / F.col("word_tokens").cast("double")
            ).alias("fertility"),
        )
        .orderBy("source")
    )


def _bpe_encode_oracle(steps: int) -> str:
    """DuckDB twin of q135: the q131 trainer CTEs carrying ``word``
    through every state, ALL K merges applied (the trainer oracle
    stops applying at K-1 because step K's counts don't need it), then
    the corpus-token join and per-source fertility report."""
    d = "chr(31)"
    parts = [
        """w AS (
    SELECT word, COUNT(*)::BIGINT AS word_freq
    FROM (
        SELECT unnest(string_split_regex(trim(text), ' +')) AS word
        FROM documents)
    WHERE len(word) >= 2
    GROUP BY word
)""",
        """s0 AS (
    SELECT word, word_freq, regexp_extract_all(word, '.') AS symbols
    FROM w
)""",
    ]
    for i in range(steps):
        parts.append(f"""p{i} AS (
    SELECT s.word_freq,
           s.symbols[t.i] AS "left", s.symbols[t.i + 1] AS "right"
    FROM s{i} s, unnest(generate_series(1, len(s.symbols) - 1)) AS t(i)
    WHERE len(s.symbols) >= 2
)""")
        parts.append(f"""m{i} AS (
    SELECT "left", "right"
    FROM p{i}
    GROUP BY "left", "right"
    ORDER BY SUM(word_freq) DESC, "left", "right"
    LIMIT 1
)""")
        parts.append(f"""s{i + 1} AS (
    SELECT s.word, s.word_freq,
           string_split(
               list_reduce(s.symbols, (acc, x) -> CASE
                   WHEN (acc = m."left"
                         OR ends_with(acc, {d} || m."left"))
                        AND x = m."right"
                   THEN acc || m."right"
                   ELSE acc || {d} || x END),
               {d}) AS symbols
    FROM s{i} s, m{i} m
)""")
    parts.append(f"""vocab AS (
    SELECT word, len(symbols)::BIGINT AS n_subwords FROM s{steps}
)""")
    parts.append("""toks AS (
    SELECT doc_id, source,
           unnest(string_split_regex(trim(text), ' +')) AS word
    FROM documents
)""")
    return (
        "WITH " + ",\n".join(parts) + """
SELECT t.source,
       COUNT(DISTINCT t.doc_id)::BIGINT AS n_docs,
       COUNT(*)::BIGINT AS word_tokens,
       SUM(COALESCE(v.n_subwords, 1))::BIGINT AS subword_tokens,
       SUM(COALESCE(v.n_subwords, 1))::BIGINT::DOUBLE / COUNT(*)::DOUBLE
           AS fertility
FROM toks t LEFT JOIN vocab v USING (word)
GROUP BY t.source
ORDER BY t.source
"""
    )


Q135_ORACLE = _bpe_encode_oracle(_BPE_TRAIN_STEPS)

QUERIES["q135_bpe_encode"] = q135_bpe_encode
ORACLES["q135_bpe_encode"] = Q135_ORACLE


# --- q146: readability scoring in fixed-point --------------------------------


def q146_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring in BIGINT milli-units — the classic
    corpus-quality signal (easy text up-weighted for early curriculum,
    q121's natural companion), engine-portable by the q106 fixed-point
    rule: flesch_milli = 206835 - (1015*words) div sentences -
    (84600*syllables) div words, all counts from regex/token
    primitives both engines share (sentences = '[.!?]+' group count,
    syllables approximated as '[aeiouy]+' vowel-group count over the
    lowercased text — the standard cheap approximation; Flesch
    variants differ on syllabification anyway, so the CONTRACT is the
    pinned integer formula, not a dictionary syllabifier). Truncating
    integer division is identical both engines on positive counts.

    Zero-shuffle doc-grain projection (no lambda higher-order
    functions — the syllable count is ONE regex over the text, not a
    per-word fold); banding at 60/30 gives the curriculum tiers.

    Reference scope: extends the reference's length/null text checks
    (reference: transformers/data_transformer.py) with the readability
    axis; brief extension (quality scoring)."""
    docs = load_table(spark, "documents", sf_dir)
    n_words = token_count("text").cast("long")
    n_sentences = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count("text", F.lit(r"[.!?]+")).cast("long"),
    )
    n_syllables = F.greatest(
        F.lit(1).cast("long"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("long"),
    )
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    ).filter(F.col("n_words") >= 1)
    flesch = (
        F.lit(206835).cast("long")
        - F.expr("(1015 * n_words) div n_sentences")
        - F.expr("(84600 * n_syllables) div n_words")
    ).cast("long")
    return (
        base.withColumn("flesch_milli", flesch)
        .withColumn(
            "band",
            F.when(F.col("flesch_milli") >= 60000, "easy")
            .when(F.col("flesch_milli") >= 30000, "medium")
            .otherwise("hard"),
        )
        .orderBy("doc_id")
    )


Q146_ORACLE = """
WITH base AS (
    SELECT doc_id,
           len(string_split_regex(trim(text), ' +'))::BIGINT AS n_words,
           greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT
               AS n_sentences,
           greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))
               ::BIGINT AS n_syllables
    FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       (206835 - ((1015 * n_words) // n_sentences)
               - ((84600 * n_syllables) // n_words))::BIGINT
           AS flesch_milli,
       CASE WHEN (206835 - ((1015 * n_words) // n_sentences)
                         - ((84600 * n_syllables) // n_words)) >= 60000
            THEN 'easy'
            WHEN (206835 - ((1015 * n_words) // n_sentences)
                         - ((84600 * n_syllables) // n_words)) >= 30000
            THEN 'medium'
            ELSE 'hard' END AS band
FROM base
WHERE n_words >= 1
ORDER BY doc_id
"""

QUERIES["q146_readability"] = q146_readability
ORACLES["q146_readability"] = Q146_ORACLE
