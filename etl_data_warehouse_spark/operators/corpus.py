"""Corpus-level statistics and hygiene for training-data prep.

- vocabulary top-k: term + document frequencies over the whole corpus —
  one explode + one agg shuffle on the token; the top-k itself is a
  TakeOrdered (per-partition heaps + driver merge of k rows), never a
  global sort.
- train/test contamination: fraction of a held-out document's word
  n-gram shingles that also occur anywhere in the train split — the
  standard benchmark-leakage check, as a shingle-level semi-join
  (shuffle on the shingle; bucket/broadcast by shingle hash at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens, word_shingles
from .sampling import train_test_split


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Top-k corpus vocabulary by term frequency (ties → token order):
    (rank, token, term_freq, doc_freq, df_ratio)."""
    para = docs.sparkSession.sparkContext.defaultParallelism
    n_docs = docs.count()
    tok = (
        docs.repartition(para, "doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("token"))
    )
    vocab = tok.groupBy("token").agg(
        F.count("*").alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    top = vocab.orderBy(F.desc("term_freq"), "token").limit(k)
    # rank over the k surviving rows only — driver-size window
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("term_freq"), "token")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "token",
        "term_freq",
        "doc_freq",
        (F.col("doc_freq").cast("double") / F.lit(float(n_docs))).alias(
            "df_ratio"
        ),
    ).orderBy("rank")


def tf_idf_topk(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k terms by tf-idf (idf = ln(N / doc_freq)).

    The score is rounded to 6dp IN BOTH ENGINES before ranking: Java's
    Math.log and DuckDB's ln may differ in the last ulp, and
    mathematically-tied scores (e.g. 2·ln4 vs 4·ln2) must compare equal
    so the (score DESC, token) tiebreak resolves identically
    (determinism playbook: round engine-divergent doubles both sides,
    never engine-identical ones).

    Scale: explode + (doc, token) agg; the doc-frequency table is
    vocabulary-sized — broadcast onto the tf rows; then one per-doc
    window. No global sorts.
    """
    from pyspark.sql import Window

    n_docs = docs.count()
    para = docs.sparkSession.sparkContext.defaultParallelism
    tok = docs.repartition(para, "doc_id").select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(
        F.count("*").alias("term_freq")
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("doc_freq"))
    scored = tf.join(F.broadcast(dfreq), "token").withColumn(
        "tf_idf",
        F.round(
            F.col("term_freq").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("doc_freq").cast("double")),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf_idf"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "token", "term_freq", "doc_freq", "tf_idf")
        .orderBy("doc_id", "rank")
    )


def contamination_check(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Benchmark-leakage scan: for every 'test'-split document, the
    fraction of its distinct word n-gram shingles that appear in ANY
    'train'-split document.

    Output: (doc_id, n_shingles, n_contaminated, contamination_ratio,
    is_contaminated), all test docs present (zero-shingle docs → 0.0).
    """
    split = train_test_split(docs, train_pct=train_pct, val_pct=val_pct)
    para = docs.sparkSession.sparkContext.defaultParallelism
    sh = (
        split.repartition(para, "doc_id")
        .select(
            "doc_id",
            "split",
            F.explode(word_shingles("text", n)).alias("shingle"),
        )
    )
    train_set = (
        sh.filter(F.col("split") == "train").select("shingle").distinct()
    )
    test_sh = sh.filter(F.col("split") == "test")
    sizes = test_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        test_sh.join(train_set, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    base = split.filter(F.col("split") == "test").select("doc_id")
    ratio = F.when(
        F.col("n_shingles") > 0,
        F.col("n_contaminated").cast("double")
        / F.col("n_shingles").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        base.join(sizes, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0).cast("long")).alias(
                "n_shingles"
            ),
            F.coalesce("n_contaminated", F.lit(0).cast("long")).alias(
                "n_contaminated"
            ),
        )
        .withColumn("contamination_ratio", ratio)
        .withColumn(
            "is_contaminated", F.col("contamination_ratio") >= threshold
        )
        .orderBy("doc_id")
    )


def lm_perplexity_score(
    docs: DataFrame,
    train_docs: DataFrame,
    buckets: int = 3,
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020):
    train a word-unigram LM with add-one smoothing on a reference slice,
    score every document by its average negative log-likelihood, and
    ntile the corpus into quality buckets (1 = most fluent, the
    head/middle/tail gating a pretraining pipeline keeps or drops).

    Determinism playbook: the ln() of the smoothed probability is
    engine-divergent in the last ulp, so each token's logp is rounded
    to 9dp and summed as DECIMAL(18,9) — exact, order-independent —
    then the per-doc mean is DOUBLE at the boundary, rounded 6dp (same
    policy as tf_idf_topk). OOV tokens get the uniform unseen mass
    1/(N+V+1), the same expression with count 0, so one coalesce covers
    both cases.

    Scale: one explode over the scored corpus + ONE broadcast join
    against the vocabulary-sized model + one doc-keyed agg — linear,
    no skew (the hot stopword keys ride the broadcast join). The
    closing ntile is a global window over doc-grain SCORES (not
    tokens); at 100 TB replace it with CASE against sampled quantile
    cutoffs — the scoring pipeline upstream is unchanged.

    The reference has no content-based quality scoring at all (its
    validators are schema-level, transformers/data_transformer.py);
    this is the brief's training-data extension.
    """
    from pyspark.sql import Window

    para = docs.sparkSession.sparkContext.defaultParallelism
    train_tok = train_docs.select(F.explode(tokens("text")).alias("token"))
    # localCheckpoint: the model is vocabulary-sized (the sanctioned
    # small-frame case) and has TWO consumers — the broadcast join and
    # the smoothing-denominator aggregate; without it each consumer
    # re-runs the training-slice scan+explode (3 explodes, now 1:
    # `git show b4f93cf:PLAN_AUDIT.json`). denom = N + V + 1 ==
    # sum(cnt) + count(*) + 1 over the model, so consts no longer needs
    # train_tok at all.
    model = (
        train_tok.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    consts = model.agg(
        (F.sum("cnt") + F.count("*") + F.lit(1))
        .cast("double")
        .alias("denom")
    )
    tok = docs.repartition(para, "doc_id").select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    logp = F.round(
        F.log(
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1)).cast("double")
            / F.col("denom")
        ),
        9,
    ).cast("decimal(18,9)")
    scored = (
        tok.join(F.broadcast(model), "token", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "doc_id",
            logp.alias("logp"),
            F.when(F.col("cnt").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("oov_tokens"),
        F.round(
            -(F.sum("logp").cast("double"))
            / F.count("*").cast("double"),
            6,
        ).alias("avg_nll"),
    )
    w = Window.orderBy("avg_nll", "doc_id")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "oov_tokens",
        "avg_nll",
        F.ntile(buckets).over(w).cast("int").alias("quality_bucket"),
    ).orderBy("doc_id")


def chunk_documents(
    docs: DataFrame, chunk_size: int = 16, stride: int = 12
) -> DataFrame:
    """Overlapping token chunks for context-window prep (q105): one row
    per (doc_id, chunk_idx) with the chunk text, token count and md5
    fingerprint (the chunk-level dedup key). Zero shuffles — tokenize +
    explode the offset sequence + slice are all projection-side, so at
    100 TB this runs at scan speed. Chunk identity is offset DIV stride
    (arithmetic both engines, no unnest-ordinal dependence)."""
    tok = tokens("text")
    d = docs.select("doc_id", tok.alias("tok")).select(
        "doc_id",
        "tok",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("tok") - 1, F.lit(0)),
                F.lit(stride),
            )
        ).alias("off"),
    )
    chunk = F.slice(F.col("tok"), F.col("off") + 1, chunk_size)
    text = F.array_join(chunk, " ")
    return d.select(
        "doc_id",
        F.expr(f"off div {stride}").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        text.alias("chunk_text"),
        F.md5(text).alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_idx")
