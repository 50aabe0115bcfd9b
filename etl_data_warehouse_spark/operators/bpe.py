"""Iterative BPE tokenizer trainer over the word-frequency dictionary.

q118 computes ONE merge step's pair counts; this module loops it into
a trainer (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units"): per iteration, count adjacent symbol pairs
weighted by word frequency, pick the most frequent pair
(deterministic tiebreak: count desc, left asc, right asc), and merge
every leftmost non-overlapping occurrence across the vocabulary.

Scale shape: classic BPE trains on the word-frequency DICTIONARY, so
after the one corpus-scan word count every iteration is
vocabulary-sized (~10^6-10^7 distinct words even at 100 TB): one
pair-level aggregate + a 1-row argmax collect + one projection-only
merge pass. The merge fold and pair zip are higher-order functions —
interpreted, not codegen'd, which is fine at vocabulary grain (the
CLAUDE.md lambda rule targets corpus-grain hot paths). Lineage is
truncated per iteration with a vocab-sized localCheckpoint.

Persisted per-iteration state (the shards.py commit protocol): each
learned merge lands in ``state_path/step=N/`` with a ``_COMMITTED``
marker written after the parquet write. Training is deterministic, so
a crashed (uncommitted) step is simply re-learned by the resuming run
and overwritten with identical content; resume re-applies the committed
merge sequence to the freshly built dictionary and continues at max
committed step + 1.

Reference scope: the reference repo has no tokenizer training; this
extends its transform family (reference: transformers/
text_transformer.py tokenizes with str.split only) to the subword
case a pretraining pipeline needs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens

_COMMIT_MARKER = "_COMMITTED"

MERGE_SCHEMA = (
    "step INT, left STRING, right STRING, pair_count BIGINT"
)


def word_freq_dictionary(docs: DataFrame) -> DataFrame:
    """One corpus scan -> (word, word_freq), words of length >= 2
    (single-char words contain no pair and never influence training —
    identical to q118's dictionary)."""
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("word_freq"))
    )


def initial_bpe_state(words: DataFrame) -> DataFrame:
    """Dictionary + per-word symbol sequence, starting as characters."""
    return words.withColumn(
        "symbols",
        F.regexp_extract_all(F.col("word"), F.lit("."), F.lit(0)),
    )


def bpe_pair_counts(state: DataFrame) -> DataFrame:
    """(left, right, pair_count) over adjacent symbol pairs, weighted
    by word_freq. zip_with over two slices — element-wise, no
    per-element re-evaluation of the symbols column (the CollapseProject
    O(len^2) trap q118 documents)."""
    syms = F.col("symbols")
    n = F.size(syms)
    pairs = F.zip_with(
        F.slice(syms, F.lit(1), n - 1),
        F.slice(syms, F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )
    return (
        state.select("word_freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("word_freq").cast("long").alias("pair_count"))
    )


def top_pair(state: DataFrame):
    """Deterministic argmax merge candidate, or None when no pair is
    left: count desc, then (left, right) asc — the 1-row sanctioned
    collect per iteration."""
    rows = (
        bpe_pair_counts(state)
        .orderBy(F.col("pair_count").desc(), "left", "right")
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def apply_bpe_merge(state: DataFrame, left: str, right: str) -> DataFrame:
    """Merge every leftmost non-overlapping (left, right) adjacency:
    a left fold that either fuses the incoming symbol into the
    accumulator's tail or appends it. Overlaps resolve leftmost-first
    by construction — after a fuse the tail is ``left||right``, which
    can no longer match ``left``."""
    merged = left + right
    new_syms = F.aggregate(
        F.col("symbols"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return state.withColumn("symbols", new_syms)


def _committed_steps(state_path: str) -> list[int]:
    import re

    if not state_path or not os.path.isdir(state_path):
        return []
    out = []
    for d in os.listdir(state_path):
        m = re.fullmatch(r"step=(\d+)", d)
        if m and os.path.exists(
            os.path.join(state_path, d, _COMMIT_MARKER)
        ):
            out.append(int(m.group(1)))
    return sorted(out)


def load_merges(spark: SparkSession, state_path: str) -> list[dict]:
    """Committed merge sequence, step order."""
    steps = _committed_steps(state_path)
    if not steps:
        return []
    dirs = [f"{state_path}/step={s}" for s in steps]
    rows = (
        spark.read.option("basePath", state_path)
        .parquet(*dirs)
        .orderBy("step")
        .collect()
    )
    return [r.asDict() for r in rows]


def _persist_step(
    spark: SparkSession, state_path: str, row: dict
) -> None:
    step_dir = f"{state_path}/step={row['step']}"
    spark.createDataFrame(
        [(row["step"], row["left"], row["right"], row["pair_count"])],
        MERGE_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(step_dir)
    with open(os.path.join(step_dir, _COMMIT_MARKER), "w") as fh:
        fh.write("committed\n")


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    state_path: str | None = None,
) -> list[dict]:
    """Learn ``n_merges`` BPE merges; returns
    [{step, left, right, pair_count}, ...] in learn order.

    With ``state_path``, each learned merge commits to
    ``state_path/step=N`` and a later call RESUMES: committed merges
    are re-applied to the freshly built dictionary (replay — cheap,
    vocabulary-sized projections) and learning continues at the next
    step. Determinism makes the replay exact: same corpus + same
    committed prefix -> same continuation."""
    spark = docs.sparkSession
    state = initial_bpe_state(word_freq_dictionary(docs)).localCheckpoint()
    merges: list[dict] = []
    if state_path:
        merges = load_merges(spark, state_path)[:n_merges]
        for m in merges:
            state = apply_bpe_merge(state, m["left"], m["right"])
        if merges:
            state = state.localCheckpoint()
    while len(merges) < n_merges:
        best = top_pair(state)
        if best is None:
            break
        row = {
            "step": len(merges),
            "left": best["left"],
            "right": best["right"],
            "pair_count": best["pair_count"],
        }
        merges.append(row)
        if state_path:
            _persist_step(spark, state_path, row)
        state = apply_bpe_merge(
            state, row["left"], row["right"]
        ).localCheckpoint()
    return merges


def merges_df(spark: SparkSession, merges: list[dict]) -> DataFrame:
    return spark.createDataFrame(
        [
            (m["step"], m["left"], m["right"], m["pair_count"])
            for m in merges
        ],
        MERGE_SCHEMA,
    )


def bpe_vocabulary(state: DataFrame) -> DataFrame:
    """Symbol vocabulary of a trained state: (symbol, freq), the unit
    q124's fertility report presupposes."""
    return (
        state.select(
            "word_freq", F.explode(F.col("symbols")).alias("symbol")
        )
        .groupBy("symbol")
        .agg(F.sum("word_freq").cast("long").alias("freq"))
    )


def segment_words(
    words: DataFrame, merges: list[dict]
) -> DataFrame:
    """Apply a learned merge sequence to a word dictionary (tokenizer
    application): returns the dictionary with final ``symbols``."""
    state = initial_bpe_state(words)
    for m in merges:
        state = apply_bpe_merge(state, m["left"], m["right"])
    return state
