"""Property-based invariants via hypothesis — the randomized layer the
reference's test suite lacks (SURVEY.md §5 'superset' plan).

Strategy sizes are kept tiny: each example spins Spark jobs, so we trade
example count for breadth of generated edge cases (None fields, extreme
ratings, duplicate keys, empty strings)."""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_data_warehouse_spark.operators.transforms import (
    clean_orders,
    clean_reviews,
    dedup_first,
)

_ids = st.text(alphabet="abc123", min_size=1, max_size=4)

# tiny vocabulary so cross-doc shared word-8-grams actually occur
_doc_tokens = st.lists(
    st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=14
)
_corpora = st.lists(_doc_tokens, min_size=2, max_size=5)


def _ref_remove_dup_spans(texts: list[str]):
    """Pure-Python reference for remove_dup_spans (q95 core)."""
    import re

    toks = {d: re.split(" +", t.strip()) for d, t in enumerate(texts)}
    freq: dict[str, set[int]] = {}
    starts: dict[int, list[tuple[int, str]]] = {}
    for d, tk in toks.items():
        starts[d] = [
            (i, " ".join(tk[i : i + 8]))
            for i in range(max(len(tk) - 7, 0))
        ]
        for _, g in starts[d]:
            freq.setdefault(g, set()).add(d)
    dup = {g for g, s in freq.items() if len(s) >= 2}
    out = {}
    for d, tk in toks.items():
        covered = set()
        for i, g in starts[d]:
            if g in dup:
                covered.update(range(i, i + 8))
        kept = [w for p, w in enumerate(tk) if p not in covered]
        out[d] = (len(tk), len(tk) - len(kept), " ".join(kept))
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(corpus=_corpora)
def test_remove_dup_spans_matches_reference(spark_global, corpus):
    from etl_data_warehouse_spark.plans.text_quality import (
        remove_dup_spans,
    )

    texts = [" ".join(tk) for tk in corpus]
    docs = spark_global.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in remove_dup_spans(docs).collect()
    }
    assert got == _ref_remove_dup_spans(texts)

_order_rows = st.lists(
    st.tuples(
        _ids,                                        # order_id (dups likely)
        st.sampled_from(["C1", "C2", "C3"]),         # customer_id
        st.sampled_from(
            ["2024-01-01 10:00:00", "2024-02-03 11:30:00", None]
        ),                                           # order_date
        st.one_of(st.none(), st.integers(1, 20)),    # quantity
        st.floats(0.01, 500.0, allow_nan=False),     # unit_price
        st.one_of(st.none(), st.floats(0.0, 1e4, allow_nan=False)),  # total
        st.sampled_from(["completed", "PENDING", " Cancelled "]),    # status
    ),
    min_size=1,
    max_size=8,
)

_review_rows = st.lists(
    st.tuples(
        _ids,
        st.integers(-5, 12),                          # rating (out of range)
        st.one_of(st.none(), st.text(max_size=6)),    # review_text
        st.sampled_from(["2024-01-01T00:00:00", "2024-05-05T09:00:00"]),
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=_order_rows)
def test_clean_orders_invariants(spark_global, rows):
    df = spark_global.createDataFrame(
        rows,
        "order_id string, customer_id string, order_date string, "
        "quantity int, unit_price double, total_amount double, status string",
    )
    out = clean_orders(df).collect()
    ids = [r["order_id"] for r in out]
    assert len(ids) == len(set(ids))                       # dedup total
    for r in out:
        assert r["quantity"] is not None and r["quantity"] >= 1
        assert r["total_amount"] is not None
        assert r["status"] == r["status"].upper().strip()
        assert r["order_date"] is not None                 # bad dates dropped
        assert 0 <= r["order_weekday"] <= 6


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=_review_rows)
def test_clean_reviews_invariants(spark_global, rows):
    df = spark_global.createDataFrame(
        rows, "review_id string, rating int, review_text string, "
        "review_date string"
    )
    out = clean_reviews(df).collect()
    ids = [r["review_id"] for r in out]
    assert len(ids) == len(set(ids))
    for r in out:
        assert 1 <= r["rating"] <= 5                        # clamp
        assert r["review_text"] is not None                 # fill
        assert r["sentiment"] in {"negative", "neutral", "positive"}
        if r["rating"] <= 2:
            assert r["sentiment"] == "negative"
        elif r["rating"] == 3:
            assert r["sentiment"] == "neutral"
        else:
            assert r["sentiment"] == "positive"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(_ids, st.integers(0, 5)), min_size=1, max_size=10
    )
)
def test_dedup_first_is_deterministic_min(spark_global, rows):
    """dedup_first must keep exactly the row with the smallest order
    column per key (ties broken by the tiebreaker), independent of
    input order."""
    df = spark_global.createDataFrame(rows, "k string, v int")
    out = {r["k"]: r["v"] for r in dedup_first(df, "k", "v", "v").collect()}
    expected = {}
    for k, v in rows:
        expected[k] = min(expected.get(k, v), v)
    assert out == expected


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


_longs = st.lists(
    st.integers(min_value=0, max_value=10**12), min_size=1, max_size=12,
    unique=True,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ids=_longs)
def test_hash_split_is_a_stable_partition(spark_global, ids):
    """Every id gets exactly one split consistent with its bucket, and
    the assignment restricted to any subset equals the subset's own
    assignment (hash splits are corpus-growth-stable)."""
    from etl_data_warehouse_spark.operators.sampling import train_test_split

    df = spark_global.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = train_test_split(df).collect()
    assert len(rows) == len(ids)
    for r in rows:
        assert 0 <= r["split_bucket"] < 100
        expected = (
            "train"
            if r["split_bucket"] < 80
            else "val" if r["split_bucket"] < 90 else "test"
        )
        assert r["split"] == expected
    sub_ids = ids[:: 2]
    sub = {
        r["doc_id"]: r["split"]
        for r in train_test_split(
            spark_global.createDataFrame([(i,) for i in sub_ids], "doc_id long")
        ).collect()
    }
    full = {r["doc_id"]: r["split"] for r in rows}
    assert sub == {i: full[i] for i in sub_ids}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 10**6),                  # doc_id
            st.integers(1, 40),                     # n words
            st.sampled_from(["s0", "s1", "s2"]),    # shard
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda t: t[0],
    )
)
def test_sequence_packing_prefix_sum(spark_global, docs):
    """chunk_offset is exactly the prefix sum of token counts within
    each shard in doc_id order; chunk/offset decomposition is exact."""
    from etl_data_warehouse_spark.operators.sampling import sequence_packing

    rows = [(i, " ".join(["w"] * n), s) for i, n, s in docs]
    df = spark_global.createDataFrame(rows, "doc_id long, text string, source string")
    out = sequence_packing(df, budget=7).collect()
    by_shard: dict[str, list] = {}
    for r in out:
        by_shard.setdefault(r["source"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in shard_rows:
            assert r["chunk_offset"] == cum
            assert r["chunk_in_shard"] == cum // 7
            assert r["offset_in_chunk"] == cum % 7
            cum += r["n_tokens"]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=16,
        unique=True,
    )
)
def test_zvalue_bijective_and_bounded(spark_global, pts):
    from etl_data_warehouse_spark.sources.layout import zvalue

    df = spark_global.createDataFrame(pts, "x long, y long")
    rows = df.withColumn("z", zvalue(["x", "y"], bits=8)).collect()
    zs = {r["z"] for r in rows}
    assert len(zs) == len(pts)  # injective on the grid
    for r in rows:
        assert 0 <= r["z"] < (1 << 16)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.tuples(
            st.text(alphabet="ab1@.- ", max_size=20),
            st.sampled_from(
                ["", " a@b.io ", " 123-45-6789 ", " 555-867-5309 "]
            ),
        ),
        min_size=1,
        max_size=6,
    )
)
def test_pii_redaction_is_idempotent(spark_global, texts):
    """redact(redact(x)) == redact(x): placeholders never re-match."""
    from etl_data_warehouse_spark.functions.text import redact_pii

    rows = [(a + b,) for a, b in texts]
    df = spark_global.createDataFrame(rows, "text string")
    once = redact_pii("text").alias("r1")
    out = df.select(
        once,
        redact_pii(redact_pii("text")).alias("r2"),
    ).collect()
    for r in out:
        assert r["r1"] == r["r2"]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    texts=st.lists(
        st.text(alphabet="ab c", max_size=30), min_size=1, max_size=6
    ),
    n=st.integers(min_value=2, max_value=4),
)
def test_word_ngram_count_invariants(spark_global, texts, n):
    """len(ngrams) == max(0, T - n + 1) for T whitespace tokens;
    distinct <= total; the q84 dup fraction is therefore in [0, 1)."""
    from etl_data_warehouse_spark.functions.text import (
        tokens,
        word_ngrams,
    )

    df = spark_global.createDataFrame([(t,) for t in texts], "text string")
    out = df.select(
        F.size(tokens("text")).alias("t"),
        F.size(word_ngrams("text", n)).alias("g"),
        F.size(F.array_distinct(word_ngrams("text", n))).alias("d"),
    ).collect()
    for r in out:
        expect = r["t"] - n + 1 if r["t"] >= n else 0
        assert r["g"] == expect, (r, n)
        assert 0 <= r["d"] <= r["g"]


_changes = st.lists(
    st.tuples(
        st.integers(0, 4),                       # key (collisions likely)
        st.integers(0, 5),                       # ts (ties likely)
        st.floats(0.0, 100.0, allow_nan=False),  # value
        st.sampled_from(["U", "U", "D"]),        # op (deletes 1/3)
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(changes=_changes)
def test_cdc_fold_matches_reference(spark_global, changes):
    """apply_changelog == a sequential python fold over the changes in
    (ts, change_id) order, for any interleaving of upserts/deletes,
    duplicate keys, and ts ties (change_id breaks them)."""
    from etl_data_warehouse_spark.operators.cdc import apply_changelog

    rows = [
        (k, ts, cid, v, op) for cid, (k, ts, v, op) in enumerate(changes)
    ]
    df = spark_global.createDataFrame(
        rows, "key bigint, ts bigint, change_id bigint, value double, op string"
    )
    got = {
        r["key"]: (r["ts"], r["change_id"], r["value"], r["n_changes"])
        for r in apply_changelog(df, ["key"], ["ts", "change_id"]).collect()
    }
    state: dict[int, tuple] = {}
    counts: dict[int, int] = {}
    for k, ts, cid, v, op in sorted(rows, key=lambda r: (r[1], r[2])):
        counts[k] = counts.get(k, 0) + 1
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = (ts, cid, v)
    expected = {k: (*s, counts[k]) for k, s in state.items()}
    assert got == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(changes=_changes, cut=st.integers(0, 5))
def test_cdc_batched_merge_converges(spark_global, changes, cut):
    """Splitting the changelog at any ts cut and folding the two
    batches through merge_changelog (tombstones retained) yields the
    same live state as one fold over everything — the convergence
    contract an incremental CDC materializer relies on, property-tested."""
    from pyspark.sql import functions as F

    from etl_data_warehouse_spark.operators.cdc import (
        apply_changelog,
        merge_changelog,
    )

    rows = [
        (k, ts, cid, v, op) for cid, (k, ts, v, op) in enumerate(changes)
    ]
    schema = "key bigint, ts bigint, change_id bigint, value double, op string"
    df = spark_global.createDataFrame(rows, schema)
    one_pass = {
        (r["key"], r["ts"], r["change_id"], r["value"])
        for r in apply_changelog(df, ["key"], ["ts", "change_id"]).collect()
    }
    first = df.filter(F.col("ts") <= cut)
    second = df.filter(F.col("ts") > cut)
    snap = apply_changelog(
        first, ["key"], ["ts", "change_id"], keep_tombstones=True
    ).drop("n_changes")
    if second.count():
        snap = merge_changelog(
            snap, second, ["key"], ["ts", "change_id"], keep_tombstones=True
        ).drop("n_changes")
    live = {
        (r["key"], r["ts"], r["change_id"], r["value"])
        for r in snap.filter(F.col("op") != "D").drop("op").collect()
    }
    assert live == one_pass


# --- round 6: fixed-point PageRank ≡ pure-Python integer reference ---------

_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=20,
)


def _ref_pagerank_fixed(pairs, iterations=3, scale=10**12, num=85, den=100):
    """Pure-Python twin of the BIGINT fixed-point recurrence."""
    edges = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    outdeg = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    n = len(nodes)
    p0 = scale // n
    base = ((den - num) * p0) // den
    p = {v: p0 for v in nodes}
    for _ in range(iterations):
        s = {v: 0 for v in nodes}
        for a, b in edges:
            s[b] += p[a] // outdeg[a]
        p = {v: base + (num * s[v]) // den for v in nodes}
    return p


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(pairs=_edges)
def test_pagerank_fixed_matches_integer_reference(spark_global, pairs):
    from etl_data_warehouse_spark.operators.graph import pagerank_fixed

    sym = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    edges = spark_global.createDataFrame(sym, "src long, dst long")
    got = {
        r["node"]: r["rank_fixed"]
        for r in pagerank_fixed(edges, iterations=3).collect()
    }
    want = _ref_pagerank_fixed(pairs)
    assert got == want
    # symmetric graph: only integer-floor mass leaks — bounded tightly
    assert 0.99 * 10**12 <= sum(got.values()) <= 10**12


# --- round 6: chunking is a cover / a partition -----------------------------

_chunk_docs = st.lists(
    st.lists(st.sampled_from(["x", "yy", "z3"]), min_size=0, max_size=17),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(docs=_chunk_docs)
def test_chunking_partition_and_cover(spark_global, docs):
    from etl_data_warehouse_spark.operators.corpus import chunk_documents

    rows = [(i, " ".join(tk)) for i, tk in enumerate(docs)]
    df = spark_global.createDataFrame(rows, "doc_id long, text string")

    # stride == size → chunks PARTITION the tokens: concatenation in
    # chunk order reproduces the tokenized document exactly
    parts = chunk_documents(df, chunk_size=4, stride=4).collect()
    by_doc = {}
    for r in sorted(parts, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_text"])
    for i, _tk in enumerate(docs):
        tokens = rows[i][1].strip().split(" ") if rows[i][1].strip() else [""]
        assert " ".join(by_doc[i]).split(" ") == tokens

    # stride < size → chunks COVER every token index
    cover = chunk_documents(df, chunk_size=4, stride=3).collect()
    for i, _tk in enumerate(docs):
        n = len(rows[i][1].strip().split(" ")) if rows[i][1].strip() else 1
        covered = set()
        for r in cover:
            if r["doc_id"] == i:
                start = r["chunk_idx"] * 3
                covered.update(range(start, start + r["n_chunk_tokens"]))
        assert covered == set(range(n))


# --- round 6: int8 quantization bounds --------------------------------------

_vecs = st.lists(
    st.lists(
        st.floats(
            min_value=-100.0, max_value=100.0,
            allow_nan=False, allow_infinity=False, width=32,
        ),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(vecs=_vecs)
def test_int8_quantize_bounds(spark_global, vecs):
    from pyspark.sql import types as T

    from etl_data_warehouse_spark.operators.pq import int8_quantize

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark_global.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], schema
    )
    for r in int8_quantize(df).collect():
        src = vecs[r["vec_id"]]
        if all(x == 0.0 for x in src):
            assert r["quant_scale"] == 0.0
            assert all(c == 0 for c in r["codes"])
            assert r["recon_mse"] == 0.0
            continue
        assert r["quant_scale"] > 0
        # codes bounded: |x|*scale <= 127 → floor(.+0.5) within ±127
        assert all(-127 <= c <= 127 for c in r["codes"])
        # per-dim error bounded by half a quantization step
        step = 1.0 / r["quant_scale"]
        assert r["recon_mse"] <= (0.5 * step) ** 2 + 1e-12
