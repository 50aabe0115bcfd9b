"""Sketch operators (operators/sketches.py): accuracy vs exact, and
the merge-consistency contract that justifies pre-aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_data_warehouse_spark.operators.sketches import (
    daily_topk_sketches,
    global_topk,
    rollup_topk,
)
from etl_data_warehouse_spark.sources.catalog import load_table


class TestTopKSketches:
    """Frequent-items sketches: exactness on bounded-cardinality
    columns, merge == one-pass, and the no-Expand scale contract."""

    def test_rollup_matches_exact_counts(self, spark, sf_dir):
        events = load_table(spark, "events", sf_dir)
        daily = daily_topk_sketches(events).cache()
        monthly = rollup_topk(
            daily, F.date_trunc("month", F.col("day")), k=5, grain_name="month"
        )
        exact = {
            (r["month"], r["event_type"]): r["n"]
            for r in events.groupBy(
                F.date_trunc("month", F.to_date("ts")).alias("month"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rows = monthly.collect()
        assert rows
        for r in rows:
            # 5 distinct event types, maxItemsTracked=1024 -> exact
            got = {e["item"]: e["count"] for e in r["top_k"]}
            want = {
                t: n for (m, t), n in exact.items() if m == r["month"]
            }
            assert got == want, (r["month"], got, want)
        daily.unpersist()

    def test_global_topk_exact(self, spark, sf_dir):
        events = load_table(spark, "events", sf_dir)
        top = global_topk(daily_topk_sketches(events), k=5)
        exact = {
            r["event_type"]: r["n"]
            for r in events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert {e["item"]: e["count"] for e in top} == exact

    def test_no_expand_in_topk_plan(self, spark, sf_dir):
        events = load_table(spark, "events", sf_dir)
        daily = daily_topk_sketches(events)
        plan = daily._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan
        assert "approx_top_k_accumulate" in plan


class TestPortableHll:
    """Cross-engine register HLL (hll_register_cols family): merge
    property, accuracy, and bit-exactness of the register math vs a
    pure-Python md5 reference."""

    def test_merge_of_group_registers_equals_direct_union(
        self, spark, sf_dir
    ):
        from etl_data_warehouse_spark.operators.sketches import (
            hll_merge_registers,
            hll_registers,
        )

        events = load_table(spark, "events", sf_dir)
        per_type = hll_registers(events, "user_id", ["event_type"])
        merged = hll_merge_registers(
            per_type.drop("event_type").withColumn(
                "g", F.lit("all")
            ),
            ["g"],
        ).drop("g")
        direct = hll_registers(
            events.withColumn("g", F.lit("all")), "user_id", ["g"]
        ).drop("g")
        m = {r["hll_idx"]: r["m_j"] for r in merged.collect()}
        d = {r["hll_idx"]: r["m_j"] for r in direct.collect()}
        assert m == d

    def test_estimate_within_error_bound(self, spark):
        from etl_data_warehouse_spark.operators.sketches import (
            hll_estimate,
            hll_registers,
        )

        n = 5000
        df = spark.range(n).select(
            F.lit("g").alias("g"), F.col("id").alias("v")
        )
        est = hll_estimate(
            hll_registers(df, "v", ["g"]), ["g"]
        ).first()["hll_estimate"]
        # m=256 -> rse ~6.5%; 20% is ~3 sigma
        assert abs(est - n) / n < 0.20, est

    def test_register_math_matches_python_reference(self, spark):
        import hashlib

        from etl_data_warehouse_spark.operators.sketches import (
            hll_register_cols,
        )

        keys = list(range(100))
        df = spark.range(100).select(F.col("id").alias("k"))
        idx, rho = hll_register_cols("k")
        got = {
            r["k"]: (r["hll_idx"], r["hll_rho"])
            for r in df.select("k", idx, rho).collect()
        }
        for k in keys:
            h = int(
                hashlib.md5(f"hll{k}".encode()).hexdigest()[:15], 16
            )
            w = h >> 8
            exp_rho = 53 if w == 0 else 53 - w.bit_length()
            assert got[k] == (h & 255, exp_rho), k

class TestPortableBloom:
    """Cross-engine Bloom bitmap (bloom_build/bloom_probe): the
    zero-false-negative contract, bit-exactness vs a pure-Python md5
    reference, and the sign-bit safety margin of the 62-bit words."""

    def test_members_never_fail(self, spark):
        from etl_data_warehouse_spark.operators.sketches import (
            bloom_build,
            bloom_probe,
        )

        keys = spark.range(500).select(F.col("id").alias("k"))
        bm = bloom_build(keys, "k", m_bits=1024)
        got = bloom_probe(keys, "k", bm, m_bits=1024).collect()
        assert all(r["bloom_pass"] for r in got)

    def test_false_positive_rate_sane(self, spark):
        from etl_data_warehouse_spark.operators.sketches import (
            bloom_build,
            bloom_probe,
        )

        members = spark.range(300).select(F.col("id").alias("k"))
        bm = bloom_build(members, "k", m_bits=4096)
        outsiders = spark.range(10_000, 12_000).select(
            F.col("id").alias("k")
        )
        fp = (
            bloom_probe(outsiders, "k", bm, m_bits=4096)
            .filter("bloom_pass")
            .count()
        )
        # theory: (1 - exp(-3*300/4096))^3 ~ 0.8%; 5% is a wide margin
        assert fp / 2000 < 0.05, fp

    def test_bitmap_matches_python_reference(self, spark):
        import hashlib

        from etl_data_warehouse_spark.operators.sketches import (
            bloom_build,
        )

        keys = list(range(50))
        df = spark.range(50).select(F.col("id").alias("k"))
        got = {
            r["word_idx"]: r["bitmap"]
            for r in bloom_build(df, "k", m_bits=1024).collect()
        }
        exp: dict[int, int] = {}
        for k in keys:
            for i in range(3):
                h = int(
                    hashlib.md5(f"bf{i}:{k}".encode()).hexdigest()[:8],
                    16,
                )
                pos = h % 1024
                exp[pos // 62] = exp.get(pos // 62, 0) | (
                    1 << (pos % 62)
                )
        assert got == exp
        # 62-bit words: no mask ever reaches the BIGINT sign bit
        assert all(0 <= v < (1 << 62) for v in got.values())

    def test_probe_plan_broadcasts_bitmap(self, spark):
        from etl_data_warehouse_spark.operators.sketches import (
            bloom_build,
            bloom_probe,
        )

        keys = spark.range(100).select(F.col("id").alias("k"))
        out = bloom_probe(keys, "k", bloom_build(keys, "k"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestQuantileHistogram:
    """Log-linear quantile histogram (qhist_* family): bucket/lower
    inverse contract, relative-error bound vs exact quantiles, and
    merge-by-addition consistency."""

    def test_bucket_lower_inverse_and_error_bound(self, spark):
        from etl_data_warehouse_spark.operators.sketches import (
            qhist_bucket,
            qhist_lower,
        )

        # values spanning the exact region, tier boundaries, and big ints
        vals = (
            list(range(1, 70))
            + [127, 128, 129, 1000, 4095, 4096, 10**6, 10**9, 10**12]
        )
        df = spark.createDataFrame(
            [(v,) for v in vals], "v long"
        ).select("v", qhist_bucket("v").alias("b"))
        rows = df.select(
            "v", "b", qhist_lower("b").alias("lo")
        ).collect()
        for r in rows:
            assert r["lo"] <= r["v"], r
            # relative error of the lower-bound estimate <= 1/32
            assert (r["v"] - r["lo"]) / r["v"] <= 1 / 32 + 1e-12, r
        # bucket is monotonic in v
        bs = [r["b"] for r in sorted(rows, key=lambda r: r["v"])]
        assert bs == sorted(bs)

    def test_quantiles_close_to_exact(self, spark):
        import numpy as np

        from etl_data_warehouse_spark.operators.sketches import (
            qhist_build,
            qhist_quantiles,
        )

        rng = np.random.default_rng(7)
        vals = (rng.lognormal(8, 1.5, 20_000) * 100).astype("int64") + 1
        df = spark.createDataFrame(
            [(int(v),) for v in vals], "v long"
        ).withColumn("g", F.lit("all"))
        est = qhist_quantiles(
            qhist_build(df, "v", ["g"]), ["g"], [50, 90, 99]
        ).first()
        for q in (50, 90, 99):
            exact = float(np.quantile(vals, q / 100))
            got = est[f"p{q}_est"]
            assert abs(got - exact) / exact < 0.05, (q, got, exact)

    def test_merge_equals_direct_build(self, spark):
        from etl_data_warehouse_spark.operators.sketches import (
            qhist_build,
            qhist_merge,
        )

        df = spark.range(5000).select(
            (F.col("id") % 7).alias("sub"),
            (F.col("id") * 37 % 100_000 + 1).alias("v"),
        ).withColumn("g", F.lit("all"))
        fine = qhist_build(df, "v", ["g", "sub"])
        merged = qhist_merge(fine.drop("sub"), ["g"])
        direct = qhist_build(df, "v", ["g"])
        m = {r["bucket"]: r["n"] for r in merged.collect()}
        d = {r["bucket"]: r["n"] for r in direct.collect()}
        assert m == d


class TestCountMin:
    """Portable count-min sketch (cm_* family): never-underestimate
    guarantee, merge-by-addition consistency, and bit-exactness of the
    position math vs a pure-Python md5 reference."""

    def test_never_underestimates_and_usually_tight(self, spark):
        from etl_data_warehouse_spark.operators.sketches import (
            cm_build,
            cm_estimate,
        )

        df = (
            spark.range(2000)
            .select((F.col("id") % 97).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .withColumn("g", F.lit("all"))
        )
        state = cm_build(df, "k", "n", ["g"], w=256, d=4).drop("g")
        probes = df.select("k", F.col("n").alias("exact_n"))
        got = cm_estimate(probes, "k", state, w=256, d=4).collect()
        assert all(r["cm_est"] >= r["exact_n"] for r in got)
        # w=256 >> 97 keys: most estimates exact
        exact_frac = sum(
            r["cm_est"] == r["exact_n"] for r in got
        ) / len(got)
        assert exact_frac > 0.8, exact_frac

    def test_merge_equals_direct_build(self, spark):
        from etl_data_warehouse_spark.operators.sketches import (
            cm_build,
            cm_merge,
        )

        df = (
            spark.range(3000)
            .select(
                (F.col("id") % 5).alias("part"),
                (F.col("id") % 131).alias("k"),
            )
            .groupBy("part", "k")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        fine = cm_build(df, "k", "n", ["part"], w=64, d=4)
        merged = cm_merge(fine.drop("part"), [])
        direct = cm_build(
            df.groupBy("k").agg(F.sum("n").cast("long").alias("n")),
            "k",
            "n",
            [],
            w=64,
            d=4,
        )
        m = {(r["cm_row"], r["cm_pos"]): r["c"] for r in merged.collect()}
        d_ = {(r["cm_row"], r["cm_pos"]): r["c"] for r in direct.collect()}
        assert m == d_

    def test_positions_match_python_reference(self, spark):
        import hashlib

        from etl_data_warehouse_spark.operators.sketches import (
            cm_position,
        )

        df = spark.range(40).select(F.col("id").alias("k"))
        for row in range(4):
            got = {
                r["k"]: r["p"]
                for r in df.select(
                    "k", cm_position("k", row, w=64).alias("p")
                ).collect()
            }
            for k in range(40):
                h = int(
                    hashlib.md5(f"cm{row}:{k}".encode()).hexdigest()[:8],
                    16,
                )
                assert got[k] == h % 64, (row, k)
