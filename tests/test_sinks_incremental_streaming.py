"""Sinks (merge/append), watermark incremental batch, streaming twin."""

from __future__ import annotations

import datetime
import os
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_data_warehouse_spark.incremental import (
    WatermarkStore,
    commit_watermark,
    incremental_extract,
)
from etl_data_warehouse_spark.plans import pipeline
from etl_data_warehouse_spark.sources.sinks import (
    append_dedup,
    assign_stable_keys,
    merge_upsert,
    merge_upsert_partitioned,
    merge_upsert_stable,
)
from etl_data_warehouse_spark.streaming.daily_sales_stream import (
    start_daily_sales_stream,
)


def _orders(spark, rows):
    return spark.createDataFrame(
        rows, "order_id long, product_id long, amount double, status string"
    )


class TestMergeUpsert:
    def test_insert_then_update(self, spark, tmp_path):
        path = str(tmp_path / "dim")
        r = merge_upsert(
            spark, _orders(spark, [(1, 10, 5.0, "A"), (2, 20, 6.0, "B")]),
            path, ["order_id"],
        )
        assert r == {"inserted": 2, "updated": 0}
        r = merge_upsert(
            spark, _orders(spark, [(2, 20, 9.0, "B2"), (3, 30, 7.0, "C")]),
            path, ["order_id"],
        )
        assert r == {"inserted": 1, "updated": 1}
        out = {x["order_id"]: x for x in spark.read.parquet(path).collect()}
        assert len(out) == 3
        assert out[2]["amount"] == 9.0 and out[2]["status"] == "B2"

    def test_idempotent_rerun(self, spark, tmp_path):
        path = str(tmp_path / "dim2")
        batch = _orders(spark, [(1, 10, 5.0, "A"), (2, 20, 6.0, "B")])
        merge_upsert(spark, batch, path, ["order_id"])
        before = sorted(map(tuple, spark.read.parquet(path).collect()))
        merge_upsert(spark, batch, path, ["order_id"])
        after = sorted(map(tuple, spark.read.parquet(path).collect()))
        assert before == after

    def test_append_dedup_do_nothing(self, spark, tmp_path):
        path = str(tmp_path / "fact")
        n = append_dedup(
            spark, _orders(spark, [(1, 1, 1.0, "X")]), path, ["order_id"]
        )
        assert n == 1
        n = append_dedup(
            spark,
            _orders(spark, [(1, 1, 99.0, "CHANGED"), (2, 2, 2.0, "Y")]),
            path,
            ["order_id"],
        )
        assert n == 1  # conflicting key 1 is DO NOTHING'd
        out = {x["order_id"]: x for x in spark.read.parquet(path).collect()}
        assert out[1]["amount"] == 1.0

    def test_append_of_nothing_leaves_files_unchanged(self, spark, tmp_path):
        """The count rides on the write; Spark writes an empty file for
        an empty result, so the sink must not let one into the table."""
        path = str(tmp_path / "fact_noop")
        rows = _orders(spark, [(1, 1, 1.0, "X"), (2, 2, 2.0, "Y")])
        assert append_dedup(spark, rows, path, ["order_id"]) == 2

        def files():
            return {
                f: os.stat(os.path.join(path, f)).st_mtime_ns
                for f in os.listdir(path)
            }

        before = files()
        assert append_dedup(spark, rows, path, ["order_id"]) == 0
        assert files() == before
        assert os.listdir(tmp_path) == ["fact_noop"]
        more = _orders(spark, [(2, 2, 9.0, "Z"), (3, 3, 3.0, "W")])
        assert append_dedup(spark, more, path, ["order_id"]) == 1
        assert sorted(
            r["order_id"] for r in spark.read.parquet(path).collect()
        ) == [1, 2, 3]

    def test_partitioned_merge_touches_only_partitions(self, spark, tmp_path):
        path = str(tmp_path / "part_fact")
        df1 = spark.createDataFrame(
            [(1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)],
            "k long, day string, v double",
        )
        merge_upsert_partitioned(spark, df1, path, ["k"], "day")
        df2 = spark.createDataFrame(
            [(2, "2024-01-02", 20.0), (3, "2024-01-02", 3.0)],
            "k long, day string, v double",
        )
        merge_upsert_partitioned(spark, df2, path, ["k"], "day")
        out = {x["k"]: x for x in spark.read.parquet(path).collect()}
        assert len(out) == 3
        assert out[2]["v"] == 20.0
        assert out[1]["v"] == 1.0  # untouched partition survived


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    group = f"sink-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


_BASE = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
# case -> (table before the call or None, incoming batch)
_UPSERT_CASES = {
    "first_load": (None, [(1, "a"), (2, "b")]),
    "insert_only": (_BASE, [(5, "e"), (6, "f")]),
    "update_only": (_BASE, [(2, "B"), (3, "C")]),
    "mixed": (_BASE, [(3, "C"), (7, "g")]),
    "empty_incoming": (_BASE, []),
    "duplicate_keys": (_BASE, [(2, "B"), (8, "h"), (2, "B"), (8, "h")]),
}


class TestSinkCounts:
    """merge_upsert's counts come from its one write (Observation);
    each case is checked against counts and rows derived in Python."""

    @pytest.mark.parametrize("case", sorted(_UPSERT_CASES))
    def test_counts_and_rows(self, spark, tmp_path, case):
        base, batch = _UPSERT_CASES[case]
        path = str(tmp_path / "t")
        if base is not None:
            merge_upsert(spark, _kv(spark, base), path, ["k"])
        incoming = dict(batch)
        before = dict(base or [])
        updated = len(incoming.keys() & before.keys())
        got = merge_upsert(spark, _kv(spark, batch), path, ["k"])
        assert got == {"inserted": len(incoming) - updated, "updated": updated}
        rows = sorted(map(tuple, spark.read.parquet(path).collect()))
        assert rows == sorted({**before, **incoming}.items())
        assert spark.read.parquet(path).columns == ["k", "v"]

    @pytest.mark.parametrize("lo, hi", [(500, 1500), (0, 0)],
                             ids=["overlapping", "empty"])
    def test_existing_table_is_three_jobs(self, spark, tmp_path, lo, hi):
        """Before the counts came from the write, these calls ran 11
        and 10 jobs: three count()s, a localCheckpoint and the write.
        Ranges have known sizes, so the planner broadcasts the batch's
        keys; a batch without size statistics (a Python list) adds the
        stages of a sort-merge join."""
        def rows(lo, hi):
            return spark.range(lo, hi).select(
                F.col("id").alias("k"), F.col("id").cast("string").alias("v")
            )

        path = str(tmp_path / "t")
        merge_upsert(spark, rows(0, 1000), path, ["k"])
        counts, n = _jobs(
            spark, lambda: merge_upsert(spark, rows(lo, hi), path, ["k"])
        )
        overlap = max(0, min(hi, 1000) - lo)
        assert counts == {"inserted": hi - lo - overlap, "updated": overlap}
        assert n <= 3


def test_stable_merge_opens_its_table_once(spark, tmp_path, monkeypatch):
    """merge_upsert_stable keys and merges against one read of the
    table: a second open would list it and infer its schema again."""
    from etl_data_warehouse_spark.sources import sinks

    path = str(tmp_path / "dim")
    merge_upsert_stable(spark, _kv(spark, _BASE), path, ["v"], "k")
    opened = []

    def counting(spark, path, schema=None):
        opened.append(path)
        return real(spark, path, schema)

    real = sinks._open_table
    monkeypatch.setattr(sinks, "_open_table", counting)
    counts, _ = merge_upsert_stable(
        spark, _kv(spark, [(9, "b"), (9, "z")]), path, ["v"], "k"
    )
    assert counts == {"inserted": 1, "updated": 1}
    assert opened == [path]


class TestSwapCrashRecovery:
    """A crash inside _atomic_swap_write must not cost the table: the
    next run restores it, so surrogate keys and fact FKs survive."""

    DAYS = [
        ([(10, "ann"), (20, "bob"), (30, "cat")], [(1, 10), (2, 20)]),
        ([(5, "eve"), (20, "bob2"), (40, "dee")], [(3, 5), (4, 40)]),
    ]

    def _load(self, spark, wh, day):
        dims, orders = self.DAYS[day]
        counts, keyed = merge_upsert_stable(
            spark, _dim(spark, dims), os.path.join(wh, "dim"),
            ["customer_id"], "customer_key",
        )
        fact = spark.createDataFrame(
            orders, "order_id long, customer_id long"
        ).join(keyed.select("customer_id", "customer_key"), "customer_id")
        merge_upsert(spark, fact, os.path.join(wh, "fact"), ["order_id"])
        return counts

    def _state(self, spark, wh):
        return [
            sorted(map(tuple, spark.read.parquet(os.path.join(wh, t))
                       .select(*cols).collect()))
            for t, cols in [
                ("dim", ["customer_id", "customer_key", "name"]),
                ("fact", ["order_id", "customer_id", "customer_key"]),
            ]
        ]

    # the swap renames dim -> dim.__old_*, then dim.__tmp_* -> dim
    @pytest.mark.parametrize(
        "side, prefix", [(1, "dim.__old_"), (0, "dim.__tmp_")],
        ids=["table_to_old", "tmp_to_table"],
    )
    def test_rerun_after_failed_rename(
        self, spark, tmp_path, monkeypatch, side, prefix
    ):
        wh = str(tmp_path / "wh")
        self._load(spark, wh, 0)
        self._load(spark, wh, 1)
        state = self._state(spark, wh)
        real_rename = os.rename

        def rename(*args):
            if os.path.basename(args[side]).startswith(prefix):
                raise OSError("injected crash")
            real_rename(*args)

        with monkeypatch.context() as m:
            m.setattr(os, "rename", rename)
            with pytest.raises(OSError, match="injected"):
                self._load(spark, wh, 1)
        counts = self._load(spark, wh, 1)  # the re-run of the crashed day
        assert counts == {"inserted": 0, "updated": 3}
        assert self._state(spark, wh) == state
        assert sorted(os.listdir(wh)) == ["dim", "fact"]


def _dim(spark, rows):
    return spark.createDataFrame(rows, "customer_id long, name string")


_EXTRACT_TABLES = ("customer", "part", "orders", "lineitem")
_STAR_TABLES = (
    "dim_date", "dim_customers", "dim_products", "fact_orders",
    "fact_daily_sales",
)


def _yyyymmdd(ts):
    return ts.dt.year * 10000 + ts.dt.month * 100 + ts.dt.day


def _day2_extract(t: dict) -> dict:
    """Day 2 drops the lowest keys of customers, parts and orders,
    renames a customer, reprices an order, and adds customers, parts
    and orders (with their line items) after day 1's last order date."""
    c = t["customer"].sort_values("c_custkey")
    p = t["part"].sort_values("p_partkey")
    o = t["orders"].sort_values("o_orderkey")
    li = t["lineitem"]
    cmax, pmax, omax = c.c_custkey.max(), p.p_partkey.max(), o.o_orderkey.max()
    c, p = c.iloc[3:].copy(), p.iloc[2:].copy()
    c.loc[c.index[10], "c_name"] = "Customer#renamed"
    new_c = c.iloc[:4].assign(c_custkey=[cmax + 5, cmax + 1, cmax + 3, cmax + 2])
    new_p = p.iloc[:3].assign(p_partkey=[pmax + 1, pmax + 2, pmax + 3])
    li = li[~li.l_orderkey.isin(o.o_orderkey.iloc[:5])]
    o = o.iloc[5:].copy()
    o.loc[o.index[0], "o_totalprice"] += 1.0
    last = o.o_orderdate.max()
    new_o = o.iloc[:6].assign(
        o_orderkey=[omax + k for k in range(1, 7)],
        o_custkey=[*new_c.c_custkey, c.c_custkey.iloc[0], c.c_custkey.iloc[1]],
        o_orderdate=[last + pd.Timedelta(days=k) for k in (1, 1, 2, 2, 3, 3)],
    )
    new_li = li.iloc[:12].assign(
        l_orderkey=list(new_o.o_orderkey.repeat(2)),
        l_linenumber=[1, 2] * 6,
        l_partkey=[*new_p.p_partkey] * 3 + [p.p_partkey.iloc[0]] * 3,
        l_shipdate=list(new_o.o_orderdate.repeat(2) + pd.Timedelta(days=2)),
    )
    return {
        "customer": pd.concat([c, new_c]),
        "part": pd.concat([p, new_p]),
        "orders": pd.concat([o, new_o]),
        "lineitem": pd.concat([li, new_li]),
    }


def _keys(t: dict) -> dict:
    """The business keys each star table holds after loading ``t``."""
    days = t["orders"].o_orderdate.dt.normalize()
    dates = pd.date_range(days.min(), days.max(), freq="D")
    li = t["lineitem"]
    return {
        "dim_date": set(_yyyymmdd(pd.Series(dates)).tolist()),
        "dim_customers": set(t["customer"].c_custkey.tolist()),
        "dim_products": set(t["part"].p_partkey.tolist()),
        "fact_orders": set(t["orders"].o_orderkey.tolist()),
        "fact_daily_sales": set(
            zip(_yyyymmdd(li.l_shipdate).tolist(), li.l_partkey.tolist())
        ),
    }


class _Expected:
    """run_pipeline's results over a sequence of extracts, derived with
    pandas: merge_upsert counts a stored key as updated and a new one as
    inserted, and a stable surrogate key is max(stored key) + the rank
    of the new business key."""

    def __init__(self, days: list[dict]):
        self.loads, self.extracted = [], []
        self.keys = {n: set() for n in _STAR_TABLES}
        self.sk = {"dim_customers": {}, "dim_products": {}}
        self.order_fk = {}
        for t in days:
            ks = _keys(t)
            self.loads.append({
                n: {"inserted": len(ks[n] - self.keys[n]),
                    "updated": len(ks[n] & self.keys[n])}
                for n in _STAR_TABLES
            })
            self.extracted.append(len(t["orders"]) + len(t["lineitem"]))
            for n in _STAR_TABLES:
                self.keys[n] |= ks[n]
            for n in self.sk:
                for k in sorted(ks[n] - self.sk[n].keys()):
                    self.sk[n][k] = len(self.sk[n]) + 1
            # facts resolve against the day's keyed dim: a customer
            # missing from the day's extract leaves the key null
            day_c = ks["dim_customers"]
            for ok, ck in zip(t["orders"].o_orderkey, t["orders"].o_custkey):
                self.order_fk[ok] = (
                    self.sk["dim_customers"][ck] if ck in day_c else None
                )


@pytest.fixture(scope="module")
def extracts(tmp_path_factory, sf_dir):
    """(day-1 dir, day-2 dir, expectations): day 1 is the test
    extract, day 2 is derived from it by _day2_extract."""
    arrow = {
        n: pq.read_table(os.path.join(sf_dir, f"{n}.parquet"))
        for n in _EXTRACT_TABLES
    }
    day1 = {n: a.to_pandas() for n, a in arrow.items()}
    days = [day1, _day2_extract(day1)]
    dirs = []
    for i, t in enumerate(days, 1):
        d = tmp_path_factory.mktemp(f"extract{i}")
        for n, df in t.items():
            pq.write_table(
                pa.Table.from_pandas(
                    df, schema=arrow[n].schema, preserve_index=False
                ),
                os.path.join(d, f"{n}.parquet"),
            )
        dirs.append(str(d))
    return dirs, _Expected(days)


class TestConcurrentPipeline:
    """run_pipeline runs its sinks as concurrent branches; results,
    stored rows and surrogate keys are those of the data dependencies,
    whatever the interleaving."""

    STEPS = {"extract", *_STAR_TABLES, "quality", "audit"}

    def _check_tables(self, spark, wh, exp):
        for n in _STAR_TABLES:
            assert spark.read.parquet(os.path.join(wh, n)).count() == len(
                exp.keys[n]
            ), n
        for n, key, sk in (
            ("dim_customers", "customer_id", "customer_key"),
            ("dim_products", "product_id", "product_key"),
            ("fact_orders", "order_key", "customer_key"),
        ):
            got = dict(
                spark.read.parquet(os.path.join(wh, n)).select(key, sk)
                .collect()
            )
            assert got == (exp.order_fk if n == "fact_orders" else exp.sk[n])
        renamed = spark.read.parquet(os.path.join(wh, "dim_customers"))
        assert renamed.filter(
            F.col("customer_name") == "Customer#renamed"
        ).count() == 1

    def test_two_days_match_expected(self, spark, extracts, tmp_path):
        dirs, exp = extracts
        wh = str(tmp_path / "wh")
        for day, d in enumerate(dirs):
            r = pipeline.run_pipeline(spark, d, wh)
            assert r["status"] == "SUCCESS"
            assert r["checks"] == dict.fromkeys(r["checks"], True)
            assert len(r["checks"]) == 4
            assert r["loads"] == exp.loads[day]
            assert list(r["loads"]) == list(_STAR_TABLES)
            assert r["records_extracted"] == exp.extracted[day]
            assert r["records_loaded"] == sum(
                v["inserted"] + v["updated"] for v in exp.loads[day].values()
            )
            assert set(r["stage_sec"]) == self.STEPS
            assert min(r["stage_sec"].values()) >= 0
        self._check_tables(spark, wh, exp)
        assert spark.read.parquet(os.path.join(wh, "etl_run_log")).count() == 2

    def test_branch_jobs_inherit_the_callers_job_group(
        self, spark, extracts, tmp_path
    ):
        """Without inheritable_thread_target a branch thread starts with
        empty local properties, so its jobs would carry no group."""
        sc = spark.sparkContext
        tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()
        group = f"g-{uuid.uuid4().hex}"
        bus.waitUntilEmpty()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, "concurrent run_pipeline")
        try:
            pipeline.run_pipeline(spark, extracts[0][0], str(tmp_path / "wh"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        assert len(tracker.getJobIdsForGroup(group)) >= 5
        assert set(tracker.getJobIdsForGroup(None)) <= ungrouped

    def test_failed_branch_then_rerun(
        self, spark, extracts, tmp_path, monkeypatch
    ):
        """fact_daily_sales' write fails inside its Spark job on day 2:
        the other branches finish first, the failed table keeps day 1,
        and the re-run gives the clean run's keys and counts."""
        (day1, day2), exp = extracts
        wh = str(tmp_path / "wh")
        pipeline.run_pipeline(spark, day1, wh)
        real = pipeline.build_fact_daily_sales

        def failing(spark, sf_dir):
            return real(spark, sf_dir).filter(
                F.assert_true(F.col("product_id") < 0, "injected").isNull()
            )

        with monkeypatch.context() as m:
            m.setattr(pipeline, "build_fact_daily_sales", failing)
            with pytest.raises(Exception, match="injected"):
                pipeline.run_pipeline(spark, day2, wh)
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getActiveJobsIds() == []
        for n in _STAR_TABLES:
            n_rows = spark.read.parquet(os.path.join(wh, n)).count()
            want = (
                exp.loads[0][n]["inserted"] if n == "fact_daily_sales"
                else len(exp.keys[n])
            )
            assert n_rows == want, n
        assert spark.read.parquet(os.path.join(wh, "etl_run_log")).count() == 1

        r = pipeline.run_pipeline(spark, day2, wh)
        assert r["status"] == "SUCCESS"
        # the four finished branches already hold day 2
        for n in _STAR_TABLES:
            day2_keys = sum(exp.loads[1][n].values())
            want = (
                exp.loads[1][n] if n == "fact_daily_sales"
                else {"inserted": 0, "updated": day2_keys}
            )
            assert r["loads"][n] == want, n
        self._check_tables(spark, wh, exp)
        assert sorted(os.listdir(wh)) == sorted([*_STAR_TABLES, "etl_run_log"])


class TestStableKeys:
    """Reference upsert semantics (warehouse_loader.py:56-69): the
    surrogate key is excluded from the update SET, so re-loaded rows
    keep their key; only genuinely new business keys mint new ones."""

    def test_two_runs_preserve_keys_and_extend(self, spark, tmp_path):
        path = str(tmp_path / "dim_c")
        r1, k1 = merge_upsert_stable(
            spark,
            _dim(spark, [(10, "ann"), (20, "bob"), (30, "cat")]),
            path, ["customer_id"], "customer_key",
        )
        assert r1 == {"inserted": 3, "updated": 0}
        keys1 = {
            x["customer_id"]: x["customer_key"]
            for x in spark.read.parquet(path).collect()
        }
        assert sorted(keys1.values()) == [1, 2, 3]
        # overlapping second batch: 20 updated (key kept), 40 new
        r2, k2 = merge_upsert_stable(
            spark,
            _dim(spark, [(20, "bob2"), (40, "dee")]),
            path, ["customer_id"], "customer_key",
        )
        assert r2 == {"inserted": 1, "updated": 1}
        out = {
            x["customer_id"]: x for x in spark.read.parquet(path).collect()
        }
        assert out[20]["customer_key"] == keys1[20]  # key survived update
        assert out[20]["name"] == "bob2"  # payload did update
        assert out[10]["customer_key"] == keys1[10]
        assert out[40]["customer_key"] == 4  # max+1, no renumbering
        # full-snapshot re-run is a key-level no-op
        snap = _dim(spark, [(c, out[c]["name"]) for c in sorted(out)])
        merge_upsert_stable(spark, snap, path, ["customer_id"], "customer_key")
        again = {
            x["customer_id"]: x["customer_key"]
            for x in spark.read.parquet(path).collect()
        }
        assert again == {c: out[c]["customer_key"] for c in out}

    def test_assign_stable_keys_ignores_incoming_key(self, spark):
        existing = spark.createDataFrame(
            [(7, 10, "ann")], "customer_key long, customer_id long, name string"
        )
        incoming = spark.createDataFrame(
            [(99, 10, "ann2"), (99, 20, "bob")],
            "customer_key long, customer_id long, name string",
        )
        out = {
            x["customer_id"]: x["customer_key"]
            for x in assign_stable_keys(
                existing, incoming, ["customer_id"], "customer_key"
            ).collect()
        }
        assert out == {10: 7, 20: 8}

    def test_assign_stable_keys_dedups_incoming(self, spark):
        """Duplicate business keys in one batch must collapse to ONE
        surrogate (keep-first under deterministic ordering), never mint
        several keys for the same business key."""
        existing = spark.createDataFrame(
            [(7, 10, "ann")], "customer_key long, customer_id long, name string"
        )
        incoming = spark.createDataFrame(
            [(0, 20, "bob_a"), (0, 20, "bob_b"), (0, 10, "ann2"), (0, 30, "cat")],
            "customer_key long, customer_id long, name string",
        )
        rows = assign_stable_keys(
            existing, incoming, ["customer_id"], "customer_key"
        ).collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r["customer_id"], []).append(r)
        assert {k: len(v) for k, v in by_id.items()} == {10: 1, 20: 1, 30: 1}
        assert by_id[10][0]["customer_key"] == 7
        assert {by_id[20][0]["customer_key"], by_id[30][0]["customer_key"]} == {8, 9}
        assert by_id[20][0]["name"] == "bob_a"  # deterministic keep-first


class TestIncremental:
    def test_watermark_advances_and_filters(self, spark, tmp_path, sf_dir):
        store = WatermarkStore(str(tmp_path / "wm.json"))
        full = incremental_extract(spark, "orders", "o_orderdate", store, sf_dir)
        n_full = full.count()
        assert n_full > 0
        # extraction alone must NOT advance the watermark: a failed sink
        # between extract and commit must not lose the batch.
        assert store.get("orders") is None
        retry = incremental_extract(spark, "orders", "o_orderdate", store, sf_dir)
        assert retry.count() == n_full
        # sink "succeeds" -> commit; second run sees nothing newer.
        commit_watermark(full, "orders", "o_orderdate", store)
        assert store.get("orders") is not None
        second = incremental_extract(
            spark, "orders", "o_orderdate", store, sf_dir
        )
        assert second.count() == 0
        # committing an empty batch is a no-op, not a regression to None
        wm = store.get("orders")
        assert commit_watermark(second, "orders", "o_orderdate", store) is None
        assert store.get("orders") == wm

    def test_mid_watermark(self, spark, tmp_path, sf_dir):
        store = WatermarkStore(str(tmp_path / "wm2.json"))
        store.set("orders", "1999-01-01 00:00:00")
        df = incremental_extract(
            spark, "orders", "o_orderdate", store, sf_dir, advance=False
        )
        assert df.count() > 0
        assert (
            df.agg(F.min("o_orderdate")).first()[0]
            > datetime.datetime(1999, 1, 1)
        )


class TestStreaming:
    def _write_batch(self, spark, input_dir, rows, name):
        df = spark.createDataFrame(
            rows,
            "order_id long, product_id long, order_ts timestamp, "
            "amount double, status string",
        )
        # append part-files into the watched directory (the file stream
        # source does not recurse into subdirectories)
        df.coalesce(1).write.mode("append").parquet(input_dir)

    def test_available_now_rollup_and_late_data_upsert(self, spark, tmp_path):
        ts = datetime.datetime
        input_dir = str(tmp_path / "in")
        out_path = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(input_dir)
        self._write_batch(
            spark,
            input_dir,
            [
                (1, 100, ts(2024, 1, 1, 10), 5.0, "COMPLETED"),
                (2, 100, ts(2024, 1, 1, 12), 7.0, "CANCELLED"),
                (3, 200, ts(2024, 1, 2, 9), 11.0, "COMPLETED"),
            ],
            "b1",
        )
        q = start_daily_sales_stream(spark, input_dir, out_path, ckpt)
        q.awaitTermination(120)
        out = {
            (str(r["sales_date"]), r["product_id"]): r
            for r in spark.read.parquet(out_path).collect()
        }
        assert out[("2024-01-01", 100)]["total_orders_count"] == 2
        assert out[("2024-01-01", 100)]["total_sales_amount"] == 12.0
        assert out[("2024-01-01", 100)]["cancelled_count"] == 1
        # late-arriving + new data → second AvailableNow run upserts
        self._write_batch(
            spark,
            input_dir,
            [
                (4, 100, ts(2024, 1, 1, 23), 3.0, "COMPLETED"),
                (5, 200, ts(2024, 1, 3, 1), 9.0, "COMPLETED"),
            ],
            "b2",
        )
        q2 = start_daily_sales_stream(spark, input_dir, out_path, ckpt)
        q2.awaitTermination(120)
        out = {
            (str(r["sales_date"]), r["product_id"]): r
            for r in spark.read.parquet(out_path).collect()
        }
        assert out[("2024-01-01", 100)]["total_orders_count"] == 3
        assert out[("2024-01-01", 100)]["total_sales_amount"] == 15.0
        assert out[("2024-01-03", 200)]["total_orders_count"] == 1

    def test_each_microbatch_runs_its_stateful_plan_once(
        self, spark, tmp_path
    ):
        """numRowsTotal sums over every execution of a microbatch's
        stateful plan, so it equals the state store's own row count
        only when the sink runs the plan once."""
        ts = datetime.datetime
        input_dir, out_path, ckpt = (
            str(tmp_path / d) for d in ("in", "out", "ckpt")
        )
        os.makedirs(input_dir)
        self._write_batch(
            spark,
            input_dir,
            [(i, 100 + i % 7, ts(2024, 1, 1 + i % 3, 10), 1.0, "COMPLETED")
             for i in range(42)],
            "b1",
        )
        q = start_daily_sales_stream(spark, input_dir, out_path, ckpt)
        q.awaitTermination(120)
        assert spark.read.parquet(out_path).count() == 21
        batches = [p for p in q.recentProgress if p["numInputRows"]]
        assert batches
        for p in batches:
            state = (
                spark.read.format("statestore")
                .option("batchId", p["batchId"])
                .load(ckpt)
            )
            assert p["stateOperators"][0]["numRowsTotal"] == state.count()


class TestStreamingDedup:
    def test_replayed_orders_dropped_within_watermark(self, spark, tmp_path):
        import datetime

        from etl_data_warehouse_spark.streaming.daily_sales_stream import (
            deduped_order_stream,
            read_order_stream,
        )

        ts = datetime.datetime
        input_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ck")
        os.makedirs(input_dir)
        rows = [
            (1, 10, ts(2024, 1, 1, 10), 5.0, "COMPLETED"),
            (1, 10, ts(2024, 1, 1, 10), 5.0, "COMPLETED"),  # replay
            (2, 20, ts(2024, 1, 1, 11), 7.0, "COMPLETED"),
        ]
        spark.createDataFrame(
            rows,
            "order_id long, product_id long, order_ts timestamp, "
            "amount double, status string",
        ).coalesce(1).write.mode("append").parquet(input_dir)
        stream = deduped_order_stream(read_order_stream(spark, input_dir))
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.read.parquet(out_dir)
        assert out.count() == 2
        assert out.filter("order_id = 1").count() == 1
        # replay order 1 again in a later microbatch → still dropped
        spark.createDataFrame(
            [(1, 10, ts(2024, 1, 1, 10), 5.0, "COMPLETED"),
             (3, 30, ts(2024, 1, 1, 12), 9.0, "COMPLETED")],
            "order_id long, product_id long, order_ts timestamp, "
            "amount double, status string",
        ).coalesce(1).write.mode("append").parquet(input_dir)
        q2 = (
            deduped_order_stream(read_order_stream(spark, input_dir))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        out = spark.read.parquet(out_dir)
        assert out.filter("order_id = 1").count() == 1
        assert out.filter("order_id = 3").count() == 1
