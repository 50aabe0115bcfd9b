"""The benchmark's workloads.

Each workload is driven by ``run.py`` as a closed loop with one client:

- ``setup()`` generates the seeded inputs (``datagen_s``, repeated and
  reported as a median by the runner) and warms the engine
  (``warm_s``); both count towards ``setup_s``.
- ``prepare(i)`` does untimed per-operation work (restore state, land
  the day's inputs), ``op(i)`` is the timed operation, ``verify(i)``
  checks its output untimed.
- ``finish()`` runs the end-of-run output checks.

Output checks are counted in ``checks`` / ``check_failures`` and end up
in the result's ``attempted`` / ``failed``.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import datagen
from tracing import DAY2_STAGES, dir_bytes

STAR_QUERIES = [
    "q01_monthly_revenue", "q02_customer_tier", "q03_product_performance",
    "q04_retention_cohort", "q05_daily_anomaly", "q08_fact_daily_sales",
    "q42_fact_lineitem", "q62_tpch_q1_pricing_summary",
    "q63_tpch_q3_shipping_priority", "q65_tpch_q6_forecast_revenue",
    "q69_tpch_q7_volume_shipping", "q71_tpch_q9_product_profit",
    "q72_tpch_q13_order_counts", "q76_tpch_q18_large_orders",
]
STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]

# Input sizes: "full" is what the benchmark measures, "tiny" is the
# self-test size.
SIZES = {
    "full": dict(star_sf=0.02, etl_sf=0.005, stream_rows=10_000,
                 boot_docs=200, day_docs=100),
    "tiny": dict(star_sf=0.001, etl_sf=0.001, stream_rows=400,
                 boot_docs=120, day_docs=60),
}


def _views(con, sf_dir: str) -> None:
    for t in STAR_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")


class Workload:
    # An operation loop ends on a whole unit (star: a pass of queries)
    # after at least one unit and ``--seconds``. A traced run repeats
    # ``trace_pattern`` (traced or not, per unit) whole.
    unit_ops = 1
    trace_pattern = (False, True, True, False)

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.size = SIZES[ctx.scale]
        self.checks = 0
        self.check_failures = 0
        self.details: list[dict] = []

    def check(self, ok: bool) -> bool:
        self.checks += 1
        self.check_failures += 0 if ok else 1
        return ok

    def done(self, n_ops: int, elapsed: float, seconds: float, trace: bool) -> bool:
        units, rest = divmod(n_ops, self.unit_ops)
        if rest or elapsed < seconds:
            return False
        if trace:
            k = len(self.trace_pattern)
            return units >= k and units % k == 0
        return units >= 1

    def traced(self, i: int) -> bool:
        """Whether operation ``i`` of a traced run records spans. Mixing
        traced and untraced units lets the run measure its own tracing
        overhead; the default order (untraced, traced, traced,
        untraced) cancels the warm-up trend."""
        return self.trace_pattern[(i // self.unit_ops) % len(self.trace_pattern)]

    def prepare(self, i: int) -> None:
        pass

    def verify(self, i: int) -> bool:
        return True

    def layer_extra(self, i: int) -> dict:
        return {}

    def finish(self) -> None:
        pass


class StarAnalytics(Workload):
    """14 registry queries over the star schema into a noop sink, in a
    seeded order per pass; whole passes only."""

    name = "star_analytics"
    unit_ops = len(STAR_QUERIES)

    def setup(self) -> dict:
        from etl_data_warehouse_spark.plans.registry import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.sf_dir = os.path.join(self.ctx.work, "star")
        t0 = time.perf_counter()
        datagen.write_star(self.sf_dir, self.size["star_sf"], self.ctx.seed)
        gen_s = time.perf_counter() - t0
        warm_s = self._validation_pass()
        return {"datagen_s": gen_s, "warm_s": warm_s,
                "regen": lambda: datagen.write_star(
                    self.sf_dir, self.size["star_sf"], self.ctx.seed)}

    def _validation_pass(self) -> float:
        """Untimed warm pass that also checks every query against its
        DuckDB oracle; returns the Spark-side time only."""
        cc = _load_tool(self.ctx.root, "check_correctness")
        con = duckdb.connect()
        _views(con, self.sf_dir)
        spark_s = 0.0
        for name in self._order(0):
            t0 = time.perf_counter()
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as ex:  # counted, reported, never fatal
                self.ctx.log(f"validation {name}: spark error {ex!r}")
                self.check(False)
                continue
            finally:
                spark_s += time.perf_counter() - t0
            try:
                res = con.execute(self.oracles[name])
                dcols = [d[0] for d in res.description]
                ok = (sorted(cols) == sorted(dcols)
                      and cc.table_hash(cols, rows) == cc.table_hash(dcols, res.fetchall()))
            except Exception as ex:
                self.ctx.log(f"validation {name}: oracle error {ex!r}")
                ok = False
            if not self.check(ok):
                self.ctx.log(f"validation {name}: result differs from oracle")
        con.close()
        return spark_s

    def _order(self, p: int) -> list[str]:
        return random.Random(self.ctx.seed * 1009 + p).sample(STAR_QUERIES, self.unit_ops)

    def op(self, i: int) -> None:
        name = self._order(i // self.unit_ops)[i % self.unit_ops]
        tr = self.tracer
        with tr.span("plans.build", query=name):
            df = self.queries[name](self.spark, self.sf_dir)
        # the first job id of the write, to split planning from execution
        job0 = self.ctx.probe.ids()[0] if tr.active else None
        with tr.span("exec.write", job0=job0):
            df.write.format("noop").mode("overwrite").save()


class DailyIngest(Workload):
    """One day of the warehouse's daily cycle per operation, timed as a
    whole: ``run_pipeline`` upserts today's full extract into a
    warehouse holding yesterday's load (restored before every
    operation); the day's orders, landed as parquet files before the
    operation, are drained by an AvailableNow run of the daily sales
    stream; and the day's document batch goes through
    ``run_day2_ingest`` against the corpus state that set-up
    bootstrapped.

    The three steps use their own sessions of the one SparkContext, so
    the session settings a sink toggles while it writes stay private to
    its step, and set-up can warm the three concurrently: yesterday's
    load, the corpus bootstrap and a first drain of the stream."""

    name = "daily_ingest"
    # An operation takes tens of seconds and the first one after set-up
    # is the first incremental corpus day, so an untraced twin would not
    # be comparable: a traced run traces every operation and reports no
    # tracing overhead.
    trace_pattern = (True,)
    n_products = 500
    n_files = 4
    late_frac = 0.05
    day2_cfg = dict(domain_cap=1_000_000, n_cells=16, m=4, codes=16,
                    n_shards=4, pack_budget=256)

    def setup(self) -> dict:
        from etl_data_warehouse_spark.plans import day2_pipeline, pipeline
        from etl_data_warehouse_spark.streaming import daily_sales_stream

        self.pipeline, self.day2, self.stream = pipeline, day2_pipeline, daily_sales_stream
        w, sf, seed = self.ctx.work, self.size["etl_sf"], self.ctx.seed
        self.day0, self.day1 = os.path.join(w, "extract0"), os.path.join(w, "extract1")
        self.wh, self.snap = os.path.join(w, "warehouse"), os.path.join(w, "warehouse0")
        self.inp, self.out, self.ck = (
            os.path.join(w, d) for d in ("orders_in", "daily_sales", "checkpoint"))
        self.state = os.path.join(w, "corpus_state")

        def gen():
            datagen.write_star(self.day0, sf, seed)
            datagen.write_star(self.day1, sf, seed, growth=0.02)
            self._write_corpus(0)

        t0 = time.perf_counter()
        gen()
        gen_s = time.perf_counter() - t0
        self.expected = self._expected_counts()
        self.corpus_spark = self.spark.newSession()
        self.stream_spark = self.spark.newSession()
        t0 = time.perf_counter()
        with ThreadPoolExecutor(3) as pool:
            load = pool.submit(pipeline.run_pipeline, self.spark, self.day0, self.wh)
            boot = pool.submit(self._ingest, 0)
            drain = pool.submit(lambda: (self._land(0), self._drain()))
            drain.result()
            self.check(load.result()["status"] == "SUCCESS")
            self.check(boot.result()["status"] == "SUCCESS")
        warm_s = time.perf_counter() - t0
        shutil.copytree(self.wh, self.snap)
        return {"datagen_s": gen_s, "warm_s": warm_s, "regen": gen}

    # --- inputs -----------------------------------------------------------
    def _expected_counts(self) -> dict:
        con = duckdb.connect()
        _views(con, self.day1)
        q = {
            "dim_date": "SELECT date_diff('day', min(o_orderdate), max(o_orderdate)) + 1 FROM orders",
            "dim_customers": "SELECT count(*) FROM customer",
            "dim_products": "SELECT count(*) FROM part",
            "fact_orders": "SELECT count(*) FROM orders",
            "fact_daily_sales": "SELECT count(*) FROM (SELECT DISTINCT CAST(l_shipdate AS DATE), l_partkey FROM lineitem)",
        }
        out = {t: con.execute(sql).fetchone()[0] for t, sql in q.items()}
        con.close()
        return out

    def _corpus_dir(self, day: int) -> str:
        return os.path.join(self.ctx.work, "corpus_in", f"day{day}")

    def _write_corpus(self, day: int) -> None:
        boot, per_day = self.size["boot_docs"], self.size["day_docs"]
        lo, n = (0, boot) if day == 0 else (boot + (day - 1) * per_day, per_day)
        datagen.write_corpus_day(self._corpus_dir(day), self.ctx.seed, day, lo, n)

    def _land(self, day: int) -> None:
        table = datagen.order_day(self.ctx.seed, day, self.size["stream_rows"],
                                  self.n_products, self.late_frac)
        datagen.write_order_day(table, self.inp, day, self.n_files)

    # --- the three steps of a day -----------------------------------------
    def _ingest(self, day: int) -> dict:
        d = self._corpus_dir(day)
        docs = self.corpus_spark.read.parquet(os.path.join(d, "docs.parquet"))
        vecs = self.corpus_spark.read.parquet(os.path.join(d, "vectors.parquet"))
        return self.day2.run_day2_ingest(docs, vecs, self.state, batch_id=day + 1,
                                         **self.day2_cfg)

    def _drain(self) -> None:
        q = self.stream.start_daily_sales_stream(self.stream_spark, self.inp, self.out,
                                                 self.ck)
        q.awaitTermination()
        self.query = q
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def prepare(self, i):
        shutil.rmtree(self.wh)
        shutil.copytree(self.snap, self.wh)
        self._land(i + 1)
        self._write_corpus(i + 1)

    def op(self, i):
        self.last = self.audit = None
        tr = self.tracer
        t = [time.perf_counter()]
        with tr.span("plans.pipeline.run_pipeline"):
            self.last = self.pipeline.run_pipeline(self.spark, self.day1, self.wh)
        t.append(time.perf_counter())
        with tr.span("stream.drain"):
            self._drain()
        t.append(time.perf_counter())
        with tr.span("day2.ingest"):
            self.audit = self._ingest(i + 1)
        t.append(time.perf_counter())
        # step times for the run record (diagnostic, not a metric)
        self.details.append({"pipeline_s": t[1] - t[0], "drain_s": t[2] - t[1],
                             "day2_s": t[3] - t[2], "audit": self.audit})

    # --- checks and layer values --------------------------------------------
    def verify(self, i):
        if self.last["status"] != "SUCCESS" or self.audit["status"] != "SUCCESS":
            self.ctx.log(f"pipeline {self.last['status']}, day-2 ingest {self.audit['status']}")
            return False
        con = duckdb.connect()
        got = {
            t: con.execute(
                f"SELECT count(*) FROM read_parquet('{self.wh}/{t}/*.parquet')"
            ).fetchone()[0]
            for t in self.expected
        }
        # every kept document is shipped to exactly one shard, once
        rows, ids = con.execute(
            "SELECT count(*), count(DISTINCT doc_id) FROM "
            f"read_parquet('{self.state}/shards/*/*/*.parquet')").fetchone()
        con.close()
        if got != self.expected:
            self.ctx.log(f"etl row counts {got} != expected {self.expected}")
        if rows != ids:
            self.ctx.log(f"shards hold {rows} rows for {ids} doc ids")
        return got == self.expected and rows == ids

    def layer_extra(self, i):
        prog = self.query.recentProgress
        dur = [p["durationMs"] for p in prog]

        def total(*keys):
            return sum(d.get(k, 0) for d in dur for k in keys) / 1000.0

        state = [s for p in prog for s in p["stateOperators"]]
        out = {
            "stream.add_batch_s": total("addBatch"),
            "stream.source_s": total("getBatch", "latestOffset"),
            "stream.commit_s": total("walCommit", "commitOffsets"),
            "stream.batches": float(len(prog)),
            "stream.useful_batch_ratio":
                sum(1 for p in prog if p["numInputRows"] > 0) / max(1, len(prog)),
            "state.rows_total": float(state[-1]["numRowsTotal"]) if state else 0.0,
            "state.rows_dropped_by_watermark":
                float(sum(s.get("numRowsDroppedByWatermark", 0) for s in state)),
            "day2.state_bytes": float(dir_bytes(self.state)),
        }
        for st in DAY2_STAGES:
            out[f"day2.{st}_s"] = float(self.audit["stage_sec"].get(st, 0.0))
        return out

    def finish(self):
        """The stream's sink must equal a static fold over every landed
        file, late rows included."""
        con = duckdb.connect()
        fold = con.execute(f"""
            SELECT CAST(order_ts AS DATE), product_id,
                   CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE),
                   COUNT(*), SUM(CASE WHEN status = 'CANCELLED' THEN 1 ELSE 0 END)
            FROM read_parquet('{self.inp}/*.parquet') GROUP BY 1, 2 ORDER BY 1, 2
        """).fetchall()
        sink = con.execute(f"""
            SELECT sales_date, product_id, total_sales_amount,
                   total_orders_count, cancelled_count
            FROM read_parquet('{self.out}/*.parquet') ORDER BY 1, 2
        """).fetchall()
        con.close()
        if not self.check(fold == sink):
            self.ctx.log(f"stream sink ({len(sink)} rows) != static fold ({len(fold)} rows)")


def _load_tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {w.name: w for w in (StarAnalytics, DailyIngest)}
