"""``bi_adhoc``: ad-hoc BI reads of the star, one query per operation.

Set-up builds K months of the star with ``plans.star.run_monthly_build``.
One closed-loop client then sends the dialect-neutral query templates in
turn through ``sql.run_sql``, each with a parameter set the seed draws
from the template's list.  Every distinct query instance is replayed on
DuckDB over the catalog's parquet files after the timed loop, and the
rows must match exactly.
"""

from __future__ import annotations

import os
import random
import time
from itertools import combinations, zip_longest
from statistics import median, quantiles

from glue_etl_nyc_yellow_taxi_analysis_spark.plans.star import run_monthly_build
from glue_etl_nyc_yellow_taxi_analysis_spark.sql import run_sql

import gen
from counters import scan_metrics

YEAR = 2021
SIZES = {"full": {"rows": 20000, "months": 3}, "tiny": {"rows": 2000, "months": 2}}
DIMS = ["dim_date", "dim_time", "dim_payment_type", "dim_trip_peak_band",
        "dim_vendors", "dim_ratecode"]

# name -> (SQL template, every parameter set it is sent with, given the
# months).  Money stays DECIMAL and only integer and string columns are
# grouped, so both engines return identical values.
TEMPLATES = {
    "month_payment": (
        """SELECT p.payment_type_description, COUNT(*) AS trips, SUM(f.total_amount) AS revenue
FROM fact_uber_trips f
JOIN dim_payment_type p ON CAST(f.payment_type AS STRING) = p.payment_type_id
WHERE f.processed_year = '{y}' AND f.processed_month = '{m}'
GROUP BY p.payment_type_description""",
        lambda ms: [{"y": YEAR, "m": m} for m in ms],
    ),
    "month_weekday": (
        """SELECT d.day_long, COUNT(*) AS trips, SUM(f.passenger_count) AS passengers
FROM fact_uber_trips f
JOIN dim_date d ON f.tpep_pickup_date_id = d.date_id
WHERE f.processed_year = '{y}' AND f.processed_month = '{m}'
GROUP BY d.day_long""",
        lambda ms: [{"y": YEAR, "m": m} for m in ms],
    ),
    "history_by_month": (
        """SELECT processed_year, processed_month, COUNT(*) AS trips,
       SUM(total_amount) AS revenue, SUM(trip_duration_minutes) AS minutes
FROM fact_uber_trips
WHERE vendor_id = {v}
GROUP BY processed_year, processed_month""",
        lambda ms: [{"v": v} for v in (1, 2, 6, 7)],
    ),
    "top_pairs": (
        """SELECT pickup_location_id, drop_off_location_id, COUNT(*) AS trips,
       SUM(total_amount) AS revenue
FROM fact_uber_trips
WHERE passenger_count <= {p}
GROUP BY pickup_location_id, drop_off_location_id
ORDER BY trips DESC, revenue DESC, pickup_location_id, drop_off_location_id
LIMIT {k}""",
        lambda ms: [{"p": p, "k": k} for p in range(2, 7) for k in (5, 10, 20)],
    ),
    "hour_band": (
        """SELECT t.hour, b.trip_peak_band_description, COUNT(*) AS trips
FROM fact_uber_trips f
JOIN dim_time t ON f.tpep_pickup_time_id = t.time_id
JOIN dim_trip_peak_band b ON CAST(f.trip_peak_band_id AS STRING) = b.trip_peak_band_id
WHERE f.processed_year = '{y}' AND f.processed_month = '{m}'
GROUP BY t.hour, b.trip_peak_band_description""",
        lambda ms: [{"y": YEAR, "m": m} for m in ms],
    ),
    "weekday_payment": (
        """SELECT d.day_short, p.payment_type_description, COUNT(*) AS trips,
       SUM(f.total_amount) AS revenue
FROM fact_uber_trips f
JOIN dim_date d ON f.tpep_pickup_date_id = d.date_id
JOIN dim_payment_type p ON CAST(f.payment_type AS STRING) = p.payment_type_id
WHERE f.passenger_count >= {p}
GROUP BY d.day_short, p.payment_type_description""",
        lambda ms: [{"p": p} for p in range(1, 6)],
    ),
    "vendor_months": (
        """SELECT v.vendor_name, f.processed_month, COUNT(*) AS trips, SUM(f.total_amount) AS revenue
FROM fact_uber_trips f
JOIN dim_vendors v ON CAST(f.vendor_id AS STRING) = v.vendor_id
WHERE f.processed_year = '{y}' AND f.processed_month IN ({ms})
GROUP BY v.vendor_name, f.processed_month""",
        lambda ms: [{"y": YEAR, "ms": ", ".join(f"'{m}'" for m in pair)}
                    for pair in combinations(ms, 2)],
    ),
    "ratecode_distance": (
        """SELECT r.rate_code_description,
       CASE WHEN f.trip_distance < 10 THEN 'short'
            WHEN f.trip_distance < {d} THEN 'medium' ELSE 'long' END AS band,
       COUNT(*) AS trips
FROM fact_uber_trips f
JOIN dim_ratecode r ON CAST(f.rate_code_id AS STRING) = r.rate_code_id
WHERE f.processed_year = '{y}' AND f.processed_month = '{m}'
GROUP BY 1, 2""",
        lambda ms: [{"y": YEAR, "m": m, "d": d} for m in ms for d in (20, 30, 40)],
    ),
}


def _norm(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


class BiAdhoc:
    name = "bi_adhoc"
    cycle = len(TEMPLATES)  # the first cycle sends each template once
    warmup_clients = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.rows = SIZES[ctx.size]["rows"]
        self.months = [str(m) for m in range(1, SIZES[ctx.size]["months"] + 1)]
        self.instances = {name: [sql.format(**p) for p in params(self.months)]
                          for name, (sql, params) in TEMPLATES.items()}
        self.rng = random.Random(f"bi_adhoc-{ctx.seed}")
        self.results: dict[str, list[tuple]] = {}  # first rows of each distinct SQL
        self.mismatch: set[str] = set()  # SQL whose repeats disagreed

    # -- set-up -----------------------------------------------------------
    def setup(self) -> dict:
        ctx = self.ctx
        raw = os.path.join(ctx.work, "bi_raw")
        os.makedirs(raw)
        st = {"db": "perfbench_bi"}
        for m in self.months:
            path = os.path.join(raw, gen.file_name(YEAR, int(m)))
            gen.write_month(path, ctx.seed, YEAR, int(m), self.rows, self.rows // 100)
            run_monthly_build(ctx.spark, path, st["db"], str(YEAR), m)
        ctx.spark.catalog.setCurrentDatabase(st["db"])
        return st

    def warmup(self, st: dict) -> list[tuple[str, str]]:
        """Every query instance once, the templates interleaved: the timed
        loop then sends only instances Spark has planned and generated
        code for before."""
        todo = [[(name, sql) for sql in sqls] for name, sqls in self.instances.items()]
        return [q for rank in zip_longest(*todo) for q in rank if q is not None]

    def teardown(self, st: dict) -> None:
        self.ctx.spark.catalog.setCurrentDatabase("default")
        self.ctx.spark.sql(f"DROP DATABASE IF EXISTS {st['db']} CASCADE")

    # -- operations -------------------------------------------------------
    def prepare_op(self, st: dict, i: int) -> tuple[str, str]:
        # round robin over the templates keeps the mix, and so the
        # latency median, the same for every seed; the seed picks the
        # parameters
        name = list(TEMPLATES)[i % len(TEMPLATES)]
        return name, self.rng.choice(self.instances[name])

    def op(self, st: dict, query: tuple[str, str]) -> dict:
        name, sql = query
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("bench.bi_query"):
            t0 = time.perf_counter()
            with tr.span("sql.analyze"):
                df = run_sql(spark, sql)
            t1 = time.perf_counter()
            with tr.span("sql.plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span("sql.exec"):
                rows = df.collect()  # reuses the plan forced above
            t3 = time.perf_counter()
        got = _norm(rows)
        if self.results.setdefault(sql, got) != got:
            self.mismatch.add(sql)
        return {
            "template": name,
            "sql": sql,
            "latency_s": t3 - t0,
            "analyze_ms": (t1 - t0) * 1e3,
            "plan_ms": (t2 - t1) * 1e3,
            "exec_ms": (t3 - t2) * 1e3,
            **scan_metrics(df),
        }

    # -- output checks ----------------------------------------------------
    def check(self, st: dict, records: list[dict]) -> list[bool]:
        """Replay every distinct query instance on DuckDB over the catalog's
        parquet files; an operation passes when its rows match exactly."""
        import duckdb

        base = os.path.join(self.ctx.warehouse, f"{st['db']}.db")
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW fact_uber_trips AS SELECT * FROM read_parquet("
                f"'{base}/fact_uber_trips/*/*/*.parquet', hive_partitioning = true,"
                " hive_types_autocast = false)"
            )
            for t in DIMS:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{base}/{t}/*.parquet')")
            ok = {sql: sql not in self.mismatch
                  and _norm(con.execute(sql).fetchall()) == rows
                  for sql, rows in self.results.items()}
        finally:
            con.close()
        return [ok[r["sql"]] for r in records]

    def summary(self, records: list[dict]) -> dict:
        lat = [r["latency_s"] * 1e3 for r in records]
        n = len(lat)
        return {
            "bi_query_p50_ms": median(lat),
            # the highest percentile with ten samples beyond it
            "bi_query_p90_ms": quantiles(lat, n=10)[-1] if n >= 100 else None,
            "bi_qps": n / sum(lat) * 1e3,
            "queries": n,
            "distinct_queries": len(self.results),
        }
