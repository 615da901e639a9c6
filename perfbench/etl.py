"""``etl_monthly``: the monthly write chain, one month per operation.

An operation lands the next generated raw month in the landing
directory, drains it with ``streaming.ingest.monthly_star_ingest`` (the
Lambda -> Job 1 replacement) against a persistent checkpoint, then loads
that month into an embedded-Derby warehouse with
``plans.warehouse.load_star_to_warehouse`` (Job 2).
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

from glue_etl_nyc_yellow_taxi_analysis_spark.plans.star import ensure_dimensions
from glue_etl_nyc_yellow_taxi_analysis_spark.plans.warehouse import load_star_to_warehouse
from glue_etl_nyc_yellow_taxi_analysis_spark.sources.config import (
    drop_derby_memory_db,
    resolve_warehouse_config,
)
from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import JdbcWarehouse
from glue_etl_nyc_yellow_taxi_analysis_spark.streaming.ingest import monthly_star_ingest

import gen

FACT = "fact_uber_trips"
FIRST_YEAR = 2021
SIZES = {"full": {"rows": 20000}, "tiny": {"rows": 2000}}


class TimedWarehouse(JdbcWarehouse):
    """``JdbcWarehouse`` that times its existence probes and appends."""

    def __init__(self, spark, url, properties, tracer):
        super().__init__(spark, url, properties)
        self.tracer = tracer
        self.reset()

    def reset(self) -> None:
        self.stats = {"exists_calls": 0, "exists_s": 0.0, "append_s": 0.0}

    def table_exists(self, table: str) -> bool:
        t0 = time.perf_counter()
        with self.tracer.span("sources.writers.exists"):
            found = super().table_exists(table)
        self.stats["exists_calls"] += 1
        self.stats["exists_s"] += time.perf_counter() - t0
        return found

    def append(self, df, table: str) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("sources.writers.append"):
            super().append(df, table)
        self.stats["append_s"] += time.perf_counter() - t0


def _year_month(index: int) -> tuple[int, int]:
    return FIRST_YEAR + index // 12, index % 12 + 1


class EtlMonthly:
    name = "etl_monthly"
    cycle = 1  # operations whose Spark counts are reported
    warmup_months = 4
    warmup_clients = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rows = SIZES[ctx.size]["rows"]
        self.dups = self.rows // 100

    # -- set-up -----------------------------------------------------------
    def setup(self) -> dict:
        ctx = self.ctx
        base = os.path.join(ctx.work, "etl")
        st = {
            "db": "perfbench_etl",
            "stage": os.path.join(base, "stage"),
            "land": os.path.join(base, "landing"),
            "ckpt": os.path.join(base, "checkpoint"),
            "next": 0,
        }
        os.makedirs(st["stage"])
        os.makedirs(st["land"])
        url, props = resolve_warehouse_config(f"perfbench_{os.getpid()}")
        st["url"] = url
        st["wh"] = TimedWarehouse(ctx.spark, url, props, ctx.tracer)
        ensure_dimensions(ctx.spark, st["db"])
        first = self._stage_next(st)
        st["schema"] = ctx.spark.read.parquet(first[0]).schema
        self._ingest_and_load(st, first)  # the warm-up month
        return st

    def teardown(self, st: dict) -> None:
        self.ctx.spark.sql(f"DROP DATABASE IF EXISTS {st['db']} CASCADE")
        drop_derby_memory_db(self.ctx.spark, st["url"])

    def _stage_next(self, st: dict) -> tuple[str, str, str]:
        """Generate the next month outside the landing directory; returns
        (path, processed_year, processed_month)."""
        year, month = _year_month(st["next"])
        st["next"] += 1
        path = os.path.join(st["stage"], gen.file_name(year, month))
        gen.write_month(path, self.ctx.seed, year, month, self.rows, self.dups)
        return path, str(year), str(month)

    def _ingest_and_load(self, st: dict, staged: tuple[str, str, str]) -> dict:
        """Land, drain and load one staged month; returns its timings."""
        ctx = self.ctx
        tr = ctx.tracer
        path, year, month = staged
        file_seen: list[float] = []
        with tr.span("streaming.drain") as drain:
            t0 = time.perf_counter()
            shutil.move(path, os.path.join(st["land"], os.path.basename(path)))
            q = monthly_star_ingest(
                ctx.spark, st["land"], st["db"], st["schema"], st["ckpt"],
                on_file=lambda _path: file_seen.append(time.perf_counter()),
            )
            q.awaitTermination()
        t1 = time.perf_counter()
        if file_seen:
            tr.add("streaming.pre_file", t0, file_seen[0], parent=drain)
            tr.add("plans.star.file_build", file_seen[0], t1, parent=drain)
        st["wh"].reset()
        with tr.span("plans.warehouse.load"):
            load_star_to_warehouse(
                ctx.spark, st["wh"], st["db"], year, month, skip_if_loaded=False
            )
        t2 = time.perf_counter()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {
            "latency_s": t2 - t0,
            "ingest_s": t1 - t0,
            "load_s": t2 - t1,
            "pre_file_s": (file_seen[0] - t0) if file_seen else None,
            "file_build_s": (t1 - file_seen[0]) if file_seen else None,
            "batches": len(progress),
            "query_planning_ms": sum(p["durationMs"].get("queryPlanning", 0) for p in progress),
            "add_batch_ms": sum(p["durationMs"].get("addBatch", 0) for p in progress),
            "year": year,
            "month": month,
            **st["wh"].stats,
        }

    def warmup(self, st: dict) -> list[tuple[str, str, str]]:
        return [self._stage_next(st) for _ in range(self.warmup_months)]

    # -- operations -------------------------------------------------------
    def prepare_op(self, st: dict, i: int) -> tuple[str, str, str]:
        return self._stage_next(st)

    def op(self, st: dict, staged: tuple[str, str, str]) -> dict:
        with self.ctx.tracer.span("bench.etl_month"):
            rec = self._ingest_and_load(st, staged)
        rec["warehouse_rows_per_s"] = gen.expected_fact_rows(self.rows) / rec["append_s"]
        rec.update(self._written(st, rec["year"], rec["month"]))
        return rec

    def _written(self, st: dict, year: str, month: str) -> dict:
        part = os.path.join(
            self.ctx.warehouse, f"{st['db']}.db", FACT,
            f"processed_year={year}", f"processed_month={month}",
        )
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        return {
            "files_written": len(files),
            "bytes_written": sum(os.path.getsize(os.path.join(part, f)) for f in files),
        }

    # -- output checks ----------------------------------------------------
    def check(self, st: dict, records: list[dict]) -> list[bool]:
        """Fact rows per month equal the generator's closed-form count, and
        the warehouse holds exactly the catalog's rows for the month."""
        spark = self.ctx.spark
        catalog = {
            (r["processed_year"], r["processed_month"]): r["n"]
            for r in spark.table(f"{st['db']}.{FACT}")
            .groupBy("processed_year", "processed_month")
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        warehouse = self._warehouse_counts(st["url"])
        expected = gen.expected_fact_rows(self.rows)
        return [
            catalog.get(key) == expected and warehouse.get(key) == expected
            for key in ((r["year"], r["month"]) for r in records)
        ]

    def _warehouse_counts(self, url: str) -> dict:
        jvm = self.ctx.spark.sparkContext._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url.split(";")[0])
        try:
            # string columns land in Derby as CLOB, which GROUP BY rejects
            y = 'CAST("processed_year" AS VARCHAR(8))'
            m = 'CAST("processed_month" AS VARCHAR(8))'
            rs = conn.createStatement().executeQuery(
                f"SELECT {y}, {m}, COUNT(*) FROM {FACT.upper()} GROUP BY {y}, {m}"
            )
            out = {}
            while rs.next():
                out[(rs.getString(1), rs.getString(2))] = rs.getLong(3)
            return out
        finally:
            conn.close()

    def summary(self, records: list[dict]) -> dict:
        """Workload-specific end-to-end figures for the detail record."""
        total = sum(r["latency_s"] for r in records)
        return {
            "ingest_month_s": median(r["ingest_s"] for r in records),
            "load_month_s": median(r["load_s"] for r in records),
            "etl_rows_per_s": len(records) * (self.rows + self.dups + len(gen.VIOLATIONS)) / total,
            "months": len(records),
        }
