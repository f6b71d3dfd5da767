"""The benchmark's workloads.

Each workload is driven as a closed loop with one client: one operation at a
time, the next only after the previous returned. It calls the engine only
through its public functions, passed in as ``eng`` (a namespace of the
engine's modules).

``analytics``
    One pass runs every query of ``ANALYTICS_QUERIES`` once: the Spark plan
    from ``plans.corpus.CORPUS[name].fn`` (plan build, including eager
    checkpoints and streaming trigger runs) written to the ``noop`` sink.
    Operation = one query. After the timed passes every query is collected
    once more, without clearing what the passes cached, and compared with
    its DuckDB oracle.
``youbike_ingest``
    One pass replays the seeded 10-minute ticks back to back onto an empty
    warehouse (read the existing tables, ``ingest_snapshot``, append both
    tables with ``write_parquet``), then merges the gold table and writes the
    Tableau CSV. Operation = one tick. Checked against the generator's counts.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time
import traceback
from dataclasses import dataclass

import gen
from spans import Tracer

#: Star-schema/events queries (JVM codegen and shuffles, the m25 replicate
#: fan-out), dedup/similarity queries (eager checkpoints, candidate-pair
#: shuffles) and codec/crawl queries (Python workers, a streaming twin).
#: ``t1_exact_dedup`` is the untouched control.
ANALYTICS_QUERIES = [
    "a1_tpch_q1_pricing_summary",
    "q3_shipping_priority",
    "m25_poisson_bootstrap_ci",
    "j11_interval_overlap_join",
    "s2_embedding_near_dup",
    "mm15_avi_mjpeg_frames",
    "st13_streaming_media_decode",
    "t1_exact_dedup",
]
ANALYTICS_SCALE = 0.01
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


@dataclass
class OpResult:
    name: str
    seconds: float
    error: str | None = None
    is_op: bool = True  # False: pass-level work, kept out of the latency figures


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def _error(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[:300]


def min_samples(tail_q: float, beyond: int = 10) -> int:
    """Fewest samples for which the ``tail_q`` nearest-rank quantile has at
    least ``beyond`` samples above it."""
    n = beyond + 1
    while n - _rank(tail_q, n) < beyond:
        n += 1
    return n


def _rank(q: float, n: int) -> int:
    """1-based nearest-rank position of quantile ``q`` among ``n`` values."""
    return max(1, min(n, math.ceil(round(q * n, 9))))


def tail(values: list[float], q: float) -> tuple[float, int]:
    """Nearest-rank ``q`` quantile and the number of samples above it."""
    s = sorted(values)
    k = _rank(q, len(s))
    return s[k - 1], len(s) - k


class Analytics:
    name = "analytics"
    tail_q = 0.55

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "data")
        self.seed = seed

    def prepare(self) -> dict:
        return {"scale": ANALYTICS_SCALE,
                "rows": gen.write_tables(self.data, self.seed, ANALYTICS_SCALE),
                "queries": ANALYTICS_QUERIES}

    def run_pass(self, eng, spark, tracer, pass_no: int) -> list[OpResult]:
        eng.corpus.clear_pair_graph_cache()  # every pass pays the shared-frame cost
        results = []
        for name in ANALYTICS_QUERIES:
            err = None
            t0 = time.perf_counter()
            with tracer.op(name, pass_no):
                try:
                    with tracer.span("plans.build"):
                        df = eng.corpus.CORPUS[name].fn(spark, self.data)
                    tracer.note(**{"spark.cached_mb": tracer.cached_mb()})
                    with tracer.span("exec.write"):
                        df.write.mode("overwrite").format("noop").save()
                except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                    err = _error(exc)
            results.append(OpResult(name, time.perf_counter() - t0, err))
        return results

    def warm_up(self, eng, spark) -> None:
        self.run_pass(eng, spark, Tracer(), pass_no=-1)

    def check(self, eng, spark) -> list[Check]:
        """Collect every query and compare it with its DuckDB oracle over the
        same inputs (a row-count check where a query has no oracle). Runs
        after the timed passes and keeps their cached frames, so results
        served from state a timed pass left behind are checked too."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ORACLE_TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            checks = []
            for name in ANALYTICS_QUERIES:
                spec = eng.corpus.CORPUS[name]
                try:
                    df = spec.fn(spark, self.data)
                    got = eng.parity.spark_to_pandas(df.collect(), df.columns)
                    if spec.oracle is None:
                        checks.append(Check(name, len(got) > 0, f"rows={len(got)} (no oracle)"))
                        continue
                    diff = eng.parity.diff_frames(got, con.execute(spec.oracle).df())
                    checks.append(Check(name, diff is None, diff or f"rows={len(got)}"))
                except Exception as exc:  # noqa: BLE001
                    checks.append(Check(name, False, _error(exc)))
            return checks
        finally:
            con.close()

    def layer_extras(self) -> dict[str, float]:
        return {}


class YoubikeIngest:
    name = "youbike_ingest"
    tail_q = 0.50
    n_ticks = 20
    warm_up_ticks = 2

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.wh = os.path.join(work, "warehouse")
        self.csv = os.path.join(work, "tableau")
        self.extras: dict[str, float] = {}

    def prepare(self) -> dict:
        self.ticks, self.expected = gen.youbike_ticks(self.seed, self.n_ticks)
        self.weather = gen.hourly_weather(self.n_ticks)
        return {"ticks_per_pass": self.n_ticks, **self.expected}

    def _paths(self, wh: str) -> tuple[str, str]:
        return os.path.join(wh, "station_info"), os.path.join(wh, "station_status")

    def _tick(self, eng, spark, tracer, wh: str, records: list[dict]) -> None:
        info_path, status_path = self._paths(wh)
        with tracer.span("sources.read_existing"):
            info = spark.read.parquet(info_path) if os.path.exists(info_path) else None
            status = spark.read.parquet(status_path) if os.path.exists(status_path) else None
        with tracer.span("pipelines.ingest_snapshot"):
            new_info, new_status = eng.youbike.ingest_snapshot(spark, records, info, status)
        with tracer.span("sources.write_parquet"):
            eng.writers.write_parquet(new_info, info_path)
            eng.writers.write_parquet(new_status, status_path)

    def warm_up(self, eng, spark) -> None:
        """A short untimed pass: the first ticks, the gold merge and the
        export. Correctness is checked on the final state after the timed
        passes (``check``)."""
        self.run_pass(eng, spark, Tracer(), pass_no=-1, ticks=self.ticks[:self.warm_up_ticks])

    def run_pass(self, eng, spark, tracer, pass_no: int, ticks=None) -> list[OpResult]:
        shutil.rmtree(self.wh, ignore_errors=True)
        results = []
        for t, records in enumerate(self.ticks if ticks is None else ticks):
            err = None
            t0 = time.perf_counter()
            with tracer.op(f"tick{t:02d}", pass_no):
                try:
                    self._tick(eng, spark, tracer, self.wh, records)
                except Exception as exc:  # noqa: BLE001
                    err = _error(exc)
            results.append(OpResult(f"tick{t:02d}", time.perf_counter() - t0, err))
        err = None
        t0 = time.perf_counter()
        with tracer.op("gold_export", pass_no, kind="step"):
            try:
                info_path, status_path = self._paths(self.wh)
                with tracer.span("pipelines.build_gold_table"):
                    gold = eng.youbike.build_gold_table(
                        spark.read.parquet(status_path), spark.read.parquet(info_path),
                        eng.youbike.weather_to_df(spark, self.weather))
                with tracer.span("pipelines.tableau_export"):
                    eng.youbike.tableau_master_dataset(gold, self.csv)
            except Exception as exc:  # noqa: BLE001
                err = _error(exc)
        results.append(OpResult("gold_export", time.perf_counter() - t0, err, is_op=False))
        return results

    def check(self, eng, spark) -> list[Check]:
        exp = self.expected
        info_path, status_path = self._paths(self.wh)
        checks = []

        def add(name: str, fn) -> None:
            try:
                got, want = fn()
                checks.append(Check(name, got == want, f"got={got} want={want}"))
            except Exception as exc:  # noqa: BLE001
                checks.append(Check(name, False, _error(exc)))

        written = {}

        def status_rows():
            written["rows"] = spark.read.parquet(status_path).count()
            return written["rows"], exp["status_rows"]

        add("status_rows", status_rows)
        add("info_rows", lambda: (spark.read.parquet(info_path).count(), exp["stations"]))

        def reingest():
            new_info, new_status = eng.youbike.ingest_snapshot(
                spark, self.ticks[-1], spark.read.parquet(info_path), spark.read.parquet(status_path))
            return new_info.count() + new_status.count(), 0

        add("reingest_last_tick_appends_0", reingest)

        def gold_rows():
            gold = eng.youbike.build_gold_table(
                spark.read.parquet(status_path), spark.read.parquet(info_path),
                eng.youbike.weather_to_df(spark, self.weather))
            return gold.count(), exp["status_rows"]

        add("gold_rows", gold_rows)

        def csv_rows():
            import pandas as pd

            parts = glob.glob(os.path.join(self.csv, "*.csv"))
            return sum(len(pd.read_csv(p, encoding="utf-8-sig")) for p in parts), exp["status_rows"]

        add("tableau_csv_rows", csv_rows)
        files = glob.glob(os.path.join(self.wh, "*", "*.parquet"))
        self.extras = {
            "sources.warehouse_files": float(len(files)),
            "sources.rows_kept_frac": written.get("rows", 0) / exp["records_offered"],
        }
        return checks

    def layer_extras(self) -> dict[str, float]:
        return self.extras


WORKLOADS = {w.name: w for w in (Analytics, YoubikeIngest)}
