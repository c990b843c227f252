"""The workloads. Each is a closed loop with one client.

A workload generates its inputs from the seed in ``setup``, names its
warm-up and timed ops, runs one op in ``run`` (the timed region) and
checks its result in ``check`` (outside the timed region). An op is:

- ``etl_reports``: one ``run_pipeline`` call over 50 reports;
- ``analytics_mix``: one registered query id, or a monitoring-store read
  (``mon:jobs``, ``mon:reports``, ``mon:summary``).
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

import datagen
from digest import digest
from procstat import sample_tree
from spans import Tracer, patched

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Op:
    index: int
    name: str
    prep: object = None
    result: object = None


class Workload:
    name = ""
    cpus = 2  # Spark parallelism (local[cpus], cpus shuffle partitions)
    warmup_passes = 1
    nominal_pass_s = 1.0  # sizes the timed window; see window_ops

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.exclude_pids: frozenset[int] = frozenset()
        self.setup_parts: dict[str, float] = {}

    @contextmanager
    def timed_part(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.setup_parts[name] = time.perf_counter() - t

    # Subclasses define these.
    def setup(self) -> None: ...
    def pool(self) -> list[str]: ...
    def run(self, op: Op) -> None: ...
    def check(self, op: Op) -> str | None: ...

    def prepare(self, op: Op) -> None:
        """Per-op set-up outside the timed region."""

    def cleanup(self, op: Op) -> None:
        """Per-op tear-down outside the timed region."""

    def close(self) -> None: ...

    def load_engine(self) -> None:
        """Import the engine modules the workload drives."""

    def traced_patches(self) -> list:
        """Context managers the traced run enters around the window."""
        return []

    def on_window_start(self) -> None: ...

    def on_window_end(self) -> None: ...

    def requests_per_report(self) -> float:
        return 0.0

    def token_fetches_per_op(self) -> float:
        return 0.0

    def sequence(self, passes: int) -> list[str]:
        """``passes`` passes over the pool in one seed-shuffled order:
        every pass holds each pool entry once, so the mix is the same for
        every seed, and every op in the window runs exactly one pass after
        its previous run."""
        pool = list(self.pool())
        np.random.default_rng(self.seed).shuffle(pool)
        return pool * passes

    def warmup_ops(self) -> list[str]:
        return self.sequence(self.warmup_passes)

    def window_ops(self, seconds: float, traced: bool = False) -> list[str]:
        """The timed window, sized in ops from ``seconds`` and the
        workload's nominal pass time, never from measured speed. The
        traced run's ops alternate between traced and untraced, so it
        times at least two passes: each pool entry is timed both ways."""
        passes = max(1, round(seconds / self.nominal_pass_s))
        return self.sequence(max(2, passes) if traced else passes)


# --- etl_reports ----------------------------------------------------------


@dataclass
class _EtlPrep:
    cfg: object
    source: object
    store: object
    from_date: str
    to_date: str
    op_dir: str


class EtlReports(Workload):
    """One op is one driver-async ``run_pipeline`` call over 50 enabled
    reports, fetched over HTTP from a report API in its own process."""

    name = "etl_reports"
    # The Spark jobs of a driver-async run are the two config frames and
    # three monitoring appends, a few rows each: one task per job. With
    # two, an op took the same wall time for ~40 % more CPU.
    cpus = 1
    n_reports = 50
    nominal_pass_s = 3.5  # one op per pass
    # The first op takes 2-3 times as long as later ones, the second is
    # within a few per cent of them.
    warmup_passes = 2

    def load_engine(self) -> None:
        from talkdesk_async_etl_spark.pipeline import runner
        from talkdesk_async_etl_spark.sources import http_source, oauth  # noqa: F401

        self.runner = runner

    def setup(self) -> None:
        from talkdesk_async_etl_spark.pipeline.config import ReportConfig

        payload_dir = os.path.join(self.work, "payloads")
        payloads = datagen.report_catalog(self.seed, self.n_reports)
        datagen.write_payloads(payload_dir, payloads)
        self.payload_bytes = {k: v.encode("utf-8") for k, v in payloads.items()}
        self.payload_rows = {k: v.count("\n") - 1 for k, v in payloads.items()}
        # Disabled and other-env rows exercise the config plan's filters.
        self.reports = tuple(ReportConfig(report_name=n) for n in sorted(payloads)) + (
            ReportConfig(report_name="report_disabled", enabled=False),
            ReportConfig(report_name="report_prod_only", env="prod"),
        )
        self.api = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "report_api.py"), payload_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.api.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"report API did not start: {line!r}")
        self.base_url = f"http://127.0.0.1:{int(line.split()[1])}"
        self.exclude_pids = frozenset({self.api.pid})
        self.token_fetches = 0
        self.reports_done = 0
        self._window_start = (0, {}, 0)
        self._requests_per_report = self._fetches_per_op = 0.0

    def on_window_start(self) -> None:
        self._window_start = (self.token_fetches, self._api_stats(), self.reports_done)

    def on_window_end(self) -> None:
        fetches, api, reports = self._window_start
        now = self._api_stats()
        requests = sum(now.get(k, 0) - api.get(k, 0) for k in ("generate", "download"))
        reports = self.reports_done - reports
        self._requests_per_report = requests / max(1, reports)
        self._fetches_per_op = (self.token_fetches - fetches) / max(1, reports / self.n_reports)

    def requests_per_report(self) -> float:
        return self._requests_per_report

    def token_fetches_per_op(self) -> float:
        return self._fetches_per_op

    def pool(self) -> list[str]:
        return ["run_pipeline"]

    def _api_stats(self) -> dict[str, int]:
        import json
        import urllib.request

        with urllib.request.urlopen(f"{self.base_url}/stats", timeout=10) as resp:  # noqa: S310
            return json.loads(resp.read())

    def prepare(self, op: Op) -> None:
        from talkdesk_async_etl_spark.pipeline.config import EndpointConfig, PipelineConfig
        from talkdesk_async_etl_spark.pipeline.monitoring import MonitoringStore
        from talkdesk_async_etl_spark.pipeline.token import TokenManager
        from talkdesk_async_etl_spark.sources.http_source import HttpReportSource
        from talkdesk_async_etl_spark.sources.oauth import build_token_fetcher

        import report_api

        op_dir = os.path.join(self.work, "ops", str(op.index))
        day = dt.date(2024, 1, 1) + dt.timedelta(days=op.index % 300)
        endpoint = EndpointConfig("standard", self.base_url, "/oauth/token",
                                  "/reports/generate", "/reports/download")
        cfg = PipelineConfig(
            env="dev",
            output_base_path=os.path.join(op_dir, "out"),
            reports=self.reports,
            endpoints=(endpoint, dataclasses.replace(endpoint, env="prod")),
        )
        fetch = build_token_fetcher(
            f"{self.base_url}/oauth/token", report_api.CLIENT_ID, report_api.CLIENT_SECRET
        )

        async def counted_fetch():
            self.token_fetches += 1
            with self.tracer.span("token.fetch"):
                return await fetch()

        source = HttpReportSource(
            self.base_url, endpoint.post_endpoint, endpoint.get_endpoint, TokenManager(counted_fetch)
        )
        store = MonitoringStore(self.spark, os.path.join(op_dir, "mon"))
        if self.tracer.enabled:
            for attr in ("log_job_start", "log_reports", "log_job_end"):
                setattr(store, attr, self._traced_write(getattr(store, attr)))
        op.prep = _EtlPrep(cfg, source, store, day.isoformat(),
                           (day + dt.timedelta(days=1)).isoformat(), op_dir)

    def _traced_write(self, fn):
        """A monitoring write recorded as a span, with the process
        tree's CPU by class spent inside it. The two tree snapshots run
        inside the span and their time is kept as ``probe_s``, so the
        layer times can leave them out."""

        def wrapper(*a, **kw):
            with self.tracer.span("monitoring.write") as s:
                t = time.perf_counter()
                before = sample_tree(exclude=self.exclude_pids)
                probe_s = time.perf_counter() - t
                out = fn(*a, **kw)
                t = time.perf_counter()
                after = sample_tree(exclude=self.exclude_pids)
                probe_s += time.perf_counter() - t
            if s is not None:
                s.attrs = {c: after.cpu[c] - before.cpu[c] for c in after.cpu}
                s.attrs["probe_s"] = probe_s
            return out

        return wrapper

    def run(self, op: Op) -> None:
        p = op.prep
        op.result = self.runner.run_pipeline(
            self.spark, p.cfg, p.source, p.store, p.from_date, p.to_date
        )

    def check(self, op: Op) -> str | None:
        out, p = op.result, op.prep
        self.reports_done += out.total
        if (out.status, out.total, out.ok, out.fail) != ("SUCCESS", self.n_reports, self.n_reports, 0):
            return f"outcome {out.status} total={out.total} ok={out.ok} fail={out.fail}"
        for r in out.results:
            path = os.path.join(p.cfg.output_base_path, r.report_name,
                                f"{p.from_date}_to_{p.to_date}.csv")
            with open(path, "rb") as fh:
                if fh.read() != self.payload_bytes[r.report_name]:
                    return f"{r.report_name}: output differs from the served payload"
            if r.rows_written != self.payload_rows[r.report_name]:
                return f"{r.report_name}: rows_written {r.rows_written} != {self.payload_rows[r.report_name]}"
        with self.tracer.span("monitoring.read"):
            summary = p.store.job_summary(out.run_id)
        if summary != {"total": self.n_reports, "ok": self.n_reports, "fail": 0}:
            return f"job_summary disagrees: {summary}"
        return None

    def cleanup(self, op: Op) -> None:
        shutil.rmtree(op.prep.op_dir, ignore_errors=True)

    def close(self) -> None:
        if getattr(self, "api", None) is None:
            return
        try:
            self.api.stdin.close()
            self.api.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.api.kill()
            self.api.wait(timeout=10)
        self.api.stdout.close()

    def traced_patches(self):
        """Module references the traced run wraps: the config plan
        build inside ``run_pipeline``."""
        r = self.runner
        return [
            patched(r, "config_dataframes", self.tracer.wrap("config.plan", r.config_dataframes)),
            patched(r, "build_report_plan", self.tracer.wrap("config.plan", r.build_report_plan)),
        ]


# --- registered-query workloads ------------------------------------------


class AnalyticsMix(Workload):
    """Oracle-backed registered queries over seeded tables at sf0.01:
    cheap relational, aggregate, window, join, TPC-H and pandas-UDF ids,
    where fixed per-query overhead dominates, and compute-bound curation
    ids (the shingle Jaccard self-join, the Arrow GEMM cosine kernel,
    exact top-k cosine), where executor work and shuffle dominate; plus
    reads of a pre-seeded monitoring store. The expected digest of each
    query is its DuckDB oracle's result over the same tables, computed
    once in set-up."""

    name = "analytics_mix"
    sf = 0.01
    nominal_pass_s = 13.0
    # On a 4-core host, passes fall from ~20 s to ~11 s to ~10 s; with
    # one warm-up pass the window sat on the falling part of that curve,
    # and its CPU per op spread twice as wide over seeds.
    warmup_passes = 2
    # Cheap ids are most of the pool, so the median op sits inside their
    # latency cluster rather than in the gap below the curation ids.
    ids = (
        "agg_conditional_sum", "agg_count_per_key", "pivot_event_counts",
        "window_topk_per_group", "window_moving_frame", "join_asof",
        "stream_session", "tpch_q1", "udf_pandas_scalar", "filter_in_like",
        "sort_multi_key", "scalar_date_arith", "agg_group_counts", "join_anti",
        "dedup_near_jaccard", "dedup_embedding_cosine", "sim_topk_cosine",
    )
    # The store the reference's monitoring fixtures describe: ~30 days of
    # several runs a day (4 here), one report row per run and report;
    # 50 reports per run, the driver-async envelope (FIXTURES.md).
    mon_runs = 120
    mon_reports_per_run = 50

    def load_engine(self) -> None:
        from talkdesk_async_etl_spark.plans.registry import load_all

        self.registry = load_all()

    def setup(self) -> None:
        self.data_dir = os.path.join(self.work, "tables")
        with self.timed_part("tables"):
            tables = datagen.write_tables(self.data_dir, self.sf, self.seed)
        with self.timed_part("oracles"):
            self.expected = self._oracle_digests(tables)
        with self.timed_part("monitoring_seed"):
            self._seed_monitoring()

    def _oracle_digests(self, tables) -> dict[str, str]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            out = {}
            for qid in self.ids:
                res = con.execute(self.registry[qid].oracle)
                out[qid] = digest([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()

    def _seed_monitoring(self) -> None:
        from talkdesk_async_etl_spark.pipeline.monitoring import MonitoringStore
        from talkdesk_async_etl_spark.schemas import (
            JOB_MONITORING_SCHEMA,
            REPORT_MONITORING_SCHEMA,
        )

        jobs, reports, self.run_ids = datagen.monitoring_rows(
            self.seed, self.mon_runs, self.mon_reports_per_run
        )
        self.store = MonitoringStore(self.spark, os.path.join(self.work, "monitoring"))
        datagen.write_rows(self.store.job_path, jobs, JOB_MONITORING_SCHEMA)
        datagen.write_rows(self.store.report_path, reports, REPORT_MONITORING_SCHEMA)
        latest = [r for r in jobs if r[4] is not None]  # the close row wins
        self.expected["mon:jobs"] = digest(JOB_MONITORING_SCHEMA.fieldNames(), latest)
        self.expected["mon:reports"] = digest(REPORT_MONITORING_SCHEMA.fieldNames(), reports)
        self.summaries: dict[str, dict[str, int]] = {}
        for r in reports:
            s = self.summaries.setdefault(r[0], {"total": 0, "ok": 0, "fail": 0})
            s["total"] += 1
            s["ok" if r[6] == "SUCCESS" else "fail"] += 1
        self._summary_rng = np.random.default_rng([self.seed, 3])

    def pool(self) -> list[str]:
        return list(self.ids) + ["mon:jobs", "mon:reports", "mon:summary"]

    def prepare(self, op: Op) -> None:
        if op.name == "mon:summary":
            op.prep = self.run_ids[int(self._summary_rng.integers(0, len(self.run_ids)))]

    def run(self, op: Op) -> None:
        if op.name.startswith("mon:"):
            with self.tracer.span("monitoring.read"):
                if op.name == "mon:summary":
                    op.result = self.store.job_summary(op.prep)
                    return
                df = self.store.jobs() if op.name == "mon:jobs" else self.store.reports()
                op.result = (df, df.collect())
            return
        fn = self.registry[op.name].fn
        with self.tracer.span("registry.build"):
            df = fn(self.spark, self.data_dir)
        with self.tracer.span("spark.action"):
            rows = df.collect()
        op.result = (df, rows)

    def check(self, op: Op) -> str | None:
        if op.name == "mon:summary":
            want = self.summaries[op.prep]
            return None if op.result == want else f"job_summary {op.result} != {want}"
        df, rows = op.result
        got, want = digest(list(df.columns), rows), self.expected[op.name]
        return None if got == want else f"{op.name}: digest {got} != expected {want}"


WORKLOADS = {w.name: w for w in (EtlReports, AnalyticsMix)}
