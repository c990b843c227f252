"""End-to-end pipeline tests (SURVEY.md §5.3) + retry/orchestration
tests (§5.4) + status-derivation property checks (§5.5).

The fake HTTP source is a local-file double for the reference's
POST→GET pair (databricks/talkdesk_databricks_etl.py:330-382); the
pipeline must reproduce the reference's output-path contract
(``{base}/{report}/{from}_to_{to}.csv``, DB:441-444) and monitoring
semantics (§1.2 status rules).
"""

from __future__ import annotations

import asyncio
import os
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from talkdesk_async_etl_spark.pipeline.config import (
    EndpointConfig,
    PipelineConfig,
    ReportConfig,
    build_report_plan,
    config_dataframes,
    from_json_doc,
    report_frame,
)
from talkdesk_async_etl_spark.pipeline.monitoring import MonitoringStore, ReportResult, derive_job_status
from talkdesk_async_etl_spark.pipeline.retry import HttpStatusError, RetryPolicy, is_retriable
from talkdesk_async_etl_spark.pipeline.runner import run_pipeline
from talkdesk_async_etl_spark.pipeline.token import TokenManager
from talkdesk_async_etl_spark.schemas import local_frame
from talkdesk_async_etl_spark.sources.http_source import LocalFileReportSource, fetch_report_csv

REPORTS = ("agent_activity", "call_volume", "queue_activity")


@pytest.fixture()
def fixture_dir(tmp_path):
    d = tmp_path / "fixtures"
    d.mkdir()
    for i, name in enumerate(REPORTS):
        rows = "\n".join(f"r{j},{j * (i + 1)}" for j in range(5 + i))
        (d / f"{name}.csv").write_text(f"key,value\n{rows}\n", encoding="utf-8")
    return str(d)


def make_cfg(tmp_path, reports=REPORTS) -> PipelineConfig:
    return PipelineConfig(
        env="dev",
        output_base_path=str(tmp_path / "out"),
        reports=tuple(ReportConfig(report_name=r) for r in reports),
        endpoints=(
            EndpointConfig(
                endpoint_type="standard",
                base_url="https://api.example.com",
                auth_endpoint="/oauth/token",
                post_endpoint="/reports/generate",
                get_endpoint="/reports/download",
            ),
        ),
    )


def test_pipeline_end_to_end_success(spark, tmp_path, fixture_dir):
    cfg = make_cfg(tmp_path)
    source = LocalFileReportSource(fixture_dir)
    mon = MonitoringStore(spark, str(tmp_path / "mon"))
    out = run_pipeline(spark, cfg, source, mon, "2024-01-01", "2024-01-02")

    assert out.status == "SUCCESS" and out.ok == 3 and out.fail == 0
    # Reference output-path contract (DB:441-444).
    for name in REPORTS:
        p = os.path.join(cfg.output_base_path, name, "2024-01-01_to_2024-01-02.csv")
        assert os.path.exists(p), p
    # Monitoring: job latest-wins state + per-report rows.
    job = mon.jobs().filter(f"run_id = '{out.run_id}'").first()
    assert job["status"] == "SUCCESS" and job["success_count"] == 3
    reports = {r["report_name"]: r for r in mon.reports().collect()}
    assert reports["agent_activity"]["rows_written"] == 5
    assert reports["queue_activity"]["rows_written"] == 7
    assert mon.job_summary(out.run_id) == {"total": 3, "ok": 3, "fail": 0}


def test_pipeline_partial_and_total_failure(spark, tmp_path, fixture_dir):
    cfg = make_cfg(tmp_path)
    # One report fails with a final (non-retriable) 400 → PARTIAL_SUCCESS.
    source = LocalFileReportSource(fixture_dir, fail_reports={"call_volume": 400})
    mon = MonitoringStore(spark, str(tmp_path / "mon1"))
    out = run_pipeline(spark, cfg, source, mon, "2024-01-01", "2024-01-02")
    assert out.status == "PARTIAL_SUCCESS" and out.ok == 2 and out.fail == 1
    failed = mon.reports().filter("status = 'FAILED'").collect()
    assert len(failed) == 1 and "400" in failed[0]["error_message"]

    # All reports fail → FAILED.
    source2 = LocalFileReportSource(fixture_dir, fail_reports={r: 403 for r in REPORTS})
    mon2 = MonitoringStore(spark, str(tmp_path / "mon2"))
    out2 = run_pipeline(spark, cfg, source2, mon2, "2024-01-01", "2024-01-02")
    assert out2.status == "FAILED" and out2.ok == 0

    # Zero enabled reports → SUCCESS with 0 (reference MON:99-100).
    cfg0 = make_cfg(tmp_path, reports=())
    mon3 = MonitoringStore(spark, str(tmp_path / "mon3"))
    out3 = run_pipeline(spark, cfg0, LocalFileReportSource(fixture_dir), mon3, "2024-01-01", "2024-01-02")
    assert out3.status == "SUCCESS" and out3.total == 0


def test_pipeline_distributed_profile(spark, tmp_path, fixture_dir):
    """mapInPandas fan-out returns status rows; driver writes once
    (fixes reference bug E6 — no executor-side SparkSession use)."""
    cfg = make_cfg(tmp_path)
    mon = MonitoringStore(spark, str(tmp_path / "mon_dist"))
    out = run_pipeline(
        spark, cfg, LocalFileReportSource(fixture_dir), mon,
        "2024-01-01", "2024-01-02",
        profile="distributed",
        source_factory=lambda: LocalFileReportSource(fixture_dir),
    )
    assert out.status == "SUCCESS" and out.ok == 3
    assert {r.report_name for r in out.results} == set(REPORTS)
    # Per-report fields survive the mapInPandas round trip: the same
    # output-path contract as driver-async, and each report's own
    # executor-side start/end times.
    for r in out.results:
        assert r.output_path == os.path.join(
            cfg.output_base_path, r.report_name, "2024-01-01_to_2024-01-02.csv"
        )
        assert r.start_time < r.end_time


def test_retry_then_succeed_schedule(fixture_dir):
    """429/5xx retried with b·2^(attempt−1) backoff (reference DB:324);
    schedule asserted with an injected fake sleep."""
    delays: list[float] = []

    async def fake_sleep(s: float) -> None:
        delays.append(s)

    source = LocalFileReportSource(fixture_dir, fail_reports={"call_volume": 503}, fail_times=2)
    policy = RetryPolicy(max_attempts=3, backoff_base_sec=1.0)
    text = asyncio.run(
        fetch_report_csv(
            source, "call_volume", "2024-01-01", "2024-01-02", policy, 30, sleep=fake_sleep
        )
    )
    assert text.startswith(b"key,value")
    assert delays == [1.0, 2.0]  # attempts 1 and 2 failed → backoff 1s, 2s
    # POST once (never failed), GET three times (2 failures + success).
    assert source.calls.count(("get", "call_volume")) == 3


# (name, served bytes): payloads whose blank check, row count or bytes
# a text round-trip could get wrong.
_PAYLOADS = [
    ("empty", b""),
    ("ascii_whitespace", b" \n\t\r\n  \x0b\x0c\n"),
    ("nbsp_lines", "\xa0\n\xa0\n".encode()),
    ("separator_lines", "\x1c\n\x1d\x1e\x1f\n\u2003\n".encode()),
    ("header_only", b"key,value\n"),
    ("crlf", b"key,value\r\na,1\r\nb,2\r\n"),
    ("quoted_newline", b'key,value\na,"x\ny"\nb,2\n'),
    ("blank_lines", b"key,value\n\na,1\n\n\nb,2\n\n"),
    ("utf8_bom", b"\xef\xbb\xbfkey,value\na,1\nb,2\n"),
    ("invalid_utf8", b"key,value\na,\xff\xfe\nb,\xc3\n\xe2\x82,3\n"),
    ("nbsp_then_data", "\xa0\nkey,value\na,1\n".encode()),
    ("too_many_fields", b"key,value\na,1\nb,2,3\n"),
    # NA tokens and empty cells: counted as rows with or without NA detection.
    ("na_tokens", b"key,value\nNA,1\nnull,nan\nNaN,NULL\n"),
    ("empty_cells", b"key,value\na,\n,\n,2\n"),
    ("comma_only_rows", b"a,b,c\n,,\n,,\n1,,\n"),
    ("one_column_na", b"v\nNA\n\nnan\n#N/A\n"),
]


@pytest.mark.parametrize("body", [b for _, b in _PAYLOADS], ids=[n for n, _ in _PAYLOADS])
def test_payload_bytes_match_the_text_rule(tmp_path, body):
    """The bytes path counts rows and succeeds or fails exactly as the
    text rule it replaced (decode with replacement, blank by
    ``str.strip``, ``pd.read_csv`` over the text), and writes the served
    bytes unchanged."""
    import io

    import pandas as pd

    from talkdesk_async_etl_spark.pipeline.runner import _process_one

    text = body.decode("utf-8", "replace")
    try:
        expected = ("SUCCESS", len(pd.read_csv(io.StringIO(text))) if text.strip() else 0)
    except ValueError:  # pandas' ParserError: the report fails
        expected = ("FAILED", 0)

    fx = tmp_path / "fx"
    fx.mkdir()
    (fx / "r.csv").write_bytes(body)
    out = asyncio.run(
        _process_one(LocalFileReportSource(str(fx)), "r", 1, 30, "2024-01-01", "2024-01-02",
                     str(tmp_path / "out"))
    )
    assert (out.status, out.rows_written) == expected, out.error_message
    if out.status == "SUCCESS":
        with open(out.output_path, "rb") as fh:
            assert fh.read() == body


def test_retry_final_4xx_no_retry(fixture_dir):
    delays: list[float] = []

    async def fake_sleep(s: float) -> None:
        delays.append(s)

    source = LocalFileReportSource(fixture_dir, fail_reports={"call_volume": 404})
    with pytest.raises(HttpStatusError):
        asyncio.run(
            fetch_report_csv(
                source, "call_volume", "2024-01-01", "2024-01-02",
                RetryPolicy(max_attempts=3), 30, sleep=fake_sleep,
            )
        )
    assert delays == []  # 4xx is final — zero backoffs
    assert source.calls.count(("get", "call_volume")) == 1


def test_is_retriable_classification():
    assert is_retriable(HttpStatusError(429))
    assert is_retriable(HttpStatusError(503))
    assert not is_retriable(HttpStatusError(400))
    assert not is_retriable(HttpStatusError(404))
    assert is_retriable(ConnectionError())
    assert is_retriable(asyncio.TimeoutError())
    assert not is_retriable(ValueError("boom"))


def test_token_manager_refresh_buffer_and_single_flight():
    """Reference DB:109-114: refresh 300 s early (floor 60 s), cached
    token reused, concurrent callers trigger ONE fetch."""
    now = {"t": 1000.0}
    fetches = []

    async def fetch():
        fetches.append(now["t"])
        return (f"tok{len(fetches)}", 3600.0)

    tm = TokenManager(fetch, clock=lambda: now["t"])

    async def drive():
        toks = await asyncio.gather(*[tm.get_token() for _ in range(8)])
        assert set(toks) == {"tok1"}
        # Valid until 1000 + 3600 - 300(buffer); just before → cached.
        now["t"] = 1000.0 + 3600.0 - 300.0 - 1.0
        assert await tm.get_token() == "tok1"
        now["t"] += 2.0  # past the early-refresh point
        assert await tm.get_token() == "tok2"

    asyncio.run(drive())
    assert len(fetches) == 2

    # Short-lived token: positive freshness floor (refetch amortized)
    # that never exceeds the token's ACTUAL validity — the reference's
    # flat 60 s floor (DB:113) would serve an expires_in<=60 token
    # after real expiry.
    fetches.clear()

    async def fetch_short():
        fetches.append(now["t"])
        return ("s", 100.0)

    tm2 = TokenManager(fetch_short, clock=lambda: now["t"])

    async def drive2():
        await tm2.get_token()
        assert tm2._expires_at == now["t"] + 50.0  # min(60, 100/2) floor
        assert await tm2.get_token() == "s"  # still fresh, no refetch

    asyncio.run(drive2())
    assert len(fetches) == 1

    # Sub-60s token: freshness window is half its lifetime, strictly
    # inside actual validity.
    async def fetch_tiny():
        return ("u", 40.0)

    tm3 = TokenManager(fetch_tiny, clock=lambda: now["t"])

    async def drive3():
        await tm3.get_token()
        assert tm3._expires_at == now["t"] + 20.0  # < the 40 s validity

    asyncio.run(drive3())


@given(
    ok=st.integers(min_value=0, max_value=1000),
    fail=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=200, deadline=None)
def test_job_status_derivation_property(ok, fail):
    """Property form of the reference rule (DB:563-568, MON:96-106)."""
    status = derive_job_status(ok + fail, ok, fail)
    if fail == 0:
        assert status == "SUCCESS"
    elif ok == 0:
        assert status == "FAILED"
    else:
        assert status == "PARTIAL_SUCCESS"


def test_config_plan_filters_and_join(spark, tmp_path):
    """The reference's config plan (DIST:42-53): enabled+env filters
    feed a broadcast equi join on endpoint_type."""
    cfg = PipelineConfig(
        env="prod",
        output_base_path=str(tmp_path),
        reports=(
            ReportConfig("a", env="prod"),
            ReportConfig("b", env="prod", enabled=False),  # filtered: disabled
            ReportConfig("c", env="dev"),  # filtered: wrong env
        ),
        endpoints=(
            EndpointConfig("standard", "https://x", "/a", "/p", "/g", env="prod"),
            EndpointConfig("standard", "https://y", "/a", "/p", "/g", env="dev"),
        ),
    )
    report_df, endpoint_df = config_dataframes(spark, cfg)
    plan = build_report_plan(report_df, endpoint_df, "prod").collect()
    assert len(plan) == 1
    assert plan[0]["report_name"] == "a" and plan[0]["base_url"] == "https://x"


def test_driver_frames_are_local_relations(spark, tmp_path):
    """The distributed profile's ``mapInPandas`` input is a
    ``LocalRelation`` plan: no ``LogicalRDD``, whose jobs each need a
    Python worker."""
    df = report_frame(spark, make_cfg(tmp_path).report_plan())
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def _endpoint(endpoint_type="standard", env="dev", base_url="https://x"):
    return EndpointConfig(endpoint_type, base_url, "/a", "/p", "/g", env=env)


@pytest.mark.parametrize(
    "reports, endpoints",
    [
        pytest.param(
            (ReportConfig("a"), ReportConfig("b", enabled=False)),
            (_endpoint(),),
            id="disabled",
        ),
        pytest.param(
            (ReportConfig("a"), ReportConfig("c", env="prod")),
            (_endpoint(), _endpoint(env="prod")),
            id="other_env",
        ),
        pytest.param(
            (ReportConfig("a"), ReportConfig("v", endpoint_type="vip")),
            (_endpoint(),),
            id="type_without_endpoint",
        ),
        pytest.param(
            (ReportConfig("a"), ReportConfig("v", endpoint_type="vip")),
            (_endpoint(), _endpoint("vip", env="prod")),
            id="endpoint_only_in_other_env",
        ),
        pytest.param(
            (ReportConfig("v", endpoint_type="vip"), ReportConfig("a"), ReportConfig("b"),
             ReportConfig("w", endpoint_type="vip", enabled=False)),
            (_endpoint(), _endpoint("vip", base_url="https://v")),
            id="two_types",
        ),
    ],
)
def test_report_plan_matches_the_join(spark, tmp_path, reports, endpoints):
    """``PipelineConfig.report_plan`` names the same reports, as a
    multiset, as the relational plan over local frames of the config."""
    from collections import Counter

    cfg = PipelineConfig("dev", str(tmp_path), reports=reports, endpoints=endpoints)
    joined = build_report_plan(*config_dataframes(spark, cfg), cfg.env).collect()
    planned = cfg.report_plan()
    assert Counter(r.report_name for r in planned) == Counter(r["report_name"] for r in joined)
    assert planned == tuple(r for r in reports if r in planned)  # config order


def test_report_plan_rejects_duplicate_endpoint_type(spark, tmp_path, fixture_dir):
    """Two ``dev`` endpoints of one type would run each of its reports
    twice into one output path; the run raises before it logs a job."""
    cfg = PipelineConfig(
        "dev", str(tmp_path / "out"), reports=(ReportConfig("agent_activity"),),
        endpoints=(_endpoint(), _endpoint(base_url="https://y"), _endpoint(env="prod")),
    )
    mon = MonitoringStore(spark, str(tmp_path / "mon"))
    with pytest.raises(ValueError, match="standard"):
        run_pipeline(spark, cfg, LocalFileReportSource(fixture_dir), mon, "2024-01-01", "2024-01-02")
    assert not os.path.exists(mon.job_path)


def test_driver_async_run_starts_no_spark_jobs(spark, tmp_path, fixture_dir):
    """A driver-async run resolves its plan in Python and appends its
    monitoring rows as files: under a job group it starts no Spark job,
    while a ``collect()`` in the same group is counted (the control)."""
    sc = spark.sparkContext
    group = f"driver-async-{os.getpid()}-{id(tmp_path)}"
    mon = MonitoringStore(spark, str(tmp_path / "mon"))
    sc.setJobGroup(group, "driver-async run")
    try:
        out = run_pipeline(
            spark, make_cfg(tmp_path), LocalFileReportSource(fixture_dir), mon,
            "2024-01-01", "2024-01-02",
        )
        assert spark.range(1).collect()[0]["id"] == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1  # the collect alone
    assert out.status == "SUCCESS" and out.ok == len(REPORTS)


def test_monitoring_appends_start_no_spark_jobs(spark, tmp_path):
    """The three appends of a run are parquet file writes on the driver:
    under a job group they start no Spark job, while a ``collect()`` in
    the same group is counted (the control that the group is seen)."""
    sc = spark.sparkContext
    group = f"appends-{os.getpid()}-{id(tmp_path)}"
    mon = MonitoringStore(spark, str(tmp_path / "mon"))
    sc.setJobGroup(group, "monitoring appends")
    try:
        mon.log_job_start("run1", "2024-01-01", "2024-01-02", 1)
        mon.log_reports("run1", "2024-01-01", "2024-01-02", [ReportResult("r", "SUCCESS", 3)])
        mon.log_job_end("run1", "2024-01-01", "2024-01-02", 1, 1, 0)
        assert spark.range(1).collect()[0]["id"] == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # Job events reach the status store through the listener bus; wait
    # until it has delivered every event posted so far.
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1  # the collect alone
    assert mon.job_summary("run1") == {"total": 1, "ok": 1, "fail": 0}


def test_local_frame_rejects_what_the_schema_forbids(spark, tmp_path):
    """A None in a non-null field, a wrong type, an int32 overflow and a
    row of the wrong width all raise; none is stored as NULL or
    truncated. The monitoring append path rejects the same rows and
    writes no file."""
    from talkdesk_async_etl_spark.schemas import REPORT_CONFIG_SCHEMA

    good = ("r", True, "standard", 3, 30, "dev")
    assert local_frame(spark, [good], REPORT_CONFIG_SCHEMA).collect()[0]["retries"] == 3
    bad_rows = [
        (None, True, "standard", 3, 30, "dev"),  # None in a non-null field
        ("r", True, "standard", "three", 30, "dev"),  # str in an int field
        ("r", True, "standard", 3, 2**31, "dev"),  # int32 overflow
        ("r", True, 7, 3, 30, "dev"),  # int in a string field
        ("r", True, "standard", 3, 30),  # one field short
    ]
    mon = MonitoringStore(spark, str(tmp_path / "mon"))
    table = str(tmp_path / "mon" / "config_rows")
    for row in bad_rows:
        with pytest.raises((ValueError, TypeError)):
            local_frame(spark, [row], REPORT_CONFIG_SCHEMA)
        with pytest.raises((ValueError, TypeError)):
            mon._append([row], REPORT_CONFIG_SCHEMA, table)
    with pytest.raises(ValueError):
        local_frame(spark, [good, good[:5]], REPORT_CONFIG_SCHEMA)  # ragged rows
    with pytest.raises(ValueError):
        mon._append([good, good[:5]], REPORT_CONFIG_SCHEMA, table)
    # The public append path: an int32 overflow in rows_written.
    with pytest.raises((ValueError, TypeError)):
        mon.log_reports("run1", "2024-01-01", "2024-01-02", [ReportResult("r", "SUCCESS", 2**31)])
    with pytest.raises((ValueError, TypeError)):
        mon.log_job_start(None, "2024-01-01", "2024-01-02", 1)  # None run_id
    assert not os.path.exists(tmp_path / "mon")  # no file, not even a directory


def test_monitoring_times_are_utc_instants_in_any_time_zone(spark, tmp_path, monkeypatch):
    """The naive UTC times the runner records are stored as those UTC
    instants even when the process and the session are in other,
    different time zones."""
    import datetime as dt
    import time

    from talkdesk_async_etl_spark.pipeline import monitoring

    start = dt.datetime(2024, 1, 1, 12, 0, 0, 123456)
    end = dt.datetime(2024, 7, 1, 8, 30, 0, 654321)  # other side of a DST change

    def micros(t):
        return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)

    monkeypatch.setattr(monitoring, "utc_now", lambda: start)
    old_tz = os.environ.get("TZ")
    old_session_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        os.environ["TZ"] = "America/New_York"
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        mon = MonitoringStore(spark, str(tmp_path / "mon_tz"))
        mon.log_job_start("run1", "2024-01-01", "2024-01-02", 1)
        mon.log_reports(
            "run1", "2024-01-01", "2024-01-02",
            [ReportResult("r", "SUCCESS", 1, start_time=start, end_time=end)],
        )
        job = spark.read.parquet(mon.job_path).selectExpr("unix_micros(start_time)").first()[0]
        rep = (
            spark.read.parquet(mon.report_path)
            .selectExpr("unix_micros(start_time)", "unix_micros(end_time)")
            .first()
        )
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_session_tz)
    assert job == micros(start)
    assert tuple(rep) == (micros(start), micros(end))


def test_config_from_json_doc_shapes():
    doc = {
        "base_url": "https://api",
        "output_base_path": "/tmp/o",
        "reports": ["r1", {"report_name": "r2", "retries": 5}],
    }
    cfg = from_json_doc(doc)
    assert cfg.reports[0].report_name == "r1" and cfg.reports[0].retries == 3
    assert cfg.reports[1].retries == 5
    assert cfg.endpoints[0].base_url == "https://api"


def test_monitoring_quote_and_latest_wins(spark, tmp_path):
    """Quote-bearing error messages survive (the reference needed manual
    SQL escaping, DB:226-228 — DataFrame writes don't); job close row
    wins over the RUNNING row."""
    from talkdesk_async_etl_spark.pipeline.monitoring import ReportResult, utc_now

    mon = MonitoringStore(spark, str(tmp_path / "monq"))
    msg = "it's a 'quoted' failure; DROP TABLE x; --"
    mon.log_job_start("run1", "2024-01-01", "2024-01-02", 1)
    mon.log_reports(
        "run1", "2024-01-01", "2024-01-02",
        [ReportResult("r", "FAILED", 0, error_message=msg, start_time=utc_now(), end_time=utc_now())],
    )
    mon.log_job_end("run1", "2024-01-01", "2024-01-02", 1, 0, 1)
    assert mon.reports().first()["error_message"] == msg
    job = mon.jobs().filter("run_id = 'run1'").collect()
    assert len(job) == 1 and job[0]["status"] == "FAILED"  # latest-wins, not RUNNING


def test_auto_dates_defaults_and_validation():
    """E8: yesterday→today UTC defaults; YYYY-MM-DD validation."""
    import datetime as dt

    import pytest

    from talkdesk_async_etl_spark.pipeline.params import auto_dates, parse_args

    f, t_ = auto_dates(today=dt.date(2024, 3, 1))
    assert (f, t_) == ("2024-02-29", "2024-03-01")  # leap-day boundary
    assert auto_dates("2024-01-05", None, today=dt.date(2024, 3, 1)) == ("2024-01-05", "2024-03-01")
    with pytest.raises(ValueError, match="YYYY-MM-DD"):
        auto_dates("01/05/2024", "2024-01-06")
    with pytest.raises(ValueError, match="after"):
        auto_dates("2024-02-02", "2024-02-01")
    args = parse_args(["--env", "prod", "--from-date", "2024-01-01", "--to-date", "2024-01-02"])
    assert args.env == "prod" and args.from_date == "2024-01-01" and args.profile == "driver-async"


def test_monitoring_reports_idempotent_under_duplicate_appends(spark, tmp_path):
    """A retried task/append must not double-count a report: reads
    resolve to the latest row per (run_id, report_name)."""
    import datetime as dt

    from talkdesk_async_etl_spark.pipeline.monitoring import ReportResult

    mon = MonitoringStore(spark, str(tmp_path / "monr"))
    t1 = dt.datetime(2024, 1, 1, 10, 0, 0)
    t2 = dt.datetime(2024, 1, 1, 10, 5, 0)
    first = ReportResult("r1", "FAILED", 0, error_message="attempt 1", start_time=t1, end_time=t1)
    retry = ReportResult("r1", "SUCCESS", 42, start_time=t2, end_time=t2)
    mon.log_reports("run9", "2024-01-01", "2024-01-02", [first])
    mon.log_reports("run9", "2024-01-01", "2024-01-02", [retry])  # duplicate append
    rows = mon.reports().filter("run_id = 'run9'").collect()
    assert len(rows) == 1
    assert rows[0]["status"] == "SUCCESS" and rows[0]["rows_written"] == 42
    assert mon.job_summary("run9") == {"total": 1, "ok": 1, "fail": 0}


def _table_files(path) -> list[str]:
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def test_monitoring_append_is_atomic(spark, tmp_path, monkeypatch):
    """A parquet write that fails midway leaves the store as it was:
    readers see exactly the earlier rows while the partial file exists
    and after the failure, and no partial or temp file stays in the
    table directory."""
    import pyarrow.parquet as pq

    mon = MonitoringStore(spark, str(tmp_path / "mon"))
    mon.log_job_start("run1", "2024-01-01", "2024-01-02", 2)
    mon.log_reports("run1", "2024-01-01", "2024-01-02", [ReportResult("a", "SUCCESS", 5)])

    def read_back():
        return sorted(map(tuple, mon.jobs().collect())), sorted(map(tuple, mon.reports().collect()))

    before = read_back()
    files = {p: _table_files(p) for p in (mon.job_path, mon.report_path)}
    seen_mid_write = []

    def failing_write(table, where, **kw):
        with open(where, "wb") as fh:
            fh.write(b"PAR1 half a file")
        seen_mid_write.append(read_back())
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", failing_write)
    with pytest.raises(OSError, match="disk full"):
        mon.log_reports("run1", "2024-01-01", "2024-01-02", [ReportResult("b", "FAILED", 0)])
    with pytest.raises(OSError, match="disk full"):
        mon.log_job_end("run1", "2024-01-01", "2024-01-02", 2, 1, 1)
    monkeypatch.undo()

    assert seen_mid_write == [before, before]
    assert {p: _table_files(p) for p in files} == files
    assert read_back() == before
    assert mon.job_summary("run1") == {"total": 1, "ok": 1, "fail": 0}


def test_monitoring_concurrent_appends(spark, tmp_path):
    """Eight threads append whole runs to one store at once, switching
    often; every row reads back."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    mon = MonitoringStore(spark, str(tmp_path / "mon"))

    def one_run(k: int) -> None:
        run_id = f"run{k}"
        results = [ReportResult(f"r{j}", "SUCCESS" if j % 3 else "FAILED", j) for j in range(k + 1)]
        mon.log_job_start(run_id, "2024-01-01", "2024-01-02", len(results))
        mon.log_reports(run_id, "2024-01-01", "2024-01-02", results)
        ok = sum(r.status == "SUCCESS" for r in results)
        mon.log_job_end(run_id, "2024-01-01", "2024-01-02", len(results), ok, len(results) - ok)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            for f in [pool.submit(one_run, k) for k in range(8)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(switch)

    assert len(_table_files(mon.job_path)) == 16 and len(_table_files(mon.report_path)) == 8
    jobs = {r["run_id"]: r for r in mon.jobs().collect()}
    assert sorted(jobs) == [f"run{k}" for k in range(8)]
    for k in range(8):
        fail = sum(1 for j in range(k + 1) if j % 3 == 0)
        row = jobs[f"run{k}"]
        assert (row["total_reports"], row["success_count"], row["failed_count"]) == (k + 1, k + 1 - fail, fail)
        assert row["status"] == derive_job_status(k + 1, k + 1 - fail, fail)
    reports = mon.reports().groupBy("run_id").count().collect()
    assert sorted((r["run_id"], r["count"]) for r in reports) == [(f"run{k}", k + 1) for k in range(8)]


def test_monitoring_mixed_spark_and_arrow_part_files(spark, tmp_path):
    """Stores on disk hold part files that Spark wrote. Arrow appends on
    top of them read back with the same schemas (timestamps stay
    ``TimestampType``, not NTZ), and latest-wins picks the latest row
    whichever writer wrote it."""
    import datetime as dt

    from pyspark.sql import types as T

    from talkdesk_async_etl_spark.schemas import JOB_MONITORING_SCHEMA, REPORT_MONITORING_SCHEMA

    t = [dt.datetime(2024, 1, 1, 10, m) for m in range(4)]
    mon = MonitoringStore(spark, str(tmp_path / "mixed"))
    spark_only = MonitoringStore(spark, str(tmp_path / "spark_only"))
    for store in (mon, spark_only):
        local_frame(
            spark,
            [("run1", "2024-01-01", "2024-01-02", t[0], None, "RUNNING", 2, None, None, None)],
            JOB_MONITORING_SCHEMA,
        ).write.mode("append").parquet(store.job_path)
        local_frame(
            spark,
            [
                ("run1", "a", "2024-01-01", "2024-01-02", t[0], t[1], "FAILED", 0, "attempt 1"),
                ("run1", "b", "2024-01-01", "2024-01-02", t[0], t[3], "SUCCESS", 9, None),
            ],
            REPORT_MONITORING_SCHEMA,
        ).write.mode("append").parquet(store.report_path)
    assert "_SUCCESS" in _table_files(mon.job_path)  # a Spark-written table

    mon.log_reports(
        "run1", "2024-01-01", "2024-01-02",
        [
            ReportResult("a", "SUCCESS", 7, start_time=t[2], end_time=t[2]),  # retry wins
            ReportResult("b", "FAILED", 0, error_message="older", start_time=t[0], end_time=t[2]),
        ],
    )
    mon.log_job_end("run1", "2024-01-01", "2024-01-02", 2, 2, 0)
    mon.log_job_start("run2", "2024-01-01", "2024-01-02", 0)
    arrow_only = MonitoringStore(spark, str(tmp_path / "arrow_only"))
    arrow_only.log_job_start("run3", "2024-01-01", "2024-01-02", 1)
    arrow_only.log_reports("run3", "2024-01-01", "2024-01-02", [ReportResult("a", "SUCCESS", 1)])

    for frame in ("jobs", "reports"):
        schema = getattr(spark_only, frame)().schema
        assert getattr(mon, frame)().schema == schema == getattr(arrow_only, frame)().schema
        kinds = {f.name: type(f.dataType) for f in schema.fields}
        assert kinds["start_time"] is kinds["end_time"] is T.TimestampType
    reports = {r["report_name"]: r for r in mon.reports().filter("run_id = 'run1'").collect()}
    assert (reports["a"]["status"], reports["a"]["rows_written"]) == ("SUCCESS", 7)
    assert (reports["b"]["status"], reports["b"]["rows_written"]) == ("SUCCESS", 9)  # Spark row is later
    jobs = {r["run_id"]: r for r in mon.jobs().collect()}
    assert (jobs["run1"]["status"], jobs["run1"]["success_count"]) == ("SUCCESS", 2)
    assert jobs["run2"]["status"] == "RUNNING"
    assert mon.job_summary("run1") == {"total": 2, "ok": 2, "fail": 0}


@pytest.mark.parametrize(
    "base",
    ["abfss://mon@acct.dfs.core.windows.net/monitoring", "s3a://bucket/monitoring", "dbfs:/mnt/mon",
     "file://nas01/exports/mon"],
)
def test_monitoring_store_rejects_non_local_paths(spark, tmp_path, monkeypatch, base):
    """The appends are local file writes, so a remote URI fails up
    front, pointing at the remote-capable store, instead of creating a
    local directory named after the scheme."""
    from talkdesk_async_etl_spark.pipeline.monitoring import make_monitoring_store

    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="make_monitoring_store.*MergeMonitoringStore"):
        MonitoringStore(spark, base)
    with pytest.raises(ValueError, match="local directory"):
        make_monitoring_store(spark, base)  # no catalog db: the parquet store
    assert os.listdir(tmp_path) == []


def test_monitoring_store_accepts_local_file_uris(spark, tmp_path):
    """``file:`` URIs without a remote host are local paths, as for the
    single-file CSV sink."""
    for base in (f"file://{tmp_path}/a", f"file:{tmp_path}/b", f"file://localhost{tmp_path}/c"):
        mon = MonitoringStore(spark, base)
        assert mon.base == f"{tmp_path}/{base[-1]}"
        mon.log_job_start("run1", "2024-01-01", "2024-01-02", 0)
        assert mon.jobs().first()["status"] == "RUNNING"


def test_oauth_fetcher_retries_and_feeds_token_manager():
    """E5 end-to-end: the client-credentials POST (reference
    async_utils.py:55-74) retries a 429 (DB:303-327), yields
    (token, expires_in) into TokenManager, and a later expiry triggers
    exactly one re-fetch through the same seam."""
    import json as _json

    from talkdesk_async_etl_spark.sources.oauth import build_token_fetcher

    calls = []
    sleeps = []

    def transport(url, form):
        calls.append((url, dict(form)))
        if len(calls) == 1:
            return 429, "slow down"
        return 200, _json.dumps(
            {"access_token": f"tok{len(calls)}", "expires_in": 3600}
        )

    async def fake_sleep(s):
        sleeps.append(s)

    now = {"t": 0.0}
    fetch = build_token_fetcher(
        "https://api.example.test/oauth/token", "cid", "sec",
        policy=RetryPolicy(max_attempts=3, backoff_base_sec=1.0),
        transport=transport, sleep=fake_sleep,
    )
    tm = TokenManager(fetch, clock=lambda: now["t"])

    async def drive():
        toks = await asyncio.gather(*[tm.get_token() for _ in range(4)])
        assert set(toks) == {"tok2"}  # 429 retried once, then cached
        now["t"] = 3600.0 - 300.0 + 1.0  # past the early-refresh point
        assert await tm.get_token() == "tok3"

    asyncio.run(drive())
    assert sleeps == [1.0]  # one backoff for the 429
    assert len(calls) == 3  # 429 + two successful fetches
    assert calls[0][1]["grant_type"] == "client_credentials"
    assert calls[0][1]["client_id"] == "cid"


def test_oauth_fetcher_4xx_is_final_and_response_validated():
    """Non-retriable 4xx surfaces immediately; malformed/empty token
    bodies fail loudly instead of poisoning the cache."""
    import json as _json

    import pytest as _pytest

    from talkdesk_async_etl_spark.sources.oauth import (
        build_token_fetcher,
        parse_token_response,
    )

    calls = []

    def transport(url, form):
        calls.append(url)
        return 401, "bad credentials"

    fetch = build_token_fetcher(
        "https://api.example.test/oauth/token", "cid", "bad",
        policy=RetryPolicy(max_attempts=3), transport=transport,
    )
    with _pytest.raises(HttpStatusError) as ei:
        asyncio.run(fetch())
    assert ei.value.status == 401
    assert len(calls) == 1  # final, not retried

    assert parse_token_response(
        _json.dumps({"access_token": "t"})
    ) == ("t", 3600.0)
    with _pytest.raises(ValueError):
        parse_token_response(_json.dumps({"access_token": ""}))
    with _pytest.raises(KeyError):
        parse_token_response(_json.dumps({"expires_in": 10}))


def test_ddl_bootstrap_and_pipeline_from_seeded_tables(spark, tmp_path):
    """S9 e2e: stand up config/monitoring tables via DDL, seed the
    reference's default rows (DDLC:36-89), and run the pipeline from
    the CATALOG config — not in-memory dataclasses. Seeding twice must
    not duplicate rows (the reference's 'run once or clear' footgun)."""
    from talkdesk_async_etl_spark import ddl
    from talkdesk_async_etl_spark.pipeline.config import from_config_tables

    db = "tde_test_ddl"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    ddl.bootstrap(spark, db)
    ddl.seed_config(spark, db)  # idempotent: second seed is a no-op

    report_df, endpoint_df = ddl.load_config_tables(spark, db)
    assert report_df.count() == 16  # 8 reports × dev/prod, no dupes
    assert endpoint_df.count() == 2
    plan = build_report_plan(report_df, endpoint_df, "dev")
    assert plan.count() == 8

    cfg = from_config_tables(report_df, endpoint_df, "dev", str(tmp_path / "out"))
    assert len(cfg.report_plan()) == 8
    assert cfg.endpoints[0].base_url.startswith("https://")

    # Fixtures for every seeded report, then a full run off the catalog.
    fx = tmp_path / "fx"
    fx.mkdir()
    for r in cfg.report_plan():
        (fx / f"{r.report_name}.csv").write_text("key,value\na,1\nb,2\n", encoding="utf-8")
    mon = MonitoringStore(spark, str(tmp_path / "mon_ddl"))
    out = run_pipeline(
        spark, cfg, LocalFileReportSource(str(fx)), mon, "2024-01-01", "2024-01-02"
    )
    assert out.status == "SUCCESS" and out.ok == 8
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_merge_store_contract_and_backend_selection(spark, tmp_path):
    """S7: both monitoring backends behind one interface. The parquet
    store runs for real; the MERGE store (Delta absent here) is
    exercised through an injected SQL recorder, asserting the upsert
    contract the reference's UPDATE (DB:245-253) maps onto."""
    from talkdesk_async_etl_spark.pipeline.monitoring import (
        MergeMonitoringStore,
        make_monitoring_store,
        merge_capable,
    )

    # Backend selection: no delta on this classpath → parquet store.
    assert not merge_capable(spark)
    store = make_monitoring_store(spark, str(tmp_path / "m"), catalog_db="tde")
    assert isinstance(store, MonitoringStore)

    recorded = []
    captured = {}

    def record_sql(stmt):
        # The source view only exists for the duration of the MERGE
        # statement (unique-named, dropped after) — capture its typed
        # rows now, as a real MERGE execution would read them.
        recorded.append(stmt)
        m = re.search(r"USING (\S+) s ON", stmt)
        if "report_monitoring" in stmt:
            captured["rows"] = {
                r["report_name"]: r for r in spark.table(m.group(1)).collect()
            }

    merge_store = MergeMonitoringStore(spark, "tde_prod", sql=record_sql)

    def scenario(s):
        s.log_job_start("run1", "2024-01-01", "2024-01-02", 2)
        s.log_reports(
            "run1", "2024-01-01", "2024-01-02",
            [
                ReportResult("agent_activity", "SUCCESS", 5),
                ReportResult("call_volume", "FAILED", 0, error_message="HTTP 400: it's 'bad'"),
            ],
        )
        return s.log_job_end("run1", "2024-01-01", "2024-01-02", 2, 1, 1)

    # Parquet backend: real writes, latest-wins reads.
    pq = MonitoringStore(spark, str(tmp_path / "pq"))
    assert scenario(pq) == "PARTIAL_SUCCESS"
    assert pq.jobs().filter("run_id='run1'").first()["status"] == "PARTIAL_SUCCESS"
    assert pq.job_summary("run1") == {"total": 2, "ok": 1, "fail": 1}

    # MERGE backend: same calls produce keyed upserts, no SQL literals.
    assert scenario(merge_store) == "PARTIAL_SUCCESS"
    assert len(recorded) == 3
    start_sql, reports_sql, end_sql = recorded
    assert "MERGE INTO tde_prod.job_monitoring t" in start_sql
    assert "ON t.run_id = s.run_id" in start_sql
    assert "MERGE INTO tde_prod.report_monitoring t" in reports_sql
    assert "ON t.run_id = s.run_id AND t.report_name = s.report_name" in reports_sql
    assert "WHEN MATCHED THEN UPDATE SET" in end_sql
    assert "t.status = s.status" in end_sql and "WHEN NOT MATCHED THEN INSERT *" in end_sql
    # A restarted run_id must read cleanly RUNNING: job-start's update
    # set nulls out the previous attempt's close columns.
    for col in ("end_time", "success_count", "failed_count", "error_message"):
        assert f"t.{col} = s.{col}" in start_sql
    # Concurrent runs in one session must not share a source view:
    # every statement gets a unique view name, dropped afterwards.
    views = [re.search(r"USING (\S+) s ON", s).group(1) for s in recorded]
    assert len(set(views)) == 3
    assert not [v.name for v in spark.catalog.listTables() if v.name.startswith("_merge_src")]
    # Values ride a temp view, not interpolated literals (DB:226-228's
    # quote-escaping bug class is unrepresentable).
    assert "bad" not in reports_sql
    assert captured["rows"]["call_volume"]["error_message"] == "HTTP 400: it's 'bad'"


class _MergeSim:
    """Executes MERGE INTO statements with real upsert semantics against
    in-memory tables — the closest exercisable stand-in for the Delta
    engine this container lacks (no delta jars, no pip installs). It
    reads the SAME statement string and source temp view a real
    ``spark.sql`` would, so statement-shape bugs (wrong ON keys, missing
    update columns) surface as wrong end-state, not just wrong text."""

    def __init__(self, spark):
        self.spark = spark
        self.tables: dict[str, dict[tuple, dict]] = {}

    def __call__(self, stmt: str) -> None:
        m = re.match(
            r"MERGE INTO (\S+) t USING (\S+) s ON (.+?) "
            r"WHEN MATCHED THEN UPDATE SET (.+?) "
            r"WHEN NOT MATCHED THEN INSERT \*",
            stmt,
        )
        assert m, stmt
        table, src, cond, sets = m.groups()
        on = [re.match(r"t\.(\w+) = s\.\1", c.strip()).group(1) for c in cond.split(" AND ")]
        update_cols = [re.match(r"t\.(\w+) = s\.\1", c.strip()).group(1) for c in sets.split(", ")]
        tbl = self.tables.setdefault(table, {})
        for row in self.spark.table(src).collect():
            d = row.asDict()
            key = tuple(d[k] for k in on)
            if key in tbl:
                tbl[key].update({c: d[c] for c in update_cols})
            else:
                tbl[key] = d


def test_merge_store_upsert_semantics_simulated(spark):
    """S7 end-state check via the MERGE simulator: one row per run_id
    across open/close, and a RESTARTED run_id reads cleanly RUNNING
    (previous attempt's close columns nulled — the stale-state bug a
    narrower job-start update set would leave behind)."""
    from talkdesk_async_etl_spark.pipeline.monitoring import MergeMonitoringStore

    sim = _MergeSim(spark)
    store = MergeMonitoringStore(spark, "tde_prod", sql=sim)

    store.log_job_start("run1", "2024-01-01", "2024-01-02", 2)
    store.log_reports(
        "run1", "2024-01-01", "2024-01-02",
        [ReportResult("agent_activity", "SUCCESS", 5),
         ReportResult("call_volume", "FAILED", 0, error_message="boom")],
    )
    assert store.log_job_end("run1", "2024-01-01", "2024-01-02", 2, 1, 1) == "PARTIAL_SUCCESS"

    jobs = sim.tables["tde_prod.job_monitoring"]
    assert list(jobs) == [("run1",)]  # upsert, never a second row
    closed = jobs[("run1",)]
    assert closed["status"] == "PARTIAL_SUCCESS"
    assert closed["end_time"] is not None and closed["start_time"] is not None
    assert closed["success_count"] == 1 and closed["failed_count"] == 1
    reports = sim.tables["tde_prod.report_monitoring"]
    assert len(reports) == 2
    assert reports[("run1", "call_volume")]["error_message"] == "boom"

    # Restart: same run_id re-opens; close columns must read as NULL.
    store.log_job_start("run1", "2024-01-03", "2024-01-04", 3)
    reopened = jobs[("run1",)]
    assert reopened["status"] == "RUNNING" and reopened["from_date"] == "2024-01-03"
    assert reopened["end_time"] is None
    assert reopened["success_count"] is None and reopened["failed_count"] is None


def test_cluster_conf_shape():
    """The cluster profile must keep the scale invariants the local
    profile can't express: a high initial shuffle-partition count that
    AQE coalesces (never the other way), bounded scan-task bytes, and
    the AQE trio on."""
    from talkdesk_async_etl_spark.session import cluster_conf

    c = cluster_conf()
    assert c["spark.sql.adaptive.enabled"] == "true"
    assert c["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
    assert c["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert int(c["spark.sql.shuffle.partitions"]) >= 1000
    assert (
        c["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]
        == c["spark.sql.shuffle.partitions"]
    )
    assert c["spark.sql.files.maxPartitionBytes"].endswith("m")
    # parameterization respected
    assert cluster_conf(8000)["spark.sql.shuffle.partitions"] == "8000"


def test_single_partition_loop_window_semantics(spark):
    """The round-15 optimization primitive: the size-derived conf
    window must (1) pin AQE off + shuffle.partitions=1 inside exactly
    when the caller's size signal says one partition, (2) be a NO-OP
    when the relation spans real partitions (cluster-scale safety),
    and (3) restore both confs on exit even when the body raises."""
    import pytest

    from talkdesk_async_etl_spark.session import single_partition_loop

    aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    parts0 = spark.conf.get("spark.sql.shuffle.partitions")

    with single_partition_loop(spark, 1):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0

    with single_partition_loop(spark, 2):  # real graph -> no-op
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
        assert spark.conf.get("spark.sql.shuffle.partitions") == parts0

    with pytest.raises(RuntimeError, match="boom"):
        with single_partition_loop(spark, 1):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0

    # Nesting (the composed pipelines open a window around operators
    # that open their own): inner exit must not clobber the outer
    # window's pin.
    with single_partition_loop(spark, 1):
        with single_partition_loop(spark, 1):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0

    # Cross-thread guard (ADVICE r15): the conf pin is session-global,
    # so a SECOND thread opening a window while one is held must fail
    # loudly instead of silently sharing/clobbering the pin. A no-op
    # window (n_parts > 1) from another thread stays legal — it never
    # touches conf.
    import threading

    errs: list[BaseException] = []

    def other_thread_window(n_parts):
        try:
            with single_partition_loop(spark, n_parts):
                pass
        except BaseException as exc:  # noqa: BLE001 — recorded for assert
            errs.append(exc)

    with single_partition_loop(spark, 1):
        th = threading.Thread(target=other_thread_window, args=(1,))
        th.start()
        th.join()
        assert len(errs) == 1 and "another thread" in str(errs[0])
        th2 = threading.Thread(target=other_thread_window, args=(2,))
        th2.start()
        th2.join()
        assert len(errs) == 1  # no-op window from another thread is fine
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe0
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0
    # ... and after release, another thread may take the window.
    th3 = threading.Thread(target=other_thread_window, args=(1,))
    th3.start()
    th3.join()
    assert len(errs) == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts0
