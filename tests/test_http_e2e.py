"""Full HTTP-path e2e against a real localhost server: OAuth
client-credentials fetch → bearer-authenticated POST→GET report flow →
retry on a injected 503 → Spark sink + monitoring. This is the
reference's production path (async_utils.py:55-129, DB:330-456) with
zero fakes between the engine and the sockets."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from talkdesk_async_etl_spark.pipeline.config import EndpointConfig, PipelineConfig, ReportConfig
from talkdesk_async_etl_spark.pipeline.monitoring import MonitoringStore
from talkdesk_async_etl_spark.pipeline.runner import run_pipeline
from talkdesk_async_etl_spark.pipeline.token import TokenManager
from talkdesk_async_etl_spark.sources.http_source import HttpReportSource
from talkdesk_async_etl_spark.sources.oauth import build_token_fetcher

REPORTS = ("agent_activity", "call_volume")


class _Api(BaseHTTPRequestHandler):
    """Minimal report API: /oauth/token, /reports/generate,
    /reports/download. One injected 503 on call_volume's first
    download to exercise the retry path end-to-end."""

    state: dict = {}

    def _send(self, status: int, body: str, ctype: str = "application/json") -> None:
        payload = body.encode("utf-8")
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _authed(self) -> bool:
        return self.headers.get("Authorization") == "Bearer tok-e2e"

    def do_POST(self):  # noqa: N802
        length = int(self.headers.get("Content-Length", 0))
        raw = self.rfile.read(length).decode("utf-8")
        if self.path == "/oauth/token":
            form = {k: v[0] for k, v in parse_qs(raw).items()}
            self.state.setdefault("token_calls", []).append(form)
            if form.get("client_id") != "cid" or form.get("client_secret") != "sec":
                self._send(401, json.dumps({"error": "invalid_client"}))
                return
            self._send(200, json.dumps({"access_token": "tok-e2e", "expires_in": 3600}))
            return
        if self.path == "/reports/generate":
            if not self._authed():
                self._send(401, json.dumps({"error": "no token"}))
                return
            doc = json.loads(raw)
            self._send(200, json.dumps({"report_id": f"rid-{doc['report']}"}))
            return
        self._send(404, "{}")

    def do_GET(self):  # noqa: N802
        url = urlparse(self.path)
        if url.path == "/reports/download":
            if not self._authed():
                self._send(401, json.dumps({"error": "no token"}))
                return
            rid = parse_qs(url.query)["id"][0]
            name = rid.removeprefix("rid-")
            if name == "call_volume" and not self.state.get("cv_failed_once"):
                self.state["cv_failed_once"] = True
                self._send(503, "try later")
                return
            self._send(200, f"key,value\n{name},1\nrow2,2\n", ctype="text/csv")
            return
        self._send(404, "{}")

    def log_message(self, *args):  # silence per-request stderr noise
        pass


@pytest.fixture()
def api_server():
    _Api.state = {}
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Api)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    thread.join(timeout=5)


def test_http_pipeline_end_to_end(spark, tmp_path, api_server):
    cfg = PipelineConfig(
        env="dev",
        output_base_path=str(tmp_path / "out"),
        reports=tuple(ReportConfig(report_name=r) for r in REPORTS),
        endpoints=(
            EndpointConfig(
                endpoint_type="standard",
                base_url=api_server,
                auth_endpoint="/oauth/token",
                post_endpoint="/reports/generate",
                get_endpoint="/reports/download",
            ),
        ),
    )
    ep = cfg.endpoints[0]
    tokens = TokenManager(
        build_token_fetcher(f"{ep.base_url}{ep.auth_endpoint}", "cid", "sec")
    )
    source = HttpReportSource(ep.base_url, ep.post_endpoint, ep.get_endpoint, tokens)
    mon = MonitoringStore(spark, str(tmp_path / "mon"))

    out = run_pipeline(spark, cfg, source, mon, "2024-01-01", "2024-01-02")

    assert out.status == "SUCCESS" and out.ok == 2 and out.fail == 0
    # One token fetch total despite concurrent reports (TokenManager
    # single-flight), and the 503 was retried to success.
    assert len(_Api.state["token_calls"]) == 1
    assert _Api.state["cv_failed_once"] is True
    reports = {r["report_name"]: r for r in mon.reports().collect()}
    assert reports["call_volume"]["rows_written"] == 2
    # Payload landed at the reference's output-path contract
    # (verbatim CSV passthrough, AU:132-140 / DB:441-444).
    import os

    p = os.path.join(cfg.output_base_path, "agent_activity", "2024-01-01_to_2024-01-02.csv")
    assert os.path.isfile(p)
    assert open(p, encoding="utf-8").read().startswith("key,value")


def test_write_csv_report_single_file_contract(spark, tmp_path):
    """S5 single-file opt-in: the reference writes ONE .csv file per
    report (DB:441-446); single_file=True must leave exactly one data
    FILE at the contract path {base}/{report}/{from}_to_{to}.csv,
    with no staging residue. The default stays a directory of parts
    (the parallel-at-scale shape)."""
    import os

    from talkdesk_async_etl_spark.sources.io import read_csv, write_csv_report

    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    out = write_csv_report(
        df, str(tmp_path), "agent_activity", "2024-01-01", "2024-01-02", single_file=True
    )
    assert out.endswith(os.path.join("agent_activity", "2024-01-01_to_2024-01-02.csv"))
    assert os.path.isfile(out)  # a file, not a part directory
    assert os.listdir(os.path.dirname(out)) == [os.path.basename(out)]
    back = read_csv(spark, out)
    assert back.count() == 5 and set(back.columns) == {"id", "v"}

    # Re-write over an existing single file: idempotent, still one file.
    out_again = write_csv_report(
        df, str(tmp_path), "agent_activity", "2024-01-01", "2024-01-02", single_file=True
    )
    assert out_again == out and os.path.isfile(out)
    assert os.listdir(os.path.dirname(out)) == [os.path.basename(out)]

    # Default: directory sink under the same path contract.
    out_dir = write_csv_report(df, str(tmp_path), "call_volume", "2024-01-01", "2024-01-02")
    assert os.path.isdir(out_dir)
    assert any(f.startswith("part-") for f in os.listdir(out_dir))


def test_write_csv_report_single_file_accepts_file_uri(spark, tmp_path):
    """file:/ URIs ARE local: the single-file sink strips the scheme
    and proceeds with the os-level rename; genuinely remote URI schemes
    are still rejected with a message naming the scheme."""
    import os

    import pytest

    from talkdesk_async_etl_spark.sources.io import write_csv_report

    df = spark.range(3).selectExpr("id", "id * 2 AS v")
    out = write_csv_report(
        df, f"file://{tmp_path}", "queue_activity", "2024-01-01", "2024-01-02",
        single_file=True,
    )
    assert os.path.isfile(out)
    assert str(tmp_path) in out and not out.startswith("file:")

    with pytest.raises(ValueError, match="URI scheme 's3a'"):
        write_csv_report(
            df, "s3a://bucket/x", "queue_activity", "2024-01-01", "2024-01-02",
            single_file=True,
        )

    # file: with a non-empty remote authority is NOT local — folding
    # file://nas01/exports into /nas01/exports would silently write to
    # the wrong place.
    with pytest.raises(ValueError, match="remote authority 'nas01'"):
        write_csv_report(
            df, "file://nas01/exports", "queue_activity", "2024-01-01", "2024-01-02",
            single_file=True,
        )


def test_observed_write_counts_in_the_write_job(spark, tmp_path):
    """The fused writer must return the exact written row count without
    a second evaluation — verified by writing a non-deterministic-ish
    plan once: the returned count matches what landed on disk."""
    from talkdesk_async_etl_spark.sources.io import read_csv, write_csv_report_observed

    df = spark.range(137).selectExpr("id", "id % 7 AS bucket").filter("bucket != 3")
    out, n = write_csv_report_observed(
        df, str(tmp_path), "observed", "2024-02-01", "2024-02-02"
    )
    back = read_csv(spark, out)
    assert n == back.count() == 137 - 20  # ids with id%7==3: 20 of 137
    # empty report: observe still resolves (no rows ever hit the agg)
    out2, n2 = write_csv_report_observed(
        df.filter("id < 0"), str(tmp_path), "observed_empty", "2024-02-01", "2024-02-02"
    )
    assert n2 == 0
