"""Report source connector (SURVEY.md §2.1 S3): the POST→GET CSV
ingestion boundary, pluggable so tests run without a network.

The reference's flow (async_utils.py:77-129, DB:330-382):
POST ``{base}{post_endpoint}`` → ``report_id``; poll/GET
``{base}{get_endpoint}?id=...`` → CSV payload. The payload stays the
bytes as served, from socket to sink: no decode, no re-encode.
Everything network-touching sits behind the ``ReportSource`` protocol:

- ``HttpReportSource`` — stdlib urllib driven through
  ``asyncio.to_thread``; localhost-testable.
- ``LocalFileReportSource`` — the test double: POST returns a fake
  report id, GET returns the bytes of ``{fixture_dir}/{report_name}.csv``.
  Failure injection via a set of report names that raise a given status.

Both honor the per-report RetryPolicy and the TokenManager — identical
retry/backoff semantics to the reference (E4/E5).
"""

from __future__ import annotations

import asyncio
from dataclasses import dataclass, field
from pathlib import Path
from typing import Protocol

from talkdesk_async_etl_spark.pipeline.retry import HttpStatusError, RetryPolicy
from talkdesk_async_etl_spark.pipeline.token import TokenManager


class ReportSource(Protocol):
    async def generate_report_id(self, report_name: str, from_date: str, to_date: str) -> str: ...

    async def download_report(self, report_id: str) -> bytes:
        """Returns the report payload: CSV bytes, exactly as served."""
        ...


@dataclass
class LocalFileReportSource:
    """Filesystem fake standing in for the HTTP API (SURVEY.md §5.3).

    ``fail_reports`` maps report_name → HTTP status to raise;
    ``fail_times`` bounds how many times each raises (to exercise
    retry-then-succeed paths)."""

    fixture_dir: str
    fail_reports: dict[str, int] = field(default_factory=dict)
    fail_times: int = 10**9
    calls: list[tuple[str, str]] = field(default_factory=list)
    _fail_counts: dict[str, int] = field(default_factory=dict)

    async def generate_report_id(self, report_name: str, from_date: str, to_date: str) -> str:
        self.calls.append(("post", report_name))
        return f"{report_name}:{from_date}:{to_date}"

    async def download_report(self, report_id: str) -> bytes:
        report_name = report_id.split(":", 1)[0]
        self.calls.append(("get", report_name))
        if report_name in self.fail_reports:
            n = self._fail_counts.get(report_name, 0)
            if n < self.fail_times:
                self._fail_counts[report_name] = n + 1
                raise HttpStatusError(self.fail_reports[report_name], f"injected for {report_name}")
        path = Path(self.fixture_dir) / f"{report_name}.csv"
        if not path.exists():
            raise HttpStatusError(404, f"no fixture for {report_name}")
        return path.read_bytes()


class HttpReportSource:
    """HTTP production source (reference async_utils.py:77-129).

    Stdlib ``urllib`` driven through ``asyncio.to_thread``: one thread
    per in-flight request, bounded by the runner's concurrency cap."""

    def __init__(
        self,
        base_url: str,
        post_endpoint: str,
        get_endpoint: str,
        token_manager: TokenManager,
        timeout_sec: float = 30.0,
    ):
        self._base = base_url
        self._post = post_endpoint
        self._get = get_endpoint
        self._tokens = token_manager
        self._timeout = timeout_sec

    def _urllib_request(self, url: str, payload: dict | None, token: str) -> tuple[int, bytes]:
        import json
        import urllib.error
        import urllib.request

        data = None
        headers = {"Authorization": f"Bearer {token}"}
        if payload is not None:
            data = json.dumps(payload).encode("utf-8")
            headers["Content-Type"] = "application/json"
        req = urllib.request.Request(url, data=data, headers=headers)
        try:
            with urllib.request.urlopen(req, timeout=self._timeout) as resp:  # noqa: S310
                return resp.status, resp.read()
        except urllib.error.HTTPError as exc:
            return exc.code, exc.read()

    # -- ReportSource protocol -----------------------------------------

    async def generate_report_id(self, report_name: str, from_date: str, to_date: str) -> str:
        import json

        token = await self._tokens.get_token()
        status, body = await asyncio.to_thread(
            self._urllib_request,
            f"{self._base}{self._post}",
            {"report": report_name, "from_date": from_date, "to_date": to_date},
            token,
        )
        if status >= 400:
            raise HttpStatusError(status, _error_text(body))
        return str(json.loads(body.decode("utf-8", errors="replace"))["report_id"])

    async def download_report(self, report_id: str) -> bytes:
        from urllib.parse import quote

        token = await self._tokens.get_token()
        status, body = await asyncio.to_thread(
            self._urllib_request, f"{self._base}{self._get}?id={quote(report_id)}", None, token
        )
        if status >= 400:
            raise HttpStatusError(status, _error_text(body))
        return body


def _error_text(body: bytes) -> str:
    """The head of an error response, for the exception message."""
    return body.decode("utf-8", errors="replace")[:200]


async def fetch_report_csv(
    source: ReportSource,
    report_name: str,
    from_date: str,
    to_date: str,
    policy: RetryPolicy,
    sleep=asyncio.sleep,
) -> bytes:
    """POST→GET with the reference's retry semantics applied to each
    call independently (DB:330-382); returns the CSV payload bytes."""

    async def _post():
        return await source.generate_report_id(report_name, from_date, to_date)

    async def _get():
        return await source.download_report(report_id)

    report_id = await policy.run(_post, sleep=sleep)
    return await policy.run(_get, sleep=sleep)
