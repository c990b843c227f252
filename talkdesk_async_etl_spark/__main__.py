"""CLI entry point: ``python -m talkdesk_async_etl_spark`` runs one
pipeline run end-to-end (the reference's ``python -m
local.talkdesk_local_etl`` / Databricks job surface, README.md:316).

The HTTP source uses stdlib urllib; ``--fixture-dir`` selects the
local-file source — the same pluggable connector the end-to-end tests
drive.
"""

from __future__ import annotations

import sys


def main(argv: list[str] | None = None) -> int:
    import argparse

    from talkdesk_async_etl_spark.pipeline.config import from_json_doc
    from talkdesk_async_etl_spark.pipeline.monitoring import MonitoringStore
    from talkdesk_async_etl_spark.pipeline.params import auto_dates
    from talkdesk_async_etl_spark.pipeline.runner import run_pipeline
    from talkdesk_async_etl_spark.session import build_session
    from talkdesk_async_etl_spark.sources.io import read_json_doc

    p = argparse.ArgumentParser(prog="talkdesk_async_etl_spark")
    p.add_argument("--config", default="config.json")
    p.add_argument("--env", default="dev")
    p.add_argument("--from-date", dest="from_date", default=None)
    p.add_argument("--to-date", dest="to_date", default=None)
    p.add_argument("--profile", choices=("driver-async", "distributed"), default="driver-async")
    p.add_argument(
        "--monitoring-dir",
        default="/tmp/tde_monitoring",
        help="local directory of the parquet monitoring tables (a path or a file: URI; "
        "remote URIs such as abfss:// or s3a:// are rejected, as the appends are "
        "local file writes)",
    )
    p.add_argument(
        "--fixture-dir",
        default=None,
        help="use the local-file report source reading {dir}/{report}.csv "
        "(the HTTP source needs credentials via TDE_CLIENT_ID/TDE_CLIENT_SECRET)",
    )
    args = p.parse_args(argv)
    from_date, to_date = auto_dates(args.from_date, args.to_date)

    cfg = from_json_doc(read_json_doc(args.config), env=args.env)
    spark = build_session(app_name="tde_pipeline")
    monitoring = MonitoringStore(spark, args.monitoring_dir)

    if args.fixture_dir:
        from talkdesk_async_etl_spark.sources.http_source import LocalFileReportSource

        fixture_dir = args.fixture_dir
        source = LocalFileReportSource(fixture_dir)

        def source_factory():
            return LocalFileReportSource(fixture_dir)

    else:
        from talkdesk_async_etl_spark.pipeline.token import TokenManager
        from talkdesk_async_etl_spark.sources.http_source import HttpReportSource
        from talkdesk_async_etl_spark.sources.oauth import build_token_fetcher
        from talkdesk_async_etl_spark.sources.secrets import EnvSecretsProvider

        secrets = EnvSecretsProvider().load_required(("client-id", "client-secret"))
        ep = cfg.endpoints[0]
        fetch_token = build_token_fetcher(
            f"{ep.base_url}{ep.auth_endpoint}",
            secrets["client-id"],
            secrets["client-secret"],
        )
        source = HttpReportSource(
            ep.base_url, ep.post_endpoint, ep.get_endpoint, TokenManager(fetch_token)
        )
        source_factory = None

    outcome = run_pipeline(
        spark, cfg, source, monitoring, from_date, to_date,
        profile=args.profile, source_factory=source_factory,
    )
    print(
        f"run {outcome.run_id}: {outcome.status} "
        f"({outcome.ok}/{outcome.total} ok, {outcome.fail} failed)"
    )
    spark.stop()
    return 0 if outcome.status in ("SUCCESS", "PARTIAL_SUCCESS") else 1


if __name__ == "__main__":
    sys.exit(main())
