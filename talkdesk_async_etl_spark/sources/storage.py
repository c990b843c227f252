"""Cloud-filesystem configuration adapter (SURVEY.md §2.1 S10).

The reference sets five ADLS Gen2 OAuth configs inline
(databricks/talkdesk_databricks_etl.py:134-164). Here the same pattern
is isolated behind one function so storage auth never leaks into
pipeline code; local paths need no configuration.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def configure_adls_oauth(
    spark: SparkSession,
    account: str,
    client_id: str,
    client_secret: str,
    tenant_id: str,
) -> None:
    """Hadoop-conf OAuth setup for ``abfss://`` paths (same five keys
    the reference sets, DB:134-164)."""
    host = f"{account}.dfs.core.windows.net"
    conf = {
        f"fs.azure.account.auth.type.{host}": "OAuth",
        f"fs.azure.account.oauth.provider.type.{host}": (
            "org.apache.hadoop.fs.azurebfs.oauth2.ClientCredsTokenProvider"
        ),
        f"fs.azure.account.oauth2.client.id.{host}": client_id,
        f"fs.azure.account.oauth2.client.secret.{host}": client_secret,
        f"fs.azure.account.oauth2.client.endpoint.{host}": (
            f"https://login.microsoftonline.com/{tenant_id}/oauth2/token"
        ),
    }
    for k, v in conf.items():
        spark.conf.set(k, v)
