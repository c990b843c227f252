"""Batch readers/writers (SURVEY.md §2.1 S1/S2/S4/S5/S6).

The reference reads managed Delta tables
(databricks/talkdesk_databricks_etl.py:191-200) and writes per-report
CSV files (DB:441-446) plus Delta monitoring appends (DB:221-223).
Here every read is a parquet/CSV/JSON scan that Catalyst can push
filters and projections into; sinks are directory-based and
date/report-partitioned so a 100 TB table prunes partitions at read
time instead of re-scanning everything.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """S1: columnar scan. Filters/projections applied by callers are
    pushed into the parquet reader by Catalyst (check ``PushedFilters``
    in ``.explain``).

    The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong``
    it arrives as epoch-nanos LongType and is truncated here to a
    microsecond timestamp — the same truncation DuckDB applies on
    ``CAST(ts AS TIMESTAMP)``, so oracle SQL casts likewise.

    ``spread=True`` requests that the scan feed at least the session's
    default parallelism. It only repartitions when the scan actually
    under-parallelizes (a one-row-group parquet file is ONE task,
    serializing everything downstream onto one core — the testdata
    shape); on a multi-file table that already splits into >= that many
    tasks it is a NO-OP, so a 100 TB corpus scan is never prefixed with
    a full-table shuffle. tests/test_plans.py asserts both branches."""
    # Runtime-settable (verified): a vanilla session — e.g. the driver
    # harness's — rejects TIMESTAMP(NANOS) parquet outright, so the conf
    # must not depend on who built the session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if spread:
        target = spark.sparkContext.defaultParallelism
        # Plan-time inspection only (no job): how many tasks the scan
        # would launch given file layout + maxPartitionBytes.
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


def read_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> None:
    """Expose tables to the SQL API under their bare names."""
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_json_doc(path: str) -> dict:
    """S2: driver-side JSON config document load (reference
    local/async_utils.py:11-15). Small orchestration metadata — a plain
    ``json.load``, never a Spark job."""
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    infer: bool = True,
) -> DataFrame:
    """S4: CSV parse. Schema inference mirrors the reference's
    ``pd.read_csv`` (DB:437) but should be replaced with an explicit
    schema once a report's shape is known (inference = 2 passes)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", infer).csv(path)


def csv_from_text(spark: SparkSession, csv_text: str) -> DataFrame:
    """Parse an in-memory CSV payload (the HTTP connector's output,
    reference DB:437) into a DataFrame via ``spark.createDataFrame`` on
    the parsed lines — used only at the ingestion boundary for
    driver-fetched payloads; partition-side ingestion goes through
    ``mapInPandas`` instead (pipeline.runner)."""
    import io

    import pandas as pd

    pdf = pd.read_csv(io.StringIO(csv_text))
    return spark.createDataFrame(pdf)


def os_path(path: str, why: str, remedy: str) -> str:
    """``path`` as an os-level path, for writers that use ``os``/``open``
    rather than the Hadoop filesystem layer.

    ``file:`` URIs ARE local: ``file:/x``, ``file:///x`` and
    ``file://localhost/x`` all mean ``/x``. A non-empty authority
    (``file://nas01/exports``) names a remote share, and folding it into
    a local path would silently write to the wrong place, so it raises
    ``ValueError``, as does any other URI scheme (``s3a://``,
    ``abfss://``, ``dbfs:/``): ``os.makedirs`` would create a local
    directory named after the scheme. The message is ``why``, the
    offending part, then ``remedy``."""
    scheme = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*(?=:/)", path)
    if scheme is None:
        return path
    if scheme.group(0).lower() != "file":
        raise ValueError(f"{why}; got URI scheme {scheme.group(0)!r} in {path!r}. {remedy}")
    rest = path[len(scheme.group(0)) + 1 :]
    if not rest.startswith("//"):
        return rest
    authority, _, local = rest[2:].partition("/")
    if authority not in ("", "localhost"):
        raise ValueError(
            f"{why}; file: URI with remote authority {authority!r} in {path!r} "
            f"is not local. {remedy}"
        )
    return "/" + local


def write_csv_report(
    df: DataFrame,
    base: str,
    report_name: str,
    from_date: str,
    to_date: str,
    single_file: bool = False,
) -> str:
    """S5: CSV sink with the reference's path contract
    ``{base}/{report_name}/{from}_to_{to}.csv`` (DB:441-444,
    local/talkdesk_local_etl.py:67-69).

    Default: Spark writes a directory of part files under the contract
    path — the write stays parallel at scale (a single-file sink would
    serialize 100 TB through one task).

    ``single_file=True`` restores the reference's one-``.csv``-FILE
    leaf (DB:446 — consumers that open the path directly expect one
    file): ``coalesce(1)`` to a staging directory, then the lone part
    file is renamed onto the contract path. Opt in only for reports
    known to be driver-small (the reference's envelope is <=50k rows,
    README.md:204-207).

    The single-file rename is ``os``/``shutil``-based, so it requires a
    LOCAL filesystem path. A Hadoop FS URI (``s3a://``, ``hdfs://``,
    ``abfss://``, ``dbfs:/``) is rejected up front with a clear error —
    the Spark write would land remotely and the local rename would then
    fail confusingly partway through. Remote single-file reports should
    use the directory sink plus a storage-native copy, or a Hadoop
    FileSystem rename in the deploy layer."""
    out = os.path.join(base, report_name, f"{from_date}_to_{to_date}.csv")
    if not single_file:
        df.write.mode("overwrite").option("header", True).csv(out)
        return out
    out = os.path.join(
        os_path(
            base,
            "single_file=True needs an os-level path for its rename",
            "Use the directory sink (single_file=False), which writes through "
            "the Hadoop filesystem layer, for non-local URIs.",
        ),
        report_name,
        f"{from_date}_to_{to_date}.csv",
    )
    import shutil

    staging = out + "._staging"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(staging)
    part = next(f for f in os.listdir(staging) if f.startswith("part-") and f.endswith(".csv"))
    if os.path.isdir(out):
        shutil.rmtree(out)
    elif os.path.exists(out):
        os.remove(out)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    shutil.move(os.path.join(staging, part), out)
    shutil.rmtree(staging)
    return out


def write_csv_report_observed(
    df: DataFrame,
    base: str,
    report_name: str,
    from_date: str,
    to_date: str,
    single_file: bool = False,
) -> tuple[str, int]:
    """S5 + A1 fused: write the report and collect ``rows_written`` in
    the SAME job via the Observation API. The reference counts, then
    writes — two full evaluations of the report (``report_df.count()``
    DIST:233, then the CSV write DIST:156-163); for an engine-side
    report at 100 TB the second scan is pure waste. ``df.observe``
    attaches a zero-cost accumulator-backed aggregate to the write
    job itself, so monitoring gets the exact written row count with no
    extra pass and no race against concurrent source changes (the
    count describes the rows THIS write saw, not a re-read).

    Returns ``(output_path, rows_written)`` — the pair
    ``pipeline.monitoring.ReportRow`` wants."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows_written"))
    out = write_csv_report(observed, base, report_name, from_date, to_date, single_file)
    return out, int(obs.get["rows_written"])


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed-table sink: co-locates rows by hash(bucket_col)
    at WRITE time so every later equi-join/aggregation on that key skips
    its shuffle entirely — the 100 TB answer for a fact table joined on
    the same key by every query (the reference's monitoring tables keyed
    by run_id fit this shape). Join two tables bucketed the same way and
    the plan shows SortMergeJoin with NO Exchange on either side."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def append_parquet(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """S6: append sink (Delta in production, parquet in the test
    profile — delta jars are not on the classpath here). Monitoring
    sinks partition by nothing (tiny); payload sinks partition by
    (report_name, run_date) mirroring the reference's path layout so
    date-predicate queries prune partitions."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...],
    sort_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """S5/S6 depth: hive-layout partitioned parquet sink — the layout a
    100 TB corpus is stored in so downstream readers partition-prune
    (a reader filtering on the partition key lists ONLY the matching
    directories; the pruned data is never opened).

    ``repartition(partition_by)`` first: without it every task holds
    rows of every partition value and the write fans out to
    tasks × partitions small files — the classic small-files failure.
    With it, each partition directory is written by the tasks owning
    that key. ``sortWithinPartitions`` then orders rows inside each
    file so min/max row-group stats make non-partition predicates
    skippable too (poor man's Z-order; real clustering would bucket).
    """
    from pyspark.sql import functions as F

    out = df.repartition(*[F.col(c) for c in partition_by])
    if sort_by:
        out = out.sortWithinPartitions(*[F.col(c) for c in sort_by])
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)


def session_scratch_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Scratch landing path keyed by Spark application id AND the sf
    fixture name. Fixture-writing operators (CSV round-trips, sink
    layout attestations, dirty-landing robustness queries) used fixed
    ``$TMPDIR/tde_*`` paths; ADVICE r11 flagged the race — two
    concurrent sessions (parallel pytest, overlapping bench/plan-audit
    sweeps) or two sf fixtures in one session overwrite each other's
    landing mid-read, producing wrong counts or read failures. Keying
    by (application id, sf) isolates every writer while keeping
    same-session same-sf reruns idempotent (they reuse and overwrite
    ONE path instead of accreting tempdirs).

    The session suffix is inserted BEFORE the extension (ADVICE r12):
    appending after the full name yielded ``doc.json_app-123_sf0.01``,
    which confuses anything keying on the ``.json``/``.csv`` suffix
    (editors, format sniffers, glob cleanup)."""
    import tempfile

    stem, ext = os.path.splitext(name)
    return os.path.join(
        tempfile.gettempdir(),
        f"{stem}_{spark.sparkContext.applicationId}_"
        f"{os.path.basename(os.path.normpath(sf_dir))}{ext}",
    )
