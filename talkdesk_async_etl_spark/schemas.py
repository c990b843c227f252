"""Explicit StructTypes for every table the engine touches.

The reference declares config/monitoring schemas as Delta DDL
(ddl/ddl_talkdesk_config.py:10-34, ddl/ddl_talkdesk_monitoring.py:10-41)
and leaves payload schemas to pandas inference. Engine policy: every
DataFrame the engine *creates* has an explicit schema (never inferred);
payload CSV inference is allowed only at the ingestion boundary and the
inferred schema is recorded with the sink.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def arrow_table(rows: Sequence[tuple], schema: T.StructType):
    """``rows`` as a ``pyarrow.Table`` typed by ``to_arrow_schema(schema)``:
    the one conversion behind every driver-side small frame and every
    monitoring parquet append.

    Timestamps travel as ``timestamp[us, tz=UTC]``: a naive datetime
    (``utc_now()``) is stored as that UTC instant, whatever the process
    or session time zone. A ``None`` in a non-null field, a wrong type,
    an int32 overflow or a row of the wrong width raises ``ValueError``
    or ``TypeError``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
    arrays = [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema, strict=True)]
    for array, f in zip(arrays, arrow_schema):
        # pyarrow builds a table without checking nullability (Spark's
        # Arrow cast in createDataFrame does); check here so that a
        # parquet append rejects the same rows as a frame.
        if array.null_count and not f.nullable:
            raise ValueError(f"None in non-null field {f.name!r}")
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: T.StructType) -> DataFrame:
    """A small driver-side frame (config rows, MERGE sources, DDL seeds)
    as a ``LocalRelation`` built from ``arrow_table(rows, schema)``.

    ``createDataFrame`` on a list of tuples plans a ``parallelize``
    (``LogicalRDD``) whose every job needs a Python worker; an Arrow
    table ships to the JVM once and its jobs run no Python.
    """
    return spark.createDataFrame(arrow_table(rows, schema), schema)


# --- Config domain (reference ddl/ddl_talkdesk_config.py:10-34) ---------

REPORT_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("report_name", T.StringType(), False),
        T.StructField("enabled", T.BooleanType(), False),
        T.StructField("endpoint_type", T.StringType(), False),
        T.StructField("retries", T.IntegerType(), False),
        T.StructField("timeout_sec", T.IntegerType(), False),
        T.StructField("env", T.StringType(), False),
    ]
)

ENDPOINT_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("endpoint_type", T.StringType(), False),
        T.StructField("base_url", T.StringType(), False),
        T.StructField("auth_endpoint", T.StringType(), False),
        T.StructField("post_endpoint", T.StringType(), False),
        T.StructField("get_endpoint", T.StringType(), False),
        T.StructField("env", T.StringType(), False),
    ]
)

# --- Monitoring domain (reference ddl/ddl_talkdesk_monitoring.py:10-41) --

JOB_MONITORING_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("from_date", T.StringType(), True),  # YYYY-MM-DD quirk (DB:497)
        T.StructField("to_date", T.StringType(), True),
        T.StructField("start_time", T.TimestampType(), True),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("total_reports", T.IntegerType(), True),
        T.StructField("success_count", T.IntegerType(), True),
        T.StructField("failed_count", T.IntegerType(), True),
        T.StructField("error_message", T.StringType(), True),
    ]
)

REPORT_MONITORING_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("report_name", T.StringType(), False),
        T.StructField("from_date", T.StringType(), True),
        T.StructField("to_date", T.StringType(), True),
        T.StructField("start_time", T.TimestampType(), True),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("rows_written", T.IntegerType(), True),
        T.StructField("error_message", T.StringType(), True),
    ]
)

# Status enums (reference local/monitoring_db.py:66,126; DB:414,450,465,563-568)
REPORT_STATUS = ("RUNNING", "SUCCESS", "FAILED")
JOB_STATUS = ("RUNNING", "SUCCESS", "PARTIAL_SUCCESS", "FAILED")

# --- Multimodal extension columns (north star; no reference analogue) ---

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("content", T.BinaryType(), True),  # opaque payload bytes
        T.StructField("mime_type", T.StringType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

# --- Driver testdata tables (FIXTURES.md §A) ----------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
