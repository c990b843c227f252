"""Central query registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2 registers here as a named query:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when the
semantics are SQL-expressible) an equivalent ANSI-SQL oracle string
that DuckDB runs on the same parquet tables. The driver compares both
at sf=0.01 (row count + schema + order-insensitive value hash), so:

- every computed column is aliased identically in both formulations;
- float aggregates are rounded identically on both sides;
- DuckDB integer sums are cast to BIGINT (DuckDB widens to HUGEINT);
- every ranking/limit query carries a deterministic tie-break key.

Queries with genuinely non-SQL-expressible or nondeterministic parts
(approx sketches, LSH candidate generation, hash-seeded signatures)
register with ``oracle=None`` → the driver records a rows-only check.
"""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}

# Modules that register queries on import.
_QUERY_MODULES = (
    "talkdesk_async_etl_spark.operators.relational",
    "talkdesk_async_etl_spark.operators.joins",
    "talkdesk_async_etl_spark.operators.aggregates",
    "talkdesk_async_etl_spark.operators.windows",
    "talkdesk_async_etl_spark.operators.scalars",
    "talkdesk_async_etl_spark.operators.asof",
    "talkdesk_async_etl_spark.operators.udfs",
    "talkdesk_async_etl_spark.operators.multimodal",
    "talkdesk_async_etl_spark.operators.dedup",
    "talkdesk_async_etl_spark.operators.dedup_clusters",
    "talkdesk_async_etl_spark.operators.similarity",
    "talkdesk_async_etl_spark.operators.text",
    "talkdesk_async_etl_spark.operators.text_quality",
    "talkdesk_async_etl_spark.operators.stats",
    "talkdesk_async_etl_spark.operators.sketches",
    "talkdesk_async_etl_spark.operators.graph",
    "talkdesk_async_etl_spark.operators.sampling",
    "talkdesk_async_etl_spark.operators.ingest",
    "talkdesk_async_etl_spark.operators.tpch",
    "talkdesk_async_etl_spark.operators.tpch_deep",
    "talkdesk_async_etl_spark.operators.engine_api",
    "talkdesk_async_etl_spark.operators.spatial",
    "talkdesk_async_etl_spark.operators.mining",
    "talkdesk_async_etl_spark.operators.curation",
    "talkdesk_async_etl_spark.streaming.batch_twins",
)


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn`` as a named engine query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


_REPO_DIR = Path(__file__).resolve().parents[2]
_CORRECTNESS_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def check_order(specs: dict[str, QuerySpec], correctness_dir: str | Path) -> list[str]:
    """Driver-facing check order over ``specs`` (registration order).
    The driver verifies exactly the first 50 entries of ``queries()``,
    so the order allocates that budget from the ``CORRECTNESS_r*.json``
    files in ``correctness_dir``: oracle-backed ids before rows-only
    ids; within each, ids with no row in any file first, then the
    oldest last round that has a row for the id; registration order
    breaks ties. With no files, registration order."""
    last: dict[str, int] = {}
    for path in Path(correctness_dir).iterdir():
        m = _CORRECTNESS_FILE.fullmatch(path.name)
        if m:
            for name in json.loads(path.read_text()):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    if not last:
        return list(specs)
    return sorted(specs, key=lambda n: (specs[n].oracle is None, last.get(n, 0)))


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (idempotent) and return the
    registry ordered by driver-check priority."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return {name: QUERIES[name] for name in check_order(QUERIES, _REPO_DIR)}
