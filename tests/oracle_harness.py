"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its DuckDB oracle on the same
parquet tables, normalizes both results (columns sorted by name, rows
sorted, values canonicalized), and diffs them. Used by
tests/test_oracle_parity.py and by scripts/check_parity.py so oracle
drift is caught before the driver's CORRECTNESS gate runs.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
from decimal import Decimal

import duckdb

from talkdesk_async_etl_spark.schemas import TESTDATA_TABLES

# Invariant queries whose PASS condition is an empty violations set:
# for these (and only these) a 0-row oracle agreement is meaningful.
# Every other oracle-backed query must produce rows at the comparison
# SF, otherwise the hash-match attests schema only (round 4 shipped
# tpch_q5/q6/q10 with out-of-fixture date pins exactly this way).
EXPECT_EMPTY = frozenset({"dedup_lsh_containment", "dedup_winnow_containment"})


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with views over the fixture tables, bounded:
    a quarter of physical memory, the engine's core count
    (``SPARK_GRAFT_CPUS``) and no spill to disk. With DuckDB's defaults
    (80 % of memory, every core, spill into ``.tmp/`` under the working
    directory) one runaway oracle fills the host's memory and then its
    disk. duckdb 1.0.0 does not enforce ``max_temp_directory_size`` on
    its spill files (a 1 GB cap let the sf0.1 triangle oracle write
    19.7 GB), so the bound is no spill at all: an oracle that outgrows
    the memory limit fails with DuckDB's out-of-memory error."""
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 4 // 2**20
    con = duckdb.connect(
        config={
            "memory_limit": f"{mem_mb}MB",
            "threads": int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1),
            "temp_directory": "",
        }
    )
    for name in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def _canon(v):
    """Canonicalize a cell for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact comparison (the driver hashes values); only -0.0 folds
        return v + 0.0
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _normalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def compare(spark, name: str, fn, oracle: str, sf_dir: str) -> list[str]:
    """Return a list of human-readable mismatch descriptions (empty = pass)."""
    from talkdesk_async_etl_spark.plans.cache import release_scoped

    try:
        sdf = fn(spark, sf_dir)
        s_cols = list(sdf.columns)
        s_rows = [tuple(r) for r in sdf.collect()]
    finally:
        # Drop the query's scoped persists (as scripts/plan_audit.py
        # does): a cache left behind is substituted into later plans
        # that share its lineage, so plan pins in the same session would
        # depend on which queries were compared before them.
        release_scoped()

    con = duckdb_connect(sf_dir)
    try:
        res = con.execute(oracle)
        d_cols = [d[0] for d in res.description]
        d_rows = [tuple(r) for r in res.fetchall()]
    finally:
        con.close()

    problems: list[str] = []
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"{name}: column mismatch spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        return problems
    if len(s_rows) != len(d_rows):
        problems.append(f"{name}: row count spark={len(s_rows)} duckdb={len(d_rows)}")
    sn, dn = _normalize(s_cols, s_rows), _normalize(d_cols, d_rows)
    if sn != dn:
        # Precompute the membership sets ONCE — building them inside
        # the comprehension re-hashed 100k rows per row (O(n²): a
        # 100k-row mismatch spun for an hour before reporting).
        dn_set, sn_set = set(dn), set(sn)
        diff_s = [r for r in sn if r not in dn_set][:3]
        diff_d = [r for r in dn if r not in sn_set][:3]
        problems.append(f"{name}: value mismatch; spark-only={diff_s} duckdb-only={diff_d}")
    # Vacuity gate: an agreement on nothing proves nothing.
    if name not in EXPECT_EMPTY:
        if not s_rows:
            problems.append(f"{name}: VACUOUS — 0 rows at {sf_dir}; oracle match attests schema only")
        elif all(all(c is None for c in r) for r in s_rows):
            problems.append(f"{name}: VACUOUS — all-NULL result at {sf_dir}")
    return problems
