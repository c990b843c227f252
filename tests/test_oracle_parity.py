"""Oracle-differential tests (SURVEY.md §5.1): every registered query
with an oracle must match DuckDB on the same parquet data — the local
replica of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from talkdesk_async_etl_spark.plans.registry import load_all
from tests.conftest import SF_ORACLE
from tests.oracle_harness import compare

_SPECS = [(n, s) for n, s in load_all().items() if s.oracle is not None]


@pytest.mark.parametrize("name,spec", _SPECS, ids=[n for n, _ in _SPECS])
def test_oracle_parity(spark, name, spec):
    problems = compare(spark, name, spec.fn, spec.oracle, SF_ORACLE)
    assert not problems, "\n".join(problems)


def test_rows_only_queries_run(spark):
    """Queries without an oracle still must execute and return a stable
    schema (the driver's weaker rows-only check)."""
    from talkdesk_async_etl_spark.plans.cache import release_scoped

    for name, spec in load_all().items():
        if spec.oracle is None:
            try:
                df = spec.fn(spark, SF_ORACLE)
                assert df.columns, name
                df.limit(5).collect()
            finally:
                # As in oracle_harness.compare: no scoped persist
                # outlives its query in the shared session.
                release_scoped()
