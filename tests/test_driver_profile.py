"""Driver-profile regression: every query must run under a VANILLA
SparkSession (no repo-side builder confs).

Round 1 lost 8 correctness rows to exactly this gap: the events table
stores parquet TIMESTAMP(NANOS), conftest's session sets
``spark.sql.legacy.parquet.nanosAsLong`` at build time, and the local
suite therefore never exercised the driver's plain
``SparkSession.builder.getOrCreate()`` profile. This test spawns a
fresh interpreter (session confs don't leak across JVMs) and runs the
events-touching queries plus one query per family against sf0.001.
"""

from __future__ import annotations

import subprocess
import sys

_SCRIPT = r"""
import sys
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from talkdesk_async_etl_spark.plans.registry import load_all

names = [
    # every events-table reader (the nanos-sensitive set)
    "filter_col_eq", "filter_date_range", "agg_count_distinct",
    "agg_approx_distinct", "pivot_event_counts", "scalar_json_extract",
    "scalar_json_struct", "join_range", "join_asof",
    "stream_tumbling", "stream_session",
    # one per remaining family
    "agg_conditional_sum", "agg_percentile_approx", "dedup_exact",
    "sim_topk_cosine", "text_token_stats",
]
qs = load_all()
failed = []
for n in names:
    try:
        qs[n].fn(spark, "/root/testdata/sf0.001").count()
    except Exception as e:  # noqa: BLE001
        failed.append(f"{n}: {type(e).__name__}: {e}")
if failed:
    print("\n".join(failed))
    sys.exit(1)
print("vanilla-session OK")
"""


def test_all_query_families_run_under_vanilla_session():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-2000:]}"


def test_all_query_outputs_are_atomic_typed(spark):
    """Driver-canonicalization safety: the round-1 percentile query
    returned array<double> and crashed the harness's pandas row sort
    (unhashable list) even under the rows-only check. Every registered
    query must emit only atomic columns."""
    from pyspark.sql import types as T

    from talkdesk_async_etl_spark.plans.cache import release_scoped
    from talkdesk_async_etl_spark.plans.registry import load_all
    from tests.conftest import SF_SMALL

    offenders = []
    for name, spec in load_all().items():
        try:
            schema = spec.fn(spark, SF_SMALL).schema
        finally:
            # A build's scoped persists would otherwise stay cached in
            # the shared session and change later queries' plans.
            release_scoped()
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders


def test_priority_window_is_exactly_the_first_50():
    """The driver verifies ONLY the first 50 entries of ``queries()``,
    so ``load_all``'s order allocates that budget. It is derived from
    the tracked CORRECTNESS_r*.json files: every registered id appears
    exactly once, oracle-backed ids precede rows-only ids, and within
    each class the last-attested round never decreases (0 = never
    attested), registration order breaking ties."""
    import json
    import re
    from pathlib import Path

    from talkdesk_async_etl_spark.plans.registry import QUERIES, load_all

    qs = load_all()
    names = list(qs)
    assert sorted(names) == sorted(QUERIES) and len(names) == len(set(names))
    last: dict[str, int] = {}
    for path in Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"_r(\d+)\.json$", path.name).group(1))
        for n in json.loads(path.read_text()):
            last[n] = max(last.get(n, 0), rnd)
    reg = list(QUERIES)
    keys = [(qs[n].oracle is None, last.get(n, 0), reg.index(n)) for n in names]
    assert keys == sorted(keys)
    window = names[:50]
    assert all(qs[n].oracle is not None for n in window), "rows-only id in window"


def test_check_order_rule_on_fake_correctness_files(tmp_path):
    """check_order on constructed files: never-attested ids lead, then
    the oldest last round; a later round's row moves an id back;
    registration order breaks ties; rows-only ids go last, even
    never-attested ones; no files means registration order."""
    import json

    from talkdesk_async_etl_spark.plans.registry import QuerySpec, check_order

    def spec(n, oracle="SELECT 1"):
        return QuerySpec(name=n, fn=lambda s, d: None, oracle=oracle)

    specs = {n: spec(n) for n in ("a", "b", "c", "d", "e")}
    specs["r"] = spec("r", oracle=None)
    specs["f"] = spec("f")
    assert check_order(specs, tmp_path) == list(specs)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": {}, "b": {}, "c": {}})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": {}, "d": {}}))
    (tmp_path / "CORRECTNESS_r02_extra.json").write_text(json.dumps({"b": {}}))
    (tmp_path / "BENCH_r03.json").write_text(json.dumps({"c": {}}))
    assert check_order(specs, tmp_path) == ["e", "f", "b", "c", "a", "d", "r"]


def test_rows_only_query_set_is_pinned():
    """Every query without a DuckDB oracle gets only the driver's weak
    rows-only check, so the set must stay deliberate: hash-seeded or
    sketch-valued operators whose guarantees are covered by invariant
    companion queries (dedup_lsh_containment, sim_ivf_recall,
    sim_blocked_topk_ok, agg_*_tol, multimodal_features_ok) and unit
    invariants. Registering a NEW oracle-less query must be a conscious
    decision that updates this list."""
    from talkdesk_async_etl_spark.plans.registry import load_all

    expected = {
        # dedup_simhash / dedup_winnow_pairs left this set in round 9:
        # they now run the engine-agreeing md5-60-bit hash leaf and
        # carry full DuckDB oracles (VERDICT r8 task 5).
        "dedup_minhash_lsh",
        "sim_topk_ivf",
        # PQ: codebook/ADC values are engine-internal floats; the
        # driver-checked guarantee is sim_pq_recall_ok's 0.7 floor.
        "sim_topk_pq",
        # IVF-PQ composition (round 13, VERDICT r12 task 5): same
        # engine-internal floats as its two parent tiers; the
        # driver-checked guarantee is sim_ivfpq_recall_ok's 0.7 floor
        # (measured 0.88-0.98). This is the set's only growth since it
        # was pinned at 8 — a deliberate one, with the hash-attested
        # twin registered in the same round and the same driver window.
        "sim_topk_ivfpq",
        "agg_approx_distinct",
        "agg_percentile_approx",
        "multimodal_image_features",
        "multimodal_audio_features",
    }
    got = {n for n, s in load_all().items() if s.oracle is None}
    assert got == expected, got.symmetric_difference(expected)


def test_expect_empty_set_is_pinned():
    """The oracle harness's vacuity gate (oracle_harness.compare) fails
    any oracle-backed query that hash-matches on an EMPTY or all-NULL
    result — except the invariant queries whose pass condition IS an
    empty violations set. That exemption list must stay deliberate and
    minimal: growing it is how round 4's vacuous tpch_q5/q6/q10
    attestation would sneak back in."""
    from talkdesk_async_etl_spark.plans.registry import load_all
    from tests.oracle_harness import EXPECT_EMPTY

    assert EXPECT_EMPTY == {"dedup_lsh_containment", "dedup_winnow_containment"}
    names = set(load_all())
    assert EXPECT_EMPTY <= names, EXPECT_EMPTY - names


def test_vacuity_gate_fires_on_empty_and_all_null(spark):
    """Harness self-test: compare() must reject an oracle-backed query
    whose two sides agree on an EMPTY or all-NULL result — the exact
    failure mode round 4 shipped (tpch_q5/q6/q10 hash-matching on
    out-of-fixture date pins)."""
    from tests.conftest import SF_ORACLE
    from tests.oracle_harness import compare

    empty = compare(
        spark,
        "fake_empty",
        lambda s, d: s.sql("SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0"),
        "SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0",
        SF_ORACLE,
    )
    assert any("VACUOUS" in p for p in empty), empty

    all_null = compare(
        spark,
        "fake_null",
        lambda s, d: s.sql("SELECT CAST(NULL AS DOUBLE) AS revenue"),
        "SELECT CAST(NULL AS DOUBLE) AS revenue",
        SF_ORACLE,
    )
    assert any("VACUOUS" in p for p in all_null), all_null

    # ...and must NOT fire for the pinned expect-empty invariants.
    from tests.oracle_harness import EXPECT_EMPTY

    name = next(iter(EXPECT_EMPTY))
    ok = compare(
        spark,
        name,
        lambda s, d: s.sql("SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0"),
        "SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0",
        SF_ORACLE,
    )
    assert not ok, ok


def test_survey_section2_is_the_registry():
    """SURVEY.md §2 'is the contract' — VERDICT r8 found 11 registered
    ids absent from it (doc drift). This test makes drift impossible in
    both directions:

    - every registered query id must be declared somewhere in §2
      (backticked), so adding an operator without updating the contract
      table fails CI;
    - every backticked id in a §2 table row's LAST column must resolve
      to a registered query (or the pinned non-registry surface names),
      so a renamed or deleted operator can't leave a stale contract row.
    """
    import re

    from talkdesk_async_etl_spark.plans.registry import load_all

    lines = open("/root/repo/SURVEY.md").read().splitlines()
    start = next(i for i, l in enumerate(lines) if l.startswith("## 2. Operator inventory"))
    end = next(i for i, l in enumerate(lines) if l.startswith("## 3."))
    section = lines[start:end]
    registry = set(load_all())

    declared = set(re.findall(r"`([a-zA-Z0-9_]+)`", "\n".join(section)))
    undeclared = sorted(registry - declared)
    assert not undeclared, f"registered but absent from SURVEY §2: {undeclared}"

    # Non-registry names that may appear in a table's query-id column:
    # streaming-only / orchestration surfaces the prose explicitly
    # marks as having no registry id.
    non_registry_surface = {
        "running_user_totals_tws",  # streaming-only class, "no registry id" noted inline
        "scd2_stream",  # streaming-only, batch twin cdc_scd2_build holds the driver row
        "pagerank_from_edges",  # reusable core function documented inside the D8 cell
        "cdc_upsert_stream",  # streaming-only CDC apply; batch twins hold the driver rows
        "read_cdc_store",  # its read-side contract (tombstone filter)
        "enrich_with_static_dim",  # T9 stream-static join; in-test batch twin
    }
    stale = []
    for l in section:
        if not l.startswith("|"):
            continue
        cells = [c.strip() for c in l.strip().strip("|").split("|")]
        if len(cells) < 4:  # header/separator/prose tables
            continue
        for qid in re.findall(r"`([a-z0-9_]+)`", cells[-1]):
            if qid not in registry and qid not in non_registry_surface:
                stale.append(qid)
    assert not stale, f"SURVEY §2 query-id column names not in registry: {sorted(set(stale))}"
