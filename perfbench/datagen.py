"""Seeded inputs for every workload.

Everything the engine reads is generated here from the ``--seed``
argument: the ten analytics tables (same schemas, domains and key
structure as the engine's fixture tables), the report catalog and CSV
payloads served by the report API, and a pre-seeded monitoring store.
The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes at sf=1; the analytics workloads scale these down.
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_USERS_PER_SF = 15_000

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_EPOCH_1995 = dt.datetime(1995, 1, 1)
_EPOCH_2024 = dt.datetime(2024, 1, 1)


def _ts(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + micros.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten analytics tables at scale ``sf`` as parquet files
    named ``<table>.parquet``; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    n = {k: max(1, int(v * sf)) for k, v in _BASE_ROWS.items()}
    n_users = max(1, int(_USERS_PER_SF * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, c)],
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        }
    )
    p = n["part"]
    names = np.char.add(
        np.char.add(np.array(_PART_ADJ)[rng.integers(0, 8, p)], " "),
        np.array(_PART_NOUN)[rng.integers(0, 8, p)],
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": names,
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, p).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, p)],
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
            "o_totalprice": _money(rng, o, 1000.0, 500_000.0),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2404, o) * 86_400_000_000),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, o)],
        }
    )
    lines = rng.integers(1, 8, o)
    li = int(lines.sum())
    line_no = np.arange(li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(o), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(line_no, pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
            "l_shipdate": _ts(_EPOCH_1995, rng.integers(1, 2499, li) * 86_400_000_000),
        }
    )
    e = n["events"]
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": _ts(_EPOCH_2024, np.sort(rng.integers(0, 30 * 86_400_000_000, e))),
            "user_id": pa.array(rng.integers(0, n_users, e), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, e)],
            "value": _money(rng, e, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(v), pa.int64()),
            "embedding": pa.array(
                list(rng.normal(0.0, 0.15, (v, 64)).astype(np.float32)),
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, v), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents over a 31-word vocabulary. The composition is
    the same for every seed, only the content and order change: lengths
    10-99 words in equal shares, 5% near duplicates of distinct earlier
    documents (one or two ``dup`` tokens appended) and 0.2% exact
    duplicates, so duplicate-pair counts do not vary with the seed."""
    lengths = rng.permutation(10 + (np.arange(n) * 90) // n)
    n_near, n_exact = round(0.05 * n), max(1, round(0.002 * n))
    copies = rng.choice(np.arange(n // 2, n), n_near + n_exact, replace=False)
    sources = rng.choice(np.arange(n // 2), n_near + n_exact, replace=False)
    texts = [" ".join(np.array(_VOCAB)[rng.integers(0, len(_VOCAB), k)]) for k in lengths]
    for j, (dst, src) in enumerate(zip(copies, sources)):
        texts[dst] = texts[src] + (" dup" * (1 + j % 2) if j < n_near else "")
    langs = np.where(rng.permutation(n) < round(0.44 * n), "en",
                     np.array(_LANGS[1:])[rng.permutation(np.arange(n) % 4)])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# --- report ETL inputs ---------------------------------------------------

REPORT_COLUMNS = ("agent_id", "queue", "interval_start", "calls", "handle_sec", "note")


def report_catalog(seed: int, n_reports: int, max_rows: int = 50_000) -> dict[str, str]:
    """``n_reports`` report names, each with a CSV payload. The row
    counts are spread evenly over 1 to ``max_rows`` and are the same
    multiset for every seed, in a seeded order. The defaults are the
    reference's stated driver-async envelope: up to ~50 reports of up to
    ~50,000 rows each (BASELINE.md). Notes carry commas, quotes and
    non-ASCII text so a sink that re-encodes would change bytes."""
    rng = np.random.default_rng([seed, 7])
    notes = ("ok", '"escalated, twice"', "café", "n/a")
    row_counts = rng.permutation(np.linspace(1, max_rows, n_reports).round().astype(int))
    payloads: dict[str, str] = {}
    for i, rows in enumerate(row_counts.tolist()):
        j = np.arange(rows)
        cols = zip(
            rng.integers(0, 500, rows).tolist(), rng.integers(0, 12, rows).tolist(),
            (1 + j % 28).tolist(), (j % 24).tolist(), rng.integers(0, 90, rows).tolist(),
            rng.uniform(0, 3600, rows).tolist(), rng.integers(0, 4, rows).tolist(),
        )
        lines = [",".join(REPORT_COLUMNS)]
        lines += [
            f"A{a:04d},q{q},2024-01-{d:02d}T{h:02d}:00:00,{c},{s:.3f},{notes[k]}"
            for a, q, d, h, c, s, k in cols
        ]
        payloads[f"report_{i:02d}"] = "\n".join(lines) + "\n"
    return payloads


def write_payloads(out_dir: str, payloads: dict[str, str]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, text in payloads.items():
        with open(os.path.join(out_dir, f"{name}.csv"), "w", encoding="utf-8", newline="") as fh:
            fh.write(text)


def write_rows(table_dir: str, rows: list[tuple], spark_schema) -> None:
    """Write ``rows`` as one parquet file in ``table_dir`` with the Arrow
    form of an engine schema (timestamps as UTC instants, as Spark
    writes them)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(spark_schema)
    columns = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table([pa.array(c, f.type) for c, f in zip(columns, schema)], schema=schema)
    os.makedirs(table_dir, exist_ok=True)
    pq.write_table(table, os.path.join(table_dir, "part-00000.parquet"))


def monitoring_rows(seed: int, n_runs: int, reports_per_run: int):
    """Rows for a pre-seeded monitoring store: ``n_runs`` closed jobs
    (each an open row plus a close row, as the append store writes
    them) and ``reports_per_run`` report rows per run with mixed
    statuses. Returns ``(job_rows, report_rows, run_ids)`` as tuples in
    the engine's monitoring schemas' column order."""
    rng = np.random.default_rng([seed, 11])
    job_rows, report_rows, run_ids = [], [], []
    for k in range(n_runs):
        run_id = f"run-{seed:x}-{k:05d}"
        run_ids.append(run_id)
        day = _EPOCH_2024 + dt.timedelta(days=k % 30)
        start = day + dt.timedelta(seconds=int(rng.integers(0, 80_000)))
        frm, to = day.strftime("%Y-%m-%d"), (day + dt.timedelta(days=1)).strftime("%Y-%m-%d")
        ok = 0
        for j in range(reports_per_run):
            failed = rng.random() < 0.1
            ok += not failed
            r_start = start + dt.timedelta(seconds=j)
            report_rows.append(
                (
                    run_id, f"report_{j:02d}", frm, to, r_start,
                    r_start + dt.timedelta(seconds=float(rng.uniform(0.1, 30))),
                    "FAILED" if failed else "SUCCESS",
                    0 if failed else int(rng.integers(0, 50_000)),
                    "HTTP 503: 'upstream' busy" if failed else None,
                )
            )
        fail = reports_per_run - ok
        status = "SUCCESS" if fail == 0 else ("FAILED" if ok == 0 else "PARTIAL_SUCCESS")
        job_rows.append((run_id, frm, to, start, None, "RUNNING", reports_per_run, None, None, None))
        job_rows.append(
            (run_id, frm, to, None, start + dt.timedelta(minutes=5), status,
             reports_per_run, ok, fail, None)
        )
    return job_rows, report_rows, run_ids
