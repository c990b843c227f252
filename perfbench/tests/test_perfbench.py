"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from digest import digest  # noqa: E402
from procstat import RssSampler, sample_tree  # noqa: E402
from stats import nearest_rank, samples_beyond, tail_percentile  # noqa: E402

# --- tail percentile rule ---------------------------------------------------


@pytest.mark.parametrize(
    ("n", "pct"),
    [(19, None), (20, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, pct):
    assert tail_percentile(n) == pct
    if pct is not None:
        assert samples_beyond(n, pct) >= 10
        higher = [p for p in (99.9, 99.0, 95.0, 90.0, 75.0) if p > pct]
        assert all(samples_beyond(n, p) < 10 for p in higher)


def test_nearest_rank():
    values = sorted(float(i) for i in range(1, 101))
    assert nearest_rank(values, 50) == 50.0
    assert nearest_rank(values, 90) == 90.0
    assert nearest_rank(values, 99.9) == 100.0


# --- process-tree CPU ---------------------------------------------------------

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_keeps_a_reaped_child():
    before = sample_tree()
    child = subprocess.Popen([sys.executable, "-c", _BURN.format(s=0.4)])
    time.sleep(0.2)
    during = sample_tree()
    assert child.pid in during.pids
    child.wait(timeout=30)  # reaped: its CPU moves into our cutime
    after = sample_tree()
    assert child.pid not in after.pids
    assert after.cpu_total - before.cpu_total >= 0.3
    assert after.cpu_total >= during.cpu_total


def test_tree_cpu_keeps_a_grandchild_reaped_by_a_dying_child():
    # The child starts a burning grandchild, waits for it and exits.
    script = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {_BURN.format(s=0.4)!r}], check=True)\n"
    )
    before = sample_tree()
    subprocess.run([sys.executable, "-c", script], check=True, timeout=60)
    after = sample_tree()
    assert after.cpu_total - before.cpu_total >= 0.3


def test_tree_excludes_a_subtree():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        time.sleep(0.1)
        assert child.pid in sample_tree().pids
        assert child.pid not in sample_tree(exclude=frozenset({child.pid})).pids
    finally:
        child.kill()
        child.wait(timeout=10)


def test_memory_leaves_out_a_jvm_child_that_has_not_execed(monkeypatch):
    import procstat

    me = os.getpid()
    procs = {
        me: procstat.ProcInfo(me, 1, 0.0, 0.0, 100, "python3 run.py"),
        10: procstat.ProcInfo(10, me, 0.0, 0.0, 1000, "/usr/bin/java -cp x Main"),
        11: procstat.ProcInfo(11, 10, 0.0, 0.0, 1000, "/usr/bin/java -cp x Main"),
        12: procstat.ProcInfo(12, 10, 0.0, 0.0, 50, "chmod 644 f"),
    }
    monkeypatch.setattr(procstat, "_all_procs", lambda: procs)
    monkeypatch.setattr(procstat, "pss_bytes", lambda pid: None)
    tree = procstat.sample_tree(memory=True)
    assert sorted(tree.pids) == sorted(procs)
    assert tree.mem_bytes == 100 + 1000 + 50


def test_rss_sampler_is_a_separate_process_that_sees_the_tree():
    hog = "import time\nb = b'x' * (100 * 2**20)\ntime.sleep(1.5)\n"
    with RssSampler(interval_s=0.1) as rss:
        assert rss.pid != os.getpid()
        base = sample_tree(memory=True).mem_bytes
        subprocess.run([sys.executable, "-c", hog], check=True, timeout=60)
    assert rss.peak_bytes >= base + 90 * 2**20
    assert not os.path.exists(f"/proc/{rss.pid}")  # reaped on exit


# --- digests ----------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", None), (2, "b", None)]
    perm = [rows[2], rows[0], rows[1]]
    assert digest(["k", "s", "x"], rows) == digest(["k", "s", "x"], perm)
    swapped = [(r[2], r[0], r[1]) for r in rows]
    assert digest(["k", "s", "x"], rows) == digest(["x", "k", "s"], swapped)


def test_digest_sees_a_changed_or_missing_row():
    rows = [(1, "a"), (2, "b")]
    base = digest(["k", "s"], rows)
    assert digest(["k", "s"], [(1, "a"), (2, "c")]) != base
    assert digest(["k", "s"], rows[:1]) != base
    assert digest(["k", "s"], rows + rows[:1]) != base  # duplicates count


def test_digest_canonical_cells():
    import datetime as dt
    from decimal import Decimal

    assert digest(["x"], [(-0.0,)]) == digest(["x"], [(0.0,)])
    assert digest(["x"], [(Decimal("1.5"),)]) == digest(["x"], [(1.5,)])
    assert digest(["x"], [(float("nan"),)]) == digest(["x"], [(float("nan"),)])
    aware = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    assert digest(["t"], [(aware,)]) == digest(["t"], [(dt.datetime(2024, 1, 1),)])


@pytest.fixture(scope="module")
def spark():
    from talkdesk_async_etl_spark.session import build_session

    os.environ.setdefault("PYTHONPATH", ROOT)
    s = build_session(app_name="perfbench-tests", cpus=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_digest_stable_across_partition_counts(spark):
    from pyspark.sql import functions as F

    base = spark.range(0, 2000).select(
        "id", (F.col("id") % 7).alias("k"), (F.col("id") / 3.0).alias("x"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    )
    digests = set()
    for parts in (1, 3, 8):
        df = base.repartition(parts, "k")
        digests.add(digest(df.columns, df.collect()))
    agg = base.groupBy("k").agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
    agg_digests = set()
    for parts in ("1", "5"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        agg_digests.add(digest(agg.columns, agg.collect()))
    assert len(digests) == 1 and len(agg_digests) == 1


# --- a wrong result is a failed op ---------------------------------------------


def test_corrupted_result_counts_as_failed_op(spark, tmp_path):
    from harness import Harness
    from spans import Tracer
    from workloads import AnalyticsMix

    class OneQuery(AnalyticsMix):
        ids = ("q",)

        def pool(self):
            return ["q"]

        def load_engine(self):
            from talkdesk_async_etl_spark.plans.registry import QuerySpec

            fn = lambda s, _d: s.range(0, 50).selectExpr("id", "id * 2 AS v")  # noqa: E731
            self.registry = {"q": QuerySpec("q", fn)}

        def setup(self):
            self.data_dir = str(tmp_path)
            rows = [(i, i * 2) for i in range(50)]
            self.expected = {"q": digest(["id", "v"], rows)}

    tracer = Tracer(enabled=False)
    wl = OneQuery(spark, str(tmp_path), 1, tracer)
    wl.load_engine()
    wl.setup()
    h = Harness(spark, wl, tracer, traced=False)
    good = h.run_ops(["q"], first_index=0, window=False)
    assert [r.error for r in good] == [None]

    wl.expected["q"] = digest(["id", "v"], [(i, i * 2 + (i == 7)) for i in range(50)])
    bad = h.run_window(["q", "q"], first_index=1, deadline=time.perf_counter() + 60)
    assert all(r.error and "digest" in r.error for r in bad.records)
    metrics, _ = h.summarize(bad, 1.0, {})
    assert metrics["op_p50_s"]["value"] > 0
    assert metrics["ops_per_s"]["value"] == 0  # failed ops do not count as completed


def test_etl_check_rejects_a_corrupted_output_file(tmp_path):
    import datetime as dt
    from types import SimpleNamespace

    from talkdesk_async_etl_spark.pipeline.monitoring import ReportResult
    from talkdesk_async_etl_spark.pipeline.runner import RunOutcome
    from workloads import EtlReports, Op, _EtlPrep

    wl = EtlReports.__new__(EtlReports)
    wl.n_reports = 2
    wl.payload_bytes = {"r0": b"a,b\n1,2\n", "r1": b"a,b\n3,4\n"}
    wl.payload_rows = {"r0": 1, "r1": 1}
    wl.reports_done = 0
    out = tmp_path / "out"
    for name, body in wl.payload_bytes.items():
        (out / name).mkdir(parents=True)
        (out / name / "2024-01-01_to_2024-01-02.csv").write_bytes(body)
    now = dt.datetime(2024, 1, 1)
    results = tuple(ReportResult(n, "SUCCESS", 1, start_time=now, end_time=now) for n in ("r0", "r1"))
    prep = _EtlPrep(SimpleNamespace(output_base_path=str(out)), None, None,
                    "2024-01-01", "2024-01-02", str(tmp_path))
    op = Op(0, "run_pipeline", prep=prep,
            result=RunOutcome("run", "SUCCESS", 2, 2, 0, results))
    (out / "r1" / "2024-01-01_to_2024-01-02.csv").write_bytes(b"a,b\n3,5\n")
    assert "differs" in wl.check(op)
    op.result = RunOutcome("run", "PARTIAL_SUCCESS", 2, 1, 1, results)
    assert "outcome" in wl.check(op)
