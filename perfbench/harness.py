"""The op loop and the metrics computed from it.

Each op runs as: per-op set-up, job group, process-tree and JVM
counters, **timed region** (the workload's ``run``), counters again,
result check, Spark counters (traced run only) and per-op clean-up.
Only the timed region counts towards latency; CPU is the process
tree's CPU inside the timed region. One full JVM GC runs just before
the timed window, and one after it to read the live heap.

In the traced run, ops alternate between traced and untraced so both
halves see the same ops; the untraced half gives the tracing overhead
(traced minus untraced latency of the same op) and the traced half the layers.
"""

from __future__ import annotations

import time
from contextlib import ExitStack
from dataclasses import dataclass, field

from procstat import CLASSES, RssSampler, cpu_delta, host_cpu_ticks, sample_tree
from sparkstats import OpCounters, SparkProbe
from spans import Span, Tracer
from statistics import median

from stats import nearest_rank, samples_beyond, tail_percentile
from workloads import Op, Workload

_MB = 1024.0 * 1024.0


@dataclass
class OpRecord:
    index: int
    name: str
    latency_s: float
    cpu: dict[str, float]
    gc_s: float
    jit_s: float
    traced: bool
    error: str | None = None
    layers: dict[str, float] = field(default_factory=dict)
    counters: OpCounters | None = None
    persisted_after: int = 0
    extra: dict = field(default_factory=dict)


@dataclass
class Window:
    """One timed window: its op records, the hypervisor steal share of
    the machine's CPU while it ran, its peak process-tree RSS and the
    JVM's live heap after a full GC at its end."""

    records: list[OpRecord]
    steal_pct: float
    peak_rss_bytes: int
    heap_live_mb: float


class Harness:
    def __init__(self, spark, wl: Workload, tracer: Tracer, traced: bool):
        self.spark = spark
        self.wl = wl
        self.tracer = tracer
        self.traced = traced
        self.probe = SparkProbe(spark)

    def run_ops(self, names: list[str], first_index: int, window: bool = False,
                deadline: float | None = None) -> list[OpRecord]:
        out: list[OpRecord] = []
        first_pos: dict[str, int] = {}
        seen: dict[str, int] = {}
        with ExitStack() as stack:
            for patch in self.wl.traced_patches() if self.traced else []:
                stack.enter_context(patch)
            for j, name in enumerate(names):
                if deadline is not None and time.perf_counter() > deadline:
                    break
                # Alternate each op name between traced and untraced;
                # whether its first run is traced follows its position,
                # so both halves hold early and late runs alike.
                k = seen[name] = seen.get(name, -1) + 1
                parity = first_pos.setdefault(name, j) % 2
                traced = window and self.traced and (parity + k) % 2 == 0
                out.append(self._one(first_index + j, name, traced))
        return out

    def run_window(self, names: list[str], first_index: int, deadline: float) -> Window:
        wl = self.wl
        wl.on_window_start()
        self.probe.full_gc()
        steal0 = host_cpu_ticks()
        excluded = wl.exclude_pids
        with RssSampler(exclude=excluded) as rss:
            # The sampler is a child of this process: keep it out of the
            # ops' CPU. Its CPU reaches ours only when it is reaped,
            # after the last op.
            wl.exclude_pids = excluded | {rss.pid}
            try:
                records = self.run_ops(names, first_index, window=True, deadline=deadline)
            finally:
                wl.exclude_pids = excluded
        steal1 = host_cpu_ticks()
        wl.on_window_end()
        steal = 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        self.probe.full_gc()
        return Window(records, steal, rss.peak_bytes, self.probe.heap_used_mb())

    def _one(self, index: int, name: str, traced: bool) -> OpRecord:
        wl, probe, tracer = self.wl, self.probe, self.tracer
        op = Op(index, name)
        tracer.enabled = traced
        wl.prepare(op)
        group = f"perfbench-op-{index}"
        probe.set_group(group)
        gc0, jit0 = probe.gc_s(), probe.jit_s()
        cpu0 = sample_tree(exclude=wl.exclude_pids)
        error = None
        t0 = time.perf_counter()
        try:
            with tracer.span("op", trace_id=index):
                wl.run(op)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            error = f"{name}: {exc!r}"[:500]
        latency = time.perf_counter() - t0
        probe.clear_group()
        cpu1 = sample_tree(exclude=wl.exclude_pids)
        gc1, jit1 = probe.gc_s(), probe.jit_s()
        rec = OpRecord(index, name, latency, cpu_delta(cpu0, cpu1), gc1 - gc0, jit1 - jit0, traced)
        if error is None:
            try:
                with tracer.span("check", trace_id=index):
                    error = wl.check(op)
            except Exception as exc:  # noqa: BLE001 — a check that raises fails the op
                error = f"{name}: check raised {exc!r}"[:500]
        rec.error = error
        if traced:
            rec.counters = probe.op_counters(group)
            rec.persisted_after = probe.persisted_rdds()
            rec.layers, rec.extra = self._layers(index, op)
        wl.cleanup(op)
        tracer.enabled = False
        return rec

    # -- per-layer attribution of one traced op --------------------------

    def _layers(self, index: int, op: Op) -> tuple[dict[str, float], dict]:
        spans = [s for s in self.tracer.spans if s.trace_id == index]
        by: dict[str, list[Span]] = {}
        for s in spans:
            by.setdefault(s.name, []).append(s)
        root = by["op"][0]
        dur = lambda name: sum(s.end - s.start for s in by.get(name, ()))  # noqa: E731
        writes = sorted(by.get("monitoring.write", ()), key=lambda s: s.start)
        layers = {
            "config.plan": dur("config.plan"),
            # Less the process-tree snapshots taken inside each write.
            "monitoring.write": dur("monitoring.write")
            - sum(s.attrs.get("probe_s", 0.0) for s in writes),
            "monitoring.read": dur("monitoring.read") if op.name.startswith("mon:") else 0.0,
            "registry.build": dur("registry.build"),
        }
        extra = {"spans": float(len(spans))}
        plans = by.get("config.plan", ())
        if writes and plans:
            # Boundaries inside run_pipeline: the config plan is collected
            # between the plan build and the job-start write; the report
            # fan-out runs between the job-start and the reports write.
            collect = (max(s.end for s in plans), writes[0].start)
            self.tracer.add("runner.collect", *collect, parent=root)
            layers["runner.collect"] = collect[1] - collect[0]
            if len(writes) >= 2:
                fan = (writes[0].end, writes[1].start)
                self.tracer.add("runner.fanout", *fan, parent=root)
                layers["runner.fanout"] = fan[1] - fan[0]
            extra["monitoring.write_pyworker_cpu"] = sum(
                s.attrs.get("pyworker", 0.0) for s in writes
            )
        if isinstance(op.result, tuple):
            phases = SparkProbe.catalyst_phases_s(op.result[0])
            layers["catalyst.plan"] = sum(phases.values())
            lazy = phases["optimization"] + phases["planning"]
            layers["spark.exec"] = max(0.0, dur("spark.action") - lazy)
        covered = (
            layers["config.plan"] + layers.get("runner.collect", 0.0)
            + layers.get("runner.fanout", 0.0) + layers["monitoring.write"]
            + layers["monitoring.read"] + layers["registry.build"] + dur("spark.action")
        )
        extra["covered"] = covered
        if getattr(op.result, "results", None):
            extra["report_latencies"] = [
                (r.end_time - r.start_time).total_seconds() for r in op.result.results
            ]
        return layers, extra

    # -- summary ----------------------------------------------------------

    def summarize(self, window: Window, setup_s: float, setup: dict[str, float]):
        win = window.records
        lat = [r.latency_s for r in win]
        n = len(lat)
        completed = sum(1 for r in win if r.error is None)
        total_lat = sum(lat)
        cpu_total = sum(sum(r.cpu.values()) for r in win)
        metrics = {
            "setup_s": (setup_s, "s"),
            # Completed ops over the timed wall time: the summed timed
            # regions, without the per-op set-up, checks and clean-up.
            "ops_per_s": (completed / total_lat if total_lat else 0.0, "1/s"),
            "op_p50_s": (median(lat) if lat else 0.0, "s"),
            "cpu_s_per_op": (cpu_total / n if n else 0.0, "s"),
            "peak_rss_mb": (window.peak_rss_bytes / _MB, "MB"),
        }
        meta: dict = {}
        pct = tail_percentile(n)
        if pct is not None:
            s = sorted(lat)
            meta["op_tail"] = {"percentile": pct, "value_s": nearest_rank(s, pct),
                               "samples": n, "beyond": samples_beyond(n, pct)}
        half = n // 2
        if half:
            meta["op_p50_first_half_s"] = median(lat[:half])
            meta["op_p50_second_half_s"] = median(lat[half:])
        meta["jvm_jit_s_per_op"] = sum(r.jit_s for r in win) / n if n else 0.0
        meta["jvm_gc_s_per_op"] = sum(r.gc_s for r in win) / n if n else 0.0
        meta["jvm_heap_live_mb"] = window.heap_live_mb
        metrics.update({k: (v, "s") for k, v in setup.items()})
        if self.traced:
            metrics.update(self._layer_metrics(win))
            metrics["jvm.heap_live_mb"] = (window.heap_live_mb, "MB")
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, meta

    def _layer_metrics(self, win: list[OpRecord]) -> dict[str, tuple[float, str]]:
        traced = [r for r in win if r.traced]
        n = max(1, len(traced))
        wall = sum(r.latency_s for r in traced) or 1.0
        share = lambda key: 100.0 * sum(r.layers.get(key, 0.0) for r in traced) / wall  # noqa: E731
        per_op = lambda f: sum(f(r) for r in traced) / n  # noqa: E731
        counters = OpCounters()
        for r in traced:
            counters.add(r.counters)
        reports = sorted(x for r in traced for x in r.extra.get("report_latencies", ()))
        op_p50 = median([r.latency_s for r in traced]) if traced else 1.0
        pyw = sum(r.cpu["pyworker"] for r in traced)
        out = {
            "config.plan_pct": (share("config.plan"), "%"),
            "runner.collect_pct": (share("runner.collect"), "%"),
            "runner.fanout_pct": (share("runner.fanout"), "%"),
            "monitoring.write_pct": (share("monitoring.write"), "%"),
            "monitoring.read_pct": (share("monitoring.read"), "%"),
            "registry.build_pct": (share("registry.build"), "%"),
            "catalyst.plan_pct": (share("catalyst.plan"), "%"),
            "spark.exec_pct": (share("spark.exec"), "%"),
            "layers.coverage_pct": (
                100.0 * sum(r.extra.get("covered", 0.0) for r in traced) / wall, "%"),
            "http.report_p50_pct": (
                100.0 * nearest_rank(reports, 50) / op_p50 if reports else 0.0, "%"),
            "http.report_p99_pct": (
                100.0 * nearest_rank(reports, 99) / op_p50 if reports else 0.0, "%"),
            "http.requests_per_report": (self.wl.requests_per_report(), "count"),
            "token.fetches_per_op": (self.wl.token_fetches_per_op(), "count"),
            "monitoring.write_pyworker_share_pct": (
                100.0 * sum(r.extra.get("monitoring.write_pyworker_cpu", 0.0) for r in traced)
                / pyw if pyw else 0.0, "%"),
            "spark.jobs_per_op": (counters.jobs / n, "count"),
            "spark.stages_per_op": (counters.stages / n, "count"),
            "spark.tasks_per_op": (counters.tasks / n, "count"),
            "shuffle.read_mb_per_op": (counters.shuffle_read_mb / n, "MB"),
            "shuffle.write_mb_per_op": (counters.shuffle_write_mb / n, "MB"),
            "spill.mb_per_op": (counters.spill_mb / n, "MB"),
            "executor.cpu_s_per_op": (counters.executor_cpu_s / n, "s"),
            "jvm.gc_pct": (100.0 * sum(r.gc_s for r in traced) / wall, "%"),
            "jvm.jit_pct": (100.0 * sum(r.jit_s for r in traced) / wall, "%"),
            "cache.persisted_after_op": (per_op(lambda r: r.persisted_after), "count"),
            "trace.spans_per_op": (per_op(lambda r: r.extra.get("spans", 0.0)), "count"),
            "trace.overhead_s": (_paired_overhead(win), "s"),
        }
        for c in CLASSES:
            out[f"{c}.cpu_s_per_op"] = (per_op(lambda r, c=c: r.cpu[c]), "s")
        return out


def _paired_overhead(win: list[OpRecord]) -> float:
    """Tracing overhead: the mean over pairs of runs of one op name, one
    traced and one not, of traced minus untraced latency. Pairing cancels
    the mix and, because half the pairs run traced first, the warm-up
    drift between the two runs."""
    runs: dict[str, list[OpRecord]] = {}
    for r in win:
        runs.setdefault(r.name, []).append(r)
    diffs = []
    for rs in runs.values():
        for a, b in zip(rs[0::2], rs[1::2]):
            t, u = (a, b) if a.traced else (b, a)
            if t.traced and not u.traced:
                diffs.append(t.latency_s - u.latency_s)
    return sum(diffs) / len(diffs) if diffs else 0.0
