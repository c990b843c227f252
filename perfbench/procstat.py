"""CPU and memory of a process tree, read from ``/proc``.

The engine's work runs in three kinds of process: the Python driver,
the JVM it launches, and the ``pyspark.daemon`` Python workers the JVM
forks. A tree snapshot sums, per process class:

- ``own``: utime+stime of every live process in the tree;
- ``reaped``: cutime+cstime, the CPU of children that already exited
  and were waited for. Children reaped by the JVM or by the daemon are
  Python workers, so their CPU counts as ``pyworker``.

The sum of both over the tree only grows, also when a worker exits
between two snapshots, so the difference of two snapshots is the CPU
the tree spent in between.

Memory is the proportional set size (PSS) of each process, which
counts a page shared by several processes once across them. RSS would
count it once per process: Python workers are forked from the daemon
and share its pages copy-on-write. A process the JVM starts shares the
JVM's memory until it execs, in a way PSS does not split, so a child
of the JVM still running the JVM's program is left out of memory.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
from dataclasses import dataclass, field

CLASSES = ("driver_py", "jvm", "pyworker")
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class ProcInfo:
    pid: int
    ppid: int
    cpu_own: float
    cpu_reaped: float
    rss_bytes: int
    cmdline: str


def read_proc(pid: int) -> ProcInfo | None:
    """One process's stat fields, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("utf-8", "replace")
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may contain spaces and parentheses: split after the last ')'.
    f = raw[raw.rindex(")") + 2 :].split()
    utime, stime, cutime, cstime = (int(x) for x in f[11:15])
    return ProcInfo(
        pid=pid,
        ppid=int(f[1]),
        cpu_own=(utime + stime) / _TICK,
        cpu_reaped=(cutime + cstime) / _TICK,
        rss_bytes=int(f[21]) * _PAGE,
        cmdline=cmd,
    )


def pss_bytes(pid: int) -> int | None:
    """Proportional set size from ``smaps_rollup``, or None if unreadable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return None


def _all_procs() -> dict[int, ProcInfo]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            info = read_proc(int(name))
            if info is not None:
                out[info.pid] = info
    return out


def classify(info: ProcInfo, root: int) -> str:
    if info.pid == root:
        return "driver_py"
    if "pyspark.daemon" in info.cmdline or "pyspark.worker" in info.cmdline:
        return "pyworker"
    exe = info.cmdline.split(" ", 1)[0]
    if exe.endswith("/java") or exe == "java":
        return "jvm"
    return "driver_py"


@dataclass
class TreeSample:
    cpu: dict[str, float] = field(default_factory=lambda: dict.fromkeys(CLASSES, 0.0))
    mem_bytes: int = 0
    pids: tuple[int, ...] = ()

    @property
    def cpu_total(self) -> float:
        return sum(self.cpu.values())


def sample_tree(root: int | None = None, exclude: frozenset[int] = frozenset(),
                memory: bool = False) -> TreeSample:
    """Snapshot the tree under ``root`` (default: this process), leaving
    out the subtrees of the ``exclude`` pids. ``memory`` also sums the
    tree's memory (PSS, which costs a page walk per process)."""
    root = os.getpid() if root is None else root
    procs = _all_procs()
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out = TreeSample()
    seen = []
    stack = [(root, None)]
    while stack:
        pid, parent_cls = stack.pop()
        info = procs.get(pid)
        if info is None or pid in exclude:
            continue
        seen.append(pid)
        cls = classify(info, root)
        out.cpu[cls] += info.cpu_own
        out.cpu["pyworker" if cls in ("jvm", "pyworker") else cls] += info.cpu_reaped
        # A child of the JVM that still runs the JVM's program is a
        # process the JVM is starting, between its spawn and its exec: it
        # shares the JVM's memory, and its PSS would count that again.
        if memory and not (cls == "jvm" and parent_cls == "jvm"):
            pss = pss_bytes(pid)
            out.mem_bytes += info.rss_bytes if pss is None else pss
        stack.extend((kid, cls) for kid in kids.get(pid, ()))
    out.pids = tuple(seen)
    return out


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot: steal is
    time this machine's CPUs were ready to run but the hypervisor ran
    someone else."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[7] if len(f) > 7 else 0), sum(f[:8])


def cpu_delta(a: TreeSample, b: TreeSample) -> dict[str, float]:
    return {c: b.cpu[c] - a.cpu[c] for c in CLASSES}


class RssSampler:
    """Records the peak summed memory of this process's tree while it is
    entered, twice a second. The sampling runs in a separate process,
    so it does not compete with the driver for the interpreter lock.
    That process is a child of this one: callers leave ``pid`` out of
    CPU sums; its CPU reaches this process's reaped CPU when it is
    waited for, on exit."""

    def __init__(self, interval_s: float = 0.5, exclude: frozenset[int] = frozenset()):
        self.interval_s = interval_s
        self.exclude = exclude
        self.peak_bytes = 0
        self._proc: subprocess.Popen | None = None

    @property
    def pid(self) -> int:
        return self._proc.pid

    def __enter__(self) -> "RssSampler":
        args = [str(os.getpid()), str(self.interval_s), *map(str, sorted(self.exclude))]
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *args],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        if self._proc.stdout.readline().strip() != "READY":  # after its first sample
            self._proc.kill()
            self._proc.wait(timeout=10)
            raise RuntimeError("memory sampler did not start")
        return self

    def __exit__(self, *exc) -> None:
        self._proc.stdin.close()  # the sampler takes a last sample and exits
        out = self._proc.stdout.read()
        self._proc.wait(timeout=30)
        self._proc.stdout.close()
        self.peak_bytes = int(out.split()[-1])


def _sample_until_stdin_closes(root: int, interval_s: float, exclude: frozenset[int]) -> None:
    """The sampler process: print READY after the first sample, then
    the peak in bytes once stdin closes."""
    exclude = exclude | {os.getpid()}
    stop = threading.Event()
    threading.Thread(target=lambda: (sys.stdin.read(), stop.set()), daemon=True).start()
    peak = sample_tree(root, exclude, memory=True).mem_bytes
    print("READY", flush=True)
    while not stop.wait(interval_s):
        peak = max(peak, sample_tree(root, exclude, memory=True).mem_bytes)
    peak = max(peak, sample_tree(root, exclude, memory=True).mem_bytes)
    print(peak, flush=True)


if __name__ == "__main__":
    _sample_until_stdin_closes(
        int(sys.argv[1]), float(sys.argv[2]), frozenset(int(x) for x in sys.argv[3:])
    )
