"""Shared run context and statistics for the workload modules."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Ctx:
    """What a workload run gets: its seed, scratch directory, the span
    recorder (a no-op one when untraced) and the size preset."""

    seed: int
    work: str
    rec: object
    smoke: bool
    cores: int
    traced: bool = False
    spark: object = None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    #: workload figures, printed by name and, in traced runs,
    #: reported among the per-layer metrics as ``workload.<name>``
    figures: dict[str, float] = field(default_factory=dict)
    #: per-layer extras (traced runs only)
    extras: dict[str, float] = field(default_factory=dict)
    #: root span id of each timed operation (traced runs only)
    op_spans: list[int] = field(default_factory=list)
    jvm_pid: int | None = None

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a failed check is a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def op(self, name: str):
        """Span around one timed operation; records its id when traced."""
        return _OpSpan(self, name)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM."""
        if self.jvm_pid is None:
            self.jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{self.jvm_pid}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        ticks = int(fields[11]) + int(fields[12])  # utime + stime
        return ticks / os.sysconf("SC_CLK_TCK") + time.process_time()


class _OpSpan:
    def __init__(self, ctx: Ctx, name: str):
        self.ctx, self.name = ctx, name

    def __enter__(self):
        self.cm = self.ctx.rec.span(self.name)
        sid = self.cm.__enter__()
        if sid is not None:
            self.ctx.op_spans.append(sid)
        self.c0 = self.ctx.cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.t0
        self.cpu = self.ctx.cpu_s() - self.c0
        self.cm.__exit__(*exc)


def tail(samples: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least ten samples above it:
    (value, percentile, sample count); the max when there are too few."""
    n = len(samples)
    s = sorted(samples)
    if n < 11:
        return s[-1], 100, n
    p = int(100 * (n - 10) / n)
    return s[min(n - 1, int(p / 100 * n))], p, n


def p50(samples: list[float]) -> float:
    return statistics.median(samples)


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
