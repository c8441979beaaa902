"""Spans for the traced run.

A span is (name, start, end, parent, run id) plus the counts taken at its
boundaries: Spark jobs and tasks (every span runs under its own job
group, read back through the status tracker), CPU seconds of the JVM and
of its Python workers (from /proc) and, for spans that write, the bytes
and files they left on disk. Spans stay in memory; the caller writes them
out once, at the end of the run.

Span names are ``<module>.<function>`` of the layer called, so a per-layer
metric reads ``<module>.<function>.<quantity>``.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import sysstat

# layers whose work runs in Python batch kernels (mapInPandas /
# applyInPandas); their idle-core share shows serialization
KERNEL_MODULES = frozenset(
    {"inference", "extract", "coref", "dedup", "text_quality", "similarity", "graph"}
)

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def metric_name(*parts: str) -> str:
    name = ".".join(parts)
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"metric name {name!r} is outside [A-Za-z0-9_.-]{{1,64}}")
    return name


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    jvm_cpu_s: float = 0.0
    py_cpu_s: float = 0.0
    bytes_written: int | None = None
    files: int | None = None

    @property
    def s(self) -> float:
        return self.end - self.start

    @property
    def module(self) -> str:
        return self.name.split(".", 1)[0]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (overlapping children are counted once)."""
    children: dict[int, list[int]] = {}
    for i, sp in enumerate(spans):
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(i)
    out = []
    for i, sp in enumerate(spans):
        covered, cur = 0.0, None
        for c in sorted(children.get(i, []), key=lambda c: spans[c].start):
            s, e = max(spans[c].start, sp.start), min(spans[c].end, sp.end)
            if e <= s:
                continue
            if cur is None or s > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [s, e]
            else:
                cur[1] = max(cur[1], e)
        if cur is not None:
            covered += cur[1] - cur[0]
        out.append(sp.s - covered)
    return out


def idle_core_frac(cpu_s: float, wall_s: float, cores: int) -> float:
    """1 - cpu / (wall x cores): the share of the cores a span left idle."""
    return 1.0 - cpu_s / (wall_s * cores) if wall_s > 0 else 0.0


def _dir_usage(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".crc") or f.startswith("_"):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


class Tracer:
    """Records nested spans around calls into the program's layers."""

    def __init__(self, spark, run_id: str, jvm_pid: int, cores: int):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.jvm_pid = jvm_pid
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _cpu(self) -> tuple[float, float]:
        workers = sysstat.descendants(self.jvm_pid)
        py = sum(sysstat.cpu_s(p, with_children=True) for p in workers)
        return sysstat.cpu_s(self.jvm_pid), py

    def _group(self, idx: int) -> str:
        return f"{self.run_id}/{idx}"

    @contextmanager
    def span(self, name: str, out_dir: str | None = None):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, 0.0, 0.0, parent, self.run_id)
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(self._group(idx), name)
        jvm0, py0 = self._cpu()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            jvm1, py1 = self._cpu()
            sp.jvm_cpu_s, sp.py_cpu_s = jvm1 - jvm0, py1 - py0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(sp, self._group(idx))
            if out_dir is not None and os.path.isdir(out_dir):
                sp.bytes_written, sp.files = _dir_usage(out_dir)

    def force(self, name: str, build):
        """Span ``name`` around building a layer's DataFrame, persisting it
        and forcing it through the noop sink; returns the persisted frame
        so the next layer starts from materialized input."""
        with self.span(name):
            df = build().persist()
            df.write.format("noop").mode("overwrite").save()
        return df

    def _count_jobs(self, sp: Span, group: str) -> None:
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(group):
            sp.jobs += 1
            job = st.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = st.getStageInfo(stage_id)
                if stage:
                    sp.tasks += stage.numCompletedTasks
                    sp.failed_tasks += stage.numFailedTasks

    @contextmanager
    def wrapped(self, module, names: list[str]):
        """Replace ``module.<name>`` by a span-recording wrapper for the
        duration of the block, so calls the program makes into the layer
        become child spans. The wrapper adds no work: a lazy result stays
        lazy and its cost lands on the span that consumes it."""
        layer = module.__name__.rsplit(".", 1)[-1]
        originals = {n: getattr(module, n) for n in names}

        def make(name, fn):
            def wrapper(*args, **kwargs):
                with self.span(f"{layer}.{name}"):
                    return fn(*args, **kwargs)

            return wrapper

        try:
            for n, fn in originals.items():
                setattr(module, n, make(n, fn))
            yield
        finally:
            for n, fn in originals.items():
                setattr(module, n, fn)

    def table(self) -> list[dict]:
        """One row per span name: summed wall, self time and counts."""
        selfs = self_times(self.spans)
        rows: dict[str, dict] = {}
        for sp, self_s in zip(self.spans, selfs):
            r = rows.setdefault(
                sp.name,
                {"span": sp.name, "calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0,
                 "tasks": 0, "failed_tasks": 0, "jvm_cpu_s": 0.0, "py_cpu_s": 0.0},
            )
            r["calls"] += 1
            r["s"] += sp.s
            r["self_s"] += self_s
            for k in ("jobs", "tasks", "failed_tasks", "jvm_cpu_s", "py_cpu_s"):
                r[k] += getattr(sp, k)
            if sp.bytes_written is not None:
                r["bytes_written"] = r.get("bytes_written", 0) + sp.bytes_written
                r["files"] = r.get("files", 0) + sp.files
        for r in rows.values():
            if r["span"].split(".", 1)[0] in KERNEL_MODULES:
                r["idle_core_frac"] = idle_core_frac(
                    r["jvm_cpu_s"] + r["py_cpu_s"], r["s"], self.cores
                )
        return list(rows.values())

    def dump(self) -> list[dict]:
        return [asdict(sp) for sp in self.spans]
