"""Measurement helpers: summary statistics, span records, disk and
memory accounting from outside the program, and Spark job counts.

Everything here observes the program from the benchmark's side: files
are listed on disk, memory is read from ``/proc``, Spark work is read
from the status tracker by job group. The pure helpers (statistics,
prefix self times, file diffs) are covered by ``test_perfbench.py``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field

# -- statistics ----------------------------------------------------------

TAIL_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float, int]:
    """``(value, percentile, n)`` of the highest percentile that leaves at
    least ``TAIL_BEYOND`` samples beyond it: the (n-10)-th smallest
    sample, at percentile 100*(n-10)/n. With ten or fewer samples no
    percentile qualifies; the maximum is returned at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= TAIL_BEYOND:
        return float(s[-1]), 100.0, n
    i = n - TAIL_BEYOND - 1
    return float(s[i]), 100.0 * (i + 1) / n, n


def prefix_self_times(chain: list[tuple[str, float]]) -> dict[str, float]:
    """Self times from nested prefix spans.

    ``chain`` lists (layer, seconds) where each entry times the plan
    that ends in that layer, fully materialised, and so contains every
    earlier entry's plan. A layer's self time is its prefix time minus
    the previous prefix's time; the first layer's is its own time."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, secs in chain:
        out[name] = secs - prev
        prev = secs
    return out


# -- spans ----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str
    id: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; ``dump`` writes every span as one JSON
    line when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, request: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(
            name,
            time.perf_counter(),
            0.0,
            self._stack[-1] if self._stack else None,
            request,
            len(self.spans),
            attrs,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# -- disk accounting --------------------------------------------------------


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, inode)} of every regular file under root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_ino)
    return out


def _partition(rel: str, key: str) -> str | None:
    head = rel.split(os.sep, 1)[0]
    return head if head.startswith(key + "=") else None


@dataclass
class FileDiff:
    bytes_written: int
    partitions_touched: int


def diff(before: dict, after: dict, key: str) -> FileDiff:
    """What a write did to a layout partitioned by ``key``: files present
    after but not before, or replaced (same path, new inode), count as
    created and their bytes as written; a partition is touched when any
    of its files was created or removed."""
    created = [
        p for p, (_sz, ino) in after.items() if p not in before or before[p][1] != ino
    ]
    removed = [
        p for p, (_sz, ino) in before.items() if p not in after or after[p][1] != ino
    ]
    touched = {_partition(p, key) for p in created + removed} - {None}
    return FileDiff(sum(after[p][0] for p in created), len(touched))


def total_bytes(snap: dict) -> int:
    return sum(sz for sz, _ino in snap.values())


def files_per_partition(snap: dict, key: str) -> float:
    """Mean count of parquet data files per ``key=`` partition."""
    counts: dict[str, int] = {}
    for p in snap:
        part = _partition(p, key)
        if part is not None and p.endswith(".parquet"):
            counts[part] = counts.get(part, 0) + 1
    return sum(counts.values()) / len(counts) if counts else 0.0


# -- memory -----------------------------------------------------------------


def _children(pid: int) -> list[int]:
    kids = []
    task_dir = f"/proc/{pid}/task"
    with contextlib.suppress(OSError):
        for tid in os.listdir(task_dir):
            with contextlib.suppress(OSError), open(f"{task_dir}/{tid}/children") as fh:
                kids.extend(int(x) for x in fh.read().split())
    return kids


def _hwm_kb(pid: int) -> int:
    with contextlib.suppress(OSError), open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tree(pid: int | None = None) -> list[int]:
    """A process and all its live descendants."""
    todo, out = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def peak_rss_mb(pid: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of a process and all its
    live descendants — the Python driver plus its JVM child."""
    return sum(_hwm_kb(p) for p in _tree(pid)) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    with contextlib.suppress(OSError), open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return 0


def cpu_seconds(pid: int | None = None) -> float:
    """CPU time, user plus system and reaped children included, of a
    process and all its live descendants — the Python driver plus its
    JVM. Time the host took a virtual CPU away (steal) is not in it."""
    return sum(_cpu_ticks(p) for p in _tree(pid)) / _TICK


# -- Spark accounting -----------------------------------------------------------


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under job group
    ``group`` (set with ``sc.setJobGroup`` before the request). Tasks
    are those that completed or failed, so a stage skipped because its
    shuffle output was reused adds none."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            stages += 1
            tasks += si.numCompletedTasks + si.numFailedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def persisted_rdds(sc) -> int:
    """Frames the JVM currently holds persisted (its persistent-RDD map)."""
    return int(sc._jsc.getPersistentRDDs().size())
