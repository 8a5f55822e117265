"""Spans recorded around the benchmark's calls into the program.

A span covers one call into a public function of
``vector_search_test_spark`` plus the action that forces its result, so
a lazy DataFrame is charged to the call that built it. Spans stay in
memory and are written out when the run ends.

``Tracer`` is the traced mode: every span runs in its own Spark job
group, so job / stage / task / failed-task counts come from
``statusTracker()``, and CPU seconds of the whole process tree (driver,
JVM, Python workers) are read from ``/proc`` at both ends of the span.
``Timer`` is the untraced mode: it times spans with the same clock and
does nothing else, so both modes force execution at the same call
boundaries and run identical Spark plans.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    cpu_start: float = 0.0
    cpu_end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def tree_pids(root: int) -> list[int]:
    """`root` and every descendant process, from /proc ppid links."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime + stime of the process tree under `root`, including the
    reaped children each process has waited for (cutime/cstime), so a
    Python worker that exits mid-span is still counted by its parent."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        # fields[0] is the state; utime..cstime are stat fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident memory of the process tree under `root`."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    Children may overlap each other (parallel calls) or run past their
    parent's end; only the union of their intervals, clipped to the
    parent, is subtracted."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivals = sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.span_id, ())
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivals:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.span_id] = s.duration - covered
    return out


class Timer:
    """Untraced mode: spans carry start/end only."""

    traced = False

    def __init__(self, run_id: str = ""):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def attach(self, spark) -> None:
        pass

    @contextmanager
    def span(self, name: str):
        s = Span(
            len(self.spans),
            name,
            self._stack[-1].span_id if self._stack else None,
            self.run_id,
            time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            self._enter(s)
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._exit(s)

    def child(self, parent: Span, name: str, start: float, end: float) -> Span:
        """A span reconstructed from timings the program reports itself
        (``curate_corpus(stage_times=...)``)."""
        s = Span(len(self.spans), name, parent.span_id, self.run_id, start, end)
        self.spans.append(s)
        return s

    def _enter(self, s: Span) -> None:
        pass

    def _exit(self, s: Span) -> None:
        pass

    def flush(self, settle_s: float = 0.0) -> None:
        pass

    def finish(self) -> None:
        pass


class Tracer(Timer):
    """Traced mode: one Spark job group per span plus /proc CPU counts.

    Job ids are read at span end; stage and task counts are resolved in
    `flush` (the listener bus posts task ends asynchronously, so they may
    trail the action that returned). Bookkeeping time is accumulated in
    `overhead_s`."""

    traced = True

    def __init__(self, run_id: str = ""):
        super().__init__(run_id)
        self.sc = None
        self.overhead_s = 0.0
        self._pending: list[Span] = []

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def _group(self, s: Span) -> str:
        return f"{self.run_id}-{s.span_id}"

    def _enter(self, s: Span) -> None:
        t = time.perf_counter()
        s.cpu_start = tree_cpu_seconds()
        if self.sc is not None:
            self.sc.setJobGroup(self._group(s), s.name)
        self.overhead_s += time.perf_counter() - t
        s.start += time.perf_counter() - t

    def _exit(self, s: Span) -> None:
        t = time.perf_counter()
        s.cpu_end = tree_cpu_seconds()
        if self.sc is not None:
            s.counts["job_ids"] = list(
                self.sc.statusTracker().getJobIdsForGroup(self._group(s))
            )
            self._pending.append(s)
            if self._stack:
                self.sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - t

    def flush(self, settle_s: float = 0.0) -> None:
        """Resolve stage/task counts for spans that have ended."""
        if self.sc is None or not self._pending:
            return
        t = time.perf_counter()
        time.sleep(settle_s)
        st = self.sc.statusTracker()
        for s in self._pending:
            stages = tasks = failed = 0
            for jid in s.counts["job_ids"]:
                job = st.getJobInfo(jid)
                if job is None:
                    continue
                for sid in job.stageIds:
                    info = st.getStageInfo(sid)
                    if info is None or info.numCompletedTasks == 0:
                        continue  # skipped: shuffle output reused
                    stages += 1
                    tasks += info.numCompletedTasks
                    failed += info.numFailedTasks
            s.counts.update(
                jobs=len(s.counts["job_ids"]), stages=stages, tasks=tasks,
                failed_tasks=failed,
            )
        self._pending.clear()
        self.overhead_s += time.perf_counter() - t

    def finish(self) -> None:
        self.flush(settle_s=0.5)


def cpu_util(s: Span, cores: int) -> float:
    """CPU seconds of the process tree over the span / (wall x cores)."""
    if s.duration <= 0:
        return 0.0
    return (s.cpu_end - s.cpu_start) / (s.duration * cores)


def write_spans(path: str, spans: list[Span]) -> None:
    selfs = self_times(spans)
    with open(path, "w") as f:
        for s in spans:
            rec = {
                "run_id": s.run_id,
                "span_id": s.span_id,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": selfs[s.span_id],
                **{k: v for k, v in s.counts.items() if k != "job_ids"},
            }
            f.write(json.dumps(rec) + "\n")
