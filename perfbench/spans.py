"""In-memory spans for the traced run (``--trace 1``).

A span records name, start, end, parent span and the request id shared by
every span of one operation, plus counts taken at that boundary. Spans
that ask for ``jobs=True`` run under their own Spark job group; the jobs
and tasks of each group are read from the status tracker once the run is
over, when the listener bus has caught up. Nothing is written until
``dump``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._request = 0
        self._groups: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.counters: dict[str, int] = {}

    @contextmanager
    def request(self, kind: str, jobs: bool = False):
        """One operation: a root span whose children share its id."""
        self._request += 1
        with self.span(kind, jobs) as s:
            yield s

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        rec = {
            "name": name,
            "request": self._request,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if jobs:  # the innermost job-group span owns the jobs run in it
            rec["job_group"] = f"perfbench-{len(self.spans) - 1}"
            self._groups.append(rec["job_group"])
            self.sc.setJobGroup(rec["job_group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                self._groups.pop()
                self.sc.setJobGroup(
                    self._groups[-1] if self._groups else "perfbench-untraced", ""
                )

    def add(self, metric: str, value: float) -> None:
        """A per-layer sample; the reported value is the run's median."""
        self.samples.setdefault(metric, []).append(float(value))

    def count(self, metric: str, n: int = 1) -> None:
        """A per-layer count; the reported value is the run's total."""
        self.counters[metric] = self.counters.get(metric, 0) + n

    def timed(self, metric: str, rec: dict, scale: float = 1e3) -> None:
        self.add(metric, (rec["end"] - rec["start"]) * scale)

    def resolve_jobs(self, job_metrics: dict[str, dict[str, str]]) -> None:
        """Fill each job-group span's spark_jobs / tasks counts, and add
        them as samples of the metrics `job_metrics` maps them to
        ({span name: {count: metric}})."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            group = rec.get("job_group")
            if group is None:
                continue
            job_ids = st.getJobIdsForGroup(group)
            tasks = 0
            for j in job_ids:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    tasks += stage.numCompletedTasks if stage else 0
            rec["counts"]["spark_jobs"] = len(job_ids)
            rec["counts"]["tasks"] = tasks
            for count, metric in job_metrics.get(rec["name"], {}).items():
                self.add(metric, rec["counts"][count])

    def report(self, names: list[str]) -> dict[str, float]:
        """Median of each metric's samples (total, for counts); 0 where the
        layer did no work."""
        return {
            n: self.counters[n] if n in self.counters
            else statistics.median(self.samples[n]) if self.samples.get(n) else 0.0
            for n in names
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "samples": self.samples,
                       "counters": self.counters}, fh)


class NullTracer:
    """The tracer of an untraced run (``--trace 0``): spans cost a context
    manager and record nothing, so every operation has one code path."""

    enabled = False

    @contextmanager
    def request(self, kind: str, jobs: bool = False):
        yield {}

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        yield {}

    def add(self, metric: str, value: float) -> None:
        pass

    def count(self, metric: str, n: int = 1) -> None:
        pass

    def timed(self, metric: str, rec: dict, scale: float = 1e3) -> None:
        pass
