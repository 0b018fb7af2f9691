"""In-memory span tracer for the benchmark's traced run.

Spans are recorded at the calls into each layer's public functions. The
tracer never edits program code: ``patch`` swaps a module attribute for a
wrapper for the duration of the run and ``restore`` puts the original back,
so only callers that look the function up through that module (the CDC
batch processor, the view refresh, the benchmark's own request code) are
traced.

Each span opens its own Spark job group, so the jobs and tasks a span
launched are read back from ``statusTracker()`` once the run is over,
outside every timed region. Actions a wrapper adds only to force a lazy
DataFrame run under a separate ``force`` group and are not counted as the
program's jobs.
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

_GROUP = "perfbench-{}"
_FORCE_GROUP = "perfbench-force-{}"


class Tracer:
    def __init__(self, sc):
        self._sc = sc
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.spans: list[dict] = []

    def _set_group(self, group: str | None, desc: str = "") -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, desc)

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(_GROUP.format(sid), name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(None if parent is None else _GROUP.format(parent))

    def force(self, rec: dict, action: Callable[[], object]) -> object:
        """Run an action that only exists to force a lazy result, under
        the span's ``force`` job group (excluded from job counts)."""
        self._set_group(_FORCE_GROUP.format(rec["id"]), rec["name"] + " (force)")
        try:
            return action()
        finally:
            self._set_group(_GROUP.format(rec["id"]), rec["name"])

    def patch(
        self,
        module: object,
        attr: str,
        name: str,
        after: Callable[[object, dict], None] | None = None,
    ) -> None:
        """Replace ``module.attr`` with a wrapper recording span ``name``.
        ``after(result, rec)`` runs inside the span: it forces a lazy
        result (through ``force``) and records counts on the span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(out, rec)
            return out

        self._patched.append((module, attr, orig))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    # -- read-back, outside every timed region -----------------------------

    def attach_spark_counts(self, settle_s: float = 5.0) -> None:
        """Fill ``jobs`` / ``tasks`` (the span's own, children excluded)
        on every span. Job-end events reach the status store through the
        asynchronous listener bus, so poll until the counts stop moving."""
        tracker = self._sc.statusTracker()

        def counts() -> list[tuple[int, int]]:
            out = []
            for rec in self.spans:
                jobs = tracker.getJobIdsForGroup(_GROUP.format(rec["id"]))
                tasks = 0
                for jid in jobs:
                    info = tracker.getJobInfo(jid)
                    for sid in info.stageIds if info else ():
                        stage = tracker.getStageInfo(sid)
                        tasks += stage.numTasks if stage else 0
                out.append((len(jobs), tasks))
            return out

        deadline = time.monotonic() + settle_s
        prev = counts()
        while time.monotonic() < deadline:
            time.sleep(0.25)
            cur = counts()
            if cur == prev and not tracker.getActiveJobsIds():
                break
            prev = cur
        for rec, (jobs, tasks) in zip(self.spans, prev):
            rec["jobs"], rec["tasks"] = jobs, tasks

    def finish(self) -> None:
        """Durations, self time (duration minus the union of the child
        spans' intervals) and subtree job/task totals."""
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            rec["duration_s"] = rec["end"] - rec["start"]
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        for rec in reversed(self.spans):  # children are recorded after parents
            kids = children.get(rec["id"], [])
            covered, edge = 0.0, rec["start"]
            for kid in sorted(kids, key=lambda k: k["start"]):
                lo, hi = max(kid["start"], edge), min(kid["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            rec["self_s"] = rec["duration_s"] - covered
            rec["jobs_total"] = rec.get("jobs", 0) + sum(k["jobs_total"] for k in kids)
            rec["tasks_total"] = rec.get("tasks", 0) + sum(k["tasks_total"] for k in kids)

    def named(self, name: str) -> list[dict]:
        return [rec for rec in self.spans if rec["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=0)
