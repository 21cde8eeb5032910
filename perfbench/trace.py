"""Spans around the calls into each engine layer, recorded from the
benchmark's own files (the library carries no phase tags yet).

A span is pushed when a wrapped public function is entered and popped
when it returns.  Each span records inclusive and self time (self =
duration minus the part its child spans cover).  Spans labelled with a
``mod:``, ``phase:`` or ``op:`` tag also set Spark's job description, so
every job the layer submits can be attributed afterwards through the
status REST API: ``op`` is the benchmark operation, ``phase`` the
innermost ingest phase and ``mod`` the innermost engine module.

Lazy DataFrames run their jobs at the sink, after the wrapped call has
returned; such jobs carry the operation's own context labels (a probe
runs its sink under its primary module), and the time no library span
covers is reported as the workload's unattributed share.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
import urllib.request
from collections import Counter, defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

#: Engine modules whose public functions get a ``mod:`` span.
MODULES = ("dedup", "similarity", "corpus", "text", "temporal")


@dataclass
class _Frame:
    label: str
    start: float
    library: bool
    child_s: float = 0.0


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "JobStats") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes


@dataclass
class Job:
    op: str
    phase: str
    mod: str
    stats: JobStats = field(default_factory=JobStats)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.frames: list[_Frame] = []
        self.self_s: Counter = Counter()
        self.total_s: Counter = Counter()
        self.calls: Counter = Counter()
        #: time under at least one library span
        self.covered_s = 0.0
        self.py4j_calls = 0
        self._count_py4j = False
        self._paused = False
        self._description: str | None = None
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def _describe(self) -> None:
        tags = {}
        for f in self.frames:
            kind = f.label.split(":", 1)[0]
            if kind in ("op", "phase", "mod"):
                tags[kind] = f.label
        desc = ">".join(tags[k] for k in ("op", "phase", "mod") if k in tags) or None
        if desc != self._description:
            self._description = desc
            self.sc.setLocalProperty("spark.job.description", desc)

    @contextmanager
    def span(self, label: str, library: bool = False):
        """``library`` spans wrap engine calls and count as covered
        time; the others are context set by the benchmark itself."""
        frame = _Frame(label, time.perf_counter(), library)
        outermost_library = library and not any(f.library for f in self.frames)
        self.frames.append(frame)
        self._describe()
        try:
            yield
        finally:
            dur = time.perf_counter() - frame.start
            self.frames.pop()
            self.total_s[label] += dur
            self.self_s[label] += dur - frame.child_s
            self.calls[label] += 1
            if self.frames:
                self.frames[-1].child_s += dur
            if outermost_library:
                self.covered_s += dur
            self._describe()

    def patch(
        self, owner, name: str, label: str, reentrant: bool = True,
        mod: str | None = None, library: bool = True,
    ) -> None:
        """Replace ``owner.name`` by a wrapper that runs it in a span.
        With ``reentrant=False`` a call made while the label is already
        open runs without a new span (recursive converters); ``mod``
        also opens a ``mod:`` context for the jobs the call submits;
        ``library=False`` keeps the span out of the covered time (an
        entry point whose self time is the quantity of interest)."""
        orig = getattr(owner, name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if self._paused or (not reentrant and any(f.label == label for f in self.frames)):
                return orig(*args, **kwargs)
            with self.span(label, library=library), (
                self.span(f"mod:{mod}") if mod else nullcontext()
            ):
                return orig(*args, **kwargs)

        setattr(owner, name, traced)
        self._restore.append((owner, name, orig))

    def patch_module(self, module, short: str) -> None:
        """A ``mod:<short>`` span around every public function the
        module defines.  Calls inside the module go through its globals
        and are wrapped too; the innermost span wins attribution."""
        for name, obj in vars(module).copy().items():
            if (
                not name.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == module.__name__
            ):
                self.patch(module, name, f"mod:{short}")

    def count_py4j(self, spark) -> None:
        """Count py4j commands sent while ``counting`` is on."""
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*args, **kwargs):
            if self._count_py4j:
                self.py4j_calls += 1
            return orig(*args, **kwargs)

        client.send_command = send_command
        self._restore.append((client, "send_command", orig))

    @contextmanager
    def counting(self):
        self._count_py4j = True
        try:
            yield
        finally:
            self._count_py4j = False

    @contextmanager
    def paused(self):
        """Wrapped functions run unwrapped: no spans, no job tags, no
        covered time (the correctness checks run here)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def close(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    # -- jobs from the status REST API ------------------------------------

    def _rest(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[-1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def jobs(self) -> list[Job]:
        """Every job of the application with its task, shuffle and spill
        totals.  Waits until the listener has seen every submitted job."""
        prev = -1
        for _ in range(50):
            raw = self._rest("jobs")
            if len(raw) == prev and all(j["status"] != "RUNNING" for j in raw):
                break
            prev = len(raw)
            time.sleep(0.2)
        stages = {}
        for s in self._rest("stages"):
            if s["status"] == "COMPLETE":
                st = stages.setdefault(s["stageId"], JobStats())
                st.tasks += s["numCompleteTasks"]
                st.shuffle_bytes += s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                st.spill_bytes += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        out = []
        seen: set[int] = set()
        for j in sorted(raw, key=lambda j: j["jobId"]):
            tags = dict(
                t.split(":", 1) for t in (j.get("description") or "").split(">") if ":" in t
            )
            job = Job(tags.get("op", ""), tags.get("phase", ""), tags.get("mod", ""))
            job.stats.jobs = 1
            for sid in j["stageIds"]:
                if sid in stages and sid not in seen:
                    seen.add(sid)
                    job.stats.add(stages[sid])
            out.append(job)
        return out


def by(jobs: list[Job], key) -> dict[str, JobStats]:
    out: dict[str, JobStats] = defaultdict(JobStats)
    for j in jobs:
        out[key(j)].add(j.stats)
    return out
