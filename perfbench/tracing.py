"""Tracing for the benchmark's traced run: spans recorded around calls
into the engine's layers (by wrapping their public methods), call
counters for the fetch services and for ``sources.rest``, and Spark
job/stage/task counters attributed to layers by job group.

Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans with parents. Each span also names the Spark job group of
    the jobs it launches, so job counters can be attributed to it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # time spent in the tracer's own bookkeeping, inside spans
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "parent": parent})
        self._stack.append(sid)
        self.set_group(name)
        start = time.perf_counter()
        self.overhead_s += start - t_in
        try:
            yield
        finally:
            end = time.perf_counter()
            self.spans[sid].update(start=start, end=end)
            self._stack.pop()
            self.set_group(self.spans[self._stack[-1]]["name"] if self._stack else None)
            self.overhead_s += time.perf_counter() - end

    def set_group(self, name: str | None) -> None:
        """Tag the jobs this thread launches next with ``name`` (None clears)."""
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        self.sc.setLocalProperty("spark.job.description", name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part covered by its child spans,
        summed per span name."""
        child_total: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_total[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child_total[s["id"]]
        return dict(out)

    def durations(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"spans": spans, **extra}, fh, indent=1)


@contextmanager
def spans_around(tracer: Tracer, targets):
    """Replace each ``(cls, method, name)`` in ``targets`` with a wrapper
    that runs the method inside a span, for as long as the block runs.
    ``name`` is a span name, or a callable that gets the call's
    arguments (without ``self``) and returns one. The program's own
    entry point then runs unchanged, and each call it makes into these
    methods is timed from outside."""

    def wrap(fn, name):
        @functools.wraps(fn)
        def call(self, *args, **kwargs):
            with tracer.span(name(*args, **kwargs) if callable(name) else name):
                return fn(self, *args, **kwargs)

        return call

    saved = [(cls, meth, cls.__dict__[meth]) for cls, meth, _ in targets]
    try:
        for cls, meth, name in targets:
            setattr(cls, meth, wrap(cls.__dict__[meth], name))
        yield
    finally:
        for cls, meth, fn in saved:
            setattr(cls, meth, fn)


@contextmanager
def calls_into(module, names: list[str], package: str):
    """Count the calls made to ``module``'s functions ``names`` while the
    block runs, through every name they are bound to in the loaded
    modules of ``package`` (``from module import f`` copies the
    binding). Yields a dict name -> calls so far."""
    counts = dict.fromkeys(names, 0)
    originals = {n: getattr(module, n) for n in names}

    def wrap(n):
        fn = originals[n]

        @functools.wraps(fn)
        def call(*args, **kwargs):
            counts[n] += 1
            return fn(*args, **kwargs)

        return call

    wrappers = {n: wrap(n) for n in names}
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            for n, fn in originals.items():
                if value is fn:
                    setattr(mod, attr, wrappers[n])
                    patched.append((mod, attr, fn))
    try:
        yield counts
    finally:
        for mod, attr, fn in patched:
            setattr(mod, attr, fn)


def counted(fetch, acc):
    """Wrap a fetch callable so every call adds one to a Spark
    accumulator; the count survives the fetch running inside executor
    tasks (``mapInPandas``), including re-executed ones."""

    def call(key):
        acc.add(1)
        return fetch(key)

    return call


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url) as r:
        return json.load(r)


COUNTERS = ("jobs", "stages", "stages_skipped", "tasks", "shuffle_write_bytes", "input_bytes")


def spark_counters_by_group(spark) -> dict[str, dict[str, int]]:
    """Per job group: jobs, stages run, stages skipped (reused shuffle
    output), tasks, shuffle bytes written and input bytes read, from
    the UI REST API after the listener bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = _rest(spark, "jobs")
    stages = _rest(spark, "stages?details=false")
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    owner: dict[int, str] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        group = job.get("jobGroup") or ""
        c = out[group]
        c["jobs"] += 1
        c["stages_skipped"] += job.get("numSkippedStages", 0)
        for sid in job.get("stageIds", []):
            owner.setdefault(sid, group)
    for st in stages:
        if st.get("status") != "COMPLETE" or st["stageId"] not in owner:
            continue
        c = out[owner[st["stageId"]]]
        c["stages"] += 1
        c["tasks"] += st.get("numCompleteTasks", 0)
        c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        c["input_bytes"] += st.get("inputBytes", 0)
    return dict(out)
