"""Spans and Spark stage metrics recorded from the benchmark's side only.

``Tracer.install()`` wraps the entry points of each layer in place (module
attributes and methods) and ``Tracer.uninstall()`` restores them; no program
file is changed. Spans are kept in memory and written once, when the run
ends. Spark's own status store supplies per-job stage figures (run time,
CPU, shuffle and output bytes) for the jobs of one job group, which works
with the Spark UI off.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field

from flume_elasticsearch_2_spark.plans import build_index, merge, pipeline, query_index

# module-level functions shipped inside executor closures are wrapped with a
# picklable callable that unpickles to the executor's own (unwrapped) function
_MODULE_FUNCS = [
    (query_index, "_read_shard_tables", "query_index.read"),
    (query_index, "_score_shard", "query_index.score"),
    (pipeline, "build_segments_partial", "build_index.segments"),
    (merge, "merge_indexes", "merge.merge_indexes"),
]
_METHODS = [
    (query_index.IndexSearcher, "_query_meta", "query_index.meta"),
    (query_index.IndexSearcher, "_scatter_direct", "query_index.scatter_plan"),
]


_MISSING = object()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str
    id: int
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class _Wrapped:
    """Callable stand-in for a module function; pickles to the original."""

    def __init__(self, tracer: "Tracer", module, attr: str, span: str):
        self.tracer, self.module, self.attr, self.span = tracer, module, attr, span
        self.orig = getattr(module, attr)

    def __call__(self, *args, **kwargs):
        return self.tracer.call(self.span, self.orig, args, kwargs)

    def __reduce__(self):
        return (getattr, (self.module, self.attr))


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request = ""
        self._restore: list[tuple[object, str, object]] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- wrapping ----------------------------------------------------------
    def install(self) -> None:
        if self._restore:  # already installed
            return
        for module, attr, span in _MODULE_FUNCS:
            self._patch(module, attr, _Wrapped(self, module, attr, span))
        for cls, attr, span in _METHODS:
            orig = getattr(cls, attr)

            def method(*args, _orig=orig, _span=span, **kwargs):
                return self.call(_span, _orig, args, kwargs)

            self._patch(cls, attr, method)
        # COMMIT_FS is one shared instance; an instance attribute shadows the
        # class method for every plan that commits through it
        fs = build_index.COMMIT_FS
        orig_publish = fs.publish
        self._patch(
            fs, "publish",
            lambda tmp, final: self.call("fscommit.publish", orig_publish, (tmp, final), {}),
        )

    def _patch(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._restore):
            if old is _MISSING:
                delattr(owner, attr)  # an instance attribute over a class method
            else:
                setattr(owner, attr, old)
        self._restore.clear()

    # -- spans -------------------------------------------------------------
    def call(self, name: str, fn, args, kwargs):
        t0 = time.perf_counter()
        if name == "query_index.score":
            kwargs = {**kwargs, "counters": kwargs.get("counters") or {}}
        span = Span(name, 0.0, 0.0, self._stack[-1] if self._stack else None, self._request, len(self.spans))
        self.spans.append(span)
        self._stack.append(span.id)
        t1 = time.perf_counter()
        span.start = t1
        try:
            out = fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
        # inputs and outputs are kept as they are and counted in finish(),
        # outside the timed loop
        if name == "query_index.read":
            span.attrs["_frames"] = out
        elif name == "query_index.score":
            span.attrs["_scored"] = (args[0] if args else kwargs["postings"], kwargs["counters"])
        self.self_s += (t1 - t0) + (time.perf_counter() - span.end)
        return out

    def finish(self) -> None:
        """Turn what read and score spans kept into counts."""
        for s in self.spans:
            if "_frames" in s.attrs:
                pt, dt = s.attrs.pop("_frames")
                payload = sum(len(b) for b in pt["doc_bytes"]) + sum(len(b) for b in pt["tf_bytes"])
                s.attrs.update(
                    postings_rows=len(pt), docs_rows=len(dt),
                    bytes=int(payload + dt.memory_usage(index=False).sum()),
                )
            if "_scored" in s.attrs:
                postings, counters = s.attrs.pop("_scored")
                s.attrs.update(
                    blocks_total=int(sum(len(b) for b in postings["block_first_doc"])) if len(postings) else 0,
                    blocks_decoded=int(counters.get("blocks_decoded", 0)),
                )

    def op(self, request: str, name: str, spark_jobs: bool = True):
        """Context manager: one timed operation = one request id, one root
        span and, for an operation that runs Spark jobs, one job group."""
        return _Op(self, request, name, spark_jobs)

    def children(self, root: Span, name: str) -> list[Span]:
        return [s for s in self.spans if s.request == root.request and s.name == name]

    # -- Spark status store ------------------------------------------------
    def jobs(self, group: str) -> dict:
        """Sum the stage figures of every job run under ``group``."""
        store = self.sc._jsc.sc().statusStore()
        out = {"jobs": 0, "tasks": 0, "job_ms": 0.0, "run_ms": 0.0, "cpu_ms": 0.0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "output_bytes": 0}
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            out["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_ms"] += done.get().getTime() - sub.get().getTime()
            sids = j.stageIds().iterator()
            while sids.hasNext():
                attempts = store.stageData(sids.next(), False, None, False, None).iterator()
                while attempts.hasNext():
                    s = attempts.next()
                    if str(s.status()) != "COMPLETE":
                        continue
                    out["tasks"] += s.numCompleteTasks()
                    out["run_ms"] += s.executorRunTime()
                    out["cpu_ms"] += s.executorCpuTime() / 1e6
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["output_bytes"] += s.outputBytes()
        return out

    def write(self, path: str) -> None:
        self.finish()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _Op:
    def __init__(self, tracer: Tracer, request: str, name: str, spark_jobs: bool):
        self.t, self.request, self.name, self.spark_jobs = tracer, request, name, spark_jobs

    def __enter__(self) -> Span:
        t = self.t
        t._request = self.request
        if self.spark_jobs:
            t.sc.setJobGroup(self.request, self.name)
        self.span = Span(self.name, 0.0, 0.0, None, self.request, len(t.spans))
        t.spans.append(self.span)
        t._stack.append(self.span.id)
        self.span.start = time.perf_counter()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        t = self.t
        t._stack.pop()
        if self.spark_jobs:
            t.sc.setLocalProperty("spark.jobGroup.id", None)
        t._request = ""
