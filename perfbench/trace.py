"""Tracing for the benchmark's traced run.

Spans are recorded around calls into the package's layers by wrapping the
module attributes the service resolves at call time; nothing in the
package changes. Spans stay in memory (name, start, end, parent, request
id) and are written out when the run ends. Spark work is attributed to
requests through one job group per request, read back from the status
tracker and the application status store.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from pdf_parse_vector_db_spark import api
from pdf_parse_vector_db_spark.plans import ingest as plans_ingest
from pdf_parse_vector_db_spark.sources import manifest

#: (owner, attribute, span name): the layer boundaries the service crosses
LAYER_CALLS = [
    (api, "chunk_text", "chunker"),
    (api, "embed_text_py", "embedder"),
    (api.SparkVectorService, "_chunks", "storage.snapshot"),
    (api.SparkVectorService, "_ensure_index", "index.ensure"),
    (plans_ingest, "load_table", "registry.load_table"),
    (manifest, "head_version", "manifest.head_version"),
    (manifest, "snapshot", "manifest.snapshot"),
    (manifest, "commit_append", "manifest.commit_append"),
    (manifest, "maybe_compact", "manifest.maybe_compact"),
    (manifest, "commit_replace", "manifest.commit_replace"),
]


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, request]
        self.request: str | None = None
        self._stack: list[int] = []
        self._originals: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None,
               self.request]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def install(self) -> None:
        for owner, attr, name in LAYER_CALLS:
            orig = owner.__dict__[attr]
            self._originals.append((owner, attr, orig))
            setattr(owner, attr, self._wrapped(orig, name))

    def uninstall(self) -> None:
        while self._originals:
            owner, attr, orig = self._originals.pop()
            setattr(owner, attr, orig)

    def _wrapped(self, fn, name):
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def totals(self, request_prefix: str | None = None) -> dict[str, dict]:
        """Per span name: call count, total and self seconds (duration less
        the part its child spans cover)."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, dict] = defaultdict(lambda: {"n": 0, "total": 0.0, "self": 0.0})
        for i, (name, t0, t1, _, req) in enumerate(self.spans):
            if request_prefix is not None and not (req or "").startswith(request_prefix):
                continue
            o = out[name]
            o["n"] += 1
            o["total"] += t1 - t0
            o["self"] += t1 - t0 - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, t0, t1, parent, req) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start": t0, "end": t1,
                                    "parent": parent, "request": req}) + "\n")


class SparkCounters:
    """Jobs, stages, tasks, executor time and shuffle bytes of the Spark
    work one request caused, through a per-request job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._store = self.sc._jsc.sc().statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str, timeout_s: float = 10.0) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        deadline = time.monotonic() + timeout_s
        # job-end events reach the status store asynchronously
        while any(self._store.job(j).status().toString() == "RUNNING" for j in jobs):
            if time.monotonic() > deadline:
                raise RuntimeError(f"jobs of {group} still running after {timeout_s}s")
            time.sleep(0.01)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_ms": 0, "shuffle_bytes": 0}
        for j in jobs:
            stage_ids = self._store.job(j).stageIds().mkString(",")
            for sid in (int(s) for s in stage_ids.split(",") if s):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:
                    # a stage of an earlier job whose output this job reused,
                    # already evicted from the bounded status store
                    continue
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_ms"] += st.executorRunTime()
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
        return out
