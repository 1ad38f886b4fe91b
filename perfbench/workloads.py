"""Benchmark worker: runs one workload against ``api.SparkVectorService``
in this process, checks its outputs and prints one JSON result line.

Started by ``perfbench/run.py``, which prepares the environment (run
directory, ``TMPDIR``, ``SPARK_LOCAL_DIRS``, ``PYTHONPATH``) and cleans up.
One client thread runs a closed loop: each request is sent when the
previous one has returned. A run makes a fixed number of rounds, so its
counts depend on the seed alone. Untraced runs report the end-to-end
metrics; traced runs (``--trace 1``) alternate untraced and traced steps
and report the per-layer metrics, including the tracing overhead as
traced minus untraced.

Request cost is CPU time summed over the worker, the JVM and its Python
workers (``session_cpu_s``), not wall-clock time: on a shared host the
hypervisor gives the VM's cores to other guests at times, which can double
a run's latencies while leaving its CPU time nearly unchanged. Wall-clock
latencies are printed on standard error.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import numpy as np

from pdf_parse_vector_db_spark import api
from pdf_parse_vector_db_spark.plans import ingest as plans_ingest
from pdf_parse_vector_db_spark.session import get_spark
from pdf_parse_vector_db_spark.sources import manifest

from perfbench import check, gen, trace

#: ANN queries all use this input level, so each tier builds one index
ANN_LEVEL = 2
TIERS = ("ivf",)
#: tiers searched in traced runs only, to keep untraced runs short: their
#: builds cost 3-16 s and a graph search about 6 s
TRACE_ONLY_TIERS = ("sq8", "bq", "graph")
#: compaction threshold of the manifested service: a round is this many
#: ingests, one whole compaction cycle
COMPACT_EVERY = 2

#: blocks whose requests carry spans and Spark counters in traced runs
_TRACED_BLOCKS = ("setup", "traced", "extra")

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds used so far by the processes of this process's session:
    the worker, the Spark JVM it launched and the JVM's Python workers,
    with the children they have reaped. Unlike wall-clock time, it leaves
    out the time the hypervisor runs other guests on the host's cores."""
    sid = os.getsid(0)
    ticks = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process has ended
            continue
        # fields after the command name, from field 3 (state) on
        fields = stat[stat.rindex(b")") + 2:].split()
        if int(fields[3]) == sid:  # field 6, session id
            ticks += sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime
    return ticks / _CLK_TCK


class Run:
    """Set-up, timed loop and results shared by the workloads."""

    #: request kind prefix of the workload's second request type
    mix_kind: str
    #: nominal seconds per round on a 4-core host; a run makes at least
    #: ``min_rounds``
    round_s: float
    min_rounds: int = 1
    #: steps of a round made at the end of the set-up: a fresh JVM spends
    #: several times the steady CPU on its first requests while it compiles
    warmup_steps: int
    #: exact searches after each ANN search or ingest: an exact search costs
    #: a third to a fifth of either, and its CPU varies more per request
    exact_per_step: int

    def __init__(self, args):
        self.args = args
        self.data_dir = args.data_dir
        self.wh = os.path.join(self.data_dir, "warehouse")
        self.traced = bool(args.trace)
        self.inputs = gen.Inputs(args.seed)
        self.inputs.write_documents(os.path.join(self.data_dir, "documents.parquet"))
        self.tracer = trace.Tracer() if self.traced else None
        self.attempted = 0
        self.failed = 0
        self.block = "setup"
        # (block, request kind, wall seconds, CPU seconds) of every request
        self.samples: list[tuple[str, str, float, float]] = []
        # (block, request kind, Spark counters, seconds) of traced requests
        self.spark_stats: list[tuple[str, str, dict, float]] = []
        self.files_per_scan: list[int] = []
        self.to_check: list[tuple] = []
        # (file name, text, chunks_inserted) of each ingest, in order
        self.ingested: list[tuple[str, str, int]] = []
        self.extra: dict[str, float] = {}
        self.build_s: dict[str, float] = {}

    # -- requests ----------------------------------------------------------

    def call(self, kind: str, fn, *args, **kwargs):
        """One request, timed in wall-clock and CPU seconds; in traced blocks
        also under a span and a job group. A failed request counts as
        infinitely slow."""
        self.attempted += 1
        traced = self.traced and self.block in _TRACED_BLOCKS
        rid = f"{self.block}-{self.attempted}-{kind}"
        if traced:
            self.tracer.request = rid
            self.counters.begin(rid)
        cpu0 = session_cpu_s()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"api.{kind}"):
                    out = fn(*args, **kwargs)
            else:
                out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
            cpu = session_cpu_s() - cpu0
        except Exception:  # counted as failed; the run goes on
            traceback.print_exc()
            self.failed += 1
            out, dt, cpu = None, math.inf, math.inf
        self.samples.append((self.block, kind, dt, cpu))
        if traced:
            self.tracer.request = None
            self.spark_stats.append((self.block, kind, self.counters.end(rid), dt))
            if self.block == "traced" and kind == "search":
                self.files_per_scan.append(len(self.warehouse_df().inputFiles()))
        return out, dt

    def search(self, index: str = "exact", level: int | None = None, kind: str = "") -> float:
        name, text, lvl = self.inputs.query()
        lvl = lvl if level is None else level
        kind = kind or ("search" if index == "exact" else f"search.{index}")
        resp, dt = self.call(kind, self.svc.search_similar_cases, name, text, lvl, index=index)
        if resp is not None:
            self.to_check.append((index, resp, text, lvl, len(self.ingested), self.block))
        return dt

    def ingest(self) -> float:
        name, text, lvl = self.inputs.ingest_doc()
        resp, dt = self.call("ingest", self.svc.ingest_legal_document, name, text, lvl)
        if resp is not None:
            self.ingested.append((name, text, resp["chunks_inserted"]))
        return dt

    # -- set-up ------------------------------------------------------------

    def start_session(self) -> None:
        t = time.perf_counter()
        self.spark = get_spark()
        self.extra["session.start_s"] = time.perf_counter() - t
        if self.traced:
            self.counters = trace.SparkCounters(self.spark)
            self.tracer.install()

    @contextmanager
    def setup_step(self, name: str):
        """A set-up step under its own span and job group when traced."""
        if not self.traced:
            yield
            return
        self.tracer.request = f"setup-{name}"
        self.counters.begin(self.tracer.request)
        with self.tracer.span(name):
            yield
        self.extra[f"jobs.{name}"] = self.counters.end(self.tracer.request)["jobs"]
        self.tracer.request = None

    def bulk_ingest(self, write) -> None:
        """Chunk, embed and store the generated corpus; ``write`` stores the
        chunk DataFrame."""
        t = time.perf_counter()
        with self.setup_step("bulk.build_chunks"):
            chunks = plans_ingest.build_chunks(self.spark, self.data_dir)
        t_plan = time.perf_counter()
        with self.setup_step("bulk.write"):
            write(chunks)
        self.bulk_s = time.perf_counter() - t
        self.extra["bulk.write_s"] = time.perf_counter() - t_plan

    def first_search(self, tier: str) -> None:
        """The first search of a tier, which builds its index."""
        n = len(self.spark_stats)
        self.build_s[tier] = self.search(tier, ANN_LEVEL, kind=f"build.{tier}")
        if self.traced:
            self.extra[f"jobs.build.{tier}"] = self.spark_stats[n][2]["jobs"]

    # -- the timed loop ----------------------------------------------------

    def n_rounds(self) -> int:
        """Rounds of a run: a fixed count derived from ``--seconds``, so every
        run of a workload does the same work whatever the host's speed."""
        n = max(self.min_rounds, round(self.args.seconds / self.round_s))
        return max(n, 2) if self.traced else n

    def run_blocks(self) -> None:
        """The timed rounds. Traced runs trace steps in the order untraced,
        traced, traced, untraced, so a steady drift over the run (the CPU
        per request falls while the JVM compiles) reaches both halves
        alike; with two steps per round, each step of a round is traced in
        every other round."""
        steps = self.steps()
        if self.traced:
            self.tracer.uninstall()  # installed for the set-up
        n = 0
        for _ in range(self.n_rounds()):
            for step in steps:
                n += 1
                traced = self.traced and n % 4 in (2, 3)
                self.block = "traced" if traced else "untraced"
                if traced:
                    self.tracer.install()
                step()
                if traced:
                    self.tracer.uninstall()
        if self.traced:
            self.block = "extra"
            self.tracer.install()
            self.trace_only()

    def steps(self) -> list:
        """The steps of one round, each a callable making a few requests."""
        raise NotImplementedError

    def warm_up(self) -> None:
        steps = self.steps()
        for i in range(self.warmup_steps):
            steps[i % len(steps)]()

    def trace_only(self) -> None:
        """Requests made only in traced runs, after the blocks."""

    # -- results -----------------------------------------------------------

    def warehouse_df(self):
        raise NotImplementedError

    def check_outputs(self) -> dict[str, list[float]]:
        """Check every response against the warehouse rows; returns the
        recall@5 of the traced runs' ANN responses per tier."""
        wh = check.Warehouse(self.warehouse_df().toPandas())
        for name, text, inserted in self.ingested:
            check.require(
                inserted == check.stored_chunk_count(text), f"chunks_inserted of {name}"
            )
        ingest_index = {name: i for i, (name, _, _) in enumerate(self.ingested)}
        # bulk rows get ingest index -1; a request saw the rows of the
        # ingests made before it
        row_ingest = np.array([ingest_index.get(n, -1) for n in wh.file_name])
        check.require(
            int((row_ingest < 0).sum())
            == sum(check.stored_chunk_count(d) for d in self.inputs.docs),
            "bulk row count",
        )
        check.require(
            np.bincount(row_ingest[row_ingest >= 0], minlength=len(self.ingested)).tolist()
            == [inserted for _, _, inserted in self.ingested],
            "stored rows of every ingested document",
        )
        recall: dict[str, list[float]] = {}
        for index, resp, text, lvl, n_ingested, block in self.to_check:
            if index == "exact":
                wh.check_exact(resp, text, lvl, mask=row_ingest < n_ingested)
            else:
                wh.check_ann(resp, text, lvl)
                if block in ("traced", "extra"):
                    recall.setdefault(index, []).append(wh.recall(resp, text, lvl))
        return recall

    def _samples(self, block: str, mix: bool) -> list[tuple[str, float, float]]:
        """(kind, wall s, CPU s) of the block's exact searches, or of its
        requests of the workload's second kind."""
        return [
            (k, dt, cpu) for b, k, dt, cpu in self.samples
            if b == block and (k.startswith(self.mix_kind) if mix else k == "search")
        ]

    def end_to_end(self, block: str) -> dict[str, float]:
        """Mean CPU milliseconds per request, over the exact searches and
        over the requests of the second kind (whole compaction cycles on
        ingest_mix, so compactions count)."""
        exact = [cpu for _, _, cpu in self._samples(block, mix=False)]
        mix = [cpu for _, _, cpu in self._samples(block, mix=True)]
        return {
            "search_cpu_ms": statistics.fmean(exact) * 1e3,
            "mix_cpu_ms": statistics.fmean(mix) * 1e3,
        }

    def sample_summary(self) -> str:
        """Sample counts, wall-clock and CPU seconds of the timed requests."""
        def fmt(samples):
            return [(k, round(dt, 3), round(cpu, 2)) for k, dt, cpu in samples]

        exact = self._samples("untraced", mix=False)
        mix = self._samples("untraced", mix=True)
        builds = ", ".join(f"{t} {s:.2f}" for t, s in self.build_s.items()) or "-"
        wall = [dt for _, dt, _ in exact]
        return (
            f"samples: (kind, wall s, cpu s) {len(exact)} exact searches, wall p50 "
            f"{statistics.median(wall):.3f} s {fmt(exact)}; {len(mix)} {self.mix_kind}* "
            f"requests {fmt(mix)}; index build s: {builds}"
        )

    def per_layer(self, recall: dict[str, list[float]]) -> dict[str, float]:
        traced = [(k, s, dt) for b, k, s, dt in self.spark_stats if b == "traced"]
        traced_s = sum(dt for _, _, dt in traced)
        wall_ms = traced_s * 1e3
        tot = self.tracer.totals(request_prefix="traced")
        setup = self.tracer.totals(request_prefix="setup")

        def per_call_ms(name: str) -> float:
            t = tot.get(name)
            return t["total"] / t["n"] * 1e3 if t else 0.0

        def kind_mean(kind: str, field: str, block: str = "traced") -> float:
            xs = [s[field] for b, k, s, _ in self.spark_stats if b == block and k == kind]
            return sum(xs) / len(xs) if xs else 0.0

        def request_mean(field: str) -> float:
            return sum(s[field] for _, s, _ in traced) / len(traced)

        def self_share(prefix: str) -> float:
            return sum(v["self"] for k, v in tot.items() if k.startswith(prefix)) / traced_s

        n_chunks = sum(check.stored_chunk_count(d) for d in self.inputs.docs)
        loads = setup.get("registry.load_table")
        run_ms = sum(s["run_ms"] for _, s, _ in traced)
        untraced = self.end_to_end("untraced")
        with_trace = self.end_to_end("traced")
        out = {
            "session.start_s": self.extra["session.start_s"],
            "bulk.write_s": self.extra["bulk.write_s"],
            "bulk.chunks_per_s": n_chunks / self.bulk_s,
            "bulk.chunks_per_doc": n_chunks / len(self.inputs.docs),
            "registry.load_ms": loads["total"] / loads["n"] * 1e3,
            "registry.jobs_per_load": self.extra["jobs.bulk.build_chunks"] / loads["n"],
            "chunker.query_ms": per_call_ms("chunker"),
            "embedder.query_ms": per_call_ms("embedder"),
            "storage.snapshot_ms": per_call_ms("storage.snapshot"),
            "storage.files_per_scan": sum(self.files_per_scan) / len(self.files_per_scan),
            "api.jobs_per_search": kind_mean("search", "jobs"),
            "api.jobs_per_ingest": kind_mean("ingest", "jobs"),
            "api.cache_hit_ratio": self.svc.cache_hits
            / (self.svc.cache_hits + self.svc.cache_misses),
            "api.self_share": self_share("api."),
            "spark.stages_per_request": request_mean("stages"),
            "spark.tasks_per_request": request_mean("tasks"),
            "spark.executor_run_ms_per_request": run_ms / len(traced),
            "spark.shuffle_bytes_per_request": request_mean("shuffle_bytes"),
            "spark.idle_share": 1 - run_ms / (wall_ms * self.counters.cores),
            "manifest.compactions": tot.get("manifest.commit_replace", {"n": 0})["n"],
            "manifest.self_share": self_share("manifest."),
        }
        for name, value in untraced.items():
            out[f"overhead.{name}"] = with_trace[name] - value
        for tier in TIERS + TRACE_ONLY_TIERS:
            block = "extra" if tier in TRACE_ONLY_TIERS else "traced"
            out[f"index.build_jobs.{tier}"] = self.extra.get(f"jobs.build.{tier}", 0)
            out[f"index.jobs_per_search.{tier}"] = kind_mean(f"search.{tier}", "jobs", block)
            r = recall.get(tier, [])
            out[f"index.recall_at_5.{tier}"] = sum(r) / len(r) if r else 0.0
        return out


class SearchTiers(Run):
    """Raw warehouse; a search through each timed ANN tier at one level, each
    followed by exact searches at rotating levels."""

    mix_kind = "search."
    round_s = 3.5
    warmup_steps = 1
    exact_per_step = 3

    def setup(self) -> None:
        self.start_session()
        self.bulk_ingest(lambda chunks: plans_ingest.write_chunks(chunks, self.wh))
        self.svc = api.SparkVectorService(self.spark, self.wh)
        for tier in TIERS:
            self.first_search(tier)
        self.warm_up()

    def steps(self) -> list:
        def step(tier):
            self.search(tier, ANN_LEVEL)
            for _ in range(self.exact_per_step):
                self.search()

        return [lambda tier=tier: step(tier) for tier in TIERS]

    def trace_only(self) -> None:
        for tier in TRACE_ONLY_TIERS:
            self.first_search(tier)
            self.search(tier, ANN_LEVEL)

    def warehouse_df(self):
        return self.spark.read.parquet(self.wh)


class IngestMix(Run):
    """Manifested warehouse; an ingest then exact searches, repeated over
    whole compaction cycles."""

    mix_kind = "ingest"
    round_s = 7.0
    min_rounds = 2
    warmup_steps = 1
    exact_per_step = 2

    def setup(self) -> None:
        self.start_session()
        self.bulk_ingest(
            lambda chunks: manifest.commit_append(
                self.spark, self.wh, chunks,
                partition_by=("court_level",), stats_cols=("file_id",),
            )
        )
        self.svc = api.SparkVectorService(
            self.spark, self.wh, manifested=True, auto_compact_commits=COMPACT_EVERY
        )
        self.warm_up()

    def steps(self) -> list:
        # the bulk commit and each compaction leave one commit: each round
        # of COMPACT_EVERY ingests compacts once
        def step():
            self.ingest()
            for _ in range(self.exact_per_step):
                self.search()

        return [step] * COMPACT_EVERY

    def warehouse_df(self):
        return manifest.snapshot(self.spark, self.wh)[1]


WORKLOADS = {"search_tiers": SearchTiers, "ingest_mix": IngestMix}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--spans-out")
    args = ap.parse_args()

    run = WORKLOADS[args.workload](args)
    t_setup = time.perf_counter()
    run.setup()
    setup_s = time.perf_counter() - t_setup
    run.run_blocks()
    correct = run.failed == 0
    try:
        recall = run.check_outputs()
    except check.CheckFailed as e:
        print(f"output check failed: {e}", file=sys.stderr)
        correct, recall = False, {}
    if run.traced:
        run.tracer.uninstall()
        if args.spans_out:
            run.tracer.write(args.spans_out)
        metrics = run.per_layer(recall)
    else:
        print(run.sample_summary(), file=sys.stderr)
        metrics = {"setup_s": setup_s, **run.end_to_end("untraced")}
    run.spark.stop()
    if not all(math.isfinite(v) for v in metrics.values()):
        correct = False
        metrics = {k: v if math.isfinite(v) else 1e9 for k, v in metrics.items()}
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
