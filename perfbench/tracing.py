"""Tracing for the benchmark: spans around the benchmark's calls into
program layers, the Spark task counters of the jobs each span ran, and
the peak resident memory of the process tree.

A span records (name, start, end, parent, run id). Every span runs its
jobs under its own Spark job group, so after the run the counters that
Spark's status store keeps per stage can be summed per span and then per
layer. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

# Layer names are module names of the program; README.md maps each to
# the code it covers.
LAYERS = [
    "ingest", "tokenize", "ner", "coref", "unify", "cooccur", "sentiment",
    "quotes", "conversation", "linking", "triples", "catalog", "stage",
    "graph", "kgquery", "similarity", "dedup",
]
# (quantity, unit, better)
QUANTITIES = [
    ("self_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("jvm_cpu_s", "s", "lower"),
    ("rows_out", "count", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("failed_tasks", "count", "lower"),
]
# metrics of the whole run that are not per layer: (name, unit, better)
EXTRA = [
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("ner.mentions_per_token", "ratio", "lower"),
    ("cooccur.edges_per_mention", "ratio", "lower"),
    ("stage.resume_skip_ratio", "ratio", "higher"),
    ("stage.resume_s", "s", "lower"),
    ("catalog.stored_bytes_per_input_byte", "ratio", "lower"),
    ("query.jobs_per_query", "count", "lower"),
    ("query.stages_per_query", "count", "lower"),
]


def per_layer_spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    grid = [(f"{layer}.{q}", unit, better)
            for layer in LAYERS for q, unit, better in QUANTITIES]
    return grid + EXTRA


class Tracer:
    """Spans around layer calls; disabled, it adds nothing to a call."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # DataFrames the tracer persisted to materialize a layer's
        # output; released by release()
        self._persisted: list = []
        self._counters: dict[str, dict] | None = None

    @contextmanager
    def span(self, name: str, detail: str = ""):
        """Time the block as span `name`; jobs it runs are tagged with
        the span's job group. Yields the span record, whose "rows" the
        caller may set."""
        if not self.enabled:
            yield {}
            return
        if name not in LAYERS:
            raise ValueError(f"unknown layer {name!r}")
        idx = len(self.spans)
        rec = {
            "name": name, "detail": detail, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"perfbench-{self.run_id}-{idx}",
            "start": time.perf_counter(), "end": None, "rows": 0,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = (self.spans[self._stack[-1]]["group"] if self._stack
                     else f"perfbench-{self.run_id}-untraced")
            self.sc.setJobGroup(outer, "")

    def materialize(self, rec: dict, df):
        """Persist and count `df` inside span `rec`, so the layer's work
        runs in its own span; returns the persisted DataFrame."""
        df = df.persist()
        self._persisted.append(df)
        rec["rows"] = df.count()
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer self time, rows and Spark task counters, summed over
        every span of this tracer."""
        out = {f"{layer}.{q}": 0.0 for layer in LAYERS
               for q, _, _ in QUANTITIES}
        child_s = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] += rec["end"] - rec["start"]
        counters = self.counters()
        for i, rec in enumerate(self.spans):
            layer, c = rec["name"], counters[rec["group"]]
            out[f"{layer}.self_s"] += rec["end"] - rec["start"] - child_s[i]
            out[f"{layer}.rows_out"] += rec["rows"]
            out[f"{layer}.task_s"] += c["run_ms"] / 1e3
            out[f"{layer}.jvm_cpu_s"] += c["cpu_ns"] / 1e9
            out[f"{layer}.shuffle_bytes"] += c["shuffle_bytes"]
            out[f"{layer}.spill_bytes"] += c["spill_bytes"]
            out[f"{layer}.failed_tasks"] += c["failed_tasks"]
        return out

    def job_counts(self, layers: set[str]) -> tuple[int, int, int]:
        """(spans, jobs, stages) of the spans named in `layers`."""
        counters = self.counters()
        groups = {r["group"] for r in self.spans if r["name"] in layers}
        jobs = sum(counters[g]["jobs"] for g in groups)
        stages = sum(counters[g]["stages"] for g in groups)
        return len(groups), jobs, stages

    def counters(self) -> dict[str, dict]:
        """Task counters per span job group, read once after the run."""
        if self._counters is None:
            self._counters = group_counters(
                self.sc, {rec["group"] for rec in self.spans})
        return self._counters


def group_counters(sc, groups: set[str]) -> dict[str, dict]:
    """Task counters of the job groups `groups` from the Spark driver's
    status store (works with the UI disabled). A stage listed by several jobs
    counts once, for the earliest; a skipped stage does not count. Only
    the stages of `groups` are read: every read is a call into the JVM."""
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    store = sc._jsc.sc().statusStore()
    out = {g: dict.fromkeys(("jobs", "stages", "run_ms", "cpu_ns",
                             "shuffle_bytes", "spill_bytes",
                             "failed_tasks"), 0) for g in groups}
    jobs = []
    for job in conv.asJava(store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() in out:
            jobs.append((job.jobId(), g.get(), job))
    stage_group: dict[int, str] = {}
    for _, group, job in sorted(jobs, key=lambda t: t[0]):
        out[group]["jobs"] += 1
        for sid in conv.asJava(job.stageIds()):
            stage_group.setdefault(int(sid), group)
    for sid, group in stage_group.items():
        s = store.lastStageAttempt(sid)
        if s.status().toString() == "SKIPPED":
            continue
        c = out[group]
        c["stages"] += 1
        c["run_ms"] += s.executorRunTime()
        c["cpu_ns"] += s.executorCpuTime()
        c["shuffle_bytes"] += s.shuffleWriteBytes()
        c["spill_bytes"] += s.memoryBytesSpilled()
        c["failed_tasks"] += s.numFailedTasks()
    return out


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the JVM and the Python workers) until stopped."""

    INTERVAL_S = 0.1

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(root))
            if self._stop.wait(self.INTERVAL_S):
                return


class Clock:
    """Wall seconds (`wall`) and CPU seconds of this process tree
    (`cpu`) spent in a block."""

    def __enter__(self):
        self._cpu0 = tree_cpu_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s() - self._cpu0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by process `root` (default: this one) and
    its descendants, ended descendants included once their parent has
    reaped them. Time the hypervisor steals is not in it."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we read it
            continue
        # fields after the parenthesized command name
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid in ticks:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks[pid]
    return total / os.sysconf("SC_CLK_TCK")


def _tree_rss_kb(root: int) -> int:
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as f:
                fields = dict(
                    line.split(":", 1) for line in f if ":" in line
                )
        except OSError:  # the process ended while we read it
            continue
        pid = int(name)
        parent[pid] = int(fields["PPid"])
        rss[pid] = int(fields.get("VmRSS", "0 kB").split()[0])
    total = 0
    for pid in rss:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += rss[pid]
    return total
