"""`query` workload: a fixed mix of driver queries from
`__spark_entry__.queries()` and one staged run with resume, run back to
back by one closed-loop client over a small seeded corpus, so latency is
set by planning, job launch and iterative fixpoints rather than per-row
work.

Every execution is checked after it is timed. The first execution of a
driver query in a run must match its DuckDB oracle
(`__spark_entry__.oracle_sql()`, run untimed before the measured phase)
up to row order, and every later one the first one's row count and
order-insensitive hash. Both staged operations must return the runner's
last table as computed without the runner.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import zlib

import numpy as np

from tracing import Clock

N_DOCS = 100
N_VECTORS = 200
DIM = 64

# driver query -> the layer whose public function the query is built
# around; together with the staged run (layers `stage` and `catalog`)
# they reach every layer that `build` bypasses
MIX = {
    "char_bfs": "graph",
    "bgp_match": "kgquery",
    "cosine_topk": "similarity",
    "near_dup_pairs": "dedup",
    "coreferee_chains": "coref",
    "media_links": "linking",
    "polarity_edges": "sentiment",
    "speaker_edges": "quotes",
    "mention_edges": "conversation",
}
# the staged run: stage name -> layer. The resume reruns the last stage
# from the catalog copy of the first.
STAGES = {"documents": "ingest", "tokens": "tokenize"}
RESUME_FROM = "tokens"
STAGE_OPS = ["stage_full", "stage_resume"]

# The corpus has the shape of the repository's `documents` and
# `embeddings` test tables, measured on their 0.1 scale factor (5,000
# documents, 2,000 vectors): 10-100 space-separated words per document
# (median 54), drawn uniformly from the 30 words of VOCAB; 4.9% of
# documents are a copy of an earlier one with the word "dup" inserted;
# languages en/zh/es/fr/de at 2059/753/744/742/702 documents; source =
# "src<doc_id mod 20>"; n_chars = the text length; 64-dimensional
# unit-norm float32 vectors with labels 0-9. Only the row counts are
# smaller: latency here is set by fixed per-job cost, not by rows.
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
DUP_RATE = 0.05


def write_inputs(path: str, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i and rng.random() < DUP_RATE:
            words = texts[rng.randrange(i)].split()
            words.insert(rng.randrange(len(words) + 1), "dup")
        else:
            words = rng.choices(VOCAB, k=rng.randint(10, 100))
        texts.append(" ".join(words))
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choices(LANGS, LANG_WEIGHTS, k=N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))
    g = np.random.default_rng(seed)
    vec = g.standard_normal((N_VECTORS, DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(N_VECTORS), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(g.integers(0, 10, N_VECTORS), pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))


def digest(rows) -> tuple[int, int]:
    """(row count, order-insensitive hash) of collected rows."""
    return len(rows), sum(zlib.crc32(repr(tuple(r)).encode()) for r in rows)


def matches_oracle(rows, columns, want) -> bool:
    """Spark rows equal the oracle frame up to row order and 1e-9 on
    floats."""
    if sorted(columns) != sorted(want.columns) or len(rows) != len(want):
        return False
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    got = _sorted_rows(tuple(r[i] for i in order) for r in rows)
    exp = _sorted_rows(want[sorted(want.columns)].itertuples(
        index=False, name=None))
    return all(
        x == y or (isinstance(x, float) and isinstance(y, float)
                   and abs(x - y) < 1e-9)
        for a, b in zip(got, exp) for x, y in zip(a, b)
    )


def _sorted_rows(rows):
    # NULL-safe: None sorts before any value; NaN reads as None
    clean = [tuple(None if v != v else v for v in r) for r in rows]
    return sorted(clean, key=lambda r: tuple((v is not None, v) for v in r))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _stage_fns():
    """Stage name -> (spark, upstream table) -> DataFrame."""
    from renard_spark.operators import tokenize
    from renard_spark.sources import ingest

    return {
        "documents": lambda s, d: ingest.normalize_documents(d),
        "tokens": lambda s, d: tokenize.tokens(d),
    }


class StagedRun:
    """The stage runner (`plans.stage`) over the query corpus, writing
    to a parquet catalog (`io.catalog`): a full run into a fresh workdir,
    then a resume from RESUME_FROM on the same workdir."""

    def __init__(self, work: str, docs_path: str):
        self.work = work
        self.docs_path = docs_path
        self.runs = 0

    def expected_rows(self, spark):
        """The last stage's table computed without the runner."""
        df = spark.read.parquet(self.docs_path)
        for fn in _stage_fns().values():
            df = fn(spark, df)
        return df.collect()

    def fresh_workdir(self) -> str:
        shutil.rmtree(self.work, ignore_errors=True)
        self.runs += 1
        return os.path.join(self.work, f"run{self.runs}")

    def run(self, spark, workdir: str, tracer, rerun_from=None):
        """One runner.run(); returns (rows of the last stage, stage
        functions called)."""
        from renard_spark.io.catalog import get_catalog
        from renard_spark.plans.stage import StageRunner

        runner = StageRunner(spark, get_catalog(spark, workdir), inputs={
            "documents_raw": spark.read.parquet(self.docs_path)})
        calls = []
        needs = "documents_raw"
        for name, fn in _stage_fns().items():
            runner.add(name, [needs], _stage_call(tracer, name, fn, calls))
            needs = name
        if tracer.enabled:
            cat = runner.catalog
            for method in ("write", "read"):
                setattr(cat, method, _catalog_call(tracer, getattr(cat,
                                                                   method)))
        with tracer.span("stage", detail=rerun_from or "full") as rec:
            rows = runner.run(rerun_from=rerun_from)[needs].collect()
            rec["rows"] = len(rows)
        return rows, len(calls)


def _stage_call(tracer, name: str, fn, calls: list):
    def call(spark, *deps):
        calls.append(name)
        if not tracer.enabled:
            return fn(spark, *deps)
        with tracer.span(STAGES[name], detail=name) as rec:
            return tracer.materialize(rec, fn(spark, *deps))

    return call


def _catalog_call(tracer, method):
    def call(name, *args, **kw):
        with tracer.span("catalog", detail=name):
            return method(name, *args, **kw)

    return call


class Query:
    check_ops = 0
    check_failed = 0

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "query")
        self.seed = seed
        self.staged = StagedRun(os.path.join(work, "stage"),
                                os.path.join(self.data, "documents.parquet"))
        # driver query -> its DuckDB oracle result
        self.oracle: dict = {}
        # op -> the (row count, hash) its checked executions returned
        self.expected: dict[str, tuple[int, int]] = {}

    def make_inputs(self, spark) -> None:
        write_inputs(self.data, self.seed)
        self.input_bytes = os.path.getsize(self.staged.docs_path)

    def prepare(self, spark) -> None:
        """Untimed: the DuckDB oracle result of every driver query of the
        mix, and the staged run's last table computed without the
        runner."""
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for table in ("documents", "embeddings"):
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for name in MIX:
                self.oracle[name] = con.execute(oracles[name]).fetchdf()
        finally:
            con.close()
        want = digest(self.staged.expected_rows(spark))
        for op in STAGE_OPS:
            self.expected[op] = want

    def _check(self, name: str, rows, columns) -> bool:
        """The first execution of a query must match its oracle; every
        later one the first one's digest."""
        if name not in self.expected:
            if not matches_oracle(rows, columns, self.oracle[name]):
                return False
            self.expected[name] = digest(rows)
        return digest(rows) == self.expected[name]

    def _staged_pass(self, spark, tracer) -> dict:
        """A full staged run then its resume: per op the wall time and
        result digest; the digest is taken outside the timed part."""
        workdir = self.staged.fresh_workdir()
        res = {}
        for op, rerun_from in zip(STAGE_OPS, (None, RESUME_FROM)):
            rows, calls = None, 0
            try:
                with Clock() as clock:
                    rows, calls = self.staged.run(spark, workdir, tracer,
                                                  rerun_from)
            except Exception as exc:  # a failed run is a failed op
                print(f"perfbench: {op} failed: {exc!r}", flush=True)
            res[op] = {"s": clock.wall, "cpu": clock.cpu, "calls": calls,
                       "digest": None if rows is None else digest(rows)}
            if op == "stage_full":
                res["stored_bytes"] = dir_bytes(workdir)
        return res

    def run_pass(self, spark, tracer) -> dict:
        """One round of the mix, in the mix's order: a seeded order would
        let the seed decide which queries run on a colder JIT. Each result
        is checked after its execution is timed."""
        import __spark_entry__ as entry

        queries = entry.queries()
        rec = {"ops": 0, "failed": 0, "latencies": [], "cpu": []}
        t_pass = time.perf_counter()
        for name in MIX:
            ok = False
            try:
                with Clock() as clock, tracer.span(MIX[name],
                                                   detail=name) as span:
                    df = queries[name](spark, self.data)
                    rows = df.collect()
                    span["rows"] = len(rows)
                ok = self._check(name, rows, df.columns)
            except Exception as exc:  # a failed query is a failed op
                print(f"perfbench: {name} failed: {exc!r}", flush=True)
            rec["latencies"].append(clock.wall)
            rec["cpu"].append(clock.cpu)
            rec["ops"] += 1
            rec["failed"] += not ok
        staged = self._staged_pass(spark, tracer)
        for op in STAGE_OPS:
            rec["latencies"].append(staged[op]["s"])
            rec["cpu"].append(staged[op]["cpu"])
            rec["ops"] += 1
            rec["failed"] += staged[op]["digest"] != self.expected.get(op)
        rec["pass_s"] = time.perf_counter() - t_pass
        rec["resume_s"] = staged["stage_resume"]["s"]
        rec["stored_bytes"] = staged["stored_bytes"]
        rec["resume_skip_ratio"] = 1 - staged["stage_resume"]["calls"] / len(
            STAGES)
        tracer.release()
        return rec

    def throughput(self, passes: list[dict], key: str) -> float:
        """Operations per second of the executions' `key` times
        ("latencies": wall, "cpu": CPU of the process tree)."""
        times = [x for p in passes for x in p[key]]
        return len(times) / sum(times)

    def _stage_medians(self, passes: list[dict]) -> tuple[float, float]:
        """Median resume seconds and catalog bytes per input byte."""
        return (statistics.median(p["resume_s"] for p in passes),
                statistics.median(p["stored_bytes"] for p in passes)
                / self.input_bytes)

    def report(self, passes: list[dict]) -> dict:
        ops = list(MIX) + STAGE_OPS
        resume_s, stored = self._stage_medians(passes)
        return {
            "docs": N_DOCS, "vectors": N_VECTORS,
            "op_s": {name: [p["latencies"][i] for p in passes]
                     for i, name in enumerate(ops)},
            "resume_s": resume_s, "stored_bytes_per_input_byte": stored,
        }

    def layer_extras(self, passes, traced, tracer) -> dict:
        n, jobs, stages = tracer.job_counts(set(MIX.values()))
        resume_s, stored = self._stage_medians(passes)
        return {"query.jobs_per_query": jobs / n,
                "query.stages_per_query": stages / n,
                "stage.resume_skip_ratio": traced["resume_skip_ratio"],
                "stage.resume_s": resume_s,
                "catalog.stored_bytes_per_input_byte": stored}
