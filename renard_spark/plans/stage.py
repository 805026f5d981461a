"""Stage registry and the materializing executor: dataflow validation,
checkpointed materialization, resume, per-stage counters.

A ``Stage`` is (name, needs, fn, config). The narrative DAG is one
ordered list of them (``pipeline.narrative_stages``) with two
executors: the lazy composer behind the pipeline facades
(``pipeline.compose``) and ``StageRunner`` here, the analog of the
reference's pipeline framework:
- ``check_valid`` — needs/production dataflow check before running
  (reference core.py:643-693), here against the set of materialized /
  to-be-produced table names;
- stage boundary = a persisted catalog table + a manifest entry with a
  config hash (reference ``rerun_from``, core.py:737-780: the engine
  resumes from the last stage whose manifest entry is still valid);
  ``config`` holds every parameter the stage fn reads, so changing one
  recomputes the stage and everything downstream;
- per-stage counters: the write job itself counts the stage's rows and
  (approximately) its distinct ``doc_id``s through ``DataFrame.observe``,
  stored in the manifest entry next to ``wall_ms``; no job reads the
  table back to count it.

No driver-side document loops anywhere: a "stage" is one DataFrame
expression; the runner only sequences materializations.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from renard_spark.io.catalog import ParquetCatalog
from renard_spark.operators.utils import local_table


@dataclass
class Stage:
    name: str
    needs: list[str]
    fn: Callable[..., DataFrame]  # (spark, catalog-tables...) -> DataFrame
    config: dict = field(default_factory=dict)

    def config_hash(self) -> str:
        payload = json.dumps(
            {"name": self.name, "needs": self.needs, "config": self.config},
            sort_keys=True,
        )
        return hashlib.md5(payload.encode()).hexdigest()


class StageRunner:
    def __init__(self, spark: SparkSession, catalog: ParquetCatalog,
                 inputs: dict[str, DataFrame] | None = None):
        self.spark = spark
        self.catalog = catalog
        self.inputs = inputs or {}
        self.stages: list[Stage] = []

    # -- registry ---------------------------------------------------
    def add(self, name: str, needs: list[str], fn: Callable,
            config: dict | None = None) -> None:
        self.stages.append(Stage(name, list(needs), fn, config or {}))

    def check_valid(self) -> None:
        """Dataflow check: every stage's needs must be produced by an
        earlier stage or supplied as an input (reference check_valid,
        core.py:643-693)."""
        available = set(self.inputs)
        for st in self.stages:
            missing = [n for n in st.needs if n not in available]
            if missing:
                raise ValueError(
                    f"stage '{st.name}' needs {missing}; available: "
                    f"{sorted(available)}"
                )
            available.add(st.name)

    # -- manifest ---------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.catalog.root, "_manifest.json")

    def _load_manifest(self) -> dict:
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                return json.load(f)
        return {}

    def _save_manifest(self, m: dict) -> None:
        with open(self._manifest_path, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)

    # -- execution --------------------------------------------------
    def _resolve(self, name: str) -> DataFrame:
        if self.catalog.exists(name):
            return self.catalog.read(name)
        if name in self.inputs:
            return self.inputs[name]
        raise KeyError(name)

    def run(self, rerun_from: str | None = None,
            force: bool = False,
            ignored_stages: set[str] | None = None) -> dict[str, DataFrame]:
        """Materialize every stage in order. A stage is SKIPPED (read
        from its checkpoint) when its table exists and its manifest
        config-hash matches — unless it appears at/after ``rerun_from``
        or ``force``. ``ignored_stages`` drops stages entirely (the
        reference's ignored_steps, core.py:608-641) — downstream stages
        must not need them (check_valid enforces it). Returns
        {stage: DataFrame(read back)}."""
        if ignored_stages:
            self.stages = [s for s in self.stages if s.name not in ignored_stages]
        self.check_valid()
        manifest = self._load_manifest()
        out: dict[str, DataFrame] = {}
        invalidated = force
        for st in self.stages:
            if rerun_from is not None and st.name == rerun_from:
                invalidated = True
            h = st.config_hash()
            entry = manifest.get(st.name)
            fresh = (
                not invalidated
                and entry is not None
                and entry.get("config_hash") == h
                and self.catalog.exists(st.name)
            )
            if fresh:
                out[st.name] = self.catalog.read(st.name)
                continue
            # stale stage invalidates everything downstream
            invalidated = True
            deps = [out[n] if n in out else self._resolve(n) for n in st.needs]
            t0 = time.perf_counter()
            df = st.fn(self.spark, *deps)
            # the write job counts the stage: no job reads it back
            counts = Observation()
            aggs = [F.count(F.lit(1)).alias("rows")]
            if "doc_id" in df.columns:
                aggs.append(F.approx_count_distinct("doc_id").alias("docs"))
            df = df.observe(counts, *aggs)
            # bucketed-by-doc layout (Iceberg bucket(doc_id) analog):
            # downstream per-doc stages co-locate on read
            if "doc_id" in df.columns:
                self.catalog.write(
                    st.name, df, bucket_by="doc_id",
                    num_buckets=self.spark.sparkContext.defaultParallelism,
                )
            else:
                self.catalog.write(st.name, df)
            wall_ms = (time.perf_counter() - t0) * 1000
            seen = counts.get
            manifest[st.name] = {
                "config_hash": h,
                "wall_ms": round(wall_ms, 1),
                "finished_at": time.time(),
                "rows": seen["rows"],
                "docs": seen.get("docs"),
            }
            self._save_manifest(manifest)
            out[st.name] = self.catalog.read(st.name)
        return out

    def metrics(self) -> DataFrame:
        """(stage, rows, docs, wall_ms) of every stage in the manifest,
        from its last materialization; ``docs`` is NULL for a stage
        without ``doc_id``."""
        return local_table(
            self.spark,
            [(name, e.get("rows"), e.get("docs"), e["wall_ms"])
             for name, e in sorted(self._load_manifest().items())],
            "stage string, rows long, docs long, wall_ms double",
        )

