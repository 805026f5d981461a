"""Incremental document ingest — Structured Streaming → stage tables.

The reference has no streaming semantics (SURVEY §2.9); its "dynamic
networks" are positional batch windows. What *is* genuinely streaming
at 10^12-doc scale is ingest: new interleaved documents appended to the
input table should flow through the per-document pipeline without
recomputing the corpus. Because every KG stage is doc-local (tokens,
entities, unification, edges, triples are all keyed by doc_id), a
``foreachBatch`` append of each micro-batch's stage outputs is exactly
equivalent to a batch run over the union — no watermark or cross-batch
state is needed. Cross-document stages (the global entity table of
operators.unify_scale.unify_distributed) are periodic batch jobs over
the accumulated stage tables, not stream operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from renard_spark.corpus import DOCUMENTS_SCHEMA
from renard_spark.io.catalog import get_catalog


def stream_documents(
    spark: SparkSession, input_path: str, schema=DOCUMENTS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(input_path)


def write_batch_tables(
    catalog, out: dict[str, DataFrame], batch_id: int,
    tables: tuple[str, ...],
) -> None:
    """Idempotent per-batch sink: each table's micro-batch output goes
    to ``<table>/batch_id=N``. Committed partitions (``_SUCCESS``) are
    skipped; partially-written ones are overwritten — replaying a batch
    can never duplicate rows.

    Two sinks behind one dispatch:

    - ``ParquetCatalog``: ``<table>/batch_id=N`` directory per batch;
      the ``_SUCCESS`` probe is driver-local ``os.path`` — correct for
      local/NFS paths, not for HDFS/S3 URIs.
    - ``IcebergCatalog``: snapshot-based idempotence — DELETE the
      batch's rows then append with a ``batch_id`` column, both atomic
      snapshot commits (``IcebergCatalog.write_batch``).
    """
    from renard_spark.io.catalog import IcebergCatalog, ParquetCatalog

    if isinstance(catalog, IcebergCatalog):
        for name in tables:
            catalog.write_batch(name, out[name], batch_id)
        return
    if not isinstance(catalog, ParquetCatalog):
        raise NotImplementedError(
            f"no idempotent batch sink for {type(catalog).__name__}"
        )
    for name in tables:
        part = os.path.join(catalog.path(name), f"batch_id={batch_id}")
        if os.path.exists(os.path.join(part, "_SUCCESS")):
            continue
        out[name].write.mode("overwrite").parquet(part)


def run_incremental(
    stream_df: DataFrame,
    workdir: str,
    checkpoint: str,
    gazetteer: list[str] | None = None,
    dist: tuple[int, str] = (1, "sentences"),
    available_now: bool = True,
    tables: tuple[str, ...] = ("tokens", "entities", "unified_mentions",
                               "edges", "triples", "lineage"),
):
    """Start the incremental pipeline; returns the StreamingQuery.

    Each micro-batch runs the full doc-local pipeline and writes its
    stage outputs to a ``batch_id=N`` partition of each catalog table.
    The sink is **idempotent per batch**: a replayed micro-batch (batch
    failure mid-write, query restart) overwrites its own partition —
    and is skipped outright if the partition already committed
    (``_SUCCESS`` present) — so rows are never duplicated and the
    'equivalent to a batch run over the union' invariant holds under
    exactly-once replay. Readers see the extra ``batch_id`` partition
    column via discovery; row content matches the batch StageRunner
    tables.
    """
    from renard_spark.pipeline import character_graph_pipeline

    spark = stream_df.sparkSession
    catalog = get_catalog(spark, workdir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = character_graph_pipeline(
            batch_df, gazetteer=gazetteer, dist=dist, persist=False
        )
        write_batch_tables(catalog, out, batch_id, tables)

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
