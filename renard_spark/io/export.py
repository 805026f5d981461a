"""Curated-corpus export sink: deterministic sharding + checksummed
manifest.

The delivery end of a training-data pipeline: after curation
(dedup / quality / mixing) the corpus ships as a fixed number of
self-describing shards that a downstream trainer can consume and
VERIFY. Engine addition — the reference's only bulk sinks are graph
exports (GEXF, graph_utils.py); a 100 TB corpus needs a data sink with
integrity metadata.

Design for scale:
- shard = md5 bucket of doc_id — deterministic and partition-layout
  independent, so re-running the export (resume, backfill) assigns
  every document to the SAME shard; no global sort, no sequential ids.
- the write is ONE pass: ``partitionBy("shard")`` parquet write, each
  shard parallel across executors.
- the manifest is ONE map-side-combinable aggregation over the same
  pass's input: per-shard doc count, byte count, and an ORDER-
  INSENSITIVE content checksum (bit_xor of per-doc 64-bit md5
  prefixes) — verifiable by any engine without re-sorting the shard.
- verification (``verify_corpus_shards``) recomputes the same
  aggregates from the written files and compares — the reader-side
  integrity gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from renard_spark.operators.utils import local_table

MANIFEST_DIR = "_manifest"


def _shard_col(n_shards: int, id_col: str = "doc_id"):
    # first 8 hex digits of md5(doc_id) → uniform 32-bit int → mod
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(int(n_shards)),
    ).cast("int")


def _content_xor(text_col: str = "text"):
    # order-insensitive 63-bit checksum: XOR of per-doc md5 prefixes
    # (15 hex digits = 60 bits, safely inside a signed long)
    return F.expr(
        f"bit_xor(cast(conv(substring(md5(coalesce({text_col}, '')),"
        " 1, 15), 16, 10) as bigint))"
    ).cast("long")


def shard_manifest(
    docs: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(shard, n_docs, n_bytes, content_xor) — the integrity manifest
    of a sharded export, computable from either side of the write."""
    return (
        docs.withColumn("shard", _shard_col(n_shards, id_col))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(F.coalesce(text_col, F.lit("")))).cast(
                "long"
            ).alias("n_bytes"),
            _content_xor(text_col).alias("content_xor"),
        )
    )


def write_corpus_shards(
    docs: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Write ``docs`` as ``n_shards`` hash shards under ``path`` plus a
    checksummed manifest; returns the manifest DataFrame.

    Idempotent: overwrite mode + deterministic shard assignment means a
    re-run reproduces byte-identical shard MEMBERSHIP (parquet file
    layout may differ; the manifest checksums are layout-independent).
    """
    sharded = docs.withColumn("shard", _shard_col(n_shards, id_col))
    sharded.write.mode("overwrite").partitionBy("shard").parquet(path)
    spark = docs.sparkSession
    # manifest from the WRITTEN files (not the input plan): what
    # landed is what gets checksummed. Explicit schema: an EMPTY
    # corpus writes no shard dirs, and schema inference would fail
    # on the bare _SUCCESS marker — an empty export is a valid export
    # (empty manifest, verify passes vacuously).
    written = spark.read.schema(sharded.schema).parquet(path)
    manifest = (
        written.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(F.coalesce(text_col, F.lit("")))).cast(
                "long"
            ).alias("n_bytes"),
            _content_xor(text_col).alias("content_xor"),
        )
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, MANIFEST_DIR)
    )
    return spark.read.parquet(os.path.join(path, MANIFEST_DIR))


def verify_corpus_shards(
    spark: SparkSession, path: str, text_col: str = "text"
) -> DataFrame:
    """Reader-side integrity gate: recompute every shard's aggregates
    from the shard files and full-outer-join against the stored
    manifest. → (shard, ok, n_docs, n_docs_expected, content_xor,
    content_xor_expected); a missing / corrupted / extra shard shows
    as ok = false."""
    stored = (
        spark.read.parquet(os.path.join(path, MANIFEST_DIR))
        .select(
            "shard",
            F.col("n_docs").alias("n_docs_expected"),
            F.col("n_bytes").alias("n_bytes_expected"),
            F.col("content_xor").alias("content_xor_expected"),
        )
    )
    try:
        actual = (
            spark.read.parquet(path)
            .groupBy("shard")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.length(F.coalesce(text_col, F.lit("")))).cast(
                    "long"
                ).alias("n_bytes"),
                _content_xor(text_col).alias("content_xor"),
            )
        )
    except Exception:
        # an empty export wrote no shard dirs — nothing to aggregate;
        # verification degenerates to "manifest must be empty too"
        actual = local_table(
            spark, [],
            "shard int, n_docs long, n_bytes long, content_xor long",
        )
    joined = actual.join(stored, "shard", "full_outer")
    ok = (
        (F.col("n_docs") == F.col("n_docs_expected"))
        & (F.col("n_bytes") == F.col("n_bytes_expected"))
        & (F.col("content_xor") == F.col("content_xor_expected"))
    )
    return joined.select(
        "shard",
        F.coalesce(ok, F.lit(False)).alias("ok"),
        "n_docs", "n_docs_expected",
        "n_bytes", "n_bytes_expected",
        "content_xor", "content_xor_expected",
    )


def write_graph_tables(
    spark: SparkSession,
    triples_df: DataFrame,
    path: str,
) -> dict[str, int]:
    """Materialize the corpus knowledge graph as its delivery bundle
    (the "Iceberg graph tables" sink of the north star, expressed as
    parquet dirs + interchange files):

    - ``triples/``  — the per-document evidence table as-is
    - ``edges/``    — corpus-level (subj, pred, obj) with total weight
      + distinct-document support (one map-side-combined aggregation)
    - ``nodes/``    — distinct entities with degree + total strength
    - ``kg.nt``     — N-Triples interchange (io/ntriples)
    - ``graph.gexf``— Gephi interchange of the weighted graph

    Returns row counts per table so callers (CLI, tests) can verify
    the bundle without re-reading the inputs. Everything before the
    two bounded interchange files is executor-side parquet writes.
    """
    import os

    from renard_spark.io.gexf import edges_to_gexf
    from renard_spark.io.ntriples import triples_to_ntriples, write_ntriples

    os.makedirs(path, exist_ok=True)
    triples_df.write.mode("overwrite").parquet(os.path.join(path, "triples"))
    tr = spark.read.parquet(os.path.join(path, "triples"))

    edges = tr.groupBy("subj", "pred", "obj").agg(
        F.sum("weight").cast("long").alias("weight"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )
    edges.write.mode("overwrite").parquet(os.path.join(path, "edges"))
    ed = spark.read.parquet(os.path.join(path, "edges"))

    ends = ed.select(
        F.col("subj").alias("char_id"), "weight"
    ).unionByName(ed.select(F.col("obj").alias("char_id"), "weight"))
    nodes = ends.groupBy("char_id").agg(
        F.count(F.lit(1)).cast("long").alias("degree"),
        F.sum("weight").cast("long").alias("strength"),
    )
    nodes.write.mode("overwrite").parquet(os.path.join(path, "nodes"))
    nd = spark.read.parquet(os.path.join(path, "nodes"))

    write_ntriples(
        triples_to_ntriples(ed), os.path.join(path, "kg.nt")
    )
    edges_to_gexf(
        nd,
        ed.select(
            F.col("subj").alias("src"), F.col("obj").alias("dst"), "weight"
        ),
        os.path.join(path, "graph.gexf"),
    )
    return {
        "triples": tr.count(),
        "edges": ed.count(),
        "nodes": nd.count(),
    }
