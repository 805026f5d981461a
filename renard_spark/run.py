"""Production entrypoint: the narrative DAG of ``pipeline`` run as
checkpoint-resumable stages.

``build_runner`` only chooses which stages of
``pipeline.narrative_stages`` run and into which catalog; the stage
list is the same one the lazy pipeline facades compose, and
``plans.stage.StageRunner`` is its materializing executor.

Deployment shape (north_rule): ``spark-submit --py-files renard_spark.zip
-m renard_spark.run`` on a multi-executor cluster; in the sandbox it
runs on local[N]. Every stage materializes to the catalog; interrupt it
anywhere and re-running resumes from the last finished stage
(``--rerun-from`` forces recomputation from a named stage, the analog
of the reference's Pipeline.rerun_from, core.py:737-780).

Usage:
    python -m renard_spark.run --workdir /tmp/kg --docs 1000
    python -m renard_spark.run --workdir /tmp/kg --rerun-from unified_mentions
    python -m renard_spark.run --workdir /tmp/kg --input /path/to/documents.parquet
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession

from renard_spark import corpus, pipeline
from renard_spark.io.catalog import get_catalog
from renard_spark.plans.stage import StageRunner
from renard_spark.sources import ingest

# the production stage set: rule coref chains, lexicon polarities on
# the edges, conversation edges at sentence distance 1
KG_STAGES = ("documents", "lineage", "sentence_tokens", "entities", "corefs",
             "unified_mentions", "characters", "polarities", "edges",
             "triples")
MEDIA_STAGES = ("token_offsets", "media_links")
SPEECH_STAGES = ("quotes", "speakers", "conversation_edges", "mention_edges")


def build_runner(
    spark: SparkSession,
    documents_df: DataFrame,
    workdir: str,
    gazetteer: list[str] | None = None,
    dist: tuple[int, str] = (1, "sentences"),
    min_appearances: int = 0,
    with_speech: bool = True,
    with_media: bool = True,
    kb_df: DataFrame | None = None,
    link_prior_weight: float = 0.4,
    kb_version: str = "v0",
) -> StageRunner:
    inputs = {"documents_raw": documents_df}
    names = list(KG_STAGES)
    if kb_df is not None:
        # KB entity linking: every alias-matching token links to its
        # best KB entity (NIL on ties)
        inputs["kb"] = kb_df
        names.append("entity_links")
    if with_media:
        names += MEDIA_STAGES
    if with_speech:
        names += SPEECH_STAGES
    stages = pipeline.narrative_stages(
        gazetteer, dist, min_appearances=min_appearances, corefs="rules",
        polarities="lexicon", conversation_dist=(1, "sentences"),
        link_prior_weight=link_prior_weight, kb_version=kb_version,
    )
    r = StageRunner(spark, get_catalog(spark, workdir), inputs=inputs)
    r.stages = pipeline.upstream(stages, names)
    return r


def main() -> None:
    from renard_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--docs", type=int, default=1000)
    ap.add_argument("--seed", type=int, default=13)
    ap.add_argument("--input", default=None,
                    help="parquet path of a documents table (else synthetic)")
    ap.add_argument("--rerun-from", default=None)
    ap.add_argument("--mode", choices=["kg", "curate"], default="kg",
                    help="kg: narrative-KG stages; curate: the "
                         "dedup+quality+decontamination decision table")
    ap.add_argument("--bench-input", default=None,
                    help="curate mode: parquet path of the benchmark "
                         "slice (else doc_id %% 10 == 0 of the input)")
    ap.add_argument("--normalize", action="store_true",
                    help="curate mode: normalize text (whitespace/"
                         "unicode cleanup) before dedup/quality/"
                         "decontamination")
    ap.add_argument("--kb", default=None,
                    help="kg mode: parquet path of a KB table "
                         "(entity_id, aliases, context, prior) — adds "
                         "the entity_links stage")
    ap.add_argument("--kb-version", default="v0",
                    help="bump when the --kb contents change so the "
                         "checkpointed entity_links stage recomputes")
    ap.add_argument("--export-shards", default=None,
                    help="curate mode: after curation, write the kept "
                         "train-split documents as md5-bucket shards + "
                         "checksummed manifest here, then verify them "
                         "(nonzero exit on any bad shard)")
    ap.add_argument("--n-shards", type=int, default=16)
    ap.add_argument("--export-graph", default=None,
                    help="kg mode: after the pipeline, write the "
                         "corpus KG bundle here (triples/edges/nodes "
                         "parquet + kg.nt + graph.gexf)")
    args = ap.parse_args()

    spark = get_spark("renard_spark_run")
    if args.input:
        docs = spark.read.parquet(args.input)
    else:
        docs = corpus.generate_documents(spark, args.docs, seed=args.seed)
    if args.mode == "curate":
        from pyspark.sql import functions as F

        from renard_spark.functions.curation import curation_pipeline

        # curation operates on text — assemble it from interleaved
        # spans (no-op for flat (doc_id, text) tables)
        docs = ingest.normalize_documents(docs).select("doc_id", "text")
        if args.bench_input:
            bench = ingest.normalize_documents(
                spark.read.parquet(args.bench_input)
            ).select("doc_id", "text")
            train = docs
        else:
            # deterministic 10% benchmark slice by id hash — works for
            # string and numeric ids alike
            from renard_spark.functions.sampling import hash_split

            lab = hash_split(
                docs, {"train": 0.9, "bench": 0.1}, salt="benchslice:",
                out_col="_slice",
            )
            train = lab.filter(F.col("_slice") == "train").drop("_slice")
            bench = lab.filter(F.col("_slice") == "bench").drop("_slice")
        out = curation_pipeline(
            spark, train, bench, args.workdir,
            normalize=args.normalize, rerun_from=args.rerun_from,
        )
        out["curated"].groupBy("keep", "split").count().orderBy(
            "keep", "split"
        ).show(10, truncate=False)
        if args.export_shards:
            from renard_spark.io import export as exportmod

            kept = (
                out["curated"]
                .filter((F.col("keep") == 1) & (F.col("split") == "train"))
                .select("doc_id")
                .join(train, "doc_id")
            )
            exportmod.write_corpus_shards(
                kept, args.export_shards, n_shards=args.n_shards
            )
            ver = exportmod.verify_corpus_shards(spark, args.export_shards)
            ver.orderBy("shard").show(args.n_shards, truncate=False)
            bad = ver.filter(~F.col("ok")).count()
            if bad:
                raise SystemExit(
                    f"export verification FAILED for {bad} shard(s)"
                )
            print(f"export verified: {ver.count()} shards ok")
        return
    kb = spark.read.parquet(args.kb) if args.kb else None
    runner = build_runner(
        spark, docs, args.workdir, kb_df=kb, kb_version=args.kb_version
    )
    out = runner.run(rerun_from=args.rerun_from)
    n = out["triples"].count()
    print(f"triples: {n}")
    # rows, distinct doc_ids and wall time of each stage's last write
    runner.metrics().show(50, truncate=False)
    if args.export_graph:
        from renard_spark.io.export import write_graph_tables

        counts = write_graph_tables(spark, out["triples"], args.export_graph)
        print(f"graph bundle: {counts}")


if __name__ == "__main__":
    main()
