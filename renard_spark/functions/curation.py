"""End-to-end training-corpus curation — the operators composed.

A real data pipeline never runs dedup / quality / decontamination /
splitting as separate ad-hoc jobs: one curation pass produces a
decision table (keep or drop, and why) plus the split assignment,
and downstream jobs filter on it. ``curate`` composes the engine's
proven operators into exactly that:

1. MinHash+LSH near-dup CLUSTERS over the training candidates
   (exact duplicates are jaccard-1.0 members of the same cluster, so
   a separate exact pass is redundant);
2. quality scoring (length / stopword / punctuation / repetition mix);
3. keep-best-of-cluster (highest quality survives, ties → smallest id);
4. GPT-3-style n-gram decontamination against the benchmark slice;
5. the final keep decision = cluster survivor AND quality ≥ min AND
   contamination < max;
6. deterministic train/val/test split labels (hash ranges — assigned
   to every row so the keep rule can change without re-splitting).

Every stage is one of the individually oracle-gated operators, and the
composite itself is SQL-expressible — the driver gates the WHOLE
decision table against DuckDB (q:curated_docs), so a regression in any
stage OR in the composition breaks the gate.

Scale shape: the expensive stages (shingling, band join, contamination
join) are the audited dedup/contamination plans; the composition adds
only doc-count-sized equi-joins on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renard_spark.plans.stage import Stage


def curate(
    docs: DataFrame,
    bench: DataFrame,
    *,
    shingle_w: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.2,
    contam_w: int = 5,
    quality_min: float = 0.55,
    contam_max: float = 0.3,
    split_fracs: dict[str, float] | None = None,
    split_salt: str = "curate:",
    normalize: bool = False,
) -> DataFrame:
    """→ (doc_id, cluster_id, keep_dedup, quality_score, contam_frac,
    keep, split) — one row per training-candidate document: the
    ``curated`` table of :func:`curation_stages`, composed lazily.

    Scores and fractions are rounded to 6 decimals BEFORE the argmax /
    threshold comparisons (both engines, same rule), so last-ulp float
    drift can neither flip a cluster survivor nor a threshold decision.

    ``normalize=True`` runs ``text.normalize_text`` over BOTH the
    training candidates and the benchmark slice first, so whitespace /
    unicode-punctuation variants of one document dedup and
    decontaminate as the same bytes.
    """
    from renard_spark import pipeline

    stages = curation_stages(
        shingle_w=shingle_w, num_hashes=num_hashes, bands=bands,
        jaccard_threshold=jaccard_threshold, contam_w=contam_w,
        quality_min=quality_min, contam_max=contam_max,
        split_fracs=split_fracs, split_salt=split_salt, normalize=normalize,
    )
    inputs = {"documents": docs, "benchmark": bench}
    return pipeline.compose(stages, inputs, persist=False)["curated"]


def curation_stages(
    *,
    shingle_w: int,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
    contam_w: int,
    quality_min: float,
    contam_max: float,
    split_fracs: dict[str, float] | None,
    split_salt: str,
    normalize: bool,
) -> list[Stage]:
    """The curation DAG over the inputs ``documents`` and ``benchmark``,
    in dependency order: (normalize →) near-dup pairs, quality,
    contamination → dedup decisions → ``curated``; the parameters are
    :func:`curate`'s. Each stage's config holds the parameters its fn
    reads."""
    from renard_spark.functions import contamination, dedup, text

    if split_fracs is None:
        split_fracs = {"train": 0.8, "val": 0.1, "test": 0.1}
    dedup_cfg = dict(
        w=shingle_w, num_hashes=num_hashes, bands=bands,
        threshold=jaccard_threshold,
    )
    stages = []
    doc_src, bench_src = "documents", "benchmark"
    if normalize:
        # normalization as stages of their own: the cleaned tables are
        # what every downstream stage (and a resumed run) reads
        doc_src, bench_src = "documents_norm", "benchmark_norm"
        stages += [
            Stage("documents_norm", ["documents"],
                  lambda sp, d: text.normalize_text(d, out_col="text")),
            Stage("benchmark_norm", ["benchmark"],
                  lambda sp, b: text.normalize_text(b, out_col="text")),
        ]
    return stages + [
        Stage(
            "near_dup_pairs", [doc_src],
            lambda sp, d: dedup.minhash_dedup(d, **dedup_cfg),
            dedup_cfg,
        ),
        Stage(
            "quality", [doc_src],
            lambda sp, d: text.quality_scores(d).select(
                "doc_id",
                F.round("quality_score", 6).alias("quality_score"),
            ),
        ),
        Stage(
            "contamination", [doc_src, bench_src],
            lambda sp, d, b: contamination.ngram_contamination(
                d, b, w=contam_w
            ).select("doc_id", F.round("frac", 6).alias("contam_frac")),
            {"w": contam_w},
        ),
        Stage(
            "dedup_decisions", [doc_src, "near_dup_pairs", "quality"],
            lambda sp, d, p, q: dedup.dedup_keep_best(d, p, q).select(
                "doc_id", "cluster_id",
                F.col("keep").cast("long").alias("keep_dedup"),
            ),
        ),
        Stage(
            "curated", ["dedup_decisions", "quality", "contamination"],
            lambda sp, kb, q, c: _decide(
                kb, q, c, quality_min, contam_max, split_fracs, split_salt
            ),
            {
                "quality_min": quality_min, "contam_max": contam_max,
                "split_fracs": split_fracs, "split_salt": split_salt,
            },
        ),
    ]


def _decide(
    kb: DataFrame, qual: DataFrame, contam: DataFrame,
    quality_min: float, contam_max: float,
    split_fracs: dict[str, float], split_salt: str,
) -> DataFrame:
    """The ``curated`` stage: doc-count-sized equi-joins + the keep
    predicate + split label."""
    from renard_spark.functions import sampling

    base = kb.join(qual, "doc_id").join(contam, "doc_id")
    decided = base.withColumn(
        "keep",
        (
            (F.col("keep_dedup") == 1)
            & (F.col("quality_score") >= quality_min)
            & (F.col("contam_frac") < contam_max)
        ).cast("long"),
    )
    return sampling.hash_split(decided, split_fracs, salt=split_salt).select(
        "doc_id", "cluster_id", "keep_dedup", "quality_score",
        "contam_frac", "keep", "split",
    )


def curation_pipeline(
    spark,
    docs: DataFrame,
    bench: DataFrame,
    workdir: str,
    *,
    shingle_w: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.2,
    contam_w: int = 5,
    quality_min: float = 0.55,
    contam_max: float = 0.3,
    split_fracs: dict[str, float] | None = None,
    split_salt: str = "curate:",
    normalize: bool = False,
    rerun_from: str | None = None,
    force: bool = False,
) -> dict[str, DataFrame]:
    """``curate`` as a CHECKPOINT-RESUMABLE staged pipeline: the same
    :func:`curation_stages` run by ``StageRunner``, each stage persisted
    to a catalog table with a manifest config-hash, so a restarted job
    (or one with only the thresholds changed) re-executes only the
    invalidated suffix — changing ``quality_min`` recomputes the cheap
    decision join, never the shingle/band stages. Each stage's row and
    document counts land in its manifest entry like every other staged
    run (``StageRunner.metrics``). Returns {stage: DataFrame}; the final table
    is ``curated`` (same schema as :func:`curate`)."""
    from renard_spark.io.catalog import get_catalog
    from renard_spark.plans.stage import StageRunner

    r = StageRunner(
        spark, get_catalog(spark, workdir),
        inputs={"documents": docs, "benchmark": bench},
    )
    r.stages = curation_stages(
        shingle_w=shingle_w, num_hashes=num_hashes, bands=bands,
        jaccard_threshold=jaccard_threshold, contam_w=contam_w,
        quality_min=quality_min, contam_max=contam_max,
        split_fracs=split_fracs, split_salt=split_salt, normalize=normalize,
    )
    return r.run(rerun_from=rerun_from, force=force)
