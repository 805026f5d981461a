"""BM25 retrieval — distributed TF/IDF scoring + top-k.

The reference uses BM25 to retrieve global context sentences that
boost NER (ner/retrieval.py:149-163, torch.topk over an in-memory
index). The engine expresses the same scoring relationally: document
frequencies and lengths are aggregate tables, scoring is a broadcast
join from query terms to the postings, top-k is a window row_number —
the per-query torch.topk becomes `rank <= k` after one shuffle.

BM25(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))   (Okapi, as in rank_bm25)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.tokenize import TOKEN_RE
from renard_spark.operators.utils import cached_model, map_batches


def samenoun_context(
    entities_df: DataFrame,
    sent_tokens_df: DataFrame,
    k: int = 4,
) -> DataFrame:
    """Same-noun context retrieval (reference ner/retrieval.py:31-120
    family): for each (doc, sentence) containing a PER mention, fetch
    up to k OTHER sentences of the corpus containing the same surface
    form — the global context a context-aware NER would consume.

    → (doc_id, sent_idx, mention_str, ctx_doc_id, ctx_sent_idx, rank).
    Equi-join on the surface form; top-k by canonical order per
    (doc, sent, mention).
    """
    from pyspark.sql import Window

    sent_of = sent_tokens_df.select(
        F.col("doc_id").alias("_sd"),
        F.col("sent_idx").alias("_ss"),
        F.col("sent_start").alias("_a"),
        F.col("sent_end").alias("_b"),
    )
    ment = entities_df.join(
        sent_of,
        (entities_df["doc_id"] == F.col("_sd"))
        & (entities_df["start_idx"] >= F.col("_a"))
        & (entities_df["start_idx"] < F.col("_b")),
    ).select("doc_id", F.col("_ss").alias("sent_idx"), "mention_str")
    occ = ment.select(
        F.col("doc_id").alias("ctx_doc_id"),
        F.col("sent_idx").alias("ctx_sent_idx"),
        F.col("mention_str").alias("_m"),
    ).distinct()
    j = ment.join(
        occ,
        (ment["mention_str"] == occ["_m"])
        & (
            (ment["doc_id"] != occ["ctx_doc_id"])
            | (ment["sent_idx"] != occ["ctx_sent_idx"])
        ),
    )
    w = Window.partitionBy("doc_id", "sent_idx", "mention_str").orderBy(
        "ctx_doc_id", "ctx_sent_idx"
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "doc_id", "sent_idx", "mention_str",
            "ctx_doc_id", "ctx_sent_idx", "rank",
        )
    )


def neighbors_context(
    sentences_df: DataFrame, k: int = 4
) -> DataFrame:
    """Neighbors context retrieval (reference NERNeighborsContextRetriever,
    ner/retrieval.py:215-240): for each sentence, the k/2 preceding and
    k/2 following sentences of the same document.

    Replicates the reference's slicing edge case exactly: when
    element_i < k/2 the left slice ``elements[element_i - k/2 :
    element_i]`` wraps negative and yields NO left context (not a
    partial window), so early sentences get right context only.

    sentences_df: any table with (doc_id, sent_idx) — one row per
    sentence. → (doc_id, sent_idx, ctx_sent_idx, side).
    """
    assert k % 2 == 0, "k must be even (k/2 per side)"
    half = k // 2
    s = sentences_df.select("doc_id", "sent_idx").distinct()
    o = s.select(
        F.col("doc_id").alias("_d"), F.col("sent_idx").alias("ctx_sent_idx")
    )
    left = (
        (F.col("sent_idx") >= half)
        & (F.col("ctx_sent_idx") >= F.col("sent_idx") - half)
        & (F.col("ctx_sent_idx") < F.col("sent_idx"))
    )
    right = (
        (F.col("ctx_sent_idx") > F.col("sent_idx"))
        & (F.col("ctx_sent_idx") <= F.col("sent_idx") + half)
    )
    return (
        s.join(o, (s["doc_id"] == o["_d"]) & (left | right))
        .select(
            "doc_id", "sent_idx", "ctx_sent_idx",
            F.when(F.col("ctx_sent_idx") < F.col("sent_idx"), "left")
            .otherwise("right")
            .alias("side"),
        )
    )


def neural_rerank_context(
    matches: DataFrame,
    sent_tokens_df: DataFrame,
    scorer_factory,
    k: int = 3,
    threshold: float = 0.0,
    cache_key: str | None = None,
) -> DataFrame:
    """Neural context reranking (reference NERNeuralContextRetriever,
    ner/retrieval.py:212-341): heuristic matches are rescored by a
    classifier over (context ++ [SEP] ++ element) pairs; keep the top-k
    per element with score > threshold (:334-341).

    The classifier is the injected seam: ``scorer_factory`` → scorer(
    batch of (element_toks, ctx_toks, side)) → one P(relevant) float
    per pair (the reference's softmax class-1 score, :289-296).

    matches: (doc_id, sent_idx, ctx_doc_id, ctx_sent_idx[, side]);
    sent_tokens_df: (doc_id, sent_idx, toks). side is derived
    canonically ((doc, sent) order) when absent.
    → matches + (score, rank), rank ≤ k, score > threshold.
    """
    m = matches.select("doc_id", "sent_idx", "ctx_doc_id", "ctx_sent_idx")
    el = sent_tokens_df.select(
        F.col("doc_id"), F.col("sent_idx"), F.col("toks").alias("_el_toks")
    )
    cx = sent_tokens_df.select(
        F.col("doc_id").alias("ctx_doc_id"),
        F.col("sent_idx").alias("ctx_sent_idx"),
        F.col("toks").alias("_ctx_toks"),
    )
    j = (
        m.join(el, ["doc_id", "sent_idx"])
        .join(cx, ["ctx_doc_id", "ctx_sent_idx"])
        .withColumn(
            "side",
            F.when(
                F.struct("ctx_doc_id", "ctx_sent_idx")
                < F.struct("doc_id", "sent_idx"),
                "left",
            ).otherwise("right"),
        )
    )

    passed = ["doc_id", "sent_idx", "ctx_doc_id", "ctx_sent_idx", "side"]

    def step(batches):
        scorer = cached_model("reranker", cache_key, scorer_factory)
        for batch in batches:
            pairs = list(zip(batch["_el_toks"], batch["_ctx_toks"],
                             batch["side"]))
            scores = scorer(pairs) if pairs else []
            out = {c: batch.arrow.column(c) for c in passed}
            out["score"] = [float(s) for s in scores]
            yield out

    scored = map_batches(
        j, step,
        "doc_id string, sent_idx int, ctx_doc_id string,"
        " ctx_sent_idx int, side string, score double",
    )
    w = Window.partitionBy("doc_id", "sent_idx").orderBy(
        F.col("score").desc(), F.col("ctx_doc_id").asc(),
        F.col("ctx_sent_idx").asc(),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & (F.col("score") > threshold))
    )


def ensemble_context(matches: list[DataFrame], k: int = 4) -> DataFrame:
    """Ensemble context retrieval (reference NEREnsembleContextRetriever,
    ner/retrieval.py:343-375): union the member retrievers' matches,
    keep top-k per (doc, sentence) by score. Each member DataFrame:
    (doc_id, sent_idx, ctx_doc_id, ctx_sent_idx[, score]).

    Scoreless matches rank below scored ones in canonical
    (ctx_doc_id, ctx_sent_idx) order — a deterministic replacement for
    the reference's ``random.choices`` fallback (:374-375), which is
    seed-dependent and unreproducible by design.
    """
    def norm(df: DataFrame) -> DataFrame:
        if "score" not in df.columns:
            df = df.withColumn("score", F.lit(None).cast("double"))
        return df.select(
            "doc_id", "sent_idx", "ctx_doc_id", "ctx_sent_idx", "score"
        )

    u = norm(matches[0])
    for m in matches[1:]:
        u = u.unionByName(norm(m))
    # a match found by several retrievers keeps its best score
    u = u.groupBy("doc_id", "sent_idx", "ctx_doc_id", "ctx_sent_idx").agg(
        F.max("score").alias("score")
    )
    w = Window.partitionBy("doc_id", "sent_idx").orderBy(
        F.col("score").desc_nulls_last(),
        F.col("ctx_doc_id").asc(),
        F.col("ctx_sent_idx").asc(),
    )
    return (
        u.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bm25_index(docs: DataFrame, text_col: str = "text") -> dict[str, DataFrame]:
    """Build postings/doclen/df tables from (doc_id, text)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0)).alias("t"),
    ).select("doc_id", F.lower("t").alias("term"))
    postings = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return {"postings": postings, "doclen": doclen, "df": df_t}


def bm25_topk(
    index: dict[str, DataFrame],
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """queries: (query_id, term) exploded query terms →
    (query_id, doc_id, score, rank) with rank ≤ k."""
    postings, doclen, df_t = index["postings"], index["doclen"], index["df"]
    # corpus stats as a lazy 1-row aggregate crossed in (broadcast) —
    # no driver-side jobs at plan-construction time; the whole query
    # stays one lazy plan exactly like its DuckDB oracle twin.
    stats = doclen.agg(
        F.count(F.lit(1)).alias("_n_docs"), F.avg("dl").alias("_avgdl")
    )

    scored = (
        queries.join(F.broadcast(df_t), "term")
        .join(postings, "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0 + (F.col("_n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "s",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
