"""Text-analysis operators for large-scale training-data pipelines.

All JVM-side (regexp + aggregates over exploded tokens) — no Python in
the hot path. Every function has an exact DuckDB-SQL twin (see
__spark_entry__.oracle_sql) because it only uses md5 / regexp /
arithmetic available in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renard_spark.operators.tokenize import TOKEN_RE

# compact English stopword list (public knowledge)
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "at", "is",
    "are", "was", "were", "be", "it", "this", "that", "with", "for",
    "as", "by", "from", "not", "but", "they", "he", "she", "you", "i",
]

# per-language function-word lists (public knowledge; highest-frequency
# closed-class words, chosen to minimize cross-language collisions)
STOPWORDS_BY_LANG: dict[str, list[str]] = {
    "en": STOPWORDS,
    # ASCII-heavy entries by frequency; TOKEN_RE is unicode-aware, so
    # accented function words WOULD match — these lists simply lead
    # with the highest-frequency unaccented forms
    "fr": [
        "le", "la", "les", "un", "une", "des", "et", "ou", "de", "du",
        "dans", "sur", "est", "sont", "il", "elle", "nous", "vous",
        "que", "qui", "ne", "pas", "au", "aux", "ce", "cette", "mais",
        "pour", "avec", "dont",
    ],
    "de": [
        "der", "die", "das", "ein", "eine", "und", "oder", "von", "zu",
        "im", "auf", "ist", "sind", "er", "sie", "wir", "ihr", "dass",
        "nicht", "aber", "mit", "dem", "den", "des", "war",
        "werden", "wird", "sich", "auch", "ich",
    ],
    "es": [
        "el", "los", "las", "uno", "unas", "unos", "y", "o", "en",
        "es", "son", "ella", "nosotros", "ellos", "no", "pero",
        "para", "con", "por", "se", "su", "sus", "este", "esta",
        "fue", "ser", "como", "cuando", "donde", "hay",
    ],
}

PUNCT_RE = r"[^A-Za-z0-9\s]"


def _toks(text_col: str = "text"):
    return F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0)


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        "doc_id", F.size(_toks(text_col)).cast("long").alias("n_tokens")
    )


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic doc-quality features + a composite score in [0,1]:
    length, mean token length, stopword ratio, punctuation ratio,
    repetition (1 − distinct/total tokens)."""
    t = docs.select("doc_id", F.col(text_col).alias("t"),
                    _toks(text_col).alias("tk"))
    lower = F.transform("tk", lambda x: F.lower(x))
    feats = t.select(
        "doc_id",
        F.length("t").cast("long").alias("n_chars"),
        F.size("tk").cast("long").alias("n_tokens"),
        (F.length("t") / F.greatest(F.size("tk"), F.lit(1))).alias("mean_tok_len"),
        (
            F.size(F.filter(lower, lambda x: x.isin(STOPWORDS)))
            / F.greatest(F.size("tk"), F.lit(1))
        ).alias("stopword_ratio"),
        (
            F.size(F.regexp_extract_all("t", F.lit(PUNCT_RE), 0))
            / F.greatest(F.length("t"), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(lower))
            / F.greatest(F.size("tk"), F.lit(1))
        ).alias("repetition_ratio"),
    )
    score = (
        F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0)) * 0.25
        + F.least(F.col("stopword_ratio") * 4, F.lit(1.0)) * 0.25
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 5, F.lit(1.0))) * 0.25
        + (F.lit(1.0) - F.col("repetition_ratio")) * 0.25
    )
    return feats.withColumn("quality_score", score)


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit heuristic language ID (english vs unknown) with a
    confidence score — the n-gram-free deterministic baseline."""
    t = docs.select("doc_id", _toks(text_col).alias("tk"))
    lower = F.transform("tk", lambda x: F.lower(x))
    score = F.size(F.filter(lower, lambda x: x.isin(STOPWORDS))) / F.greatest(
        F.size("tk"), F.lit(1)
    )
    return t.select(
        "doc_id",
        score.alias("en_score"),
        F.when(score >= 0.08, F.lit("en")).otherwise(F.lit("unknown")).alias(
            "lang_pred"
        ),
    )


def language_id_multi(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Multi-language function-word language ID: per-language stopword
    hit ratio, argmax with canonical alphabetical tie-break, 'unknown'
    when the best ratio < 0.08. One narrow projection (per-language
    array folds) — no shuffle, same shape as ``language_id``.
    → (doc_id, de_score, en_score, es_score, fr_score, lang_pred)."""
    t = docs.select("doc_id", _toks(text_col).alias("tk"))
    lower = F.transform("tk", lambda x: F.lower(x))
    langs = sorted(STOPWORDS_BY_LANG)
    scores = {
        lang: F.size(
            F.filter(lower, lambda x: x.isin(STOPWORDS_BY_LANG[lang]))
        )
        / F.greatest(F.size("tk"), F.lit(1))
        for lang in langs
    }
    out = t.select(
        "doc_id", *[scores[l].alias(f"{l}_score") for l in langs]
    )
    best = F.greatest(*[F.col(f"{l}_score") for l in langs])
    pred = F.when(best < 0.08, F.lit("unknown"))
    # alphabetical order ⇒ first language hitting the max wins ties —
    # the same when-chain order the oracle SQL uses
    for lang in langs:
        pred = pred.when(F.col(f"{lang}_score") == best, F.lit(lang))
    return out.select(
        "doc_id",
        *[F.round(f"{l}_score", 6).alias(f"{l}_score") for l in langs],
        pred.alias("lang_pred"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: raw md5 + normalized md5 (lowercased,
    whitespace-collapsed) — the exact-dedup keys."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(text_col).alias("fp"),
        F.md5(F.trim(norm)).alias("norm_fp"),
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 8, w: int = 4, text_col: str = "text"
) -> DataFrame:
    """MOSS winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03): hash every character k-gram of the whitespace-
    normalized lowercased text, slide a window of w consecutive hashes,
    select each window's minimum (rightmost position on hash ties),
    dedupe selections. Guarantee: two documents sharing any substring
    of length ≥ k + w − 1 share at least one fingerprint — the
    rolling-hash near-dup primitive plagiarism/boilerplate detectors
    build on.

    → (doc_id, pos, fp): 1-based char position of each selected k-gram
    and its 32-bit hash. Pure JVM — a higher-order k-gram transform +
    ONE window aggregate per doc; no UDF, no join, output is ~2/(w+1)
    of the k-gram count.
    """
    from pyspark.sql import Window

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    d = docs.select("doc_id", norm.alias("_t")).filter(
        F.length("_t") >= F.lit(k)
    )
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.length("_t") - k + 1),
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.col("_t").substr(i, F.lit(k))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("_p0", "h"),
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "h")
    n = Window.partitionBy("doc_id")
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("_ng", F.count(F.lit(1)).over(n))
        .withColumn(
            "_sel",
            F.min(
                F.struct(F.col("h"), (-F.col("pos")).alias("np"))
            ).over(win),
        )
        # only FULL windows of w hashes select fingerprints
        .filter(F.col("pos") <= F.col("_ng") - (w - 1))
        .select(
            "doc_id",
            (-F.col("_sel.np")).cast("long").alias("pos"),
            F.col("_sel.h").alias("fp"),
        )
        .distinct()
    )


# GPT-2-style BPE pre-tokenization (Radford et al. 2019, the public
# gpt2 regex simplified to the RE2/Java-common subset): contractions,
# letter runs with an optional leading space, digit runs, punctuation
# runs, residual whitespace. Token counts under this split approximate
# BPE tokenizer budgets far better than whitespace words do.
BPE_SPLIT_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+"
)


def bpe_token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, n_bpe_tokens, n_ws_tokens, bpe_per_word): pre-token
    count under the BPE split (whitespace-only runs excluded, matching
    how BPE folds the leading space into the next token) vs whitespace
    word count, and their ratio — the standard proxy for 'how many
    model tokens does this doc cost'. Narrow JVM regex, no shuffle."""
    pre = F.regexp_extract_all(text_col, F.lit(BPE_SPLIT_RE), 0)
    n_bpe = F.size(F.filter(pre, lambda t: F.trim(t) != ""))
    n_ws = F.size(F.split(F.trim(text_col), r"\s+"))
    return docs.select(
        "doc_id",
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_ws.cast("long").alias("n_ws_tokens"),
        F.round(
            n_bpe.cast("double") / F.greatest(n_ws, F.lit(1)).cast("double"),
            6,
        ).alias("bpe_per_word"),
    )


def winnow_near_dups(
    docs: DataFrame, k: int = 8, w: int = 4, min_shared: int = 2,
    max_bucket: int | None = None, text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by winnowing-fingerprint overlap — the MOSS
    match step: docs sharing ≥ min_shared selected fingerprints.
    The pair join is equi on the fingerprint value (never quadratic in
    corpus size); ``max_bucket`` caps boilerplate fingerprints shared
    by huge doc sets the same way the MinHash candidate join caps hot
    band buckets (left side limited to each fingerprint's first
    max_bucket docs by doc_id). → (doc_a, doc_b, shared_fps).
    """
    from pyspark.sql import Window

    # checkpoint: fps feeds BOTH join sides (and the cap window) — the
    # char-k-gram winnowing pass is the heaviest map stage here and
    # would otherwise execute once per consumer
    fps = (
        winnow_fingerprints(docs, k, w, text_col)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    left = fps
    if max_bucket is not None:
        wb = Window.partitionBy("fp").orderBy("doc_id")
        left = (
            fps.withColumn("_r", F.row_number().over(wb))
            .filter(F.col("_r") <= max_bucket)
            .drop("_r")
        )
    a = left.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), F.col("fp").alias("_f2"))
    return (
        a.join(b, (a["fp"] == b["_f2"]) & (a["doc_a"] < b["doc_b"]))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# PII patterns chosen for cross-engine parity: valid in BOTH Java
# regex (Spark) and RE2 (DuckDB) — no backreferences, no lookaround.
# Replacement order matters (emails inside URLs): URL first.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d() .-]{7,}\d", "<PHONE>"),
]


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction for training corpora: URLs, emails, IPv4s and
    international-format phone numbers replaced by typed tags, with
    per-kind match counts → (doc_id, scrubbed, n_url, n_email, n_ip,
    n_phone).

    One narrow JVM projection (chained regexp_replace + regexp_count);
    counts are measured on the same intermediate the replacement sees,
    so a URL-embedded email is counted as URL only — the replacement
    and the count can never disagree."""
    cur = F.col(text_col)
    counts = []
    for kind, pat, tag in PII_PATTERNS:
        counts.append(
            F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{kind}")
        )
        cur = F.regexp_replace(cur, pat, tag)
    return docs.select("doc_id", cur.alias("scrubbed"), *counts)


def repetition_stats(
    docs: DataFrame, text_col: str = "text", n: int = 2,
) -> DataFrame:
    """Gopher-style within-document repetition metrics over token
    n-grams → (doc_id, n_grams, top_gram_frac, dup_gram_frac).

    ``top_gram_frac`` is the occurrence share of the single most
    frequent n-gram; ``dup_gram_frac`` the share of occurrences whose
    n-gram appears more than once — the two repetition signals the
    Gopher filtering rules threshold on (Rae et al. 2021, table A1).
    Narrow n-gram construction (array slice fold), then one two-level
    aggregation keyed by doc. Documents with fewer than ``n`` tokens
    yield no row (they have no n-grams to measure)."""
    toks = docs.select("doc_id", _toks(text_col).alias("tk"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tk") >= n,
                F.expr(
                    f"transform(sequence(0, size(tk) - {n}), i -> "
                    f"concat_ws(' ', slice(tk, i + 1, {n})))"
                ),
            ).otherwise(F.expr("array()").cast("array<string>"))
        ).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_grams"),
        (F.max("c") / F.sum("c")).alias("top_gram_frac"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
            / F.sum("c")
        ).alias("dup_gram_frac"),
    )


def mixture_stats(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-slice mixture table → (grp, n_docs, n_tokens, doc_share,
    token_share) — the table a training run samples mixture weights
    from. One map-side-combined aggregation; the two corpus totals are
    a 2-scalar driver pull (same bounded-stats pattern as the
    sparsifier), never a global window."""
    per = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.size(F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0))
            .cast("long")
            .alias("_nt"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(F.sum("n_docs"), F.sum("n_tokens")).first()
    td, tt = int(tot[0] or 0), int(tot[1] or 0)
    return per.select(
        "grp", "n_docs", "n_tokens",
        (F.col("n_docs") / F.lit(max(td, 1))).alias("doc_share"),
        (F.col("n_tokens") / F.lit(max(tt, 1))).alias("token_share"),
    )


def length_band(
    docs: DataFrame, lo_p: float = 0.05, hi_p: float = 0.95,
    len_col: str = "n_chars",
) -> DataFrame:
    """Quality filter keeping documents inside the corpus's
    [lo_p, hi_p] length-percentile band (drops truncation stubs and
    concatenation monsters). The two interpolated percentiles are a
    2-scalar driver pull; the filter itself is narrow and pushes to
    the scan."""
    b = docs.agg(
        F.expr(f"percentile({len_col}, array({lo_p}, {hi_p}))").alias("b")
    ).first()["b"]
    lo, hi = float(b[0]), float(b[1])
    return docs.filter(
        (F.col(len_col) >= lo) & (F.col(len_col) <= hi)
    )


def boilerplate_lines(
    docs: DataFrame, min_docs: int = 2, text_col: str = "text",
    split_re: str = r"\n+",
) -> DataFrame:
    """The corpus's boilerplate unit set → (piece, n_docs): every
    non-empty split unit (line by default; pass a sentence regex for
    sentence units) that occurs in at least ``min_docs`` DISTINCT
    documents — cookie banners, license footers, nav chrome. One
    explode + one distinct-count aggregation keyed by the piece."""
    pieces = docs.select(
        "doc_id",
        F.explode(F.split(F.col(text_col), split_re)).alias("piece"),
    ).filter(F.trim("piece") != "")
    return (
        pieces.groupBy("piece")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    docs: DataFrame, min_docs: int = 2, text_col: str = "text",
    split_re: str = r"\n+", join_sep: str = " ",
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal → (doc_id,
    clean_text, n_kept, n_removed): drop every split unit that occurs
    in ≥ ``min_docs`` distinct documents, reassemble the rest in
    original order. The piece table joins the (small) boilerplate set
    with a left-anti equi-join; reassembly is one per-doc aggregation
    over the kept pieces. Documents whose every piece is boilerplate
    survive with an empty ``clean_text`` (the caller decides whether
    empty docs are then dropped)."""
    pieces = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), split_re)).alias(
            "_idx", "piece"
        ),
    ).filter(F.trim("piece") != "").localCheckpoint(eager=False)
    boiler = (
        pieces.groupBy("piece")
        .agg(F.countDistinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("piece")
    )
    flagged = pieces.join(
        boiler.withColumn("_is_boiler", F.lit(1)), "piece", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_is_boiler").isNull(),
                            F.struct("_idx", "piece"),
                        )
                    )
                ),
                lambda s: s["piece"],
            ),
            join_sep,
        ).alias("clean_text"),
        F.sum(
            F.when(F.col("_is_boiler").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_kept"),
        F.sum(F.coalesce("_is_boiler", F.lit(0))).cast("long").alias(
            "n_removed"
        ),
    )


def pack_assignments(
    docs: DataFrame, context_len: int, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contiguous sequence packing for training → (doc_id, n_tokens,
    stream_pos, pack_id, pack_pos): documents concatenated in a
    deterministic (md5-of-id, id) order into one token stream, cut
    every ``context_len`` tokens — the standard concatenate-and-chunk
    packing. stream_pos is the doc's first token's global position,
    pack_id/pack_pos its containing chunk and offset (a doc whose span
    crosses a cut simply continues into the next pack, as in training).
    The global stream position comes from the two-phase
    ``global_running_total`` — no single-partition window, shuffle cost
    one range partition of (doc_id, n_tokens, hash) rows."""
    from renard_spark.operators.tokenize import TOKEN_RE as _TOK
    from renard_spark.operators.utils import global_running_total

    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(text_col, F.lit(_TOK), 0))
        .cast("long")
        .alias("n_tokens"),
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8).alias("_h"),
    ).localCheckpoint(eager=False)
    out = global_running_total(
        d, "n_tokens", ["_h", "doc_id"], out_col="stream_pos"
    )
    return out.select(
        "doc_id", "n_tokens", "stream_pos",
        F.floor(F.col("stream_pos") / context_len).cast("long").alias(
            "pack_id"
        ),
        (F.col("stream_pos") % context_len).cast("long").alias("pack_pos"),
    )


def tfidf_topk(
    docs: DataFrame, k: int = 5, text_col: str = "text",
) -> DataFrame:
    """Top-k TF-IDF terms per document → (doc_id, term, score, rank).

    The classic corpus-keyword operator for training-data curation
    (topic tagging, per-domain vocabulary drift, filter debugging).
    term = lowercased word token (must start with a letter);
    score = tf * ln(N / df) with N = total documents, df = number of
    documents containing the term; rank by (score DESC, term ASC).

    Scale shape: tokenize is narrow; one (doc_id, term) count shuffle;
    one vocabulary-sized df aggregation joined back on the term key
    (shuffle join — the vocabulary is NOT broadcastable at corpus
    scale); one per-doc window for top-k. N is ONE driver-side scalar
    from a count-only job. The tf table is lineage-truncated because
    both the df aggregation and the score join consume it.
    """
    tf = (
        docs.select("doc_id", F.explode(_toks(text_col)).alias("tok"))
        .select("doc_id", F.lower("tok").alias("term"))
        .filter(F.col("term").rlike(r"^[a-z][a-z0-9_']*$"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    n_docs = docs.count()
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(df_t, "term").select(
        "doc_id", "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias(
            "score"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "score", "rank")
    )


def bigram_lm_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-trained add-one bigram-LM negative log-likelihood per
    document → (doc_id, n_bigrams, bigram_nll) — the CCNet-style
    language-model quality signal (low nll = head-like fluent text,
    high nll = tail/garbage), with the LM trained on the corpus itself
    in the same job.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), where c(w1·) counts
    bigrams starting with w1 and V = distinct token types occurring in
    any bigram; nll = mean over a document's bigrams of -ln P.

    Scale shape: bigrams come from one narrow array transform; ONE
    (doc, w1, w2) count shuffle produces the per-doc multiplicity table
    that everything else derives from (lineage-truncated — three
    consumers); bigram/unigram count tables are vocabulary²-bounded
    aggregates shuffle-joined back on their keys; V is ONE driver-side
    count scalar. No Python, no broadcast of data-sized tables.
    """
    tl = F.transform(_toks(text_col), lambda t: F.lower(t))
    big = (
        docs.select("doc_id", tl.alias("tl"))
        .filter(F.size("tl") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tl") - 2),
                    lambda i: F.struct(
                        F.element_at("tl", i + 1).alias("w1"),
                        F.element_at("tl", i + 2).alias("w2"),
                    ),
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("m"))
        .localCheckpoint(eager=False)
    )
    c2 = big.groupBy("w1", "w2").agg(F.sum("m").alias("c2"))
    c1 = big.groupBy("w1").agg(F.sum("m").alias("c1"))
    vocab = (
        big.select(F.col("w1").alias("w"))
        .union(big.select(F.col("w2").alias("w")))
        .distinct()
        .count()
    )
    inst = big.join(c2, ["w1", "w2"]).join(c1, "w1")
    nll = F.log(F.col("c1") + F.lit(float(vocab))) - F.log(F.col("c2") + 1.0)
    return inst.groupBy("doc_id").agg(
        F.sum("m").cast("long").alias("n_bigrams"),
        (F.sum(F.col("m") * nll) / F.sum("m")).alias("bigram_nll"),
    )


def mixture_weights(
    docs: DataFrame, alpha: float = 0.7,
    group_col: str = "source", text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled sampling weights per slice → (grp, n_tokens,
    token_share, weight): weight ∝ token_share^alpha, normalized to
    sum 1 — the standard multilingual/multi-source rebalancing rule
    (alpha < 1 upsamples tail slices). Built on ``mixture_stats``; the
    normalizer is one scalar over the slice-count-sized table."""
    per = mixture_stats(docs, group_col, text_col).localCheckpoint(
        eager=True
    )
    z = per.agg(
        F.sum(F.pow("token_share", F.lit(float(alpha))))
    ).first()[0]
    return per.select(
        "grp", "n_tokens", "token_share",
        (F.pow("token_share", F.lit(float(alpha))) / F.lit(float(z or 1.0)))
        .alias("weight"),
    )


def chunk_documents(
    docs: DataFrame, size: int = 100, stride: int = 80,
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking (the RAG / context-window
    prep op) → (doc_id, chunk_id, start_tok, n_tok, chunk_fp): chunk
    c starts at token c·stride and takes ``size`` tokens; every token
    position < n_tokens starts in some chunk, trailing chunks may be
    short, empty docs produce no chunks. chunk_fp is the md5 of the
    space-joined token slice — the dedup/lineage key for the chunk
    store. Entirely narrow (one array transform + explode per doc);
    no shuffle at all."""
    tl = _toks(text_col)
    starts = F.when(
        F.size(tl) >= 1,
        F.sequence(F.lit(0), F.size(tl) - 1, F.lit(int(stride))),
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select("doc_id", tl.alias("tl"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / int(stride)).cast("long").alias("chunk_id"),
            F.col("s").cast("long").alias("start_tok"),
            F.least(
                F.lit(int(size)), F.size("tl") - F.col("s")
            ).cast("long").alias("n_tok"),
            F.md5(
                F.array_join(F.slice("tl", F.col("s") + 1, int(size)), " ")
            ).alias("chunk_fp"),
        )
    )


def learn_bpe_merges(
    docs: DataFrame, n_merges: int = 10, text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn BPE merges on the corpus (the train-the-tokenizer op) →
    [(left, right, pair_freq), ...] in merge order.

    Sennrich-style byte-pair encoding over the WORD-FREQUENCY table:
    the corpus collapses to (word, freq) once (one shuffle of corpus
    tokens), then every merge round runs on the vocabulary-sized
    symbol table — one adjacent-pair explode + one count aggregation +
    one narrow left-to-right fold to apply the winning merge. The only
    driver-side row per round is the argmax pair (count DESC, pair
    ASC tie-break, deterministic). That is the production shape: at
    100 TB the corpus pass happens once and the training loop touches
    only the ~100M-row vocabulary.

    Words are lowercased alphabetic tokens; symbols start as single
    characters (no end-of-word marker — documented deviation, applied
    consistently in the pytest reference implementation).
    """
    words = (
        docs.select(F.explode(_toks(text_col)).alias("w"))
        .select(F.lower("w").alias("w"))
        .filter(F.col("w").rlike(r"^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(F.split("w", "").alias("syms"), "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = words.select(
            "freq",
            F.explode(
                F.when(
                    F.size("syms") >= 2,
                    F.transform(
                        F.sequence(F.lit(0), F.size("syms") - 2),
                        lambda i: F.struct(
                            F.element_at("syms", i + 1).alias("l"),
                            F.element_at("syms", i + 2).alias("r"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<l:string,r:string>>")
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((l, r, c))
        joined = l + r
        # left-to-right non-overlapping apply: the freshly merged token
        # is strictly longer than `l`, so it can never immediately
        # re-merge — the fold matches the sequential while-loop exactly
        words = words.select(
            F.aggregate(
                "syms",
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(l))
                    & (s == F.lit(r)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(joined)),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            ).alias("syms"),
            "freq",
            # lazy: materializes inside the NEXT round's pair-count job
            # (one job per round instead of two — the loop is driver-
            # latency-bound, the data is vocabulary-sized)
        ).localCheckpoint(eager=False)
    return merges


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    lowercase: bool = False,
    out_col: str = "norm_text",
) -> DataFrame:
    """Deterministic text normalization — the cleanup pass a training
    pipeline runs before dedup/quality so near-identical bytes hash
    identically: control chars stripped, curly quotes / long dashes /
    NBSP unified to ASCII, whitespace runs collapsed to one space,
    edges trimmed, optional lowercasing.

    Entirely JVM built-ins (translate + regexp_replace) — narrow, one
    scan, whole-stage-codegen'd; the 100 TB cost is the read itself.
    """
    c = F.col(text_col)
    # unicode punctuation first so its variants join the ASCII classes
    c = F.translate(
        c,
        "‘’“”–— ",
        "''\"\"-- ",
    )
    c = F.regexp_replace(c, r"[\x00-\x1F\x7F]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    return docs.withColumn(out_col, c)


def tfidf_related(
    docs: DataFrame,
    threshold: float = 0.05,
    max_df: int = 100,
    shingle_w: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Lexically related document pairs → (doc_a, doc_b, cosine): every
    pair whose TF-IDF cosine similarity is >= ``threshold``, doc_a <
    doc_b.

    The sparse complement of the embedding-based similarity family
    (similarity.py): no vectors needed — the inverted index IS the
    join key. Terms are ``shingle_w``-gram token shingles (lowercased,
    space-joined; w=1 degenerates to plain word terms) — shingles keep
    the index selective even on vocabulary-dense corpora, the same
    reason PPJoin (dedup.prefix_jaccard_pairs) shingles first. Weights
    tf·ln(N/df) are computed over the KEPT vocabulary (df-pruned
    first), norms over the same kept weights, so a pair's cosine is
    exactly the classic df-capped TF-IDF cosine.

    Scale shape: shingling is narrow; one (doc, term) count shuffle; a
    vocabulary-sized df aggregation prunes every term with df >
    ``max_df`` BEFORE the self-join — the posting-list cap that keeps
    the term self-join from going quadratic on boilerplate shingles.
    The cap is ABSOLUTE, not a corpus fraction: each surviving term
    contributes <= max_df² candidate pairs and bounds join skew by the
    same constant REGARDLESS of corpus size, so the candidate volume
    stays O(vocab · max_df²) — a fractional cap would let a 0.1%-df
    boilerplate shingle alone produce 10¹⁰ pairs at 10⁸ docs. (Pruning
    ultra-common shingles also loses nothing: their idf ≈ 0.) The
    weight table is lineage-truncated (three consumers: norms + both
    join sides). No broadcast of corpus-sized tables, no Python.
    """
    wsize = int(shingle_w)
    tl = docs.select(
        "doc_id",
        F.transform(_toks(text_col), lambda t: F.lower(t)).alias("tl"),
    )
    tf = (
        tl.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("tl") >= wsize,
                    F.transform(
                        F.sequence(F.lit(0), F.size("tl") - wsize),
                        lambda i: F.array_join(
                            F.slice("tl", i + 1, wsize), " "
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    n_docs = docs.count()
    dft = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= F.lit(int(max_df)))
    )
    w = (
        tf.join(dft, "term")
        .select(
            "doc_id",
            "term",
            (
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
            ).alias("w"),
        )
        .localCheckpoint(eager=False)
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def ccnet_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data", LREC 2020): within each language, documents sort by the
    corpus-trained bigram-LM nll (``bigram_lm_scores``) and split into
    ``n_buckets`` equal buckets — bucket 1 = head (most fluent), last =
    tail. → (doc_id, lang, bigram_nll, bucket_id); docs too short to
    score (< 2 tokens) are dropped, as CCNet drops unscorable docs.

    Scale shape: per-language ntile needs a per-language TOTAL ORDER —
    a ``Window.partitionBy(lang)`` funnels each language (terabytes at
    production scale) through one task, so the rank comes from the
    two-phase global rank instead (``global_running_total`` over
    (lang, nll, doc_id): range repartition → per-partition window →
    broadcast offsets). bucket_id = floor(rank·k/n)+1, which allocates
    identically to SQL ntile (first n%k buckets one larger) — pinned
    by test_ccnet_buckets_matches_ntile. The sort key uses the ROUNDED
    nll with doc_id tie-break so boundaries are reproducible
    cross-engine. Per-language offsets/counts are one tiny broadcast.
    """
    from renard_spark.operators.utils import global_running_total

    scores = bigram_lm_scores(docs, text_col)
    d = (
        docs.select("doc_id", F.col(lang_col).alias("lang"))
        .join(scores, "doc_id")
        .select(
            "doc_id", "lang", F.round("bigram_nll", 6).alias("nll6")
        )
        .withColumn("_one", F.lit(1))
        # deep lineage (LM training) — the range partitioner samples
        # its input, so truncate before ranking
        .localCheckpoint(eager=True)
    )
    ranked = global_running_total(
        d, "_one", ["lang", "nll6", "doc_id"], out_col="_grk"
    )
    base = ranked.groupBy("lang").agg(
        F.min("_grk").alias("_base"), F.count("*").alias("_n")
    )
    return (
        ranked.join(F.broadcast(base), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("nll6").alias("bigram_nll"),
            (
                F.floor(
                    (F.col("_grk") - F.col("_base"))
                    * F.lit(int(n_buckets))
                    / F.col("_n")
                )
                + 1
            ).cast("int").alias("bucket_id"),
        )
    )


def token_spectrum(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf frequency spectrum of the corpus vocabulary →
    (freq, n_types): for each corpus frequency f, how many distinct
    (lowercased) token types occur exactly f times. The
    frequency-of-frequencies table behind Good-Turing smoothing,
    tokenizer-vocab sizing ("how many types clear a min-count
    threshold"), and corpus-health checks (a boilerplate-heavy crawl
    bends the spectrum's tail visibly).

    Scale shape: two map-side-combined aggregations — token → count,
    then count → type count — over one narrow tokenize pass. No
    windows, no joins; the second groupBy's key space is tiny
    (O(distinct frequencies) ≈ thousands even at 10^12 docs).
    """
    tok = docs.select(
        F.explode(_toks(text_col)).alias("t")
    ).select(F.lower("t").alias("t"))
    freqs = tok.groupBy("t").agg(F.count(F.lit(1)).alias("freq"))
    return freqs.groupBy("freq").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )


def corpus_cube(
    docs: DataFrame,
    dims: tuple[str, str] = ("source", "lang"),
    size_col: str = "n_chars",
    all_label: str = "(all)",
) -> DataFrame:
    """Multi-dimensional corpus rollup → one row per CUBE cell of the
    two dims (every combination incl. per-dim subtotals and the grand
    total): doc count + total corpus bytes — the at-a-glance corpus
    composition table. ONE pass: CUBE compiles to Spark's Expand
    operator (each input row fans to its 4 cells map-side, partials
    combine before the single shuffle). Aggregated-out dims surface as
    ``all_label`` so cells are self-describing; callers with NULLs in
    a dim column should pre-coalesce them to a distinct sentinel.
    Sums are integral → exact on every engine.
    """
    a, b = dims
    return (
        docs.cube(a, b)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(size_col).cast("long").alias("sum_chars"),
        )
        .select(
            F.coalesce(F.col(a), F.lit(all_label)).alias(a),
            F.coalesce(F.col(b), F.lit(all_label)).alias(b),
            "n_docs",
            "sum_chars",
        )
    )


def readability_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade per document →
    (doc_id, n_sents, n_words, n_syll, flesch, fk_grade): the classic
    readability quality signals over the heuristic counts every
    implementation of these formulas actually uses — sentences as
    terminator runs ([.!?]+, floor 1), words as letter runs, syllables
    as vowel-group runs ([aeiouy]+) in the lowercased text. Entirely
    narrow regexp_extract_all arithmetic (the same RE2∩Java-safe
    classes as the PII chain), float math is two divisions of exact
    integer counts → engine-reproducible; scores rounded to 4 dp.
    """
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]+"), 0)),
        F.lit(1),
    ).cast("long")
    words = F.greatest(
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit("[A-Za-z]+"), 0)
        ),
        F.lit(1),
    ).cast("long")
    syll = F.greatest(
        F.size(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit("[aeiouy]+"), 0
            )
        ),
        F.lit(1),
    ).cast("long")
    wps = words.cast("double") / sents
    spw = syll.cast("double") / words
    return docs.select(
        "doc_id",
        sents.alias("n_sents"),
        words.alias("n_words"),
        syll.alias("n_syll"),
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
    )


def fuzzy_alias_pairs(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 4,
    max_dist: int = 1,
) -> DataFrame:
    """Typo/variant alias candidates over the corpus vocabulary →
    (a, b) word pairs (a < b) within Levenshtein distance
    ``max_dist`` — the lexical entity-canonicalization primitive next
    to the hypocorism gazetteer (which handles Beth↔Elizabeth; this
    handles Jonh↔John).

    Scale shape: NEVER an all-pairs distance join. Each vocabulary
    word (lowercased, ≥ min_len) is emitted under TWO blocking keys
    (2-char prefix, length) and (2-char prefix, length+1); two words
    within one edit and an unchanged 2-prefix are guaranteed to share
    a key, so the candidate set is a plain equi self-join on the block
    key, verified by the exact JVM ``levenshtein``. The documented
    recall limit (edits inside the first two characters are missed) is
    the standard prefix-blocking trade every at-scale fuzzy join makes;
    widen with a second pass on reversed words if needed.
    """
    from renard_spark.operators.tokenize import TOKEN_RE

    vocab = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)
            ).alias("w")
        )
        .select(F.lower("w").alias("w"))
        .filter(F.length("w") >= min_len)
        .distinct()
    )
    keyed = vocab.select(
        "w",
        F.substring("w", 1, 2).alias("pfx"),
        F.explode(
            F.array(F.length("w"), F.length("w") + 1)
        ).alias("lk"),
    )
    pairs = (
        keyed.alias("x")
        .join(
            keyed.alias("y"),
            (F.col("x.pfx") == F.col("y.pfx"))
            & (F.col("x.lk") == F.col("y.lk"))
            & (F.col("x.w") < F.col("y.w")),
        )
        .select(F.col("x.w").alias("a"), F.col("y.w").alias("b"))
        .distinct()
        .filter(F.levenshtein("a", "b") <= max_dist)
    )
    return pairs


def textrank_scores(
    docs: DataFrame,
    window: int = 3,
    damping: float = 0.85,
    iters: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document TextRank keyword scores (Mihalcea & Tarau,
    EMNLP 2004 — public algorithm): PageRank over each document's
    token co-occurrence graph (lowercased non-stopword tokens, edges
    between tokens within ``window`` positions, weight = co-occurrence
    count), ``iters`` fixed power-iteration rounds at ``damping``.

    The scale point is the SHAPE: the document id rides every key, so
    ONE bulk-synchronous job ranks the keywords of 10^9 per-document
    graphs simultaneously — no driver loop, no per-doc Python (the
    same scope-carried pattern as wl_refinement). Pair generation is
    array-local (narrow): each token's forward window partners come
    from one flatten(transform(...)) over the token array, never a
    positions self-join. The rounds are ``graph.pagerank``'s kernel
    (``graph._propagate``) keyed by the document and its node count.

    → (doc_id, token, score): every non-stopword token of every doc
    with >= 2 distinct tokens, score rounded to 6 dp (the engines'
    float sums agree well past that at per-doc graph sizes).
    Single-token docs have no graph and are absent — callers wanting
    them use a left join + coalesce.
    """
    from renard_spark.functions.graph import _propagate, _transitions

    sw = [w for ws in STOPWORDS_BY_LANG.values() for w in ws] + list(STOPWORDS)
    toked = docs.select(
        F.col(id_col).alias("_doc"),
        F.filter(
            F.transform(_toks(text_col), lambda t: F.lower(t)),
            lambda t: ~t.isin(*sw),
        ).alias("_tk"),
    )
    n = F.size("_tk")
    # forward-window pairs, generated inside the array (narrow):
    # (tok[i], tok[i+d]) for d in 1..window-1, canonical min/max order
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(window - 1), n - i)
                ),
                lambda d: F.struct(
                    F.least(
                        F.element_at("_tk", i.cast("int")),
                        F.element_at("_tk", (i + d).cast("int")),
                    ).alias("a"),
                    F.greatest(
                        F.element_at("_tk", i.cast("int")),
                        F.element_at("_tk", (i + d).cast("int")),
                    ).alias("b"),
                ),
            ),
        )
    )
    ed = (
        toked.filter(n >= 2)
        .select("_doc", F.explode(pairs).alias("_p"))
        .select("_doc", F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .groupBy("_doc", "a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    both = F.array(
        F.struct(F.col("a").alias("u"), F.col("b").alias("v"), F.col("w")),
        F.struct(F.col("b").alias("u"), F.col("a").alias("v"), F.col("w")),
    )
    sym = ed.select("_doc", F.explode(both).alias("e")).select(
        "_doc", "e.u", "e.v", "e.w"
    )
    # each document's node count N rides the edge list as a second
    # key, so every round's teleport term (1-d)/N needs no join
    nn = (
        sym.select("_doc", "u").distinct()
        .groupBy("_doc").agg(F.count(F.lit(1)).alias("_n"))
    )
    keys = ("_doc", "_n")
    e = _transitions(sym.join(nn, "_doc"), keys)
    x0 = (
        e.select(*keys, F.col("u").alias("node")).distinct()
        .withColumn("x", F.lit(1.0) / F.col("_n"))
    )
    pr = _propagate(e, x0, (1.0 - damping) / F.col("_n"), damping,
                    keys=keys, iters=iters)
    return pr.select(
        F.col("_doc").alias(id_col),
        F.col("node").alias("token"),
        F.round("x", 6).alias("score"),
    )
