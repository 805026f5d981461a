"""Quote detection + rule-based speaker attribution.

QuoteDetector (reference quote_detection.py:17-71) is a stateful
open/close scan over quote-mark tokens: an opening mark opens a quote
when none is open; ANY quote mark closes an open quote. The engine
filters the token stream to quote marks first (a tiny fraction of
tokens — JVM-side filter), then runs the alternating scan per doc in
one keyed Arrow-batch step (``utils.map_batches``).

Speaker attribution: the reference uses a neural scorer
(speaker_attribution.py:21-136, score>0.5 else None). The engine ships
a deterministic rule attributor with the same output shape: the
speaker is the character whose mention is nearest AFTER the quote end
within `max_gap` tokens (the '"..." said X' pattern), else nearest
BEFORE the start; ties and absences → NULL. Pure DataFrame joins.
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.utils import cached_model, map_batches

DEFAULT_QUOTE_PAIRS = [('"', '"'), ("``", "''"), ("«", "»"), ("“", "”")]


def detect_quotes(
    tokens_df: DataFrame, quote_pairs: list[tuple[str, str]] | None = None
) -> DataFrame:
    """→ quotes(doc_id, quote_id, start, end) with end exclusive
    (both quote-mark tokens included in [start, end)).

    Quote-mark rows (a tiny filtered fraction of tokens) are
    repartitioned+sorted by doc and scanned in ONE Python call per
    Arrow batch (one pass over plain lists, trailing doc carried) —
    not one Python call per document."""
    pairs = quote_pairs or DEFAULT_QUOTE_PAIRS
    opens = {p[0] for p in pairs}
    marks = opens | {p[1] for p in pairs}

    qtoks = tokens_df.filter(F.col("token").isin(list(marks))).select(
        "doc_id", "tok_idx", "token"
    )

    def step(batches):
        for batch in batches:
            # the alternating open/close scan
            rows = []
            recs = zip(batch["doc_id"], batch["tok_idx"], batch["token"])
            for doc_id, doc in groupby(recs, key=itemgetter(0)):
                open_start = None
                qid = 0
                for _, tok_idx, token in doc:
                    if open_start is None:
                        if token in opens:
                            open_start = tok_idx
                    else:
                        rows.append((doc_id, qid, open_start, tok_idx + 1))
                        qid += 1
                        open_start = None
            yield rows

    return map_batches(
        qtoks, step, "doc_id string, quote_id int, start int, end int",
        key="doc_id", sort_cols=("tok_idx",),
    )


# --------------------------------------------------------------------
# Model-shape speaker attribution (reference BertSpeakerDetector,
# speaker_attribution.py:21-136): per quote, a QUOTE_CTX_LEN-token
# context window, candidate speakers = characters mentioned inside it,
# each candidate represented by its SPEAKER_REPR_NB mentions closest to
# the quote; an injected scorer rates (quote, candidate) pairs and the
# argmax wins IF its score clears 0.5 (:119-124), else NULL. The neural
# scorer itself lives in the external grimbert package — here it is the
# injectable seam, so candidate construction is pure, tested logic.
# --------------------------------------------------------------------

QUOTE_CTX_LEN = 512  # reference speaker_attribution.py:24
SPEAKER_REPR_NB = 4  # reference speaker_attribution.py:25


def build_speaker_examples(
    n_tokens: int,
    quotes: list[tuple[int, int, int]],
    mentions: list[tuple[str, int, int]],
    ctx_len: int = QUOTE_CTX_LEN,
    repr_nb: int = SPEAKER_REPR_NB,
) -> list[tuple[int, str, list[tuple[int, int]]]]:
    """Candidate-speaker example construction.

    quotes: (quote_id, start, end); mentions: (char_id, start, end).
    The context window is ``ctx_len`` tokens centered on the quote,
    shifted (not shrunk) at document edges. Candidates are characters
    with ≥1 mention fully inside the window; each keeps its ``repr_nb``
    mentions nearest to the quote start (canonical distance/position
    tie-break). → [(quote_id, char_id, [(ms, me), ...])], sorted.
    """
    out = []
    for qid, qs, qe in sorted(quotes):
        center = (qs + qe) // 2
        lo = max(0, center - ctx_len // 2)
        hi = min(n_tokens, lo + ctx_len)
        lo = max(0, hi - ctx_len)
        cands: dict[str, list[tuple[int, int]]] = {}
        for cid, ms, me in mentions:
            if ms >= lo and me <= hi:
                cands.setdefault(cid, []).append((ms, me))
        for cid in sorted(cands):
            reps = sorted(
                cands[cid], key=lambda m: (abs(m[0] - qs), m)
            )[:repr_nb]
            out.append((qid, cid, sorted(reps)))
    return out


def model_speakers(
    doc_tokens_df: DataFrame,
    quotes_df: DataFrame,
    unified_mentions: DataFrame,
    scorer_factory,
    ctx_len: int = QUOTE_CTX_LEN,
    repr_nb: int = SPEAKER_REPR_NB,
    cache_key: str | None = None,
) -> DataFrame:
    """Model-backed speaker attribution, same output schema as
    ``attribute_speakers``: (doc_id, quote_id, start, end,
    speaker_char_id nullable, speaker_score).

    ``scorer_factory`` → scorer(batch) where each batch item is
    (tokens, (quote_start, quote_end), char_id, rep_spans) and the
    return is one float score per item; the per-quote argmax
    (score desc, char_id asc) is kept only when score > 0.5."""
    qa = quotes_df.groupBy("doc_id").agg(
        F.collect_list(F.struct("quote_id", "start", "end")).alias("_qs")
    )
    ma = unified_mentions.groupBy("doc_id").agg(
        F.collect_list(
            F.struct("char_id", "start_idx", "end_idx")
        ).alias("_ms")
    )
    assembled = (
        doc_tokens_df.select("doc_id", "tokens")
        .join(qa, "doc_id")
        .join(ma, "doc_id", "left")
    )

    def step(batches):
        scorer = cached_model("speaker", cache_key, scorer_factory)
        for batch in batches:
            rows = []
            for doc_id, tokens, qs, ms in zip(
                batch["doc_id"], batch["tokens"], batch["_qs"], batch["_ms"]
            ):
                quotes = [(q["quote_id"], q["start"], q["end"]) for q in qs]
                mentions = [
                    (m["char_id"], m["start_idx"], m["end_idx"])
                    for m in ms or []
                ]
                examples = build_speaker_examples(
                    len(tokens), quotes, mentions, ctx_len, repr_nb
                )
                bounds = {qid: (s, e) for qid, s, e in quotes}
                scores = scorer(
                    [
                        (tokens, bounds[qid], cid, reps)
                        for qid, cid, reps in examples
                    ]
                )
                best: dict[int, tuple[float, str]] = {}
                for (qid, cid, _), sc in zip(examples, scores):
                    cur = best.get(qid)
                    # argmax: score desc, char_id asc on ties
                    if cur is None or (-sc, cid) < (-cur[0], cur[1]):
                        best[qid] = (float(sc), cid)
                for qid, s, e in quotes:
                    sc, cid = best.get(qid, (None, None))
                    # kept only when the score clears 0.5
                    rows.append((doc_id, qid, s, e,
                                 cid if sc is not None and sc > 0.5 else None,
                                 sc))
            yield rows

    return map_batches(
        assembled, step,
        "doc_id string, quote_id int, start int, end int,"
        " speaker_char_id string, speaker_score double",
    )


def attribute_speakers(
    quotes_df: DataFrame,
    unified_mentions: DataFrame,
    max_gap: int = 5,
) -> DataFrame:
    """→ speakers(doc_id, quote_id, start, end, speaker_char_id nullable).

    Candidate joins are banded on the gap so they never degenerate:
      after-pattern: 0 ≤ mention.start − quote.end < max_gap
      before-pattern: 0 ≤ quote.start − mention.end < max_gap
    Preference: smallest gap after, then smallest gap before
    (canonical tie-break char_id).
    """
    m = unified_mentions.select(
        F.col("doc_id").alias("_d"),
        F.col("char_id").alias("_c"),
        F.col("start_idx").alias("_ms"),
        F.col("end_idx").alias("_me"),
    )
    q = quotes_df
    # ONE doc-equi join covers both patterns (a mention can never match
    # both: before implies _ms < start < end): the quotes subtree —
    # often an Arrow quote-scan — is referenced once here instead of
    # twice, and likewise the mention side.
    is_after = m["_ms"] >= q["end"]
    cands = q.join(
        m,
        (q["doc_id"] == m["_d"])
        & (
            ((m["_ms"] >= q["end"]) & (m["_ms"] < q["end"] + max_gap))
            | ((m["_me"] <= q["start"]) & (m["_me"] > q["start"] - max_gap))
        ),
    ).select(
        "doc_id", "quote_id", "start", "end",
        F.col("_c").alias("cand"),
        F.when(is_after, F.col("_ms") - q["end"])
        .otherwise(q["start"] - F.col("_me"))
        .alias("gap"),
        F.when(is_after, F.lit(0)).otherwise(F.lit(1)).alias("side"),
    )
    w = Window.partitionBy("doc_id", "quote_id").orderBy("side", "gap", "cand")
    # confidence mirrors the reference's thresholded scores
    # (speaker_attribution.py:119-124): prediction kept only when the
    # score clears 0.5 — the rule attributor scores by proximity.
    best = (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select(
            "doc_id",
            "quote_id",
            F.col("cand").alias("speaker_char_id"),
            (
                1.0
                - F.col("gap") / F.lit(2.0 * max_gap)
                - 0.2 * F.col("side")
            ).alias("speaker_score"),
        )
    )
    out = q.join(best, ["doc_id", "quote_id"], "left").select(
        "doc_id", "quote_id", "start", "end", "speaker_char_id",
        "speaker_score",
    )
    # score ≤ 0.5 → no prediction (reference keeps only score > 0.5)
    return out.withColumn(
        "speaker_char_id",
        F.when(F.col("speaker_score") > 0.5, F.col("speaker_char_id")),
    )
