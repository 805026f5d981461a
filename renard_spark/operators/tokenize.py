"""Tokenization stage — sentence split + word tokenize, JVM-side.

Replaces the reference's NLTKTokenizer (punkt + destructive word
tokenizer, /root/reference/renard/pipeline/tokenization.py:35-85) with a
deterministic regex tokenizer expressed entirely in built-in Spark SQL
functions: ``split`` (sentence boundaries), ``regexp_extract_all``
(tokens), an ordered array fold for global token indices and
``posexplode``. Whole-stage codegen end to end and zero shuffles: the
compact per-sentence table (``sentence_tokens``) is the stored token
stage, and the one-row-per-token table (``tokens_from_sentences``) is
one posexplode of it.

The char-offset variant (needed to convert char-addressed dynamic
blocks into token space, ref utils.py:120-134 charbb2tokenbb) is a
separate Arrow-batched UDF used only when blocks are given in chars.

Invariant mirrored from the reference tests
(tests/test_tokenization.py:20-26): tokens == flatten(sentences).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# word characters (incl. apostrophes) run, else any single non-space
# char. UNICODE-aware (\p{L}\p{N}) so accented / non-Latin text
# tokenizes like the reference's NLTK path ("José" is ONE token, not
# "Jos"+"é") — required for the reference's lang="fra" support.
# RE2-compatible (no lookaround) so the DuckDB oracle can run the same
# pattern via regexp_extract_all; Python's `re` lacks \p{} classes, so
# the driver-side twin uses TOKEN_RE_PY (\w is unicode in Python) —
# tri-engine equality is pinned by test_token_re_dialects_agree.
TOKEN_RE = r"[\p{L}\p{N}_']+|[^\p{L}\p{N}_'\s]"
TOKEN_RE_PY = r"[\w']+|[^\w'\s]"
# sentence boundary: after terminal punctuation, before whitespace.
# Java-regex lookbehind (Spark side); test-oracle replicates in pandas.
SENT_SPLIT_RE = r"(?<=[.!?])\s+"


def sentences(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, sent_idx, sentence) — empty pieces dropped, sentences
    numbered densely (matches tokenize_text_py)."""
    pieces = F.filter(
        F.split(F.col(text_col), SENT_SPLIT_RE), lambda s: F.trim(s) != ""
    )
    return df.select(
        "doc_id", F.posexplode(pieces).alias("sent_idx", "sentence")
    )


def sentence_token_arrays(text_col: str = "text") -> Column:
    """Per-document array<array<string>>: the tokens of each non-blank
    sentence, in order — the one tokenizer expression every tokenized
    form (``tokens``, ``sentence_tokens``, the one-crossing
    co-occurrence path) derives from."""
    pieces = F.filter(
        F.split(F.col(text_col), SENT_SPLIT_RE), lambda s: F.trim(s) != ""
    )
    return F.transform(
        pieces, lambda s: F.regexp_extract_all(s, F.lit(TOKEN_RE), 0)
    )


def _sentence_offsets(sent_toks: Column) -> Column:
    """Ordered fold → global start offset of each sentence."""
    return F.aggregate(
        sent_toks,
        F.struct(
            F.lit(0).alias("total"),
            F.expr("array()").cast("array<int>").alias("offs"),
        ),
        lambda acc, x: F.struct(
            (acc["total"] + F.size(x)).alias("total"),
            F.concat(acc["offs"], F.array(acc["total"])).alias("offs"),
        ),
        lambda acc: acc["offs"],
    )


def sentence_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Compact per-sentence form: (doc_id, sent_idx, sent_start,
    sent_end, toks array<string>) — the stored token stage, fully
    narrow (zero shuffles). sent_start/end are global token indices
    (end exclusive); per-sentence offsets come from one ordered fold
    over the sentence array."""
    sent_toks = sentence_token_arrays(text_col)
    offs = _sentence_offsets(sent_toks)
    return df.select(
        "doc_id",
        F.posexplode(F.arrays_zip(sent_toks, offs)).alias("sent_idx", "_z"),
    ).select(
        "doc_id",
        "sent_idx",
        F.col("_z.1").cast("int").alias("sent_start"),
        (F.col("_z.1") + F.size("_z.0")).cast("int").alias("sent_end"),
        F.col("_z.0").alias("toks"),
    )


def tokens_from_sentences(sent_tokens_df: DataFrame) -> DataFrame:
    """Token table: (doc_id, sent_idx, tok_idx, tok_in_sent, token) —
    one narrow posexplode of the compact per-sentence form, for the
    operators that read one row per token.

    tok_idx is the document-global token index (the reference's flat
    ``tokens`` list position, core.py:165-166).
    """
    return sent_tokens_df.select(
        "doc_id",
        "sent_idx",
        "sent_start",
        F.posexplode("toks").alias("tok_in_sent", "token"),
    ).select(
        "doc_id",
        "sent_idx",
        (F.col("sent_start") + F.col("tok_in_sent")).cast("int").alias("tok_idx"),
        "tok_in_sent",
        "token",
    )


def tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token table of a documents table: ``tokens_from_sentences`` over
    ``sentence_tokens`` — zero shuffles, so at 10^12 docs the token
    table needs no exchange until an operator actually groups it."""
    return tokens_from_sentences(sentence_tokens(df, text_col))


def doc_tokens(tokens_df: DataFrame) -> DataFrame:
    """Re-aggregate to one row per doc: (doc_id, tokens array, sent_starts).

    sent_starts[i] = global tok_idx of sentence i's first token — the
    compact form of the reference's ``sentences`` nested list, used by
    sentence-distance windows (searchsorted instead of O(chars) maps).
    """
    per_sent = tokens_df.groupBy("doc_id", "sent_idx").agg(
        F.min("tok_idx").alias("sent_start")
    )
    starts = per_sent.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("sent_idx", "sent_start"))).alias("_ss")
    )
    toks = tokens_df.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("tok_idx", "token"))).alias("_tt")
    )
    return toks.join(starts, "doc_id").select(
        "doc_id",
        F.transform("_tt", lambda s: s["token"]).alias("tokens"),
        F.transform("_ss", lambda s: s["sent_start"]).alias("sent_starts"),
    )


_TOKEN_PAT = re.compile(TOKEN_RE_PY)
_SENT_PAT = re.compile(SENT_SPLIT_RE)


def tokenize_text_py(text: str) -> tuple[list[str], list[int], list[tuple[int, int]]]:
    """Pure-Python twin of the Spark tokenizer (used by UDF stages and
    as the independent test oracle): returns (tokens, sent_idx per
    token, (char_start, char_end) per token)."""
    toks: list[str] = []
    sent_of: list[int] = []
    offsets: list[tuple[int, int]] = []
    pos = 0
    sent_i = 0
    pieces = _SENT_PAT.split(text)
    for piece in pieces:
        start = text.index(piece, pos) if piece else pos
        if piece.strip():
            for m in _TOKEN_PAT.finditer(piece):
                toks.append(m.group(0))
                sent_of.append(sent_i)
                offsets.append((start + m.start(), start + m.end()))
            sent_i += 1
        pos = start + len(piece)
    return toks, sent_of, offsets


def tokens_with_offsets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow-batched tokenizer emitting char offsets:
    (doc_id, sent_idx, tok_idx, token, char_start, char_end).
    Only needed when downstream blocks are char-addressed."""

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                tk, si, off = tokenize_text_py(text or "")
                for i, (t, s, (cs, ce)) in enumerate(zip(tk, si, off)):
                    rows.append((doc_id, s, i, t, cs, ce))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sent_idx", "tok_idx", "token",
                    "char_start", "char_end",
                ],
            )

    return df.select("doc_id", text_col).mapInPandas(
        run,
        schema=(
            "doc_id string, sent_idx int, tok_idx int, token string,"
            " char_start int, char_end int"
        ),
    )


def span_tokens(df: DataFrame) -> DataFrame:
    """Token table from the interleaved ``spans`` column, SPAN-parallel
    — the long-document skew fix (north_rule's "salted repartitioning
    to tame long-document skew", solved structurally): ``tokens()`` is
    narrow but row-at-a-time, so ONE giant document pins one task for
    its whole regexp pass no matter how the table is partitioned. Here
    every text span tokenizes independently (explode → per-span narrow
    pass over sentence-scale strings — a 1 GB document becomes
    thousands of distributable rows), and the document-global sentence
    and token indices are restored with ONE small shuffle: a per-doc
    window cumsum of (sentence count, token count) over span ordinals,
    where rows = spans, not tokens.

    Precondition (property-tested vs ``tokens()``): text-span
    boundaries fall BETWEEN sentences — the natural shape of
    interleaved documents, where media interrupts text at sentence
    breaks (corpus.gen_doc_spans guarantees it; a span-start leading
    space stays attached to its first sentence and is regexp-inert).
    Output == tokens(normalize_documents(df)) exactly, same schema.
    """
    spans = df.select(
        "doc_id",
        F.posexplode(
            F.filter("spans", lambda s: s["kind"] == F.lit("text"))
        ).alias("span_ord", "_s"),
    ).select("doc_id", "span_ord", F.col("_s.text").alias("_t"))
    # within-span sentence start offsets: the same ordered fold as
    # sentence_tokens(), materialized into _fold once per span so it
    # doesn't re-run per referencing expression
    per_span = spans.withColumn(
        "_st", sentence_token_arrays("_t")
    ).withColumn("_fold", F.aggregate(
        F.col("_st"),
        F.struct(
            F.lit(0).alias("total"),
            F.expr("array()").cast("array<int>").alias("offs"),
        ),
        lambda acc, x: F.struct(
            (acc["total"] + F.size(x)).alias("total"),
            F.concat(acc["offs"], F.array(acc["total"])).alias("offs"),
        ),
    )).select(
        "doc_id", "span_ord", "_st",
        F.col("_fold.offs").alias("_offs"),
        F.size("_st").alias("_nsent"),
        F.col("_fold.total").alias("_ntok"),
    )
    # per-doc global offsets: cumsum over PRECEDING spans — the only
    # shuffle, over span-count rows
    wp = (
        Window.partitionBy("doc_id")
        .orderBy("span_ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_span = per_span.withColumn(
        "_soff", F.coalesce(F.sum("_nsent").over(wp), F.lit(0))
    ).withColumn("_toff", F.coalesce(F.sum("_ntok").over(wp), F.lit(0)))
    return tokens_from_sentences(per_span.select(
        "doc_id",
        "_toff",
        "_soff",
        F.posexplode(F.arrays_zip("_st", "_offs")).alias("_i", "_z"),
    ).select(
        "doc_id",
        (F.col("_soff") + F.col("_i")).cast("int").alias("sent_idx"),
        (F.col("_toff") + F.col("_z._offs")).alias("sent_start"),
        F.col("_z._st").alias("toks"),
    ))
