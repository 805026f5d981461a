r"""Tokenization stage — sentence split + word tokenize.

Replaces the reference's NLTKTokenizer (punkt + destructive word
tokenizer, /root/reference/renard/pipeline/tokenization.py:35-85) with a
deterministic regex tokenizer, written in two dialects that give the
same sentences and tokens on every text:

* JVM (``sentence_token_arrays``): built-in Spark SQL functions only —
  ``split`` (sentence boundaries), ``regexp_extract_all`` (tokens), an
  ordered array fold for global token indices and ``posexplode``. Zero
  shuffles: the compact per-sentence table (``sentence_tokens``) is the
  stored token stage, and the one-row-per-token table
  (``tokens_from_sentences``) is one posexplode of it.
* Python (``sentence_tokens_py``, ``tokenize_text_py``): the same
  patterns in Python's ``re`` with Java's semantics spelled out. Java's
  ``\s`` is the six ASCII whitespace characters ``[ \t\n\x0b\f\r]``
  (Python's is Unicode-wide), and Spark's ``trim`` strips spaces only.
  It serves the one-crossing co-occurrence path
  (``cooccur.cooccurrence_edges_grouped``) and the char-offset
  tokenizer (``tokens_with_offsets``, needed to convert char-addressed
  blocks into token space, ref utils.py:120-134 charbb2tokenbb).

``tests/test_tokenize.py::test_python_tokenizer_equals_jvm`` pins the
two dialects equal over seeded adversarial texts.

Invariant mirrored from the reference tests
(tests/test_tokenization.py:20-26): tokens == flatten(sentences).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.utils import map_batches

# word characters (incl. apostrophes) run, else any single non-space
# char. UNICODE-aware (\p{L}\p{N}) so accented / non-Latin text
# tokenizes like the reference's NLTK path ("José" is ONE token, not
# "Jos"+"é") — required for the reference's lang="fra" support.
# RE2-compatible (no lookaround) so the DuckDB oracle can run the same
# pattern via regexp_extract_all; Python's `re` lacks \p{} classes, so
# the Python twin uses TOKEN_RE_PY (Python's \w is exactly
# [\p{L}\p{N}_]) — tri-engine equality is pinned by
# test_token_re_dialects_agree.
TOKEN_RE = r"[\p{L}\p{N}_']+|[^\p{L}\p{N}_'\s]"
# sentence boundary: after terminal punctuation, before whitespace.
# Java-regex lookbehind (Spark side).
SENT_SPLIT_RE = r"(?<=[.!?])\s+"
# the Python dialect: Java's \s, spelled out
_JAVA_SPACE = r" \t\n\x0b\f\r"
TOKEN_RE_PY = rf"[\w']+|[^\w'{_JAVA_SPACE}]"
SENT_SPLIT_RE_PY = rf"(?<=[.!?])[{_JAVA_SPACE}]+"


def sentence_token_arrays(text_col: str = "text") -> Column:
    """Per-document array<array<string>>: the tokens of each non-blank
    sentence, in order — the JVM dialect, which the stored token stage
    (``sentence_tokens``) and ``span_tokens`` derive from."""
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
_SENT_PAT = re.compile(SENT_SPLIT_RE_PY)
_NON_SPACE = re.compile("[^ ]")


def _sentence_bounds(text: str) -> list[tuple[int, int]]:
    """(char_start, char_end) of each sentence of ``text``: the pieces
    between sentence breaks that hold a non-space character (Spark's
    ``trim`` strips spaces only, so a tab-only piece is a sentence with
    no tokens)."""
    bounds, pos = [], 0
    for m in _SENT_PAT.finditer(text):
        bounds.append((pos, m.start()))
        pos = m.end()
    bounds.append((pos, len(text)))
    return [(a, b) for a, b in bounds if _NON_SPACE.search(text, a, b)]


def sentence_tokens_py(text: str) -> list[list[str]]:
    """The tokens of each sentence of ``text``, in order — the Python
    dialect of ``sentence_token_arrays``."""
    findall = _TOKEN_PAT.findall
    return [findall(text, a, b) for a, b in _sentence_bounds(text)]


def tokenize_text_py(text: str) -> tuple[list[str], list[int], list[tuple[int, int]]]:
    """Python-dialect tokenizer with char offsets: returns (tokens,
    sent_idx per token, (char_start, char_end) per token)."""
    toks: list[str] = []
    sent_of: list[int] = []
    offsets: list[tuple[int, int]] = []
    for sent_i, (a, b) in enumerate(_sentence_bounds(text)):
        for m in _TOKEN_PAT.finditer(text, a, b):
            toks.append(m.group(0))
            sent_of.append(sent_i)
            offsets.append(m.span())
    return toks, sent_of, offsets


def tokens_with_offsets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Arrow-batched tokenizer emitting char offsets:
    (doc_id, sent_idx, tok_idx, token, char_start, char_end).
    Only needed when downstream blocks are char-addressed."""

    def step(batches):
        for batch in batches:
            rows = []
            for doc_id, text in zip(batch["doc_id"], batch[text_col]):
                tk, si, off = tokenize_text_py(text or "")
                for i, (t, s, (cs, ce)) in enumerate(zip(tk, si, off)):
                    rows.append((doc_id, s, i, t, cs, ce))
            yield rows

    return map_batches(
        df.select("doc_id", text_col), step,
        "doc_id string, sent_idx int, tok_idx int, token string,"
        " char_start int, char_end int",
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
