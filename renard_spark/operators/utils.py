"""Small dataflow utilities from the reference's helper inventory.

- ``make_vocab``: first-seen-order element→index map
  (/root/reference/renard/utils.py:137-152) as a window over first
  occurrence.
- ``search_pattern``: all start indices of an exact token subsequence
  (utils.py:68-79) as an array higher-order scan.
- ``get_character``: name lookup, exact then partial, case-insensitive
  (core.py:204-242).
- ``char_blocks_to_token_blocks``: char-addressed block bounds → token
  bounds via the reference's gap-filling char2token semantics
  (tokenization.py:10-32 + utils.py:120-134): chars before the first
  token map to token 0, inter-token gaps map to the token on the left,
  chars past the last token map to the last token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def map_in_pandas_by_key(
    df: DataFrame,
    process,
    schema: str,
    key: str = "doc_id",
    sort_cols: tuple[str, ...] = (),
    partitions: int | None = None,
) -> DataFrame:
    """Per-key imperative logic WITHOUT per-key Python calls: the
    per-group applyInPandas/cogroup APIs invoke Python once per GROUP —
    measured ~10× the algorithm cost at 5k-doc scale and the dominant
    constant at 10^12 docs. Instead: repartition+sort by ``key``, then
    ONE ``mapInPandas`` call per Arrow batch; ``process(pdf)`` receives
    a frame of complete key-groups (group rows are contiguous; the
    trailing group of each batch is carried into the next batch of the
    same partition, which the iterator delivers in order).
    ``partitions``: the repartition's count; None lets AQE coalesce it,
    which runs a mention-sized table as one or two tasks."""
    import pandas as pd

    def run(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if pdf.empty:
                continue
            last = pdf[key].iloc[-1]
            mask = pdf[key] == last
            pending = pdf[mask]
            work = pdf[~mask]
            if not work.empty:
                yield process(work)
        if pending is not None and not pending.empty:
            yield process(pending)

    part = (df.repartition(partitions, key) if partitions
            else df.repartition(key)).sortWithinPartitions(key, *sort_cols)
    return part.mapInPandas(run, schema=schema)


def global_running_total(
    df: DataFrame, value_col: str, order_cols: list[str],
    out_col: str = "_cum",
) -> DataFrame:
    """EXCLUSIVE global running total of ``value_col`` in
    ``order_cols`` order — the scalable replacement for an
    empty-partitionBy window (which funnels the whole table through
    ONE partition): range-repartition by the order key, per-partition
    exclusive window sum, then add per-partition offsets computed from
    the tiny one-row-per-partition totals table (collected to the
    driver, broadcast-joined back). Every data-sized stage is
    parallel; the only driver-side bytes are #partitions rows.

    The input must already be checkpoint-cheap to evaluate twice-ish:
    the range partitioner runs a sampling pass, so callers with deep
    lineage should localCheckpoint before calling (make_vocab does)."""
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    # range partitioner ⇒ partition i holds strictly smaller order keys
    # than partition i+1; pid is then materialized (localCheckpoint) so
    # the totals job and the cumsum job see identical placement
    parted = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = sorted(
        (r["_pid"], r["t"])
        for r in parted.groupBy("_pid")
        .agg(F.sum(value_col).alias("t"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, t in totals:
        offsets.append((pid, acc))
        acc += int(t or 0)
    if not offsets:
        return df.withColumn(out_col, F.lit(0).cast("long")).limit(0)
    off_df = spark.createDataFrame(offsets, "_pid int, _off long")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        parted.withColumn(
            "_within", F.coalesce(F.sum(value_col).over(w), F.lit(0))
        )
        .join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_within")).cast("long"))
        .drop("_pid", "_off", "_within")
    )


def make_vocab(df: DataFrame, col: str, order_col: str) -> DataFrame:
    """(value, vocab_id) in first-appearance order of ``order_col``.

    Two-phase global rank via ``global_running_total`` of a constant 1
    — NOT a single-partition window (a corpus-scope vocab is 100M+
    distinct tokens at production scale)."""
    # checkpoint BEFORE the helper: its range partitioner samples the
    # input, which would otherwise re-execute the whole upstream
    # lineage (tokenize + groupBy) a second time
    firsts = (
        df.groupBy(col)
        .agg(F.min(order_col).alias("_first"))
        .withColumn("_one", F.lit(1))
        .localCheckpoint(eager=True)
    )
    ranked = global_running_total(
        firsts, "_one", ["_first", col], out_col="vocab_id"
    )
    return ranked.select(
        F.col(col).alias("value"),
        F.col("vocab_id").cast("int").alias("vocab_id"),
    )


def search_pattern(tokens_col, pattern: list[str]):
    """Column expr: array of 0-based start indices where ``pattern``
    occurs as a contiguous subsequence of the token array."""
    n = len(pattern)
    pat = F.array(*[F.lit(p) for p in pattern])
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(tokens_col) - n + 1, F.lit(0))),
            lambda i: F.when(F.slice(tokens_col, i, n) == pat, i - 1).otherwise(
                F.lit(None)
            ),
        ),
        lambda x: x.isNotNull(),
    )


def get_character(characters_df: DataFrame, name: str) -> DataFrame:
    """Exact (case-insensitive) name match first; fall back to
    substring match — reference PipelineState.get_character."""
    lowered = F.transform("names", lambda n: F.lower(n))
    exact = characters_df.filter(
        F.array_contains(lowered, name.lower())
    )
    partial = characters_df.filter(
        F.exists(lowered, lambda n: n.contains(name.lower()))
    )
    return exact if exact.take(1) else partial


def char_blocks_to_token_blocks(
    blocks_df: DataFrame, offsets_df: DataFrame
) -> DataFrame:
    """blocks (doc_id, block_id, char_start, char_end) ×
    offsets (doc_id, tok_idx, char_start, char_end) →
    (doc_id, block_id, start, end) in token indices.

    token for a char position = last token starting at/before it, else
    token 0 — found by numpy ``searchsorted`` over the doc's sorted
    token starts inside one Arrow batch. The old inequality join
    fanned out O(blocks × tokens) rows per doc (the heaviest plan in
    the repo for chapter-level blocks on book-length docs); this path
    is one doc_id equi-join + O(B log T) lookups, bounded fanout.
    """
    import numpy as np
    import pandas as pd

    toks = offsets_df.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("char_start", "tok_idx"))
        ).alias("_toks")
    ).select(
        "doc_id",
        F.col("_toks.char_start").alias("_cs"),
        F.col("_toks.tok_idx").alias("_ti"),
    )
    b = blocks_df.distinct().groupBy("doc_id").agg(
        F.collect_list(
            F.struct("block_id", "char_start", "char_end")
        ).alias("_blocks")
    )
    joined = b.join(toks, "doc_id", "left")

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, blocks, cs, ti in zip(
                pdf["doc_id"], pdf["_blocks"], pdf["_cs"], pdf["_ti"]
            ):
                cs_arr = np.asarray(
                    cs if cs is not None else [], dtype=np.int64
                )
                ti_arr = np.asarray(
                    ti if ti is not None else [], dtype=np.int64
                )
                for blk in blocks:
                    if len(cs_arr) == 0:
                        s = e = 0
                    else:
                        i1 = int(
                            np.searchsorted(
                                cs_arr, blk["char_start"], side="right"
                            )
                        ) - 1
                        i2 = int(
                            np.searchsorted(
                                cs_arr, blk["char_end"], side="right"
                            )
                        ) - 1
                        s = int(ti_arr[i1]) if i1 >= 0 else 0
                        e = int(ti_arr[i2]) if i2 >= 0 else 0
                    rows.append((doc_id, int(blk["block_id"]), s, e))
            yield pd.DataFrame(
                rows, columns=["doc_id", "block_id", "start", "end"]
            )

    return joined.mapInPandas(
        run, schema="doc_id string, block_id int, start int, end int"
    )


def spans(seq, max_len: int) -> list[tuple]:
    """All contiguous sub-spans up to ``max_len``, smallest first —
    exact parity with the reference helper (utils.py:9-26) INCLUDING
    its quirk that span lengths stop at ``min(len(seq), max_len+1)-1``,
    so the full-sequence span is never emitted when
    ``len(seq) <= max_len``."""
    out = []
    for i in range(1, min(len(seq), max_len + 1)):
        for j in range(len(seq) - i + 1):
            out.append(tuple(seq[j:j + i]))
    return out


def spans_indexs(seq, max_len: int) -> list[tuple[int, int]]:
    """(start, end) inclusive index pairs for :func:`spans`
    (reference utils.py:29-36), same length quirk."""
    idx = []
    for i in range(1, min(len(seq), max_len + 1)):
        for j in range(len(seq) - i + 1):
            idx.append((j, j + i - 1))
    return idx


def span_candidates(
    docs: DataFrame, max_len: int = 3, text_col: str = "text",
) -> DataFrame:
    """DataFrame form of :func:`spans`: every token sub-span up to
    ``max_len`` per document — the candidate-mention enumeration a
    span-scoring coref model consumes →
    (doc_id, start_idx, end_idx, span_text).

    Narrow higher-order fold (no shuffle): valid lengths are filtered
    from a constant ascending sequence, reproducing the reference's
    ``range(1, min(len, max_len+1))`` bound exactly (a document of one
    token yields no spans, like the reference)."""
    from renard_spark.operators.tokenize import TOKEN_RE

    tk = F.regexp_extract_all(text_col, F.lit(TOKEN_RE), 0)
    body = (
        f"flatten(transform(filter(sequence(1, {max_len}),"
        " L -> L < size(_tk)), L ->"
        " transform(sequence(0, size(_tk) - L), j ->"
        " struct(j AS start_idx, j + L - 1 AS end_idx,"
        " concat_ws(' ', slice(_tk, j + 1, L)) AS span_text))))"
    )
    return (
        docs.select("doc_id", tk.alias("_tk"))
        .select("doc_id", F.explode(F.expr(body)).alias("s"))
        .select("doc_id", "s.start_idx", "s.end_idx", "s.span_text")
    )


def mention_contexts(
    mentions_df: DataFrame,
    doc_tokens_df: DataFrame,
    w: int = 5,
    tokens_col: str = "tokens",
) -> DataFrame:
    """±w-token context snippets around each mention — the
    distant-supervision example extractor (engine addition; the
    training-data op that turns KG mentions into NER/linking training
    examples at corpus scale).

    ``mentions_df``: (doc_id, start_idx, end_idx, ...passthrough).
    ``doc_tokens_df``: (doc_id, ``tokens_col`` array<string>) — e.g.
    ``tokenize.doc_tokens``. ONE doc-equi join; the snippet is sliced
    in the SAME projection, so only ≤(mention+2w)-token snippets (not
    whole documents) survive past the join into any later shuffle.
    → input mention columns + (ctx_start, snippet)."""
    left = F.greatest(F.col("start_idx") - w, F.lit(0))
    right = F.least(F.col("end_idx") + w, F.size(tokens_col))
    j = mentions_df.join(
        doc_tokens_df.select("doc_id", tokens_col), "doc_id"
    )
    return j.select(
        *mentions_df.columns,
        left.alias("ctx_start"),
        F.array_join(
            F.slice(F.col(tokens_col), left + 1, right - left), " "
        ).alias("snippet"),
    )
