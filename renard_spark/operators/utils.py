"""The engine's one Python crossing, and small dataflow utilities
from the reference's helper inventory.

- ``map_batches``: every per-batch Python step (NER, tokenization with
  offsets, quote scans, unification, co-occurrence, model inference,
  media decode, ...) crosses here: one ``mapInArrow`` over plain-list
  batches, optionally keyed so a batch holds complete groups, with
  output types taken from the declared schema. ``cached_model`` is the
  executor-local model cache the model-backed steps share.
- ``local_table``: a driver-side literal table (seed rows, lexicons,
  VALUES blocks) built as one typed Arrow table, planned as a
  ``LocalTableScan``: no Python task, no second worker pool.
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
from pyspark.sql.types import DataType, StructType


_PREDICT_CACHE: dict[tuple[str, str], object] = {}


def cached_model(namespace: str, cache_key: str | None, factory):
    """Executor-local model cache, namespaced per operator: the same
    caller-supplied ``cache_key`` (e.g. one shared model path) used by
    two different stages (NER vs speaker scorer vs reranker ...) must
    never return the other stage's callable, so the real key is
    ``(namespace, cache_key)``. Without a ``cache_key`` the factory
    runs on every call; a step calls this once per task, before its
    batch loop."""
    key = (namespace, cache_key)
    fn = _PREDICT_CACHE.get(key) if cache_key else None
    if fn is None:
        fn = factory()
        if cache_key:
            _PREDICT_CACHE[key] = fn
    return fn


class Batch(dict):
    """One Arrow record batch as plain Python lists: ``batch[name]`` is
    that column's ``to_pylist()``, converted on first use. ``arrow`` is
    the record batch itself, for a column a step passes through or
    reduces with Arrow compute instead of converting it."""

    def __init__(self, arrow):
        super().__init__()
        self.arrow = arrow

    def __missing__(self, name: str) -> list:
        col = self[name] = self.arrow.column(name).to_pylist()
        return col


def map_batches(
    df: DataFrame,
    step,
    schema: str | StructType,
    key: str | None = None,
    sort_cols: tuple[str, ...] = (),
    partitions: int | None = None,
) -> DataFrame:
    """The engine's one Python crossing: ``df``'s Arrow batches through
    ``mapInArrow``, one ``step`` call per task.

    ``step(batches)`` is a generator over the task's batches, each a
    :class:`Batch`; work before its loop (loading a model) runs once
    per task. It yields outputs in ``schema``'s columns: a list of row
    tuples, or a dict of columns (lists, numpy arrays or Arrow arrays).
    Each becomes a record batch of the Arrow types derived once, on the
    driver, from ``schema`` (a DDL string or ``StructType``):
    ``mapInArrow`` rejects a batch whose types differ from the schema,
    such as int64 Python ints for an ``int`` column, and an all-NULL or
    empty output column comes out typed.

    ``key``: per-key logic without one Python call per key (the grouped
    ``applyInPandas`` APIs cost ~10x the algorithm at 5k-document
    scale). ``df`` is repartitioned and sorted by ``key`` (then
    ``sort_cols``), and each batch the step sees holds complete
    key-groups: the trailing group of an Arrow batch is carried into
    the next batch of its partition, which the iterator delivers in
    order. ``partitions``: the repartition's count; None lets AQE
    coalesce it, which runs a mention-sized table as one or two
    tasks."""
    import pyarrow as pa

    struct, arrow_schema = _schemas(schema)

    def complete_groups(batches):
        import pyarrow.compute as pc

        pending = None
        for b in batches:
            if pending is not None:
                b = pa.Table.from_batches([pending, b]).combine_chunks() \
                    .to_batches()[0]
                pending = None
            if b.num_rows == 0:
                continue
            keys = b.column(key)
            # sorted ⇒ the trailing group starts at its key's first
            # row; a NULL key matches no row, so nothing is carried
            cut = pc.index(keys, keys[-1]).as_py()
            cut = b.num_rows if cut < 0 else cut
            if cut < b.num_rows:
                pending = b.slice(cut)
            if cut:
                yield b.slice(0, cut)
        if pending is not None:
            yield pending

    def run(batches):
        if key is not None:
            batches = complete_groups(batches)
        for out in step(Batch(b) for b in batches):
            yield _record_batch(out, arrow_schema)

    if key is not None:
        df = (df.repartition(partitions, key) if partitions
              else df.repartition(key)).sortWithinPartitions(key, *sort_cols)
    return df.mapInArrow(run, schema=struct)


def _schemas(schema: str | StructType):
    """(``StructType``, Arrow schema) of a DDL string or ``StructType``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    return struct, to_arrow_schema(struct)


def _record_batch(out, arrow_schema):
    """Row tuples, or a dict of columns, as one record batch of
    ``arrow_schema``'s types."""
    import pyarrow as pa

    if isinstance(out, dict):
        cols = [out[name] for name in arrow_schema.names]
    else:
        cols = list(zip(*out)) or [()] * len(arrow_schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def local_table(spark, rows, schema) -> DataFrame:
    """Driver-side row tuples as a DataFrame planned as a
    ``LocalTableScan``, typed by ``schema`` (a DDL string or
    ``StructType``; ints fill double columns) or, given column names,
    by the types ``spark.createDataFrame`` infers from the rows.

    ``spark.createDataFrame(<list>, ...)`` is a PythonRDD instead: each
    scan runs one Python task per default-parallelism slice, in a
    worker pool of its own (PySpark keys pools by worker environment,
    and the RDD runner's differs from the SQL runners')."""
    import pyarrow as pa

    rows = list(rows)
    if isinstance(schema, (list, tuple)):
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    struct, arrow_schema = _schemas(schema)
    table = pa.Table.from_batches([_record_batch(rows, arrow_schema)])
    return spark.createDataFrame(table, struct)


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
    off_df = local_table(spark, offsets, "_pid int, _off long")
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

    def step(batches):
        for batch in batches:
            rows = []
            for doc_id, blocks, cs, ti in zip(
                batch["doc_id"], batch["_blocks"], batch["_cs"], batch["_ti"]
            ):
                cs_arr = np.asarray(cs or [], dtype=np.int64)
                for blk in blocks:
                    if len(cs_arr) == 0:
                        s = e = 0
                    else:
                        i1, i2 = np.searchsorted(
                            cs_arr, (blk["char_start"], blk["char_end"]),
                            side="right",
                        ) - 1
                        s = ti[i1] if i1 >= 0 else 0
                        e = ti[i2] if i2 >= 0 else 0
                    rows.append((doc_id, blk["block_id"], s, e))
            yield rows

    return map_batches(
        joined, step, "doc_id string, block_id int, start int, end int"
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
