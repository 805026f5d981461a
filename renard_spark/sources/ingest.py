"""Document ingestion: interleaved span normalization + lineage.

Input shape (BASELINE.json input_hint):
    documents(doc_id, spans: array<struct<kind,text,media_ref,offset>>)
Interleaved ``kind='text'`` spans carry the narrative; media spans
(image/audio/...) are opaque and must be carried through untouched —
the per-row invariant is span-sequence equality on
(kind, text, media_ref, order).

The DataFrame functions here are built-in-function only (JVM-side):
no Python UDFs touch the ingest path. ``join_text_spans`` is the span
join's Arrow twin, for code that already runs on an Arrow batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """→ (doc_id, spans, text): text = concatenation of text spans in
    array order. Accepts either the interleaved-spans shape or a flat
    (doc_id, text) table (wrapped as a single text span).
    """
    if "spans" in df.columns:
        text = F.array_join(
            F.transform(
                F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                lambda s: s["text"],
            ),
            "",
        )
        return df.withColumn(text_col, text)
    spans = F.array(
        F.struct(
            F.lit("text").alias("kind"),
            F.col(text_col).cast("string").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    return df.withColumn("doc_id", F.col("doc_id").cast("string")).withColumn(
        "spans", spans
    )


def join_text_spans(spans):
    """Arrow twin of ``normalize_documents``' span join, for one batch:
    a ``list<struct<kind, text, ...>>`` array → the string array of each
    document's text. Same semantics as the JVM expression: spans whose
    ``kind`` is not 'text' (NULL included) and NULL texts are dropped
    (``array_join`` skips NULL elements), no text span gives '', and a
    NULL ``spans`` gives NULL."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    values = spans.values
    text = pc.struct_field(values, "text")
    keep = pc.fill_null(pc.and_(
        pc.equal(pc.struct_field(values, "kind"), "text"), pc.is_valid(text)
    ), False)
    # kept-span count before each original offset = the joined lists'
    # offsets (``spans.offsets`` already accounts for a sliced batch)
    kept = np.concatenate(([0], np.cumsum(keep.to_numpy(zero_copy_only=False))))
    offsets = pa.array(kept[spans.offsets.to_numpy()], pa.int32())
    lists = pa.ListArray.from_arrays(
        offsets, pc.filter(text, keep), mask=spans.is_null()
    )
    return pc.binary_join(lists, "")


def span_lineage(df: DataFrame, stage: str = "ingest") -> DataFrame:
    """Lineage table re-emitting the exact span sequence per row plus a
    fingerprint: lineage(doc_id, stage, n_spans, span_fingerprint, spans_seq).

    spans_seq reproduces (kind, text, media_ref, order) exactly; the
    fingerprint is an md5 over the ordered sequence so equality checks
    are O(1) per row downstream.
    """
    seq = F.transform(
        "spans",
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.alias("order"),
        ),
    )
    fp = F.md5(
        F.array_join(
            F.transform(
                seq,
                lambda s: F.concat_ws(
                    "",
                    s["kind"],
                    F.coalesce(s["text"], F.lit("")),
                    F.coalesce(s["media_ref"], F.lit("")),
                    s["order"].cast("string"),
                ),
            ),
            "",
        )
    )
    return df.select(
        "doc_id",
        F.lit(stage).alias("stage"),
        F.size("spans").alias("n_spans"),
        fp.alias("span_fingerprint"),
        seq.alias("spans_seq"),
    )


def span_blocks(df: DataFrame) -> DataFrame:
    """Narrative blocks from the interleaved span structure:
    each text span is a block (doc_id, block_id, char_start, char_end).

    This is the engine's analog of the reference's chapter-level
    ``dynamic_blocks`` (core.py:161-163): the input's own segmentation
    (text spans between media) defines the narrative units. Char
    bounds convert to token bounds via
    operators.utils.char_blocks_to_token_blocks.
    """
    t = df.select(
        "doc_id",
        F.posexplode(F.filter("spans", lambda s: s["kind"] == "text")).alias(
            "block_id", "s"
        ),
    )
    return t.select(
        "doc_id",
        "block_id",
        F.col("s.offset").alias("char_start"),
        (F.col("s.offset") + F.length("s.text")).alias("char_end"),
    )


def media_spans(df: DataFrame) -> DataFrame:
    """Exploded media-span table (for the multimodal operators):
    (doc_id, span_order, kind, media_ref, offset)."""
    return (
        df.select("doc_id", F.posexplode("spans").alias("span_order", "s"))
        .filter(F.col("s.kind") != "text")
        .select(
            "doc_id",
            "span_order",
            F.col("s.kind").alias("kind"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
    )
