"""Co-occurrence character-network extraction: one per-document block scan.

Reimplements the reference's CoOccurrencesGraphExtractor
(graph_extraction.py:105-472). ``doc_edges`` is the whole algorithm for
one document, the reference's block scan (:315-369):

  1. every mention spawns a *block* [start−d, end+d] (token unit) or the
     token range of sentences [sent(start)−d .. sent(end−1)+d]
     (sentence unit, deduplicated) — graph_extraction.py:235-282;
  2. a mention belongs to a block iff start ≥ bs ∧ end ≤ be;
  3. a mention pair (i<j, different characters) *co-occurs* iff some
     block contains both — C[i][j] semantics of :315-333;
  4. edge weight = number of distinct co-occurring mention-index pairs
     (:343-351); optional polarity = Σ over pairs of the max-|x|
     sentence polarity between the two mention-start sentences
     (:353-369).

Two adapters bring documents to it, each one Python call per Arrow
batch, never per document:

* ``cooccurrence_edges`` over a mentions table (and sentence bounds,
  polarities, or a group key for dynamic networks);
* ``cooccurrence_edges_grouped`` over the documents themselves: the
  default pipeline's one crossing, which tokenizes, tags and unifies
  before the scan.

A document is one call: a block costs only its own mentions (found by
bisection), so a novel-sized document (200k tokens, 20k mentions) takes
0.3-0.9 s on one core. ``add_window_ids`` and ``assign_dynamic_blocks`` assign
the groups of dynamic networks (graph_extraction.py:373-448).
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from itertools import groupby
from operator import itemgetter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.utils import map_batches


def doc_edges(
    ms: list[tuple[str, int, int]],
    dist: int,
    unit: str,
    sent_start: list[int] | None = None,
    sent_end: list[int] | None = None,
    pol: list[float] | None = None,
) -> list[tuple]:
    """Edges of ONE document: the reference's block scan
    (graph_extraction.py:315-369).

    ms: mentions (char_id, start_idx, end_idx) sorted by
    (start_idx, end_idx, char_id); sent_start/sent_end: token bounds
    of the document's sentences in order (sentence unit or polarity);
    pol: per-sentence polarity. → sorted [(src, dst, weight[, polarity])].

    A token's sentence and a block's candidate mentions (start inside
    the block) are both found by bisection, so a block costs only its
    own mentions.
    """
    starts = [s for _, s, _ in ms]

    def sent_of(tok: int) -> int:
        return bisect_right(sent_start, tok) - 1

    if unit == "tokens":
        blocks = {(s - dist, e + dist) for _, s, e in ms}
    elif unit == "sentences":
        last = len(sent_start) - 1
        blocks = {
            (sent_start[max(0, sent_of(s) - dist)],
             sent_end[min(last, sent_of(e - 1) + dist)])
            for _, s, e in ms
        }
    else:
        raise ValueError(f"unknown unit: {unit}")
    pairs = set()
    for bs, be in blocks:
        in_block = [
            i for i in range(bisect_left(starts, bs), bisect_right(starts, be))
            if ms[i][2] <= be
        ]
        for a, i in enumerate(in_block):
            ki = ms[i][0]
            for j in in_block[a + 1:]:
                if ms[j][0] != ki:
                    pairs.add((i, j))
    edges: dict[tuple[str, str], list] = {}
    # sorted: polarity sums add in one fixed order
    for i, j in sorted(pairs):
        k1, k2 = ms[i][0], ms[j][0]
        ent = edges.setdefault((k1, k2) if k1 < k2 else (k2, k1), [0, 0.0])
        ent[0] += 1
        if pol is not None:
            between = pol[sent_of(ms[i][1]): sent_of(ms[j][1]) + 1]
            ent[1] += max(between, key=abs)
    if pol is None:
        return [(src, dst, w) for (src, dst), (w, _) in sorted(edges.items())]
    return [(src, dst, w, p) for (src, dst), (w, p) in sorted(edges.items())]


def cooccurrence_edges(
    mentions_df: DataFrame,
    dist: int = 1,
    unit: str = "sentences",
    tokens_df: DataFrame | None = None,
    polarities_df: DataFrame | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """→ edges(doc_id[, group_col], src, dst, weight[, polarity]), src<dst.

    mentions_df: (doc_id[, group_col], char_id, start_idx, end_idx).
    tokens_df: the sentence bounds, needed by the sentence unit and by
    polarities — a token table (doc_id, sent_idx, tok_idx) or a
    sentence table (doc_id, sent_idx, sent_start, sent_end) such as the
    ``sentence_tokens`` stage. polarities_df: (doc_id, sent_idx,
    polarity); a sentence without a row counts 0. group_col: dynamic
    networks — each (document, group) is its own graph over its
    document's sentences (groups from ``add_window_ids`` or
    ``assign_dynamic_blocks``).

    Mentions and sentence rows are UNIONED with a kind tag,
    repartitioned+sorted by doc_id, and scanned by ``doc_edges`` in ONE
    Python call per Arrow batch (trailing doc carried across batch
    boundaries, ``utils.map_batches``).
    """
    if unit not in ("tokens", "sentences"):
        raise ValueError(f"unknown unit: {unit}")
    with_pol = polarities_df is not None
    need_sent = unit == "sentences" or with_pol
    if need_sent and tokens_df is None:
        raise ValueError("the sentence unit and polarities need tokens_df")

    def ddl(col: str) -> str:
        return mentions_df.schema[col].dataType.simpleString()

    # the group key crosses as _group in its own type; without
    # group_col it is NULL, one group per document
    group_type = ddl(group_col) if group_col else "string"
    schema = ", ".join(
        [f"doc_id {ddl('doc_id')}"]
        + ([f"{group_col} {group_type}"] if group_col else [])
        + ["src string, dst string, weight long"]
        + (["polarity double"] if with_pol else [])
    )

    def step(batches):
        for batch in batches:
            rows = []
            recs = zip(*(batch[c] for c in (
                "doc_id", "_kind", "_group", "sent_idx", "sent_start",
                "sent_end", "polarity", "char_id", "start_idx", "end_idx")))
            for doc_id, doc in groupby(recs, key=itemgetter(0)):
                sents, ms = [], {}
                for _, kind, key, si, ss, se, p, char, start, end in doc:
                    if kind == 0:
                        sents.append((si, ss, se, p))
                    else:
                        ms.setdefault(key, []).append((char, start, end))
                sent_start = sent_end = pol = None
                if need_sent:
                    if not sents:  # no sentences, no blocks
                        continue
                    sents.sort()
                    sent_start = [ss for _, ss, _, _ in sents]
                    sent_end = [se for _, _, se, _ in sents]
                    if with_pol:
                        pol = [p for _, _, _, p in sents]
                for key, gm in ms.items():
                    gm.sort(key=lambda m: (m[1], m[2], m[0]))
                    head = (doc_id, key) if group_col else (doc_id,)
                    rows.extend(
                        head + e for e in doc_edges(
                            gm, dist, unit, sent_start, sent_end, pol)
                    )
            yield rows

    m = mentions_df.select(
        "doc_id",
        F.lit(1).alias("_kind"),
        (F.col(group_col) if group_col
         else F.lit(None).cast("string")).alias("_group"),
        F.lit(None).cast("int").alias("sent_idx"),
        F.lit(None).cast("int").alias("sent_start"),
        F.lit(None).cast("int").alias("sent_end"),
        F.lit(None).cast("double").alias("polarity"),
        "char_id", "start_idx", "end_idx",
    )
    if need_sent:
        if "sent_start" in tokens_df.columns:
            sents = tokens_df.select(
                "doc_id", "sent_idx", "sent_start", "sent_end")
        else:
            sents = tokens_df.groupBy("doc_id", "sent_idx").agg(
                F.min("tok_idx").alias("sent_start"),
                (F.max("tok_idx") + 1).alias("sent_end"),
            )
        if with_pol:
            sents = sents.join(
                polarities_df.select("doc_id", "sent_idx", "polarity"),
                ["doc_id", "sent_idx"],
                "left",
            ).fillna(0.0, subset=["polarity"])
        else:
            sents = sents.withColumn("polarity", F.lit(None).cast("double"))
        m = sents.select(
            "doc_id", F.lit(0).alias("_kind"),
            F.lit(None).cast(group_type).alias("_group"),
            "sent_idx", "sent_start", "sent_end", "polarity",
            F.lit(None).cast("string").alias("char_id"),
            F.lit(None).cast("int").alias("start_idx"),
            F.lit(None).cast("int").alias("end_idx"),
        ).unionByName(m)

    # explicit count: AQE would coalesce the doc_id shuffle of a
    # mention-sized table to one or two tasks, serializing the scan
    return map_batches(
        m, step, schema, key="doc_id",
        partitions=m.sparkSession.sparkContext.defaultParallelism)


def cooccurrence_edges_grouped(
    documents_df: DataFrame,
    gazetteer: list[str] | set[str],
    dist: int = 1,
    unit: str = "sentences",
    min_appearances: int = 0,
) -> DataFrame:
    """documents → edges(doc_id, src, dst, weight) in ONE Python
    crossing per document, with no shuffle: the default pipeline's
    ``edges`` stage.

    documents_df: (doc_id, spans) — the ``documents`` stage — or a flat
    (doc_id, text) table, which goes through the single text span
    ``ingest.normalize_documents`` builds. The JVM only reads the
    stored spans; they cross into Python once, one row per document,
    through one batch step (``utils.map_batches``). There each
    document's text spans are joined (``ingest.join_text_spans``) and
    tokenized (``tokenize.sentence_tokens_py``), then rule NER
    (``ner.gazetteer_runs``), graph-rules unification
    (``unify_core.unify_doc`` with ``min_appearances``) and
    ``doc_edges`` run back to back. A document is one row, so doc_id
    must be unique in the table. It equals ``rule_ner_sentences`` →
    ``graph_rules_unify(min_appearances=)`` → ``cooccurrence_edges``
    over the unified mentions and the ``sentence_tokens`` table.
    """
    from renard_spark.sources import ingest

    if unit not in ("tokens", "sentences"):
        raise ValueError(f"unknown unit: {unit}")
    gazetteer = set(gazetteer)
    if "spans" not in documents_df.columns:
        documents_df = ingest.normalize_documents(documents_df)

    def step(batches):
        from renard_spark.operators.ner import gazetteer_runs
        from renard_spark.operators.tokenize import sentence_tokens_py
        from renard_spark.operators.unify_core import unify_doc
        from renard_spark.sources.ingest import join_text_spans

        for batch in batches:
            # the spans are joined with Arrow compute, never converted
            texts = join_text_spans(batch.arrow.column("spans")).to_pylist()
            out_doc, out_src, out_dst, out_w = [], [], [], []
            for doc_id, text in zip(batch["doc_id"], texts):
                if not text:
                    continue
                mentions, sent_start, sent_end = [], [], []
                n = 0
                for toks in sentence_tokens_py(text):
                    mentions += gazetteer_runs(toks, gazetteer, n)
                    sent_start.append(n)
                    n += len(toks)
                    sent_end.append(n)
                if not mentions:
                    continue
                ms = sorted(
                    ((c["char_id"], s, e)
                     for c in unify_doc(mentions,
                                        min_appearances=min_appearances)
                     for _, s, e in c["mentions"]),
                    key=lambda m: (m[1], m[2], m[0]),
                )
                for src, dst, w in doc_edges(ms, dist, unit, sent_start,
                                             sent_end):
                    out_doc.append(doc_id)
                    out_src.append(src)
                    out_dst.append(dst)
                    out_w.append(w)
            yield {"doc_id": out_doc, "src": out_src, "dst": out_dst,
                   "weight": out_w}

    return map_batches(
        documents_df.select("doc_id", "spans"), step,
        "doc_id string, src string, dst string, weight long",
    )


def add_window_ids(
    mentions_df: DataFrame, window: int, overlap: int = 0
) -> DataFrame:
    """Explode mentions to dynamic-window ids (window of N mentions,
    step = N − overlap; graph_extraction.py:400-409). A mention of rank
    r (0-based) belongs to windows w with w·step ≤ r < w·step + N."""
    assert window > overlap >= 0
    step = window - overlap
    w = Window.partitionBy("doc_id").orderBy("start_idx", "end_idx", "char_id")
    n = Window.partitionBy("doc_id")
    ranked = (
        mentions_df.withColumn("_r", F.row_number().over(w) - 1)
        .withColumn("_n", F.count(F.lit(1)).over(n))
        .withColumn(
            "_nwin",
            F.greatest(
                F.ceil((F.col("_n") - window) / step) + 1, F.lit(1)
            ).cast("int"),
        )
    )
    lo = F.greatest(
        F.ceil((F.col("_r") - window + 1) / step).cast("int"), F.lit(0)
    )
    hi = F.least(
        F.floor(F.col("_r") / step).cast("int"), F.col("_nwin") - 1
    )
    return (
        ranked.withColumn("window_id", F.explode(F.sequence(lo, hi)))
        .drop("_r", "_n", "_nwin")
    )


def assign_dynamic_blocks(
    mentions_df: DataFrame, blocks_df: DataFrame
) -> DataFrame:
    """Assign each mention to the FIRST dynamic block containing it
    (strict end: end_idx < block end — graph_utils mentions_for_blocks,
    graph_extraction.py:54-76). blocks_df: (doc_id, block_id, start, end)."""
    b = blocks_df.select(
        F.col("doc_id").alias("_d"),
        F.col("block_id"),
        F.col("start").alias("_bs"),
        F.col("end").alias("_be"),
    )
    j = mentions_df.join(
        b,
        (mentions_df["doc_id"] == b["_d"])
        & (mentions_df["start_idx"] >= b["_bs"])
        & (mentions_df["end_idx"] < b["_be"]),
    )
    w = Window.partitionBy("doc_id", "start_idx", "end_idx", "char_id").orderBy(
        "block_id"
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_d", "_bs", "_be")
    )
