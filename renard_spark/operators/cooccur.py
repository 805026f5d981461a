"""Co-occurrence character-network extraction — DataFrame-native.

Reimplements the reference's CoOccurrencesGraphExtractor
(/root/reference/renard/pipeline/graph_extraction.py:105-472) as joins +
aggregations instead of the O(n²) per-doc numpy matrix:

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

Scale design: the mention×block containment join is bucketed — blocks
explode to the fixed-width token buckets they overlap, mentions join on
their start bucket, so the join is equi on (doc, bucket) and never
degenerates into a per-doc cartesian even for book-length documents.
Long-doc skew is handled by AQE skew-join splitting on top of that.
Dynamic networks (mention windows / narrative blocks) reuse the same
machinery with an extra group key (graph_extraction.py:373-448).
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _keys(group_col: str | None) -> list[str]:
    return ["doc_id"] + ([group_col] if group_col else [])


def mention_index(mentions_df: DataFrame, group_col: str | None = None) -> DataFrame:
    """Canonical per-group mention order: the reference sorts by
    start_idx only (graph_extraction.py:204); we canonicalize ties with
    (end_idx, char_id) for determinism."""
    w = Window.partitionBy(*_keys(group_col)).orderBy(
        "start_idx", "end_idx", "char_id"
    )
    return mentions_df.withColumn("mi", F.row_number().over(w))


def token_blocks(m: DataFrame, dist: int, group_col: str | None = None) -> DataFrame:
    return m.select(
        *_keys(group_col),
        (F.col("start_idx") - dist).alias("bs"),
        (F.col("end_idx") + dist).alias("be"),
    )


def sentence_blocks(
    m: DataFrame,
    dist: int,
    sent_bounds: DataFrame,
    group_col: str | None = None,
) -> DataFrame:
    """sent_bounds: (doc_id, sent_idx, sent_start, sent_end) token
    ranges per sentence (end exclusive). Blocks per mention: token span
    of sentences [sent(start)−d .. sent(end−1)+d], clamped, dedup'd —
    graph_extraction.py:257-277."""
    nsent = sent_bounds.groupBy("doc_id").agg(
        F.max("sent_idx").alias("max_sent")
    )
    sb1 = sent_bounds.select(
        F.col("doc_id").alias("_d1"),
        F.col("sent_idx").alias("_s_start_sent"),
        F.col("sent_start").alias("_ss1"),
        F.col("sent_end").alias("_se1"),
    )
    with_start = m.join(
        sb1,
        (m["doc_id"] == sb1["_d1"])
        & (m["start_idx"] >= sb1["_ss1"])
        & (m["start_idx"] < sb1["_se1"]),
    ).drop("_d1", "_ss1", "_se1")
    sb2 = sent_bounds.select(
        F.col("doc_id").alias("_d2"),
        F.col("sent_idx").alias("_s_end_sent"),
        F.col("sent_start").alias("_ss2"),
        F.col("sent_end").alias("_se2"),
    )
    with_both = (
        with_start.join(
            sb2,
            (with_start["doc_id"] == sb2["_d2"])
            & (with_start["end_idx"] - 1 >= sb2["_ss2"])
            & (with_start["end_idx"] - 1 < sb2["_se2"]),
        )
        .drop("_d2", "_ss2", "_se2")
        .join(nsent, "doc_id")
        .withColumn("_lo", F.greatest(F.col("_s_start_sent") - dist, F.lit(0)))
        .withColumn("_hi", F.least(F.col("_s_end_sent") + dist, F.col("max_sent")))
    )
    lo = sent_bounds.select(
        F.col("doc_id").alias("_d3"),
        F.col("sent_idx").alias("_lo3"),
        F.col("sent_start").alias("bs"),
    )
    hi = sent_bounds.select(
        F.col("doc_id").alias("_d4"),
        F.col("sent_idx").alias("_hi4"),
        F.col("sent_end").alias("be"),
    )
    return (
        with_both.join(
            lo,
            (with_both["doc_id"] == lo["_d3"]) & (with_both["_lo"] == lo["_lo3"]),
        )
        .join(
            hi,
            (with_both["doc_id"] == hi["_d4"]) & (with_both["_hi"] == hi["_hi4"]),
        )
        .select(*_keys(group_col), "bs", "be")
        .distinct()
    )


def sent_bounds_from_tokens(tokens_df: DataFrame) -> DataFrame:
    """(doc_id, sent_idx, sent_start, sent_end) from the tokens table."""
    return tokens_df.groupBy("doc_id", "sent_idx").agg(
        F.min("tok_idx").alias("sent_start"),
        (F.max("tok_idx") + 1).alias("sent_end"),
    )


def cooccurring_pairs(
    m: DataFrame,
    blocks: DataFrame,
    group_col: str | None = None,
    bucket_width: int = 64,
) -> DataFrame:
    """Distinct co-occurring mention-index pairs.

    Bucketed containment join: a block [bs,be] is replicated to every
    bucket of width W it overlaps; a mention joins on
    bucket(start_idx). Equi-join keys (doc_id[, group], bucket) keep
    Catalyst on sort-merge/shuffled-hash with bounded per-key fanout.
    """
    keys = _keys(group_col)
    W = bucket_width
    # Deterministic block identity: a block IS its (bs, be) bounds (per
    # group). Identical blocks from different mentions collapse to one,
    # which is exactly the reference's dedup (graph_extraction.py:258-272)
    # and — unlike monotonically_increasing_id — is stable across task
    # retries / AQE re-plans, so both sides of the self-join below always
    # agree on block identity.
    b = (
        blocks.dropDuplicates(keys + ["bs", "be"])
        .withColumn("_b0", F.floor(F.col("bs") / W))
        .withColumn("_b1", F.floor(F.col("be") / W))
        .withColumn("bucket", F.explode(F.sequence("_b0", "_b1")))
        .drop("_b0", "_b1")
    )
    mm = m.withColumn("bucket", F.floor(F.col("start_idx") / W))
    # (mention, block) containment rows. Each pair matches on exactly
    # ONE bucket row — the mention's start bucket (bs <= start <= be
    # implies floor(start/W) lies in the block's replicated bucket
    # range, and mm carries a single bucket per mention) — and the
    # block side is already deduplicated on (keys, bs, be), so rows
    # are unique per (keys, mi, bs, be) by construction: no dedup
    # needed here (the old dropDuplicates was a no-op that cost a
    # SortAggregate + Exchange pair).
    mb = mm.alias("m").join(
        b.alias("b"),
        [F.col(f"m.{k}") == F.col(f"b.{k}") for k in keys]
        + [
            F.col("m.bucket") == F.col("b.bucket"),
            F.col("m.start_idx") >= F.col("b.bs"),
            F.col("m.end_idx") <= F.col("b.be"),
        ],
    ).select(
        *[F.col(f"m.{k}") for k in keys],
        F.col("m.mi").alias("mi"),
        F.col("m.char_id").alias("char_id"),
        F.col("m.start_idx").alias("start_idx"),
        F.col("b.bs").alias("bs"),
        F.col("b.be").alias("be"),
    )
    # the self-join consumes mb TWICE — deliberately left LAZY (no
    # persist, no localCheckpoint): the two sides are identical plans,
    # so the shuffle feeding them is one exchange reused at runtime
    # (AQE exchange reuse), while persist() would register the plan in
    # the session CacheManager where an identical prefix from a LATER
    # query could silently serve cross-query results, and
    # localCheckpoint() erases the output partitioning
    # (UnknownPartitioning) and forces BOTH self-join sides through a
    # fresh full exchange — measured strictly slower.
    x, y = mb.alias("x"), mb.alias("y")
    return (
        x.join(
            y,
            [F.col(f"x.{k}") == F.col(f"y.{k}") for k in keys]
            + [
                F.col("x.bs") == F.col("y.bs"),
                F.col("x.be") == F.col("y.be"),
                F.col("x.mi") < F.col("y.mi"),
            ],
        )
        .select(
            *[F.col(f"x.{k}") for k in keys],
            F.col("x.mi").alias("mi1"),
            F.col("y.mi").alias("mi2"),
            F.col("x.char_id").alias("char1"),
            F.col("y.char_id").alias("char2"),
            F.col("x.start_idx").alias("start1"),
            F.col("y.start_idx").alias("start2"),
        )
        # a mention pair can co-occur in several blocks; char1/char2/
        # start1/start2 are attributes of mi1/mi2, so distinct() over
        # the full row == the old dropDuplicates(keys+[mi1,mi2]) —
        # but compiles to a HashAggregate (pure group-by, no first()
        # payload aggregates forcing a SortAggregate + double sort)
        .distinct()
    )


def cooccurrence_edges(
    mentions_df: DataFrame,
    dist: int = 1,
    unit: str = "sentences",
    tokens_df: DataFrame | None = None,
    polarities_df: DataFrame | None = None,
    blocks_df: DataFrame | None = None,
    group_col: str | None = None,
    bucket_width: int | None = None,
) -> DataFrame:
    """→ edges(doc_id[, group], src, dst, weight[, polarity]), src<dst.

    mentions_df: (doc_id[, group], char_id, start_idx, end_idx).
    unit 'tokens' | 'sentences' (needs tokens_df for sentence bounds);
    blocks_df: caller-provided co-occurrence blocks (doc_id, bs, be) —
    e.g. chapter bounds — overriding dist/unit (graph_extraction.py:180-186).
    """
    keys = _keys(group_col)
    m = mention_index(mentions_df, group_col)
    if blocks_df is not None:
        blocks = blocks_df
        bw = bucket_width or 512
    elif unit == "tokens":
        blocks = token_blocks(m, dist, group_col)
        bw = bucket_width or max(4 * dist, 16)
    elif unit == "sentences":
        assert tokens_df is not None, "sentence unit needs tokens_df"
        sent_bounds = sent_bounds_from_tokens(tokens_df)
        blocks = sentence_blocks(m, dist, sent_bounds, group_col)
        bw = bucket_width or max(64 * (2 * dist + 1), 64)
    else:
        raise ValueError(f"unknown unit: {unit}")

    pairs = cooccurring_pairs(m, blocks, group_col, bw).filter(
        F.col("char1") != F.col("char2")
    )

    if polarities_df is not None:
        assert tokens_df is not None
        sent_of = tokens_df.select(
            F.col("doc_id").alias("_d"),
            F.col("tok_idx").alias("_t"),
            F.col("sent_idx").alias("_sent"),
        )
        pairs = (
            pairs.join(
                sent_of,
                (pairs["doc_id"] == sent_of["_d"]) & (pairs["start1"] == sent_of["_t"]),
            )
            .withColumnRenamed("_sent", "sent1")
            .drop("_d", "_t")
        )
        pairs = (
            pairs.join(
                sent_of,
                (pairs["doc_id"] == sent_of["_d"]) & (pairs["start2"] == sent_of["_t"]),
            )
            .withColumnRenamed("_sent", "sent2")
            .drop("_d", "_t")
        )
        pol = polarities_df.select(
            F.col("doc_id").alias("_d"),
            F.col("sent_idx").alias("_s"),
            F.col("polarity").alias("_p"),
        )
        pair_pol = (
            pairs.join(
                pol,
                (pairs["doc_id"] == pol["_d"])
                & (pol["_s"] >= pairs["sent1"])
                & (pol["_s"] <= pairs["sent2"]),
            )
            .groupBy(*keys, "mi1", "mi2", "char1", "char2")
            .agg(
                # reference: max(|p|), first (earliest sentence) wins ties
                F.max_by(
                    "_p", F.struct(F.abs("_p").alias("a"), (-F.col("_s")).alias("s"))
                ).alias("pair_polarity")
            )
        )
        return (
            pair_pol.groupBy(
                *keys,
                F.least("char1", "char2").alias("src"),
                F.greatest("char1", "char2").alias("dst"),
            )
            .agg(
                F.count(F.lit(1)).alias("weight"),
                F.sum("pair_polarity").alias("polarity"),
            )
        )

    return (
        pairs.groupBy(
            *keys,
            F.least("char1", "char2").alias("src"),
            F.greatest("char1", "char2").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )


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


EDGES_SCHEMA = "doc_id string, src string, dst string, weight long"


def cooccurrence_edges_grouped(
    mentions_df: DataFrame | None = None,
    dist: int = 1,
    unit: str = "sentences",
    tokens_df: DataFrame | None = None,
    polarities_df: DataFrame | None = None,
    sent_info_df: DataFrame | None = None,
    *,
    documents_df: DataFrame | None = None,
    gazetteer: list[str] | set[str] | None = None,
    min_appearances: int = 0,
) -> DataFrame:
    """Per-document exact extraction (``doc_edges``) — the parity/fast
    path for the common shape (many modest documents). Identical output
    to ``cooccurrence_edges``, whose join path stays for huge single
    documents (one document's scan cannot spread over tasks) and the
    dynamic variants; equality is property-tested.

    Two inputs:

    * a mentions table ``mentions_df`` (doc_id, char_id, start_idx,
      end_idx): mentions and sentence-bound rows are UNIONED with a
      kind tag, repartitioned+sorted by doc_id, and processed by ONE
      ``mapInPandas`` call per Arrow batch (trailing doc carried across
      batch boundaries) — per-document Python-call overhead, the scale
      killer of a per-group cogroup at 10^12 docs, never happens;
    * ``documents_df`` (doc_id, spans) — the ``documents`` stage — or a
      flat (doc_id, text) table, which goes through the single text
      span ``ingest.normalize_documents`` builds, with a ``gazetteer``:
      the one-crossing path. The JVM only reads the stored spans; they
      cross into Python ONCE, one row per document, through
      ``mapInArrow``. There each document's text spans are joined
      (``ingest.join_text_spans``) and tokenized
      (``tokenize.sentence_tokens_py``), then rule NER
      (``ner.gazetteer_runs``), graph-rules unification
      (``unify_core.unify_doc`` with ``min_appearances``) and
      ``doc_edges`` run back to back. No shuffle: a document is one
      row, so doc_id must be unique in the table. It equals
      ``rule_ner_sentences`` → ``graph_rules_unify(min_appearances=)``
      → this function over the unified mentions; it takes no
      polarities, and ``min_appearances`` applies to this input only.
    """
    if documents_df is not None:
        if mentions_df is not None or gazetteer is None or (
            polarities_df is not None
        ):
            raise ValueError(
                "documents_df takes a gazetteer and no mentions_df or "
                "polarities_df"
            )
        return _one_crossing_edges(
            documents_df, set(gazetteer), dist, unit, min_appearances
        )
    import pandas as pd

    with_pol = polarities_df is not None
    need_sent = unit == "sentences" or with_pol
    assert not need_sent or tokens_df is not None or sent_info_df is not None

    schema = EDGES_SCHEMA + (", polarity double" if with_pol else "")
    cols = ["doc_id", "src", "dst", "weight"] + (
        ["polarity"] if with_pol else []
    )

    def extract(mpdf: pd.DataFrame, spdf: pd.DataFrame) -> list[tuple]:
        if mpdf.empty:
            return []
        doc_id = mpdf["doc_id"].iloc[0]
        ms = sorted(
            zip(
                mpdf["char_id"],
                mpdf["start_idx"].astype(int),
                mpdf["end_idx"].astype(int),
            ),
            key=lambda m: (m[1], m[2], m[0]),
        )
        sent_start = sent_end = pol = None
        if need_sent:
            spdf = spdf.sort_values("sent_idx")
            sent_start = spdf["sent_start"].astype(int).tolist()
            sent_end = spdf["sent_end"].astype(int).tolist()
            if with_pol:
                pol = spdf["polarity"].astype(float).tolist()
        return [
            (doc_id,) + e
            for e in doc_edges(ms, dist, unit, sent_start, sent_end, pol)
        ]

    m = mentions_df.select("doc_id", "char_id", "start_idx", "end_idx")
    if need_sent:
        if sent_info_df is not None:
            sent_info = sent_info_df.select(
                "doc_id", "sent_idx", "sent_start", "sent_end"
            )
        else:
            sent_info = sent_bounds_from_tokens(tokens_df)
        if with_pol:
            sent_info = sent_info.join(
                polarities_df.select("doc_id", "sent_idx", "polarity"),
                ["doc_id", "sent_idx"],
                "left",
            ).fillna(0.0, subset=["polarity"])
        else:
            sent_info = sent_info.withColumn("polarity", F.lit(0.0))
        tagged = sent_info.select(
            "doc_id", F.lit(0).alias("_kind"),
            "sent_idx", "sent_start", "sent_end", "polarity",
            F.lit(None).cast("string").alias("char_id"),
            F.lit(None).cast("int").alias("start_idx"),
            F.lit(None).cast("int").alias("end_idx"),
        ).unionByName(
            m.select(
                "doc_id", F.lit(1).alias("_kind"),
                F.lit(None).cast("int").alias("sent_idx"),
                F.lit(None).cast("int").alias("sent_start"),
                F.lit(None).cast("int").alias("sent_end"),
                F.lit(None).cast("double").alias("polarity"),
                "char_id", "start_idx", "end_idx",
            )
        )
    else:
        tagged = m.select(
            "doc_id", F.lit(1).alias("_kind"),
            F.lit(None).cast("int").alias("sent_idx"),
            F.lit(None).cast("int").alias("sent_start"),
            F.lit(None).cast("int").alias("sent_end"),
            F.lit(None).cast("double").alias("polarity"),
            "char_id", "start_idx", "end_idx",
        )

    from renard_spark.operators.utils import map_in_pandas_by_key

    def process(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, g in pdf.groupby("doc_id", sort=False):
            rows.extend(extract(g[g["_kind"] == 1], g[g["_kind"] == 0]))
        return pd.DataFrame(rows, columns=cols)

    return map_in_pandas_by_key(tagged, process, schema=schema)


def _one_crossing_edges(
    documents_df: DataFrame,
    gazetteer: set[str],
    dist: int,
    unit: str,
    min_appearances: int,
) -> DataFrame:
    """documents → edges in one ``mapInArrow`` over one row per
    document (see ``cooccurrence_edges_grouped``)."""
    from renard_spark.sources import ingest

    if unit not in ("tokens", "sentences"):
        raise ValueError(f"unknown unit: {unit}")
    if "spans" not in documents_df.columns:
        documents_df = ingest.normalize_documents(documents_df)

    def run(batches):
        import pyarrow as pa

        from renard_spark.operators.ner import gazetteer_runs
        from renard_spark.operators.tokenize import sentence_tokens_py
        from renard_spark.operators.unify_core import unify_doc
        from renard_spark.sources.ingest import join_text_spans

        for batch in batches:
            doc_ids = batch.column(0).to_pylist()
            texts = join_text_spans(batch.column(1)).to_pylist()
            out_doc, out_src, out_dst, out_w = [], [], [], []
            for doc_id, text in zip(doc_ids, texts):
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
            if out_doc:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out_doc, pa.string()),
                     pa.array(out_src, pa.string()),
                     pa.array(out_dst, pa.string()),
                     pa.array(out_w, pa.int64())],
                    names=["doc_id", "src", "dst", "weight"],
                )

    return documents_df.select("doc_id", "spans").mapInArrow(
        run, schema=EDGES_SCHEMA
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
