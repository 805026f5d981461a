"""Relation extraction + relational character network.

The reference's GenerativeRelationExtractor
(/root/reference/renard/pipeline/relation_extraction.py:138-246) is a
T5 generator (flagged "in development, should not be used") whose
post-processing is: parse "(s, r, o)" strings → map each endpoint to
the unique character owning that name (ambiguous → dropped) → drop
self-relations. The engine keeps that post-processing as DataFrame ops
and replaces the generator with a deterministic pattern extractor
(subject mention — relation verb — object mention inside one sentence);
a model UDF can produce the same `raw_triples` shape.

RelationalGraphExtractor (graph_extraction.py:716-762): per ordered
(subj, obj) pair, count each relation; keep relations with count ≥
min_rel_occurrences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.utils import (
    cached_model, local_table, map_batches,
)

TRIPLE_RE = r"\(([^,]+), ?([^,]+), ?([^,]+)\)"

# verb → relation label for the deterministic extractor
RELATION_VERBS = {
    "talked": "talked_with",
    "walked": "walked_with",
    "wrote": "wrote_to",
    "danced": "danced_with",
    "said": "said_to",
    "replied": "replied_to",
    "smiled": "smiled_at",
    "saw": "saw",
    "visited": "visited",
    "met": "met",
}


def parse_text_triples(df: DataFrame, text_col: str = "generated") -> DataFrame:
    """'(s, r, o)' strings → exploded raw triples
    (relation_extraction.py:215-225). Pure regexp, JVM-side."""
    subs = F.regexp_extract_all(text_col, F.lit(TRIPLE_RE), 1)
    rels = F.regexp_extract_all(text_col, F.lit(TRIPLE_RE), 2)
    objs = F.regexp_extract_all(text_col, F.lit(TRIPLE_RE), 3)
    # explode the zip EXPRESSION, not a bound alias of it: exploding an
    # alias lets InferFiltersFromGenerate add a size()>0 filter that
    # re-inlines all three regexps a second (and third) time
    return df.select(
        *[c for c in df.columns],
        F.explode(F.arrays_zip(subs, rels, objs)).alias("_t"),
    ).select(
        *[c for c in df.columns if c != "_z"],
        F.trim(F.col("_t.0")).alias("raw_subj"),
        F.trim(F.col("_t.1")).alias("rel"),
        F.trim(F.col("_t.2")).alias("raw_obj"),
    )


def model_relations(
    sent_tokens_df: DataFrame,
    generator_factory,
    batch_size: int = 4,
    cache_key: str | None = None,
) -> DataFrame:
    """Generative relation extraction with an injected text2text model
    (the reference's T5 seam, relation_extraction.py:181-196: per
    sentence the generator emits a '(s, r, o)(s2, r2, o2)' string;
    everything after generation — regex parse, character resolution,
    self/ambiguous drops — is the shared DataFrame post-processing).

    ``generator_factory`` → generate(batch: list[list[str]]) → one
    generated string per sentence. Input: the compact per-sentence form
    (doc_id, sent_idx, toks). → raw triples
    (doc_id, sent_idx, raw_subj, rel, raw_obj), feed to resolve_triples.
    """

    def step(batches):
        generate = cached_model("relgen", cache_key, generator_factory)
        for batch in batches:
            sents = batch["toks"]
            outs: list[str] = []
            for off in range(0, len(sents), batch_size):
                outs.extend(generate(sents[off:off + batch_size]))
            yield {"doc_id": batch.arrow.column("doc_id"),
                   "sent_idx": batch.arrow.column("sent_idx"),
                   "generated": outs}

    generated = map_batches(
        sent_tokens_df.select("doc_id", "sent_idx", "toks"), step,
        "doc_id string, sent_idx int, generated string",
    )
    return parse_text_triples(generated).select(
        "doc_id", "sent_idx", "raw_subj", "rel", "raw_obj"
    )


def name_to_char(characters_df: DataFrame) -> DataFrame:
    """(doc_id, name, char_id|NULL): the unique character owning the
    name, NULL when ambiguous (identify_character,
    relation_extraction.py:227-237)."""
    exploded = characters_df.select(
        "doc_id", "char_id", F.explode("names").alias("name")
    )
    return exploded.groupBy("doc_id", "name").agg(
        F.when(
            F.count_distinct("char_id") == 1, F.first("char_id")
        ).alias("char_id")
    )


def resolve_triples(
    raw_triples: DataFrame, characters_df: DataFrame
) -> DataFrame:
    """raw (doc_id, sent_idx, raw_subj, rel, raw_obj) → resolved
    (doc_id, sent_idx, subj_char, rel, obj_char); ambiguous/unknown or
    self-relations dropped (relation_extraction.py:198-207).

    ``characters_df`` only needs (doc_id, char_id, names) — pass the
    unified-mentions stage table directly rather than building the
    full ``characters_table`` (whose mention_count / longest /
    most_frequent_name aggregations and left join are dead weight
    here). Mention-level multiplicity is harmless: ``name_to_char``
    groups by (doc_id, name), so duplicate (char_id, names) rows
    change neither the distinct-char count nor the unique winner."""
    n2c = name_to_char(characters_df)
    s = n2c.select(
        F.col("doc_id").alias("_ds"),
        F.col("name").alias("_ns"),
        F.col("char_id").alias("subj_char"),
    )
    o = n2c.select(
        F.col("doc_id").alias("_do"),
        F.col("name").alias("_no"),
        F.col("char_id").alias("obj_char"),
    )
    return (
        raw_triples.join(
            s, (raw_triples["doc_id"] == s["_ds"]) & (raw_triples["raw_subj"] == s["_ns"])
        )
        .join(o, (raw_triples["doc_id"] == o["_do"]) & (raw_triples["raw_obj"] == o["_no"]))
        .filter(
            F.col("subj_char").isNotNull()
            & F.col("obj_char").isNotNull()
            & (F.col("subj_char") != F.col("obj_char"))
        )
        .select("doc_id", "sent_idx", "subj_char", "rel", "obj_char")
    )


def pattern_relations(
    unified_mentions: DataFrame,
    tokens_df: DataFrame,
    verbs: dict[str, str] | None = None,
) -> DataFrame:
    """Deterministic in-sentence extractor: consecutive character
    mentions (by sentence order) with a relation verb between them →
    raw triple (doc_id, sent_idx, raw_subj, rel, raw_obj)."""
    verbs = verbs or RELATION_VERBS
    spark = tokens_df.sparkSession
    vdf = local_table(spark, verbs.items(), "verb string, rel string")
    sent_of = tokens_df.select(
        F.col("doc_id").alias("_d"),
        F.col("tok_idx").alias("_t"),
        F.col("sent_idx"),
    )
    m = (
        unified_mentions.alias("u")
        .join(
            sent_of,
            (F.col("u.doc_id") == F.col("_d")) & (F.col("u.start_idx") == F.col("_t")),
        )
        .select(
            "u.doc_id", "sent_idx", "u.char_id", "u.mention_str",
            "u.start_idx", "u.end_idx",
        )
    )
    w = Window.partitionBy("doc_id", "sent_idx").orderBy("start_idx", "end_idx")
    # consecutive-mention pairing: lead() over the SAME window that
    # orders the mentions — the (b._r == a._r + 1) self-join it
    # replaces shuffled the mention table twice to pair each row with
    # its successor, which lead() reads off in the one window pass
    # already being paid (same partition keys, same order, same tie
    # semantics — row_number and lead see the identical frame order).
    adjacent = m.select(
        "doc_id",
        "sent_idx",
        F.col("mention_str").alias("subj_str"),
        F.col("start_idx").alias("subj_start"),
        F.col("end_idx").alias("subj_end"),
        F.lead("mention_str").over(w).alias("obj_str"),
        F.lead("start_idx").over(w).alias("obj_start"),
    ).filter(F.col("obj_start").isNotNull())
    vt = (
        tokens_df.join(F.broadcast(vdf), F.lower(F.col("token")) == F.col("verb"))
        .select(
            F.col("doc_id").alias("_vd"),
            F.col("tok_idx").alias("_vt"),
            F.col("rel"),
        )
    )
    hits = adjacent.join(
        vt,
        (F.col("doc_id") == F.col("_vd"))
        & (F.col("_vt") >= F.col("subj_end"))
        & (F.col("_vt") < F.col("obj_start")),
    )
    # first (lowest-position) verb between the pair wins — the pair is
    # identified by its subject mention. (subj_start, subj_end) is NOT
    # unique per (doc, sentence): naive_unify's coref path can emit two
    # char_ids at one span. Such duplicates sort next to each other in
    # the lead() window, so every one but the last pairs with a
    # successor at the same span, whose verb-between filter
    # (subj_end <= _vt < obj_start) is empty; only the last one of a
    # span reaches w2 with hits.
    w2 = Window.partitionBy("doc_id", "sent_idx", "subj_start", "subj_end").orderBy(
        "_vt"
    )
    return (
        hits.withColumn("_rn", F.row_number().over(w2))
        .filter("_rn = 1")
        .select(
            "doc_id",
            "sent_idx",
            F.col("subj_str").alias("raw_subj"),
            "rel",
            F.col("obj_str").alias("raw_obj"),
        )
    )


def relational_edges(
    resolved_triples: DataFrame, min_rel_occurrences: int = 1
) -> DataFrame:
    """→ (doc_id, subj_char, rel, obj_char, n) with n ≥ min;
    (graph_extraction.py:738-751, ordered pair keying)."""
    return (
        resolved_triples.groupBy("doc_id", "subj_char", "rel", "obj_char")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_rel_occurrences)
    )


def relation_paths(rel_edges: DataFrame) -> DataFrame:
    """Typed 2-hop relation composition over the relational edge table
    — the path-evidence table a KG-completion rule miner consumes
    (engine addition; downstream of the reference's relational graph):
    for every a -rel1-> m -rel2-> b within a document, one row per
    (doc, a, rel1, rel2, b) with the distinct-midpoint count and the
    bottleneck support Σ min(n₁, n₂).

    ONE equi-join on (doc_id, midpoint) + one map-side-combined
    aggregation; per-doc relation graphs are sparse, so fanout is
    bounded by midpoint degree (hub skew is AQE's skew-join case).
    Self-paths (b == a) are excluded.
    """
    a = rel_edges.select(
        "doc_id",
        F.col("subj_char").alias("subj"),
        F.col("rel").alias("rel1"),
        F.col("obj_char").alias("_mid"),
        F.col("n").alias("_n1"),
    )
    b = rel_edges.select(
        "doc_id",
        F.col("subj_char").alias("_mid"),
        F.col("rel").alias("rel2"),
        F.col("obj_char").alias("obj"),
        F.col("n").alias("_n2"),
    )
    return (
        a.join(b, ["doc_id", "_mid"])
        .filter(F.col("obj") != F.col("subj"))
        .groupBy("doc_id", "subj", "rel1", "rel2", "obj")
        .agg(
            F.count(F.lit(1)).alias("n_mids"),
            F.sum(F.least("_n1", "_n2")).alias("support"),
        )
    )


def mine_rules(rel_edges: DataFrame, min_support: int = 1) -> DataFrame:
    """AMIE-style horn-rule mining over the materialized corpus KG
    (engine addition; the rule-mining stage a KG-completion loop runs
    downstream of the reference's relational graph,
    graph_extraction.py:716-762): for every rule
    ``rel1(a, m) AND rel2(m, b) => rel3(a, b)`` report

    - ``support``  = #distinct body pairs (a, b) the head closes,
    - ``n_body``   = #distinct body pairs (a, b) overall,
    - ``n_pca``    = #distinct body pairs whose subject has ANY rel3
      edge (the partial-completeness denominator of Galárraga et al.,
      AMIE, WWW'13 — public algorithm),
    - ``conf`` = support/n_body and ``pca_conf`` = support/n_pca
      (single IEEE divisions — bit-identical cross-engine).

    Facts are corpus-level: ``distinct (subj, rel, obj)`` over the
    per-document relational edges, i.e. mining runs on the graph the
    pipeline materializes, not on per-doc multiplicity. Shapes at
    scale: one distinct (map-side combined), a midpoint equi-join
    whose hub skew is AQE's skew-join case, a (subj, obj) head
    equi-join, and a subject×relation existence join whose fanout is
    bounded by the relation vocabulary — no cross join, no UDF, no
    driver loop.
    """
    kg = (
        rel_edges.select(
            F.col("subj_char").alias("subj"),
            "rel",
            F.col("obj_char").alias("obj"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = kg.select(
        "subj", F.col("rel").alias("rel1"), F.col("obj").alias("_mid")
    )
    b = kg.select(
        F.col("subj").alias("_mid"), F.col("rel").alias("rel2"), "obj"
    )
    paths = (
        a.join(b, "_mid")
        .filter(F.col("obj") != F.col("subj"))
        .select("subj", "rel1", "rel2", "obj")
        .distinct()
        .localCheckpoint(eager=False)
    )
    body = paths.groupBy("rel1", "rel2").agg(
        F.count(F.lit(1)).alias("n_body")
    )
    heads = kg.select("subj", F.col("rel").alias("rel3"), "obj")
    supp = (
        paths.join(heads, ["subj", "obj"])
        .groupBy("rel1", "rel2", "rel3")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    subj_r3 = kg.select("subj", F.col("rel").alias("rel3")).distinct()
    pca = (
        paths.join(subj_r3, "subj")
        .groupBy("rel1", "rel2", "rel3")
        .agg(F.count(F.lit(1)).alias("n_pca"))
    )
    return (
        supp.join(body, ["rel1", "rel2"])
        .join(pca, ["rel1", "rel2", "rel3"])
        .filter(F.col("support") >= min_support)
        .select(
            "rel1", "rel2", "rel3",
            F.col("support").cast("long").alias("support"),
            F.col("n_body").cast("long").alias("n_body"),
            F.col("n_pca").cast("long").alias("n_pca"),
            (F.col("support") / F.col("n_body")).alias("conf"),
            (F.col("support") / F.col("n_pca")).alias("pca_conf"),
        )
    )


def validate_triples(
    triples_df: DataFrame,
    functional: tuple[str, ...] = (),
    inverse_functional: tuple[str, ...] = (),
    domains: dict[str, list[str]] | None = None,
) -> DataFrame:
    """SHACL-lite constraint validation over resolved triples — the
    KG quality gate that runs between triple emission and the
    materialized graph tables: report every node that violates a
    declared shape instead of silently writing a malformed KG.

    ``triples_df``: occurrence-level (doc_id, subj_char, rel,
    obj_char). Three constraint families (the SHACL cores that are
    pure relational algebra):

    - ``functional``: rels where a subject may relate to at most ONE
      distinct object per document (sh:maxCount 1);
    - ``inverse_functional``: rels where an object may be reached from
      at most ONE distinct subject per document (sh:path [sh:inversePath]);
    - ``domains``: rel → allowed subject list (sh:class on the
      subject shape), violations counted per offending subject.

    Returns (constraint, doc_id, rel, node, n) — n is the distinct
    partner count (functional/inverse) or the violating occurrence
    count (domain). Distributed shape: map-side-combined groupBys on
    (doc_id, rel, node) + a broadcast-literal isin for domains; no
    join against a corpus-scale table, no UDF, and the union of the
    three branches reuses the same shuffle key family."""
    t = triples_df.filter(
        F.col("subj_char").isNotNull() & F.col("obj_char").isNotNull()
    )
    parts = []
    if functional:
        parts.append(
            t.filter(F.col("rel").isin(list(functional)))
            .groupBy("doc_id", "rel", F.col("subj_char").alias("node"))
            .agg(F.countDistinct("obj_char").alias("n"))
            .filter(F.col("n") > 1)
            .select(
                F.lit("functional").alias("constraint"),
                "doc_id", "rel", "node", "n",
            )
        )
    if inverse_functional:
        parts.append(
            t.filter(F.col("rel").isin(list(inverse_functional)))
            .groupBy("doc_id", "rel", F.col("obj_char").alias("node"))
            .agg(F.countDistinct("subj_char").alias("n"))
            .filter(F.col("n") > 1)
            .select(
                F.lit("inverse_functional").alias("constraint"),
                "doc_id", "rel", "node", "n",
            )
        )
    for rel, allowed in sorted((domains or {}).items()):
        parts.append(
            t.filter(
                (F.col("rel") == rel)
                & ~F.col("subj_char").isin(list(allowed))
            )
            .groupBy("doc_id", "rel", F.col("subj_char").alias("node"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit("domain").alias("constraint"),
                "doc_id", "rel", "node", "n",
            )
        )
    if not parts:
        raise ValueError("validate_triples: no constraints declared")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("n", F.col("n").cast("long"))
