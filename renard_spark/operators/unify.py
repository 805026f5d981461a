"""Character unification stages (Spark wrappers).

- ``naive_unify``: pure DataFrame groupBy (one character per distinct
  surface form — reference NaiveCharacterUnifier,
  character_unification.py:99-156), with the coref-chain assignment
  expressed as join + window argmax (no UDF at all).
- ``graph_rules_unify``: the alias-graph unifier
  (character_unification.py:159-464). Pair rules + contradiction edge
  removal + connected components run **per document** (the per-doc
  graph is tiny — distinct PER names of one document — while docs
  distribute across executors) in one keyed Arrow-batch step
  (``operators.utils.map_batches``) — one Python call per batch, never
  per document. The cross-document entity table (one alias graph
  over a whole corpus) is ``operators.unify_scale.unify_distributed``.

Unified-mention schema (stage table):
    unified_mentions(doc_id, char_id, names:array<string>, gender,
                     mention_str, start_idx, end_idx)
characters = groupBy of that table.
"""

from __future__ import annotations

from itertools import groupby, repeat
from operator import itemgetter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.unify_core import unify_doc
from renard_spark.operators.utils import map_batches

UNIFIED_SCHEMA = (
    "doc_id string, char_id string, names array<string>, gender string,"
    " mention_str string, start_idx int, end_idx int"
)


def naive_unify(
    entities_df: DataFrame,
    corefs_df: DataFrame | None = None,
    character_tag: str = "PER",
    min_appearances: int = 0,
) -> DataFrame:
    """One character per distinct surface form; coref chains assigned
    to the character whose names occur most in the chain (join +
    argmax, character_unification.py:48-96)."""
    per = entities_df.filter(F.col("tag") == character_tag).select(
        "doc_id",
        F.col("mention_str").alias("char_id"),
        F.array("mention_str").alias("names"),
        F.lit("UNKNOWN").alias("gender"),
        "mention_str",
        "start_idx",
        "end_idx",
    )

    if corefs_df is not None:
        chars = per.select("doc_id", "char_id").distinct()
        # chain×character name-occurrence counts (0-count chains drop out)
        occ = (
            corefs_df.alias("c")
            .join(
                chars.alias("k"),
                (F.col("c.doc_id") == F.col("k.doc_id"))
                & (F.col("c.mention_str") == F.col("k.char_id")),
            )
            .groupBy(F.col("c.doc_id").alias("doc_id"), "c.chain_id", "k.char_id")
            .agg(F.count(F.lit(1)).alias("occ"))
        )
        wArg = Window.partitionBy("doc_id", "chain_id").orderBy(
            F.col("occ").desc(), F.col("char_id").asc()
        )
        winner = (
            occ.withColumn("_rn", F.row_number().over(wArg))
            .filter("_rn = 1")
            .select("doc_id", "chain_id", "char_id")
        )
        assigned = (
            corefs_df.join(winner, ["doc_id", "chain_id"])
            .select(
                "doc_id",
                "char_id",
                F.array(F.col("char_id")).alias("names"),
                F.lit("UNKNOWN").alias("gender"),
                "mention_str",
                "start_idx",
                "end_idx",
            )
        )
        per = per.unionByName(assigned).dropDuplicates(
            ["doc_id", "char_id", "mention_str", "start_idx", "end_idx"]
        )

    if min_appearances > 0:
        cnt = Window.partitionBy("doc_id", "char_id")
        per = (
            per.withColumn("_n", F.count(F.lit(1)).over(cnt))
            .filter(F.col("_n") >= min_appearances)
            .drop("_n")
        )
    return per


def graph_rules_unify(
    entities_df: DataFrame,
    corefs_df: DataFrame | None = None,
    character_tag: str = "PER",
    lang: str = "eng",
    min_appearances: int = 0,
    link_corefs_mentions: bool = False,
    ignore_lone_titles: set[str] | None = None,
    ignore_leading_determiner: bool = False,
) -> DataFrame:
    """Alias-graph unification, distributed across documents.

    entities_df: (doc_id, start_idx, end_idx, mention_str, tag)
    corefs_df:   (doc_id, chain_id, start_idx, end_idx, mention_str)
    """
    kwargs = dict(
        lang=lang,
        min_appearances=min_appearances,
        link_corefs_mentions=link_corefs_mentions,
        ignore_lone_titles=ignore_lone_titles,
        ignore_leading_determiner=ignore_leading_determiner,
    )
    with_chains = corefs_df is not None

    def step(batches):
        for batch in batches:
            rows = []
            tags = ((batch["_kind"], batch["chain_id"]) if with_chains
                    else (repeat(1), repeat(None)))
            recs = zip(batch["doc_id"], batch["mention_str"],
                       batch["start_idx"], batch["end_idx"], *tags)
            for doc_id, doc in groupby(recs, key=itemgetter(0)):
                mentions, chains = [], {}
                for _, surface, s, e, kind, chain in doc:
                    if kind == 1:
                        mentions.append((surface, s, e))
                    else:
                        chains.setdefault(chain, []).append((surface, s, e))
                # chain and mention order within a document do not
                # change unify_doc's result
                chain_list = list(chains.values()) if with_chains else None
                for c in unify_doc(mentions, chain_list, **kwargs):
                    for surface, s, e in c["mentions"]:
                        rows.append((doc_id, c["char_id"], c["names"],
                                     c["gender"], surface, s, e))
            yield rows

    tagged = entities_df.filter(F.col("tag") == character_tag).select(
        "doc_id", "start_idx", "end_idx", "mention_str"
    )
    if with_chains:
        # chains ride along with the mentions as kind-tagged rows, so
        # each Arrow batch is one Python call over complete documents;
        # without chains no tag columns cross the shuffle
        tagged = tagged.withColumn("_kind", F.lit(1)).unionByName(
            corefs_df.select(
                "doc_id", "start_idx", "end_idx", "mention_str",
                F.lit(0).alias("_kind"), "chain_id",
            ),
            allowMissingColumns=True,
        )
    return map_batches(tagged, step, UNIFIED_SCHEMA, key="doc_id")


def characters_table(unified_mentions: DataFrame) -> DataFrame:
    """(doc_id, char_id, names, gender, mention_count, longest_name,
    shortest_name, most_frequent_name) from the unified-mentions stage
    table. Name helpers mirror Character.longest/shortest/
    most_frequent_name (character_unification.py:23-39): the frequency
    count is restricted to surfaces that are character names, falling
    back to the longest name."""
    base = unified_mentions.groupBy("doc_id", "char_id").agg(
        F.first("names").alias("names"),
        F.first("gender").alias("gender"),
        F.count(F.lit(1)).alias("mention_count"),
    )
    freq = (
        unified_mentions.filter(
            F.array_contains(F.col("names"), F.col("mention_str"))
        )
        .groupBy("doc_id", "char_id", "mention_str")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id", "char_id")
        .agg(
            # frequency ties break toward the SMALLEST name — the repo's
            # canonical first-in-sorted-order convention (the reference's
            # Counter is insertion-ordered, i.e. hash-seed dependent)
            F.min_by(
                "mention_str",
                F.struct((-F.col("n")).alias("n"), F.col("mention_str")),
            ).alias("most_frequent_name")
        )
    )
    out = base.join(freq, ["doc_id", "char_id"], "left")
    longest = F.array_max(
        F.transform("names", lambda n: F.struct(F.length(n).alias("l"), n.alias("n")))
    )["n"]
    shortest = F.array_min(
        F.transform("names", lambda n: F.struct(F.length(n).alias("l"), n.alias("n")))
    )["n"]
    return out.withColumn("longest_name", longest).withColumn(
        "shortest_name", shortest
    ).withColumn(
        "most_frequent_name",
        F.coalesce("most_frequent_name", "longest_name"),
    )


def character_salience(
    unified_mentions: DataFrame, doc_lengths: DataFrame,
    len_col: str = "n_toks",
) -> DataFrame:
    """Per-document entity salience (engine addition; downstream of
    the unification stage the reference stops at): rank characters
    within a document by how often and how early they appear — the
    signal a KG-construction pipeline uses to pick head entities per
    page and to weight triple evidence.

    → (doc_id, char_id, n_mentions, first_idx, spread, salience) with
    ``spread`` = last−first mention position and ``salience`` =
    (n_mentions/n_toks) · (1 − first_idx/n_toks): frequency damped by
    lateness. Every float step is a single IEEE op on integer inputs
    (two divisions, one subtract, one multiply) so values are
    bit-identical cross-engine. One map-side-combined groupBy + one
    equi-join on doc_id — embarrassingly parallel at corpus scale.
    """
    per = unified_mentions.groupBy("doc_id", "char_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
        F.min("start_idx").cast("long").alias("first_idx"),
        F.max("start_idx").cast("long").alias("last_idx"),
    )
    j = per.join(doc_lengths, "doc_id")
    n = F.col(len_col)
    return j.select(
        "doc_id",
        "char_id",
        "n_mentions",
        "first_idx",
        (F.col("last_idx") - F.col("first_idx")).cast("long").alias("spread"),
        (
            (F.col("n_mentions") / n)
            * (F.lit(1.0) - F.col("first_idx") / n)
        ).alias("salience"),
    )
