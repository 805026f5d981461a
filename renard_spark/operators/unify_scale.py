"""Cross-document character unification: one alias graph over a table.

The per-document unifier (``unify.graph_rules_unify``) runs the whole
alias graph of each document in one Python call. This module unifies a
whole table as ONE scope — a cross-document entity table, where the
same surface in different documents resolves to one global entity.

Pipeline: distinct names → candidate pairs by token/hypocorism-family
blocking keys (a full self-join would be quadratic in the table's
distinct names) → the core's alias rule (``unify_core._NameFeatures
.related``) in an Arrow UDF → distributed connected components over the
UNCUT alias graph (operators.cc) → **exact contradiction pass per
initial component** (``unify_core.alias_components`` in a cogrouped
applyInPandas): cuts never merge components and cross-component
contradiction pairs are no-ops, so the reference's sequential
whole-graph pass (character_unification.py:293-327) decomposes exactly
into independent per-component passes in canonical order.
Property-tested EQUAL to ``unify_core.unify_doc`` over the pooled
mentions. Gender is inferred per name (title gazetteer; pronoun votes
from ``corefs_df`` chains).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from renard_spark.functions.names import parse_name
from renard_spark.operators.cc import connected_components
from renard_spark.operators.unify_core import (
    _name_features,
    alias_components,
    infer_gender,
)


@F.pandas_udf(T.BooleanType())
def _alias_rule_udf(n1: pd.Series, n2: pd.Series) -> pd.Series:
    """The core's alias rules (hypocorism/equal, related after title
    removal, same last name, same first name) over name pairs."""
    return pd.Series([
        _name_features(a, "eng").related(_name_features(b, "eng"))
        for a, b in zip(n1, n2)
    ])


@F.pandas_udf(T.StringType())
def _gender_udf(names: pd.Series) -> pd.Series:
    return pd.Series([infer_gender(n, None, "eng") for n in names])


def _chain_gender_votes(names: DataFrame, corefs_df: DataFrame) -> DataFrame:
    """Fold coref-chain pronoun votes into per-name gender — the exact
    ``infer_gender`` semantics (unify_core.py:75-96) as DataFrame ops:
    title gender (already in ``names.gender``) wins when known; else,
    over chains CONTAINING the name, count each chain's distinct male/
    female pronoun SURFACES (set semantics: 'He' and 'he' are two
    surfaces, a repeated 'he' is one) and majority-vote, ties UNKNOWN.
    A chain is one (doc_id, chain_id).
    """
    from renard_spark.resources.gazetteers import (
        FEMALE_PRONOUNS,
        MALE_PRONOUNS,
    )

    male = sorted(MALE_PRONOUNS["eng"])
    female = sorted(FEMALE_PRONOUNS["eng"])
    chain = ["doc_id", "chain_id"]
    surf = corefs_df.select(*chain, "mention_str").distinct()
    counts = surf.groupBy(*chain).agg(
        F.sum(
            F.when(F.lower("mention_str").isin(male), 1).otherwise(0)
        ).alias("_mc"),
        F.sum(
            F.when(F.lower("mention_str").isin(female), 1).otherwise(0)
        ).alias("_fc"),
    )
    votes = (
        surf.join(counts, chain)
        .groupBy("mention_str")
        .agg(F.sum("_mc").alias("_m"), F.sum("_fc").alias("_f"))
        .select(
            "mention_str",
            F.when(F.col("_m") > F.col("_f"), F.lit("MALE"))
            .when(F.col("_f") > F.col("_m"), F.lit("FEMALE"))
            .otherwise(F.lit("UNKNOWN"))
            .alias("_vote"),
        )
    )
    return names.join(votes, "mention_str", "left").select(
        "mention_str",
        F.when(F.col("gender") != "UNKNOWN", F.col("gender"))
        .otherwise(F.coalesce("_vote", F.lit("UNKNOWN")))
        .alias("gender"),
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def _block_keys_udf(names: pd.Series) -> pd.Series:
    """Entity-resolution blocking keys for a name. SOUND for the alias
    rules: every rule — hypocorism (single-gazetteer-name strings),
    equal-after-title-removal, shared last token, shared first token —
    requires the two names to share a lowercase token OR a hypocorism
    family hub of one of their tokens, so candidate generation on
    these keys loses NO true pair (over-generation is fine: the rule
    UDF re-checks each candidate)."""
    from renard_spark.resources.gazetteers import names_of_nickname

    out = []
    for n in names:
        keys: set[str] = set()
        for tok in str(n).lower().split():
            keys.add(tok)
            keys.update(names_of_nickname(tok))
        out.append(sorted(keys))
    return pd.Series(out)


def unify_distributed(
    entities_df: DataFrame,
    character_tag: str = "PER",
    min_appearances: int = 0,
    corefs_df: DataFrame | None = None,
) -> DataFrame:
    """→ unified mentions (char_id, names, gender, mention_str,
    start_idx, end_idx) over the whole table as one scope; every other
    entity column (e.g. doc_id) passes through, keeping per-document
    provenance.

    ``corefs_df`` (doc_id, chain_id, mention_str, ...) joins chain
    pronoun votes into the gender inference, as ``infer_gender(chains=
    ...)`` does; the informed gender then feeds the contradiction
    refinement. (Chain-mention assignment and the link_corefs_mentions
    rule are per-document features of ``unify.graph_rules_unify``.)"""
    # the mention table feeds TWO consumers (the distinct-surface names
    # build and the final labeling join) — without a checkpoint the
    # upstream lineage (tokenize + NER over the whole corpus) executes
    # once per consumer; mentions are mention-scale, so truncating here
    # saves a full corpus scan per call. Lazy: materialized by the
    # names checkpoint below, reused by the final join.
    per = entities_df.filter(F.col("tag") == character_tag).localCheckpoint(
        eager=False
    )
    # names and linked pairs feed several consumers each (pair sides,
    # node/edge sides, labeling) and carry Arrow-UDF stages —
    # checkpoint once instead of recomputing the UDFs per consumer
    names = (
        per.select("mention_str")
        .distinct()
        .withColumn("gender", _gender_udf("mention_str"))
    )
    if corefs_df is not None:
        names = _chain_gender_votes(names, corefs_df)
    names = names.localCheckpoint(eager=True)

    keyed = names.select(
        F.col("mention_str").alias("_kn"),
        F.explode(_block_keys_udf("mention_str")).alias("_key"),
    )
    pairs = (
        keyed.alias("x")
        .join(
            keyed.alias("y"),
            (F.col("x._key") == F.col("y._key"))
            & (F.col("x._kn") < F.col("y._kn")),
        )
        .select(F.col("x._kn").alias("n1"), F.col("y._kn").alias("n2"))
        .distinct()
    )
    linked = pairs.filter(_alias_rule_udf("n1", "n2")).localCheckpoint(
        eager=True
    )

    # Stage 1 — distributed CC over the UNCUT alias graph. Cuts never
    # merge components, and cross-component contradiction pairs are
    # no-ops, so the sequential contradiction pass decomposes exactly
    # per initial component.
    singles = names.select(
        F.col("mention_str").alias("src"), F.col("mention_str").alias("dst")
    )
    all_edges = linked.select(
        F.col("n1").alias("src"), F.col("n2").alias("dst")
    ).unionByName(singles)
    comp0 = connected_components(all_edges)
    membership0 = comp0.select(
        F.col("vertex").alias("mention_str"), F.col("component").alias("comp0")
    )

    # Stage 2 — exact contradiction pass per initial component
    # (canonical sorted-pair order; component graphs are tiny), inside
    # one cogrouped applyInPandas keyed by comp0.
    #
    # Singleton components (the vast majority: any name with no alias
    # link) CANNOT contradict — they bypass the cogroup entirely
    # (char_id = the name itself), so the Python-per-group cost is paid
    # only for true multi-name components.
    multi_keys = (
        membership0.groupBy("comp0").agg(F.count(F.lit(1)).alias("_n"))
        .filter("_n > 1").select("comp0")
    )
    single_membership = membership0.join(
        multi_keys, "comp0", "left_anti"
    ).select("mention_str", F.col("mention_str").alias("char_id"))
    node_side = (
        membership0.join(multi_keys, "comp0", "left_semi")
        .join(names, "mention_str")
        .select("comp0", "mention_str", "gender")
    )
    # a fresh projection of comp0: reusing membership0 on both cogroup
    # sides makes comp0 an ambiguous self-join column
    edge_side = linked.join(
        comp0.select(
            F.col("vertex").alias("n1"), F.col("component").alias("comp0")
        ),
        "n1",
    ).select("comp0", "n1", "n2")

    def refine(nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        node_names = sorted(nodes_pdf["mention_str"])
        genders = dict(zip(nodes_pdf["mention_str"], nodes_pdf["gender"]))
        adj = {n: set() for n in node_names}
        for a, b in zip(edges_pdf["n1"], edges_pdf["n2"]):
            adj[a].add(b)
            adj[b].add(a)
        parsed = {n: parse_name(n) for n in node_names}
        rows = [
            (n, comp[0])
            for comp in alias_components(node_names, adj, parsed, genders)
            for n in comp
        ]
        return pd.DataFrame(rows, columns=["mention_str", "char_id"])

    membership = (
        node_side.groupBy("comp0")
        .cogroup(edge_side.groupBy("comp0"))
        .applyInPandas(refine, schema="mention_str string, char_id string")
        .unionByName(single_membership)
    )
    labeled = membership.join(names, "mention_str")
    chars = labeled.groupBy("char_id").agg(
        F.array_sort(F.collect_set("mention_str")).alias("names")
    )
    # majority gender vote; ties break toward the gender of the FIRST
    # name in sorted-component order — same canonical rule as
    # unify_core.unify_doc, so both stay property-equal even on 1-1
    # MALE/FEMALE components.
    votes = labeled.groupBy("char_id", "gender").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("mention_str").alias("_first_name"),
    )
    wv = Window.partitionBy("char_id").orderBy(
        F.col("n").desc(), F.col("_first_name").asc()
    )
    gvote = (
        votes.withColumn("_r", F.row_number().over(wv))
        .filter("_r = 1")
        .select("char_id", "gender")
    )
    chars = chars.join(gvote, "char_id")

    core = ["char_id", "names", "gender", "mention_str", "start_idx",
            "end_idx"]
    extra = [c for c in per.columns if c not in core and c != "tag"]
    unified = (
        per.join(membership, "mention_str")
        .join(chars, "char_id")
        .select(*extra, *core)
    )
    if min_appearances > 0:
        cnt = Window.partitionBy("char_id")
        unified = (
            unified.withColumn("_n", F.count(F.lit(1)).over(cnt))
            .filter(F.col("_n") >= min_appearances)
            .drop("_n")
        )
    return unified
