"""High-level pipeline facade: documents → character network → triples.

The Spark analog of the reference's ``Pipeline`` fold
(/root/reference/renard/pipeline/core.py:695-735): each stage is a
DataFrame→DataFrame function; the returned dict of stage tables is the
"pipeline state" (one table per state attribute instead of one mutable
blackboard per document). Stage checkpointing/resume lives in
``plans.stage``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from renard_spark import corpus as corpus_mod
from renard_spark.operators import cooccur, ner, tokenize, triples, unify
from renard_spark.sources import ingest


def default_gazetteer() -> list[str]:
    """All surface forms of the synthetic corpus cast."""
    forms: set[str] = set()
    for first, last, gender, nicks in corpus_mod.CAST:
        forms.update(corpus_mod.name_forms(first, last, gender, nicks))
    return sorted(forms)


def character_graph_pipeline(
    documents_df: DataFrame,
    gazetteer: list[str] | None = None,
    dist: tuple[int, str] = (1, "sentences"),
    unifier: str = "graph_rules",
    min_appearances: int = 0,
    dynamic_window: int | None = None,
    dynamic_overlap: int = 0,
    corefs_df: DataFrame | None = None,
    polarities_df: DataFrame | None = None,
    cooccur_path: str = "grouped",
    persist: bool = True,
    additional_ner_classes: list[str] | None = None,
    extra_entities_df: DataFrame | None = None,
    ner_model_factory=None,
    coref_scorer_factory=None,
    coref_block_size: int = 512,
) -> dict[str, DataFrame]:
    """Run the co-occurrence pipeline; returns all stage tables.

    Mirrors the reference's preconfigured ``co_occurrence_pipeline``
    (preconfigured.py:36-37; default dist (1,'sentences')).

    cooccur_path: 'grouped' (per-doc exact path, default) or 'joins'
    (distributed containment joins — the scale path for huge single
    documents, whose per-doc scan cannot spread over tasks, and for
    dynamic windows). persist=True caches the two stage tables every
    downstream branch re-reads (tokens, unified mentions) so the lazy
    DAG doesn't recompute ingest+tokenize per branch.

    The default configuration — rule NER, the 'graph_rules' unifier,
    no coref chains (given or model-computed), no additional NER
    classes, no polarities, no dynamic window, cooccur_path 'grouped'
    — computes ``edges`` in ONE Python crossing per document with no
    shuffle (``cooccurrence_edges_grouped`` over the documents and the
    gazetteer); ``entities`` and ``unified_mentions`` stay the same
    stage tables, computed only if read. Every other configuration
    runs co-occurrence over the unified-mentions table.

    Model-backed stages swap in behind the same schemas (the
    reference's pluggable-step semantics): ``ner_model_factory``
    replaces the rule NER with ``ner.model_ner``;
    ``coref_scorer_factory`` (when no corefs_df is given) computes
    chains with ``coref.model_corefs`` at ``coref_block_size``.
    """
    gazetteer = gazetteer or default_gazetteer()
    docs = ingest.normalize_documents(documents_df)
    lineage = ingest.span_lineage(docs)
    # compact per-sentence form drives the hot path: tokenizer, NER and
    # sentence bounds are all zero-shuffle; the exploded tokens table is
    # only computed if a consumer reads it from the returned dict.
    st = tokenize.sentence_tokens(docs)
    if persist:
        st = st.persist()
    toks = tokenize.tokens(docs)
    if ner_model_factory is not None:
        entities = ner.model_ner(st, ner_model_factory)
    else:
        entities = ner.rule_ner_sentences(st, gazetteer)
    if coref_scorer_factory is not None and corefs_df is None:
        from renard_spark.operators import coref as coref_mod

        corefs_df = coref_mod.model_corefs(
            tokenize.doc_tokens(toks), coref_scorer_factory,
            block_size=coref_block_size,
        )
    if unifier == "graph_rules":
        unified = unify.graph_rules_unify(
            entities, corefs_df, min_appearances=min_appearances
        )
    elif unifier == "naive":
        unified = unify.naive_unify(
            entities, corefs_df, min_appearances=min_appearances
        )
    else:
        raise ValueError(f"unknown unifier: {unifier}")

    if persist:
        unified = unified.persist()
    mentions = unified.select("doc_id", "char_id", "start_idx", "end_idx")
    if additional_ner_classes:
        # reference additional_ner_classes (graph_extraction.py:193-203):
        # non-character entities join the graph keyed by raw surface
        # form, no unification attempted.
        from pyspark.sql import functions as F

        extra_src = extra_entities_df if extra_entities_df is not None else entities
        extra = extra_src.filter(
            F.col("tag").isin(additional_ner_classes)
        ).select(
            "doc_id",
            F.col("mention_str").alias("char_id"),
            "start_idx",
            "end_idx",
        )
        mentions = mentions.unionByName(extra)
    group_col = None
    if dynamic_window is not None:
        mentions = cooccur.add_window_ids(mentions, dynamic_window, dynamic_overlap)
        group_col = "window_id"
    one_crossing = (
        ner_model_factory is None
        and unifier == "graph_rules"
        and corefs_df is None
        and not additional_ner_classes
        and polarities_df is None
        and group_col is None
        and cooccur_path == "grouped"
    )
    if one_crossing:
        edges = cooccur.cooccurrence_edges_grouped(
            documents_df=docs,
            gazetteer=gazetteer,
            dist=dist[0],
            unit=dist[1],
            min_appearances=min_appearances,
        )
    elif cooccur_path == "grouped" and group_col is None:
        edges = cooccur.cooccurrence_edges_grouped(
            mentions,
            dist=dist[0],
            unit=dist[1],
            sent_info_df=st,
            polarities_df=polarities_df,
        )
    else:
        edges = cooccur.cooccurrence_edges(
            mentions,
            dist=dist[0],
            unit=dist[1],
            tokens_df=toks,
            polarities_df=polarities_df,
            group_col=group_col,
        )
    trip = triples.edges_to_triples(edges)
    return {
        "documents": docs,
        "lineage": lineage,
        "sentence_tokens": st,
        "tokens": toks,
        "entities": entities,
        "unified_mentions": unified,
        "characters": unify.characters_table(unified),
        "nodes": triples.nodes_table(unified),
        "edges": edges,
        "triples": trip,
    }


def conversational_pipeline(
    documents_df: DataFrame,
    gazetteer: list[str] | None = None,
    conversation_dist: tuple[int, str] = (1, "tokens"),
    graph_type: str = "conversation",
    persist: bool = True,
    speaker_scorer_factory=None,
) -> dict[str, DataFrame]:
    """Reference preconfigured conversational pipeline
    (preconfigured.py:88-94: dist 1): quotes → speakers →
    conversation/mention graph. ``speaker_scorer_factory`` swaps the
    rule attributor for ``quotes.model_speakers`` (same schema)."""
    from renard_spark.operators import conversation, quotes

    gazetteer = gazetteer or default_gazetteer()
    docs = ingest.normalize_documents(documents_df)
    toks = tokenize.tokens(docs)
    if persist:
        toks = toks.persist()
    entities = ner.rule_ner(toks, gazetteer)
    unified = unify.graph_rules_unify(entities)
    if persist:
        unified = unified.persist()
    q = quotes.detect_quotes(toks)
    if speaker_scorer_factory is not None:
        speakers = quotes.model_speakers(
            tokenize.doc_tokens(toks), q, unified, speaker_scorer_factory
        )
    else:
        speakers = quotes.attribute_speakers(q, unified)
    if graph_type == "conversation":
        edges = conversation.conversation_edges(
            speakers, dist=conversation_dist[0], unit=conversation_dist[1],
            tokens_df=toks,
        )
        trip = triples.edges_to_triples(edges, pred="converses_with")
    else:
        edges = conversation.mention_graph_edges(speakers, unified)
        trip = triples.edges_to_triples(edges, pred="mentions")
    return {
        "documents": docs,
        "tokens": toks,
        "entities": entities,
        "unified_mentions": unified,
        "quotes": q,
        "speakers": speakers,
        "edges": edges,
        "triples": trip,
    }


def relational_pipeline(
    documents_df: DataFrame,
    gazetteer: list[str] | None = None,
    min_rel_occurrences: int = 1,
    persist: bool = True,
) -> dict[str, DataFrame]:
    """Reference preconfigured relational pipeline: pattern relation
    extraction → character resolution → relational edges."""
    from renard_spark.operators import relations

    gazetteer = gazetteer or default_gazetteer()
    docs = ingest.normalize_documents(documents_df)
    toks = tokenize.tokens(docs)
    if persist:
        toks = toks.persist()
    entities = ner.rule_ner(toks, gazetteer)
    unified = unify.graph_rules_unify(entities)
    if persist:
        unified = unified.persist()
    raw = relations.pattern_relations(unified, toks)
    # unified feeds name_to_char directly (see resolve_triples doc);
    # the characters table stays a stage OUTPUT but no longer sits on
    # the triple path (lazy: only computed if a consumer reads it)
    chars = unify.characters_table(unified)
    resolved = relations.resolve_triples(raw, unified)
    edges = relations.relational_edges(resolved, min_rel_occurrences)
    trip = edges.selectExpr(
        "doc_id", "subj_char as subj", "rel as pred", "obj_char as obj",
        "n as weight",
    )
    return {
        "documents": docs,
        "tokens": toks,
        "entities": entities,
        "unified_mentions": unified,
        "characters": chars,
        "raw_relations": raw,
        "resolved_relations": resolved,
        "edges": edges,
        "triples": trip,
    }
