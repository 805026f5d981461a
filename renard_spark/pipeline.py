"""The narrative DAG, declared once: documents → character network → triples.

The Spark analog of the reference's ``Pipeline`` (pipeline/core.py:
695-780), which both folds its steps over a document's state and
resumes them with ``rerun_from``. ``narrative_stages`` turns a run's
parameters into one ordered list of ``plans.stage.Stage``; each fn is a
DataFrame→DataFrame step over its upstream stage tables, and its
``config`` holds every parameter the fn reads. Two executors run it:
``compose`` (lazy; behind the facades below, whose returned dict of
stage tables is the "pipeline state") and ``plans.stage.StageRunner``
(``run.build_runner``: materialized to a catalog, resumable).

The stored token stage is the compact ``sentence_tokens`` table; stages
that read one row per token derive it with one narrow posexplode
(``tokenize.tokens_from_sentences``).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renard_spark import corpus as corpus_mod
from renard_spark.operators import (
    conversation, cooccur, coref, linking, ner, quotes, relations, sentiment,
    tokenize, triples, unify,
)
from renard_spark.plans.stage import Stage
from renard_spark.sources import ingest

# stage tables several downstream branches re-read: cached by the lazy
# executor so the DAG doesn't recompute ingest+tokenize per branch
PERSISTED = ("sentence_tokens", "unified_mentions")


def default_gazetteer() -> list[str]:
    """All surface forms of the synthetic corpus cast."""
    forms: set[str] = set()
    for first, last, gender, nicks in corpus_mod.CAST:
        forms.update(corpus_mod.name_forms(first, last, gender, nicks))
    return sorted(forms)


def _digest(names) -> str:
    return hashlib.md5("\n".join(sorted(set(names))).encode()).hexdigest()


def _name(factory) -> str:
    return f"{factory.__module__}.{factory.__qualname__}"


def _stage(name: str, needs: list[str], fn, **config) -> Stage:
    """A stage whose fn takes its upstream tables in ``needs`` order."""
    return Stage(name, list(needs), lambda spark, *t: fn(*t), config)


def narrative_stages(
    gazetteer: list[str] | None = None,
    dist: tuple[int, str] = (1, "sentences"),
    unifier: str = "graph_rules",
    min_appearances: int = 0,
    corefs: str | None = None,
    polarities: str | None = None,
    dynamic_window: int | None = None,
    dynamic_overlap: int = 0,
    additional_ner_classes: list[str] | None = None,
    extra_entities: bool = False,
    ner_model_factory=None,
    coref_scorer_factory=None,
    coref_block_size: int = 512,
    conversation_dist: tuple[int, str] = (1, "tokens"),
    speaker_scorer_factory=None,
    min_rel_occurrences: int = 1,
    link_prior_weight: float = 0.4,
    kb_version: str = "v0",
) -> list[Stage]:
    """Every stage of the narrative DAG over the input ``documents_raw``,
    in dependency order; an executor runs the ones it needs.

    corefs: None, 'input' (a ``corefs`` input table), 'rules' or
    'model' (``coref_scorer_factory``). polarities: None, 'input' or
    'lexicon' (``sentiment.sentence_polarities_narrow``).
    extra_entities: the additional NER classes come from an
    ``extra_entities`` input instead of ``entities``. ``entity_links``
    needs a ``kb`` input.

    With rule NER, the 'graph_rules' unifier, no corefs, no additional
    NER classes, no polarities and no dynamic window, ``edges`` comes
    from the documents in ONE Python crossing per document with no
    shuffle (``cooccurrence_edges_grouped``): it reads the
    ``documents`` stage's spans and joins and tokenizes them in Python,
    off the stored ``sentence_tokens`` stage. Every other configuration
    runs ``cooccurrence_edges`` over the unified mentions and the
    ``sentence_tokens`` table.
    """
    gaz = gazetteer or default_gazetteer()
    if unifier not in ("graph_rules", "naive"):
        raise ValueError(f"unknown unifier: {unifier}")
    # the triples-path operators are looked up on their module when the
    # stage runs, so a wrapper installed there (a layer tracer) is called
    toks = tokenize.tokens_from_sentences
    if ner_model_factory is not None:
        entities = _stage(
            "entities", ["sentence_tokens"],
            lambda st: ner.model_ner(st, ner_model_factory),
            ner_model=_name(ner_model_factory))
    else:
        entities = _stage(
            "entities", ["sentence_tokens"],
            lambda st: ner.rule_ner_sentences(st, gaz), gazetteer=_digest(gaz))
    stages = [
        _stage("documents", ["documents_raw"],
               lambda d: ingest.normalize_documents(d)),
        _stage("lineage", ["documents"], ingest.span_lineage),
        _stage("sentence_tokens", ["documents"],
               lambda d: tokenize.sentence_tokens(d)),
        _stage("tokens", ["sentence_tokens"], toks),
        entities,
    ]
    if corefs == "rules":
        stages.append(_stage("corefs", ["sentence_tokens", "entities"],
                             lambda st, e: coref.rule_corefs(toks(st), e)))
    elif corefs == "model":
        stages.append(_stage(
            "corefs", ["sentence_tokens"],
            lambda st: coref.model_corefs(
                tokenize.doc_tokens(toks(st)), coref_scorer_factory,
                block_size=coref_block_size),
            coref_model=_name(coref_scorer_factory),
            block_size=coref_block_size))
    stages += [
        _stage("unified_mentions", ["entities"] + (["corefs"] if corefs else []),
               lambda e, c=None: getattr(unify, f"{unifier}_unify")(
                   e, c, min_appearances=min_appearances),
               unifier=unifier, min_appearances=min_appearances),
        _stage("characters", ["unified_mentions"], unify.characters_table),
        _stage("nodes", ["unified_mentions"], triples.nodes_table),
    ]
    if polarities == "lexicon":
        stages.append(_stage("polarities", ["sentence_tokens"],
                             sentiment.sentence_polarities_narrow))

    if (ner_model_factory is None and unifier == "graph_rules"
            and corefs is None and not additional_ner_classes
            and polarities is None and dynamic_window is None):
        edges = _stage(
            "edges", ["documents"],
            lambda d: cooccur.cooccurrence_edges_grouped(
                documents_df=d, gazetteer=gaz, dist=dist[0], unit=dist[1],
                min_appearances=min_appearances),
            dist=list(dist), gazetteer=_digest(gaz),
            min_appearances=min_appearances)
    else:
        extra = "extra_entities" if extra_entities else "entities"
        needs = (["unified_mentions", "sentence_tokens"]
                 + ([extra] if additional_ner_classes else [])
                 + (["polarities"] if polarities else []))

        def cooccurrences(*tables):
            t = dict(zip(needs, tables))
            mentions = t["unified_mentions"].select(
                "doc_id", "char_id", "start_idx", "end_idx")
            if additional_ner_classes:
                # reference additional_ner_classes (graph_extraction.py:
                # 193-203): non-character entities join the graph keyed
                # by raw surface form, no unification attempted.
                mentions = mentions.unionByName(
                    t[extra].filter(F.col("tag").isin(additional_ner_classes))
                    .select("doc_id", F.col("mention_str").alias("char_id"),
                            "start_idx", "end_idx"))
            group_col = None
            if dynamic_window is not None:
                mentions = cooccur.add_window_ids(
                    mentions, dynamic_window, dynamic_overlap)
                group_col = "window_id"
            return cooccur.cooccurrence_edges(
                mentions, dist=dist[0], unit=dist[1],
                tokens_df=t["sentence_tokens"],
                polarities_df=t.get("polarities"), group_col=group_col)

        edges = _stage(
            "edges", needs, cooccurrences, dist=list(dist),
            dynamic_window=dynamic_window,
            dynamic_overlap=dynamic_overlap,
            additional_ner_classes=additional_ner_classes)

    if speaker_scorer_factory is not None:
        speakers = _stage(
            "speakers", ["sentence_tokens", "quotes", "unified_mentions"],
            lambda st, q, u: quotes.model_speakers(
                tokenize.doc_tokens(toks(st)), q, u, speaker_scorer_factory),
            speaker_model=_name(speaker_scorer_factory))
    else:
        speakers = _stage("speakers", ["quotes", "unified_mentions"],
                          quotes.attribute_speakers)
    return stages + [
        edges,
        _stage("triples", ["edges"], lambda e: triples.edges_to_triples(e)),
        # bump kb_version when the KB contents change, or the
        # checkpointed links are (correctly) reused
        _stage("entity_links", ["sentence_tokens", "kb"],
               lambda st, kb: linking.link_entities(
                   toks(st), kb, prior_weight=link_prior_weight),
               prior_weight=link_prior_weight, kb_version=kb_version),
        _stage("token_offsets", ["documents"], tokenize.tokens_with_offsets),
        _stage("media_links", ["documents", "unified_mentions",
                               "token_offsets"], _media_links),
        _stage("quotes", ["sentence_tokens"],
               lambda st: quotes.detect_quotes(toks(st))),
        speakers,
        _stage("conversation_edges", ["speakers", "sentence_tokens"],
               lambda sp, st: conversation.conversation_edges(
                   sp, dist=conversation_dist[0], unit=conversation_dist[1],
                   tokens_df=toks(st)),
               dist=list(conversation_dist)),
        _stage("conversation_triples", ["conversation_edges"],
               lambda e: triples.edges_to_triples(e, pred="converses_with")),
        _stage("mention_edges", ["speakers", "unified_mentions"],
               conversation.mention_graph_edges),
        _stage("mention_triples", ["mention_edges"],
               lambda e: triples.edges_to_triples(e, pred="mentions")),
        _stage("raw_relations", ["unified_mentions", "sentence_tokens"],
               lambda u, st: relations.pattern_relations(u, toks(st))),
        # unified feeds name_to_char directly (see resolve_triples doc),
        # so the characters table does not sit on the triple path
        _stage("resolved_relations", ["raw_relations", "unified_mentions"],
               relations.resolve_triples),
        _stage("relation_edges", ["resolved_relations"],
               lambda r: relations.relational_edges(r, min_rel_occurrences),
               min_rel_occurrences=min_rel_occurrences),
        _stage("relation_triples", ["relation_edges"],
               lambda e: e.selectExpr("doc_id", "subj_char as subj",
                                      "rel as pred", "obj_char as obj",
                                      "n as weight")),
    ]


def _media_links(documents, unified_mentions, token_offsets) -> DataFrame:
    """Media grounding: interleaved media spans → nearest unified
    mention by char offset (KG edges character-[appears_near]->
    media_ref). Mention char positions come from the Arrow offset
    tokenizer joined back on the token index."""
    return linking.link_media_to_mentions(
        ingest.media_spans(documents),
        unified_mentions.join(
            token_offsets.select(
                "doc_id", F.col("tok_idx").alias("start_idx"), "char_start"),
            ["doc_id", "start_idx"],
        ).select("doc_id", "char_start", F.col("char_id").alias("character")),
    )


def upstream(stages: list[Stage], names) -> list[Stage]:
    """The stages producing ``names`` and every stage they need, in
    the list's order."""
    by_name = {st.name: st for st in stages}
    keep: set[str] = set()
    todo = list(names)
    while todo:
        name = todo.pop()
        if name in by_name and name not in keep:
            keep.add(name)
            todo.extend(by_name[name].needs)
    return [st for st in stages if st.name in keep]


def compose(stages: list[Stage], inputs: dict[str, DataFrame],
            persist: bool = True) -> dict[str, DataFrame]:
    """The lazy executor: each stage's fn over its upstream DataFrames,
    in order, the ``PERSISTED`` tables cached when ``persist``. Returns
    the inputs and every stage table by name."""
    tables = dict(inputs)
    spark = next(iter(inputs.values())).sparkSession
    for st in stages:
        df = st.fn(spark, *(tables[n] for n in st.needs))
        tables[st.name] = df.persist() if persist and st.name in PERSISTED else df
    return tables


def _run(stages, inputs, persist, names, **renamed) -> dict[str, DataFrame]:
    """``compose`` what ``names`` and ``renamed`` (key → stage) need;
    return those tables."""
    keys = {**{n: n for n in names}, **renamed}
    tables = compose(upstream(stages, keys.values()), inputs, persist)
    return {key: tables[name] for key, name in keys.items()}


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

    persist=True caches the stage tables every downstream branch
    re-reads (``PERSISTED``). The default configuration computes
    ``edges`` in one Python crossing per document with no shuffle (see
    ``narrative_stages``).

    Model-backed stages swap in behind the same schemas (the
    reference's pluggable-step semantics): ``ner_model_factory``
    replaces the rule NER with ``ner.model_ner``;
    ``coref_scorer_factory`` (when no corefs_df is given) computes
    chains with ``coref.model_corefs`` at ``coref_block_size``.
    """
    given = {"documents_raw": documents_df, "corefs": corefs_df,
             "polarities": polarities_df, "extra_entities": extra_entities_df}
    inputs = {k: df for k, df in given.items() if df is not None}
    stages = narrative_stages(
        gazetteer, dist, unifier, min_appearances,
        corefs="input" if corefs_df is not None
        else "model" if coref_scorer_factory is not None else None,
        polarities="input" if polarities_df is not None else None,
        dynamic_window=dynamic_window,
        dynamic_overlap=dynamic_overlap,
        additional_ner_classes=additional_ner_classes,
        extra_entities=extra_entities_df is not None,
        ner_model_factory=ner_model_factory,
        coref_scorer_factory=coref_scorer_factory,
        coref_block_size=coref_block_size,
    )
    return _run(stages, inputs, persist, (
        "documents", "lineage", "sentence_tokens", "tokens", "entities",
        "unified_mentions", "characters", "nodes", "edges", "triples"))


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
    graph = "conversation" if graph_type == "conversation" else "mention"
    stages = narrative_stages(
        gazetteer, conversation_dist=conversation_dist,
        speaker_scorer_factory=speaker_scorer_factory)
    return _run(
        stages, {"documents_raw": documents_df}, persist,
        ("documents", "tokens", "entities", "unified_mentions", "quotes",
         "speakers"),
        edges=f"{graph}_edges", triples=f"{graph}_triples")


def relational_pipeline(
    documents_df: DataFrame,
    gazetteer: list[str] | None = None,
    min_rel_occurrences: int = 1,
    persist: bool = True,
) -> dict[str, DataFrame]:
    """Reference preconfigured relational pipeline: pattern relation
    extraction → character resolution → relational edges."""
    stages = narrative_stages(gazetteer,
                              min_rel_occurrences=min_rel_occurrences)
    return _run(
        stages, {"documents_raw": documents_df}, persist,
        ("documents", "tokens", "entities", "unified_mentions", "characters",
         "raw_relations", "resolved_relations"),
        edges="relation_edges", triples="relation_triples")
