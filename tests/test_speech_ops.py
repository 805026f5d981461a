"""Quotes, speakers, sentiment, coref, conversational + relational
graph operators."""

from pyspark.sql import functions as F

from renard_spark import corpus, pipeline
from renard_spark.operators import (
    conversation,
    coref,
    ner,
    quotes,
    relations,
    sentiment,
    tokenize,
    unify,
)
from renard_spark.sources import ingest


def _tokens_from_words(spark, docs: dict[str, list[str]], sent_len=1000):
    rows = []
    for doc_id, words in docs.items():
        for i, t in enumerate(words):
            rows.append((doc_id, i // sent_len, i, t))
    return spark.createDataFrame(
        rows, "doc_id string, sent_idx int, tok_idx int, token string"
    )


def _rule_ner_from_words(spark, docs: dict[str, list[str]], gazetteer,
                         sent_len=1000):
    """rule_ner_sentences over the compact per-sentence form of the
    same sentences as _tokens_from_words(docs, sent_len)."""
    rows = []
    for doc_id, words in docs.items():
        for k, s0 in enumerate(range(0, len(words), sent_len)):
            sent = words[s0:s0 + sent_len]
            rows.append((doc_id, k, s0, s0 + len(sent), sent))
    st = spark.createDataFrame(
        rows,
        "doc_id string, sent_idx int, sent_start int, sent_end int,"
        " toks array<string>",
    )
    return ner.rule_ner_sentences(st, gazetteer)


def test_quote_detection_exact(spark):
    words = 'He said " You must come " and left .'.split()
    toks = _tokens_from_words(spark, {"d": words})
    got = quotes.detect_quotes(toks).collect()
    assert [(r.quote_id, r.start, r.end) for r in got] == [(0, 2, 7)]
    # no quote marks → nothing (ref tests/test_quote_detection.py:30-38)
    toks2 = _tokens_from_words(spark, {"d": "nothing to see here".split()})
    assert quotes.detect_quotes(toks2).count() == 0
    # unclosed quote → nothing
    toks3 = _tokens_from_words(spark, {"d": '" unclosed forever'.split()})
    assert quotes.detect_quotes(toks3).count() == 0


def test_quote_detection_multiple_and_asymmetric(spark):
    words = '« bonjour » said A then " hi " again'.split()
    toks = _tokens_from_words(spark, {"d": words})
    got = sorted(
        (r.quote_id, r.start, r.end) for r in quotes.detect_quotes(toks).collect()
    )
    assert got == [(0, 0, 3), (1, 6, 9)]


def test_speaker_attribution_said_pattern(spark):
    words = '" Pray tell " said Elizabeth . " Never " replied Darcy .'.split()
    toks = _tokens_from_words(spark, {"d": words})
    q = quotes.detect_quotes(toks)
    ents = _rule_ner_from_words(spark, {"d": words}, ["Elizabeth", "Darcy"])
    unified = unify.naive_unify(ents)
    sp = quotes.attribute_speakers(q, unified).collect()
    by_q = {r.quote_id: r.speaker_char_id for r in sp}
    assert by_q == {0: "Elizabeth", 1: "Darcy"}


def test_conversation_edges_tokens(spark):
    # quotes at [0,3) speaker A, [4,7) speaker B, [30,33) speaker A
    rows = [
        ("d", 0, 0, 3, "A"), ("d", 1, 4, 7, "B"), ("d", 2, 30, 33, "A"),
        ("d", 3, 34, 37, None),
    ]
    sp = spark.createDataFrame(
        rows,
        "doc_id string, quote_id int, start int, end int, speaker_char_id string",
    )
    got = {
        (r.src, r.dst): r.weight
        for r in conversation.conversation_edges(sp, dist=2, unit="tokens").collect()
    }
    # q0-q1 gap=1 interact; q1-q2 gap=23 no; q2-q3 speaker None ignored
    assert got == {("A", "B"): 1}


def test_mention_graph(spark):
    sp = spark.createDataFrame(
        [("d", 0, 0, 10, "A"), ("d", 1, 20, 30, "B")],
        "doc_id string, quote_id int, start int, end int, speaker_char_id string",
    )
    um = spark.createDataFrame(
        [
            ("d", "B", "B", 2, 3),   # B mentioned twice inside quote 0 → once
            ("d", "B", "B", 4, 5),
            ("d", "A", "A", 6, 7),   # self-mention of A in own quote ignored
            ("d", "A", "A", 22, 23),  # A mentioned in B's quote
        ],
        "doc_id string, char_id string, mention_str string, start_idx int, end_idx int",
    )
    got = {
        (r.src, r.dst): r.weight
        for r in conversation.mention_graph_edges(sp, um).collect()
    }
    assert got == {("A", "B"): 1, ("B", "A"): 1}


def test_sentence_polarities_match_python(spark):
    docs_pdf = corpus.generate_documents_pdf(6, seed=33)
    docs = ingest.normalize_documents(
        spark.createDataFrame(docs_pdf, schema=corpus.DOCUMENTS_SCHEMA)
    )
    toks = tokenize.tokens(docs)
    pol = sentiment.sentence_polarities(toks).collect()
    words_by = {}
    for r in toks.collect():
        words_by.setdefault((r.doc_id, r.sent_idx), []).append(r.token)
    assert len(pol) == len(words_by)
    for r in pol:
        want = sentiment.polarity_py(words_by[(r.doc_id, r.sent_idx)])
        assert abs(r.polarity - want) < 1e-9
    # some sentences really are polar
    assert any(abs(r.polarity) > 0.3 for r in pol)


def test_rule_corefs(spark):
    words = "Elizabeth was here . She smiled . Darcy saw her .".split()
    toks = _tokens_from_words(spark, {"d": words})
    ents = _rule_ner_from_words(spark, {"d": words}, ["Elizabeth", "Darcy"])
    chains = coref.rule_corefs(toks, ents).collect()
    by_chain = {}
    for r in chains:
        by_chain.setdefault(r.chain_id, []).append((r.start_idx, r.mention_str))
    # Elizabeth chain: mention + She; Darcy chain: mention + her
    vals = sorted(sorted(v) for v in by_chain.values())
    assert vals == [
        [(0, "Elizabeth"), (4, "She")],
        [(7, "Darcy"), (9, "her")],
    ]


def test_pattern_relations_and_resolution(spark):
    words = "Elizabeth wrote to Darcy . Lizzy danced with Darcy .".split()
    toks = _tokens_from_words(spark, {"d": words}, sent_len=5)
    ents = _rule_ner_from_words(
        spark, {"d": words}, ["Elizabeth", "Darcy", "Lizzy"], sent_len=5
    )
    unified = unify.graph_rules_unify(ents)
    raw = relations.pattern_relations(unified, toks)
    got_raw = {(r.raw_subj, r.rel, r.raw_obj) for r in raw.collect()}
    assert got_raw == {
        ("Elizabeth", "wrote_to", "Darcy"),
        ("Lizzy", "danced_with", "Darcy"),
    }
    chars = unify.characters_table(unified)
    resolved = relations.resolve_triples(raw, chars)
    got = {(r.subj_char, r.rel, r.obj_char) for r in resolved.collect()}
    # Elizabeth and Lizzy unify → same subj char_id
    assert got == {
        ("Elizabeth", "wrote_to", "Darcy"),
        ("Elizabeth", "danced_with", "Darcy"),
    }
    edges = relations.relational_edges(resolved, min_rel_occurrences=1)
    assert edges.count() == 2
    assert relations.relational_edges(resolved, min_rel_occurrences=2).count() == 0


def test_model_relations_generator_seam(spark):
    """model_relations with a fake text2text generator reproduces the
    pattern extractor's raw triples when the generator applies the
    same verb rule (the reference's T5 seam, relation_extraction.py:
    181-196, with all shared post-processing downstream)."""
    sent_toks = spark.createDataFrame(
        [
            ("d", 0, "Elizabeth wrote to Darcy .".split()),
            ("d", 1, "Lizzy danced with Darcy .".split()),
            ("d", 2, "Nothing happened here .".split()),
        ],
        "doc_id string, sent_idx int, toks array<string>",
    )

    def factory():
        names = {"Elizabeth", "Darcy", "Lizzy"}

        def generate(batch):
            outs = []
            for sent in batch:
                trips = []
                for i, t in enumerate(sent):
                    if t in relations.RELATION_VERBS:
                        pre = [x for x in sent[:i] if x in names]
                        post = [x for x in sent[i + 1:] if x in names]
                        if pre and post:
                            trips.append(
                                f"({pre[-1]}, {relations.RELATION_VERBS[t]},"
                                f" {post[0]})"
                            )
                outs.append("".join(trips))
            return outs

        return generate

    raw = relations.model_relations(sent_toks, factory, batch_size=2)
    got = {(r.doc_id, r.sent_idx, r.raw_subj, r.rel, r.raw_obj)
           for r in raw.collect()}
    assert got == {
        ("d", 0, "Elizabeth", "wrote_to", "Darcy"),
        ("d", 1, "Lizzy", "danced_with", "Darcy"),
    }


def test_parse_text_triples(spark):
    df = spark.createDataFrame(
        [("d", 0, "(Jane, loves, Bingley) and (A, saw, B)")],
        "doc_id string, sent_idx int, generated string",
    )
    got = {
        (r.raw_subj, r.rel, r.raw_obj)
        for r in relations.parse_text_triples(df).collect()
    }
    assert got == {("Jane", "loves", "Bingley"), ("A", "saw", "B")}


def test_ambiguous_name_resolution_is_null(spark):
    chars = spark.createDataFrame(
        [("d", "A", ["Smith", "John Smith"]), ("d", "B", ["Smith", "Bob Smith"])],
        "doc_id string, char_id string, names array<string>",
    )
    n2c = {r.name: r.char_id for r in relations.name_to_char(chars).collect()}
    assert n2c["Smith"] is None
    assert n2c["John Smith"] == "A"


def test_narrow_polarity_equals_join_path(spark):
    docs_pdf = corpus.generate_documents_pdf(8, seed=91)
    docs = ingest.normalize_documents(
        spark.createDataFrame(docs_pdf, schema=corpus.DOCUMENTS_SCHEMA)
    )
    a = {
        (r.doc_id, r.sent_idx): r.polarity
        for r in sentiment.sentence_polarities(tokenize.tokens(docs)).collect()
    }
    b = {
        (r.doc_id, r.sent_idx): r.polarity
        for r in sentiment.sentence_polarities_narrow(
            tokenize.sentence_tokens(docs)
        ).collect()
    }
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)


def test_windowed_conversation_edges(spark):
    rows = [
        ("d", i, 10 * i, 10 * i + 3, spk)
        for i, spk in enumerate(["A", "B", "A", "C", "B", "A"])
    ]
    sp = spark.createDataFrame(
        rows,
        "doc_id string, quote_id int, start int, end int, speaker_char_id string",
    )
    win = conversation.quote_windows(sp, window=3, overlap=1)
    edges = conversation.conversation_edges(
        win, dist=10, unit="tokens", group_col="window_id"
    )
    got = {}
    for r in edges.collect():
        got.setdefault(r.window_id, {})[(r.src, r.dst)] = r.weight
    # windows of 3 quotes, step 2: [0,1,2], [2,3,4], [4,5]
    # gap between consecutive quotes = 7 <= 10; non-consecutive 17 > 10
    assert got[0] == {("A", "B"): 2}
    assert got[1] == {("A", "C"): 1, ("B", "C"): 1}
    assert got[2] == {("A", "B"): 1}


def test_additional_ner_classes(spark):
    from renard_spark import pipeline as pl

    docs = corpus.generate_documents(spark, 15, seed=43)
    toks_gaz = ["village", "letter", "carriage"]
    norm = ingest.normalize_documents(docs)
    extra = ner.dictionary_ner(tokenize.tokens(norm), toks_gaz, tag="OBJ")
    out = pl.character_graph_pipeline(
        docs, additional_ner_classes=["OBJ"], extra_entities_df=extra,
        persist=False,
    )
    nodes = {r.src for r in out["edges"].collect()} | {
        r.dst for r in out["edges"].collect()
    }
    assert any(n in toks_gaz for n in nodes)        # objects in the graph
    assert any(n not in toks_gaz for n in nodes)    # characters too
