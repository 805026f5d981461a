"""Co-occurrence extraction parity: both adapters of the per-document
block scan (``doc_edges``) must reproduce the reference-style
sequential per-doc oracle exactly — token & sentence units, polarity,
dynamic windows, and the one-crossing documents input."""

import random

from pyspark.sql import functions as F

from renard_spark.operators import cooccur

from .oracle import cooccur_edges_oracle


def _random_doc(rng, n_mentions=30, n_tokens=300, n_chars=5):
    ms = []
    for _ in range(n_mentions):
        s = rng.randrange(0, n_tokens - 3)
        e = s + rng.randint(1, 3)
        ms.append((f"c{rng.randrange(n_chars)}", s, e))
    return ms


def _mentions_df(spark, docs):
    rows = [
        (doc_id, c, s, e) for doc_id, ms in docs.items() for c, s, e in ms
    ]
    return spark.createDataFrame(
        rows, "doc_id string, char_id string, start_idx int, end_idx int"
    )


def _edges_by_doc(df, pol=False):
    out = {}
    for r in df.collect():
        v = (r.weight, round(r.polarity, 9) if pol else None)
        out.setdefault(r.doc_id, {})[(r.src, r.dst)] = v
    return out


def test_token_unit_matches_oracle(spark):
    rng = random.Random(17)
    docs = {f"d{i}": _random_doc(rng) for i in range(10)}
    for dist in (0, 2, 7):
        got = _edges_by_doc(
            cooccur.cooccurrence_edges(_mentions_df(spark, docs), dist, "tokens")
        )
        for doc_id, ms in docs.items():
            want = {
                k: (w, None)
                for k, (w, _) in cooccur_edges_oracle(ms, dist, "tokens").items()
            }
            assert got.get(doc_id, {}) == want, (doc_id, dist)


def _sentence_fixture(rng, n_sent=20, sent_len=10, n_mentions=25, n_chars=4):
    # tokens: n_sent sentences of sent_len tokens
    n_tokens = n_sent * sent_len
    sent_of = [i // sent_len for i in range(n_tokens)]
    bounds = [(i * sent_len, (i + 1) * sent_len) for i in range(n_sent)]
    ms = []
    for _ in range(n_mentions):
        s = rng.randrange(0, n_tokens - 2)
        e = s + rng.randint(1, 2)
        ms.append((f"c{rng.randrange(n_chars)}", s, e))
    return ms, sent_of, bounds


def _tokens_df(spark, docs_sents):
    rows = []
    for doc_id, sent_of in docs_sents.items():
        for i, s in enumerate(sent_of):
            rows.append((doc_id, s, i, f"t{i}"))
    return spark.createDataFrame(
        rows, "doc_id string, sent_idx int, tok_idx int, token string"
    )


def test_sentence_unit_matches_oracle(spark):
    rng = random.Random(23)
    docs, sents, bnds = {}, {}, {}
    for i in range(6):
        ms, sent_of, bounds = _sentence_fixture(rng)
        docs[f"d{i}"], sents[f"d{i}"], bnds[f"d{i}"] = ms, sent_of, bounds
    toks = _tokens_df(spark, sents)
    for dist in (0, 1, 3):
        got = _edges_by_doc(
            cooccur.cooccurrence_edges(
                _mentions_df(spark, docs), dist, "sentences", tokens_df=toks
            )
        )
        for doc_id, ms in docs.items():
            want = {
                k: (w, None)
                for k, (w, _) in cooccur_edges_oracle(
                    ms, dist, "sentences", sents[doc_id], bnds[doc_id]
                ).items()
            }
            assert got.get(doc_id, {}) == want, (doc_id, dist)


def test_polarity_matches_oracle(spark):
    rng = random.Random(31)
    docs, sents, bnds, pols = {}, {}, {}, {}
    for i in range(4):
        ms, sent_of, bounds = _sentence_fixture(rng)
        d = f"d{i}"
        docs[d], sents[d], bnds[d] = ms, sent_of, bounds
        pols[d] = [round(rng.uniform(-1, 1), 3) for _ in bounds]
    toks = _tokens_df(spark, sents)
    pol_rows = [
        (d, i, p) for d, ps in pols.items() for i, p in enumerate(ps)
    ]
    pol_df = spark.createDataFrame(
        pol_rows, "doc_id string, sent_idx int, polarity double"
    )
    got = _edges_by_doc(
        cooccur.cooccurrence_edges(
            _mentions_df(spark, docs), 1, "sentences",
            tokens_df=toks, polarities_df=pol_df,
        ),
        pol=True,
    )
    for doc_id, ms in docs.items():
        want = {
            k: (w, round(p, 9))
            for k, (w, p) in cooccur_edges_oracle(
                ms, 1, "sentences", sents[doc_id], bnds[doc_id], pols[doc_id]
            ).items()
        }
        assert got.get(doc_id, {}) == want, doc_id


def test_dynamic_windows_match_oracle(spark):
    """Token unit, and the sentence unit over every window's document
    sentences (the tutorial's dynamic_window with (20, 'sentences'))."""
    rng = random.Random(41)
    docs, sents, bnds = {}, {}, {}
    for i in range(5):
        ms, sent_of, bounds = _sentence_fixture(rng, n_mentions=23)
        docs[f"d{i}"], sents[f"d{i}"], bnds[f"d{i}"] = ms, sent_of, bounds
    toks = _tokens_df(spark, sents)
    window, overlap = 7, 2
    mdf = cooccur.add_window_ids(_mentions_df(spark, docs), window, overlap)
    step = window - overlap
    for dist, unit in ((3, "tokens"), (1, "sentences")):
        edges = cooccur.cooccurrence_edges(
            mdf, dist, unit, tokens_df=toks, group_col="window_id"
        )
        got = {}
        for r in edges.collect():
            got.setdefault((r.doc_id, r.window_id), {})[(r.src, r.dst)] = r.weight
        for doc_id, ms in docs.items():
            srt = sorted(ms, key=lambda m: (m[1], m[2], m[0]))
            n = len(srt)
            n_win = max((n - window + step - 1) // step + 1, 1)
            for w in range(n_win):
                sub = srt[w * step : w * step + window]
                want = {
                    k: cnt
                    for k, (cnt, _) in cooccur_edges_oracle(
                        sub, dist, unit, sents[doc_id], bnds[doc_id]
                    ).items()
                }
                assert got.get((doc_id, w), {}) == want, (doc_id, w, unit)


def test_dynamic_blocks_first_match(spark):
    ms = {"d": [("a", 1, 2), ("b", 3, 4), ("a", 11, 12), ("c", 13, 14), ("b", 25, 26)]}
    blocks = [("d", 0, 0, 10), ("d", 1, 10, 20), ("d", 2, 0, 30)]
    bdf = (
        _mentions_df(spark, {}).sparkSession.createDataFrame(
            blocks, "doc_id string, block_id int, start int, end int"
        )
    )
    assigned = cooccur.assign_dynamic_blocks(_mentions_df(spark, ms), bdf)
    rows = {(r.char_id, r.start_idx): r.block_id for r in assigned.collect()}
    # first containing block wins; end strict
    assert rows == {("a", 1): 0, ("b", 3): 0, ("a", 11): 1, ("c", 13): 1, ("b", 25): 2}


_FILLER = ["the", "walked", "with", "and", "said", "to", "a", "letter", ","]
_CAPS = ["London", "The", "Pemberley", "Sunday"]


def _random_text(rng, gazetteer, n_sent):
    sents = []
    for _ in range(n_sent):
        words = []
        for _ in range(rng.randint(1, 14)):
            r = rng.random()
            if r < 0.35:
                words.append(rng.choice(gazetteer))
            elif r < 0.45:
                words.append(rng.choice(_CAPS))
            else:
                words.append(rng.choice(_FILLER))
        sents.append(" ".join(words) + rng.choice([".", "!", "?"]))
    return " ".join(sents)


def _random_corpus(spark, rng, gazetteer, n_docs=24):
    """Narrative documents with the edge shapes mixed in: empty, blank
    and NULL text, no gazetteer mention, a single sentence, and sentence
    breaks made of whitespace Java's \\s does not match (NBSP, U+2028:
    no break) or does (\\x0b: a break)."""
    rows = [
        ("empty", ""),
        ("blank", "   "),
        ("null", None),
        ("no_mention", "the letter walked to London. said the Sunday!"),
        ("one_sentence", _random_text(rng, gazetteer, 1)),
        ("no_terminal", "Elizabeth Bennet said to Mr Darcy and Lizzy"),
    ] + [
        (name, _random_text(rng, gazetteer, 6).replace(". ", f".{sep}"))
        for name, sep in (("nbsp", "\xa0"), ("line_sep", "\u2028"),
                          ("vtab", "\x0b"))
    ]
    rows += [
        (f"r{i}", _random_text(rng, gazetteer, rng.randint(1, 12)))
        for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _oracle_edges(cases, unified, st):
    """cooccur_edges_oracle of every (dist, unit) case over the
    collected unified mentions and sentence bounds, keyed like
    ``_edges_by_doc`` of the case-tagged union."""
    ms, bounds = {}, {}
    for r in unified.collect():
        ms.setdefault(r.doc_id, []).append((r.char_id, r.start_idx, r.end_idx))
    for r in st.collect():
        bounds.setdefault(r.doc_id, []).append(
            (r.sent_idx, r.sent_start, r.sent_end))
    want = {}
    for doc_id, doc_ms in ms.items():
        bnds = [(s, e) for _, s, e in sorted(bounds[doc_id])]
        sent_of = [i for i, (s, e) in enumerate(bnds) for _ in range(s, e)]
        for c, (dist, unit) in enumerate(cases):
            edges = cooccur_edges_oracle(doc_ms, dist, unit, sent_of, bnds)
            if edges:
                want[f"{c}/{doc_id}"] = {
                    k: (w, None) for k, (w, _) in edges.items()}
    return want


def test_one_crossing_equals_composed_and_join_paths(spark):
    """The documents+gazetteer input of cooccurrence_edges_grouped (span
    join, tokenization, rule NER, graph-rules unification and
    co-occurrence in one crossing) equals the composed operators over
    the JVM-tokenized ``sentence_tokens`` (``cooccurrence_edges`` over
    the unified mentions) and the reference-style oracle over the same
    mentions, on flat (doc_id, text) random corpora, one per
    min_appearances, and on a normalized interleaved corpus (doc_id,
    spans, text). The unified mentions are materialized once per
    corpus, and the (dist, unit) cases' edges are unioned under a case
    tag so each path is one job."""
    from functools import reduce

    from renard_spark import corpus, pipeline
    from renard_spark.operators import ner, tokenize, unify
    from renard_spark.sources import ingest

    gaz = pipeline.default_gazetteer()
    cases = [(d, u) for d in (0, 1, 3) for u in ("sentences", "tokens")]

    def union(dfs):
        return reduce(lambda a, b: a.unionByName(b), (
            df.withColumn("doc_id", F.concat(F.lit(f"{c}/"), "doc_id"))
            for c, df in enumerate(dfs)
        ))

    interleaved = ingest.normalize_documents(spark.createDataFrame(
        corpus.generate_documents_pdf(30, seed=1002, media_rate=0.5),
        corpus.DOCUMENTS_SCHEMA))
    for docs, min_app in (
        (_random_corpus(spark, random.Random(1000), gaz), 0),
        (_random_corpus(spark, random.Random(1001), gaz), 2),
        (interleaved, 1),
    ):
        st = tokenize.sentence_tokens(docs).localCheckpoint()
        unified = unify.graph_rules_unify(
            ner.rule_ner_sentences(st, gaz), min_appearances=min_app
        ).select("doc_id", "char_id", "start_idx", "end_idx").localCheckpoint()
        fused = _edges_by_doc(union(
            cooccur.cooccurrence_edges_grouped(
                documents_df=docs, gazetteer=gaz, dist=dist, unit=unit,
                min_appearances=min_app)
            for dist, unit in cases))
        composed = _edges_by_doc(union(
            cooccur.cooccurrence_edges(unified, dist, unit, tokens_df=st)
            for dist, unit in cases))
        assert fused == composed == _oracle_edges(cases, unified, st), min_app
        assert fused
        for c, case in enumerate(cases):
            for d in ("empty", "blank", "null", "no_mention"):
                assert f"{c}/{d}" not in fused, case
