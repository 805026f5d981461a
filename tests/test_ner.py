"""NER stage tests: BIO decode (window formulation vs sequential
oracle, incl. the reference's quirks) and rule NER vs its sequential
oracle."""

import random

from renard_spark.operators import ner, tokenize
from renard_spark.sources import ingest
from renard_spark import corpus, pipeline

from .oracle import bio_decode_oracle, rule_ner_oracle


def _bio_df(spark, docs):
    rows = []
    for doc_id, (tokens, tags) in docs.items():
        for i, (t, g) in enumerate(zip(tokens, tags)):
            rows.append((doc_id, i, t, g))
    return spark.createDataFrame(rows, "doc_id string, tok_idx int, token string, bio_tag string")


def _decode_rows(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.doc_id, []).append(
            (r.start_idx, r.end_idx, r.tag, r.mention_str)
        )
    return {k: sorted(v) for k, v in out.items()}


def test_bio_decode_matches_oracle_random(spark):
    rng = random.Random(5)
    tagset = ["O", "B-PER", "I-PER", "B-LOC", "I-LOC", "B-ORG", "I-ORG"]
    docs = {}
    for d in range(25):
        n = rng.randint(1, 40)
        tokens = [f"t{i}" for i in range(n)]
        tags = [rng.choice(tagset) for _ in range(n)]
        docs[f"d{d}"] = (tokens, tags)

    for resolve in (True, False):
        got = _decode_rows(ner.bio_decode(_bio_df(spark, docs), resolve))
        for doc_id, (tokens, tags) in docs.items():
            want = sorted(
                (s, e, t, " ".join(tokens[s:e]))
                for s, e, t in bio_decode_oracle(tokens, tags, resolve)
            )
            assert got.get(doc_id, []) == want, (doc_id, resolve, tags)


def test_bio_decode_reference_quirks(spark):
    # every-token-B-PER ⇒ one entity per token (ref tests/test_ner.py:30-34)
    docs = {"a": (["x"] * 7, ["B-PER"] * 7)}
    got = _decode_rows(ner.bio_decode(_bio_df(spark, docs)))
    assert len(got["a"]) == 7
    # I- continues across type change; I- after O starts when resolving
    docs = {"b": (["u", "v", "w", "z"], ["B-PER", "I-LOC", "O", "I-ORG"])}
    got = _decode_rows(ner.bio_decode(_bio_df(spark, docs), True))
    assert got["b"] == [(0, 2, "PER", "u v"), (3, 4, "ORG", "z")]
    got = _decode_rows(ner.bio_decode(_bio_df(spark, docs), False))
    assert got["b"] == [(0, 2, "PER", "u v")]


def test_rule_ner_matches_oracle(spark):
    gaz = pipeline.default_gazetteer()
    for n_docs, seed in ((10, 21), (15, 61)):
        docs_pdf = corpus.generate_documents_pdf(n_docs, seed=seed)
        docs = ingest.normalize_documents(
            spark.createDataFrame(docs_pdf, schema=corpus.DOCUMENTS_SCHEMA)
        )
        got = _decode_rows(
            ner.rule_ner_sentences(tokenize.sentence_tokens(docs), gaz)
        )

        tok_rows = tokenize.tokens(docs).orderBy("doc_id", "tok_idx").collect()
        by_doc = {}
        for r in tok_rows:
            by_doc.setdefault(r.doc_id, []).append(r.token)
        n_docs_with_entities = 0
        for doc_id, tokens in by_doc.items():
            want = sorted(
                (s, e, "PER", surf)
                for s, e, surf in rule_ner_oracle(tokens, set(gaz))
            )
            assert got.get(doc_id, []) == want, (seed, doc_id)
            if want:
                n_docs_with_entities += 1
        # corpus really exercises NER
        assert n_docs_with_entities >= 8, seed
