"""Model-backed stages swapped into the preconfigured pipelines: a
fake transformer NER that reproduces the rule tagger's decisions must
yield identical triples end-to-end, and the cross-document
unify_distributed must equal unify_doc over the pooled mentions."""

from __future__ import annotations

import re

from renard_spark import corpus, pipeline
from renard_spark.operators import ner, tokenize, unify
from renard_spark.operators.ner import CAP_TOKEN_RE
from renard_spark.operators.unify_core import unify_doc
from renard_spark.operators.unify_scale import unify_distributed
from renard_spark.sources import ingest


def make_run_tagger_factory(gazetteer: list[str]):
    """Fake NER model labelling capitalized runs found in the
    gazetteer B-PER/I-PER (one wordpiece per token + [CLS]/[SEP]) —
    semantically the rule tagger expressed as a model."""
    gaz = set(gazetteer)
    cap = re.compile(CAP_TOKEN_RE)

    def factory():
        def predict(batch):
            out = []
            for sent in batch:
                labels = ["O"] * len(sent)
                i, n = 0, len(sent)
                while i < n:
                    if cap.match(sent[i]):
                        j = i
                        while j < n and cap.match(sent[j]):
                            j += 1
                        if " ".join(sent[i:j]) in gaz:
                            labels[i] = "B-PER"
                            for x in range(i + 1, j):
                                labels[x] = "I-PER"
                        i = j
                    else:
                        i += 1
                wp_labels = ["O"] + labels + ["O"]
                wp_to_word = [None] + list(range(len(sent))) + [None]
                out.append((wp_labels, wp_to_word, [1] * len(sent)))
            return out

        return predict

    return factory


def test_model_ner_pipeline_matches_rule_pipeline(spark):
    docs = corpus.generate_documents(spark, 40, seed=91)
    gaz = pipeline.default_gazetteer()
    rule_out = pipeline.character_graph_pipeline(
        docs, gazetteer=gaz, persist=False
    )
    model_out = pipeline.character_graph_pipeline(
        docs, gazetteer=gaz, persist=False,
        ner_model_factory=make_run_tagger_factory(gaz),
    )
    key = lambda r: (r.doc_id, r.subj, r.obj, r.weight)
    assert sorted(map(key, rule_out["triples"].collect())) == sorted(
        map(key, model_out["triples"].collect())
    )


def test_global_scope_unification_matches_pooled_parity(spark):
    """unify_distributed = one cross-document entity table; must equal
    the pure-python unify_doc run on the POOLED mention set (the shape
    per-doc execution cannot handle)."""
    docs = ingest.normalize_documents(corpus.generate_documents(spark, 25, seed=23))
    ents = ner.rule_ner_sentences(
        tokenize.sentence_tokens(docs), pipeline.default_gazetteer()
    )

    scale = unify_distributed(ents)
    got = {
        tuple(r.names)
        for r in scale.select("char_id", "names").distinct().collect()
    }

    pooled = [
        (r.mention_str, r.start_idx, r.end_idx) for r in ents.collect()
    ]
    want = {tuple(c["names"]) for c in unify_doc(pooled)}
    assert got == want
