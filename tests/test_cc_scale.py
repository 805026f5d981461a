"""Distributed connected components + scale-path unification."""

import random

from renard_spark import corpus, pipeline
from renard_spark.operators import ner, tokenize, unify
from renard_spark.operators.cc import connected_components
from renard_spark.operators.unify_core import unify_doc
from renard_spark.operators.unify_scale import unify_distributed
from renard_spark.sources import ingest


def test_cc_random_graphs(spark):
    rng = random.Random(3)
    # ground truth via union-find
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    vertices = [f"v{i:03d}" for i in range(120)]
    for v in vertices:
        parent[v] = v
    edges = []
    for _ in range(130):
        a, b = rng.sample(vertices, 2)
        edges.append((a, b))
        union(a, b)
    # isolated vertices as self-loops
    edges += [(v, v) for v in vertices]

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.vertex: r.component for r in connected_components(df).collect()}
    want_groups = {}
    for v in vertices:
        want_groups.setdefault(find(v), set()).add(v)
    want = {v: min(g) for g in want_groups.values() for v in g}
    assert got == want


def test_scale_path_matches_parity_path(spark):
    """Per-document graph_rules_unify equals unify_doc per document, and
    corpus-scope unify_distributed equals unify_doc over the pooled
    mentions: same characters, genders and mention rows."""
    docs = ingest.normalize_documents(corpus.generate_documents(spark, 30, seed=51))
    ents = ner.rule_ner_sentences(
        tokenize.sentence_tokens(docs), pipeline.default_gazetteer()
    )
    ent_rows = [r for r in ents.collect() if r.tag == "PER"]

    def rows(chars, doc_id=None):
        return [
            (doc_id, c["char_id"], tuple(c["names"]), c["gender"], m, s, e)
            for c in chars
            for m, s, e in c["mentions"]
        ]

    by_doc = {}
    for r in ent_rows:
        by_doc.setdefault(r.doc_id, []).append(
            (r.mention_str, r.start_idx, r.end_idx))
    want_doc = sorted(
        row for d, ms in by_doc.items() for row in rows(unify_doc(ms), d))
    got_doc = sorted(
        (r.doc_id, r.char_id, tuple(r.names), r.gender, r.mention_str,
         r.start_idx, r.end_idx)
        for r in unify.graph_rules_unify(ents).collect()
    )
    assert got_doc == want_doc
    # multi-name components exist, so the alias rules were exercised
    assert any(len(names) > 1 for _, _, names, *_ in want_doc)

    pooled = [(r.mention_str, r.start_idx, r.end_idx) for r in ent_rows]
    want_all = sorted(rows(unify_doc(pooled)))
    scale = unify_distributed(ents)
    got_all = sorted(
        (None, r.char_id, tuple(r.names), r.gender, r.mention_str,
         r.start_idx, r.end_idx)
        for r in scale.collect()
    )
    assert got_all == want_all
    # doc_id passes through: every mention keeps its document
    assert sorted((r.doc_id, r.mention_str, r.start_idx)
                  for r in scale.collect()) == sorted(
        (r.doc_id, r.mention_str, r.start_idx) for r in ent_rows)
