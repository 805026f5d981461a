"""Distributed connected components + scale-path unification."""

import random

from renard_spark import corpus, pipeline
from renard_spark.operators import ner, tokenize, unify
from renard_spark.operators.cc import connected_components
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
    docs = ingest.normalize_documents(corpus.generate_documents(spark, 30, seed=51))
    ents = ner.rule_ner_sentences(
        tokenize.sentence_tokens(docs), pipeline.default_gazetteer()
    )

    parity = unify.graph_rules_unify(ents)
    scale = unify_distributed(ents)

    def comp_sets(df):
        out = {}
        for r in df.select("doc_id", "char_id", "names").distinct().collect():
            out.setdefault(r.doc_id, set()).add(tuple(r.names))
        return out

    p, s = comp_sets(parity), comp_sets(scale)
    assert set(p) == set(s)
    agree = sum(1 for d in p if p[d] == s[d])
    # the per-component contradiction refinement makes the scale path
    # EXACT w.r.t. the per-doc parity path
    assert agree == len(p), {
        d: (p[d], s[d]) for d in p if p[d] != s[d]
    }

    # mention rows: same (doc, char, mention) triples for agreeing docs
    pm = {
        (r.doc_id, r.char_id, r.mention_str, r.start_idx)
        for r in parity.collect()
        if p[r.doc_id] == s[r.doc_id]
    }
    sm = {
        (r.doc_id, r.char_id, r.mention_str, r.start_idx)
        for r in scale.collect()
        if p[r.doc_id] == s[r.doc_id]
    }
    assert pm == sm
