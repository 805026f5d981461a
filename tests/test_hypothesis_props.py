"""Hypothesis property tests — mirroring the reference's dominant test
style (SURVEY §5: tests/test_graph_extraction.py, test_ner.py,
test_tokenization.py). Pure-Python cores, so generation is cheap."""

from hypothesis import given, settings
from hypothesis import strategies as st

from renard_spark.operators.tokenize import tokenize_text_py
from renard_spark.operators.unify_core import unify_doc, unify_naive_doc

from .oracle import bio_decode_oracle, cooccur_edges_oracle

TAGS = st.sampled_from(["O", "B-PER", "I-PER", "B-LOC", "I-LOC"])


@given(st.lists(TAGS, max_size=60))
@settings(max_examples=200, deadline=None)
def test_bio_every_b_per_token_is_an_entity(tags):
    # ref tests/test_ner.py:30-34: all B-PER ⇒ one entity per token;
    # generalized: #entities == #B- tags + #(orphan I- starts)
    toks = [f"t{i}" for i in range(len(tags))]
    ents = bio_decode_oracle(toks, tags, resolve_inconsistencies=True)
    n_b = sum(1 for t in tags if t.startswith("B-"))
    n_orphan_i = sum(
        1
        for i, t in enumerate(tags)
        if t.startswith("I-") and (i == 0 or tags[i - 1] == "O")
    )
    assert len(ents) == n_b + n_orphan_i
    # entities tile: non-overlapping, ordered, within bounds
    last_end = 0
    for s, e, _ in ents:
        assert 0 <= s < e <= len(tags)
        assert s >= last_end
        last_end = e


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_tokenizer_alignment(text):
    # ref tests/test_tokenization.py:20-26: tokens == flatten(sentences)
    toks, sent_of, offsets = tokenize_text_py(text)
    assert len(toks) == len(sent_of) == len(offsets)
    # sent indices dense and non-decreasing
    assert sent_of == sorted(sent_of)
    if sent_of:
        assert set(sent_of) == set(range(max(sent_of) + 1))
    # offsets slice back to the token text
    for t, (a, b) in zip(toks, offsets):
        assert text[a:b] == t
    # no Java-\s character inside tokens (Unicode-only whitespace such
    # as NBSP is a token of its own, as in the JVM tokenizer)
    assert all(not any(c in " \t\n\x0b\f\r" for c in t) for t in toks)


MENTION = st.tuples(
    st.sampled_from(["A", "B", "C", "D"]),
    st.integers(0, 80),
    st.integers(1, 3),
).map(lambda m: (m[0], m[1], m[1] + m[2]))


@given(st.lists(MENTION, max_size=25), st.integers(0, 6))
@settings(max_examples=150, deadline=None)
def test_cooccur_weight_bounds_and_symmetry(mentions, dist):
    edges = cooccur_edges_oracle(mentions, dist, "tokens")
    from collections import Counter

    per_char = Counter(m[0] for m in mentions)
    for (a, b), (w, _) in edges.items():
        assert a < b
        assert 1 <= w <= per_char[a] * per_char[b]
    # zero-distance containment still finds identical-position pairs
    if dist >= 6:
        # wider windows can only add pairs
        smaller = cooccur_edges_oracle(mentions, dist - 1, "tokens")
        for k, (w, _) in smaller.items():
            assert edges.get(k, (0, None))[0] >= w


@given(st.lists(st.sampled_from(
    ["Elizabeth", "Lizzy", "Jane Bennet", "Mr Bennet", "Mrs Bennet",
     "Darcy", "Mr Darcy", "Charles", "Charlie", "Charlotte"]
), min_size=1, max_size=8, unique=True))
@settings(max_examples=150, deadline=None)
def test_unify_partitions_names(names):
    mentions = [(n, 5 * i, 5 * i + len(n.split())) for i, n in enumerate(names)]
    chars = unify_doc(mentions)
    # components partition the name set
    all_names = [n for c in chars for n in c["names"]]
    assert sorted(all_names) == sorted(names)
    # every mention lands in exactly one character
    total = sum(len(c["mentions"]) for c in chars)
    assert total == len(mentions)
    # naive unifier: one char per distinct surface
    naive = unify_naive_doc(mentions)
    assert len(naive) == len(set(names))


@given(st.lists(st.sampled_from(
    ["Elizabeth", "Lizzy", "Eliza", "Jane Bennet", "Mr Bennet", "Mrs Bennet",
     "Darcy", "Mr Darcy", "Fitzwilliam Darcy", "Charles", "Charlie",
     "Charles Bingley", "Mr Bingley", "William", "Bill", "Will Collins",
     "Mr", "Miss", "Dr Ted Gardiner", "Theodore Gardiner"]
), min_size=1, max_size=10, unique=True), st.integers(0, 2))
@settings(max_examples=150, deadline=None)
def test_unify_precomputed_name_rules_equal_general_rules(names, min_app):
    # the per-name feature path (no extra hypocorisms) must link exactly
    # the pairs the general hypocorism_related path links; an extra
    # table no name hits forces the general path
    mentions = [(n, 5 * i, 5 * i + len(n.split())) for i, n in enumerate(names)]
    mentions += mentions[: len(mentions) // 2]
    assert unify_doc(mentions, min_appearances=min_app) == unify_doc(
        mentions, min_appearances=min_app, extra_hypocorisms={"\0": {"\0"}}
    )
