"""Regression tests for the round-3 ADVICE.md fixes."""

import pytest

import renard_spark.operators.cc as cc_mod
from renard_spark.functions.dedup import dedup_clusters
from renard_spark.operators.coref import resolve_doc_corefs, split_blocks
from renard_spark.operators.utils import _PREDICT_CACHE, cached_model


# ---------------------------------------------------- dedup_clusters typing


def test_dedup_clusters_string_ids(spark):
    """String doc ids must come back as strings (ADVICE: the old code
    cast vertices to long, NULLing every non-numeric id)."""
    docs = spark.createDataFrame(
        [("doc-a",), ("doc-b",), ("doc-c",), ("doc-z",)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-c")], ["doc_a", "doc_b"]
    )
    out = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert set(out) == {"doc-a", "doc-b", "doc-c", "doc-z"}
    assert all(isinstance(k, str) for k in out)
    assert out["doc-a"]["cluster_id"] == "doc-a" and out["doc-a"]["keep"] == 1
    assert out["doc-b"]["cluster_id"] == "doc-a" and out["doc-b"]["keep"] == 0
    assert out["doc-c"]["cluster_id"] == "doc-a" and out["doc-c"]["keep"] == 0
    assert out["doc-z"]["cluster_id"] == "doc-z" and out["doc-z"]["keep"] == 1


def test_dedup_clusters_numeric_min_not_lexicographic(spark):
    """Numeric ids: canonical survivor is the NUMERIC min (2 < 10, even
    though '10' < '2' lexicographically) and the output type is long."""
    docs = spark.createDataFrame([(10,), (2,), (7,)], ["doc_id"])
    pairs = spark.createDataFrame([(10, 2)], ["doc_a", "doc_b"])
    out = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert out[2]["cluster_id"] == 2 and out[2]["keep"] == 1
    assert out[10]["cluster_id"] == 2 and out[10]["keep"] == 0
    assert out[7]["cluster_id"] == 7 and out[7]["keep"] == 1


def test_dedup_clusters_falls_back_to_star(spark):
    """A near-dup chain longer than the hash-to-min budget is finished
    by the star rounds instead of crashing the dedup action (ADVICE
    medium)."""
    n = cc_mod.HASH_TO_MIN_ROUNDS + 11
    docs = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(1, n)], ["doc_a", "doc_b"]
    )
    out = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in
           dedup_clusters(docs, pairs).collect()}
    assert out == {i: (1, int(i == 1)) for i in range(1, n + 1)}


# ------------------------------------------------------- model cache keying


def test_cached_model_namespaced_per_operator():
    """Same cache_key under two operator namespaces must return two
    different callables (ADVICE: shared flat cache returned the wrong
    model when one path was reused for two stages)."""
    _PREDICT_CACHE.clear()
    a = cached_model("ner", "shared/path", lambda: "ner-model")
    b = cached_model("speaker", "shared/path", lambda: "speaker-model")
    c = cached_model("coref", "shared/path", lambda: "coref-model")
    assert a == "ner-model" and b == "speaker-model" and c == "coref-model"
    # memoized per namespace
    assert cached_model("ner", "shared/path", lambda: "new") == "ner-model"
    assert cached_model("coref", "shared/path", lambda: "new") == "coref-model"
    # no cache_key → no memoization
    assert cached_model("ner", None, lambda: "fresh") == "fresh"
    _PREDICT_CACHE.clear()


# -------------------------------------------------------- coref empty block


def test_split_blocks_empty_tokens_yields_zero_blocks():
    assert split_blocks([], 512) == []
    assert split_blocks(["a"], 512) == [(0, ["a"])]


def test_resolve_doc_corefs_never_calls_scorer_on_empty():
    calls = []

    def scorer(blocks):
        calls.append(blocks)
        return [[] for _ in blocks]

    assert resolve_doc_corefs([], scorer) == []
    assert calls == []


# ----------------------------------------------- streaming sink dispatching


def test_write_batch_tables_refuses_non_parquet_catalog():
    from renard_spark.streaming.ingest import write_batch_tables

    class FakeIceberg:
        def path(self, name):
            return f"cat.db.{name}"

    with pytest.raises(NotImplementedError):
        write_batch_tables(FakeIceberg(), {}, 0, ("tokens",))


# ------------------------------------------------------------ CC fixpoint


def test_cc_star_labels_match_hash_to_min(spark):
    """After the exact-confirm change, star labels still match the
    hash-to-min contract on a mixed star+chain graph."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("q", "q")], ["src", "dst"]
    )
    lab1 = {r["vertex"]: r["component"]
            for r in cc_mod.connected_components(edges).collect()}
    lab2 = {r["vertex"]: r["component"] for r in
            cc_mod._star_components(edges.toDF("a", "b")).collect()}
    assert lab1 == lab2 == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "q": "q",
    }


# ---------------------------------------------------------------- lexicon


def test_lexicon_expanded_and_consistent():
    from renard_spark.operators.sentiment import LEXICON, polarity_py

    assert len(LEXICON) >= 2500
    assert all(-4.0 <= v <= 4.0 for v in LEXICON.values())
    # inflections share the root's sign
    assert LEXICON["celebrated"] == LEXICON["celebrate"] > 0
    assert LEXICON["betrayed"] < 0 and LEXICON["torturing"] < 0
    # compound normalization stays in [-1, 1]
    assert -1 < polarity_py(["tortured", "miserable", "wretched"]) < 0
    assert 0 < polarity_py(["joyful", "celebration"]) < 1


def test_load_vader_lexicon_tsv(spark, tmp_path):
    from renard_spark.operators.sentiment import load_vader_lexicon

    p = tmp_path / "vader_lexicon.txt"
    p.write_text(
        "$:\t-1.5\t0.8\t[-1, -1, -2]\n"
        "GREAT\t3.1\t0.7\t[3, 3, 4]\n"
        "\n"
        "terrible\t-2.1\t0.6\t[-2, -2, -2]\n"
    )
    rows = {r["word"]: r["valence"] for r in
            load_vader_lexicon(spark, str(p)).collect()}
    assert rows == {"$:": -1.5, "great": 3.1, "terrible": -2.1}


# --------------------------------------------- chain gender in scale path


def test_scale_path_chain_gender_votes_match_parity(spark):
    """unify_distributed(corefs_df=...) must infer the same genders and
    components as the parity path: pronoun votes flow into the
    contradiction refinement (a FEMALE-voted vs MALE-voted pair gets
    its alias edge cut), and a known title still beats the vote."""
    from renard_spark.operators import unify
    from renard_spark.operators.unify_scale import unify_distributed

    ents = spark.createDataFrame(
        [
            ("d1", "Karenin", 0, 1, "PER"),
            ("d1", "Karenin Alexandrovich", 5, 7, "PER"),
            ("d1", "Mrs Brown", 20, 22, "PER"),
        ],
        "doc_id string, mention_str string, start_idx int, end_idx int,"
        " tag string",
    )
    chains = spark.createDataFrame(
        [
            ("d1", 0, 0, 1, "Karenin"),
            ("d1", 0, 30, 31, "he"),
            ("d1", 1, 5, 7, "Karenin Alexandrovich"),
            ("d1", 1, 40, 41, "she"),
            ("d1", 1, 50, 51, "her"),
            ("d1", 2, 20, 22, "Mrs Brown"),
            ("d1", 2, 60, 61, "he"),
            ("d1", 2, 70, 71, "him"),
        ],
        "doc_id string, chain_id int, start_idx int, end_idx int,"
        " mention_str string",
    )

    def summarize(df):
        return {
            (r.char_id, r.gender, tuple(r.names))
            for r in df.select("char_id", "gender", "names")
            .distinct()
            .collect()
        }

    parity = summarize(unify.graph_rules_unify(ents, corefs_df=chains))
    scale = summarize(unify_distributed(ents, corefs_df=chains))
    assert parity == scale
    # votes fired: the shared-first pair is gender-cut into singletons,
    # and the title beats three male pronoun votes
    assert ("Karenin", "MALE", ("Karenin",)) in scale
    assert (
        "Karenin Alexandrovich", "FEMALE", ("Karenin Alexandrovich",)
    ) in scale
    assert ("Mrs Brown", "FEMALE", ("Mrs Brown",)) in scale
    # without chains the same pair stays one UNKNOWN component
    no_chain = summarize(unify_distributed(ents))
    assert (
        "Karenin", "UNKNOWN", ("Karenin", "Karenin Alexandrovich")
    ) in no_chain


# ------------------------------------------------- distributed CoNLL read


def test_conll_reader_multi_file_distributed(spark, tmp_path):
    """doc_id=None reads a directory of CoNLL files as one doc per file
    with per-file windows — no global single-partition window."""
    from renard_spark.sources.conll import read_conll2002_bio

    (tmp_path / "a.conll").write_text(
        "John\tB-PER\nSmith\tI-PER\n\nhello\tO\n"
    )
    (tmp_path / "b.conll").write_text("Mary\tB-PER\n\nbye\tO\n")
    df = read_conll2002_bio(spark, str(tmp_path), doc_id=None)
    rows = sorted(
        (r["doc_id"], r["sent_idx"], r["tok_idx"], r["token"], r["bio_tag"])
        for r in df.collect()
    )
    assert rows == [
        ("a", 0, 0, "John", "B-PER"),
        ("a", 0, 1, "Smith", "I-PER"),
        ("a", 1, 2, "hello", "O"),
        ("b", 0, 0, "Mary", "B-PER"),
        ("b", 1, 1, "bye", "O"),
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # windows are partitioned (per file), never a global empty-key sort
    assert "hashpartitioning(_file" in plan


# ------------------------------------------------------- trained IVF codebook


def test_ivf_kmeans_codebook_improves_recall(spark):
    """Seeded Lloyd's training (deterministic md5 init, no RNG) must
    beat the raw sampled codebook on a clustered fixture — the sampled
    quantizer typically lands two centroids in one cluster and merges
    cells, which the mean updates fix."""
    import math

    from renard_spark.functions import similarity as S

    rows = []
    for c in range(4):
        for i in range(40):
            base = [0.0] * 8
            base[c * 2] = 1.0
            rows.append(
                (c * 40 + i,
                 [base[d] + 0.08 * math.sin(7 * c + 3 * i + d)
                  for d in range(8)])
            )
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    ).localCheckpoint()

    truth = {(r["vec_id"], r["neighbor_id"])
             for r in S.cosine_topk(emb, k=3).collect()}

    def recall(cents=None):
        got = {
            (r["vec_id"], r["neighbor_id"])
            for r in S.ivf_topk(
                emb, k=3, n_centroids=4, nprobe=1, centroids=cents
            ).collect()
        }
        return len(got & truth) / len(truth)

    km = S.ivf_kmeans_centroids(emb, n_centroids=4, n_iter=5)
    assert km.count() == 4
    r_sampled, r_kmeans = recall(), recall(km)
    assert r_kmeans > r_sampled
    assert r_kmeans >= 0.98


# ---------------------------------------------------- winnowing fingerprints


def _py_winnow(text, k, w):
    import hashlib
    import re

    s = re.sub(r"\s+", " ", text.lower()).strip()
    if len(s) < k:
        return set()
    hs = [
        int(hashlib.md5(s[i:i + k].encode()).hexdigest()[:8], 16)
        for i in range(len(s) - k + 1)
    ]
    out = set()
    for j in range(0, len(hs) - w + 1):
        best = min(range(j, j + w), key=lambda p: (hs[p], -p))
        out.add((best + 1, hs[best]))
    return out


def test_winnow_fingerprints_match_sequential_oracle(spark):
    from renard_spark.functions.text import winnow_fingerprints

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack   my box\nwith five dozen LIQUOR jugs"),
        (2, "aaaaaaaaaaaaaaaa"),          # constant text → hash ties
        (3, "short"),                     # < k chars → no fingerprints
        (4, "exactly8!"),                 # 2 grams < w → no full window
    ]
    docs = spark.createDataFrame(texts, "doc_id int, text string")
    got = {}
    for r in winnow_fingerprints(docs, k=8, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for doc_id, text in texts:
        assert got.get(doc_id, set()) == _py_winnow(text, 8, 4), doc_id


def test_winnow_shared_substring_guarantee(spark):
    """MOSS guarantee: a shared substring of length >= k+w-1 yields at
    least one shared fingerprint hash."""
    from renard_spark.functions.text import winnow_fingerprints

    shared = "a very distinctive shared passage of text"
    docs = spark.createDataFrame(
        [(0, "prefix one " + shared + " suffix alpha"),
         (1, "totally different opening " + shared + " and ending")],
        "doc_id int, text string",
    )
    fps = {}
    for r in winnow_fingerprints(docs, k=8, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[0] & fps[1]


# --------------------------------------------- scale-path passthrough cols


def test_unify_distributed_preserves_passthrough_columns(spark):
    """Corpus-scope unification keeps per-document provenance: extra
    entity columns (doc_id here) ride through the scale path."""
    from renard_spark.operators.unify_scale import unify_distributed

    ents = spark.createDataFrame(
        [("all", "d1", "spark table", 0, 2, "PER"),
         ("all", "d2", "spark table", 5, 7, "PER"),
         ("all", "d2", "spark batch", 9, 11, "PER")],
        "corpus string, doc_id string, mention_str string,"
        " start_idx int, end_idx int, tag string",
    )
    out = unify_distributed(ents)
    assert "doc_id" in out.columns
    rows = {(r["doc_id"], r["mention_str"], r["char_id"])
            for r in out.collect()}
    # same surface in different docs -> one global char (alias-merged
    # with 'spark batch' via shared first, canonical min name)
    assert rows == {
        ("d1", "spark table", "spark batch"),
        ("d2", "spark table", "spark batch"),
        ("d2", "spark batch", "spark batch"),
    }


def test_winnow_near_dups_and_cap(spark):
    from renard_spark.functions.text import winnow_near_dups

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, base + f" tail{i}") for i in range(6)] + [(9, "unrelated words entirely different content here")],
        "doc_id int, text string",
    )
    pairs = winnow_near_dups(docs, k=8, w=4, min_shared=2)
    rows = {(r["doc_a"], r["doc_b"]): r["shared_fps"] for r in pairs.collect()}
    # all near-identical docs pair up; the unrelated doc pairs with none
    assert all(a != 9 and b != 9 for a, b in rows)
    assert len(rows) == 15  # C(6,2)
    # cap bounds fanout: left side limited to 2 reps per fingerprint
    capped = winnow_near_dups(docs, k=8, w=4, min_shared=2, max_bucket=2)
    crows = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert crows  # reps still pair
    assert all(a in (0, 1) for a, _ in crows)  # only first-2 reps on the left


# ----------------------------------------------------- realign clamp mode


def test_realign_strict_false_clamps_bad_model_output():
    from renard_spark.operators import ner as ner_mod

    wpl = ["B-PER", "I-PER", "O"]
    w2w = [0, 7, None]      # word index 7 is out of range for 2 tokens
    cm = [1, 1]
    # parity mode dies like the reference
    with pytest.raises(IndexError):
        ner_mod.realign_wordpiece_labels(wpl, w2w, cm, 2, strict=True)
    # production mode drops the bad write and counts it
    ner_mod.realign_dropped.clear()
    out = ner_mod.realign_wordpiece_labels(wpl, w2w, cm, 2, strict=False)
    assert out == ["B-PER", "O"]
    assert sum(ner_mod.realign_dropped) == 1
    # well-formed output is identical in both modes
    good = (["B-PER", "I-PER"], [0, 1], [1, 1])
    assert ner_mod.realign_wordpiece_labels(*good, 2, strict=True) == \
        ner_mod.realign_wordpiece_labels(*good, 2, strict=False)


# ------------------------------------------------- hypocorism gate corpus


def test_hypo_edges_exactly_match_gazetteer():
    """The driver oracle's edge list must equal gazetteer relatedness
    over the mapped name set — including the NEGATIVES (nickname pairs
    like bob~bobby are unrelated and must unify only through the hub)."""
    import itertools

    import __spark_entry__ as entry
    from renard_spark.resources.gazetteers import hypocorism_related

    names = sorted(set(entry.HYPO_MAP.values()))
    want = {
        tuple(sorted(p)) for p in itertools.combinations(names, 2)
        if hypocorism_related(*p)
    }
    assert want == {tuple(sorted(e)) for e in entry.HYPO_EDGES}


def test_hypocorism_components_through_hub(spark):
    from renard_spark.operators.unify_core import unify_doc

    # nicknames alone: singletons; with the hub: one family component
    chars = unify_doc([("bob", 0, 1), ("bobby", 2, 3)])
    assert sorted(c["char_id"] for c in chars) == ["bob", "bobby"]
    chars = unify_doc([("bob", 0, 1), ("bobby", 2, 3), ("robert", 4, 5)])
    assert [c["names"] for c in chars] == [["bob", "bobby", "robert"]]


def test_gendered_presence_patterns_match_unify_doc():
    """The gendered_characters oracle rests on: per titled family, the
    component structure is a pure function of which of {mr X, mrs X, X}
    co-occur (bare X bridges; the mr~mrs edge is gender-cut). Enumerate
    all 7 presence patterns against unify_doc."""
    from renard_spark.operators.unify_core import unify_doc

    trio = ["mr smith", "mrs smith", "smith"]
    for pat in range(1, 8):
        present = [n for i, n in enumerate(trio) if pat >> i & 1]
        chars = unify_doc([(n, i * 2, i * 2 + 1)
                           for i, n in enumerate(present)])
        has_bare = "smith" in present
        if has_bare:
            assert len(chars) == 1
            c = chars[0]
            assert c["names"] == sorted(present)
            assert c["char_id"] == min(present)
            want_gender = ("MALE" if c["char_id"].startswith("mr ")
                           else "FEMALE" if c["char_id"].startswith("mrs ")
                           else "UNKNOWN")
            assert c["gender"] == want_gender
        else:
            # no bridge: every titled form is its own component
            assert sorted(c["char_id"] for c in chars) == sorted(present)
            for c in chars:
                assert c["gender"] == (
                    "MALE" if c["char_id"].startswith("mr ") else "FEMALE"
                )


# ------------------------------------------------ token-blocked pair gen


def test_token_blocking_equals_full_self_join(spark):
    """Token/hypocorism-family blocking (unify_distributed's one pair
    generator, in place of a quadratic self join over every name) must
    produce EXACTLY the components of unify_doc's full pairwise pass
    over the pooled mentions, on a mixed corpus exercising every rule
    family; per document, graph_rules_unify equals unify_doc."""
    import random

    from renard_spark.operators import unify
    from renard_spark.operators.unify_core import unify_doc
    from renard_spark.operators.unify_scale import unify_distributed

    rng = random.Random(3)
    pool = [
        "bob", "robert", "bobby", "liz", "elizabeth",
        "mr smith", "mrs smith", "smith", "anna smith",
        "Anna Karenina", "anna karenina", "karenina",
        "spark table", "spark batch", "customer table", "mr jones",
    ]
    rows = []
    for d in range(12):
        names = rng.sample(pool, rng.randint(2, 8))
        for i, n in enumerate(names):
            rows.append((f"d{d}", n, i * 3, i * 3 + len(n.split()), "PER"))
    ents = spark.createDataFrame(
        rows,
        "doc_id string, mention_str string, start_idx int, end_idx int,"
        " tag string",
    )

    def labels(df):
        return {(r["doc_id"], r["mention_str"], r["char_id"])
                for r in df.collect()}

    def core_labels(docs):
        out = set()
        for doc_rows in docs:
            chars = unify_doc([(m, s, e) for _, m, s, e, _ in doc_rows])
            char_of = {n: c["char_id"] for c in chars for n in c["names"]}
            out |= {(d, m, char_of[m]) for d, m, *_ in doc_rows}
        return out

    pooled = core_labels([rows])
    assert labels(unify_distributed(ents)) == pooled
    # blocking had alias pairs to find: some global character is
    # multi-name
    assert len({c for *_, c in pooled}) < len({m for _, m, _ in pooled})
    per_doc = core_labels(
        [[r for r in rows if r[0] == f"d{d}"] for d in range(12)])
    assert labels(unify.graph_rules_unify(ents)) == per_doc


def test_interleaved_corpus_reassembles_exactly(spark):
    """The driver-gate interleaved corpus (input_hint shape) must
    reassemble to the original flat text through normalize_documents,
    and its lineage must count 4 spans with 2 media spans per doc —
    the span-sequence invariant the span_lineage/media_stats queries
    hash-gate at sf0.01."""
    import __spark_entry__ as entrymod
    from renard_spark.sources import ingest

    sf = "/root/testdata/sf0.001"
    flat = {r["doc_id"]: r["text"]
            for r in entrymod._documents(spark, sf).collect()}
    inter = ingest.normalize_documents(entrymod._interleaved(spark, sf))
    got = {r["doc_id"]: r["text"] for r in inter.collect()}
    assert got == flat
    lin = ingest.span_lineage(inter)
    assert lin.filter("n_spans != 4").count() == 0
    med = ingest.media_spans(inter)
    assert med.count() == 2 * len(flat)
    # media refs are doc-unique and kind-prefixed
    assert med.select("media_ref").distinct().count() == 2 * len(flat)


def test_scrub_pii_semantics(spark):
    """URL-embedded emails count as URL only (replacement order), each
    kind counted on the text the replacement saw, tags in output."""
    from renard_spark.functions import text as ftext

    rows = [
        ("a", "mail me at bob@corp.io or +1 (415) 555-0123 now"),
        ("b", "see https://x.io/u?e=a@b.co and http://y.org twice"),
        ("c", "host 192.168.0.1 and 10.0.0.255 no phone 123"),
        ("d", "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in ftext.scrub_pii(df).collect()}
    assert got["a"]["n_email"] == 1 and got["a"]["n_phone"] == 1
    assert "<EMAIL>" in got["a"]["scrubbed"]
    assert "<PHONE>" in got["a"]["scrubbed"]
    # the email inside the URL was consumed by the URL replacement
    assert got["b"]["n_url"] == 2 and got["b"]["n_email"] == 0
    assert got["b"]["scrubbed"] == "see <URL> and <URL> twice"
    assert got["c"]["n_ip"] == 2 and got["c"]["n_phone"] == 0
    assert got["d"]["scrubbed"] == rows[3][1]
    assert (got["d"]["n_url"], got["d"]["n_email"], got["d"]["n_ip"],
            got["d"]["n_phone"]) == (0, 0, 0, 0)


def test_repetition_stats_hand_case(spark):
    """Hand-computed Gopher repetition metrics, including the
    fewer-than-n-tokens doc (no row) and an all-repeated doc."""
    from renard_spark.functions import text as ftext

    rows = [
        ("a", "x y x y x z"),   # grams: xy yx xy yx xz → 5, top 2/5, dup 4/5
        ("b", "solo"),           # 1 token → no row
        ("c", "p q p q p q p"),  # pq qp pq qp pq qp → top 3/6, dup 6/6
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: r for r in ftext.repetition_stats(df).collect()}
    assert set(got) == {"a", "c"}
    assert got["a"]["n_grams"] == 5
    assert got["a"]["top_gram_frac"] == pytest.approx(2 / 5)
    assert got["a"]["dup_gram_frac"] == pytest.approx(4 / 5)
    assert got["c"]["n_grams"] == 6
    assert got["c"]["top_gram_frac"] == pytest.approx(3 / 6)
    assert got["c"]["dup_gram_frac"] == pytest.approx(1.0)


def test_span_candidates_match_pure_helpers(spark):
    """DataFrame span enumeration == the pure-parity spans/spans_indexs
    helpers (reference utils.py:9-36), incl. the one-token no-span and
    len<=max_len quirks."""
    from renard_spark.operators.tokenize import TOKEN_RE_PY
    from renard_spark.operators.utils import (
        span_candidates, spans, spans_indexs,
    )
    import re

    rows = [("a", "the quick brown fox jumps"), ("b", "one"),
            ("c", "x y"), ("d", "")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {}
    for r in span_candidates(df, max_len=3).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["start_idx"], r["end_idx"], r["span_text"])
        )
    for doc_id, text in rows:
        toks = re.findall(TOKEN_RE_PY, text)
        want = [
            (i0, i1, " ".join(s))
            for (i0, i1), s in zip(spans_indexs(toks, 3), spans(toks, 3))
        ]
        assert sorted(got.get(doc_id, [])) == sorted(want), doc_id


def test_unicode_corpus_through_kg_chain(spark):
    """Accented text tokenizes like the reference's NLTK path ("José"
    is ONE token) and flows through mention detection → unification →
    co-occurrence edges — the lang="fra" parity the old ASCII TOKEN_RE
    broke."""
    from renard_spark.operators import cooccur, ner, tokenize, unify
    from renard_spark.sources import ingest

    docs = spark.createDataFrame(
        [
            ("1", "Hélène parlait avec José. José souriait à Hélène."),
            ("2", "Hélène et José dansaient ensemble à l'époque."),
        ],
        "doc_id string, text string",
    )
    toks = tokenize.tokens(ingest.normalize_documents(docs))
    got = [r.token for r in toks.filter("doc_id='1'").orderBy("tok_idx").collect()]
    assert got == [
        "Hélène", "parlait", "avec", "José", ".",
        "José", "souriait", "à", "Hélène", ".",
    ]
    unified = unify.naive_unify(
        ner.dictionary_ner(toks, ["Hélène", "José"])
    )
    edges = cooccur.cooccurrence_edges(
        unified.select("doc_id", "char_id", "start_idx", "end_idx"),
        3, "tokens",
    )
    assert sorted(map(tuple, edges.collect())) == [
        ("1", "Hélène", "José", 4), ("2", "Hélène", "José", 1),
    ]
