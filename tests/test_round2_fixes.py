"""Round-2 hardening: star CC, simhash banding, multi-table SRP,
bucket caps, deterministic block ids, gender tie-break parity,
lazy BM25, idempotent streaming sink."""

import random

import pytest
from pyspark.sql import functions as F

from renard_spark.functions import dedup, retrieval, similarity
from renard_spark.io.catalog import get_catalog
from renard_spark.operators import cooccur, unify
import renard_spark.operators.cc as cc_mod
from renard_spark.operators.cc import ConvergenceError, connected_components
from renard_spark.operators.unify_scale import unify_distributed
from renard_spark.streaming.ingest import write_batch_tables


def _union_find_truth(vertices, edges):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for v in vertices:
        groups.setdefault(find(v), set()).add(v)
    return {v: min(g) for g in groups.values() for v in g}


def test_cc_star_random_graphs(spark):
    rng = random.Random(7)
    vertices = [f"v{i:03d}" for i in range(100)]
    edges = [tuple(rng.sample(vertices, 2)) for _ in range(110)]
    edges += [(v, v) for v in vertices]  # isolates as self-loops
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.vertex: r.component for r in connected_components(df).collect()}
    assert got == _union_find_truth(vertices, edges)


def test_cc_star_long_chain(spark):
    # path graph of diameter 60: hash-to-min would need 61 rounds, more
    # than its budget, so connected_components finishes it with the
    # O(log n) large-star/small-star rounds
    assert cc_mod.HASH_TO_MIN_ROUNDS < 61
    vertices = [f"c{i:03d}" for i in range(61)]
    edges = [(vertices[i], vertices[i + 1]) for i in range(60)]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.vertex: r.component for r in connected_components(df).collect()}
    assert set(got) == set(vertices)
    assert set(got.values()) == {"c000"}


def test_cc_raises_on_non_convergence(spark, monkeypatch):
    # both budgets too small for a 20-vertex chain: hash-to-min needs
    # 20 rounds, and one star round can never confirm a fixpoint
    monkeypatch.setattr(cc_mod, "HASH_TO_MIN_ROUNDS", 3)
    monkeypatch.setattr(cc_mod, "STAR_ROUNDS", 1)
    vertices = [f"c{i:03d}" for i in range(20)]
    edges = [(vertices[i], vertices[i + 1]) for i in range(19)]
    df = spark.createDataFrame(edges, "src string, dst string")
    with pytest.raises(ConvergenceError):
        connected_components(df)


# ------------------------------------------------------------- simhash


def test_simhash_near_pairs_exact(spark):
    rng = random.Random(11)
    fps = {}
    base = rng.getrandbits(64)
    for i in range(30):
        if i % 3 == 0:
            fp = base ^ sum(1 << b for b in rng.sample(range(64), rng.randint(0, 3)))
        else:
            fp = rng.getrandbits(64)
        # store as signed 64-bit (Spark LongType)
        fps[f"d{i:02d}"] = fp - (1 << 64) if fp >= 1 << 63 else fp
    sim = spark.createDataFrame(
        list(fps.items()), "doc_id string, simhash long"
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_near_pairs(sim, max_hamming=3, bands=4).collect()
    }
    ids = sorted(fps)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want.add((a, b, h))
    # pigeonhole: hamming<=3 with 4 bands guarantees a shared band,
    # so the banded join finds EVERY true pair — no recall loss
    assert got == want


# --------------------------------------------------- multi-table SRP


def _brute_cosine(vecs):
    import math

    out = {}
    for a, va in vecs.items():
        for b, vb in vecs.items():
            if a == b:
                continue
            dot = sum(x * y for x, y in zip(va, vb))
            na = math.sqrt(sum(x * x for x in va))
            nb = math.sqrt(sum(x * x for x in vb))
            out[(a, b)] = dot / (na * nb)
    return out


def test_srp_multi_topk_superset_and_exact_scores(spark):
    rng = random.Random(13)
    vecs = {
        i: [rng.gauss(0, 1) for _ in range(16)] for i in range(40)
    }
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id int, embedding array<float>"
    )
    multi = similarity.srp_multi_topk(emb, k=3, n_bits=4, n_tables=4)
    # table 0 of the 4-table index IS the 1-table index, so 4-table
    # candidates are a strict superset: per-vector top-1 cosine under
    # 4 tables >= top-1 under 1 table (OR-amplification only ADDS)
    single = similarity.srp_multi_topk(emb, k=3, n_bits=4, n_tables=1)
    m1 = {r.vec_id: r.cosine for r in multi.filter("rank=1").collect()}
    s1 = {r.vec_id: r.cosine for r in single.filter("rank=1").collect()}
    for v, c in s1.items():
        assert v in m1 and m1[v] >= c - 1e-9
    # and every reported cosine is the exact brute-force value
    truth = _brute_cosine({k: [float(x) for x in v] for k, v in vecs.items()})
    spark_vecs = {
        r.vec_id: r.embedding for r in emb.collect()
    }
    truth32 = _brute_cosine(spark_vecs)
    for r in multi.collect():
        assert abs(truth32[(r.vec_id, r.neighbor_id)] - r.cosine) < 1e-6


def test_srp_multi_topk_bucket_cap_bounds_fanout(spark):
    # one giant bucket: 50 identical-direction vectors all collide in
    # every table; the cap keeps candidate neighbors to the bucket's
    # first max_bucket ids
    emb = spark.createDataFrame(
        [(i, [1.0, float(i % 3) * 1e-9, 0.0]) for i in range(50)],
        "vec_id int, embedding array<float>",
    )
    capped = similarity.srp_multi_topk(
        emb, k=50, n_bits=4, n_tables=2, max_bucket=5
    )
    by_vec = {}
    for r in capped.collect():
        by_vec.setdefault(r.vec_id, set()).add(r.neighbor_id)
    reps = set(range(5))
    for v, nbrs in by_vec.items():
        assert nbrs <= reps - {v}, (v, nbrs)
        assert len(nbrs) <= 5


def test_ivf_topk_exact_scores_and_cell_structure(spark):
    rng = random.Random(19)
    vecs = {i: [rng.gauss(0, 1) for _ in range(8)] for i in range(60)}
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id int, embedding array<float>"
    )
    cents = similarity.ivf_centroids(emb, 8)
    assert cents.count() == 8
    assign = similarity.ivf_assignments(emb, cents, nprobe=1)
    # every vector lands in exactly one cell
    assert assign.count() == 60
    assert assign.select("vec_id").distinct().count() == 60

    top = similarity.ivf_topk(emb, k=3, n_centroids=8, nprobe=2)
    spark_vecs = {r.vec_id: r.embedding for r in emb.collect()}
    truth = _brute_cosine(spark_vecs)
    rows = top.collect()
    assert rows, "IVF produced no candidates"
    for r in rows:
        assert abs(truth[(r.vec_id, r.neighbor_id)] - r.cosine) < 1e-6
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, []).append(r.rank)
    for v, ranks in by_vec.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3


def test_lsh_candidates_bucket_cap(spark):
    bk = spark.createDataFrame(
        [(f"d{i}", 0, "samekey") for i in range(10)],
        "doc_id string, band int, band_key string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidates(bk, max_bucket=2).collect()}
    # left side restricted to the first 2 docs: ≤ 2·n pairs, and every
    # doc still reachable from a representative
    assert all(a in ("d0", "d1") for a, _ in pairs)
    covered = {d for p in pairs for d in p}
    assert covered == {f"d{i}" for i in range(10)}
    full = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidates(bk).collect()}
    assert len(full) == 45 and pairs < full


# ----------------------------------------- deterministic block ids


def test_cooccur_input_order_invariant(spark):
    rng = random.Random(17)
    rows = []
    for d in range(6):
        for i in range(rng.randint(5, 25)):
            s = rng.randint(0, 120)
            rows.append((f"doc{d}", f"c{rng.randint(0, 4)}", s, s + 1))
    m = spark.createDataFrame(
        rows, "doc_id string, char_id string, start_idx int, end_idx int"
    )
    base = cooccur.cooccurrence_edges(m, dist=3, unit="tokens")
    shuffled = cooccur.cooccurrence_edges(
        m.orderBy(F.rand(5)).repartition(7), dist=3, unit="tokens"
    )
    key = lambda r: (r.doc_id, r.src, r.dst, r.weight)
    assert sorted(map(key, base.collect())) == sorted(
        map(key, shuffled.collect())
    )


# ------------------------------------------------- gender tie parity


def test_gender_tie_component_parity_vs_scale(spark):
    # 'Mr Smith' (MALE) and 'Mrs Smith' (FEMALE) conflict → their direct
    # edge is cut, but both stay connected through 'Smith' (UNKNOWN):
    # one component with a 1-1-1 gender vote. Canonical tie-break =
    # gender of the first name in sorted order (MALE via 'Mr Smith').
    rows = [
        ("d1", "Mr Smith", 0, 2, "PER"),
        ("d1", "Mrs Smith", 10, 12, "PER"),
        ("d1", "Smith", 20, 21, "PER"),
    ]
    ents = spark.createDataFrame(
        rows, "doc_id string, mention_str string, start_idx int, end_idx int, tag string"
    )
    parity = unify.graph_rules_unify(ents)
    scale = unify_distributed(ents)
    pg = {(r.char_id, r.gender) for r in parity.select("char_id", "gender").distinct().collect()}
    sg = {(r.char_id, r.gender) for r in scale.select("char_id", "gender").distinct().collect()}
    assert pg == sg
    assert len(pg) == 1 and next(iter(pg))[1] == "MALE"


def test_map_batches_key_batch_boundary_carry(spark):
    """Force 7-row Arrow batches so key-groups SPAN batch boundaries:
    the keyed helper's trailing-group carry must reassemble every group
    exactly (the default 10k batches never exercise this path in other
    tests)."""
    from itertools import groupby

    from renard_spark.operators.utils import map_batches

    rows = [
        (f"doc{d:02d}", i, d * 100 + i) for d in range(9) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id string, i int, v int")

    def step(batches):
        for batch in batches:
            recs = zip(batch["doc_id"], batch["i"], batch["v"])
            out = []
            for doc_id, g in groupby(recs, key=lambda r: r[0]):
                g = list(g)
                # group must arrive COMPLETE and in sort order
                idx = [i for _, i, _ in g]
                out.append((doc_id, len(g), sum(v for _, _, v in g),
                            idx == sorted(idx)))
            yield out

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            r.doc_id: (r.n, r.s, r.ordered)
            for r in map_batches(
                df, step, "doc_id string, n int, s long, ordered boolean",
                key="doc_id", sort_cols=("i",),
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = {
        f"doc{d:02d}": (5, sum(d * 100 + i for i in range(5)), True)
        for d in range(9)
    }
    assert got == want


def test_map_batches_output_types(spark):
    """Outputs come out in the declared schema's Arrow types whatever
    the Python values: zero-row outputs, all-NULL columns, Python ints
    for ``int`` and ``long`` columns, and a NULL-bearing integer group
    key through ``cooccurrence_edges``."""
    from renard_spark.operators.cooccur import doc_edges
    from renard_spark.operators.quotes import model_speakers
    from renard_spark.operators.utils import map_batches

    df = spark.range(0, 20, numPartitions=2)

    def step(batches):
        for batch in batches:
            ids = batch["id"]
            # zero rows for every batch that starts at an even id
            yield [] if ids[0] % 2 == 0 else [(i, i * 2**40) for i in ids]

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        got = sorted(map(tuple, map_batches(
            df, step, "a int, b long").collect()))
        assert got == [(i, i * 2**40) for i in range(1, 20, 2)]
        empty = map_batches(df, lambda bs: ([] for _ in bs), "a int")
        assert empty.collect() == []

        # one document per batch: d1 has no candidate speakers, so its
        # batch's speaker columns are all NULL; d2's candidate scores
        # 0.2, under the gate
        doc_tokens = spark.createDataFrame(
            [("d1", ["t"] * 30), ("d2", ["t"] * 30)],
            "doc_id string, tokens array<string>",
        )
        quotes = spark.createDataFrame(
            [("d1", 0, 2, 5), ("d1", 1, 9, 12), ("d2", 0, 2, 5)],
            "doc_id string, quote_id int, start int, end int",
        )
        mentions = spark.createDataFrame(
            [("d2", "amy", 7, 8)],
            "doc_id string, char_id string, start_idx int, end_idx int",
        )
        speakers = {
            (r.doc_id, r.quote_id): (r.speaker_char_id, r.speaker_score)
            for r in model_speakers(
                doc_tokens, quotes, mentions,
                lambda: (lambda b: [0.2] * len(b)),
            ).collect()
        }
        assert speakers == {("d1", 0): (None, None), ("d1", 1): (None, None),
                            ("d2", 0): (None, 0.2)}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    # window_id NULL is its own group, next to windows 0 and 1
    ms = [("A", 0, 1, 0), ("B", 2, 3, 0), ("A", 4, 5, None),
          ("C", 6, 7, None), ("B", 8, 9, 1), ("C", 8, 9, 1)]
    mdf = spark.createDataFrame(
        [("d1", c, s, e, w) for c, s, e, w in ms],
        "doc_id string, char_id string, start_idx int, end_idx int,"
        " window_id int",
    )
    toks = spark.createDataFrame(
        [("d1", t // 3, t) for t in range(10)],
        "doc_id string, sent_idx int, tok_idx int",
    )
    edges = cooccur.cooccurrence_edges(
        mdf, 1, "sentences", tokens_df=toks, group_col="window_id")
    assert dict(edges.dtypes)["window_id"] == "int"
    got = {(r.window_id, r.src, r.dst): r.weight for r in edges.collect()}
    want = {}
    for w in (0, None, 1):
        sub = sorted(((c, s, e) for c, s, e, g in ms if g == w),
                     key=lambda m: (m[1], m[2], m[0]))
        for src, dst, weight in doc_edges(
                sub, 1, "sentences", [0, 3, 6, 9], [3, 6, 9, 10]):
            want[(w, src, dst)] = weight
    assert want and got == want


def test_graph_rules_unify_coref_path_matches_core(spark):
    """The batched Spark wrapper WITH coref chains == unify_doc run
    driver-side per document (chains drive gender votes and mention
    assignment)."""
    from renard_spark.operators.unify_core import unify_doc

    ents_rows = [
        ("d1", "Elizabeth", 0, 1, "PER"),
        ("d1", "Mr Darcy", 5, 7, "PER"),
        ("d1", "Darcy", 12, 13, "PER"),
        ("d2", "Jane", 0, 1, "PER"),
        ("d2", "Jane Bennet", 8, 10, "PER"),
    ]
    chain_rows = [
        ("d1", 0, 0, 1, "Elizabeth"), ("d1", 0, 3, 4, "she"),
        ("d1", 1, 5, 7, "Mr Darcy"), ("d1", 1, 9, 10, "he"),
        ("d2", 0, 0, 1, "Jane"), ("d2", 0, 4, 5, "her"),
    ]
    ents = spark.createDataFrame(
        ents_rows,
        "doc_id string, mention_str string, start_idx int, end_idx int,"
        " tag string",
    )
    chains = spark.createDataFrame(
        chain_rows,
        "doc_id string, chain_id int, start_idx int, end_idx int,"
        " mention_str string",
    )
    got = {}
    for r in unify.graph_rules_unify(ents, chains).collect():
        got.setdefault(r.doc_id, set()).add(
            (r.char_id, tuple(r.names), r.gender, r.mention_str,
             r.start_idx, r.end_idx)
        )
    want = {}
    for doc in ("d1", "d2"):
        ms = [(m, s, e) for d, m, s, e, _ in ents_rows if d == doc]
        ch: dict[int, list] = {}
        for d, cid, s, e, m in chain_rows:
            if d == doc:
                ch.setdefault(cid, []).append((m, s, e))
        for c in unify_doc(ms, list(ch.values())):
            for m, s, e in c["mentions"]:
                want.setdefault(doc, set()).add(
                    (c["char_id"], tuple(c["names"]), c["gender"], m, s, e)
                )
    assert got == want


def test_graph_rules_unify_batch_boundary_equals_core(spark):
    """7-row Arrow batches split every document across batches: the
    single batch body must still see each document whole, with its
    chains (a document with and without chains, and one whose chains
    arrive with no PER mention), and equal unify_doc per document."""
    from renard_spark.operators.unify_core import unify_doc

    ents_rows = [
        ("d1", "Elizabeth Bennet", 0, 2, "PER"),
        ("d1", "Elizabeth", 5, 6, "PER"),
        ("d1", "Lizzy", 9, 10, "PER"),
        ("d1", "Mr Darcy", 12, 14, "PER"),
        ("d1", "Darcy", 20, 21, "PER"),
        ("d1", "Elizabeth", 25, 26, "PER"),
        ("d1", "Lizzy", 30, 31, "PER"),
        ("d1", "Darcy", 33, 34, "PER"),
        ("d1", "Elizabeth", 40, 41, "PER"),
        ("d2", "Bingley", 50, 51, "PER"),
        ("d2", "Jane Bennet", 60, 62, "PER"),
        ("d2", "Bingley", 70, 71, "PER"),
    ] + [("d2", "Jane", 3 * i, 3 * i + 1, "PER") for i in range(9)]
    chain_rows = [
        ("d1", 0, 5, 6, "Elizabeth"), ("d1", 0, 7, 8, "she"),
        ("d1", 0, 11, 12, "her"),
        ("d1", 1, 12, 14, "Mr Darcy"), ("d1", 1, 15, 16, "he"),
        ("d1", 1, 22, 23, "his"),
        ("d1", 2, 43, 44, "they"), ("d1", 2, 47, 48, "them"),
        ("d3", 0, 0, 1, "he"), ("d3", 0, 4, 5, "him"),
        ("d3", 1, 8, 9, "she"),
    ]
    ents = spark.createDataFrame(
        ents_rows,
        "doc_id string, mention_str string, start_idx int, end_idx int,"
        " tag string",
    )
    chains = spark.createDataFrame(
        chain_rows,
        "doc_id string, chain_id int, start_idx int, end_idx int,"
        " mention_str string",
    )

    def want(min_appearances):
        out = []
        for doc in ("d1", "d2", "d3"):
            ms = [(m, s, e) for d, m, s, e, _ in ents_rows if d == doc]
            ch: dict[int, list] = {}
            for d, cid, s, e, m in chain_rows:
                if d == doc:
                    ch.setdefault(cid, []).append((m, s, e))
            out += [
                (doc, c["char_id"], tuple(c["names"]), c["gender"], m, s, e)
                for c in unify_doc(ms, list(ch.values()),
                                   min_appearances=min_appearances)
                for m, s, e in c["mentions"]
            ]
        return sorted(out)

    def got(min_appearances):
        return sorted(
            (r.doc_id, r.char_id, tuple(r.names), r.gender, r.mention_str,
             r.start_idx, r.end_idx)
            for r in unify.graph_rules_unify(
                ents, chains, min_appearances=min_appearances).collect()
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for k in (0, 3):
            assert got(k) == want(k), k
    finally:
        spark.conf.set(key, old)
    # the chains count: pronouns joined their characters, and the
    # threshold dropped Bingley
    rows = want(3)
    assert ("d1", "Elizabeth", ("Elizabeth", "Elizabeth Bennet", "Lizzy"),
            "UNKNOWN", "she", 7, 8) in rows
    assert not any(r[0] == "d3" or r[1] == "Bingley" for r in rows)


def test_most_frequent_name_tie_breaks_smallest(spark):
    unified = spark.createDataFrame(
        [
            ("d1", "c1", ["Anna", "Zoe"], "UNKNOWN", "Zoe", 0, 1),
            ("d1", "c1", ["Anna", "Zoe"], "UNKNOWN", "Anna", 5, 6),
        ],
        "doc_id string, char_id string, names array<string>, gender string,"
        " mention_str string, start_idx int, end_idx int",
    )
    row = unify.characters_table(unified).collect()[0]
    assert row.most_frequent_name == "Anna"


def test_giant_doc_join_path_bounded(spark):
    """Pathological single document (8k mentions, heavy positional
    overlap): the per-document scan handles it in one call and matches
    the reference-style oracle."""
    from .oracle import cooccur_edges_oracle

    rng = random.Random(29)
    rows = [
        ("big", f"c{rng.randint(0, 50)}", s, s + 1)
        for s in sorted(rng.randint(0, 20000) for _ in range(8000))
    ]
    m = spark.createDataFrame(
        rows, "doc_id string, char_id string, start_idx int, end_idx int"
    )
    got = sorted(
        (r.doc_id, r.src, r.dst, r.weight)
        for r in cooccur.cooccurrence_edges(m, dist=5, unit="tokens").collect()
    )
    want = sorted(
        ("big", src, dst, w)
        for (src, dst), (w, _) in cooccur_edges_oracle(
            [r[1:] for r in rows], 5, "tokens").items()
    )
    assert got == want and len(got) > 0


def test_language_id_multi(spark):
    from renard_spark.functions.text import language_id_multi

    docs = spark.createDataFrame(
        [
            ("en", "the cat sat on the mat and it was not sad"),
            ("fr", "le chat est sur la table et il ne dort pas dans une boite"),
            ("de", "der hund ist im haus und er wird nicht mit dem ball"),
            ("es", "el perro es grande y no come pero las casas son sus"),
            ("xx", "zorp blip quux flarn dree"),
        ],
        "doc_id string, text string",
    )
    got = {r.doc_id: r.lang_pred for r in language_id_multi(docs).collect()}
    assert got == {"en": "en", "fr": "fr", "de": "de", "es": "es",
                   "xx": "unknown"}


# ------------------------------------------------------- lazy BM25


def test_bm25_builds_with_zero_jobs(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i}") for i in range(20)],
        "doc_id int, text string",
    )
    q = spark.createDataFrame([(0, "alpha")], "query_id int, term string")
    sc = spark.sparkContext
    sc.setJobGroup("bm25-lazy-probe", "plan construction only")
    idx = retrieval.bm25_index(docs)
    topk = retrieval.bm25_topk(idx, q, k=3)
    jobs = sc.statusTracker().getJobIdsForGroup("bm25-lazy-probe")
    sc.setJobGroup(None, None)
    assert list(jobs) == [], "bm25_topk must not run driver jobs at build time"
    assert topk.count() > 0  # and the plan still executes


# --------------------------------------------- idempotent batch sink


def test_write_batch_tables_idempotent(spark, tmp_path):
    catalog = get_catalog(spark, str(tmp_path / "cat"))
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    out = {"t1": df}
    write_batch_tables(catalog, out, 0, ("t1",))
    write_batch_tables(catalog, out, 0, ("t1",))  # replayed batch
    assert catalog.read("t1").count() == 2
    write_batch_tables(catalog, out, 1, ("t1",))  # a NEW batch appends
    assert catalog.read("t1").count() == 4
