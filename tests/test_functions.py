"""Dedup / similarity / text-analysis / multimodal operators."""

import hashlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from renard_spark.functions import dedup, multimodal, similarity, text
from renard_spark import corpus
from renard_spark.sources import ingest


def _docs(spark, texts: dict[str, str]):
    return spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id string, text string"
    )


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = {
        "a": base,
        "b": base + " tomorrow",             # near-dup of a
        "c": "completely different content about spark partitions and shuffles",
        "d": base,                            # exact dup of a
    }
    pairs = dedup.minhash_dedup(_docs(spark, texts), w=3, threshold=0.3)
    got = {(r.doc_a, r.doc_b): round(r.jaccard, 3) for r in pairs.collect()}
    assert ("a", "d") in got and got[("a", "d")] == 1.0
    assert ("a", "b") in got and 0.3 <= got[("a", "b")] < 1.0
    assert not any("c" in p for p in got)


def test_minhash_signature_semantics(spark):
    texts = {"x": "one two three four five"}
    sh = dedup.shingles(_docs(spark, texts), w=3)
    got_sh = sorted(r.shingle for r in sh.collect())
    assert got_sh == ["one two three", "three four five", "two three four"]
    sigs = {r.seed: r.sig for r in dedup.minhash_signatures(sh, 4).collect()}
    for seed in range(4):
        want = min(
            hashlib.md5(f"{seed}:{s}".encode()).hexdigest() for s in got_sh
        )
        assert sigs[seed] == want


def test_simhash_identical_and_groups(spark):
    texts = {"a": "alpha beta gamma", "b": "alpha beta gamma", "c": "delta"}
    sim = dedup.simhash(_docs(spark, texts))
    vals = {r.doc_id: r.simhash for r in sim.collect()}
    assert vals["a"] == vals["b"] != vals["c"]
    groups = dedup.simhash_dup_groups(sim)
    g = {r.doc_id: r.dup_group_size for r in groups.collect()}
    assert g == {"a": 2, "b": 2, "c": 1}


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    got = similarity.cosine_topk(emb, k=3)
    rows = {}
    for r in got.collect():
        rows.setdefault(r.vec_id, []).append((r.rank, r.neighbor_id, r.cosine))
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = norm @ norm.T
    for i in range(20):
        order = [
            j for j in sorted(range(20), key=lambda j: (-cos[i, j], j)) if j != i
        ][:3]
        mine = [n for _, n, _ in sorted(rows[i])]
        assert mine == order, i
        for rank, n, c in rows[i]:
            assert abs(c - cos[i, n]) < 1e-5


def test_srp_lsh_subset_of_exact_and_same_bucket_recall(spark):
    rng = np.random.RandomState(11)
    # two tight clusters → high within-cluster recall
    c1 = rng.randn(1, 8) + rng.randn(10, 8) * 0.01
    c2 = -c1[0] + rng.randn(10, 8) * 0.01
    vecs = np.vstack([c1, c2]).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    ann = similarity.srp_lsh_topk(emb, k=3, n_bits=4)
    got = {(r.vec_id, r.neighbor_id) for r in ann.collect()}
    # neighbors stay within the vector's cluster
    for a, b in got:
        assert (a < 10) == (b < 10)
    assert len(got) > 0


def test_quality_and_langid_and_fingerprints(spark):
    texts = {
        "good": "the cat sat on the mat and it was happy with the day",
        "junk": "!!! ??? ,,, ;;; ###",
        "rep": "spam spam spam spam spam spam",
    }
    q = {r.doc_id: r for r in text.quality_scores(_docs(spark, texts)).collect()}
    assert q["good"].quality_score > q["junk"].quality_score
    assert q["rep"].repetition_ratio > 0.8
    l = {r.doc_id: r for r in text.language_id(_docs(spark, texts)).collect()}
    assert l["good"].lang_pred == "en" and l["junk"].lang_pred == "unknown"
    fp = {r.doc_id: r for r in text.fingerprints(_docs(spark, texts)).collect()}
    assert fp["good"].fp == hashlib.md5(texts["good"].encode()).hexdigest()


def test_multimodal_plumbing(spark):
    docs = corpus.generate_documents(spark, 20, seed=8, media_rate=0.6)
    spans = ingest.media_spans(ingest.normalize_documents(docs))
    n = spans.count()
    assert n > 0
    decoded = multimodal.decode_media(spans)
    rows = decoded.collect()
    assert len(rows) == n
    assert all(len(r.feature) == multimodal.FEATURE_DIM for r in rows)
    # deterministic: same media_ref → same features
    d2 = {r.media_ref: r.feature for r in multimodal.decode_media(spans).collect()}
    for r in rows:
        assert d2[r.media_ref] == r.feature
    # strict mode is the real codec integration point
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.decode_media(spans, strict=True).collect()
    plan = multimodal.frame_sample_plan(decoded, every_ms=1000)
    audio = [r for r in rows if r.kind == "audio"]
    if audio:
        assert plan.count() >= len(audio)


def test_embedding_near_dups(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.randn(8)
    vecs = [base + rng.randn(8) * 0.01 for _ in range(4)] + [
        rng.randn(8) for _ in range(8)
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    pairs = dedup.embedding_near_dups(emb, threshold=0.95, n_bits=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # the four jittered copies of `base` find each other
    want = {(a, b) for a in range(4) for b in range(4) if a < b}
    assert want <= got
    # nothing random sneaks above 0.95
    assert all(a < 4 and b < 4 for a, b in got)


def test_event_windows_and_sessions(spark):
    import datetime as dt

    from renard_spark.functions import events as fevents

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (0, t0, 1, "click", 1.0),
        (1, t0 + dt.timedelta(minutes=10), 1, "click", 2.0),
        (2, t0 + dt.timedelta(minutes=70), 1, "view", 4.0),
        (3, t0 + dt.timedelta(minutes=5), 2, "click", 8.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    win = {
        (r.window_start.hour, r.event_type): (r.n, r.total_value)
        for r in fevents.windowed_event_aggregates(ev, "1 hour").collect()
    }
    assert win == {(0, "click"): (3, 11.0), (1, "view"): (1, 4.0)}
    sess = {
        (r.user_id, r.session_id): r.n_events
        for r in fevents.sessionize(ev, 30).collect()
    }
    # user 1: events 0,1 in one session; event 2 after 60-min gap
    assert sess == {(1, 0): 2, (1, 1): 1, (2, 0): 1}


def _semdedup_oracle(vecs, n_centroids, threshold):
    """Brute-force SemDeDup: md5-sampled codebook, nearest-cell
    assignment, within-cell pairwise cosine, keep-smallest-id."""
    n = len(vecs)
    order = sorted(range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = vecs[order[:n_centroids]]
    nv = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    nc = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    cos_c = nv @ nc.T
    # argmax with centroid-id tiebreak ascending
    cell = np.array([
        min(range(n_centroids), key=lambda c: (-cos_c[i, c], c))
        for i in range(n)
    ])
    cos = nv @ nv.T
    out = {}
    for i in range(n):
        dups = [
            j for j in range(n)
            if j < i and cell[j] == cell[i] and cos[i, j] >= threshold
        ]
        out[i] = (1, i) if not dups else (0, min(dups))
    return out


def test_semantic_dedup_matches_brute_force(spark):
    rng = np.random.RandomState(3)
    base = rng.randn(12, 8)
    # plant near-duplicate pairs: perturbed copies of existing rows
    vecs = np.vstack([base, base[:6] + rng.randn(6, 8) * 0.01]).astype(
        "float64"
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: (r.keep, r.canon)
        for r in similarity.semantic_dedup(
            emb, threshold=0.9, n_centroids=4
        ).collect()
    }
    want = _semdedup_oracle(vecs, 4, 0.9)
    assert got == want
    # at least one planted duplicate was caught (same cell + cos>0.9)
    assert any(k == 0 for k, _ in got.values())
    # every canon points at a kept vector, and kept vectors self-point
    for i, (keep, canon) in got.items():
        if keep:
            assert canon == i
        else:
            assert got[canon][0] == 1 and canon < i


def test_semantic_dedup_max_cell_caps_neighbor_side(spark):
    rng = np.random.RandomState(5)
    # one tight cluster of 10 near-identical vectors: uncapped, ids
    # 1..9 all dup to 0; capped at 2 the neighbor side per cell is
    # {two smallest ids} — everyone still resolves to a small id
    vecs = (rng.randn(1, 8) + rng.randn(10, 8) * 0.001).astype("float64")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    full = {
        r.vec_id: (r.keep, r.canon)
        for r in similarity.semantic_dedup(
            emb, threshold=0.99, n_centroids=2
        ).collect()
    }
    capped = {
        r.vec_id: (r.keep, r.canon)
        for r in similarity.semantic_dedup(
            emb, threshold=0.99, n_centroids=2, max_cell=2
        ).collect()
    }
    # same keep decisions here (survivors are the smallest ids, which
    # the cap retains); cap only limits who can SERVE as a neighbor
    assert full == capped
    assert sum(k for k, _ in full.values()) < 10


def test_dedup_keep_best_survivor_is_highest_quality(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    texts = {
        "a": base,
        "b": base + " tomorrow",  # near-dup of a
        "c": "completely different content about spark partitions",
        "d": base,  # exact dup of a
    }
    docs = _docs(spark, texts)
    pairs = dedup.minhash_dedup(docs, w=3, threshold=0.3)
    quality = spark.createDataFrame(
        [("a", 0.2), ("b", 0.9), ("c", 0.5), ("d", 0.2)],
        "doc_id string, quality_score double",
    )
    got = {
        r.doc_id: (r.cluster_id, r.keep, r.best_id)
        for r in dedup.dedup_keep_best(docs, pairs, quality).collect()
    }
    # {a,b,d} is one cluster; canonical label stays the smallest member
    # but the SURVIVOR is b (highest quality)
    assert got["a"] == ("a", 0, "b")
    assert got["b"] == ("a", 1, "b")
    assert got["d"] == ("a", 0, "b")
    # singleton keeps itself
    assert got["c"] == ("c", 1, "c")


def test_dedup_keep_best_quality_tie_breaks_to_smallest_id(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = _docs(spark, {"a": base, "b": base, "c": base})
    pairs = dedup.minhash_dedup(docs, w=3, threshold=0.3)
    quality = spark.createDataFrame(
        [("a", 0.7), ("b", 0.7), ("c", 0.7)],
        "doc_id string, quality_score double",
    )
    got = {
        r.doc_id: (r.keep, r.best_id)
        for r in dedup.dedup_keep_best(docs, pairs, quality).collect()
    }
    assert got == {"a": (1, "a"), "b": (0, "a"), "c": (0, "a")}


def test_tfidf_topk_hand_golden(spark):
    # 3 docs; "apple" only in d1 (idf ln3), "banana" in d1+d2 (ln 1.5),
    # "cherry" in all three (idf 0 -> ranked last by score)
    import math

    texts = {
        "d1": "apple apple banana cherry",
        "d2": "banana cherry cherry",
        "d3": "cherry",
    }
    out = text.tfidf_topk(_docs(spark, texts), k=2)
    got = {
        (r.doc_id, r.rank): (r.term, round(r.score, 6))
        for r in out.collect()
    }
    ln3, ln15 = math.log(3.0), math.log(1.5)
    assert got[("d1", 1)] == ("apple", round(2 * ln3, 6))
    assert got[("d1", 2)] == ("banana", round(ln15, 6))
    assert got[("d2", 1)] == ("banana", round(ln15, 6))
    # cherry's idf is exactly 0 -> score 0, still returned at rank 2
    assert got[("d2", 2)] == ("cherry", 0.0)
    assert got[("d3", 1)] == ("cherry", 0.0)
    assert len(got) == 5


def test_bigram_lm_scores_hand_golden(spark):
    # corpus: "a b a b" and "a b c". bigram counts: (a,b)=3, (b,a)=1,
    # (b,c)=1; c1: a->3, b->2; V = |{a,b,c}| = 3.
    import math

    texts = {"x": "a b a b", "y": "a b c"}
    out = text.bigram_lm_scores(_docs(spark, texts))
    got = {r.doc_id: (r.n_bigrams, r.bigram_nll) for r in out.collect()}
    p_ab = (3 + 1) / (3 + 3)   # c2(a,b)+1 / c1(a)+V
    p_ba = (1 + 1) / (2 + 3)
    p_bc = (1 + 1) / (2 + 3)
    x_nll = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
    y_nll = -(math.log(p_ab) + math.log(p_bc)) / 2
    assert got["x"][0] == 3 and abs(got["x"][1] - x_nll) < 1e-9
    assert got["y"][0] == 2 and abs(got["y"][1] - y_nll) < 1e-9


def test_chunk_documents_covers_and_reassembles(spark):
    words = " ".join(f"w{i}" for i in range(250))
    texts = {"long": words, "short": "only three tokens", "empty": ""}
    out = text.chunk_documents(_docs(spark, texts), size=100, stride=80)
    rows = sorted(
        out.collect(), key=lambda r: (r.doc_id, r.chunk_id)
    )
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert "empty" not in by_doc
    longs = by_doc["long"]
    # starts 0,80,160,240 -> 4 chunks; last has 250-240=10 tokens
    assert [(r.start_tok, r.n_tok) for r in longs] == [
        (0, 100), (80, 100), (160, 90), (240, 10)
    ]
    assert [r.chunk_id for r in longs] == [0, 1, 2, 3]
    import hashlib

    toks = words.split(" ")
    want_fp = hashlib.md5(
        " ".join(toks[80:180]).encode()
    ).hexdigest()
    assert longs[1].chunk_fp == want_fp
    assert by_doc["short"][0].n_tok == 3


def test_mixture_weights_normalized(spark):
    df = spark.createDataFrame(
        [(1, "a b c d", "big"), (2, "a b c d e f", "big"), (3, "a", "small")],
        "doc_id long, text string, source string",
    )
    out = {r.grp: r for r in text.mixture_weights(df, alpha=0.5).collect()}
    assert abs(sum(r.weight for r in out.values()) - 1.0) < 1e-12
    # alpha<1 upsamples the tail: weight share must exceed token share
    assert out["small"].weight > out["small"].token_share
    assert out["big"].weight < out["big"].token_share


def _ref_bpe(word_freqs: dict, n: int):
    """Sequential Sennrich BPE reference: same symbol init (chars, no
    end-of-word marker) and same (count DESC, pair ASC) tie-break."""
    syms = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(n):
        counts: dict = {}
        for w, f in word_freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, c))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_learn_bpe_matches_sequential_reference(spark):
    texts = {
        "a": "lower lowest newer newest wider widest low new",
        "b": "lower lower newer newer low low low wide",
        "c": "the theme there these the the",
    }
    docs = _docs(spark, texts)
    got = text.learn_bpe_merges(docs, n_merges=8)
    wf: dict = {}
    for t in texts.values():
        for w in t.split():
            wf[w] = wf.get(w, 0) + 1
    want = _ref_bpe(wf, 8)
    assert got == want


def test_learn_bpe_overlap_and_exhaustion(spark):
    # overlapping pairs count per adjacent position ("aaaa" -> 3x(a,a))
    # and merges stop early once no pairs remain
    docs = _docs(spark, {"d": "aaaa aaaa bb"})
    got = text.learn_bpe_merges(docs, n_merges=10)
    want = _ref_bpe({"aaaa": 2, "bb": 1}, 10)
    assert got == want
    assert got[0] == ("a", "a", 6)  # 3 positions x freq 2
    assert len(got) < 10  # exhausted before the budget


def test_count_min_overestimates_and_matches_reference(spark):
    import hashlib

    texts = {
        "a": "spark spark spark window window table",
        "b": "spark table batch batch vector",
    }
    docs = _docs(spark, texts)
    from renard_spark.functions import sketch

    cms = sketch.count_min(docs, d=4, w=64)
    probes = spark.createDataFrame(
        [("spark",), ("table",), ("missing",)], "token string"
    )
    got = {
        r.token: r.cms_est
        for r in sketch.cms_estimate(cms, probes, d=4, w=64).collect()
    }
    exact = {"spark": 4, "table": 2, "missing": 0}
    for tok, n in exact.items():
        assert got[tok] >= n  # CM never undercounts
    # reference registers: identical md5 addressing
    all_toks = " ".join(texts.values()).split()
    cells: dict = {}
    for t in all_toks:
        for row in range(4):
            h = int(hashlib.md5(f"{row}:{t}".encode()).hexdigest()[:8], 16)
            cells[(row, h % 64)] = cells.get((row, h % 64), 0) + 1
    for t, n in exact.items():
        est = min(
            cells.get(
                (row,
                 int(hashlib.md5(f"{row}:{t}".encode()).hexdigest()[:8], 16)
                 % 64),
                0,
            )
            for row in range(4)
        )
        assert got[t] == est


def test_hll_registers_match_reference_and_estimate_sane(spark):
    import hashlib

    words = [f"tok{i}" for i in range(400)]
    docs = _docs(spark, {"d": " ".join(words + words)})  # dup tokens ok
    from renard_spark.functions import sketch

    regs = {
        r.bucket: r.rho
        for r in sketch.hll_registers(docs, p=8).collect()
    }
    want: dict = {}
    for t in words:
        b = int(hashlib.md5(f"hllb:{t}".encode()).hexdigest()[:8], 16) % 256
        v = int(hashlib.md5(f"hllv:{t}".encode()).hexdigest()[:8], 16)
        rho = 33 if v == 0 else 33 - v.bit_length()
        want[b] = max(want.get(b, 0), rho)
    assert regs == want
    est = sketch.hll_estimate(
        sketch.hll_registers(docs, p=8), p=8
    ).collect()[0]["hll_est"]
    assert abs(est - 400) / 400 < 0.15  # ~1.04/sqrt(256) std error


def test_hll_registers_merge_property(spark):
    # sketch mergeability: max-merge of two corpora's registers ==
    # registers of the concatenated corpus (the property that lets
    # per-partition / per-day sketches combine without rescanning)
    from renard_spark.functions import sketch

    a = _docs(spark, {"a": "alpha beta gamma delta epsilon"})
    b = _docs(spark, {"b": "gamma delta zeta eta theta iota"})
    both = a.unionByName(b)
    merged = (
        sketch.hll_registers(a, p=6)
        .unionByName(sketch.hll_registers(b, p=6))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    direct = {
        r.bucket: r.rho for r in sketch.hll_registers(both, p=6).collect()
    }
    assert {r.bucket: r.rho for r in merged.collect()} == direct


def test_bloom_no_false_negatives_and_reference_positions(spark):
    import hashlib

    from renard_spark.functions import sketch

    keys = [f"key{i}" for i in range(40)]
    kdf = spark.createDataFrame([(k,) for k in keys], "key string")
    m, k = 128, 3
    bits = sketch.bloom_bits(kdf, m=m, k=k)
    got = {r.pos for r in bits.collect()}
    want = {
        int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:8], 16) % m
        for key in keys
        for i in range(k)
    }
    assert got == want  # register table identical to the reference math

    probes = spark.createDataFrame(
        [(x,) for x in keys + [f"other{i}" for i in range(60)]],
        "key string",
    )
    mem = {
        r.key: r.in_bloom
        for r in sketch.bloom_contains(bits, probes, m=m, k=k).collect()
    }
    # never a false negative
    assert all(mem[key] == 1 for key in keys)
    # at kn/m ≈ 0.94 some probes must still be rejected (filter works)
    assert any(mem[f"other{i}"] == 0 for i in range(60))
    # merge = union+distinct: two halves' filters equal the whole
    half1 = sketch.bloom_bits(kdf.filter("key < 'key2'"), m=m, k=k)
    half2 = sketch.bloom_bits(kdf.filter("key >= 'key2'"), m=m, k=k)
    merged = {r.pos for r in half1.union(half2).distinct().collect()}
    assert merged == want


def test_curate_composes_decisions(spark):
    from pyspark.sql import functions as F

    from renard_spark.functions.curation import curate

    good = (
        "the quick brown fox jumps over the lazy dog and then the "
        "fox runs into the woods where it finds a quiet stream"
    )
    rows = [
        (1, good + " one"),                      # unique, good quality
        (2, good + " two"),                      # near-dup of 1
        (3, "zzz qqq xxx " * 1),                 # garbage: low quality
        (4, "bench overlap " + good),            # contaminated vs bench
        (5, good + " five entirely different tail words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "bench overlap " + good)], "doc_id long, text string"
    )
    out = curate(
        docs, bench, contam_w=5, quality_min=0.52, contam_max=0.5,
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert set(by_id) == {1, 2, 3, 4, 5}  # one decision per doc
    for r in out:  # keep implies every gate passed
        if r.keep == 1:
            assert r.keep_dedup == 1
            assert r.quality_score >= 0.52
            assert r.contam_frac < 0.5
        assert r.split in ("train", "val", "test")
    # docs 1/2 are near-dups (4/5 share the same long template, so the
    # cluster may absorb them too): same cluster, and EVERY cluster has
    # exactly one keep_dedup survivor — the highest-quality member
    assert by_id[1].cluster_id == by_id[2].cluster_id
    clusters: dict = {}
    for r in out:
        clusters.setdefault(r.cluster_id, []).append(r)
    for members in clusters.values():
        assert sum(m.keep_dedup for m in members) == 1
        best = max(members, key=lambda m: (m.quality_score, -m.doc_id))
        assert next(m for m in members if m.keep_dedup == 1) == best
    # the garbage doc fails quality, the bench copy fails contamination
    assert by_id[3].keep == 0
    assert by_id[4].contam_frac >= 0.5 and by_id[4].keep == 0


def test_hist_sketch_merge_and_accuracy(spark):
    """Histogram registers merge by union+sum (two halves == whole),
    and the quantile estimate sits within one bin width above the
    exact value."""
    import numpy as np

    from renard_spark.functions import sketch

    vals = [float((7 * i) % 500) for i in range(400)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    lo, hi, nb = 0.0, 500.0, 50
    whole = {
        (r.bin): r.c
        for r in sketch.hist_registers(df, "x", lo, hi, nb).collect()
    }
    h1 = sketch.hist_registers(
        df.filter("x < 250"), "x", lo, hi, nb
    )
    h2 = sketch.hist_registers(
        df.filter("x >= 250"), "x", lo, hi, nb
    )
    merged = {}
    for r in h1.unionByName(h2).collect():
        merged[r.bin] = merged.get(r.bin, 0) + r.c
    assert merged == whole

    regs = sketch.hist_registers(df, "x", lo, hi, nb)
    got = {
        r.q: r.est
        for r in sketch.hist_quantiles(
            regs, [0.5, 0.9], lo, hi, nb
        ).collect()
    }
    width = (hi - lo) / nb
    for q, est in got.items():
        exact = float(np.quantile(np.array(vals), q, method="lower"))
        assert exact <= est <= exact + 2 * width


def test_hist_sketch_clamps_out_of_range(spark):
    from renard_spark.functions import sketch

    df = spark.createDataFrame(
        [(-5.0,), (999.0,), (10.0,)], "x double"
    )
    regs = {
        r.bin: r.c
        for r in sketch.hist_registers(df, "x", 0.0, 100.0, 10).collect()
    }
    assert regs == {0: 1, 9: 1, 1: 1}


def test_normalize_text_rules(spark):
    from renard_spark.functions.text import normalize_text

    df = spark.createDataFrame(
        [(1, " \t“Hello”   world\x01 –  ok \n")], "doc_id int, text string"
    )
    got = normalize_text(df).first()["norm_text"]
    assert got == '"Hello" world - ok'
    low = normalize_text(df, lowercase=True).first()["norm_text"]
    assert low == '"hello" world - ok'


def test_cosine_topk_blocked_bit_exact(spark):
    """The blocked-GEMM path must equal the JVM fold BIT-EXACTLY
    (values, ties, ranks). Multiple blocks exercised."""
    import random

    from renard_spark.functions.similarity import (
        cosine_topk, cosine_topk_blocked,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(90)
    ]
    # duplicate vectors → exact cosine ties → id tie-break must agree
    rows += [(90 + i, rows[i][1]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    jvm = sorted(
        (r.vec_id, r.rank, r.neighbor_id, r.cosine)
        for r in cosine_topk(emb, k=4).collect()
    )
    blk = sorted(
        (r.vec_id, r.rank, r.neighbor_id, r.cosine)
        for r in cosine_topk_blocked(emb, k=4, block_rows=32).collect()
    )
    assert jvm == blk


def test_prefix_jaccard_pairs_exact_vs_brute_force(spark):
    """prefix_jaccard_pairs is an EXACT similarity join: its output
    must equal brute-force all-pairs token-set Jaccard — no false
    negatives from the prefix filter, none from the size filter."""
    import itertools
    import re as _re

    docs_rows = [
        ("d0", "the quick brown fox jumps over the lazy dog"),
        ("d1", "the quick brown fox jumps over the lazy cat"),
        ("d2", "the quick brown fox leaps over the lazy dog"),
        ("d3", "completely different content about spark engines"),
        ("d4", "content about spark engines completely different"),
        ("d5", "the quick brown fox"),
        ("d6", "one two three four five six seven eight"),
        ("d7", "one two three four five nine ten eleven"),
    ]
    t = 0.5
    docs = spark.createDataFrame(docs_rows, "doc_id string, text string")
    got = sorted(
        (r.doc_a, r.doc_b, r.inter, r.union_, round(r.jaccard, 9))
        for r in dedup.prefix_jaccard_pairs(docs, t).collect()
    )

    def toks(s):
        return set(_re.findall(r"[a-z0-9_']+", s.lower()))

    want = []
    for (ia, ta), (ib, tb) in itertools.combinations(docs_rows, 2):
        a, b = toks(ta), toks(tb)
        i, u = len(a & b), len(a | b)
        if i / u >= t:
            lo, hi = sorted((ia, ib))
            want.append((lo, hi, i, u, round(i / u, 9)))
    assert got == sorted(want)
    assert any(j == 1.0 for *_x, j in got)  # d3/d4 permuted duplicate
    assert len(got) >= 4


def test_shared_spans_matches_brute_force(spark):
    """shared_spans == brute-force: positions whose n-gram occurs in
    >=2 docs, merged into maximal runs spanning run+n-1 tokens."""
    import re as _re

    n = 3
    docs_rows = [
        ("d0", "alpha beta gamma delta epsilon zeta eta theta"),
        ("d1", "prefix alpha beta gamma delta suffix words here"),
        ("d2", "zeta eta theta alpha beta gamma unrelated tail"),
        ("d3", "nothing in common with the others at all"),
        ("d4", "alpha beta gamma delta epsilon zeta eta theta"),  # full dup of d0
        ("d5", "short doc"),  # < n tokens
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id string, text string")
    got = sorted(
        (r.doc_id, r.start_tok, r.end_tok, r.n_toks)
        for r in dedup.shared_spans(docs, n=n).collect()
    )

    tok = {d: _re.findall(r"[\w']+|[^\w'\s]", t) for d, t in docs_rows}
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for d, toks in tok.items():
        for i in range(len(toks) - n + 1):
            gram_docs[tuple(toks[i : i + n])].add(d)
    want = []
    for d, toks in tok.items():
        dup = [
            i
            for i in range(len(toks) - n + 1)
            if len(gram_docs[tuple(toks[i : i + n])]) >= 2
        ]
        run = []
        for i in dup:
            if run and i == run[-1] + 1:
                run.append(i)
            else:
                if run:
                    want.append((d, run[0], run[-1] + n, run[-1] + n - run[0]))
                run = [i]
        if run:
            want.append((d, run[0], run[-1] + n, run[-1] + n - run[0]))
    assert got == sorted(want)
    # d0/d4 are identical 8-token docs: one maximal span covering all 8
    assert ("d0", 0, 8, 8) in got and ("d4", 0, 8, 8) in got
    # d3 and d5 contribute nothing
    assert not [r for r in got if r[0] in ("d3", "d5")]


def test_prefix_jaccard_pairs_shingles_exact(spark):
    """w=3 (shingle items): output equals brute-force all-pairs
    3-shingle-set Jaccard, including the whole-text fallback for docs
    shorter than 3 tokens."""
    import itertools
    import re as _re

    docs_rows = [
        ("d0", "the quick brown fox jumps over the lazy dog today"),
        ("d1", "the quick brown fox jumps over the lazy dog tonight"),
        ("d2", "a completely different sentence with other words here"),
        ("d3", "a completely different sentence with other words there"),
        ("d4", "tiny doc"),
        ("d5", "tiny doc"),
    ]
    t = 0.5
    docs = spark.createDataFrame(docs_rows, "doc_id string, text string")
    got = sorted(
        (r.doc_a, r.doc_b, r.inter, r.union_, round(r.jaccard, 9))
        for r in dedup.prefix_jaccard_pairs(docs, t, w=3).collect()
    )

    def shs(s):
        tk = _re.findall(r"[\w']+|[^\w'\s]", s)
        if len(tk) >= 3:
            return {" ".join(tk[i : i + 3]) for i in range(len(tk) - 2)}
        return {" ".join(tk)}

    want = []
    for (ia, ta), (ib, tb) in itertools.combinations(docs_rows, 2):
        a, b = shs(ta), shs(tb)
        i, u = len(a & b), len(a | b)
        if i / u >= t:
            lo, hi = sorted((ia, ib))
            want.append((lo, hi, i, u, round(i / u, 9)))
    assert got == sorted(want)
    assert ("d4", "d5", 1, 1, 1.0) in got  # fallback items match exactly
    assert len(got) >= 3


def test_prefix_jaccard_positional_filter_boundary(spark):
    """The PPJoin positional filter must never prune a TRUE pair — in
    particular one sitting exactly AT the threshold, where the overlap
    upper bound is tight — while pairs whose only prefix matches make
    the threshold unreachable are (invisibly) pruned before
    verification. Output must still equal brute force exactly."""
    import itertools
    import re as _re

    # a/b: 9-token sets sharing 6 tokens, so |A∩B|/|A∪B| lands
    # exactly on t=0.5 (inter=6, union=12);
    # c shares only scattered singles with a (well under t);
    # d/e: disjoint tails, one shared rare token late in the prefix.
    docs_rows = [
        ("a", "k1 k2 k3 k4 k5 k6 x1 x2 x3"),
        ("b", "k1 k2 k3 k4 k5 k6 y1 y2 y3"),
        ("c", "k1 z1 z2 z3 z4 z5 z6 z7 z8"),
        ("d", "k2 w1 w2 w3 w4 w5 w6 w7 w8"),
        ("e", "q1 q2 q3 q4 q5 q6 q7 q8 k3"),
    ]
    t = 0.5
    docs = spark.createDataFrame(docs_rows, "doc_id string, text string")
    got = sorted(
        (r.doc_a, r.doc_b, r.inter, r.union_, round(r.jaccard, 9))
        for r in dedup.prefix_jaccard_pairs(docs, t).collect()
    )

    def toks(s):
        return set(_re.findall(r"[a-z0-9_']+", s.lower()))

    want = []
    for (ia, ta), (ib, tb) in itertools.combinations(docs_rows, 2):
        a, b = toks(ta), toks(tb)
        i, u = len(a & b), len(a | b)
        if i / u >= t:
            lo, hi = sorted((ia, ib))
            want.append((lo, hi, i, u, round(i / u, 9)))
    assert got == sorted(want)
    # the boundary pair survives at exactly t
    assert ("a", "b", 6, 12, 0.5) in got
    # nothing else qualifies
    assert len(got) == 1


def test_pq_codes_and_adc_match_brute_force(spark):
    """PQ encoding and IVFADC scoring vs a numpy reference: codebooks
    are the md5-ranked seed slices, codes are per-subspace L2 argmins
    (ties -> smaller code), ADC distance of every returned pair equals
    the sum of its m LUT entries, and ranking is (adc, neighbor_id)."""
    import random

    import numpy as np

    from renard_spark.functions.similarity import (
        pq_adc_topk, pq_codebooks, pq_codes,
    )

    rng = random.Random(11)
    n, d, m, ksub = 50, 16, 4, 8
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    vecs = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)

    order = sorted(
        range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )
    seeds = vecs[order[:ksub]]
    sd = d // m
    books = {
        (sub, code): seeds[code, sub * sd : (sub + 1) * sd]
        for code in range(ksub)
        for sub in range(m)
    }

    got_books = {
        (r.sub_id, r.code): list(r.cvec)
        for r in pq_codebooks(emb, m=m, ksub=ksub).collect()
    }
    assert set(got_books) == set(books)
    for key, cv in books.items():
        assert np.allclose(got_books[key], cv)

    def encode(v):
        out = []
        for sub in range(m):
            sv = v[sub * sd : (sub + 1) * sd]
            d2 = [
                (float(((sv - books[(sub, c)]) ** 2).sum()), c)
                for c in range(ksub)
            ]
            out.append(min(d2)[1])
        return out

    want_codes = {i: encode(vecs[i]) for i in range(n)}
    got_codes = {
        r.vec_id: list(r.codes)
        for r in pq_codes(emb, pq_codebooks(emb, m=m, ksub=ksub), m=m).collect()
    }
    assert got_codes == want_codes

    got = pq_adc_topk(emb, k=3, m=m, ksub=ksub, n_centroids=8, nprobe=2).collect()
    assert got
    for r in got:
        q, nb = vecs[r.vec_id], want_codes[r.neighbor_id]
        adc = 0.0
        for sub in range(m):
            sv = q[sub * sd : (sub + 1) * sd]
            adc += float(((sv - books[(sub, nb[sub])]) ** 2).sum())
        assert abs(r.adc_dist - round(adc, 6)) < 2e-6, (r.vec_id, r.neighbor_id)
        cos = float(
            vecs[r.vec_id] @ vecs[r.neighbor_id]
            / (np.linalg.norm(vecs[r.vec_id]) * np.linalg.norm(vecs[r.neighbor_id]))
        )
        assert abs(r.cosine - cos) < 1e-5
    # per-query ranks are 1..k' without gaps and ordered by (adc, id)
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in got:
        per_q[r.vec_id].append((r.rank, r.adc_dist, r.neighbor_id))
    for q, lst in per_q.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        assert lst == sorted(lst, key=lambda x: (x[1], x[2]))


def _ref_tfidf_related(texts, max_df, w):
    """Brute-force TF-IDF shingle cosine over a dict corpus."""
    import math
    import re

    from renard_spark.operators.tokenize import TOKEN_RE_PY

    shing = {}
    for k, t in texts.items():
        toks = [x.lower() for x in re.findall(TOKEN_RE_PY, t)]
        shing[k] = [
            " ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)
        ]
    n = len(texts)
    df: dict = {}
    for sh in shing.values():
        for term in set(sh):
            df[term] = df.get(term, 0) + 1
    kept = {t for t, d in df.items() if d <= max_df}
    vecs = {}
    for k, sh in shing.items():
        tf: dict = {}
        for term in sh:
            if term in kept:
                tf[term] = tf.get(term, 0) + 1
        vecs[k] = {t: c * math.log(n / df[t]) for t, c in tf.items()}
    out = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = set(vecs[a]) & set(vecs[b])
            if not shared:
                continue
            dot = sum(vecs[a][t] * vecs[b][t] for t in shared)
            na = math.sqrt(sum(v * v for v in vecs[a].values()))
            nb = math.sqrt(sum(v * v for v in vecs[b].values()))
            out[(a, b)] = dot / (na * nb)
    return out


def test_tfidf_related_matches_brute_force(spark):
    texts = {
        "a": "the quick brown fox jumps over the lazy dog near the river bank",
        "b": "the quick brown fox jumps over the sleepy dog near the river bend",
        "c": "spark shuffles partition data across executors during wide joins",
        "d": "spark shuffles partition data across workers during wide joins",
        "e": "completely unrelated text about cooking pasta with fresh basil",
        "f": "the quick brown fox jumps over the lazy dog near the river bank",
    }
    got = {
        (r.doc_a, r.doc_b): r.cosine
        for r in text.tfidf_related(
            _docs(spark, texts), threshold=0.0, max_df=100, shingle_w=3
        ).collect()
    }
    want = _ref_tfidf_related(texts, max_df=100, w=3)
    assert set(got) == set(want)
    for pair, cos in want.items():
        assert abs(got[pair] - cos) < 1e-9, pair
    assert got[("a", "f")] == pytest.approx(1.0)  # exact dup
    assert 0.2 < got[("a", "b")] < 1.0             # near dup
    assert 0.2 < got[("c", "d")] < 1.0
    assert not any("e" in p for p in got)


def test_tfidf_related_df_cap_prunes_boilerplate(spark):
    # a shingle present in every doc is pruned by the absolute df cap,
    # so docs sharing ONLY boilerplate produce no pair
    boiler = "copyright notice all rights reserved"
    texts = {
        "a": boiler + " alpha beta gamma delta epsilon zeta",
        "b": boiler + " totally different words here entirely now",
        "c": boiler + " alpha beta gamma delta epsilon eta",
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in text.tfidf_related(
            _docs(spark, texts), threshold=0.0, max_df=2, shingle_w=3
        ).collect()
    }
    assert ("a", "b") not in got and ("b", "c") not in got
    assert ("a", "c") in got
    # with the cap lifted the boilerplate-only pairs appear
    got_all = {
        (r.doc_a, r.doc_b)
        for r in text.tfidf_related(
            _docs(spark, texts), threshold=0.0, max_df=3, shingle_w=3
        ).collect()
    }
    assert ("a", "b") in got_all


def test_ccnet_buckets_matches_ntile(spark):
    # floor(rank*k/n)+1 must allocate exactly like SQL ntile for
    # awkward group sizes (n % k != 0), per language
    import itertools

    rows = []
    did = 0
    for lang, n in [("en", 7), ("fr", 5), ("de", 4), ("es", 9)]:
        for i in range(n):
            # vary fluency: repeat a fluent bigram i times
            body = "the cat sat on the mat " * (i + 2) + "xk qz " * (n - i)
            rows.append((did, body.strip(), lang))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    got = text.ccnet_buckets(docs, n_buckets=3).toPandas()

    from pyspark.sql import Window

    scores = text.bigram_lm_scores(docs).select(
        "doc_id", F.round("bigram_nll", 6).alias("nll6")
    )
    w = Window.partitionBy("lang").orderBy("nll6", "doc_id")
    want = (
        docs.select("doc_id", "lang")
        .join(scores, "doc_id")
        .select("doc_id", "lang", F.ntile(3).over(w).alias("bucket_id"))
        .toPandas()
    )
    g = got.set_index("doc_id")["bucket_id"].to_dict()
    e = want.set_index("doc_id")["bucket_id"].to_dict()
    assert g == e
    # head bucket really is the most fluent (lowest nll) per lang
    for lang in ["en", "fr", "de", "es"]:
        sub = got[got.lang == lang].sort_values("bigram_nll")
        assert list(sub.bucket_id) == sorted(sub.bucket_id)
