"""Round-4 continuation operators: personalized PageRank (networkx
oracle), KG upsert/MERGE semantics, token frequency spectrum, and the
deterministic per-epoch shuffle order."""

import hashlib
import random
from collections import Counter

import networkx as nx
import pytest
from pyspark.sql import functions as F

from renard_spark.functions import graph as gmetrics
from renard_spark.functions.sampling import epoch_order
from renard_spark.functions.text import token_spectrum
from renard_spark.operators.triples import upsert_triples


def _random_edges(seed, n_nodes=30, n_edges=80):
    rng = random.Random(seed)
    seen = set()
    rows = []
    while len(rows) < n_edges:
        a, b = rng.sample(range(n_nodes), 2)
        key = (min(a, b), max(a, b))
        if key in seen:
            continue
        seen.add(key)
        rows.append((f"n{key[0]}", f"n{key[1]}", rng.randint(1, 9)))
    return rows


def _ppr_reference(rows, seeds, damping, iters):
    """Hand-rolled fixed-iteration personalized PageRank on the
    undirected weighted graph (same dynamics as the operator)."""
    g = nx.Graph()
    for a, b, w in rows:
        g.add_edge(a, b, weight=w)
    strength = {u: g.degree(u, weight="weight") for u in g.nodes}
    s = {u: (1.0 / len(seeds) if u in seeds else 0.0) for u in g.nodes}
    r = dict(s)
    for _ in range(iters):
        nxt = {u: (1.0 - damping) * s[u] for u in g.nodes}
        for u, v, d in g.edges(data=True):
            w = d["weight"]
            nxt[v] += damping * r[u] * w / strength[u]
            nxt[u] += damping * r[v] * w / strength[v]
        r = nxt
    return r


def test_personalized_pagerank_matches_reference(spark):
    rows = _random_edges(11)
    seeds = ["n0", "n3"]
    df = spark.createDataFrame(rows, "src string, dst string, weight int")
    got = {
        r["node"]: r["rank"]
        for r in gmetrics.personalized_pagerank(
            df, seeds, damping=0.85, iters=10
        ).collect()
    }
    want = _ppr_reference(rows, set(seeds), 0.85, 10)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_personalized_pagerank_mass_concentrates_near_seed(spark):
    # path graph a-b-c-d: seeding at a must rank a > b > c > d; the
    # triangle x-y-z no walk from a reaches keeps a row per node, at
    # exactly 0.0
    rows = [("a", "b", 1), ("b", "c", 1), ("c", "d", 1),
            ("x", "y", 2), ("y", "z", 1), ("z", "x", 3)]
    df = spark.createDataFrame(rows, "src string, dst string, weight int")
    got = {
        r["node"]: r["rank"]
        for r in gmetrics.personalized_pagerank(df, ["a"], iters=12).collect()
    }
    assert set(got) == set("abcdxyz")
    assert got["a"] > got["b"] > got["c"] > got["d"] > 0.0
    assert got["x"] == got["y"] == got["z"] == 0.0
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_personalized_pagerank_requires_seeds(spark):
    df = spark.createDataFrame([("a", "b", 1)], "src string, dst string, weight int")
    with pytest.raises(ValueError):
        gmetrics.personalized_pagerank(df, [])


def test_upsert_triples_last_writer_wins_and_deletes(spark):
    base = spark.createDataFrame(
        [
            ("a", "p", "b", 0, 5),
            ("a", "p", "c", 0, 7),
            ("x", "p", "y", 0, 1),
        ],
        "subj string, pred string, obj string, version long, weight long",
    )
    updates = spark.createDataFrame(
        [
            ("a", "p", "b", 1, 9, False),   # overwrite
            ("x", "p", "y", 1, 0, True),    # retract
            ("n", "p", "m", 1, 3, False),   # insert
        ],
        "subj string, pred string, obj string, version long,"
        " weight long, deleted boolean",
    )
    got = {
        (r["subj"], r["pred"], r["obj"]): (r["version"], r["weight"])
        for r in upsert_triples(base, updates).collect()
    }
    assert got == {
        ("a", "p", "b"): (1, 9),
        ("a", "p", "c"): (0, 7),
        ("n", "p", "m"): (1, 3),
    }


def test_upsert_triples_same_version_rerun_is_idempotent(spark):
    # equal versions break toward the updates side: re-applying the
    # same batch twice yields the same table
    base = spark.createDataFrame(
        [("a", "p", "b", 1, 5)],
        "subj string, pred string, obj string, version long, weight long",
    )
    updates = spark.createDataFrame(
        [("a", "p", "b", 1, 8, False)],
        "subj string, pred string, obj string, version long,"
        " weight long, deleted boolean",
    )
    once = upsert_triples(base, updates)
    twice = upsert_triples(once, updates)
    assert [
        (r["subj"], r["version"], r["weight"]) for r in twice.collect()
    ] == [("a", 1, 8)]


def test_upsert_triples_updates_without_delete_col(spark):
    base = spark.createDataFrame(
        [("a", "p", "b", 0, 5)],
        "subj string, pred string, obj string, version long, weight long",
    )
    updates = spark.createDataFrame(
        [("a", "p", "b", 2, 6)],
        "subj string, pred string, obj string, version long, weight long",
    )
    got = upsert_triples(base, updates).collect()
    assert [(r["version"], r["weight"]) for r in got] == [(2, 6)]


def test_token_spectrum_matches_counter(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog and the fox"),
            (2, "The DOG barks"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["freq"]: r["n_types"] for r in token_spectrum(docs).collect()}
    counts = Counter(
        "the cat and the dog and the fox the dog barks".split()
    )
    want = Counter(counts.values())
    assert got == dict(want)


def test_epoch_order_is_a_permutation_per_epoch(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(50)], "doc_id long"
    )
    out = epoch_order(docs, epochs=3).collect()
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], []).append((r["ord"], r["doc_id"]))
    assert set(by_epoch) == {0, 1, 2}
    for e, rows in by_epoch.items():
        assert sorted(o for o, _ in rows) == list(range(50))
    # epochs are genuinely different permutations
    p0 = [d for _, d in sorted(by_epoch[0])]
    p1 = [d for _, d in sorted(by_epoch[1])]
    assert p0 != p1


def test_epoch_order_matches_md5_rank_and_layout_invariance(spark):
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    got = {
        (r["epoch"], r["doc_id"]): r["ord"]
        for r in epoch_order(docs, epochs=2).collect()
    }
    for e in (0, 1):
        keys = sorted(
            range(40),
            key=lambda d: (
                hashlib.md5(f"ep:{e}:{d}".encode()).hexdigest()[:8],
                str(d),
            ),
        )
        for ordv, d in enumerate(keys):
            assert got[(e, d)] == ordv
    # partition-layout invariance: same result on a different layout
    got2 = {
        (r["epoch"], r["doc_id"]): r["ord"]
        for r in epoch_order(docs.repartition(7), epochs=2).collect()
    }
    assert got2 == got


def test_typed_props_parses_and_quarantines(spark):
    from renard_spark.functions.events import typed_props

    ev = spark.createDataFrame(
        [
            (1, '{"k": 5, "tag": "a"}'),
            (2, '{"k": null}'),
            (3, "not json"),
            (4, '{"tag": "b"}'),
        ],
        "event_id long, props string",
    )
    got = {
        r["event_id"]: (r["k"], r["tag"])
        for r in typed_props(ev, {"k": "long", "tag": "string"}).collect()
    }
    assert got == {1: (5, "a"), 2: (None, None), 3: (None, None), 4: (None, "b")}


def test_event_gaps_exact_microseconds(spark):
    from datetime import datetime

    from renard_spark.functions.events import event_gaps

    rows = [
        (1, 10, datetime(2024, 1, 1, 0, 0, 0, 500)),
        (2, 10, datetime(2024, 1, 1, 0, 0, 1, 250)),
        (3, 10, datetime(2024, 1, 1, 0, 0, 1, 250)),  # tie → event_id order
        (4, 20, datetime(2024, 1, 1, 0, 0, 9, 0)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r["event_id"]: r["gap_us"] for r in event_gaps(ev).collect()}
    assert got == {1: None, 2: 999750, 3: 0, 4: None}


def test_cluster_stats_matches_numpy(spark):
    import numpy as np

    from renard_spark.functions.similarity import cluster_stats, ivf_centroids

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(40, 8)).tolist()
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_centroids(emb, n_centroids=4)
    got = {
        r["centroid_id"]: (r["n_vecs"], r["min_cos"], r["max_cos"])
        for r in cluster_stats(emb, centroids=cents).collect()
    }
    cmat = {r["centroid_id"]: np.array(r["cvec"]) for r in cents.collect()}
    assign = {}
    for i, v in enumerate(vecs):
        v = np.array(v)
        best = max(
            sorted(cmat),
            key=lambda c: (
                float(v @ cmat[c] / (np.linalg.norm(v) * np.linalg.norm(cmat[c]))),
                -c,
            ),
        )
        cos = float(
            v @ cmat[best] / (np.linalg.norm(v) * np.linalg.norm(cmat[best]))
        )
        assign.setdefault(best, []).append(cos)
    assert set(got) == set(assign)
    for c, coss in assign.items():
        n, mn, mx = got[c]
        assert n == len(coss)
        assert mn == pytest.approx(min(coss), abs=1e-9)
        assert mx == pytest.approx(max(coss), abs=1e-9)


def test_neighbor_aggregate_matches_networkx(spark):
    from renard_spark.functions.graph import degrees, neighbor_aggregate

    rows = _random_edges(11, n_nodes=15, n_edges=30)
    edges = spark.createDataFrame(rows, "src string, dst string, weight long")
    feats = degrees(edges)
    got = {
        r["node"]: (
            r["n_nbrs"], r["degree_nbr_mean"], r["degree_nbr_max"],
            r["strength_nbr_mean"],
        )
        for r in neighbor_aggregate(
            feats, edges, ["degree", "strength"]
        ).collect()
    }
    g = nx.Graph()
    for a, b, w in rows:
        g.add_edge(a, b, weight=w)
    deg = dict(g.degree())
    st = dict(g.degree(weight="weight"))
    for n in g.nodes:
        nbrs = list(g.neighbors(n))
        assert got[n][0] == len(nbrs)
        assert got[n][1] == pytest.approx(
            sum(deg[x] for x in nbrs) / len(nbrs)
        )
        assert got[n][2] == max(deg[x] for x in nbrs)
        assert got[n][3] == pytest.approx(
            sum(st[x] for x in nbrs) / len(nbrs)
        )


def test_neighbor_aggregate_isolated_node(spark):
    from renard_spark.functions.graph import neighbor_aggregate

    feats = spark.createDataFrame(
        [("a", 1), ("b", 2), ("z", 0)], "node string, f long"
    )
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {
        r["node"]: (r["n_nbrs"], r["f_nbr_mean"])
        for r in neighbor_aggregate(feats, edges, ["f"]).collect()
    }
    assert got == {"a": (1, 2.0), "b": (1, 1.0), "z": (0, None)}


def test_triple_provenance_sample(spark):
    from renard_spark.operators.triples import triple_provenance

    trips = spark.createDataFrame(
        [(d, "A", "interacts_with", "B", 2) for d in range(8)]
        + [(3, "B", "interacts_with", "C", 1)],
        "doc_id long, subj string, pred string, obj string, weight long",
    )
    got = {
        (r["subj"], r["obj"]): (
            r["n_docs"], r["total_weight"], r["sample_docs"]
        )
        for r in triple_provenance(trips, sample_k=5).collect()
    }
    assert got[("A", "B")] == (8, 16, "0,1,2,3,4")
    assert got[("B", "C")] == (1, 1, "3")
