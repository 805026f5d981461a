"""Round-4 session-5 operators: OWL-lite entailment + sameAs
canonicalization, SPARQL UNION / MINUS, HyperANF neighborhood
function, Jones-Plassmann greedy coloring, community conductance,
Fellegi-Sunter link weights, Z-order layout keys."""

import math

import pytest
from pyspark.sql import functions as F

from renard_spark.functions.graph import (
    conductance,
    greedy_coloring,
    maximal_independent_set,
    neighborhood_function,
)
from renard_spark.functions.kgquery import bgp_match, bgp_union
from renard_spark.functions.ontology import (
    INVERSE_OF,
    SAME_AS,
    SYMMETRIC,
    TRANSITIVE,
    TYPE,
    owl_closure,
    owl_closure_py,
)

OWL_SCHEMA = [
    ("scans", INVERSE_OF, "scanned_by"),
    ("groups", TYPE, SYMMETRIC),
    ("sorts", TYPE, TRANSITIVE),
    # a predicate that is BOTH symmetric and transitive, and a
    # transitive predicate with a declared inverse — the interaction
    # cases the flip/closure/flip stratification must cover
    ("links", TYPE, SYMMETRIC),
    ("links", TYPE, TRANSITIVE),
    ("feeds", TYPE, TRANSITIVE),
    ("feeds", INVERSE_OF, "fed_by"),
]

OWL_FACTS = [
    ("a", "scans", "b"),
    ("c", "scanned_by", "a"),          # inverse both directions
    ("x", "groups", "y"),              # symmetric
    ("p", "sorts", "q"),
    ("q", "sorts", "r"),
    ("r", "sorts", "s"),               # sorts chain of 3
    ("m", "links", "n"),
    ("n", "links", "o"),               # symmetric+transitive component
    ("d", "feeds", "e"),
    ("f", "fed_by", "e"),              # inverse feeds e->f, chains d->e->f
    ("u1", SAME_AS, "u2"),
    ("u2", SAME_AS, "u3"),             # sameAs chain -> one class
    ("u3", "sorts", "p"),              # alias fact must chain into sorts+
    ("k", "likes", "u2"),              # object-side rewrite
]


def _spark_owl(spark):
    facts = spark.createDataFrame(
        OWL_FACTS, "subj string, pred string, obj string"
    )
    schema = spark.createDataFrame(
        OWL_SCHEMA, "subj string, pred string, obj string"
    )
    got = owl_closure(facts, schema)
    return {tuple(r) for r in got.collect()}


def test_owl_closure_matches_naive_fixpoint(spark):
    got = _spark_owl(spark)
    want = owl_closure_py(OWL_FACTS, OWL_SCHEMA)
    assert got == want


def test_owl_closure_key_entailments(spark):
    got = _spark_owl(spark)
    # inverse both directions
    assert ("b", "scanned_by", "a") in got
    assert ("a", "scans", "c") in got
    # symmetric
    assert ("y", "groups", "x") in got
    # transitive chain end to end
    assert ("p", "sorts", "s") in got
    # symmetric+transitive closes the component both ways
    assert ("o", "links", "m") in got
    # canonicalized alias (u1 = min of {u1,u2,u3}) feeds transitivity
    assert ("u1", "sorts", "q") in got
    assert ("k", "likes", "u1") in got
    # sameAs rows never surface
    assert not any(p == SAME_AS for _, p, _ in got)
    # inverse of a transitive predicate sees the closed slice
    assert ("d", "feeds", "f") in got and ("f", "fed_by", "d") in got


def test_owl_closure_no_sameas_is_identity_plus_rules(spark):
    facts = [("a", "scans", "b")]
    df = spark.createDataFrame(
        facts, "subj string, pred string, obj string"
    )
    schema = spark.createDataFrame(
        OWL_SCHEMA, "subj string, pred string, obj string"
    )
    got = {tuple(r) for r in owl_closure(df, schema).collect()}
    assert got == {("a", "scans", "b"), ("b", "scanned_by", "a")}


def test_owl_closure_long_sameas_chain(spark):
    """A 60-link sameAs chain is longer than the hash-to-min budget;
    the canonical rewrite still maps every alias to the chain's
    smallest id (the CC finishes it with large-star/small-star)."""
    ids = [f"e{i:03d}" for i in range(61)]
    facts = [(ids[i], SAME_AS, ids[i + 1]) for i in range(60)]
    facts += [(e, "knows", "x") for e in ids] + [("y", "likes", ids[-1])]
    df = spark.createDataFrame(
        facts, "subj string, pred string, obj string"
    )
    schema = spark.createDataFrame(
        OWL_SCHEMA, "subj string, pred string, obj string"
    )
    got = {tuple(r) for r in owl_closure(df, schema).collect()}
    assert got == {("e000", "knows", "x"), ("y", "likes", "e000")}


TRIPLES = [
    ("a", "scans", "b"),
    ("a", "scans", "sink"),
    ("b", "sorts", "c"),
    ("c", "groups", "a"),
]


def test_bgp_union_pads_unshared_vars(spark):
    t = spark.createDataFrame(
        TRIPLES, "subj string, pred string, obj string"
    )
    got = {
        tuple(r)
        for r in bgp_union(
            t,
            [[("?a", "scans", "?b")], [("?a", "sorts", "?c")]],
        ).collect()
    }
    assert got == {
        ("a", "b", None),
        ("a", "sink", None),
        ("b", None, "c"),
    }


def test_bgp_minus_drops_compatible_solutions(spark):
    t = spark.createDataFrame(
        TRIPLES, "subj string, pred string, obj string"
    )
    got = {
        tuple(r)
        for r in bgp_match(
            t,
            [("?a", "scans", "?b")],
            minus=[[("?a", "scans", "sink")]],
        ).collect()
    }
    # 'a' scans the sink, so every binding with a='a' is removed
    assert got == set()
    got2 = {
        tuple(r)
        for r in bgp_match(
            t,
            [("?a", "?p", "?b")],
            minus=[[("?a", "scans", "sink")]],
        ).collect()
    }
    # columns are the sorted variable names: (a, b, p)
    assert got2 == {("b", "c", "sorts"), ("c", "a", "groups")}


def test_bgp_minus_rejects_unshared_group(spark):
    t = spark.createDataFrame(
        TRIPLES, "subj string, pred string, obj string"
    )
    with pytest.raises(ValueError):
        bgp_match(t, [("?a", "scans", "?b")], minus=[[("?x", "sorts", "?y")]])


# path graph a-b-c-d-e plus isolated-ish pair f-g
ANF_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("f", "g"),
]


def _exact_ball_registers(nodes_within):
    """Reference registers computed directly over the ball, mirroring
    the md5 math."""
    import hashlib

    m = 16
    regs = {}
    for u in nodes_within:
        b = int(hashlib.md5(f"anfb:{u}".encode()).hexdigest()[:8], 16) % m
        v = int(hashlib.md5(f"anfv:{u}".encode()).hexdigest()[:8], 16)
        rho = 33 if v == 0 else 33 - v.bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    return regs


def _estimate(regs, m=16):
    alpha = 0.7213 / (1 + 1.079 / m)
    s = sum(2.0 ** -r for r in regs.values()) + (m - len(regs))
    raw = alpha * m * m / s
    zeros = m - len(regs)
    if raw <= 2.5 * m and zeros > 0:
        return round(m * math.log(m / zeros), 6)
    return round(raw, 6)


def test_anf_matches_direct_ball_sketches(spark):
    e = spark.createDataFrame(ANF_EDGES, "src string, dst string")
    got = {
        (r["node"], r["hop"]): r["nf_est"]
        for r in neighborhood_function(e, hops=3, p=4).collect()
    }
    import networkx as nx

    g = nx.Graph(ANF_EDGES)
    for node in g.nodes:
        lengths = nx.single_source_shortest_path_length(g, node)
        for hop in range(4):
            ball = [u for u, d in lengths.items() if d <= hop]
            want = _estimate(_exact_ball_registers(ball))
            assert got[(node, hop)] == pytest.approx(want, abs=1e-9), (
                node, hop,
            )


def test_anf_monotone_in_hops(spark):
    e = spark.createDataFrame(ANF_EDGES, "src string, dst string")
    rows = neighborhood_function(e, hops=3, p=4).collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r["node"], {})[r["hop"]] = r["nf_est"]
    for node, ests in by_node.items():
        vals = [ests[h] for h in sorted(ests)]
        assert vals == sorted(vals), node


COLOR_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"),       # triangle: needs 3 colors
    ("c", "d"), ("d", "e"), ("e", "f"), ("f", "d"),  # second triangle
    ("x", "y"),
]


def test_greedy_coloring_is_proper_and_deterministic(spark):
    e = spark.createDataFrame(COLOR_EDGES, "src string, dst string")
    c1 = {r["node"]: r["color"] for r in greedy_coloring(e).collect()}
    for u, v in COLOR_EDGES:
        assert c1[u] != c1[v], (u, v)
    # triangle forces >= 3 colors among its nodes
    assert len({c1["a"], c1["b"], c1["c"]}) == 3
    # deterministic under repartition
    c2 = {
        r["node"]: r["color"]
        for r in greedy_coloring(e.repartition(7)).collect()
    }
    assert c1 == c2


def test_greedy_coloring_python_twin(spark):
    """Sequential Jones-Plassmann twin: process nodes in decreasing
    priority order, assign the smallest color unused by already-
    colored neighbors — the same schedule the rounds simulate."""
    import hashlib

    e = spark.createDataFrame(COLOR_EDGES, "src string, dst string")
    got = {r["node"]: r["color"] for r in greedy_coloring(e).collect()}

    adj = {}
    for u, v in COLOR_EDGES:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    pri = {
        n: hashlib.md5(f"jp:{n}".encode()).hexdigest() + n for n in adj
    }
    want = {}
    for n in sorted(adj, key=lambda n: pri[n], reverse=True):
        used = {want[v] for v in adj[n] if v in want}
        c = 0
        while c in used:
            c += 1
        want[n] = c
    assert got == want


def test_mis_and_coloring_drop_self_loop_only_nodes(spark):
    """Both schedulers work on the simple graph: a node whose only
    edge is a self-loop gets no row in either."""
    e = spark.createDataFrame([("a", "a"), ("b", "c")], "src string, dst string")
    mis = {r["node"]: r["in_mis"] for r in maximal_independent_set(e).collect()}
    colors = {r["node"]: r["color"] for r in greedy_coloring(e).collect()}
    assert set(mis) == set(colors) == {"b", "c"}
    assert sorted(mis.values()) == [0, 1]
    assert colors["b"] != colors["c"]


def test_conductance_two_cliques_bridge(spark):
    # two triangles joined by one bridge edge, unit weights
    edges = [
        ("a", "b", 1), ("b", "c", 1), ("c", "a", 1),
        ("d", "e", 1), ("e", "f", 1), ("f", "d", 1),
        ("c", "d", 1),
    ]
    labels = [(n, "L" if n in "abc" else "R") for n in "abcdef"]
    e = spark.createDataFrame(edges, "src string, dst string, weight long")
    lab = spark.createDataFrame(labels, "node string, label string")
    got = {
        r["community"]: r for r in conductance(e, lab).collect()
    }
    # each side: vol = 2*3 + 1 = 7, cut = 1, total vol = 14
    for c in ("L", "R"):
        assert got[c]["n_nodes"] == 3
        assert got[c]["cut_w"] == 1.0
        assert got[c]["vol_w"] == 7.0
        assert got[c]["conductance"] == pytest.approx(1 / 7, abs=1e-6)


def test_fellegi_sunter_weights(spark):
    from renard_spark.functions.dedup import FS_DEFAULT_MU, fellegi_sunter

    docs = [
        ("d1", "the quick brown fox jumps"),
        ("d2", "the quick brown fox jumps"),          # exact dup of d1
        ("d3", "the quick brown fox leaps high"),     # near dup
        ("d4", "completely different payload words"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in fellegi_sunter(df, window=4).collect()
    }
    r12 = got[("d1", "d2")]
    assert (r12["agree_fp"], r12["agree_len"], r12["agree_jac"]) == (1, 1, 1)
    full = sum(
        math.log2(m / u) for m, u in FS_DEFAULT_MU.values()
    )
    assert r12["fs_weight"] == pytest.approx(full, abs=1e-6)
    # ordering: exact dup outranks near dup outranks disjoint
    r13 = got[("d1", "d3")]
    pairs_with_d4 = [
        v for k, v in got.items() if "d4" in k and ("d1" in k or "d2" in k)
    ]
    assert r12["fs_weight"] > r13["fs_weight"]
    for r in pairs_with_d4:
        assert r13["fs_weight"] > r["fs_weight"]


def test_zorder_key_interleaves_bits(spark):
    from renard_spark.functions.maintenance import zorder_key

    rows = [(0, 0), (1, 0), (0, 1), (1, 1), (2, 3), (65535, 65535)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["zkey"]
        for r in zorder_key(df, "x", "y").collect()
    }

    def morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y)


def test_zorder_key_locality(spark):
    """Sorting by zkey keeps 2-D neighbors closer than a 1-D sort on
    either dimension alone (the data-skipping rationale)."""
    from renard_spark.functions.maintenance import zorder_key

    pts = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(pts, "x long, y long")
    rows = sorted(
        zorder_key(df, "x", "y", bits=3).collect(),
        key=lambda r: r["zkey"],
    )
    # consecutive zkeys in a full grid differ by at most 3 in L1 when
    # the curve jumps quadrants; mean L1 step stays tiny
    steps = [
        abs(a["x"] - b["x"]) + abs(a["y"] - b["y"])
        for a, b in zip(rows, rows[1:])
    ]
    assert sum(steps) / len(steps) < 2.0


def test_zorder_key_rejects_out_of_range(spark):
    from renard_spark.functions.maintenance import zorder_key

    df = spark.createDataFrame([(1 << 16, 0)], "x long, y long")
    with pytest.raises(Exception):
        zorder_key(df, "x", "y").collect()
