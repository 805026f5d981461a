"""Round-4 session-4 operators: RDFS entailment, SPARQL OPTIONAL /
FILTER in the BGP compiler, and the N-Triples reader / roundtrip."""

import pytest
from pyspark.sql import functions as F

from renard_spark.functions.kgquery import bgp_match
from renard_spark.functions.ontology import (
    DOMAIN,
    RANGE,
    SUB_CLASS_OF,
    SUB_PROPERTY_OF,
    rdfs_closure,
    rdfs_closure_py,
)
from renard_spark.io.ntriples import (
    ntriples_to_triples,
    parse_ntriples,
    triples_to_ntriples,
)

SCHEMA = [
    # property chain of depth 3 (exercises the doubling closure)
    ("scans", SUB_PROPERTY_OF, "reads"),
    ("reads", SUB_PROPERTY_OF, "uses"),
    ("uses", SUB_PROPERTY_OF, "interacts_with"),
    ("sorts", SUB_PROPERTY_OF, "interacts_with"),
    # domain/range at two hierarchy levels
    ("scans", DOMAIN, "reader"),
    ("uses", DOMAIN, "participant"),
    ("interacts_with", RANGE, "participant"),
    # class chain of depth 2
    ("reader", SUB_CLASS_OF, "participant"),
    ("participant", SUB_CLASS_OF, "thing"),
]

FACTS = [
    ("alice", "scans", "table1"),
    ("bob", "sorts", "table2"),
    ("carol", "likes", "dave"),  # no schema for 'likes': passes through
    ("eve", "type", "reader"),  # explicit type fact climbs the classes
]


def _run_closure(spark, facts, schema):
    fdf = spark.createDataFrame(facts, "subj string, pred string, obj string")
    sdf = spark.createDataFrame(schema, "subj string, pred string, obj string")
    got = rdfs_closure(fdf, sdf)
    return {tuple(r) for r in got.collect()}


def test_rdfs_closure_matches_naive_fixpoint(spark):
    got = _run_closure(spark, FACTS, SCHEMA)
    want = rdfs_closure_py(FACTS, SCHEMA)
    assert got == want
    # spot invariants: property chain rolled all the way up, domain on
    # an INHERITED predicate fires, range types the object, explicit
    # type fact reaches the top class
    assert ("alice", "interacts_with", "table1") in got
    assert ("alice", "type", "participant") in got  # via uses' domain
    assert ("table1", "type", "participant") in got  # via range
    assert ("alice", "type", "reader") in got
    assert ("eve", "type", "thing") in got
    assert ("carol", "likes", "dave") in got
    # nothing invents types for schema-free predicates
    assert not any(s == "carol" and p == "type" for s, p, o in got)


def test_rdfs_closure_no_schema_is_identity(spark):
    fdf = spark.createDataFrame(FACTS, "subj string, pred string, obj string")
    sdf = spark.createDataFrame(
        [], "subj string, pred string, obj string"
    )
    got = {tuple(r) for r in rdfs_closure(fdf, sdf).collect()}
    assert got == set(FACTS)


TRIPLES = [
    ("a", "knows", "b"),
    ("b", "knows", "c"),
    ("a", "likes", "c"),
    ("c", "knows", "a"),
    ("d", "likes", "a"),
]


def _brute_optional(triples, req, opt):
    """Reference OPTIONAL semantics: enumerate required bindings, then
    per row the optional group's compatible bindings (left join)."""

    def bind(patterns, binding):
        results = [binding]
        for pat in patterns:
            nxt = []
            for b in results:
                for t in triples:
                    bb = dict(b)
                    ok = True
                    for term, val in zip(pat, t):
                        if term.startswith("?"):
                            v = term[1:]
                            if v in bb and bb[v] != val:
                                ok = False
                                break
                            bb[v] = val
                        elif term != val:
                            ok = False
                            break
                    if ok:
                        nxt.append(bb)
            results = nxt
        return results

    out = []
    opt_vars = {
        t[1:] for pat in opt for t in pat if t.startswith("?")
    }
    for b in bind(req, {}):
        exts = bind(opt, dict(b))
        if exts:
            out.extend(exts)
        else:
            row = dict(b)
            for v in opt_vars - set(b):
                row[v] = None
            out.append(row)
    return out


def test_bgp_optional_matches_bruteforce(spark):
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    req = [("?x", "knows", "?y")]
    opt = [("?y", "likes", "?z")]
    res = bgp_match(df, req, optionals=[opt])
    got = sorted(
        tuple(r[c] for c in sorted(["x", "y", "z"])) for r in res.collect()
    )
    want = sorted(
        tuple(b[v] for v in sorted(["x", "y", "z"]))
        for b in _brute_optional(TRIPLES, req, opt)
    )
    assert got == want
    # the unmatched side must be present with NULL z
    assert any(z is None for (_, _, z) in got)


def test_bgp_two_optionals_and_filter(spark):
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    res = bgp_match(
        df,
        [("?x", "knows", "?y")],
        optionals=[[("?y", "likes", "?z")], [("?z", "knows", "?w")]],
        filters=["z IS NOT NULL"],
    )
    rows = {tuple(r) for r in res.collect()}
    # only surviving binding: x=c knows y=a; a likes z=c; c knows w=a
    assert rows == {("a", "c", "a", "c")}  # (w, x, y, z) sorted cols
    assert res.columns == ["w", "x", "y", "z"]


def test_bgp_property_path_plus(spark):
    chain = [
        ("a", "knows", "b"),
        ("b", "knows", "c"),
        ("c", "knows", "d"),
        ("c", "likes", "e"),
    ]
    df = spark.createDataFrame(chain, "subj string, pred string, obj string")
    res = bgp_match(df, [("?x", "knows+", "?y")])
    got = {tuple(r) for r in res.collect()}
    assert got == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
    }
    # path pattern composes with plain patterns on shared variables
    res2 = bgp_match(df, [("?x", "knows+", "?y"), ("?y", "likes", "?z")])
    assert {tuple(r) for r in res2.collect()} == {
        ("a", "c", "e"), ("b", "c", "e"),
    }


def test_bgp_property_path_cycle_reachability(spark):
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    res = bgp_match(df, [("?x", "knows+", "?y")])
    got = {tuple(r) for r in res.collect()}
    # brute-force reachability over the 'knows' slice (cyclic: a,b,c)
    edges = {(s, o) for s, p, o in TRIPLES if p == "knows"}
    reach = set(edges)
    changed = True
    while changed:
        ext = {(a, d) for a, b in reach for c, d in edges if b == c}
        changed = not ext <= reach
        reach |= ext
    assert got == reach
    assert ("a", "a") in got  # cycle self-reachability


def test_bgp_optional_requires_shared_variable(spark):
    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    with pytest.raises(ValueError):
        bgp_match(df, [("?x", "knows", "?y")], optionals=[[("?p", "likes", "?q")]])
    with pytest.raises(ValueError):
        bgp_match(df, [("?x", "knows", "?y")], optionals=[[]])


NASTY_NAMES = [
    'quote"inside',
    "back\\slash",
    "new\nline",
    "tab\there",
    "carriage\rreturn",
    "unicode-ünïcødé-日本語",
    "emoji-\U0001f600-pair",
    "plain",
]


def test_ntriples_roundtrip_nasty_names(spark):
    facts = [
        (NASTY_NAMES[i], "interacts_with", NASTY_NAMES[(i + 1) % len(NASTY_NAMES)])
        for i in range(len(NASTY_NAMES))
    ]
    tdf = spark.createDataFrame(facts, "subj string, pred string, obj string")
    lines = triples_to_ntriples(tdf)
    back = ntriples_to_triples(lines)
    assert {tuple(r) for r in back.collect()} == set(facts)


def test_parse_ntriples_terms_escapes_and_junk(spark):
    lines = [
        ("<http://x/s> <http://x/p> <http://x/o> .",),
        ('_:b1 <http://x/p> "a\\u0041\\U0001F600\\ud83d\\ude00b\\\\\\"\\n" .',),
        ("# a comment",),
        ("",),
        ("not a triple at all",),
    ]
    df = spark.createDataFrame(lines, "line string")
    got = parse_ntriples(df).collect()
    by_kind = {r["obj_kind"]: r for r in got}
    assert by_kind["iri"]["subj"] == "http://x/s"
    assert by_kind["iri"]["obj"] == "http://x/o"
    lit = by_kind["literal"]
    assert lit["subj"] == "_:b1"
    assert lit["obj"] == 'aA\U0001f600\U0001f600b\\"\n'
    # junk line surfaces as NULL kind, comments/blanks are gone
    assert None in by_kind and len(got) == 3


def _random_edges(seed, n=30, p=0.15):
    import random

    rng = random.Random(seed)
    return [
        (f"n{i}", f"n{j}")
        for i in range(n)
        for j in range(i + 1, n)
        if rng.random() < p
    ]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_luby_mis_independent_and_maximal(spark, seed):
    from renard_spark.functions.graph import maximal_independent_set

    edges = _random_edges(seed)
    df = spark.createDataFrame(edges, "src string, dst string")
    res = {r["node"]: r["in_mis"] for r in maximal_independent_set(df).collect()}
    nodes = {u for e in edges for u in e}
    assert set(res) == nodes
    mis = {n for n, m in res.items() if m == 1}
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    # independence: no edge inside the set
    assert all(not (u in mis and v in mis) for u, v in edges)
    # maximality: every excluded node has a neighbor in the set
    assert all(adj[n] & mis for n in nodes - mis)


def test_luby_mis_deterministic_across_partitioning(spark):
    from renard_spark.functions.graph import maximal_independent_set

    edges = _random_edges(7, n=20, p=0.2)
    a = spark.createDataFrame(edges, "src string, dst string")
    b = a.repartition(13)
    ra = sorted(map(tuple, maximal_independent_set(a).collect()))
    rb = sorted(map(tuple, maximal_independent_set(b).collect()))
    assert ra == rb


def test_sorted_neighborhood_matches_bruteforce(spark):
    from renard_spark.functions.dedup import sorted_neighborhood

    docs = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamm"),   # typo'd near-dup: adjacent keys
        (3, "zebra xylophone"),
        (4, "Alpha  beta?gamma"), # normalizes onto doc 1's key
        (5, "middle of the road"),
        (6, "middle of the roap"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    w, kp = 3, 24
    got = {
        (r["doc_a"], r["doc_b"], r["rank_dist"])
        for r in sorted_neighborhood(df, window=w, key_prefix=kp).collect()
    }

    def key(t):
        import re

        return re.sub(r"[^A-Za-z0-9]+", " ", t).lower()[:kp]

    order = sorted((key(t), i) for i, t in docs)
    want = {
        (order[i][1], order[j][1], j - i)
        for i in range(len(order))
        for j in range(i + 1, min(i + w, len(order)))
    }
    assert got == want
    # the typo'd near-dups must be candidates (the method's point)
    assert any(a == 1 and b == 4 or a == 4 and b == 1 for a, b, _ in got) or \
        any({a, b} == {1, 4} for a, b, _ in got)
    assert any({a, b} == {5, 6} for a, b, _ in got)


def test_sorted_neighborhood_window_guard(spark):
    from renard_spark.functions.dedup import sorted_neighborhood

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        sorted_neighborhood(df, window=1)


def test_construct_templates_constants_and_null_skip(spark):
    from renard_spark.functions.kgquery import construct

    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    # OPTIONAL leaves z NULL for unmatched y — CONSTRUCT must skip
    # those rows for z-referencing templates only
    b = bgp_match(df, [("?x", "knows", "?y")], optionals=[[("?y", "likes", "?z")]])
    out = construct(
        b,
        [("?x", "reaches", "?z"), ("?x", "seen", "marker")],
    )
    got = {tuple(r) for r in out.collect()}
    want_reach = {
        (x, "reaches", z)
        for x, y, z in (tuple(r) for r in b.collect())
        if z is not None
    }
    want_seen = {(x, "seen", "marker") for x, _, _ in (tuple(r) for r in b.collect())}
    assert got == want_reach | want_seen
    assert out.columns == ["subj", "pred", "obj"]


def test_construct_errors(spark):
    from renard_spark.functions.kgquery import construct

    df = spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")
    b = bgp_match(df, [("?x", "knows", "?y")])
    with pytest.raises(ValueError):
        construct(b, [])
    with pytest.raises(ValueError):
        construct(b, [("?x", "p", "?missing")])


def test_textrank_matches_pure_python(spark):
    from renard_spark.functions.text import (
        STOPWORDS,
        STOPWORDS_BY_LANG,
        textrank_scores,
    )
    import re

    # ASCII-equivalent of the engine's Java-regex TOKEN_RE (\p classes
    # are Java-only; the fixture text is ASCII so the sets coincide)
    TOKEN_RE = r"[A-Za-z0-9_']+|[^A-Za-z0-9_'\s]"

    docs = [
        (1, "Spark engines shuffle data; engines shuffle partitions fast."),
        (2, "graph graph graph node"),
        (3, "single"),
        (4, "the and of"),  # all stopwords -> no graph
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    w, d, iters = 3, 0.85, 5
    got = {
        (r["doc_id"], r["token"]): r["score"]
        for r in textrank_scores(df, window=w, damping=d, iters=iters).collect()
    }

    sw = set(
        [x for ws in STOPWORDS_BY_LANG.values() for x in ws] + list(STOPWORDS)
    )
    want = {}
    for doc_id, text in docs:
        toks = [t.lower() for t in re.findall(TOKEN_RE, text)]
        toks = [t for t in toks if t not in sw]
        if len(toks) < 2:
            continue
        edges = {}
        for i in range(len(toks)):
            for dd in range(1, w):
                if i + dd >= len(toks):
                    break
                a, b = sorted((toks[i], toks[i + dd]))
                if a != b:
                    edges[(a, b)] = edges.get((a, b), 0) + 1
        if not edges:
            continue
        sw_sum = {}
        for (a, b), c in edges.items():
            sw_sum[a] = sw_sum.get(a, 0) + c
            sw_sum[b] = sw_sum.get(b, 0) + c
        nodes = sorted(sw_sum)
        n = len(nodes)
        r = {x: 1.0 / n for x in nodes}
        for _ in range(iters):
            nxt = {}
            for x in nodes:
                s = 0.0
                for (a, b), c in edges.items():
                    if b == x:
                        s += r[a] * (c / sw_sum[a])
                    if a == x:
                        s += r[b] * (c / sw_sum[b])
                nxt[x] = (1 - d) / n + d * s
            r = nxt
        for x in nodes:
            want[(doc_id, x)] = round(r[x], 6)

    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 2e-6, (k, got[k], want[k])
    assert not any(doc == 3 or doc == 4 for doc, _ in got)


def test_textrank_is_pagerank_of_the_window_graph(spark):
    """One document's TextRank scores are graph.pagerank over its
    window co-occurrence graph at the same damping and rounds."""
    from renard_spark.functions import graph as gmetrics
    from renard_spark.functions.text import textrank_scores

    toks = ("spark engines shuffle data engines shuffle partitions fast "
            "spark data shuffle").split()
    w, d, iters = 3, 0.85, 5
    df = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id long, text string"
    )
    got = {
        r["token"]: r["score"]
        for r in textrank_scores(df, window=w, damping=d, iters=iters).collect()
    }
    edges = {}
    for i in range(len(toks)):
        for j in range(i + 1, min(i + w, len(toks))):
            if toks[i] != toks[j]:
                key = tuple(sorted((toks[i], toks[j])))
                edges[key] = edges.get(key, 0) + 1
    ge = spark.createDataFrame(
        [(a, b, c) for (a, b), c in edges.items()],
        "src string, dst string, weight long",
    )
    want = {
        r["node"]: r["rank"]
        for r in gmetrics.pagerank(ge, damping=d, iters=iters)
        .select("node", F.round("rank", 6).alias("rank")).collect()
    }
    assert len(want) == 6
    assert got == want


@pytest.mark.parametrize("seed", [11, 12])
def test_bfs_paths_shortest_and_lexmin(spark, seed):
    from renard_spark.functions.graph import bfs_paths

    edges = _random_edges(seed, n=14, p=0.22)
    if not edges:
        pytest.skip("empty random graph")
    df = spark.createDataFrame(edges, "src string, dst string")
    source = min(u for e in edges for u in e)
    got = {r["node"]: (r["distance"], r["path"]) for r in
           bfs_paths(df, source, iters=10).collect()}

    # pure-python reference: BFS distances, then enumerate ALL
    # shortest paths per node and take the lexicographic min
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    from collections import deque

    dist = {source: 0}
    q = deque([source])
    while q:
        x = q.popleft()
        for y in sorted(adj[x]):
            if y not in dist:
                dist[y] = dist[x] + 1
                q.append(y)

    best = {source: [source]}
    for node in sorted(dist, key=lambda n: (dist[n], n)):
        if node == source:
            continue
        cands = [
            best[p] + [node]
            for p in adj[node]
            if p in dist and dist[p] == dist[node] - 1 and p in best
        ]
        best[node] = min(cands)
    want = {n: (dist[n], best[n]) for n in dist}
    assert {n: (d, list(p)) for n, (d, p) in got.items()} == want


def test_bfs_paths_every_path_is_valid_walk(spark):
    from renard_spark.functions.graph import bfs_paths

    edges = [("s", "a"), ("a", "b"), ("s", "c"), ("c", "b"), ("b", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    res = bfs_paths(df, "s", iters=6).collect()
    eset = {frozenset(e) for e in edges}
    for r in res:
        p = r["path"]
        assert p[0] == "s" and p[-1] == r["node"]
        assert len(p) == r["distance"] + 1
        assert all(frozenset((p[i], p[i + 1])) in eset for i in range(len(p) - 1))
    # b has two shortest paths (s,a,b) and (s,c,b): lex-min wins
    by = {r["node"]: list(r["path"]) for r in res}
    assert by["b"] == ["s", "a", "b"]
