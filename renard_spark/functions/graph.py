"""Graph analytics over character-network edge tables.

The reference materializes per-document ``networkx.Graph`` objects and
leaves metric computation to the caller (its extractors return graphs:
/root/reference/renard/pipeline/graph_extraction.py; its docs compute
degree/centrality on them with networkx). At 10^12-document scale the
graphs live in edge TABLES, so the canonical network metrics become
relational operators here:

- degree / strength: one symmetrize-union + one map-side-combined
  aggregation — no joins, no iteration.
- rank propagation: ``pagerank``, ``personalized_pagerank`` and
  ``katz_centrality`` (and ``text.textrank_scores``) are thin callers
  of ONE power-iteration kernel (``_propagate``): per round ONE
  equi-join (scores → the edge list) and ONE aggregation
  (contributions → new scores). Only the iteration-invariant edge list
  is checkpointed; the score vector is a linear chain, so the unrolled
  plan stays shallow on that leaf. At cluster scale each round is a
  single shuffle keyed by node id; skewed hub nodes are AQE's
  skew-join case, not a driver loop's.
- simple edges: operators that reduce an edge table to the undirected
  simple graph read ``_canonical`` (one row per unordered pair,
  a < b) or its symmetric view ``_symmetric``.
- shortest distances: ``bfs_distances``, ``weighted_distances``,
  ``bfs_paths`` and the multi-source ``harmonic_centrality`` /
  ``eccentricity`` are thin callers of ONE keep-or-relax kernel
  (``_relax``) over the checkpointed symmetric edge list
  (``_symmetric``); they differ only in the carried key columns and
  the relaxation step.
- reachability: ``transitive_closure`` is ``grouped_transitive_closure``
  with no group key — one doubling loop.
- connected components (``spanning_forest``'s collapse step) come from
  ``operators.cc.connected_components``, which owns the hash-to-min /
  large-star-small-star decision.

Everything is built-in-function only (JVM-side); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from renard_spark.operators.utils import local_table


def symmetrize(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    weight: str | None = "weight",
) -> DataFrame:
    """Undirected view of an edge table: each (src, dst, w) emitted in
    both directions as (u, v, w). Character networks are undirected
    (the reference's nx.Graph); directed metrics can skip this."""
    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    both = F.array(
        F.struct(F.col(src).alias("u"), F.col(dst).alias("v"), w.alias("w")),
        F.struct(F.col(dst).alias("u"), F.col(src).alias("v"), w.alias("w")),
    )
    # explode, not union: a union would evaluate the (possibly deep)
    # upstream edge plan twice; this is one narrow pass
    return edges.select(F.explode(both).alias("e")).select(
        "e.u", "e.v", "e.w"
    )


def degrees(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    weight: str | None = "weight", scope_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Degree and strength (weighted degree) per node, optionally per
    scope (e.g. per doc_id for per-document networks):
    → (*scope_cols, node, degree, strength).

    One union + one aggregation; degree counts distinct neighbors
    (simple-graph semantics — the edge tables emit each unordered pair
    once, so after symmetrizing, rows per node == neighbor count)."""
    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    both = F.array(
        F.struct(F.col(src).alias("node"), w.alias("w")),
        F.struct(F.col(dst).alias("node"), w.alias("w")),
    )
    # single narrow explode (see symmetrize) + one map-side-combined agg
    sym = edges.select(
        *[F.col(c) for c in scope_cols], F.explode(both).alias("e")
    )
    return sym.groupBy(*scope_cols, F.col("e.node").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"),
        F.sum("e.w").alias("strength"),
    )


def _transitions(sym: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """Checkpointed random-walk edge list (*keys, u, v, p) of a
    symmetric (*keys, u, v, w) table: p = w / strength(u), folded onto
    the edges ONCE before a ``_propagate`` loop, which re-reads it
    every round."""
    ow = sym.groupBy(*keys, "u").agg(F.sum("w").alias("sw"))
    return (
        sym.join(ow, [*keys, "u"])
        .select(*keys, "u", "v", (F.col("w") / F.col("sw")).alias("p"))
        .localCheckpoint(eager=True)
    )


def _propagate(
    e: DataFrame, x: DataFrame, restart, scale: float,
    keys: tuple[str, ...] = (), iters: int = 10,
) -> DataFrame:
    """Power iteration shared by every rank operator: ``x`` (*keys,
    node, x) → after ``iters`` rounds of

        x(v) = restart + scale · Σ_{(u,v) ∈ e} x(u) · p(u, v)

    over the invariant edge list ``e`` (*keys, u, v[, p]; p = 1 when
    absent). ``restart`` is a number or a column over the round's
    (*keys, node), e.g. a seed indicator or a key carried on ``e``.

    Per round ONE equi-join of the score vector onto ``e`` and ONE
    map-side-combined sum. The vector is referenced once per round, so
    the unroll is a linear chain on top of the (checkpointed) edge
    leaf: no mid-loop truncation, and each round's identical e-side
    exchange is computed once by AQE exchange reuse. Per-round eager
    checkpoints cost one synchronous job each (2.3x the remaining
    query cost in the fixed-round TextRank A/B, PLANS.md round 5).
    Every node with an incoming edge gets a row each round; on a
    symmetric edge list that is every node of ``x``.
    """
    msg = F.col("x") * F.col("p") if "p" in e.columns else F.col("x")
    for _ in range(iters):
        x = (
            e.join(x.withColumnRenamed("node", "u"), [*keys, "u"])
            .select(*keys, F.col("v").alias("node"), msg.alias("c"))
            .groupBy(*keys, "node")
            .agg((F.lit(restart) + F.lit(scale) * F.sum("c")).alias("x"))
        )
    return x


def pagerank(
    edges: DataFrame, damping: float = 0.85, iters: int = 10,
    src: str = "src", dst: str = "dst", weight: str | None = "weight",
) -> DataFrame:
    """Fixed-iteration PageRank on the undirected character network:
    → (node, rank).

    Weighted propagation: a node pushes ``rank * w_uv / strength(u)``
    along each incident edge; new rank = (1-d)/N + d·Σ incoming
    (``_propagate``). On the symmetric graph every node has in- and
    out-edges, so there is no dangling-mass term.
    """
    e = _transitions(symmetrize(edges, src, dst, weight))
    nodes = e.select(F.col("u").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    x = _propagate(e, nodes.withColumn("x", F.lit(1.0 / n)),
                   (1.0 - damping) / n, damping, iters=iters)
    return x.select("node", F.col("x").alias("rank"))


def personalized_pagerank(
    edges: DataFrame, seeds: list[str], damping: float = 0.85,
    iters: int = 10, src: str = "src", dst: str = "dst",
    weight: str | None = "weight",
) -> DataFrame:
    """Fixed-iteration personalized PageRank (random walk with restart
    to a seed set) on the undirected character network → (node, rank).

    r_{t+1}(v) = (1-d)·s(v) + d·Σ_{(u,v)} r_t(u)·w_uv/strength(u),
    with s(v) = 1/|seeds| on the seed set and 0 elsewhere; r_0 = s.
    The per-entity relevance primitive for KG neighborhoods ("which
    characters matter *around Elizabeth*"), vs global ``pagerank``.

    ``pagerank``'s kernel (``_propagate``) with the seed restart term.
    Every node of the edge list keeps a row, at 0.0 until mass reaches
    it. Seeds are a driver-side literal list (bounded — a seed set is
    a query parameter, not a corpus); for seed sets that are
    themselves tables, join a seed DataFrame instead of the ``isin``
    literal.
    """
    if not seeds:
        raise ValueError("personalized_pagerank needs >=1 seed node")
    seeds = sorted(set(seeds))
    s_mass = 1.0 / len(seeds)
    e = _transitions(symmetrize(edges, src, dst, weight))
    seed = F.col("node").isin(seeds)
    x0 = e.select(F.col("u").alias("node")).distinct().withColumn(
        "x", F.when(seed, F.lit(s_mass)).otherwise(F.lit(0.0))
    )
    restart = F.when(seed, F.lit((1.0 - damping) * s_mass)).otherwise(
        F.lit(0.0)
    )
    x = _propagate(e, x0, restart, damping, iters=iters)
    return x.select("node", F.col("x").alias("rank"))


def hits(
    edges: DataFrame, iters: int = 8,
    src: str = "src", dst: str = "dst", weight: str | None = "weight",
) -> DataFrame:
    """Fixed-iteration weighted HITS (Kleinberg 1999) on the
    undirected character network → (node, hub, auth).

    Per round: authority(v) = Σ_{(u,v)} w·hub(u), then L1-normalize;
    hub(u) = Σ_{(u,v)} w·auth(v), then L1-normalize. On the symmetric
    graph hub == auth at the fixpoint (both converge to the principal
    eigenvector of the weighted adjacency), so the operator's value on
    character networks is the *ranking* + the directed-graph-ready
    shape. Same bulk-synchronous plan as ``pagerank``: each half-step
    is ONE equi-join of the score vector onto the checkpointed edge
    list + ONE map-side-combined sum. The raw score table (|V| rows —
    node-count sized, tiny next to the edge list) is localCheckpoint-ed
    every half-step and its L1 mass pulled to the driver as ONE scalar,
    so normalization is a literal division: constant plan depth per
    round (a lazy 1-row cross join here doubles the plan per half-step
    — 2^rounds expansion), and no nested-loop join anywhere.
    Normalizing every round keeps magnitudes O(1) — without it 10
    rounds on a hub-heavy graph overflow toward 1e60 and eat the
    double mantissa.
    """
    sym = symmetrize(edges, src, dst, weight)
    e = sym.localCheckpoint(eager=True)
    nodes = e.select(F.col("u").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("hub", F.lit(0.0)).withColumn(
            "auth", F.lit(0.0)
        )
    hub = nodes.withColumn("h", F.lit(1.0 / n))
    auth = None
    # per half-step the score table is checkpointed LAZILY and the L1
    # mass pull is the job that materializes it (the old eager=True
    # spent a dedicated RDD-materialization job per half-step BEFORE
    # the pull — 4 synchronous jobs per round; this shape does the
    # same materialization inside the 2 unavoidable scalar pulls)
    for _ in range(iters):
        ar = (
            e.join(hub, e["u"] == hub["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.col("w") * F.col("h")).alias("a"))
            .localCheckpoint(eager=False)
        )
        sa = ar.agg(F.sum("a")).first()[0]
        auth = ar.select("node", (F.col("a") / F.lit(sa)).alias("a"))
        hr = (
            e.join(auth, e["v"] == auth["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum(F.col("w") * F.col("a")).alias("h"))
            .localCheckpoint(eager=False)
        )
        sh = hr.agg(F.sum("h")).first()[0]
        hub = hr.select("node", (F.col("h") / F.lit(sh)).alias("h"))
    return hub.join(auth.withColumnRenamed("a", "auth"), "node").select(
        "node", F.col("h").alias("hub"), "auth"
    )


def triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient on
    the undirected simple graph → (node, degree, n_triangles,
    clustering).

    The standard distributed shape: canonicalize edges to a < b,
    build wedges with one self-equi-join (a<b<c ordering means every
    triangle is enumerated exactly once), close them against the edge
    list with a second equi-join. Both joins are equi-keyed — hub-node
    skew is AQE's skew-join case. clustering(v) =
    2·T(v) / (deg(v)·(deg(v)−1)), 0 where degree < 2."""
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    # wedges a<b<c centred at b's lower endpoint a: (a,b) + (a,c), b<c
    w = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.a") == F.col("e2.a"))
        .filter(F.col("e1.b") < F.col("e2.b"))
        .select(
            F.col("e1.a").alias("a"), F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    tri = w.join(
        e.select(F.col("a").alias("b"), F.col("b").alias("c")),
        ["b", "c"],
    )
    per_node = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node", "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long")
        .alias("n_triangles"),
    )
    return out.withColumn(
        "clustering",
        F.when(
            F.col("degree") >= 2,
            2.0 * F.col("n_triangles")
            / (F.col("degree") * (F.col("degree") - 1)),
        ).otherwise(F.lit(0.0)),
    )


def label_propagation(
    edges: DataFrame, iters: int = 5, src: str = "src",
    dst: str = "dst", weight: str | None = "weight",
) -> DataFrame:
    """Community detection by synchronous weighted label propagation
    → (node, label).

    Labels start as the node's own id; each round every node adopts
    the label with the highest incident edge-weight sum among its
    neighbors, ties broken toward the smallest label — fully
    deterministic, unlike classic random-order LPA, so results are
    reproducible across cluster sizes and the DuckDB oracle can unroll
    the same rounds. Per round: one equi-join (labels onto the
    symmetric edge list) + one aggregation + one per-node window
    argmax over the checkpointed edge list. Synchronous
    updates can oscillate on bipartite structure — the fixed iteration
    count bounds that by construction (production tuning would use a
    higher ``iters`` or a semi-synchronous coloring; the operator
    semantics stay the same).
    """
    from pyspark.sql import Window

    # invariant edge list checkpointed once; the label vector is a
    # linear chain — no mid-loop truncation (see ``_propagate``)
    sym = symmetrize(edges, src, dst, weight).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    argmax = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for i in range(iters):
        nb = sym.join(labels, sym["v"] == labels["node"]).select(
            sym["u"].alias("node"), "label", "w"
        )
        cnt = nb.groupBy("node", "label").agg(F.sum("w").alias("c"))
        labels = (
            cnt.withColumn("_rn", F.row_number().over(argmax))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
    return labels


def core_number(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    iters: int | None = None, max_rounds: int = 256,
) -> DataFrame:
    """Core number (coreness) of EVERY node in one pass over all k →
    (node, core_number) — the full k-core decomposition, not one shell.

    Iterated h-index (Lü et al. 2016, "The H-index of a network node
    and its relation to degree and coreness"): values start at degree;
    each round a node's value becomes the h-index of its neighbors'
    current values; the fixpoint is exactly the coreness. Values are
    monotone non-increasing, convergence needs far fewer rounds than
    degree-peeling needs peels (empirically ~log-diameter), and each
    round is ONE equi-join (values onto the symmetric edge list) + ONE
    windowed prefix-count — the same bulk-synchronous shape as the
    PageRank/LPA loops, with lineage truncated every round.

    ``iters`` given ⇒ exactly that many rounds, no convergence probe —
    the deterministic unroll a fixed-round SQL oracle can mirror
    (extra rounds past the fixpoint are no-ops, so both engines agree
    whenever either has converged). ``iters=None`` ⇒ run to the
    fixpoint, detected by the strictly-decreasing total value sum.
    """
    sym = _symmetric(edges, src, dst)
    from pyspark.sql import Window

    vals = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("val")
    )
    prev_sum = None
    w = Window.partitionBy("node").orderBy(F.col("val").desc())
    rounds = iters if iters is not None else max_rounds
    for i in range(rounds):
        nb = sym.join(vals, sym["v"] == vals["node"]).select(
            sym["u"].alias("node"), "val"
        )
        # h-index of the neighbor multiset: sort desc, count positions
        # with val >= rank (a prefix, so count == h); ties are rank-
        # order-independent because the sorted multiset is unique
        vals = (
            nb.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("val") >= F.col("_rn"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("val"))
        )
        if iters is None:
            # fixpoint mode: the probe needs per-round materialization
            # — truncate so the next round (and probe) read blocks
            vals = vals.localCheckpoint(eager=False)
            s = vals.agg(F.sum("val")).first()[0]
            if s == prev_sum:
                break
            prev_sum = s
    return vals.select("node", F.col("val").cast("long").alias("core_number"))


def k_core(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Maximal k-core of the undirected simple graph: iteratively peel
    nodes of degree < k until none remain → surviving (node, degree)
    with degree measured INSIDE the core.

    Peeling is monotone (each round only removes; the fixpoint is the
    unique maximal k-core), so extra rounds are no-ops — which lets
    the DuckDB oracle unroll a fixed round count and still match
    exactly. Per round: one narrow degree aggregation + two left-anti
    equi-joins against the (usually tiny, broadcast) peel set, with
    the edge list checkpointed so each round starts from materialized
    state like the CC / PageRank / LPA loops."""
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    # peeling terminates in ≤ |V| rounds (every non-final round removes
    # ≥1 node); on a path-like graph O(diameter) rounds is normal
    # (callers wanting few rounds use ``core_number`` — the h-index
    # iteration converges in far fewer)
    while True:
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        bad = deg.filter(F.col("d") < k).select("node").localCheckpoint(
            eager=True
        )
        if bad.isEmpty():
            return deg.select(
                "node", F.col("d").cast("long").alias("degree")
            )
        e = (
            e.join(bad, e["a"] == bad["node"], "left_anti")
            .join(bad, e["b"] == bad["node"], "left_anti")
            .localCheckpoint(eager=True)
        )


def _canonical(
    edges: DataFrame, src: str, dst: str, value: Column | None = None,
    agg=F.min, keys: tuple[str, ...] = (), loops: bool = False,
) -> DataFrame:
    """The undirected simple edge list (*keys, a, b[, w]): one row per
    unordered pair, a = least(src, dst) < b = greatest(src, dst), so
    self-loops and NULL endpoints drop out. ``value`` (a column over
    ``edges``) is folded over parallel edges by ``agg`` into ``w``;
    ``loops`` keeps self-loops as a == b rows."""
    e = edges.select(
        *keys, F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"),
        *([] if value is None else [value.alias("w")]),
    )
    if not loops:
        e = e.filter(F.col("a") < F.col("b"))
    if value is None:
        return e.distinct()
    return e.groupBy(*keys, "a", "b").agg(agg(F.col("w")).alias("w"))


def _symmetric(
    edges: DataFrame, src: str, dst: str, cost: str | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """Symmetric view (u, v[, c]) of ``_canonical``: each simple edge
    in both directions, parallel edges collapsed to the cheapest
    ``cost`` when one is given; checkpointed unless ``checkpoint`` is
    False."""
    if cost is None:
        e, c = _canonical(edges, src, dst), []
    else:
        e = _canonical(edges, src, dst, F.col(cost).cast("double"))
        c = [F.col("w").alias("c")]
    both = F.array(
        F.struct(F.col("a").alias("u"), F.col("b").alias("v"), *c),
        F.struct(F.col("b").alias("u"), F.col("a").alias("v"), *c),
    )
    sym = e.select(F.explode(both).alias("p")).select("p.*")
    return sym.localCheckpoint(eager=True) if checkpoint else sym


def _relax(
    sym: DataFrame, state: DataFrame, step: Column,
    keys: tuple[str, ...] = (),
    iters: int | None = None, max_rounds: int = 64,
) -> DataFrame:
    """Keep-or-relax fixpoint shared by every shortest-distance
    operator: ``state`` (*keys, node, d) → the per-(keys, node) minimum
    ``d`` over all walks from the seeds. ``keys`` are carried through
    untouched (none, or the BFS ``source``); ``step`` is the column
    expression a message across edge (v → u) carries, over the state's
    ``d`` and the ``sym`` row (``d + 1``, ``d + c``, or a (distance,
    path) struct — min-of-struct is lexicographic).

    Per round ONE left equi-join of the state onto ``sym`` and ONE
    min-aggregation: each state row emits itself plus one message per
    incident edge (the per-edge self-copies collapse in the min, which
    ignores multiplicity). The state is referenced once per round, so a
    fixed ``iters`` unroll is a linear chain that runs no job per round
    — one execution, whose repeated sym-side exchanges AQE reuses.
    ``iters=None`` runs to the fixpoint: the round truncates lazily and
    ONE (row count, Σ d) probe materializes it — exact, since ``d``
    only ever decreases (needs a numeric ``d``).
    """
    prev = None
    for _ in range(iters if iters is not None else max_rounds):
        emitted = F.array(
            F.struct(F.col("node"), F.col("d")),
            F.struct(F.col("u").alias("node"), step.alias("d")),
        )
        state = (
            state.join(sym, sym["v"] == state["node"], "left")
            .select(*keys, F.explode(emitted).alias("e"))
            .select(*keys, "e.node", "e.d")
            .filter(F.col("node").isNotNull())
            .groupBy(*keys, "node")
            .agg(F.min("d").alias("d"))
        )
        if iters is None:
            state = state.localCheckpoint(eager=False)
            sig = tuple(state.agg(F.count(F.lit(1)), F.sum("d")).first())
            if sig == prev:
                break
            prev = sig
    return state


def bfs_distances(
    edges: DataFrame, source: str, src: str = "src", dst: str = "dst",
    iters: int | None = None, max_rounds: int = 64,
) -> DataFrame:
    """Unweighted hop distance from ``source`` to every reachable node
    → (node, distance). Bulk-synchronous BFS (``_relax`` with step
    +1): per round ONE equi-join of the current distance vector onto
    the symmetric edge list + ONE min-aggregation — each round is a
    single shuffle keyed by node id, the shape that scales linearly in
    |E| per round on a cluster.

    Distances are monotone non-increasing once a node is reached and
    rounds past convergence are no-ops, so ``iters`` gives the fixed
    unroll an SQL oracle can mirror exactly (must exceed the graph's
    diameter — pytest-asserted vs networkx); ``iters=None`` runs to
    the fixpoint."""
    sym = _symmetric(edges, src, dst)
    seed = local_table(
        edges.sparkSession, [(source, 0)], "node string, d int"
    )
    dist = _relax(sym, seed, F.col("d") + 1, iters=iters,
                  max_rounds=max_rounds)
    return dist.select("node", F.col("d").cast("long").alias("distance"))


def pmi_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    weight: str = "weight", positive: bool = True,
) -> DataFrame:
    """Pointwise-mutual-information re-weighting of a co-occurrence
    edge table → (src, dst, weight, pmi) — the standard association
    score that separates "co-occur because both are frequent" from
    "co-occur more than chance" (raw counts over-weight hub pairs).

    p(a,b) = w_ab / T with T = Σ canonical edge weights;
    p(a) = strength(a) / 2T (each edge contributes to two endpoints);
    pmi = ln(p(a,b) / (p(a)·p(b))), clamped at 0 when ``positive``
    (PPMI). Narrow: one canonicalize, one strength aggregation joined
    back twice, one 1-row total broadcast — no iteration.
    """
    e = _canonical(
        edges, src, dst, F.col(weight).cast("double"), F.sum
    ).localCheckpoint(eager=True)
    total = e.agg(F.sum("w")).first()[0]
    if not total:
        return e.select(
            F.col("a").alias("src"), F.col("b").alias("dst"),
            "w", F.lit(0.0).alias("pmi"),
        ).limit(0)
    strength = (
        e.select(F.explode(F.array(
            F.struct(F.col("a").alias("node"), F.col("w").alias("w")),
            F.struct(F.col("b").alias("node"), F.col("w").alias("w")),
        )).alias("p"))
        .groupBy(F.col("p.node").alias("node"))
        .agg(F.sum("p.w").alias("s"))
    )
    sa = strength.select(F.col("node").alias("a"), F.col("s").alias("sa"))
    sb = strength.select(F.col("node").alias("b"), F.col("s").alias("sb"))
    pmi = F.log(
        (F.col("w") / F.lit(float(total)))
        / ((F.col("sa") / F.lit(2.0 * total)) * (F.col("sb") / F.lit(2.0 * total)))
    )
    if positive:
        pmi = F.greatest(pmi, F.lit(0.0))
    return (
        e.join(sa, "a").join(sb, "b")
        .select(
            F.col("a").alias("src"), F.col("b").alias("dst"),
            F.col("w").alias("weight"), pmi.alias("pmi"),
        )
    )


def weighted_distances(
    edges: DataFrame, source: str, src: str = "src", dst: str = "dst",
    cost: str = "cost", iters: int | None = None, max_rounds: int = 64,
) -> DataFrame:
    """Cheapest-path cost from ``source`` over a non-negative ``cost``
    column → (node, distance) — the weighted twin of ``bfs_distances``
    (bulk-synchronous Bellman–Ford / min-plus: ``_relax`` with step
    +cost). Monotone non-increasing ⇒ fixed ``iters`` rounds (≥ the hop
    diameter) are oracle-unrollable; ``iters=None`` runs to the
    fixpoint."""
    sym = _symmetric(edges, src, dst, cost)
    seed = local_table(
        edges.sparkSession, [(source, 0.0)], "node string, d double"
    )
    dist = _relax(sym, seed, F.col("d") + F.col("c"), iters=iters,
                  max_rounds=max_rounds)
    return dist.select("node", F.col("d").alias("distance"))


def harmonic_centrality(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    sources: list | None = None, iters: int | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Harmonic centrality H(s) = Σ_{t ≠ s, reachable} 1/d(s,t) →
    (node, harmonic), exact over the undirected simple graph.

    Bulk-synchronous MULTI-source BFS: the state is a (source, node,
    distance) table seeded with every source at distance 0; each round
    is ONE equi-join of the state onto the checkpointed symmetric edge
    list + ONE min-aggregation keyed by (source, node) — the same
    linear-in-|E|-per-round shape as ``bfs_distances``, just with the
    source dimension carried through the keys. Exact all-sources state
    is O(V · V_reachable): right for unified entity graphs (V ≪ corpus
    size); for big graphs pass a sampled ``sources`` list — the
    standard unbiased estimator — and the state shrinks to O(|S| · V).

    Distances are monotone non-increasing once reached, so a fixed
    ``iters`` ≥ diameter is oracle-unrollable; ``iters=None`` runs to
    the fixpoint. Nodes absent from the edge list (isolated) are not
    returned.
    """
    dist = _multi_source_distances(edges, src, dst, sources, iters,
                                   max_rounds)
    return (
        dist.filter(F.col("distance") > 0)
        .groupBy("source")
        .agg(F.sum(1.0 / F.col("distance")).alias("harmonic"))
        .select(F.col("source").alias("node"), "harmonic")
    )


def _multi_source_distances(
    edges: DataFrame, src: str, dst: str, sources: list | None,
    iters: int | None, max_rounds: int,
) -> DataFrame:
    """Multi-source BFS state → (source, node, distance): ``_relax``
    with the source carried as a key; see ``harmonic_centrality``."""
    sym = _symmetric(edges, src, dst)
    seeds = sym.select(F.col("u").alias("node")).distinct()
    if sources is not None:
        want = local_table(
            edges.sparkSession, [(s,) for s in sources], ["node"]
        ).distinct()
        seeds = seeds.join(want, "node")
    state = seeds.select(
        F.col("node").alias("source"), "node", F.lit(0).alias("d")
    )
    dist = _relax(sym, state, F.col("d") + 1, keys=("source",),
                  iters=iters, max_rounds=max_rounds)
    return dist.select("source", "node", F.col("d").alias("distance"))


def eccentricity(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    sources: list | None = None, iters: int | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Eccentricity per node → (node, ecc): the max shortest-path
    distance from the node to any node REACHABLE from it (per-
    component semantics, so disconnected graphs are fine — each node's
    horizon is its own component). min(ecc) over the table is the
    graph's radius, max(ecc) its diameter.

    Same exact multi-source-BFS state as ``harmonic_centrality`` (ONE
    equi-join + ONE min-agg per round, O(V · V_reachable) state — for
    huge graphs pass sampled ``sources``); the final reduction is max
    instead of Σ 1/d. Fixed ``iters`` ≥ diameter is oracle-unrollable:
    distances are monotone, so extra rounds are no-ops — but an
    ``iters`` BELOW the true diameter truncates the horizon and
    understates ecc; callers size it from the known graph (the pytest
    asserts fixed-round == fixpoint on the gate graph).
    """
    dist = _multi_source_distances(edges, src, dst, sources, iters,
                                   max_rounds)
    return (
        dist.groupBy("source")
        .agg(F.max("distance").cast("long").alias("ecc"))
        .select(F.col("source").alias("node"), "ecc")
    )


def betweenness_centrality(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    sources: list | None = None, iters: int | None = None,
    max_rounds: int = 32,
) -> DataFrame:
    """Exact (unnormalized) shortest-path betweenness on the
    undirected simple graph → (node, betweenness), Brandes'
    accumulation expressed as bulk-synchronous joins — no per-node
    Python, no driver-side graph.

    Forward phase: multi-source frontier BFS carrying σ (shortest-path
    counts) — per level ONE equi-join of the frontier onto the
    checkpointed symmetric edge list + a (source, node) sum + an
    anti-join against the reached set. Backward phase: levels walked
    deepest-first; per level ONE join of the level's nodes onto their
    level+1 successors' (σ, δ) and the Brandes update
    δ(v) = Σ_w σ_v/σ_w · (1 + δ(w)). Betweenness(v) =
    Σ_{s≠v} δ_s(v) / 2. State is O(|S|·V): exact with all sources on
    entity-scale graphs; pass a sampled ``sources`` list for the
    standard estimator at larger |V|.

    Both phases are fixed-round unrollable (empty frontiers /
    empty levels are no-ops), so a driver query can mirror the exact
    computation in unrolled SQL with ``iters`` set; ``iters=None``
    runs the forward phase to frontier exhaustion.
    """
    sym = _symmetric(edges, src, dst)
    nodes = sym.select(F.col("u").alias("node")).distinct()
    if sources is not None:
        want = local_table(
            edges.sparkSession, [(s,) for s in sources], ["node"]
        ).distinct()
        seeds = nodes.join(want, "node")
    else:
        seeds = nodes
    frontier = seeds.select(
        F.col("node").alias("source"), "node",
        F.lit(0).alias("d"), F.lit(1.0).alias("sigma"),
    ).localCheckpoint(eager=True)
    sp = frontier
    rounds = iters if iters is not None else max_rounds
    for k in range(1, rounds + 1):
        cand = (
            sym.join(frontier, sym["v"] == frontier["node"])
            .groupBy("source", sym["u"].alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        frontier = (
            cand.join(
                sp.select("source", "node"), ["source", "node"],
                "left_anti",
            )
            .select(
                "source", "node", F.lit(k).alias("d"), "sigma"
            )
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        sp = sp.unionByName(frontier).localCheckpoint(eager=True)
    top = sp.agg(F.max("d")).first()[0]
    if not top:  # no edges / no reachable pairs: all betweenness 0
        return nodes.select(
            "node", F.lit(0.0).alias("betweenness")
        )
    # deepest level seeds the backward sweep with δ = 0
    dl = (
        sp.filter(F.col("d") == top)
        .select("source", "node", "sigma", F.lit(0.0).alias("delta"))
        .localCheckpoint(eager=True)
    )
    acc = dl
    for k in range(top - 1, 0, -1):
        cur = sp.filter(F.col("d") == k)
        contrib = (
            cur.alias("c")
            .join(sym.alias("s"), F.col("c.node") == F.col("s.u"))
            .join(
                dl.alias("n"),
                (F.col("n.source") == F.col("c.source"))
                & (F.col("n.node") == F.col("s.v")),
            )
            .groupBy(
                F.col("c.source").alias("source"),
                F.col("c.node").alias("node"),
            )
            .agg(
                F.sum(
                    F.col("c.sigma") / F.col("n.sigma")
                    * (F.lit(1.0) + F.col("n.delta"))
                ).alias("delta")
            )
        )
        dl = (
            cur.select("source", "node", "sigma")
            .join(contrib, ["source", "node"], "left")
            .withColumn("delta", F.coalesce("delta", F.lit(0.0)))
            .localCheckpoint(eager=True)
        )
        acc = acc.unionByName(dl).localCheckpoint(eager=True)
    return (
        acc.filter(F.col("node") != F.col("source"))
        .groupBy("node")
        .agg((F.sum("delta") / 2.0).alias("betweenness"))
    )


def assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman) of the undirected
    simple graph → ONE row (assortativity): the Pearson correlation of
    endpoint degrees over directed edge ends. One degree aggregation,
    one join of the degree vector onto the symmetric edge list, one
    global 4-sum aggregation — no iteration, no driver loop."""
    sym = _symmetric(edges, src, dst, checkpoint=False)
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    ends = (
        sym.join(deg.withColumnRenamed("u", "n1"), sym["u"] == F.col("n1"))
        .withColumnRenamed("d", "dx")
        .drop("n1")
        .join(
            deg.withColumnRenamed("u", "n2").withColumnRenamed("d", "dy"),
            sym["v"] == F.col("n2"),
        )
        .drop("n2")
    )
    s = ends.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
    )
    # by symmetry Σdy = Σdx and Σdy² = Σdx² over directed ends
    return s.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("assortativity")
    )


def modularity(
    edges: DataFrame, labels: DataFrame, src: str = "src",
    dst: str = "dst", weight: str = "weight", label_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a node partition over the weighted
    undirected graph → ONE row (modularity):
    Q = Σ_intra w / m  −  Σ_c (tot_c / 2m)², with m the total edge
    weight and tot_c the summed node strengths of community c. Two
    label joins (one per endpoint) + community-sized aggregations;
    the only driver scalar is m (a 1-row count-style pull)."""
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"),
        F.col(weight).cast("double").alias("w"),
    )
    la = labels.select(F.col("node"), F.col(label_col).alias("label"))
    m = float(e.agg(F.sum("w")).first()[0] or 0.0)
    if m == 0.0:
        return local_table(e.sparkSession, [(0.0,)], "modularity double")
    intra = (
        e.join(la.withColumnRenamed("node", "a").withColumnRenamed(
            "label", "lab_a"), "a")
        .join(la.withColumnRenamed("node", "b").withColumnRenamed(
            "label", "lab_b"), "b")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.sum("w").alias("iw"))
    )
    both = F.array(
        F.struct(F.col("a").alias("node"), F.col("w")),
        F.struct(F.col("b").alias("node"), F.col("w")),
    )
    strength = (
        e.select(F.explode(both).alias("p"))
        .select("p.node", "p.w")
        .groupBy("node")
        .agg(F.sum("w").alias("s"))
    )
    tot = (
        strength.join(la, "node")
        .groupBy("label")
        .agg(F.sum("s").alias("tc"))
    )
    per_c = tot.join(intra, "label", "left").select(
        F.coalesce("iw", F.lit(0.0)).alias("iw"), "tc"
    )
    return per_c.agg(
        (
            F.sum("iw") / F.lit(m)
            - F.sum(F.pow(F.col("tc") / F.lit(2.0 * m), F.lit(2.0)))
        ).alias("modularity")
    )


def link_prediction_scores(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    scope_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Link-prediction scores for every distance-2 NON-adjacent pair →
    (*scope_cols, u, v, common_neighbors, jaccard, adamic_adar), u < v.

    The classic missing-edge candidates of a knowledge graph (which
    characters never co-occur but share many neighbors?): candidates
    come from ONE wedge self-equi-join on the shared neighbor — never
    an all-pairs scan, exactly the `triangles` join shape, so hub-node
    skew is AQE's skew-join case and fanout is Σ deg(c)². Existing
    edges are removed with an anti-join; degrees come from one
    aggregation. adamic_adar = Σ_c 1/ln(deg(c)) is safe: a wedge
    center has ≥ 2 neighbors, so ln(deg) ≥ ln 2 > 0. ``scope_cols``
    (e.g. ("doc_id",)) scores each scope's network independently —
    all joins stay equi on (scope, key)."""
    sc = list(scope_cols)
    canon = _canonical(
        edges, src, dst, keys=scope_cols, loops=True
    ).localCheckpoint(eager=False)
    # symmetrize() drops extra cols; do the two-direction explode here
    both = F.array(
        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
        F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
    )
    sym = canon.select(*sc, F.explode(both).alias("e")).select(
        *sc, "e.u", "e.v"
    )
    deg = sym.groupBy(*sc, "u").agg(F.count(F.lit(1)).alias("deg"))
    wedge_l = sym.select(*sc, F.col("u").alias("c"), F.col("v").alias("a"))
    wedge_r = sym.select(
        *[F.col(c).alias(f"_s_{c}") for c in sc],
        F.col("u").alias("_c2"), F.col("v").alias("b"),
    )
    cond = (wedge_l["c"] == wedge_r["_c2"]) & (wedge_l["a"] < wedge_r["b"])
    for c in sc:
        cond = cond & (wedge_l[c] == wedge_r[f"_s_{c}"])
    wed = wedge_l.join(wedge_r, cond).select(*sc, "c", "a", "b")
    dc = deg.select(
        *sc, F.col("u").alias("c"), F.col("deg").alias("_cdeg")
    )
    scored = (
        wed.join(dc, sc + ["c"])
        .groupBy(*sc, "a", "b")
        .agg(
            F.count(F.lit(1)).alias("common"),
            F.sum(F.lit(1.0) / F.log(F.col("_cdeg"))).alias("aa"),
        )
    )
    cand = scored.join(canon, sc + ["a", "b"], "left_anti")
    da = deg.select(*sc, F.col("u").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(*sc, F.col("u").alias("b"), F.col("deg").alias("_db"))
    return (
        cand.join(da, sc + ["a"])
        .join(db, sc + ["b"])
        .select(
            *sc,
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            F.col("common").cast("long").alias("common_neighbors"),
            (
                F.col("common")
                / (F.col("_da") + F.col("_db") - F.col("common"))
            ).alias("jaccard"),
            F.col("aa").alias("adamic_adar"),
        )
    )


def random_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_len: int = 6,
    seed: str = "walk",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """DeepWalk-style DETERMINISTIC uniform random walks over the
    undirected graph (Perozzi et al. KDD'14 — the random-walk corpus
    that skip-gram graph embeddings train on) → (walk_id, step, node),
    ``walks_per_node`` walks of ``walk_len`` nodes from every
    non-isolated node.

    Determinism (the replayable-pipeline requirement): the step-t
    choice is ``md5(seed:walk_id:t) mod degree`` into the SORTED
    neighbor array — no RNG state, so reruns, resumes, and the DuckDB
    oracle reproduce the walks bit-for-bit (same idiom as hash_split /
    priority_sample).

    Scale shape: the adjacency table (node, sorted neighbors) builds
    in ONE groupBy; each step is ONE equi-join of the |V|·R frontier
    onto it + a narrow md5 pick — walk_len−1 joins total, frontier
    checkpointed per step (constant plan depth). Hub nodes mean a fat
    adjacency ARRAY row, not join skew (the join key is the walking
    node, uniformly loaded); at web scale cap the array like the LSH
    hot-bucket caps. No walk ever crosses the driver.
    """
    sym = symmetrize(edges, src, dst, None)
    adj = (
        sym.select("u", "v")
        .distinct()
        .groupBy("u")
        .agg(F.sort_array(F.collect_list("v")).alias("_nbrs"))
        .localCheckpoint(eager=False)
    )
    frontier = adj.select(
        F.col("u").alias("_start"),
        F.explode(
            F.sequence(F.lit(0), F.lit(int(walks_per_node) - 1))
        ).alias("_widx"),
    ).select(
        F.concat_ws(":", "_start", "_widx").alias("walk_id"),
        F.col("_start").alias("_cur"),
    )
    out = frontier.select(
        "walk_id", F.lit(0).alias("step"), F.col("_cur").alias("node")
    )
    for t in range(1, int(walk_len)):
        pick = F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.lit(seed), "walk_id", F.lit(str(t))
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.size("_nbrs"),
        ).cast("int")
        frontier = (
            frontier.join(adj, frontier["_cur"] == adj["u"])
            .select(
                "walk_id",
                F.element_at("_nbrs", pick + 1).alias("_cur"),
            )
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            frontier.select(
                "walk_id",
                F.lit(t).alias("step"),
                F.col("_cur").alias("node"),
            )
        )
    return out


def skipgram_pairs(
    walks: DataFrame, window: int = 2,
) -> DataFrame:
    """Skip-gram training pairs from a random-walk corpus
    (word2vec-over-walks, the DeepWalk §4 objective): for every walk
    position, each neighbor within ``window`` steps becomes one
    (center, context) example → (center, context, n_pairs) aggregated
    over the whole corpus.

    ONE self-equi-join on walk_id banded by |step difference| ≤ window
    (walks are short, so the per-walk fanout is ≤ 2·window·L rows) +
    one count aggregation — the pair corpus never materializes
    per-walk lists.
    """
    a = walks.select(
        "walk_id", F.col("step").alias("_sa"), F.col("node").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("_sb"), F.col("node").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("_sa") != F.col("_sb"))
            & (F.abs(F.col("_sa") - F.col("_sb")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("n_pairs"))
    )


def node2vec_walks(
    edges: DataFrame,
    walks_per_node: int = 2,
    walk_len: int = 6,
    p: float = 4.0,
    q: float = 2.0,
    seed: str = "n2v",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """node2vec SECOND-ORDER biased walks (Grover & Leskovec KDD'16),
    deterministic → (walk_id, step, node).

    Step 1 is uniform (md5 mod degree, same rule as ``random_walks``);
    from step 2 each neighbor x of the current node weights
    1/p (x == previous node: return), 1 (x neighbors the previous
    node: BFS-ish), 1/q (otherwise: DFS-ish), and the pick is the
    first sorted neighbor whose cumulative weight exceeds
    u·total, u = md5(seed:walk_id:t)/2³².

    Bit-exact determinism: with DYADIC p and q (1/p, 1/q exactly
    representable: 2, 4, 0.5, ...) every weight, cumulative sum,
    total, and threshold is an exact binary rational, so the
    cumulative comparison can never ulp-flip between engines — the
    DuckDB oracle reproduces every pick with a window cumsum in the
    same neighbor order.

    Scale shape: per step ONE equi-join on the current node, then a
    narrow struct-accumulator fold over the neighbor array — the
    PREVIOUS node's neighbor list is the array already joined at the
    previous step, carried forward in the frontier instead of
    re-joined. Constant plan depth via per-step checkpoints; walks
    never visit the driver. The neighbor-of-previous test is an
    array_contains against the carried SORTED list (hub rows are fat
    arrays, not skewed join keys).
    """
    inv_p, inv_q = 1.0 / float(p), 1.0 / float(q)
    sym = symmetrize(edges, src, dst, None)
    adj = (
        sym.select("u", "v")
        .distinct()
        .groupBy("u")
        .agg(F.sort_array(F.collect_list("v")).alias("_nbrs"))
        .localCheckpoint(eager=False)
    )
    frontier = adj.select(
        F.col("u").alias("_start"),
        F.explode(
            F.sequence(F.lit(0), F.lit(int(walks_per_node) - 1))
        ).alias("_widx"),
    ).select(
        F.concat_ws(":", "_start", "_widx").alias("walk_id"),
        F.col("_start").alias("_cur"),
        F.lit(None).cast("string").alias("_prev"),
    )
    out = frontier.select(
        "walk_id", F.lit(0).alias("step"), F.col("_cur").alias("node")
    )
    two32 = 4294967296.0
    for t in range(1, int(walk_len)):
        h32 = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.lit(seed), "walk_id", F.lit(str(t)))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        if t == 1:
            nxt = F.element_at(
                "_nbrs", F.pmod(h32, F.size("_nbrs")).cast("int") + 1
            )
            frontier = (
                frontier.join(adj, frontier["_cur"] == adj["u"])
                .select(
                    "walk_id",
                    nxt.alias("_cur"),
                    frontier["_cur"].alias("_prev"),
                    # the start node's neighbor list IS the previous-
                    # node adjacency the next step needs — carry it
                    F.col("_nbrs").alias("_pnbrs"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            weights = F.transform(
                "_nbrs",
                lambda x: F.when(x == F.col("_prev"), F.lit(inv_p))
                .when(F.array_contains("_pnbrs", x), F.lit(1.0))
                .otherwise(F.lit(inv_q)),
            )
            joined = frontier.join(
                adj, frontier["_cur"] == adj["u"]
            ).withColumn("_w", weights)
            total = F.aggregate(
                "_w", F.lit(0.0).cast("double"), lambda a, x: a + x
            )
            tgt = (h32.cast("double") / F.lit(two32)) * total
            acc0 = F.struct(
                F.lit(0.0).cast("double").alias("cum"),
                F.lit(-1).alias("idx"),
                F.lit(0).alias("pos"),
            )
            pick = F.aggregate(
                "_w",
                acc0,
                lambda a, w: F.struct(
                    (a["cum"] + w).alias("cum"),
                    F.when(a["idx"] >= 0, a["idx"])
                    .when(a["cum"] + w > tgt, a["pos"])
                    .otherwise(F.lit(-1))
                    .alias("idx"),
                    (a["pos"] + 1).alias("pos"),
                ),
            )["idx"]
            frontier = joined.select(
                "walk_id",
                F.element_at("_nbrs", pick + 1).alias("_cur"),
                joined["_cur"].alias("_prev"),
                F.col("_nbrs").alias("_pnbrs"),
            ).localCheckpoint(eager=False)
        out = out.unionByName(
            frontier.select(
                "walk_id",
                F.lit(t).alias("step"),
                F.col("_cur").alias("node"),
            )
        )
    return out


def neighbor_aggregate(
    features: DataFrame,
    edges: DataFrame,
    feature_cols: list[str],
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One round of GraphSAGE-style neighborhood message passing →
    (node, <f>, <f>_nbr_mean, <f>_nbr_max, n_nbrs) for every feature
    column: each node's own features next to the mean/max over its
    neighbors' features — the aggregation layer GNN pipelines run over
    the KG before any learned transform, and a useful structural
    feature table on its own (a node whose neighbors' degrees dwarf
    its own is a satellite; the reverse is a hub).

    Shape: symmetrize the edge list (narrow explode), ONE equi-join of
    edges onto the feature table by neighbor id, ONE map-side-combined
    aggregation per node, then a join back onto the node's own
    features. Means divide exact sums only when features are integral;
    float features inherit the usual caveat. Nodes with no edges keep
    their row with NULL neighbor stats (left join), n_nbrs = 0.
    """
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("n"), F.col(dst).alias("nb")),
                F.struct(F.col(dst).alias("n"), F.col(src).alias("nb")),
            )
        ).alias("e")
    ).select("e.n", "e.nb").distinct()
    nbr_feats = sym.join(
        features.select(
            F.col(node_col).alias("nb"),
            *[F.col(c).alias(f"_f_{c}") for c in feature_cols],
        ),
        "nb",
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_nbrs")]
    for c in feature_cols:
        aggs += [
            (
                F.sum(f"_f_{c}").cast("double") / F.count(f"_f_{c}")
            ).alias(f"{c}_nbr_mean"),
            F.max(f"_f_{c}").alias(f"{c}_nbr_max"),
        ]
    nbr = nbr_feats.groupBy(F.col("n").alias(node_col)).agg(*aggs)
    out = features.join(nbr, node_col, "left")
    return out.withColumn(
        "n_nbrs", F.coalesce("n_nbrs", F.lit(0)).cast("long")
    )


def katz_centrality(
    edges: DataFrame, iters: int = 8, beta: float = 1.0,
    alpha_scale: float = 0.5, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration Katz centrality on the undirected (unweighted)
    character network → (node, katz).

    x_{t+1}(v) = beta + alpha * Σ_{(u,v)} x_t(u), x_0 = beta — the
    path-count centrality (Katz 1953): every walk INTO v counts,
    damped by alpha^length. Distinct from PageRank (no out-degree
    normalization — a hub's endorsement is not diluted) and from
    HITS/eigenvector (the additive beta keeps isolated-ish nodes at a
    floor instead of 0). alpha is set DATA-ADAPTIVELY to
    ``alpha_scale / d_max`` (d_max = max degree): the spectral radius
    of an adjacency matrix is <= d_max, so alpha*lambda_max <=
    alpha_scale < 1 guarantees the Katz series converges and keeps
    every score in [beta, beta/(1-alpha_scale)] — O(1) magnitudes,
    stable to compare across engines. d_max is ONE scalar aggregate
    pulled to the driver (like the HITS normalizer), so alpha is a
    literal in the per-round plan, not a lazy cross join.

    ``pagerank``'s kernel (``_propagate``) with p = 1, restart beta
    and scale alpha, over the checkpointed symmetric edge list.
    """
    e = (
        symmetrize(edges, src, dst, weight=None).select("u", "v")
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("u").alias("node")).distinct()
    row = e.groupBy("u").agg(F.count(F.lit(1)).alias("d")).agg(
        F.max("d")
    ).first()
    if row[0] is None:
        return nodes.withColumn("katz", F.lit(0.0))
    alpha = alpha_scale / float(row[0])
    x = _propagate(e, nodes.withColumn("x", F.lit(float(beta))),
                   float(beta), alpha, iters=iters)
    return x.select("node", F.col("x").alias("katz"))


def k_truss(
    edges: DataFrame, k: int, rounds: int = 6,
    src: str = "src", dst: str = "dst",
) -> DataFrame:
    """k-truss decomposition step (fixed peeling rounds): the maximal
    subgraph in which every edge is supported by >= k-2 triangles →
    surviving (src, dst, support).

    Community-core extraction one level finer than k-core: a k-core
    keeps well-connected NODES, a k-truss keeps well-embedded EDGES
    (an edge between two hubs that share no neighbors dies). Per
    round: per-edge triangle support = common-neighbor count via TWO
    equi-joins of the canonical edge list against the symmetric
    adjacency (join on the shared endpoint, equality on the third),
    then filter support >= k-2 — each round is two shuffles keyed by
    node id, linear in Σ d(u)+d(v) over edges. ``rounds`` is FIXED so
    the plan (and the unrolled SQL oracle) is deterministic;
    convergence within the budget is pytest-asserted against networkx
    (k_truss of a bench-scale graph settles in <= 4 peels; a
    pathological chain needs O(|E|) — callers peel further by feeding
    the output back in).

    Input edges must be canonical simple edges (src < dst, one row per
    unordered pair), as the repo's edge tables emit.
    """
    if k < 2:
        raise ValueError("k_truss needs k >= 2")
    cur = edges.select(src, dst)
    for i in range(rounds):
        adj = symmetrize(cur, src, dst, weight=None).select("u", "v")
        # support(e) = |N(src) ∩ N(dst)|: a.u = e.src walks to a.v,
        # b.u = e.dst walks to b.v, third corner a.v == b.v
        supp = (
            cur.join(adj.select(F.col("u").alias(src), F.col("v").alias("w")),
                     src)
            .join(adj.select(F.col("u").alias(dst), F.col("v").alias("w")),
                  [dst, "w"])
            .groupBy(src, dst)
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
        )
        cur = (
            cur.join(supp, [src, dst], "left")
            .select(
                src, dst,
                F.coalesce("support", F.lit(0).cast("long")).alias("support"),
            )
            .filter(F.col("support") >= k - 2)
            .localCheckpoint(eager=True)
        )
        if i + 1 < rounds:
            cur = cur.select(src, dst)
    return cur


def quotient_graph(
    edges: DataFrame, labels: DataFrame,
    node_col: str = "node", label_col: str = "label",
    src: str = "src", dst: str = "dst", weight: str | None = "weight",
) -> DataFrame:
    """Contract a labeled graph to its quotient (supernode) graph →
    (c1, c2, weight, n_edges) with c1 <= c2: one row per unordered
    community pair, summed edge weight and edge count; c1 == c2 rows
    are the intra-community mass.

    The coarsening step of multilevel graph pipelines (Louvain-style
    refinement, KG summarization, community-level adjacency for
    downstream viz): after ``label_propagation`` assigns communities,
    the quotient is what a 10^12-edge graph gets REPLACED by for the
    next level. Shape: two broadcast-or-shuffle equi-joins (label onto
    each endpoint) + one map-side-combined aggregation — no iteration,
    no UDFs. Edges whose endpoint has no label row are dropped
    (inner joins): labels come from a total assignment upstream.
    """
    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    lab = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_c")
    )
    both = edges.select(F.col(src), F.col(dst), w.alias("_w")).join(
        lab.withColumnRenamed("_n", src).withColumnRenamed("_c", "_c1"), src
    ).join(
        lab.withColumnRenamed("_n", dst).withColumnRenamed("_c", "_c2"), dst
    )
    return (
        both.select(
            F.least("_c1", "_c2").alias("c1"),
            F.greatest("_c1", "_c2").alias("c2"),
            "_w",
        )
        .groupBy("c1", "c2")
        .agg(
            F.sum("_w").alias("weight"),
            F.count(F.lit(1)).cast("long").alias("n_edges"),
        )
    )


def transitive_closure(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """Reachability closure of a DIRECTED graph → (src, dst) for every
    src ->* dst path of length >= 1: ``grouped_transitive_closure``
    with no group key.

    The ontology-reasoning primitive (rdfs:subClassOf*, partOf*,
    SPARQL property paths) and the substrate for SCC detection. The
    closure of a dense graph is O(V^2) rows — this operator is for
    BOUNDED relation/ontology subgraphs (type hierarchies, typed-edge
    slices of the KG), not the raw co-occurrence network; callers
    slice first.
    """
    return grouped_transitive_closure(edges, None, src, dst, max_rounds)


def strongly_connected(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph →
    (node, scc_id): scc_id = min node id of the mutually-reachable
    set (singleton components get their own id).

    Built on the doubling ``transitive_closure``: v and w share a
    component iff v ->* w AND w ->* v, so scc_id(v) = min(v, min{w :
    closure has both (v,w) and (w,v)}) — one self-join of the closure
    against its transpose + one min aggregation + a left join to keep
    isolated/acyclic nodes as singletons. Same boundedness caveat as
    the closure: run on typed relation subgraphs, not the full
    co-occurrence network.
    """
    cl = transitive_closure(
        edges, src=src, dst=dst, max_rounds=max_rounds
    ).localCheckpoint(eager=True)
    mutual = cl.join(
        cl.select(F.col(src).alias("_b"), F.col(dst).alias("_a")),
        (F.col(src) == F.col("_a")) & (F.col(dst) == F.col("_b")),
    ).select(F.col(src).alias("node"), F.col(dst).alias("peer"))
    comp = mutual.groupBy("node").agg(F.min("peer").alias("_m"))
    # node universe from the materialized closure, not from ``edges``:
    # every input edge is a length-1 path, so the closure's endpoint
    # set IS the edge endpoint set — and reading it off the checkpoint
    # avoids re-executing the caller's whole upstream plan (for the
    # relation-graph queries that upstream is the full extraction
    # chain)
    nodes = (
        cl.select(F.col(src).alias("node"))
        .unionByName(cl.select(F.col(dst).alias("node")))
        .distinct()
    )
    return nodes.join(comp, "node", "left").select(
        "node", F.least("node", F.coalesce("_m", "node")).alias("scc_id")
    )


def spanning_forest(
    edges: DataFrame, mode: str = "min",
    src: str = "src", dst: str = "dst", weight: str = "weight",
    max_rounds: int = 16,
) -> DataFrame:
    """Borůvka minimum (or maximum) spanning forest of the undirected
    weighted graph → the forest's (src, dst, weight) edges
    (src < dst): per component exactly |C|−1 edges; for ``mode="max"``
    the strongest-tie BACKBONE of a co-occurrence network (the classic
    network-sparsification baseline).

    Borůvka is THE distributed MST algorithm (log₂ V rounds, each
    fully data-parallel — vs Kruskal/Prim's inherently sequential
    driver loops): per round every component picks its lightest
    (heaviest) outgoing edge — ONE join of the component labels onto
    the checkpointed edge list + ONE min-of-struct aggregation per
    endpoint side — then the picked edges' component-graph collapses
    via ``connected_components`` (hash-to-min, finished by
    large-star/small-star rounds when a round's picks chain further
    than its budget; a COMPONENT-count-sized graph, halved every
    round, tiny next to the edge list). Ties break deterministically
    by (weight, src, dst), so the picked forest is unique and
    engine-reproducible even when weights repeat (any MST's total
    weight is unique regardless).

    The early-exit test is one isEmpty on the cross-component edge
    slice; components halve per round, so max_rounds=16 covers 65k+
    components per tree.
    """
    if mode not in ("min", "max"):
        raise ValueError(f"mode must be 'min' or 'max', got {mode!r}")
    sgn = 1 if mode == "min" else -1
    # parallel edges: keep the one the mode prefers
    e = _canonical(
        edges, src, dst, F.col(weight).cast("long"),
        lambda w: F.min(w * sgn) * sgn,
    ).localCheckpoint(eager=True)
    comp = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("c", F.col("node"))
        .localCheckpoint(eager=True)
    )
    chosen = None
    for _ in range(max_rounds):
        # all per-round truncations below are LAZY: the cross-component
        # isEmpty probe (and the nested CC's own probe) are the jobs
        # that materialize them — probe folding, see cc.py
        el = (
            e.join(
                comp.select(F.col("node").alias("a"), F.col("c").alias("ca")),
                "a",
            )
            .join(
                comp.select(F.col("node").alias("b"), F.col("c").alias("cb")),
                "b",
            )
            .filter(F.col("ca") != F.col("cb"))
            .localCheckpoint(eager=False)
        )
        if el.isEmpty():
            break
        cand = F.struct(
            (F.col("w") * sgn).alias("k"), F.col("a"), F.col("b"),
            F.col("ca"), F.col("cb"),
        )
        picks = (
            el.select(F.col("ca").alias("cc"), cand.alias("cd"))
            .unionByName(el.select(F.col("cb").alias("cc"), cand.alias("cd")))
            .groupBy("cc")
            .agg(F.min("cd").alias("cd"))
            .select("cd.a", "cd.b", (F.col("cd.k") * sgn).alias("w"),
                    "cd.ca", "cd.cb")
            .localCheckpoint(eager=False)
        )
        new_edges = picks.select("a", "b", "w").distinct()
        chosen = (
            new_edges if chosen is None
            else chosen.unionByName(new_edges).distinct()
        ).localCheckpoint(eager=False)
        # collapse the component graph (component-count-sized)
        from renard_spark.operators.cc import connected_components

        relab = connected_components(
            picks.select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
        ).select(F.col("vertex").alias("c"), F.col("component").alias("c2"))
        comp = (
            comp.join(relab, "c", "left")
            .select("node", F.coalesce("c2", F.col("c")).alias("c"))
            .localCheckpoint(eager=False)
        )
    if chosen is None:
        return e.select(
            F.col("a").alias(src), F.col("b").alias(dst),
            F.col("w").alias(weight),
        ).limit(0)
    return chosen.select(
        F.col("a").alias(src), F.col("b").alias(dst),
        F.col("w").alias(weight),
    )


def wl_refinement(
    edges: DataFrame, iters: int = 3,
    src: str = "src", dst: str = "dst",
    scope_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Weisfeiler-Lehman color refinement (1-WL) → (*scope_cols, node,
    wl_color): color₀ = md5(degree); colorₜ₊₁ = md5(colorₜ ‖ '|' ‖ the
    sorted, comma-joined multiset of neighbor colors). After t rounds
    two nodes share a color iff their depth-t unfolded neighborhood
    trees are identical — THE structural-role signature (graph-kernel
    / GNN expressiveness baseline) and a blocking key for
    structure-aware entity resolution across KG snapshots.

    ``scope_cols`` runs the refinement independently per scope (e.g.
    per doc_id for per-document character networks) in the SAME
    bulk-synchronous passes — scope is just extra key columns, so one
    job refines 10^9 small graphs without a driver loop.

    Per round: ONE equi-join of the color table onto the checkpointed
    symmetric edge list + ONE sort_array(collect_list) aggregation per
    node (the multiset sort is per-group, bounded by degree — hub skew
    is AQE's case) + an md5 over the joined string. Colors are hex
    STRINGS, so every step is engine-reproducible (no float, no hash
    seed); collect_list order never leaks — the array is sorted before
    joining.
    """
    sc = list(scope_cols)
    both = F.array(
        F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
        F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
    )
    sym = (
        edges.select(*sc, F.explode(both).alias("e"))
        .select(*sc, "e.u", "e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    col = (
        sym.groupBy(*sc, F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .select(*sc, "node", F.md5(F.col("d").cast("string")).alias("c"))
    )
    keys = sc + ["node"]
    for i in range(iters):
        nb = (
            sym.join(
                col.withColumnRenamed("node", "v"), sc + ["v"]
            )
            .groupBy(*sc, F.col("u").alias("node"))
            .agg(
                F.concat_ws(
                    ",", F.sort_array(F.collect_list("c"))
                ).alias("ns")
            )
        )
        col = col.join(nb, keys).select(
            *sc, "node",
            F.md5(F.concat(F.col("c"), F.lit("|"), F.col("ns"))).alias("c"),
        )
        if (i + 1) % 2 == 0 and i + 1 < iters:
            col = col.localCheckpoint(eager=True)
    return col.select(*sc, "node", F.col("c").alias("wl_color"))


def wl_graph_hash(
    edges: DataFrame, iters: int = 3,
    src: str = "src", dst: str = "dst",
    scope_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """WL graph hash per scope → (*scope_cols, wl_hash, n_nodes):
    md5 of the sorted multiset of final WL colors — equal hashes ⇔
    1-WL-indistinguishable graphs (the Weisfeiler-Lehman graph-kernel
    signature). Grouping the corpus by wl_hash finds documents whose
    character networks are STRUCTURALLY identical (narrative-shape
    dedup), independent of character names.

    One extra aggregation on top of ``wl_refinement``: sort + join the
    per-scope color multiset, md5 once.
    """
    cols = wl_refinement(edges, iters, src, dst, scope_cols)
    sc = list(scope_cols)
    return cols.groupBy(*sc).agg(
        F.md5(
            F.concat_ws(",", F.sort_array(F.collect_list("wl_color")))
        ).alias("wl_hash"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )


def forman_curvature(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Augmented Forman-Ricci curvature per edge of the undirected
    simple graph → (src, dst, deg_src, deg_dst, support, curvature)
    with curvature = 4 − deg(u) − deg(v) + 3·T(e) (T(e) = triangles
    through the edge). The discrete-geometry community-boundary
    signal: deeply negative on hub-to-hub bridges, positive inside
    dense clusters — the standard cheap edge classifier for KG
    backbone-vs-bridge analysis (Forman 2003 / augmented form in
    Samal et al. 2018).

    Shape: per-edge triangle support via the k_truss two-equi-join
    common-neighbor count + one degree join per endpoint — all
    integer arithmetic, no iteration, no UDFs.
    """
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    adj = symmetrize(
        e, "a", "b", weight=None
    ).select("u", "v")
    supp = (
        e.join(adj.select(F.col("u").alias("a"), F.col("v").alias("w")), "a")
        .join(adj.select(F.col("u").alias("b"), F.col("v").alias("w")),
              ["b", "w"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    deg = adj.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    out = (
        e.join(supp, ["a", "b"], "left")
        .join(deg.select(F.col("n").alias("a"), F.col("d").alias("deg_src")),
              "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("deg_dst")),
              "b")
        .select(
            F.col("a").alias(src), F.col("b").alias(dst),
            "deg_src", "deg_dst",
            F.coalesce("support", F.lit(0).cast("long")).alias("support"),
        )
    )
    return out.withColumn(
        "curvature",
        (F.lit(4) - F.col("deg_src") - F.col("deg_dst")
         + 3 * F.col("support")).cast("long"),
    )


def rich_club(
    edges: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """Rich-club coefficients → (k, n_nodes, n_edges, phi) for every
    degree value k present in the graph: among the nodes with degree
    > k, phi(k) = 2·E_k / (N_k·(N_k−1)) — do the hubs preferentially
    interconnect? (Colizza et al. 2006; the uncorrected coefficient.)

    One pass, NO per-k scans: an edge survives threshold k iff
    min(deg u, deg v) > k, so E_k is a SUFFIX SUM over the per-edge
    min-degree histogram, and N_k a suffix sum over the degree
    histogram — two tiny (≤ distinct-degree-count rows) aggregates
    plus running windows over them. Rows with N_k < 2 report phi NULL.
    """
    e = _canonical(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    # degree histogram + per-edge min-degree histogram (both bounded
    # by the distinct degree count — tiny; the suffix windows run on
    # these aggregates, never on the node/edge tables)
    dh = deg.groupBy(F.col("d").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("nd")
    )
    em = (
        e.join(deg.select(F.col("n").alias("a"), F.col("d").alias("da")),
               "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("db")),
              "b")
        .select(F.least("da", "db").alias("m"))
        .groupBy(F.col("m").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("ne"))
    )
    ks = dh.select("k").unionByName(em.select("k")).distinct()
    hist = (
        ks.join(dh, "k", "left")
        .join(em, "k", "left")
        .select(
            "k",
            F.coalesce("nd", F.lit(0).cast("long")).alias("nd"),
            F.coalesce("ne", F.lit(0).cast("long")).alias("ne"),
        )
    )
    w = Window.orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # N_k / E_k = nodes/edges with degree (min-degree) STRICTLY > k:
    # suffix sums excluding the current row, descending-k window.
    # The window runs over the distinct-degree histogram (bounded —
    # the single-partition funnel the plan audit flags for DATA-sized
    # windows does not apply at histogram size).
    out = hist.select(
        "k",
        F.coalesce(F.sum("nd").over(w), F.lit(0)).cast("long")
        .alias("n_nodes"),
        F.coalesce(F.sum("ne").over(w), F.lit(0)).cast("long")
        .alias("n_edges"),
    )
    return out.withColumn(
        "phi",
        F.when(
            F.col("n_nodes") >= 2,
            2.0 * F.col("n_edges")
            / (F.col("n_nodes") * (F.col("n_nodes") - 1)),
        ),
    )


def maximal_independent_set(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 24,
    seed: str = "mis",
) -> DataFrame:
    """Maximal independent set by Luby's algorithm (Luby, SIAM J.
    Comput. 1986 — THE parallel MIS algorithm) → (node, in_mis):
    no two in_mis=1 nodes are adjacent (independence) and every
    in_mis=0 node has an in_mis=1 neighbor (maximality). MIS is the
    scheduling primitive for conflict-free parallel KG updates: nodes
    in the set can be merged/mutated simultaneously.

    Per round every still-undecided node draws a DETERMINISTIC
    priority md5(seed:round:node)||node (the appended node id makes
    the order total, so ties cannot produce two adjacent winners and
    the result is partition-layout-independent — unlike textbook
    random draws); a node wins if its priority is strictly smaller
    than every undecided neighbor's. Winners enter the set; winners'
    neighbors are eliminated. Expected O(log n) rounds; each round is
    two broadcast-free equi-joins + one map-side-combined min on the
    SHRINKING undecided subgraph, lineage truncated per round.
    Raises if max_rounds is hit with nodes still undecided (never
    silently returns a partial set).

    Works on the simple graph, like ``greedy_coloring``: self-loops
    drop out, so a node whose only edges are self-loops gets no row.
    """
    sym = _symmetric(edges, src, dst)
    nodes = und = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    mis_parts: list[DataFrame] = []
    for r in range(max_rounds):
        n_und = und.count()
        if n_und == 0:
            break
        pri = und.select(
            "node",
            F.concat(
                F.md5(F.concat_ws(":", F.lit(seed), F.lit(r), F.col("node"))),
                F.col("node"),
            ).alias("_p"),
        )
        pu = pri.select(F.col("node").alias("u"), F.col("_p").alias("_pu"))
        pv = pri.select(F.col("node").alias("v"), F.col("_p").alias("_pv"))
        # edges of the undecided subgraph, with both priorities bound
        e = sym.join(pu, "u").join(pv, "v")
        nbr_min = e.groupBy("u").agg(F.min("_pv").alias("_m"))
        # winners / und / sym all feed multiple consumers, so each
        # round truncates them — LAZILY: the next round's undecided
        # count is the single job that materializes all three (the old
        # eager=True spent three dedicated RDD jobs per round on top
        # of the probe)
        winners = (
            pri.join(nbr_min, pri["node"] == nbr_min["u"], "left")
            .filter(F.col("_m").isNull() | (F.col("_p") < F.col("_m")))
            .select("node")
            .localCheckpoint(eager=False)
        )
        mis_parts.append(winners)
        # eliminate winners and their neighbors from the undecided set
        wv = winners.select(F.col("node").alias("v"))
        nbrs = sym.join(wv, "v").select(F.col("u").alias("node")).distinct()
        gone = winners.unionByName(nbrs)
        und = und.join(gone, "node", "left_anti").localCheckpoint(eager=False)
        sym = (
            sym.join(gone.select(F.col("node").alias("u")), "u", "left_anti")
            .join(gone.select(F.col("node").alias("v")), "v", "left_anti")
            .localCheckpoint(eager=False)
        )
    else:
        if und.count() > 0:
            raise RuntimeError(
                f"Luby MIS did not converge in {max_rounds} rounds"
            )
    mis = mis_parts[0] if mis_parts else nodes.limit(0)
    for p in mis_parts[1:]:
        mis = mis.unionByName(p)
    mis = mis.withColumn("in_mis", F.lit(1))
    return nodes.join(mis, "node", "left").select(
        "node", F.coalesce("in_mis", F.lit(0)).cast("int").alias("in_mis")
    )


def bfs_paths(
    edges: DataFrame,
    source: str,
    src: str = "src",
    dst: str = "dst",
    iters: int = 8,
) -> DataFrame:
    """Shortest-path RECONSTRUCTION from ``source`` — not just the
    distance but the actual node sequence → (node, distance, path):
    the KG-explanation primitive ("HOW are these two entities
    connected?"), where bfs_distances only answers "how far".

    The BFS state per node is min(struct(distance, path)): among all
    shortest paths the LEXICOGRAPHICALLY smallest node sequence wins,
    which (a) makes the result unique and engine-independent with no
    RNG, and (b) keeps the relaxation monotone — append preserves
    lexicographic order on equal-length arrays, so the fixpoint is the
    global lex-min shortest path and rounds past the source's
    eccentricity are no-ops (a fixed unroll mirrors it exactly in
    SQL). Per round: ONE equi-join of the state vector onto the
    symmetric edge list + one min-of-struct aggregation.

    The path array rides the shuffle, so state bytes are O(diameter)
    per node — the right tool for the small-diameter unified entity
    graphs this engine materializes, not for reconstructing 10^6-hop
    chains (use bfs_distances + on-demand backtracking there).
    """
    sym = _symmetric(edges, src, dst)
    seed = local_table(
        edges.sparkSession, [(source, (0, [source]))],
        "node string, d struct<distance: int, path: array<string>>",
    )
    step = F.struct(
        (F.col("d.distance") + 1).alias("distance"),
        F.concat(F.col("d.path"), F.array(F.col("u"))).alias("path"),
    )
    state = _relax(sym, seed, step, iters=iters)
    return state.select(
        "node", F.col("d.distance").cast("long").alias("distance"),
        F.col("d.path").alias("path"),
    )


def neighborhood_function(
    edges: DataFrame,
    hops: int = 3,
    p: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Approximate neighborhood function per node via propagated
    HyperLogLog sketches (ANF: Palmer/Gibbons/Faloutsos KDD'02;
    register propagation per HyperANF: Boldi/Rosa/Vigna WWW'11 —
    public algorithms) → (node, hop, nf_est): the estimated number of
    nodes within distance <= hop, for hop 0..``hops``.

    THE web-scale graph-size primitive: effective diameter, ball
    growth, and spid come straight off this table, and exact
    all-pairs BFS is O(V·E) — unrunnable at 10^12 edges, while this is
    ``hops`` rounds of (join + groupBy-max) over a V·2^p register
    table.

    Registers are the engine's deterministic HLL design
    (functions/sketch.py): bucket = md5 mod m, rho = exact integer
    bit-length leading-zero count — no float log, no seeds — so the
    register table is bit-identical across engines AND across
    parallelism levels. The max-merge is associative, so the
    registers of node v at hop h equal the registers computed directly
    over v's h-ball; the DuckDB oracle exploits exactly that (BFS
    closure → direct registers) and thereby checks the propagation
    algebra itself, not just the arithmetic. Estimate = the same
    alpha·m²/Σ2^-rho + linear-counting small-range branch as
    sketch.hll_estimate, rounded to 6 dp.

    State is V·m register rows (m = 2^p; HyperANF runs p in 4..12 —
    default 16 registers/node); each hop is ONE equi-join of the
    register table onto the symmetric edge list + ONE map-side-
    combined max, lineage-truncated. Per-hop estimates reuse the
    lazily-checkpointed register table, so the sketch pass executes
    once per hop, not once per consumer.
    """
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    sym = _symmetric(edges, src, dst)
    nodes = sym.select(F.col("u").alias("node")).distinct()
    v32 = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("anfv:"), F.col("node"))), 1, 8
            ),
            16, 10,
        ).cast("long")
    )
    rho = F.when(v32 == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.conv(v32, 10, 2))
    )
    regs = nodes.select(
        "node",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("anfb:"), F.col("node"))), 1, 8
                ),
                16, 10,
            ).cast("long") % m
        ).alias("bucket"),
        rho.alias("rho"),
    ).localCheckpoint(eager=False)

    def estimate(r: DataFrame, hop: int) -> DataFrame:
        agg = r.groupBy("node").agg(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
            F.count("*").alias("nb"),
        )
        s_full = F.col("s") + (F.lit(m) - F.col("nb"))
        raw = F.lit(alpha * m * m) / s_full
        zeros = F.lit(m) - F.col("nb")
        est = F.when(
            (raw <= 2.5 * m) & (zeros > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
        ).otherwise(raw)
        return agg.select(
            "node",
            F.lit(hop).cast("long").alias("hop"),
            F.round(est, 6).alias("nf_est"),
        )

    out = estimate(regs, 0)
    for h in range(1, hops + 1):
        nbr = sym.join(regs, sym["v"] == regs["node"]).select(
            sym["u"].alias("node"), "bucket", "rho"
        )
        regs = (
            regs.unionByName(nbr)
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(estimate(regs, h))
    return out


def greedy_coloring(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 24,
    seed: str = "jp",
) -> DataFrame:
    """Distributed greedy graph coloring (Jones & Plassmann, SIAM J.
    Sci. Comput. 1993 — public algorithm) → (node, color) with no two
    adjacent nodes sharing a color. Coloring is the conflict-free
    SCHEDULING primitive one level up from MIS: color classes are
    batches of KG entities that can be merged/updated concurrently,
    and the number of rounds a color-class schedule needs equals the
    number of colors, not the number of nodes.

    Priorities are deterministic md5(seed:node)||node strings (total
    order, partition-layout-independent — same design as
    maximal_independent_set, but FIXED across rounds per Jones-
    Plassmann). A node colors itself in the round where its priority
    exceeds every still-uncolored neighbor's, taking the SMALLEST
    color absent from its already-colored neighborhood — computed as
    a narrow array expression over the collected neighbor-color set
    (at most degree+1 candidates). Per round: ONE equi-join of the
    color table onto the symmetric adjacency + ONE aggregation;
    uncolored-neighbor priorities come from the same join (a
    neighbor's priority is a hash of its id — no second join).
    Expected O(log n / log log n) rounds on bounded-degree graphs;
    raises if ``max_rounds`` is hit with nodes still uncolored.
    Rounds past convergence are no-ops (the uncolored set is empty),
    so a fixed-round oracle unroll lands on the identical table.

    Works on the simple graph, like ``maximal_independent_set``:
    self-loops drop out, so a node whose only edges are self-loops
    gets no row.
    """
    sym = _symmetric(edges, src, dst)
    nodes = sym.select(F.col("u").alias("node")).distinct() \
        .localCheckpoint(eager=True)

    def pri(col: str):
        return F.concat(
            F.md5(F.concat_ws(":", F.lit(seed), F.col(col))), F.col(col)
        )

    colors = nodes.filter(F.lit(False)).select(
        "node", F.lit(0).alias("color")
    ).localCheckpoint(eager=True)
    un = nodes
    for _ in range(max_rounds):
        if un.count() == 0:
            break
        # adjacency of uncolored nodes, with neighbor color when the
        # neighbor is already colored (NULL ⇒ neighbor still competes)
        e = (
            un.join(sym, un["node"] == sym["u"])
            .join(
                colors.select(
                    F.col("node").alias("v"), F.col("color").alias("_vc")
                ),
                "v",
                "left",
            )
            .select("node", "v", "_vc")
        )
        agg = e.groupBy("node").agg(
            F.max(F.when(F.col("_vc").isNull(), pri("v"))).alias("_mx"),
            F.sort_array(
                F.collect_set(F.col("_vc"))
            ).alias("_used"),
        )
        winners = (
            un.join(agg, "node", "left")
            .filter(F.col("_mx").isNull() | (pri("node") > F.col("_mx")))
            .select(
                "node",
                F.coalesce(
                    F.expr(
                        "filter(sequence(0, size(_used)),"
                        " k -> NOT array_contains(_used, k))[0]"
                    ),
                    F.lit(0),
                ).alias("color"),
            )
        )
        # lazy truncation: the next round's uncolored-count probe is
        # the job that materializes both frames (probe folding — the
        # old eager=True paid two dedicated RDD jobs per round)
        colors = colors.unionByName(winners).localCheckpoint(eager=False)
        un = un.join(colors, "node", "left_anti").localCheckpoint(eager=False)
    else:
        if un.count() > 0:
            raise RuntimeError(
                f"greedy_coloring did not converge in {max_rounds} rounds"
            )
    return colors.select("node", F.col("color").cast("long").alias("color"))


def conductance(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "weight",
    node: str = "node",
    label: str = "label",
) -> DataFrame:
    """Per-community conductance φ(C) = cut(C) / min(vol(C), vol(V)−
    vol(C)) over a weighted undirected graph → (community, n_nodes,
    cut_w, vol_w, conductance). THE community-quality metric for
    partition validation (Kannan/Vempala/Vetta JACM'04 — public):
    low-conductance communities are the safe units for per-community
    downstream jobs (local models, per-community materialization).

    One pass: both endpoints of the symmetric edge list take their
    community via two equi-joins, then vol(C) = Σ incident weight and
    cut(C) = Σ weight to the other side come from ONE map-side-
    combined aggregation. vol(V) is Σ_C vol(C) over the (community-
    count-sized, lazily-checkpointed) aggregate itself — a broadcast
    one-row join that cannot re-execute the corpus lineage. All sums
    are exact (integer weights stay integral until the final
    division, rounded to 6 dp).
    """
    lab = labels.select(
        F.col(node).alias("_n"), F.col(label).alias("_l")
    ).localCheckpoint(eager=False)
    sym = symmetrize(edges, src, dst, weight)
    lu = lab.select(F.col("_n").alias("u"), F.col("_l").alias("_lu"))
    lv = lab.select(F.col("_n").alias("v"), F.col("_l").alias("_lv"))
    e = sym.join(lu, "u").join(lv, "v")
    comm = (
        e.groupBy(F.col("_lu").alias("community"))
        .agg(
            F.sum("w").alias("vol_w"),
            F.sum(F.when(F.col("_lu") != F.col("_lv"), F.col("w"))
                  .otherwise(F.lit(0.0))).alias("cut_w"),
        )
        .localCheckpoint(eager=False)
    )
    sizes = lab.groupBy(F.col("_l").alias("community")).agg(
        F.count("*").alias("n_nodes")
    )
    total = comm.agg(F.sum("vol_w").alias("_tot"))
    return (
        comm.join(sizes, "community")
        .crossJoin(F.broadcast(total))
        .select(
            "community",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("cut_w"),
            F.col("vol_w"),
            F.round(
                F.when(
                    F.least("vol_w", F.col("_tot") - F.col("vol_w")) > 0,
                    F.col("cut_w")
                    / F.least("vol_w", F.col("_tot") - F.col("vol_w")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("conductance"),
        )
    )


def temporal_reachability(
    dyn_edges: DataFrame,
    sources: DataFrame,
    iters: int | None = None,
    max_rounds: int = 32,
    doc: str = "doc_id",
    window: str = "window_id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Earliest-arrival TEMPORAL reachability (Wu et al. VLDB'14
    earliest-arrival paths) over a dynamic edge table — the question a
    static graph cannot answer: *when* does B first become reachable
    from A through the unfolding narrative, moving only along edges
    whose window is >= the window you arrived in (waiting at a node is
    free, going back in time is not). A static-graph reachability over
    the union of windows overstates the truth: A-B in window 5 and B-C
    in window 2 does NOT make C reachable from A.

    ``dyn_edges``: (doc, window, src, dst) undirected snapshots —
    the dynamic character-network table. ``sources``: (doc, source)
    start nodes, any number per doc. → (doc, source, node, arrive)
    with arrive = the smallest window in which ``node`` is reachable
    (-1 for the source itself: reachable before all windows).

    Bulk-synchronous relaxation with the document id riding every key
    (the per-doc TextRank scope pattern): per round ONE equi-join of
    the state vector onto the symmetric edge list on (doc, node) with
    the time-respecting ``window >= arrive`` predicate post-join, and
    ONE min-aggregation — one shuffle per round for ALL documents and
    sources at once, no driver loop over docs. Arrivals are monotone
    non-increasing and rounds past convergence are no-ops, so
    ``iters`` gives the fixed unroll an SQL oracle mirrors exactly;
    ``iters=None`` runs to the fixpoint (count + sum stable)."""
    e = dyn_edges.select(
        F.col(doc).alias("d"),
        F.col(window).cast("long").alias("w"),
        F.col(src).alias("a"),
        F.col(dst).alias("b"),
    ).filter(F.col("a") != F.col("b"))
    both = F.array(
        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
        F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
    )
    # cache strategy by round-count mode: with FIXED iters the lineage
    # depth is bounded, so persist() is enough — it stops the
    # state-appears-twice-per-round recompute blowup while letting the
    # blocks flow out of the normal pipeline (no separate
    # checkpoint-materialization work; the same swap measured 2.7x on
    # textrank, PLANS.md round-5 A/B). The fixpoint mode keeps
    # localCheckpoint: rounds are unbounded there, and its per-round
    # count() is an eager materialization boundary anyway.
    fixed = iters is not None
    sym = (
        e.select("d", "w", F.explode(both).alias("p"))
        .select("d", "w", "p.u", "p.v")
        .distinct()
    )
    sym = sym.persist() if fixed else sym.localCheckpoint(eager=True)
    state = sources.select(
        F.col(doc).alias("d"),
        F.col(sources.columns[1]).alias("source"),
        F.col(sources.columns[1]).alias("node"),
        F.lit(-1).cast("long").alias("arrive"),
    )
    prev = None
    rounds = iters if iters is not None else max_rounds
    for _ in range(rounds):
        grown = state.unionByName(
            sym.join(
                state,
                (sym["d"] == state["d"]) & (sym["u"] == state["node"]),
            )
            .filter(F.col("w") >= F.col("arrive"))
            .select(
                sym["d"].alias("d"), "source",
                sym["v"].alias("node"), F.col("w").alias("arrive"),
            )
        )
        state = grown.groupBy("d", "source", "node").agg(
            F.min("arrive").alias("arrive")
        )
        state = (
            state.persist() if fixed
            else state.localCheckpoint(eager=False)
        )
        if iters is None:
            sig = (state.count(), state.agg(F.sum("arrive")).first()[0])
            if sig == prev:
                break
            prev = sig
    return state.select(
        F.col("d").alias(doc), "source", "node", "arrive"
    )


def grouped_transitive_closure(
    edges: DataFrame,
    group: str | None = "g",
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """Reachability closure of MANY directed graphs at once by
    iterative doubling → (group, src, dst) for every within-group
    src ->* dst path of length >= 1; ``group=None`` closes one graph
    → (src, dst).

    The group id (a document, a named graph, a tenant, a transitive
    predicate) rides every join key, so one fixpoint closes 10^9 small
    graphs simultaneously. Each round joins the current path set with
    itself on (group, midpoint), so round r covers paths of length
    <= 2^r in EVERY group and a diameter-D graph closes in ceil(log2 D)
    rounds — vs the one-edge-per-round semi-naive loop's D rounds. Per
    round: ONE self-equi-join + distinct, lineage truncated by
    localCheckpoint; terminates EARLY when a round adds no rows (one
    global driver-side count per round, not per group).

    A dense group's closure is O(V_g^2) rows. The intended inputs are
    bounded relation/ontology subgraphs and the per-document relation
    graphs, where V_g is small even when the number of groups is
    astronomical."""
    k = [] if group is None else ["g"]
    g = [] if group is None else [F.col(group).alias("g")]
    # per round the path set feeds a self-join (three references), so
    # it truncates — LAZILY, with the convergence count as the job
    # that materializes the round (the cc.py probe-folding pattern)
    paths = (
        edges.select(*g, F.col(src).alias("a"), F.col(dst).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = paths.count()
    for _ in range(max_rounds):
        hop = paths.select(*k, F.col("a").alias("m"), "b")
        ext = (
            paths.select(*k, "a", F.col("b").alias("m"))
            .join(hop, [*k, "m"])
            .select(*k, "a", "b")
        )
        nxt = paths.unionByName(ext).distinct().localCheckpoint(eager=False)
        n2 = nxt.count()
        paths = nxt
        if n2 == n:
            break
        n = n2
    out = [F.col("a").alias(src), F.col("b").alias(dst)]
    if group is not None:
        out.insert(0, F.col("g").alias(group))
    return paths.select(*out)


def louvain_moves(
    edges: DataFrame, iters: int = 2, src: str = "src",
    dst: str = "dst", weight: str | None = "weight",
) -> DataFrame:
    """Community detection by deterministic SYNCHRONOUS Louvain-style
    modularity moves → (node, community) — the modularity-gain upgrade
    of ``label_propagation`` (Blondel et al. '08 local-move phase, in
    the synchronous parallel form of Grappolo/distributed-Louvain
    implementations).

    Every node starts in its own community; each round EVERY node
    evaluates, for each community C held by a neighbor (plus its
    current one), the modularity gain of joining C and moves to the
    argmax. With integer edge weights the gain comparison is done in
    EXACT integer arithmetic: comparing ΔQ across candidates scales to

        score(u, C) = 2m·k_{u,C} − k_u·Σtot'_C

    (k_{u,C} = weight from u into C, Σtot'_C = total degree of C with
    u removed from its own community, 2m = total weight-degree sum) —
    no floats anywhere, so ranks are bit-identical on any engine and
    the DuckDB oracle unrolls the identical rounds. Ties break toward
    the smallest community id. Synchronous all-at-once moves would
    endlessly SWAP labels between symmetric singletons (a adopts b
    while b adopts a), so the standard distributed-Louvain guard
    (Grappolo's swap prevention, Lu et al. ParCo'15) applies: a node
    whose current community is a singleton only moves into another
    SINGLETON community when the target id is smaller — the merge
    still happens, in exactly one direction.

    Scale shape per round: one equi-join of the community vector onto
    the symmetric edge list + one (u, C) aggregation (map-side
    combinable), one community-degree aggregation (|communities|
    rows), one broadcast 1-row 2m scalar, and one per-node argmax
    window whose group size is bounded by the node's degree. Each round
    reads the state four times, so it is checkpointed every second
    round to keep the unrolled plan from multiplying.
    """
    sym = (
        symmetrize(edges, src, dst, weight)
        .select("u", "v", F.col("w").cast("long").alias("w"))
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("u").agg(F.sum("w").alias("k"))
    m2 = deg.agg(F.sum("k").alias("m2"))  # = 2m, one row
    state = deg.select(
        F.col("u").alias("node"), F.col("u").alias("comm"), "k"
    )
    argmax = Window.partitionBy("u").orderBy(
        F.col("score").desc(), F.col("c").asc()
    )
    for i in range(iters):
        tot = state.groupBy("comm").agg(
            F.sum("k").alias("tot"), F.count(F.lit(1)).alias("cnt")
        )
        kuc = (
            sym.join(
                state.select(
                    F.col("node").alias("v"), F.col("comm").alias("c")
                ),
                "v",
            )
            .groupBy("u", "c")
            .agg(F.sum("w").alias("kuc"))
        )
        cand = (
            kuc.unionByName(
                state.select(
                    F.col("node").alias("u"), F.col("comm").alias("c"),
                    F.lit(0).cast("long").alias("kuc"),
                )
            )
            .groupBy("u", "c")
            .agg(F.max("kuc").alias("kuc"))
        )
        scored = (
            cand.join(
                state.select(
                    F.col("node").alias("u"), F.col("comm").alias("cur"),
                    "k",
                ),
                "u",
            )
            .join(
                tot.select(
                    F.col("comm").alias("c"), "tot",
                    F.col("cnt").alias("c_cnt"),
                ),
                "c",
            )
            .join(
                tot.select(
                    F.col("comm").alias("cur"),
                    F.col("cnt").alias("cur_cnt"),
                ),
                "cur",
            )
            .crossJoin(F.broadcast(m2))
            .withColumn(
                "score",
                F.col("m2") * F.col("kuc")
                - F.col("k")
                * (
                    F.col("tot")
                    - F.when(
                        F.col("c") == F.col("cur"), F.col("k")
                    ).otherwise(F.lit(0))
                ),
            )
        )
        state = (
            scored.withColumn("_rn", F.row_number().over(argmax))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("u").alias("node"),
                F.when(
                    (F.col("cur_cnt") == 1)
                    & (F.col("c_cnt") == 1)
                    & (F.col("c") > F.col("cur")),
                    F.col("cur"),
                ).otherwise(F.col("c")).alias("comm"),
                "k",
            )
        )
        if (i + 1) % 2 == 0 and i + 1 < iters:
            state = state.localCheckpoint(eager=True)
    return state.select("node", F.col("comm").alias("community"))
