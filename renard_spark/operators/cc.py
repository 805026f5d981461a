"""Distributed connected components over an edge DataFrame.

Replaces the reference's ``nx.connected_components``
(character_unification.py:331) for the *scale path*: when the alias
graph spans a cross-document entity table (10^12-doc global
unification), the per-doc UDF no longer applies and components must be
computed as an iterative DataFrame algorithm (no graphframes in the
environment).

One entry point, ``connected_components`` (edges → (vertex,
component), component = lexicographically smallest vertex id in the
component), runs two algorithms over one checkpointed symmetric edge
list:

- min-label propagation (hash-to-min) first. Rounds ≈ graph diameter;
  the right default for alias graphs, which are star-ish (tiny
  diameter). Convergence is probed with ONE cheap aggregate per round
  over the already-checkpointed frame (no extra old-vs-new join).
- if that does not converge within ``HASH_TO_MIN_ROUNDS``, alternating
  large-star / small-star rounds (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14): O(log n) rounds
  regardless of diameter — the path for long-chain graphs (near-dup
  chains, long sameAs chains).

``ConvergenceError`` is raised only when both budgets run out: partial
labels would silently split characters downstream. Lineage is cut
with ``localCheckpoint`` each round so plans stay flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# round budgets: hash-to-min needs about diameter + 1 rounds, star
# O(log n) in the component size
HASH_TO_MIN_ROUNDS = 50
STAR_ROUNDS = 40


class ConvergenceError(RuntimeError):
    """Raised when an iterative algorithm exhausts its round budget."""


def connected_components(
    edges_df: DataFrame, src: str = "src", dst: str = "dst",
) -> DataFrame:
    """edges (src,dst strings) → (vertex, component) where component is
    the lexicographically smallest vertex id in the component.
    Isolated vertices of interest should be passed as self-loops.

    Hash-to-min first; a graph whose diameter exceeds its round budget
    falls through to the large-star/small-star rounds. Raises
    ConvergenceError only if those do not reach a fixpoint either.
    """
    # undirected symmetric closure + self loops — checkpointed ONCE:
    # e is re-joined every round (and by the star fallback), and
    # without the checkpoint each round would recompute the caller's
    # whole upstream plan (e.g. the alias-rule Arrow UDF of
    # unify_scale.unify_distributed)
    e = (
        edges_df.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges_df.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    comp = (
        e.select(F.col("a").alias("vertex"))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .localCheckpoint()
    )
    for _ in range(HASH_TO_MIN_ROUNDS):
        # candidate labels: own label + neighbors' labels
        nbr = (
            e.join(comp.withColumnRenamed("vertex", "b").withColumnRenamed(
                "component", "nbr_comp"), "b")
            .groupBy("a")
            .agg(F.min("nbr_comp").alias("min_nbr"))
            .withColumnRenamed("a", "vertex")
        )
        # one frame carries both old and new labels, and the lazy
        # localCheckpoint is materialized BY the changed-count action —
        # one Spark job per round (probe folded into the checkpoint
        # write), no old-vs-new re-join, no plan recompute.
        upd = (
            comp.join(nbr, "vertex", "left")
            .select(
                "vertex",
                F.col("component").alias("_old"),
                F.least(
                    "component", F.coalesce("min_nbr", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        changed = upd.filter(F.col("component") != F.col("_old")).count()
        comp = upd.select("vertex", "component")
        if changed == 0:
            return comp
    # long-chain graph (diameter ≥ the budget): O(log n)-round variant
    return _star_components(e)


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every node u connects its strictly-larger neighbors
    to min(N(u) ∪ {u}). Input/output: symmetric directed edge list
    (a, b) — emits both directions for the next round."""
    m = (
        e.groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select("a", F.least("_mb", F.col("a")).alias("m"))
    )
    out = (
        e.join(m, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("x"), F.col("m").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    return out


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient each edge high→low, every high node connects
    its ≤ neighbors (and itself) to the minimum."""
    oriented = e.filter(F.col("b") < F.col("a"))
    m = oriented.groupBy("a").agg(F.min("b").alias("m"))
    nbrs = oriented.join(m, "a").select(
        F.col("b").alias("x"), F.col("m").alias("y")
    )
    selfed = m.select(F.col("a").alias("x"), F.col("m").alias("y"))
    return (
        nbrs.unionByName(selfed)
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )


def _star_components(edges: DataFrame) -> DataFrame:
    """Large-star/small-star rounds over an (a, b) edge list → (vertex,
    component) under the ``connected_components`` contract — O(log n)
    rounds, independent of graph diameter (Kiveris et al., SoCC'14).
    Convergence = the directed low-edge set is a fixpoint of a full
    round, probed by (count, hash-sum) equality over checkpointed
    frames; raises ConvergenceError after ``STAR_ROUNDS`` rounds.
    """
    verts = (
        edges.select(F.col("a").alias("vertex"))
        .union(edges.select(F.col("b").alias("vertex")))
        .distinct()
        .localCheckpoint()
    )
    e = (
        edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint()
    )

    def _sig(df: DataFrame) -> tuple[int, int]:
        # order-independent, overflow-free edge-set fingerprint
        row = df.select(F.xxhash64("x", "y").alias("h")).agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.expr("bit_xor(h)"), F.lit(0)).alias("h"),
        ).first()
        return (row["c"], row["h"])

    prev_sig: tuple[int, int] | None = None
    prev_e: DataFrame | None = None
    for _ in range(STAR_ROUNDS):
        sym = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
        sym = sym.select(F.col("x").alias("a"), F.col("y").alias("b"))
        e = _large_star(sym)
        sym2 = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
        sym2 = sym2.select(F.col("x").alias("a"), F.col("y").alias("b"))
        e = _small_star(sym2).localCheckpoint()
        sig = _sig(e)
        # The (count, bit_xor(xxhash64)) signature can never report a
        # false "changed" on equal sets, but it CAN report a false
        # fixpoint on a hash collision between unequal sets — which
        # would silently return partial labels. Confirm with ONE exact
        # anti-join (counts already match and both frames are
        # distinct, so one direction suffices) before trusting.
        if sig == prev_sig and (
            e.join(prev_e, ["x", "y"], "left_anti").limit(1).count() == 0
        ):
            # At fixpoint the edge set is a star forest: (member, center).
            labels = e.select(
                F.col("x").alias("vertex"), F.col("y").alias("component")
            )
            centers = verts.join(
                labels.select("vertex"), "vertex", "left_anti"
            ).withColumn("component", F.col("vertex"))
            return labels.unionByName(centers)
        prev_sig = sig
        prev_e = e
    raise ConvergenceError(
        f"connected_components did not converge: {HASH_TO_MIN_ROUNDS} "
        f"hash-to-min rounds, then {STAR_ROUNDS} large-star/small-star "
        "rounds"
    )


def incremental_components(
    assignment_df: DataFrame,
    new_edges_df: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Maintain a components assignment as new edges arrive — the
    continuously-built KG's alias table should NOT recompute CC over
    10^12 accumulated pair-rule edges per micro-batch. Input: the
    previous (vertex, component) table and the new batch's edges;
    output: the updated (vertex, component) table under the same
    contract (component = lexicographically smallest member id).

    Correctness rests on CC's quotient property: components of
    (old edges ∪ new edges) equal components of (old *spanning
    structure* ∪ new edges), and the star edge set
    {(vertex → component)} is exactly such a spanning structure. So
    the fixpoint loop runs over |V_old| star edges + |batch| new edges
    — batch-sized work, never history-sized. New vertices appear
    automatically (self-loop closure inside ``connected_components``);
    old components never split (edges are only added), they can only
    merge, and untouched components keep their label because that
    label is already the component minimum.
    """
    star = assignment_df.select(
        F.col("vertex").alias(src), F.col("component").alias(dst)
    )
    batch = new_edges_df.select(src, dst)
    return connected_components(star.unionByName(batch), src=src, dst=dst)
