"""RDFS forward-chaining inference over (subj, pred, obj) fact tables.

The reference stops at materializing extracted networks (renard/core.py
Pipeline output); a KG-construction engine also needs the standard
entailment step that turns extracted facts + a schema into the typed,
property-rolled-up graph downstream consumers query. This implements
the rhoDF fragment of RDFS (Munoz, Perez, Gutierrez, "Minimal
Deductive Systems for RDF", ESWC 2007 — public): subPropertyOf,
subClassOf, domain, range.

The fragment STRATIFIES — instance data never derives new schema
triples — so instead of a naive rule-loop fixpoint over the whole KG
(many corpus-sized shuffles per round), evaluation is four strata:

  1. subPropertyOf+ : transitive closure of the property hierarchy
     (schema-only, iterative doubling — O(log depth) tiny-table jobs),
  2. rdfs7          : facts x subPropertyOf+  => inherited facts
     (ONE broadcast join of the corpus-sized fact table),
  3. rdfs2 / rdfs3  : domain / range typing of the prop-closed facts
     (two broadcast joins => (s, type, C) / (o, type, C)),
  4. subClassOf+ & rdfs9: type facts x class closure => supertypes
     (ONE broadcast join).

The corpus-scale fact table crosses the pipeline exactly once per
stratum via a BROADCAST hash join against the (dimension-sized) schema
closures — no iteration touches instance data, no shuffle is keyed on
it, and the final distinct is the only wide operation. That is the
shape that survives 10^12 facts; a semi-naive datalog loop would pay
a fact-table shuffle per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUB_PROPERTY_OF = "subPropertyOf"
SUB_CLASS_OF = "subClassOf"
DOMAIN = "domain"
RANGE = "range"
TYPE = "type"


def rdfs_closure(
    facts: DataFrame,
    schema: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    type_pred: str = TYPE,
    max_rounds: int = 5,
) -> DataFrame:
    """RDFS entailment of ``facts`` under ``schema`` -> the closed
    (subj, pred, obj) table: the input facts, every subPropertyOf-
    inherited fact, and every domain/range/subClassOf-derived
    ``(entity, type, class)`` triple, distinct.

    ``schema`` is a (subj, pred, obj) table whose predicates are
    ``subPropertyOf`` / ``subClassOf`` / ``domain`` / ``range``
    (module constants) — a dimension table (ontologies are small even
    when corpora are not); it is broadcast into every join. ``facts``
    may itself contain explicit ``type`` triples; they join stratum 4
    like derived ones. ``max_rounds`` bounds the doubling closure of
    each hierarchy (covers depth 2**max_rounds).
    """
    from renard_spark.functions.graph import transitive_closure

    s, p, o = subj, pred, obj
    sch = schema.select(
        F.col(s).alias("_s"), F.col(p).alias("_p"), F.col(o).alias("_o")
    ).localCheckpoint(eager=False)

    def hier(kind: str) -> DataFrame:
        e = sch.filter(F.col("_p") == kind).select(
            F.col("_s").alias("a"), F.col("_o").alias("b")
        )
        return transitive_closure(e, "a", "b", max_rounds)

    sp_plus = hier(SUB_PROPERTY_OF)
    sc_plus = hier(SUB_CLASS_OF)

    base = facts.select(s, p, o)
    # stratum 2 (rdfs7): property inheritance over the CLOSED hierarchy
    inherited = base.join(
        F.broadcast(sp_plus), base[p] == sp_plus["a"]
    ).select(F.col(s), sp_plus["b"].alias(p), F.col(o))
    closed_facts = base.unionByName(inherited)
    # every downstream stratum reads closed_facts; truncate so the
    # fact lineage (at corpus scale: the whole extraction chain)
    # executes once, not once per consumer
    closed_facts = closed_facts.localCheckpoint(eager=False)

    # stratum 3 (rdfs2/rdfs3): domain / range typing
    dom = sch.filter(F.col("_p") == DOMAIN).select(
        F.col("_s").alias("_dp"), F.col("_o").alias("_dc")
    )
    rng = sch.filter(F.col("_p") == RANGE).select(
        F.col("_s").alias("_rp"), F.col("_o").alias("_rc")
    )
    non_type = closed_facts.filter(F.col(p) != type_pred)
    typed_dom = non_type.join(
        F.broadcast(dom), non_type[p] == dom["_dp"]
    ).select(F.col(s), F.lit(type_pred).alias(p), F.col("_dc").alias(o))
    typed_rng = non_type.join(
        F.broadcast(rng), non_type[p] == rng["_rp"]
    ).select(
        F.col(o).alias(s), F.lit(type_pred).alias(p), F.col("_rc").alias(o)
    )
    explicit_types = closed_facts.filter(F.col(p) == type_pred)
    types = explicit_types.unionByName(typed_dom).unionByName(typed_rng)
    types = types.localCheckpoint(eager=False)

    # stratum 4 (rdfs9): supertype inheritance over the class closure
    super_types = types.join(
        F.broadcast(sc_plus), types[o] == sc_plus["a"]
    ).select(F.col(s), F.col(p), sc_plus["b"].alias(o))

    return (
        closed_facts.filter(F.col(p) != type_pred)
        .unionByName(types)
        .unionByName(super_types)
        .distinct()
    )


INVERSE_OF = "inverseOf"
SYMMETRIC = "SymmetricProperty"
TRANSITIVE = "TransitiveProperty"
SAME_AS = "sameAs"


def owl_closure(
    facts: DataFrame,
    schema: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    same_as: str = SAME_AS,
    max_rounds: int = 8,
) -> DataFrame:
    """OWL-lite property entailment + owl:sameAs entity
    canonicalization of ``facts`` under ``schema`` → the closed,
    CANONICALIZED (subj, pred, obj) table.

    The rule fragment (the OWL RL property rules a KG-construction
    pipeline actually needs — public semantics, W3C OWL 2 RL
    prp-inv1/2, prp-symp, prp-trp, eq-rep-s/o):

      * ``(p, inverseOf, q)``            : p(a,b) ⇔ q(b,a)
      * ``(p, type, SymmetricProperty)`` : p(a,b) ⇒ p(b,a)
      * ``(p, type, TransitiveProperty)``: p(a,b) ∧ p(b,c) ⇒ p(a,c)
      * ``same_as`` facts                : equality classes; every
        entity is rewritten to its class representative (min member)
        and the same_as rows themselves are dropped from the output.

    Evaluation STRATIFIES (same argument as rdfs_closure — no rule
    derives new sameAs or schema triples from instance data):

      0. sameAs canonicalization FIRST: connected components over the
         sameAs slice (``connected_components``: hash-to-min, with
         large-star/small-star rounds finishing sameAs chains too long
         for it — sameAs's own symmetry and transitivity are inherent
         to components), then both fact endpoints rewrite through
         the (corpus-scale, therefore EQUI-joined, never broadcast)
         canonical map. Rewriting before closure is what lets p(a,b),
         p(b',c), sameAs(b,b') chain.
      1. one flip pass: inverseOf (both directions) + symmetric.
      2. per-transitive-predicate doubling closure with the PREDICATE
         as the group key of ``grouped_transitive_closure`` — one bulk
         job closes every transitive property simultaneously;
         non-transitive facts never enter the loop.
      3. one more flip pass over the closed facts. This is a fixpoint:
         flip(closure(p-slice)) == closure(flip(p-slice)) == the
         q-closure stratum 2 already computed, so no new fact can
         feed stratum 2 again (the naive-fixpoint pytest twin checks
         exactly this argument).

    Scale shape: the corpus-sized fact table crosses each stratum
    once; iteration (CC rounds, doubling rounds) only ever touches the
    sameAs slice / the transitive-predicate slice, both lineage-
    truncated per round. ``max_rounds`` bounds the doubling (covers
    path length 2**max_rounds); the CC raises ConvergenceError only
    when both of its round budgets run out.
    """
    from renard_spark.functions.graph import grouped_transitive_closure
    from renard_spark.operators.cc import connected_components

    s, p, o = subj, pred, obj
    sch = schema.select(
        F.col(s).alias("_s"), F.col(p).alias("_p"), F.col(o).alias("_o")
    ).localCheckpoint(eager=False)

    # stratum 0: sameAs equality classes → canonical rewrite
    sa = facts.filter(F.col(p) == same_as).select(
        F.col(s).alias("src"), F.col(o).alias("dst")
    )
    canon = connected_components(sa).select(
        F.col("vertex").alias("_alias"), F.col("component").alias("_canon")
    )
    base = facts.filter(F.col(p) != same_as)
    cs = canon.select(
        F.col("_alias").alias("_as"), F.col("_canon").alias("_cs")
    )
    co = canon.select(
        F.col("_alias").alias("_ao"), F.col("_canon").alias("_co")
    )
    base = (
        base.join(cs, base[s] == cs["_as"], "left")
        .join(co, base[o] == co["_ao"], "left")
        .select(
            F.coalesce("_cs", F.col(s)).alias(s),
            F.col(p),
            F.coalesce("_co", F.col(o)).alias(o),
        )
    )

    inv = sch.filter(F.col("_p") == INVERSE_OF).select("_s", "_o")
    # both directions in one dimension table: p⇒q and q⇒p
    inv2 = inv.unionByName(
        inv.select(F.col("_o").alias("_s"), F.col("_s").alias("_o"))
    ).distinct()
    symp = sch.filter(
        (F.col("_p") == TYPE) & (F.col("_o") == SYMMETRIC)
    ).select(F.col("_s").alias("_sp"))
    trp = sch.filter(
        (F.col("_p") == TYPE) & (F.col("_o") == TRANSITIVE)
    ).select(F.col("_s").alias("_tp"))

    def flip(fs: DataFrame) -> DataFrame:
        via_inv = fs.join(F.broadcast(inv2), fs[p] == inv2["_s"]).select(
            F.col(o).alias(s), F.col("_o").alias(p), F.col(s).alias(o)
        )
        via_sym = fs.join(F.broadcast(symp), fs[p] == symp["_sp"]).select(
            F.col(o).alias(s), F.col(p), F.col(s).alias(o)
        )
        return fs.unionByName(via_inv).unionByName(via_sym).distinct()

    flipped = flip(base).localCheckpoint(eager=False)

    # stratum 2: pred-keyed doubling closure of the transitive slice
    t = grouped_transitive_closure(
        flipped.join(F.broadcast(trp), flipped[p] == trp["_tp"]),
        group=p, src=s, dst=o, max_rounds=max_rounds,
    )

    non_trans = flipped.join(
        F.broadcast(trp), flipped[p] == trp["_tp"], "left_anti"
    )
    return flip(non_trans.unionByName(t)).distinct()


def owl_closure_py(
    facts: list[tuple[str, str, str]],
    schema: list[tuple[str, str, str]],
    same_as: str = SAME_AS,
) -> set[tuple[str, str, str]]:
    """Naive rule-loop fixpoint twin (pure Python) for pytest: applies
    inverseOf / symmetric / transitive / sameAs-substitution rules
    until closed, then rewrites every entity to the min member of its
    sameAs class and drops the sameAs rows — agreement with
    owl_closure checks the canonicalize-first stratification."""
    out = set(facts)
    inv: set[tuple[str, str]] = set()
    for a, r, b in schema:
        if r == INVERSE_OF:
            inv.add((a, b))
            inv.add((b, a))
    sym = {a for a, r, b in schema if r == TYPE and b == SYMMETRIC}
    trp = {a for a, r, b in schema if r == TYPE and b == TRANSITIVE}
    changed = True
    while changed:
        changed = False
        new: set[tuple[str, str, str]] = set()
        fl = list(out)
        for s1, p1, o1 in fl:
            if p1 == same_as:
                new.add((o1, same_as, s1))
            for a, b in inv:
                if p1 == a:
                    new.add((o1, b, s1))
            if p1 in sym:
                new.add((o1, p1, s1))
        for s1, p1, o1 in fl:
            if p1 in trp or p1 == same_as:
                for s2, p2, o2 in fl:
                    if p2 == p1 and s2 == o1:
                        new.add((s1, p1, o2))
            if p1 == same_as:
                # substitution: facts about s1 hold for o1 (both ways
                # via the symmetry rule above)
                for s2, p2, o2 in fl:
                    if s2 == s1 and p2 != same_as:
                        new.add((o1, p2, o2))
                    if o2 == s1 and p2 != same_as:
                        new.add((s2, p2, o1))
        if not new <= out:
            out |= new
            changed = True
    classes: dict[str, str] = {}
    for s1, p1, o1 in out:
        if p1 == same_as:
            for x in (s1, o1):
                classes[x] = min(classes.get(x, x), min(s1, o1))
    return {
        (classes.get(s1, s1), p1, classes.get(o1, o1))
        for s1, p1, o1 in out
        if p1 != same_as
    }


def rdfs_closure_py(
    facts: list[tuple[str, str, str]],
    schema: list[tuple[str, str, str]],
    type_pred: str = TYPE,
) -> set[tuple[str, str, str]]:
    """Brute-force rule-loop fixpoint twin (pure Python) — the oracle
    for pytest: applies rdfs5/7/2/3/11/9 until no new triple appears.
    Deliberately the NAIVE algorithm, so agreement with rdfs_closure
    checks the stratification argument, not just the arithmetic."""
    out = set(facts)
    rules = set(schema)
    changed = True
    while changed:
        changed = False
        new: set[tuple[str, str, str]] = set()
        # rdfs5: subPropertyOf transitivity (schema-level)
        for a, p1, b in list(rules):
            for c, p2, d in list(rules):
                if p1 == p2 == SUB_PROPERTY_OF and b == c:
                    t = (a, SUB_PROPERTY_OF, d)
                    if t not in rules:
                        rules.add(t)
                        changed = True
                if p1 == p2 == SUB_CLASS_OF and b == c:
                    t = (a, SUB_CLASS_OF, d)
                    if t not in rules:
                        rules.add(t)
                        changed = True
        for s, p, o in out:
            for a, sp, b in rules:
                if sp == SUB_PROPERTY_OF and p == a:
                    new.add((s, b, o))
                if sp == DOMAIN and p == a and p != type_pred:
                    new.add((s, type_pred, b))
                if sp == RANGE and p == a and p != type_pred:
                    new.add((o, type_pred, b))
                if sp == SUB_CLASS_OF and p == type_pred and o == a:
                    new.add((s, type_pred, b))
        if not new <= out:
            out |= new
            changed = True
    return out
