"""SPARQL-style basic-graph-pattern matching over triple tables.

The reference materializes its extracted networks as in-memory
``networkx`` graphs and leaves querying to the caller; at KG scale the
triples live in a TABLE and the natural query primitive is the SPARQL
basic graph pattern (BGP): a conjunction of (subj, pred, obj) patterns
whose variables must bind consistently. This module compiles a BGP to
a chain of DataFrame equi-joins — Catalyst then reorders/broadcasts as
the statistics dictate, which is exactly the worst-case-optimal-join
literature's baseline strategy for sparse patterns.

No UDFs, no iteration: a k-pattern BGP is k scans of the triple table
(each with its constant filters pushed down) and k-1 equi-joins on the
shared variables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from renard_spark.operators.utils import local_table

Pattern = tuple[str, str, str]


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _compile_bgp(
    triples: DataFrame,
    patterns: list[Pattern],
    subj: str,
    pred: str,
    obj: str,
    closure_rounds: int = 8,
    graph: str | None = None,
) -> tuple[DataFrame, set[str]]:
    """Compile one conjunctive pattern group -> (bindings, bound vars).
    Shared factory for the required BGP and each OPTIONAL group.

    With ``graph`` set (a quad table's named-graph column), patterns
    may be 4-tuples (g, s, p, o) — SPARQL's GRAPH keyword: the graph
    term binds/filters like any other, so ``?g`` shared across
    patterns scopes the join to WITHIN each named graph (the
    doc_id-rides-the-key pattern: 10^9 per-document graphs match
    simultaneously in one join). Property-path predicates are
    rejected inside quad patterns — a closure spanning the graph
    boundary is a different (per-graph) operator."""
    acc: DataFrame | None = None
    bound: set[str] = set()
    for pat in patterns:
        if len(pat) == 4:
            if graph is None:
                raise ValueError(
                    f"quad pattern {pat!r} needs graph= (the named-"
                    "graph column of a quad table)"
                )
            cols_for = (graph, subj, pred, obj)
            pp = pat[2]
        elif len(pat) == 3:
            cols_for = (subj, pred, obj)
            pp = pat[1]
        else:
            raise ValueError(
                f"pattern must be an (s, p, o) triple or (g, s, p, o) "
                f"quad: {pat!r}"
            )
        base = triples
        if not _is_var(pp) and (
            pp.endswith("+") or any(c in pp for c in "^/|*?!()")
        ):
            if len(pat) == 4:
                if any(c in pp for c in "^/|*?!()"):
                    raise ValueError(
                        f"path {pp!r} not supported in a quad "
                        "pattern (only `p+`; the composite grammar "
                        "would need per-graph zero-length universes)"
                    )
                # `p+` inside GRAPH: the closure runs WITHIN each
                # named graph — grouped doubling fixpoint, graph id
                # in every join key, one pass for all graphs
                from renard_spark.functions.graph import (
                    grouped_transitive_closure,
                )

                sliced = triples.filter(
                    F.col(pred) == F.lit(pp[:-1])
                ).select(graph, subj, obj)
                base = grouped_transitive_closure(
                    sliced, group=graph, src=subj, dst=obj
                ).select(
                    graph,
                    F.col(subj),
                    F.lit(pp).alias(pred),
                    F.col(obj),
                )
                cols_for = (graph, subj, pred, obj)
            else:
                # SPARQL 1.1 property path as the predicate term: the
                # pattern scans the path's pair relation (eval_path —
                # closures run on the operand's slice, never the
                # whole KG) instead of the triple table; `p+` keeps
                # its historical fast path through the same evaluator
                base = eval_path(
                    triples, pp, subj, pred, obj, closure_rounds
                ).select(
                    F.col("s").alias(subj),
                    F.lit(pp).alias(pred),
                    F.col("o").alias(obj),
                )
        cols: dict[str, str] = {}
        flt = []
        for term, col in zip(pat, cols_for):
            if _is_var(term):
                name = term[1:]
                if not name:
                    raise ValueError("empty variable name '?'")
                if name in cols:
                    # repeated variable within one pattern: equality
                    flt.append(F.col(col) == F.col(cols[name]))
                else:
                    cols[name] = col
            else:
                flt.append(F.col(col) == F.lit(term))
        scan = base
        for f in flt:
            scan = scan.filter(f)
        scan = scan.select(
            *[F.col(c).alias(v) for v, c in sorted(cols.items())]
        )
        if acc is None:
            acc = scan
        else:
            keys = sorted(bound & set(cols))
            if keys:
                acc = acc.join(scan, keys)
            else:
                acc = acc.crossJoin(scan)
        bound |= set(cols)
    assert acc is not None
    return acc, bound


def bgp_match(
    triples: DataFrame,
    patterns: list[Pattern],
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    optionals: list[list[Pattern]] | None = None,
    filters: list[str] | None = None,
    minus: list[list[Pattern]] | None = None,
    exists: list[list[Pattern]] | None = None,
    not_exists: list[list[Pattern]] | None = None,
    closure_rounds: int = 8,
    graph: str | None = None,
) -> DataFrame:
    """Match a basic graph pattern against a (subj, pred, obj) triple
    table → one column per distinct variable (named without the ``?``),
    one row per consistent binding (set semantics follow the input:
    a distinct triple table yields distinct bindings).

    Each pattern term is either a variable (``"?x"``) or a constant.
    Constants become pushed-down filters on that pattern's scan;
    repeated variables WITHIN a pattern become an equality filter;
    variables shared ACROSS patterns become inner equi-join keys.
    Patterns with no variable in common with the accumulated prefix
    cross-join (a disconnected BGP is a cartesian product by
    definition — keep BGPs connected at scale).

    The join ORDER is the pattern order as written; selective patterns
    (more constants) first is the classic heuristic, and AQE's runtime
    re-planning + broadcast thresholds handle the rest. For a
    predicate-partitioned triple store the constant-``pred`` filter
    prunes partitions before the scan.

    ``optionals`` adds SPARQL OPTIONAL groups: each entry is itself a
    pattern list, compiled like a BGP and LEFT-joined onto the required
    bindings on the shared variables — variables bound only inside an
    unmatched group come back NULL (exactly SPARQL's left-join
    semantics for well-designed patterns; each group must share >= 1
    variable with the required part, else it is rejected — an
    unanchored OPTIONAL is a cartesian product). ``filters`` adds
    SPARQL FILTER expressions as SQL strings over the variable columns
    (e.g. ``"n >= 2"``), applied AFTER the optional joins like a
    FILTER at group level; they stay JVM expressions via ``F.expr``.

    ``minus`` adds SPARQL MINUS groups, applied to the REQUIRED
    bindings before the optional joins: each entry compiles like a BGP
    and LEFT-ANTI-joins the accumulated solutions on the shared
    variables — a solution is dropped when some minus-group solution
    agrees with it on every shared variable (exactly SPARQL's MINUS
    for groups that share variables; required-part variables are
    always bound, so NULL-compatibility corner cases cannot arise). A
    minus group sharing NO variable removes nothing per the SPARQL
    spec — here that is rejected as almost certainly a query bug.

    A constant predicate containing path operators (``^ / | + * ?
    !()``) is a SPARQL 1.1 property path: the pattern scans the
    path's pair relation via ``eval_path`` — ``p+`` is the doubling
    closure of the single-predicate slice (``closure_rounds`` rounds
    cover length 2**rounds, early-stop at fixpoint), and the full
    grammar (inverse, sequence, alternative, zero-length forms,
    negated sets) composes per ``parse_path``.

    ``exists`` / ``not_exists`` add SPARQL 1.1 FILTER (NOT) EXISTS
    groups, applied with ``minus`` before the optional joins: each
    compiles like a BGP and LEFT-SEMI- (resp. LEFT-ANTI-) joins the
    accumulated solutions on the shared variables. EXISTS keeps a
    solution when the group matches under its bindings; NOT EXISTS
    drops it. NOT EXISTS and MINUS differ exactly when the group
    shares no variable (MINUS removes nothing, NOT EXISTS removes
    everything if the group matches at all) — so unlike ``minus``, a
    disjoint (NOT) EXISTS group is legal here: it degenerates to a
    global emptiness test, planned as a one-row broadcast gate, per
    the SPARQL spec's uncorrelated-EXISTS semantics.

    ``graph`` names a quad table's named-graph column and enables
    SPARQL's GRAPH keyword: 4-tuple patterns (g, s, p, o) whose graph
    term binds/filters like any other — a shared ``?g`` scopes the
    join to WITHIN each named graph, a constant selects one graph
    (partition-pruned on a graph-partitioned store), and 3-tuple
    patterns in the same query match across all graphs.
    """
    if not patterns:
        raise ValueError("bgp_match needs >= 1 pattern")
    acc, bound = _compile_bgp(
        triples, patterns, subj, pred, obj, closure_rounds, graph
    )
    out_vars = set(bound)
    for group in minus or []:
        if not group:
            raise ValueError("empty MINUS group")
        neg, neg_bound = _compile_bgp(
            triples, group, subj, pred, obj, closure_rounds, graph
        )
        keys = sorted(bound & neg_bound)
        if not keys:
            raise ValueError(
                "MINUS group shares no variable with the required "
                f"patterns (a no-op per the SPARQL spec): {group!r}"
            )
        acc = acc.join(neg.select(*keys).distinct(), keys, "left_anti")
    for want, groups in ((True, exists), (False, not_exists)):
        for group in groups or []:
            if not group:
                raise ValueError("empty EXISTS group")
            sub, sub_bound = _compile_bgp(
                triples, group, subj, pred, obj, closure_rounds, graph
            )
            keys = sorted(bound & sub_bound)
            how = "left_semi" if want else "left_anti"
            if keys:
                acc = acc.join(sub.select(*keys).distinct(), keys, how)
            else:
                # uncorrelated (NOT) EXISTS: a global emptiness test —
                # one cross-joined 1-row gate (broadcast by size), not
                # a per-row correlated subquery
                gate = sub.limit(1).agg(
                    (F.count(F.lit(1)) > 0).alias("_any")
                )
                acc = acc.crossJoin(gate).filter(
                    F.col("_any") if want else ~F.col("_any")
                ).drop("_any")
    for group in optionals or []:
        if not group:
            raise ValueError("empty OPTIONAL group")
        opt, opt_bound = _compile_bgp(
            triples, group, subj, pred, obj, closure_rounds, graph
        )
        keys = sorted(bound & opt_bound)
        if not keys:
            raise ValueError(
                "OPTIONAL group shares no variable with the required "
                f"patterns: {group!r}"
            )
        acc = acc.join(opt, keys, "left")
        out_vars |= opt_bound
        # later optionals may join on variables this group introduced
        # (SPARQL evaluates OPTIONALs left to right against the
        # accumulated solution mapping)
        bound |= opt_bound
    for f in filters or []:
        acc = acc.filter(F.expr(f))
    return acc.select(*sorted(out_vars))


def bgp_union(
    triples: DataFrame,
    groups: list[list[Pattern]],
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    closure_rounds: int = 8,
) -> DataFrame:
    """SPARQL UNION: each group compiles like a BGP (same variable /
    constant / property-path rules as bgp_match), results are unioned
    with NULL padding for variables a branch does not bind (SPARQL's
    unbound-variable semantics), distinct under set semantics.

    Output columns = the sorted union of every branch's variables.
    Branches stay independent plans — each is its own scan chain with
    its own pushed-down constants — and the union is a zero-shuffle
    concatenation; the final distinct is the only wide operation.
    """
    if not groups or any(not g for g in groups):
        raise ValueError("bgp_union needs >= 1 non-empty group")
    compiled: list[tuple[DataFrame, set[str]]] = [
        _compile_bgp(triples, g, subj, pred, obj, closure_rounds)
        for g in groups
    ]
    all_vars = sorted(set().union(*(b for _, b in compiled)))
    out: DataFrame | None = None
    for df, bound in compiled:
        padded = df.select(
            *[
                F.col(v) if v in bound
                else F.lit(None).cast("string").alias(v)
                for v in all_vars
            ]
        )
        out = padded if out is None else out.unionByName(padded)
    assert out is not None
    return out.distinct()


def construct(
    bindings: DataFrame,
    templates: list[Pattern],
) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate triple ``templates`` over a
    binding table (one column per variable — bgp_match's output shape)
    → a (subj, pred, obj) table of DERIVED triples, distinct. The
    materialization step that closes the query loop: bgp_match finds
    the structure, construct writes it back as new KG facts.

    Template terms are variables (``?x`` → that binding column) or
    constants (inlined literals). Rows where any referenced variable
    is NULL are skipped for that template (SPARQL semantics: CONSTRUCT
    drops incomplete instantiations — exactly the rows an OPTIONAL
    left unbound). One narrow projection per template + a distinct;
    no joins, no UDFs.
    """
    if not templates:
        raise ValueError("construct needs >= 1 template")
    out: DataFrame | None = None
    for tpl in templates:
        if len(tpl) != 3:
            raise ValueError(f"template must be a (s, p, o) triple: {tpl!r}")
        cols = []
        guards = []
        for term, name in zip(tpl, ("subj", "pred", "obj")):
            if _is_var(term):
                var = term[1:]
                if var not in bindings.columns:
                    raise ValueError(
                        f"template variable ?{var} not in bindings "
                        f"{bindings.columns}"
                    )
                cols.append(F.col(var).alias(name))
                guards.append(F.col(var).isNotNull())
            else:
                cols.append(F.lit(term).alias(name))
        t = bindings
        for g in guards:
            t = t.filter(g)
        t = t.select(*cols)
        out = t if out is None else out.unionByName(t)
    assert out is not None
    return out.distinct()


def update_where(
    triples: DataFrame,
    delete: list[Pattern] | None = None,
    insert: list[Pattern] | None = None,
    patterns: list[Pattern] | None = None,
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL 1.1 Update — ``DELETE { } INSERT { } WHERE { }`` (and its
    degenerate ``INSERT DATA`` / ``DELETE DATA`` forms when
    ``patterns`` is None and the templates are ground) — evaluated as
    a pure transformation: returns the POST-update triple set; the
    caller persists it (idempotently via the catalog's batch sink).

    Spec semantics (SPARQL 1.1 Update §3.1.3): the WHERE pattern is
    matched ONCE against the pre-update graph; both template sets are
    instantiated from those bindings (CONSTRUCT rules — NULL-skip,
    distinct); deletes apply before inserts, so a triple that is both
    deleted and re-inserted survives.

    Plan shape: ``kept = triples ANTI del`` — the delete set is
    bindings-derived and usually pattern-selective, so AQE broadcasts
    it (right side of a left-anti) and the store never shuffles for
    the delete; a whole-graph DELETE degrades to a sort-merge anti,
    never to a forced-broadcast OOM. ``new = ins ANTI kept`` preserves
    SET semantics without a corpus-wide distinct; that anti-join is
    the one corpus-side shuffle, and on a store bucketed by the triple
    key (io/catalog.BucketedCatalog) it plans exchange-free.

    PRECONDITION: ``triples`` is a SET (distinct rows). Duplicate
    store rows not matched by ``delete`` pass through ``kept``
    unchanged (only the insert path deduplicates, via the anti-join),
    so the post-update result is a set only when the input is. RDF
    stores are sets by definition; dedupe upstream if yours is not.
    """
    if not delete and not insert:
        raise ValueError("update_where needs delete and/or insert templates")
    if patterns is None:
        for tpl in (delete or []) + (insert or []):
            if any(_is_var(t) for t in tpl):
                raise ValueError(
                    f"template {tpl!r} has variables but there is no "
                    "WHERE pattern — use INSERT/DELETE DATA (ground "
                    "templates) or supply patterns"
                )
        # one empty solution: DATA forms instantiate each template once
        bindings = triples.sparkSession.range(1)
    else:
        bindings = bgp_match(triples, patterns, **bgp_kwargs)

    kept = triples
    if delete:
        del_t = construct(bindings, delete)
        kept = kept.join(del_t, ["subj", "pred", "obj"], "left_anti")
    if insert:
        ins_t = construct(bindings, insert)
        new = ins_t.join(kept, ["subj", "pred", "obj"], "left_anti")
        kept = kept.unionByName(new)
    return kept


# SPARQL 1.1 aggregate functions supported by select_solutions.
# GROUP_CONCAT and SAMPLE are nondeterministic in the spec; here both
# are pinned to deterministic reductions (sorted concat / min) so the
# same query yields the same bytes on any partitioning — a requirement
# for oracle-gated tests and for reproducible KG reports.
_AGG_FNS = {
    "count", "sum", "avg", "min", "max",
    "count_distinct", "group_concat", "sample",
}


def join_solutions(outer: DataFrame, inner: DataFrame) -> DataFrame:
    """SPARQL 1.1 subquery join: a subselect (itself a binding table,
    typically the output of ``select_solutions`` over its own pattern)
    evaluated bottom-up and joined onto the outer group's bindings on
    the SHARED variables — the spec's evaluation order for nested
    ``{ SELECT ... }`` groups. An inner-join on the shared columns IS
    solution-mapping compatibility here because subselect outputs are
    fully bound (aggregates/projections never produce SPARQL unbound;
    OPTIONAL-produced NULLs belong on the outer side, where SQL NULL
    ≠ NULL join semantics match SPARQL's incompatible-mapping rule).

    A subquery sharing NO variable with the outer pattern is a
    cartesian product and is rejected — the uncorrelated one-row
    aggregate gate (e.g. a global COUNT threshold) belongs in
    ``bgp_match(exists=...)``, which broadcasts it.

    Scale shape: the subselect is usually an aggregate over the graph
    — grouped-down, far smaller than the outer binding table — so AQE
    picks a broadcast join; the outer side never re-shuffles."""
    shared = [c for c in outer.columns if c in inner.columns]
    if not shared:
        raise ValueError(
            "subquery shares no variables with the outer pattern — "
            "that join is a cartesian product; correlate the subquery "
            "or use an EXISTS gate instead"
        )
    return outer.join(inner, shared, "inner")


def service_solutions(
    outer: DataFrame,
    endpoints: dict[str, DataFrame],
    endpoint: str,
    patterns: list[Pattern],
    silent: bool = False,
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL 1.1 Federated Query — ``SERVICE <endpoint> { pattern }``
    (W3C sparql11-federated-query §2), with endpoints registered as a
    name → triple-DataFrame mapping: in a lakehouse deployment each
    "remote endpoint" is another catalog/Iceberg triple table, so
    federation is pattern evaluation against THAT table followed by a
    compatibility join with the outer group's bindings on the shared
    variables — exactly ``join_solutions`` semantics, since BGP
    outputs are fully bound.

    ``SERVICE SILENT`` (spec §2.2): if the endpoint is unknown or its
    evaluation fails, the service clause yields one solution with no
    bindings — i.e. the outer bindings pass through unchanged, with
    the service pattern's own variables left ABSENT (spec: unbound).
    Without ``silent``, the failure propagates.

    Scale shape: the service pattern evaluates bottom-up against the
    endpoint table (its constants push down to that scan); the join
    with the outer side is a plain equi-join on the shared variables,
    AQE-broadcast when the service result is selective. A service
    pattern sharing NO variable with the outer bindings is rejected
    like any uncorrelated subquery (cartesian product).
    """
    try:
        if endpoint not in endpoints:
            raise KeyError(f"unknown SERVICE endpoint: {endpoint!r}")
        inner = bgp_match(endpoints[endpoint], patterns, **bgp_kwargs)
        return join_solutions(outer, inner)
    except Exception:
        if silent:
            return outer
        raise


def select_solutions(
    bindings: DataFrame,
    values: tuple[list[str], list[tuple]] | None = None,
    group_by: list[str] | None = None,
    aggregates: list[tuple[str, str, str]] | None = None,
    having: list[str] | None = None,
    order_by: list[str] | None = None,
    limit: int | None = None,
    offset: int | None = None,
    distinct: bool = False,
    bind: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """SPARQL 1.1 SELECT solution modifiers over a binding table (the
    output shape of ``bgp_match``/``bgp_union``): VALUES, GROUP BY +
    aggregates, HAVING, ORDER BY, LIMIT, DISTINCT — the layer that
    turns pattern matching into reporting queries.

    ``values`` is SPARQL's inline-data block ``VALUES (?x ?y) { ... }``:
    a (variable list, row list) pair INNER-joined onto the solutions.
    The block is driver-literal by construction, so the join is a
    broadcast — a constant-time restriction, never a shuffle. UNDEF
    rows are rejected (an UNDEF wildcard row makes the block a no-op
    filter on that variable; model that as omitting the variable).

    ``aggregates`` entries are ``(fn, var, alias)`` with fn one of
    COUNT / SUM / AVG / MIN / MAX / COUNT_DISTINCT / GROUP_CONCAT /
    SAMPLE (case-insensitive); ``var`` is ``"?v"`` or ``"*"`` (COUNT
    only). Determinism pins: GROUP_CONCAT sorts its group first
    (``sort_array(collect_list(...))``), SAMPLE is ``min``. With
    aggregates and no ``group_by`` the whole solution set is one
    implicit group (SPARQL semantics). All aggregates here are
    partial-aggregable, so the groupBy is ONE shuffle with map-side
    combine — including GROUP_CONCAT, whose collect_list merges
    per-partition lists.

    ``having`` are SQL predicates over the aggregate aliases;
    ``order_by`` entries are ``"?v"`` or ``"DESC(?v)"`` (aliases work
    too). ORDER BY + LIMIT compiles to TakeOrderedAndProject — a
    per-partition top-k plus a driver merge, NOT a global sort; an
    ORDER BY without LIMIT is a full range-exchange sort and is the
    caller's explicit choice.

    ``bind`` entries are SPARQL 1.1 ``BIND(expr AS ?v)``: ``(sql_expr,
    "?v")`` pairs applied IN ORDER before everything else (so a later
    BIND may reference an earlier one), each a narrow ``withColumn`` —
    zero shuffle, stays inside whole-stage codegen. Per the spec the
    target variable must not already be bound.

    ``offset`` is SPARQL's OFFSET, applied after ORDER BY and before
    LIMIT (spec slice order). An OFFSET without an ORDER BY is
    rejected: solution order is implementation-defined there, so the
    slice would be nondeterministic across partitionings — the same
    reason the spec calls the combination meaningless.
    """
    out = bindings
    for expr, var in bind or []:
        name = var[1:] if _is_var(var) else var
        if name in out.columns:
            raise ValueError(f"BIND target already bound: ?{name}")
        out = out.withColumn(name, F.expr(expr))
    if values is not None:
        vars_, rows = values
        if not vars_ or not rows:
            raise ValueError("VALUES needs >= 1 variable and >= 1 row")
        cols = [v[1:] if _is_var(v) else v for v in vars_]
        missing = [c for c in cols if c not in out.columns]
        if missing:
            raise ValueError(f"VALUES variables not bound: {missing}")
        if any(any(x is None for x in r) for r in rows):
            raise ValueError(
                "UNDEF in VALUES is not supported — omit the variable"
            )
        spark = bindings.sparkSession
        block = local_table(spark, rows, cols).distinct()
        out = out.join(F.broadcast(block), cols, "inner")

    if aggregates:
        keys = [v[1:] if _is_var(v) else v for v in (group_by or [])]
        aggs = []
        for fn, var, alias in aggregates:
            fn = fn.lower()
            if fn not in _AGG_FNS:
                raise ValueError(f"unsupported aggregate: {fn!r}")
            if var == "*":
                if fn != "count":
                    raise ValueError(f"{fn}(*) is not SPARQL")
                aggs.append(F.count(F.lit(1)).alias(alias))
                continue
            c = F.col(var[1:] if _is_var(var) else var)
            if fn == "count":
                aggs.append(F.count(c).alias(alias))
            elif fn == "count_distinct":
                aggs.append(F.countDistinct(c).alias(alias))
            elif fn == "group_concat":
                aggs.append(
                    F.array_join(
                        F.sort_array(F.collect_list(c)), " "
                    ).alias(alias)
                )
            elif fn == "sample":
                aggs.append(F.min(c).alias(alias))
            else:
                aggs.append(getattr(F, fn)(c).alias(alias))
        out = out.groupBy(*keys).agg(*aggs) if keys else out.agg(*aggs)
    elif group_by:
        raise ValueError("group_by without aggregates")

    for h in having or []:
        out = out.filter(F.expr(h))
    if distinct:
        out = out.distinct()
    if order_by:
        keys = []
        for o in order_by:
            desc = o.upper().startswith("DESC(")
            name = o[5:-1] if desc else o
            name = name[1:] if _is_var(name) else name
            keys.append(F.col(name).desc() if desc else F.col(name).asc())
        out = out.orderBy(*keys)
    if offset is not None:
        if not order_by:
            raise ValueError(
                "OFFSET without ORDER BY is nondeterministic — "
                "order the solutions first"
            )
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def ask(
    bindings_or_triples: DataFrame,
    patterns: list[Pattern] | None = None,
    **bgp_kwargs,
) -> DataFrame:
    """SPARQL 1.1 ASK: does the pattern have at least one solution?
    → a ONE-ROW DataFrame with a single boolean ``answer`` column
    (kept as a DataFrame, not a driver bool, so ASK composes into
    dashboards/unions like every other query form).

    Call with a triple table + patterns (compiled via ``bgp_match``)
    or with an already-built binding table (``patterns=None``).

    Scale shape: ``limit(1)`` BEFORE the count — Spark plans a
    CollectLimit that short-circuits the scan chain after the first
    produced row, so an ASK over 10^12 triples touches one input
    split per join branch in the common hit case, never the corpus.
    """
    b = (
        bgp_match(bindings_or_triples, patterns, **bgp_kwargs)
        if patterns is not None
        else bindings_or_triples
    )
    return b.limit(1).agg(
        (F.count(F.lit(1)) > 0).alias("answer")
    )


def describe(
    triples: DataFrame,
    resources: list[str] | DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """SPARQL 1.1 DESCRIBE (symmetric concise-bounded-description
    flavor): every triple in which a requested resource appears as
    subject or object, tagged with the resource and the direction —
    the "entity page" raw-triple dump that SELECT's projection hides.
    The spec leaves DESCRIBE's result form to the implementation;
    this one is a TABLE (resource, role, subj, pred, obj) with role
    in {'subj','obj'}, deduplicated, so one resource appearing both
    ways yields both rows (the KG-browser rendering order).

    ``resources`` is a literal list (broadcast by construction) or a
    one-column DataFrame (joined; broadcast if small). Two equi-joins
    (one per role), each pushing the resource set into the scan as a
    semi-join filter at scale — never a full-table OR-scan.
    """
    spark = triples.sparkSession
    if isinstance(resources, DataFrame):
        rcol = resources.columns[0]
        res = resources.select(F.col(rcol).alias("resource")).distinct()
    else:
        if not resources:
            raise ValueError("describe needs >= 1 resource")
        res = local_table(
            spark, [(r,) for r in sorted(set(resources))], ["resource"]
        )
        res = F.broadcast(res)
    t = triples.select(subj, pred, obj)
    as_subj = t.join(
        res, F.col(subj) == F.col("resource"), "inner"
    ).select("resource", F.lit("subj").alias("role"), subj, pred, obj)
    as_obj = t.join(
        res, F.col(obj) == F.col("resource"), "inner"
    ).select("resource", F.lit("obj").alias("role"), subj, pred, obj)
    return as_subj.unionByName(as_obj).distinct()


# ---------------------------------------------------------------------------
# SPARQL 1.1 property-path algebra
#
# A path expression denotes a PAIR RELATION (s, o) over the graph; the
# algebra composes relations, and every operator has an exact
# DataFrame shape: predicate -> sliced scan, ^p -> column swap (free),
# p1/p2 -> equi-join on the midpoint, p1|p2 -> distinct union,
# p+ -> iterative-doubling closure of the OPERAND's relation (never
# the whole KG), p? / p* -> union with the zero-length identity over
# the graph's TERM UNIVERSE (SPARQL defines zero-length paths over all
# RDF terms occurring in the graph — subjects and objects — which a
# triple table defines exactly; computed once, reused), !(p1|..|pn)
# -> a NOT IN filter on the predicate column (forward-only negated
# property set).
#
# Expressions are nested tuples ('inv'|'seq'|'alt'|'plus'|'star'|
# 'opt'|'neg', ...) or the string grammar
#     path     := alt
#     alt      := seq ('|' seq)*
#     seq      := unary ('/' unary)*
#     unary    := '^' unary | atom postfix*
#     postfix  := '+' | '*' | '?'
#     atom     := '(' path ')' | '!' '(' iri ('|' iri)* ')' | iri
# parsed by `parse_path` (recursive descent, standard SPARQL
# precedence: postfix > ^ > / > |).
# ---------------------------------------------------------------------------

PathExpr = "str | tuple"


def parse_path(s: str):
    """Parse the SPARQL property-path string grammar into the nested
    tuple AST ``eval_path`` evaluates. IRIs/local names are runs of
    characters outside the operator set ``^/|+*?!()`` and whitespace."""
    import re

    toks = re.findall(r"[\^/|+*?!()]|[^\s^/|+*?!()]+", s)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take(expected=None):
        nonlocal pos
        t = peek()
        if t is None or (expected is not None and t != expected):
            raise ValueError(
                f"path syntax error at token {pos} ({t!r}) in {s!r}"
            )
        pos += 1
        return t

    def atom():
        t = peek()
        if t == "(":
            take("(")
            e = alt()
            take(")")
            return e
        if t == "!":
            take("!")
            take("(")
            preds = [take()]
            while peek() == "|":
                take("|")
                preds.append(take())
            take(")")
            if any(p in "^/|+*?!()" for p in preds):
                raise ValueError("negated set members must be IRIs")
            return ("neg", tuple(preds))
        t = take()
        if t in "^/|+*?!()":
            raise ValueError(f"unexpected {t!r} in {s!r}")
        return t

    def unary():
        if peek() == "^":
            take("^")
            return ("inv", unary())
        e = atom()
        while peek() in ("+", "*", "?"):
            e = ({"+": "plus", "*": "star", "?": "opt"}[take()], e)
        return e

    def seq():
        e = unary()
        while peek() == "/":
            take("/")
            e = ("seq", e, unary())
        return e

    def alt():
        e = seq()
        while peek() == "|":
            take("|")
            e = ("alt", e, seq())
        return e

    out = alt()
    if pos != len(toks):
        raise ValueError(f"trailing tokens in path {s!r}")
    return out


def eval_path(
    triples: DataFrame,
    expr,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    closure_rounds: int = 8,
) -> DataFrame:
    """Evaluate a SPARQL 1.1 property-path expression over a (subj,
    pred, obj) triple table → the DISTINCT pair relation (s, o).

    ``expr`` is a ``parse_path`` string (e.g. ``"^scans/feeds+ |
    sorts"``) or the tuple AST directly. Every closure runs on the
    operand's own pair relation — a single-predicate slice in the
    common ``p+`` case — never on the full KG; zero-length operators
    (``*``, ``?``) union in the identity over the graph's term
    universe, per the SPARQL spec's ZeroLengthPath evaluation."""
    if isinstance(expr, str):
        expr = parse_path(expr)
    t = triples.select(subj, pred, obj)

    def universe() -> DataFrame:
        return (
            t.select(F.col(subj).alias("x"))
            .unionByName(t.select(F.col(obj).alias("x")))
            .distinct()
        )

    def ev(e) -> DataFrame:  # -> (s, o)
        if isinstance(e, str):
            return (
                t.filter(F.col(pred) == F.lit(e))
                .select(F.col(subj).alias("s"), F.col(obj).alias("o"))
                .distinct()
            )
        op = e[0]
        if op == "neg":
            return (
                t.filter(~F.col(pred).isin(list(e[1])))
                .select(F.col(subj).alias("s"), F.col(obj).alias("o"))
                .distinct()
            )
        if op == "inv":
            r = ev(e[1])
            return r.select(
                F.col("o").alias("s"), F.col("s").alias("o")
            )
        if op == "seq":
            left = ev(e[1]).select("s", F.col("o").alias("m"))
            right = ev(e[2]).select(F.col("s").alias("m"), "o")
            return left.join(right, "m").select("s", "o").distinct()
        if op == "alt":
            return ev(e[1]).unionByName(ev(e[2])).distinct()
        if op == "plus":
            from renard_spark.functions.graph import transitive_closure

            # transitive_closure returns columns named (src, dst) as
            # given — already (s, o) here
            return transitive_closure(
                ev(e[1]), src="s", dst="o", max_rounds=closure_rounds
            )
        if op in ("star", "opt"):
            base = (
                ev(("plus", e[1])) if op == "star" else ev(e[1])
            )
            ident = universe().select(
                F.col("x").alias("s"), F.col("x").alias("o")
            )
            return base.unionByName(ident).distinct()
        raise ValueError(f"unknown path operator {e!r}")

    return ev(expr)


def void_stats(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    decimals: int = 6,
) -> DataFrame:
    """Per-predicate VoID-style partition statistics (W3C VoID
    property partitions + the PARIS/SIGMA ER literature's
    (inverse-)functionality): for each predicate its triple count,
    distinct subject/object counts, and functionality = n_subjects /
    n_triples (1.0 means the predicate is a function of its subject;
    inverse_functionality likewise for objects). These four numbers
    drive BOTH query planning (join selectivity over a predicate-
    partitioned store) and entity resolution (high inverse-
    functionality predicates are the discriminating evidence).

    ONE hash aggregation keyed by predicate — count + two exact
    count_distincts (Spark plans the multi-distinct agg as expand +
    two-phase partial aggregation, map-side combined; predicates are
    few, so the reduced side is dimension-sized no matter the corpus).
    """
    return (
        triples.groupBy(F.col(pred).alias("pred"))
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.countDistinct(subj).alias("n_subjects"),
            F.countDistinct(obj).alias("n_objects"),
        )
        .select(
            "pred", "n_triples", "n_subjects", "n_objects",
            F.round(
                F.col("n_subjects") / F.col("n_triples"), decimals
            ).alias("functionality"),
            F.round(
                F.col("n_objects") / F.col("n_triples"), decimals
            ).alias("inverse_functionality"),
        )
    )
