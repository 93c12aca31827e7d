"""Basic-graph-pattern (BGP) matching over a triple table: the
conjunctive-query primitive of every SPARQL-shaped KG store.

The reference answers graph questions either by Pregel path search
(Search/src/main/scala/gov/pnnl/nous/pathSearch — re-expressed in
operators/pathsearch.py) or by frequent-pattern growth
(Mining/src/main/scala — operators/mining.py); it has no declarative
triple-pattern matcher, yet every query its users phrase ("which x
supplies a part branded B made in nation n?") IS a BGP. Here the
matcher is pure Catalyst: each triple pattern is a filtered scan of the
triples table, patterns chain with equi-joins on shared variables, and
the optimizer (broadcast for selective patterns, AQE for skew) picks
the physical strategy — exactly how SPARQL-on-SQL engines compile BGPs.

Scale design: pattern scans push their literal predicates into the
parquet scan (one scan per pattern — at 100 TB, partitioning the triple
store by predicate makes a bound-predicate pattern a partition-pruned
read, see sources/sinks.py write_triples). Join order is
selectivity-greedy: the pattern with the most bound terms seeds the
plan, then at each step the connected pattern (shares a variable) with
the most bound terms joins next, so intermediate cardinality stays near
the final answer's. A disconnected pattern graph would force a cross
join; that is refused unless ``allow_cartesian=True``.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_POS = ("subj", "pred", "obj")

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_str(term) -> str | None:
    """A literal pattern term as a Spark SQL string literal, or None when
    the text would depend on the parser (a quote or backslash, read
    differently under ``spark.sql.parser.escapedStringLiterals``; a
    ``$``, which variable substitution may rewrite) or the term is not
    a string: those compare through ``F.lit``."""
    if not isinstance(term, str) or any(ch in term for ch in "'\\$"):
        return None
    return "'" + term + "'"


def _expr_vars(expr: str, known: frozenset[str]) -> frozenset[str]:
    """Variable names a FILTER expression references: every identifier
    token that is a declared pattern variable. A variable name that
    shadows a SQL function name would be misattributed — pick variable
    names that aren't function calls in the same filter."""
    return frozenset(_IDENT.findall(expr)) & known


def match_pattern(
    triples: DataFrame,
    patterns: Sequence[tuple[str, str, str]],
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    distinct: bool = False,
    allow_cartesian: bool = False,
    optionals: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    filters: Sequence[str] | None = None,
    not_exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
) -> DataFrame:
    """Match a conjunction of triple patterns against ``triples`` and
    return one row per binding of the pattern's variables.

    Each pattern is a (subject, predicate, object) tuple; a term
    starting with ``?`` is a variable, anything else is a literal the
    triple component must equal. The result has one column per distinct
    variable (name without the ``?``), multiset semantics over the
    input (duplicate triples produce duplicate bindings) unless
    ``distinct=True``.

    A variable repeated within one pattern constrains components to be
    equal (``("?x", "knows", "?x")`` matches self-loops); repeated
    across patterns it becomes the join key. Bindings follow SQL
    equality, so triples with a NULL component never match a variable
    shared across patterns (inner-join semantics) — and are filtered
    from single-pattern scans too, keeping one-pattern and multi-pattern
    queries consistent.

    ``optionals`` — SPARQL OPTIONAL groups: each group (itself a
    pattern list) is matched as its own BGP and LEFT-joined on the
    variables it shares with the required block, so its new variables
    come back NULL where the group has no match. Only well-designed
    queries are accepted: a group must share at least one variable with
    the required block (anything else is a disguised cross join), and
    two groups may not introduce the same new variable (SPARQL's
    compatibility-merge semantics for that case are not left-join
    expressible; split the query instead).

    ``filters`` — SPARQL FILTER constraints as Spark SQL boolean
    expressions over the variable names (``"age > 30"``,
    ``"a < b"``, ``"label LIKE 'Acme%'"``). Filters are row-local
    deterministic predicates, so each one is PUSHED to the earliest
    point its variables are bound: into the per-pattern scan when one
    pattern binds them all (riding predicate pushdown into the parquet
    scan), after the first join step that completes them otherwise, and
    after the OPTIONAL joins for filters over optional variables —
    where a NULL (unmatched) binding makes the comparison NULL and the
    row is dropped, SPARQL's error-is-false FILTER semantics. An
    identifier that is not a declared variable falls through to the SQL
    analyzer (function names resolve; an undeclared variable surfaces
    as an unresolved-column error).

    ``not_exists`` — SPARQL FILTER NOT EXISTS groups: each group is
    matched as its own BGP, projected to the variables it shares with
    the required block, and removed from the result with one anti-join
    (the group's private variables are purely existential). Applied
    after the required joins and before OPTIONAL groups; a group must
    share at least one required variable.
    """
    if not patterns:
        raise ValueError("patterns must be non-empty")
    cols = {"subj": subj_col, "pred": pred_col, "obj": obj_col}

    declared = frozenset(
        t[1:]
        for grp in ([patterns] + [list(g) for g in (optionals or [])])
        for pat in grp
        for t in pat
        if _is_var(t)
    )
    pend: list[tuple[str, frozenset[str]]] = [
        (f, _expr_vars(f, declared)) for f in (filters or [])
    ]
    handled: set[int] = set()

    scans: list[tuple[DataFrame, frozenset[str], int]] = []
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be a 3-tuple, got {pat!r}")
        # One where (the AND of every term condition) and one select per
        # scan, given as SQL text where possible: every classic-PySpark
        # DataFrame call re-analyzes the plan, and every Column
        # expression built in Python is one more Py4J round trip.
        conds = []
        lit_conds = []  # literal terms with no parser-independent text
        n_bound = 0
        var_at: dict[str, list[str]] = {}
        for pos, term in zip(_POS, pat):
            c = _sql_ident(cols[pos])
            if _is_var(term):
                var_at.setdefault(term[1:], []).append(c)
                conds.append(f"{c} IS NOT NULL")
            else:
                lit = _sql_str(term)
                if lit is None:
                    lit_conds.append(F.col(cols[pos]) == F.lit(term))
                else:
                    conds.append(f"{c} = {lit}")
                n_bound += 1
        if not var_at:
            # Fully bound pattern: keep it as an existence filter by
            # exposing a constant-free 1-row-per-match frame is useless;
            # model it as a scan with a dummy column joined via cross —
            # simplest correct reading: it contributes its multiplicity.
            raise ValueError(
                "fully-bound patterns carry no variables; filter them "
                "upstream or add a variable"
            )
        sel = []
        for v, at in var_at.items():
            # same variable twice in one pattern: components must be equal
            conds += [f"{a} = {b}" for a, b in zip(at, at[1:])]
            sel.append(f"{at[0]} AS {_sql_ident(v)}")
        cond = " AND ".join(conds)
        if lit_conds:
            cond = F.expr(cond)
            for lc in lit_conds:
                cond = cond & lc
        scan_df = triples.where(cond).selectExpr(*sel)
        # scan-level FILTER pushdown: applied at EVERY scan binding all
        # of a filter's variables (a shared variable narrows each side)
        for k, (fexpr, vs) in enumerate(pend):
            if vs and vs <= set(var_at):
                scan_df = scan_df.where(F.expr(fexpr))
                handled.add(k)
        scans.append((scan_df, frozenset(var_at), n_bound))

    # Greedy connected join order: most-bound pattern first, then the
    # most-bound pattern sharing a variable with what's already joined.
    remaining = list(range(len(scans)))
    remaining.sort(key=lambda i: -scans[i][2])
    order = [remaining.pop(0)]
    bound_vars = set(scans[order[0]][1])
    while remaining:
        nxt = None
        for i in remaining:  # kept in selectivity order
            if scans[i][1] & bound_vars:
                nxt = i
                break
        if nxt is None:
            if not allow_cartesian:
                raise ValueError(
                    "pattern graph is disconnected; pass "
                    "allow_cartesian=True to accept the cross join"
                )
            nxt = remaining[0]
        remaining.remove(nxt)
        order.append(nxt)
        bound_vars |= scans[nxt][1]

    out = scans[order[0]][0]
    seen = set(scans[order[0]][1])
    for i in order[1:]:
        df, vars_i, _ = scans[i]
        shared = sorted(seen & vars_i)
        out = (
            out.join(df, on=shared, how="inner")
            if shared
            else out.crossJoin(df)
        )
        seen |= vars_i
        for k, (fexpr, vs) in enumerate(pend):
            if k not in handled and vs and vs <= seen:
                out = out.where(F.expr(fexpr))
                handled.add(k)
    for g, grp in enumerate(not_exists or []):
        # SPARQL FILTER NOT EXISTS: drop bindings for which the group
        # matches under the shared variables — one anti-join; the
        # group's private variables are existential and never surface.
        # Groups must connect through REQUIRED variables (a group over
        # an optional/unknown variable is refused: anti-joining on a
        # possibly-NULL binding silently keeps every NULL row).
        gdf = match_pattern(
            triples, grp, subj_col, pred_col, obj_col,
            allow_cartesian=allow_cartesian,
        )
        shared = sorted(seen & set(gdf.columns))
        if not shared:
            raise ValueError(
                f"not_exists group {g} shares no variable with the "
                "required patterns — its (non-)existence is "
                "binding-independent; test it separately with ask()"
            )
        out = out.join(gdf.select(*shared).distinct(), on=shared,
                       how="left_anti")
    introduced: set[str] = set()
    for g, grp in enumerate(optionals or []):
        gdf = match_pattern(
            triples, grp, subj_col, pred_col, obj_col,
            allow_cartesian=allow_cartesian,
        )
        shared = sorted(seen & set(gdf.columns))
        if not shared:
            raise ValueError(
                f"optional group {g} shares no variable with the "
                "required patterns (not well-designed)"
            )
        dup = set(gdf.columns) & introduced
        if dup:
            raise ValueError(
                f"optional group {g} references variable(s) "
                f"{sorted(dup)} bound by an earlier optional group — "
                "joining on a possibly-NULL binding is not left-join "
                "expressible; split the query"
            )
        introduced |= set(gdf.columns) - seen
        out = out.join(gdf, on=shared, how="left")
        seen |= set(gdf.columns)
        for k, (fexpr, vs) in enumerate(pend):
            if k not in handled and vs and vs <= seen:
                out = out.where(F.expr(fexpr))
                handled.add(k)
    for k, (fexpr, _vs) in enumerate(pend):
        if k not in handled:  # constants / undeclared identifiers
            out = out.where(F.expr(fexpr))
    if distinct:
        out = out.distinct()
    return out


def match_union(
    triples: DataFrame,
    *alternatives: Sequence[tuple[str, str, str]],
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    distinct: bool = False,
) -> DataFrame:
    """SPARQL UNION: each alternative is its own BGP; bindings concat
    with bag semantics, variables absent from an alternative coming
    back NULL (``unionByName(allowMissingColumns=True)``, exactly the
    SPARQL unbound behaviour)."""
    if not alternatives:
        raise ValueError("at least one alternative required")
    out = None
    for alt in alternatives:
        m = match_pattern(triples, alt, subj_col, pred_col, obj_col)
        out = m if out is None else out.unionByName(
            m, allowMissingColumns=True)
    return out.distinct() if distinct else out


def path_preds(pred: str | Sequence[str]) -> list[str]:
    """The predicate names a path element set touches (``^`` prefixes
    stripped) — what a store read needs for partition pruning."""
    elems = [pred] if isinstance(pred, str) else list(pred)
    return sorted({p.lstrip("^") for p in elems})


def match_path(
    triples: DataFrame,
    pred: str | Sequence[str],
    min_hops: int = 1,
    max_hops: int = 3,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Bounded SPARQL property path ``pred{min_hops,max_hops}``:
    distinct (src, dst, hops) pairs connected by a chain of 1..k
    ``pred`` edges, ``hops`` = the SHORTEST chain length within the
    bound (existence semantics — each reachable pair appears once, not
    once per path).

    ``pred`` is one path element or a list = SPARQL alternation
    (``p1|p2``); an element prefixed ``^`` is the inverse path
    (traversed object→subject), so ``["knows", "^knows"]`` walks the
    undirected closure and ``"^parent"`` is ``child``. Each step of
    the chain may use any element (the alternation's union edge set).

    Scale shape: BFS by join rounds. The per-element edge lists are
    partition-pruned scans of a by-predicate triple store
    (sources/sinks.py write_triples); each round is one equi-join of
    the frontier against their deduped union, and the frontier is
    DEDUPED to distinct pairs per round, so cyclic/dense graphs cost
    |reachable pairs| per round, never path-multiplicity. Unbounded
    ``p+`` is deliberately not offered — at web scale an unbounded
    transitive closure is a quadratic output; callers pick the bound
    they can afford (the same stance as pathsearch.find_paths'
    max_hops).
    """
    if not (1 <= min_hops <= max_hops):
        raise ValueError("need 1 <= min_hops <= max_hops")
    elems = [pred] if isinstance(pred, str) else list(pred)
    if not elems:
        raise ValueError("pred must name at least one path element")
    e = None
    for el in elems:
        name = el.lstrip("^")
        s, o = (obj_col, subj_col) if el.startswith("^") \
            else (subj_col, obj_col)
        one = (
            triples.filter(F.col(pred_col) == F.lit(name))
            .select(F.col(s).alias("src"), F.col(o).alias("dst"))
        )
        e = one if e is None else e.unionByName(one)
    e = (
        e.filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )
    frontier = e.withColumn("hops", F.lit(1))
    acc = frontier
    for k in range(2, max_hops + 1):
        frontier = (
            frontier.select(F.col("src"), F.col("dst").alias("mid"))
            .join(e.withColumnRenamed("src", "mid"), "mid")
            .select("src", "dst")
            .dropDuplicates(["src", "dst"])
            .withColumn("hops", F.lit(k))
        )
        acc = acc.unionByName(frontier)
    # length filter BEFORE the min: SPARQL p{m,n} matches a pair with
    # SOME path of length in [m, n] even when a shorter out-of-range
    # path exists, so `hops` is the shortest length WITHIN the bound
    return (
        acc.filter(F.col("hops").between(min_hops, max_hops))
        .groupBy("src", "dst")
        .agg(F.min("hops").alias("hops"))
    )


def match_pattern_store(
    spark: SparkSession,
    path: str,
    patterns: Sequence[tuple[str, str, str]],
    distinct: bool = False,
    allow_cartesian: bool = False,
    optionals: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    filters: Sequence[str] | None = None,
    not_exists: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    exclude_segs: tuple[str, ...] = (),
    order_by_stats: bool = False,
) -> DataFrame:
    """Run a BGP (with OPTIONAL groups and FILTERs) directly against an
    incremental triple store (operators/triple_store.py) — the full
    query path of the service: crawl increments fold into the store at
    delta cost, and queries read the current canonical view without any
    caller-side plumbing.

    Scale shape: the store is partitioned by ``(pred, seg)``, so when
    every pattern binds its predicate to a literal (the common SPARQL
    case) the store read is restricted to exactly those predicates —
    file-level partition pruning; a 100 TB store with 10^4 predicates
    reads only the queried ones. Each pattern's own ``pred = lit``
    filter additionally pushes through the patch-fold joins into its
    scan (the patch join touches subj/obj only, so Catalyst moves the
    predicate below it). Any variable-predicate pattern falls back to
    the full (still patch-folded) view.

    ``order_by_stats`` spends one pruned count per queried predicate to
    break the greedy join order's bound-term ties toward the smallest
    predicate (partition stats as the cardinality estimate — the
    SPARQL-on-SQL selectivity heuristic); results are order-invariant,
    only the plan shape changes.
    """
    groups = ([list(patterns)] + [list(g) for g in (optionals or [])]
              + [list(g) for g in (not_exists or [])])
    pred_terms = [p[1] for g in groups for p in g if len(p) == 3]
    preds = None
    if pred_terms and all(not _is_var(t) for t in pred_terms):
        preds = sorted(set(pred_terms))
    from nous_spark.operators.triple_store import read_triple_store

    view = read_triple_store(spark, path, preds=preds,
                             exclude_segs=exclude_segs)
    patterns = list(patterns)
    if order_by_stats and preds:
        # cardinality-informed join order: one metadata-cheap count per
        # queried predicate (the scan is pruned to those partitions)
        # re-sorts the patterns so match_pattern's greedy order breaks
        # bound-term ties toward the smallest predicate — the standard
        # SPARQL-on-SQL selectivity heuristic, computed from the
        # store's own partition stats rather than guessed
        counts = {
            r.pred: r.n for r in view.groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        patterns.sort(key=lambda p: counts.get(p[1], 0)
                      if not _is_var(p[1]) else float("inf"))
    return match_pattern(
        view, patterns, distinct=distinct,
        allow_cartesian=allow_cartesian, optionals=optionals,
        filters=filters, not_exists=not_exists,
    )


def construct_triples(
    bindings: DataFrame,
    template: Sequence[tuple[str, str, str]],
    distinct: bool = True,
) -> DataFrame:
    """SPARQL CONSTRUCT: instantiate ``template`` triple patterns once
    per binding row (``bindings`` is a ``match_pattern`` result — one
    column per variable). A ``?var`` term pulls the binding's value;
    anything else is emitted literally. Template rows with a NULL
    binding for any referenced variable are skipped for that pattern
    only (SPARQL: incomplete triples are not emitted — the OPTIONAL
    case), and the default ``distinct=True`` gives CONSTRUCT's
    graph-as-set semantics.

    Scale shape: one narrow select + filter per template pattern,
    unioned — no joins, no shuffle beyond the final distinct (skipped
    with ``distinct=False`` when the consumer dedups downstream, e.g.
    a triple-store build)."""
    if not template:
        raise ValueError("template must be non-empty")
    out = None
    for pat in template:
        if len(pat) != 3:
            raise ValueError(f"template entry must be a 3-tuple: {pat!r}")
        cols = []
        for pos, term in zip(_POS, pat):
            if _is_var(term):
                v = term[1:]
                if v not in bindings.columns:
                    raise ValueError(
                        f"template references unbound variable ?{v}")
                cols.append(F.col(v).alias(pos))
            else:
                cols.append(F.lit(term).alias(pos))
        one = bindings.select(*cols)
        # NULL-skip: an instantiation with any NULL component (an
        # OPTIONAL variable that missed) is not emitted
        cond = None
        for c in _POS:
            cnd = F.col(c).isNotNull()
            cond = cnd if cond is None else (cond & cnd)
        out_pat = one.where(cond)
        out = out_pat if out is None else out.unionByName(out_pat)
    return out.distinct() if distinct else out


def ask(
    triples: DataFrame,
    patterns: Sequence[tuple[str, str, str]],
    optionals: Sequence[Sequence[tuple[str, str, str]]] | None = None,
    filters: Sequence[str] | None = None,
) -> bool:
    """SPARQL ASK: does at least one binding exist? Compiled as the
    BGP with ``limit(1)`` — Spark short-circuits the scan chain via
    CollectLimit, so a hit on an early partition never runs the full
    join. Returns a Python bool (a deliberate 1-row driver read)."""
    m = match_pattern(triples, patterns, optionals=optionals,
                      filters=filters)
    return len(m.limit(1).collect()) > 0


def match_path_store(
    spark: SparkSession,
    path: str,
    pred: str | Sequence[str],
    min_hops: int = 1,
    max_hops: int = 3,
    exclude_segs: tuple[str, ...] = (),
) -> DataFrame:
    """Bounded property path answered straight from an incremental
    triple store: the read is pruned to the path's predicates (the
    ``(pred, seg)`` partition layout makes each element one
    partition's worth of files), and the patch chain keeps endpoints
    canonical across increments."""
    from nous_spark.operators.triple_store import read_triple_store

    view = read_triple_store(spark, path, preds=path_preds(pred),
                             exclude_segs=exclude_segs)
    return match_path(view, pred, min_hops=min_hops, max_hops=max_hops)
