"""SPARQL-style basic-graph-pattern (BGP) queries compiled to
DataFrame self-joins over the (subj, pred, obj) triple table.

The reference queries its graph through hand-written Cypher MATCH
strings (/root/reference/src/database/graph_database.py:307-326);
`motif.motif_find` covers the edge-pattern side of that surface.
This module covers the TRIPLE-pattern side: a list of
``(subject, predicate, object)`` patterns — terms starting with ``?``
are variables, everything else is a constant — compiled into one
filtered projection of the triple scan per pattern, joined on shared
variables. SPARQL ``OPTIONAL`` blocks become left joins after all
required patterns.

Scale shape: constants are pushed into each arm's `Filter` BEFORE any
join (predicate+object pushdown reaching the parquet scan is what
keeps a 10^12-triple BGP feasible — each arm reads only its
predicate's slice). Join order is chosen greedily: most-constant
(most selective) arm first, then always an arm sharing a variable
with the bound set — a disconnected required pattern is a cartesian
product and raises instead. k patterns ⇒ k−1 equi-joins shuffling
(subj-or-obj)-keyed rows, exactly the hand-written star-join plan
(kg_star_join) generalized.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_VAR_RX = re.compile(r"^\?[A-Za-z_]\w*$")


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _check(term: str) -> str:
    if _is_var(term) and not _VAR_RX.match(term):
        raise ValueError(f"invalid variable name: {term!r}")
    return term


def _arm(triples: DataFrame, pattern) -> tuple[DataFrame, set]:
    """One pattern -> a filtered projection whose columns are the
    pattern's variable names (sans '?'). Duplicate variables inside a
    pattern become equality filters, not duplicate columns."""
    s, p, o = (_check(t) for t in pattern)
    cols = dict(zip(("subj", "pred", "obj"), (s, p, o)))
    df = triples
    for col, term in cols.items():
        if not _is_var(term):
            df = df.filter(F.col(col) == F.lit(term))
    # within-pattern repeated variables: equality constraints
    byvar: dict[str, list[str]] = {}
    for col, term in cols.items():
        if _is_var(term):
            byvar.setdefault(term[1:], []).append(col)
    for cs in byvar.values():
        for extra in cs[1:]:
            df = df.filter(F.col(cs[0]) == F.col(extra))
    if not byvar:
        raise ValueError(f"pattern {pattern!r} binds no variable")
    df = df.select(*[F.col(cs[0]).alias(v) for v, cs in byvar.items()])
    return df, set(byvar)


def property_path(triples: DataFrame, pred: str, max_hops: int,
                  start: str | None = None) -> DataFrame:
    """All (s, o) pairs connected by 1..max_hops consecutive ``pred``
    triples — SPARQL ``pred+`` with a bounded hop count.

    Frontier BFS, NOT path-doubling: `transitive_closure` (doubling)
    is right for dimension-sized hierarchies where O(log depth) rounds
    matter; a DATA-scale relation's closure is itself data-sized, so
    each round here joins only the NEW frontier against the base edges
    and anti-joins the seen set — per-round work proportional to newly
    reached pairs, the only shape that survives 10^12 triples. A
    constant ``start`` subject seeds the frontier instead of
    filtering afterwards (the difference between touching one
    component and closing the whole graph).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    base = (triples.filter(F.col("pred") == F.lit(pred))
            .select(F.col("subj").alias("s"), F.col("obj").alias("o"))
            .distinct())
    return _bfs_closure(base, max_hops, start=start)


def _bfs_closure(base: DataFrame, max_hops: int,
                 start: str | None = None) -> DataFrame:
    """1..max_hops reachability over an (s, o) pair relation —
    the frontier-BFS body shared by ``property_path`` and closed
    path-expression steps like ``(a|b)+``."""
    frontier = base.filter(F.col("s") == F.lit(start)) if start is not None \
        else base
    frontier = frontier.localCheckpoint()
    reach = frontier
    for _ in range(max_hops - 1):
        b = base.select(F.col("s").alias("__m"), "o")
        nxt = (frontier.select("s", F.col("o").alias("__m"))
               .join(b, "__m").select("s", "o").distinct())
        new = nxt.join(reach, ["s", "o"], "left_anti").localCheckpoint()
        if new.isEmpty():
            break
        reach = reach.unionByName(new).localCheckpoint()
        frontier = new
    return reach


_ATOM_RX = re.compile(r"^\^?[A-Za-z_][\w:.-]*$")


def is_path_expr(p: str) -> bool:
    """True if a predicate term is a SPARQL 1.1 path expression rather
    than a plain predicate: it uses sequence ``/``, alternation ``|``,
    inverse ``^``, closure ``+``, or grouping parens."""
    return not _is_var(p) and any(c in p for c in "/|^+()!")


def _parse_path(expr: str) -> list[tuple[list[tuple[str, bool]], bool, bool]]:
    """Parse a path expression into sequence steps.

    Grammar (the pragmatic SPARQL 1.1 subset):
      path  := step ('/' step)*
      step  := set | set '+'
      set   := alt | '(' alt ')' | '^(' alt ')' | '!' pred | '!(' preds ')'
      alt   := atom ('|' atom)*
      atom  := pred | '^' pred

    Returns ``[(alts, closed, negated), ...]`` where ``alts`` is
    ``[(pred, inverse), ...]``, ``closed`` marks a ``+`` step, and
    ``negated`` marks a negated property set (one forward hop via any
    predicate NOT listed; inverse atoms are rejected inside ``!`` —
    the forward subset of SPARQL's negated sets). Nesting deeper than
    one paren level (e.g. ``((a/b)|c)+``) is rejected — each step is
    one union (or one anti-filter) of predicate scans, the shape that
    keeps every step a single arm at 10^12 triples.
    """
    steps = []
    for raw in expr.split("/"):
        step = raw.strip()
        if not step:
            raise ValueError(f"empty step in path {expr!r}")
        closed = step.endswith("+")
        if closed:
            step = step[:-1]
        group_inv = negated = False
        if step.startswith("!"):
            negated, step = True, step[1:]
            if step.startswith("(") and step.endswith(")"):
                step = step[1:-1]
        elif step.startswith("^(") and step.endswith(")"):
            group_inv, step = True, step[2:-1]
        elif step.startswith("(") and step.endswith(")"):
            step = step[1:-1]
        if "(" in step or ")" in step:
            raise ValueError(
                f"unsupported nesting in path step {raw!r} of {expr!r}")
        alts = []
        for atom in step.split("|"):
            atom = atom.strip()
            if not _ATOM_RX.match(atom):
                raise ValueError(
                    f"invalid path atom {atom!r} in {expr!r}")
            if negated and atom.startswith("^"):
                raise ValueError(
                    f"inverse atom {atom!r} not supported inside a "
                    f"negated property set in {expr!r}")
            # ^(a|^b) == ^a|b: a group-level inverse flips each atom
            alts.append((atom.lstrip("^"),
                         atom.startswith("^") ^ group_inv))
        steps.append((alts, closed, negated))
    return steps


def _step_pairs(triples: DataFrame, alts: list[tuple[str, bool]],
                negated: bool = False) -> DataFrame:
    """One path step -> its (s, o) pair relation: a union of
    predicate-filtered projections, subj/obj swapped for inverse
    atoms. Each branch is a pushed-down predicate scan; the union is
    map-side (no shuffle until the consumer asks for one). A negated
    property set is ONE anti-filtered scan instead —
    ``NOT pred IN (...)`` pushes down exactly like the positive
    form."""
    if negated:
        return (triples
                .filter(~F.col("pred").isin([p for p, _ in alts]))
                .select(F.col("subj").alias("s"),
                        F.col("obj").alias("o"))
                .distinct())
    parts = []
    for pred, inv in alts:
        t = triples.filter(F.col("pred") == F.lit(pred))
        s, o = ("obj", "subj") if inv else ("subj", "obj")
        parts.append(t.select(F.col(s).alias("s"), F.col(o).alias("o")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def path_pairs(triples: DataFrame, expr: str, max_hops: int,
               start: str | None = None) -> DataFrame:
    """All (s, o) node pairs connected by a SPARQL 1.1 path
    expression — sequence ``a/b``, alternation ``a|b``, inverse
    ``^a``, and per-step closure ``a+`` / ``(a|b)+`` (bounded at
    ``max_hops``), composable: ``^(hasColor|hasMaterial)/complements``.

    Negated property sets ``!a`` / ``!(a|b)`` (one hop via any
    predicate NOT listed) compile to one anti-filtered scan and
    compose with the rest: ``!(type)/hasColor``.

    SPARQL property paths have set (non-counting) semantics, so every
    step distincts its pairs. A constant ``start`` is pushed into the
    FIRST step (filter for a plain step, BFS seed for a closed one) —
    the difference between touching one entity's slice and
    materializing the whole relation before filtering. Sequence
    composition is one equi-join per ``/`` on the intermediate node —
    k steps ⇒ k−1 shuffles, never a driver loop over rows.
    """
    cur = None
    for i, (alts, closed, negated) in enumerate(_parse_path(expr)):
        base = _step_pairs(triples, alts, negated=negated)
        seed = start if i == 0 else None
        if closed:
            pairs = _bfs_closure(base, max_hops, start=seed)
        elif seed is not None:
            pairs = base.filter(F.col("s") == F.lit(seed))
        else:
            pairs = base
        if cur is None:
            cur = pairs
        else:
            nxt = pairs.select(F.col("s").alias("__m"), "o")
            cur = (cur.select("s", F.col("o").alias("__m"))
                   .join(nxt, "__m").select("s", "o").distinct())
    return cur


def join_arms(arms: list[tuple[DataFrame, set]],
              patterns) -> tuple[DataFrame, set]:
    """Greedy join planner over pre-built arms: start at the
    most-constant (most selective) arm, then always take an arm
    sharing >=1 bound variable. Raises on disconnected patterns
    (cartesian products). Shared by ``bgp_query`` and the rule
    engine's semi-naive body instantiation."""
    order = sorted(range(len(arms)),
                   key=lambda i: (-sum(not _is_var(t)
                                       for t in patterns[i]), i))
    pending = list(order)
    first = pending.pop(0)
    out, bound = arms[first]
    while pending:
        nxt = next((i for i in pending if arms[i][1] & bound), None)
        if nxt is None:
            raise ValueError(
                "disconnected required pattern (cartesian product): "
                f"{[patterns[i] for i in pending]} share no variable "
                f"with {sorted(bound)}")
        pending.remove(nxt)
        df, vs = arms[nxt]
        out = out.join(df, on=sorted(vs & bound), how="inner")
        bound |= vs
    return out, bound


def _path_arm(triples: DataFrame, pattern,
              max_hops: int) -> tuple[DataFrame, set]:
    """``(s, <path expr>, o)`` pattern -> node-pairs arm (``pred+``,
    ``a/b``, ``a|b``, ``^a``, and their compositions)."""
    s, p, o = (_check(t) for t in pattern)
    pairs = path_pairs(triples, p, max_hops,
                       start=None if _is_var(s) else s)
    byvar: dict[str, list[str]] = {}
    for col, term in (("s", s), ("o", o)):
        if _is_var(term):
            byvar.setdefault(term[1:], []).append(col)
        else:
            pairs = pairs.filter(F.col(col) == F.lit(term))
    if not byvar:
        raise ValueError(f"pattern {pattern!r} binds no variable")
    for cs in byvar.values():
        for extra in cs[1:]:
            pairs = pairs.filter(F.col(cs[0]) == F.col(extra))
    pairs = pairs.select(*[F.col(cs[0]).alias(v)
                           for v, cs in byvar.items()])
    return pairs, set(byvar)


def bgp_query(triples: DataFrame,
              patterns: list[tuple[str, str, str]],
              optionals: list[tuple[str, str, str]] | None = None,
              negations: list[tuple[str, str, str]] | None = None,
              filters: list | None = None,
              values: tuple[list[str], list[tuple]] | None = None,
              distinct: bool = True,
              path_hops: int = 8) -> DataFrame:
    """Match a basic graph pattern; returns one column per variable.

    ``patterns`` are required (inner joins); ``optionals`` are
    SPARQL-OPTIONAL (left joins, unmatched -> NULL); ``negations``
    are SPARQL FILTER NOT EXISTS (anti-joins on the shared variables
    — bindings with ANY match of the negated pattern are dropped);
    ``filters`` are Column predicates over the bound variables,
    applied after all joins; ``values`` is a SPARQL VALUES block
    ``(["?v", ...], [(row...), ...])`` constraining bound variables to
    an inline relation. A predicate written ``pred+`` is a SPARQL
    property path (1..``path_hops`` consecutive hops, bounded
    frontier BFS). With ``distinct=True`` (default) the result is the
    set of variable bindings; ``False`` keeps bag semantics
    (duplicate triples multiply matches, as in SPARQL without
    DISTINCT).

    Scale shape of VALUES: a single-variable block becomes an `isin`
    predicate — Catalyst pushes it through the joins into the arm
    scans (`PushedFilters: In(...)`) so a 10^12-triple pattern seeded
    with 20 entities reads only those slices. A multi-variable block
    becomes an inner join with an explicitly `broadcast()` literal
    relation (VALUES blocks are query-sized, never data-sized).
    """
    if not patterns:
        raise ValueError("BGP needs at least one required pattern")

    def build(p):
        return _path_arm(triples, p, path_hops) \
            if is_path_expr(p[1]) else _arm(triples, p)

    arms = [build(p) for p in patterns]
    out, bound = join_arms(arms, patterns)
    for pat in negations or []:
        df, vs = build(pat)
        shared = sorted(vs & bound)
        if not shared:
            raise ValueError(
                f"negated pattern {pat!r} shares no variable with "
                "the required block")
        out = out.join(df.select(*shared).distinct(), on=shared,
                       how="left_anti")
    for pat in optionals or []:
        df, vs = build(pat)
        shared = sorted(vs & bound)
        if not shared:
            raise ValueError(
                f"OPTIONAL pattern {pat!r} shares no variable with "
                "the required block")
        out = out.join(df, on=shared, how="left")
        bound |= vs
    if values is not None:
        vvars, vrows = values
        if not vvars or not vrows:
            raise ValueError("VALUES needs variables and rows")
        vcols = [v[1:] if _is_var(v) else v for v in vvars]
        missing = [c for c in vcols if c not in bound]
        if missing:
            raise ValueError(
                f"VALUES variables not bound by the pattern: {missing}"
                f" (bound: {sorted(bound)})")
        if len(vcols) == 1:
            out = out.filter(
                F.col(vcols[0]).isin([r[0] if isinstance(r, (tuple, list))
                                      else r for r in vrows]))
        else:
            lit = triples.sparkSession.createDataFrame(
                vrows, ", ".join(f"{c} string" for c in vcols)).distinct()
            out = out.join(F.broadcast(lit), on=vcols, how="inner")
    for cond in filters or []:
        out = out.filter(cond)
    return out.distinct() if distinct else out


def bgp_aggregate(triples: DataFrame,
                  patterns: list[tuple[str, str, str]],
                  group_by: list[str],
                  aggs: dict,
                  having=None,
                  values: tuple[list[str], list[tuple]] | None = None,
                  distinct: bool = True) -> DataFrame:
    """SPARQL ``SELECT ?g (agg(?x) AS name) ... GROUP BY ?g [HAVING]``
    over a basic graph pattern.

    ``group_by`` lists grouping variables (``?v`` or bare names);
    ``aggs`` maps output column name -> aggregate Column over the
    bound variable columns (e.g. ``F.countDistinct("a")``); ``having``
    is an optional predicate over the aggregated columns. With
    ``distinct=True`` (default, matching ``bgp_query``) aggregates run
    over the solution SET; ``False`` keeps SPARQL's bag-of-solutions
    semantics (duplicate triples multiply into the counts).

    Scale shape: the grouping is one hash aggregation over the joined
    pattern — Spark's partial (map-side) aggregation applies, so the
    shuffle carries one row per (partition, group), not per solution;
    HAVING prunes after the final merge. No new join machinery: the
    pattern block reuses ``bgp_query``'s pushed-down, greedily-ordered
    plan.
    """
    if not group_by:
        raise ValueError("GROUP BY needs at least one variable")
    if not aggs:
        raise ValueError("bgp_aggregate needs at least one aggregate")
    keys = [v[1:] if _is_var(v) else v for v in group_by]
    sol = bgp_query(triples, patterns,
                    values=values, distinct=distinct)
    missing = [k for k in keys if k not in sol.columns]
    if missing:
        raise ValueError(
            f"GROUP BY variables not bound by the pattern: {missing} "
            f"(bound: {sorted(sol.columns)})")
    out = sol.groupBy(*keys).agg(
        *[c.alias(name) for name, c in aggs.items()])
    return out.filter(having) if having is not None else out


def bgp_topk(triples: DataFrame,
             patterns: list[tuple[str, str, str]],
             order_by: list,
             k: int,
             group_by: list[str] | None = None,
             aggs: dict | None = None) -> DataFrame:
    """SPARQL solution modifiers ``ORDER BY ... LIMIT k`` over a BGP
    (optionally grouped: pass ``group_by``+``aggs`` to rank aggregate
    rows instead of raw solutions).

    ``order_by`` entries are Columns (``F.desc("n")``) or ``?var`` /
    bare column names (ascending). Callers should make the order total
    (tiebreak on a key column) — LIMIT under a non-total order is
    nondeterministic in SPARQL and in Spark alike.

    Scale shape: ``orderBy(...).limit(k)`` compiles to
    ``TakeOrderedAndProject`` — each partition keeps a k-row heap and
    the driver merges ONE k-row slice per partition; nothing global is
    ever sorted. The global-window rank over an unpartitioned table
    (the plan this repo's test_plans pins against) is exactly what
    this avoids.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not order_by:
        raise ValueError("ORDER BY needs at least one key")
    if group_by or aggs:
        sol = bgp_aggregate(triples, patterns, group_by or [],
                            aggs or {})
    else:
        sol = bgp_query(triples, patterns)
    keys = [F.col(o[1:]) if isinstance(o, str) and _is_var(o)
            else (F.col(o) if isinstance(o, str) else o)
            for o in order_by]
    return sol.orderBy(*keys).limit(k)
