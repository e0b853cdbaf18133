"""Datalog-lite forward chaining over the triple table.

A rule is ``(body, head)``: the body is a BGP pattern list (compiled
by ``operators/bgp.py`` — joins on shared variables, constants pushed
to the scan), the head is a list of triple templates whose terms are
either body variables or constants (SPARQL ``CONSTRUCT``).
``forward_chain`` applies all rules, anti-joins the derived triples
against everything known, and repeats until no rule derives anything
new — semi-naive-ish evaluation: the fixpoint loop's per-round cost is
bounded by the NEW triples, and every round truncates lineage with a
localCheckpoint so the plan stays flat no matter how many iterations
run.

This subsumes the hand-written inference operators as rules:
symmetric completion is ``(?a complements ?b) => (?b complements ?a)``
and RDFS entailment is ``(?x hasColor ?c)(?c subClassOf ?g) =>
(?x hasColorClass ?g)`` plus subClassOf transitivity — the dedicated
operators in ``ontology.py`` remain the fast path (single broadcast
join, no fixpoint) when the rule shape is known statically.

The reference has no inference layer at all (its Cypher queries read
back only stored edges); this is the graft's ontology-reasoning
extension over the same triple model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bgp import _arm, _is_var, bgp_query, is_path_expr, join_arms


def construct(bindings: DataFrame,
              head: list[tuple[str, str, str]]) -> DataFrame:
    """SPARQL CONSTRUCT: rewrite variable bindings into triples.

    Each head template term is a ``?var`` (must be a binding column)
    or a constant. Pure projection + union — no shuffle beyond the
    trailing distinct.
    """
    cols = set(bindings.columns)
    parts = []
    for s, p, o in head:
        exprs = []
        for name, term in zip(("subj", "pred", "obj"), (s, p, o)):
            if _is_var(term):
                if term[1:] not in cols:
                    raise ValueError(
                        f"head variable {term!r} not bound by the body "
                        f"(have {sorted(cols)})")
                exprs.append(F.col(term[1:]).alias(name))
            else:
                exprs.append(F.lit(term).alias(name))
        parts.append(bindings.select(*exprs))
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.distinct()


def _delta_bindings(known: DataFrame, delta: DataFrame,
                    body) -> DataFrame | None:
    """Semi-naive body instantiation: a binding is NEW this round only
    if >=1 body atom matches a DELTA triple, so evaluate the body once
    per atom position with that position reading ``delta`` and the
    rest reading ``known``, and union the variants — per-round join
    input is delta-sized on one side instead of re-deriving every
    binding from the full set. Falls back to None (caller evaluates
    naively) when the body contains a property-path atom: a path can
    newly connect through a MIX of old and new edges, which the
    per-position substitution does not cover."""
    if any(is_path_expr(p[1]) for p in body):
        return None
    out = None
    for i in range(len(body)):
        arms = [_arm(delta if j == i else known, p)
                for j, p in enumerate(body)]
        b, _ = join_arms(arms, body)
        out = b if out is None else out.unionByName(b)
    return out.distinct()


def forward_chain(triples: DataFrame,
                  rules: list[tuple[list, list]],
                  max_iters: int = 10) -> DataFrame:
    """Apply ``rules`` = [(body_patterns, head_templates), ...] to the
    triple set until fixpoint (or ``max_iters``). Returns the closed
    triple set (originals + everything derived).

    Round 0 evaluates every rule against the full set; later rounds
    are SEMI-NAIVE — each body is instantiated once per atom with that
    atom reading only the previous round's delta (see
    ``_delta_bindings``), so steady-state per-round cost tracks the
    new triples, not the accumulated set. Path-atom bodies fall back
    to full evaluation (correctness over speed for mixed-age paths).
    """
    known = (triples.select("subj", "pred", "obj").distinct()
             .localCheckpoint())
    delta = known
    first = True
    for _ in range(max_iters):
        derived = None
        for body, head in rules:
            b = None if first else _delta_bindings(known, delta, body)
            if b is None:
                b = bgp_query(known, body)
            d = construct(b, head)
            derived = d if derived is None else derived.unionByName(d)
        first = False
        new = (derived.distinct()
               .join(known, ["subj", "pred", "obj"], "left_anti")
               .localCheckpoint())
        if new.isEmpty():
            break
        known = known.unionByName(new).localCheckpoint()
        delta = new
    return known


def mine_propagation_rules(triples: DataFrame, rel_pred: str,
                           attr_preds: list[str]) -> DataFrame:
    """AMIE-style rule mining for the attribute-propagation template
    ``p(x, v) ∧ rel(x, y) ⇒ p(y, v)`` — one row per candidate
    predicate p with its support and both confidence estimates
    (Galárraga et al., AMIE 2013):

      n_body   distinct (x, y, v) groundings of the body
      n_pos    groundings where the head also holds (support)
      n_pca    groundings where y asserts ANY p value (the PCA
               denominator — y's missing values are unknown, not
               false, under the open-world assumption)
      std_conf n_pos / n_body,  pca_conf n_pos / n_pca

    Scale shape per predicate: the p-slice filters before any join
    (predicate pushdown), the body join is keyed on entity x, the
    head / PCA probes are keyed (y, v) and (y) — every count is an
    exact integer aggregated map-side; the two confidences are single
    deterministic divisions at the end. The relation is used
    symmetrized, matching the undirected complements semantics.
    """
    rel = (triples.filter(F.col("pred") == rel_pred)
           .select(F.col("subj").alias("x"), F.col("obj").alias("y")))
    rel = (rel.unionByName(rel.select(F.col("y").alias("x"),
                                      F.col("x").alias("y")))
           .distinct())
    out = None
    for p in attr_preds:
        tp = (triples.filter(F.col("pred") == p)
              .select(F.col("subj").alias("x"),
                      F.col("obj").alias("v")).distinct())
        body = rel.join(tp, "x").select("x", "y", "v").distinct()
        head = tp.select(F.col("x").alias("y"),
                         "v")
        has_any = tp.select(F.col("x").alias("y")).distinct()
        pos = body.join(head, ["y", "v"], "left_semi")
        pca = body.join(has_any, ["y"], "left_semi")
        row = (body.agg(F.count(F.lit(1)).alias("n_body"))
               .crossJoin(pos.agg(F.count(F.lit(1)).alias("n_pos")))
               .crossJoin(pca.agg(F.count(F.lit(1)).alias("n_pca")))
               .select(
                   F.lit(f"{p}(x,v) & {rel_pred}(x,y) => {p}(y,v)")
                   .alias("rule"),
                   "n_body", "n_pos", "n_pca",
                   (F.col("n_pos").cast("double")
                    / F.col("n_body").cast("double"))
                   .alias("std_conf"),
                   (F.col("n_pos").cast("double")
                    / F.col("n_pca").cast("double"))
                   .alias("pca_conf")))
        out = row if out is None else out.unionByName(row)
    return out


def mine_value_associations(triples: DataFrame,
                            preds: list[str],
                            min_support: int = 2) -> DataFrame:
    """Cross-attribute association rules (Apriori 1-item rules with
    lift): for unordered predicate pairs p_a < p_b, every value pair
    co-asserted by >= ``min_support`` entities, with

      confidence = n_both / n_a
      lift       = (n_both * N) / (n_a * n_b)

    where N is the number of distinct asserting entities. All counts
    are exact integers; confidence/lift are single deterministic
    float divisions at the end — the KB-curation signal for "black
    goes with leather"-style value correlations the reference's LLM
    prompt bakes in implicitly.

    Scale shape: the assertion self-join is keyed on entity with
    per-entity attribute fan-out bounded by the taxonomy; the rollup
    key is the value PAIR (vocabulary², a dimension); per-value
    support tables are vocabulary-sized and broadcast back.
    """
    t = (triples.filter(F.col("pred").isin(preds))
         .select(F.col("subj").alias("s"), F.col("pred").alias("p"),
                 F.col("obj").alias("v")).distinct())
    n_total = t.select("s").distinct().count()
    a, b = t.alias("a"), t.alias("b")
    both = (a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.p") < F.col("b.p")))
            .groupBy(F.col("a.p").alias("pred_a"),
                     F.col("a.v").alias("val_a"),
                     F.col("b.p").alias("pred_b"),
                     F.col("b.v").alias("val_b"))
            .agg(F.countDistinct("a.s").alias("n_both"))
            .filter(F.col("n_both") >= min_support))
    sup = (t.groupBy("p", "v")
           .agg(F.countDistinct("s").alias("n")))
    return (both
            .join(F.broadcast(sup.select(
                F.col("p").alias("pred_a"),
                F.col("v").alias("val_a"),
                F.col("n").alias("n_a"))), ["pred_a", "val_a"])
            .join(F.broadcast(sup.select(
                F.col("p").alias("pred_b"),
                F.col("v").alias("val_b"),
                F.col("n").alias("n_b"))), ["pred_b", "val_b"])
            .select("pred_a", "val_a", "pred_b", "val_b",
                    "n_both", "n_a", "n_b",
                    (F.col("n_both").cast("double")
                     / F.col("n_a").cast("double"))
                    .alias("confidence"),
                    ((F.col("n_both") * F.lit(n_total))
                     .cast("double")
                     / (F.col("n_a") * F.col("n_b")).cast("double"))
                    .alias("lift")))
