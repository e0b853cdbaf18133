"""GraphFrames-style motif finding compiled to DataFrame self-joins.

The reference stack leans on a graph database for pattern queries and
the north star names "GraphFrames-style" DataFrame graph processing;
this module gives the engine that API natively: a small motif pattern
language compiled into a join plan over a plain edge DataFrame — no
vertex/edge RDDs, no external graph library.

Pattern language (a subset of GraphFrames' `find`):

- ``(a)-[e]->(b)``   directed edge term; ``a``/``b`` bind vertex
  columns, a NAMED edge alias ``e`` exports every non-endpoint edge
  attribute as ``e_<attr>`` columns (``[]`` = anonymous edge).
- ``!(a)-[]->(b)``   negated term: no edge from ``a`` to ``b`` may
  exist (anti-join). Negated edges must be anonymous and both
  endpoints must already be bound by positive terms.
- ``()``             anonymous vertex: matches anything, exports no
  column, never constrains joins across terms.
- terms are ``;``-separated and must form a CONNECTED pattern (each
  positive term after the first shares ≥1 bound vertex alias) — a
  disconnected pattern is a cartesian product and raises instead.

Execution shape: each positive term is one projection of the edge
table joined in on the shared vertex aliases — k terms ⇒ k−1
hash-joins shuffling on vertex keys, exactly the plan a hand-written
wedge/triangle query would use (triangle_counts' degree-ordered
orientation remains the right tool when counts, not bindings, are the
goal). Negations become LEFT ANTI joins after all positive terms.
Duplicate edges multiply matches (join semantics — GraphFrames
behaves identically); ``.distinct()`` the edge input when that is
not wanted.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TERM_RX = re.compile(
    r"^(?P<neg>!?)\((?P<a>\w*)\)-\[(?P<e>\w*)\]->\((?P<b>\w*)\)$")


def _parse(pattern: str):
    terms = []
    for raw in pattern.split(";"):
        raw = raw.strip()
        if not raw:
            continue
        m = _TERM_RX.match(re.sub(r"\s+", "", raw))
        if not m:
            raise ValueError(f"unparsable motif term: {raw!r}")
        t = m.groupdict()
        if t["neg"] and t["e"]:
            raise ValueError(
                f"negated terms must use an anonymous edge: {raw!r}")
        terms.append(t)
    if not any(not t["neg"] for t in terms):
        raise ValueError("motif needs at least one positive term")
    return terms


def motif_find(edges: DataFrame, pattern: str) -> DataFrame:
    """Find every binding of ``pattern`` in the directed edge list →
    one column per named vertex alias plus ``<edge>_<attr>`` columns
    for named edge aliases.

    >>> motif_find(e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
    open wedges — the 2-hop recommendation frontier.
    """
    terms = _parse(pattern)
    attr_cols = [c for c in edges.columns if c not in ("src", "dst")]
    anon = 0
    out: DataFrame | None = None
    bound: set[str] = set()

    def vertex_alias(name: str) -> str:
        nonlocal anon
        if name:
            return name
        anon += 1
        return f"__anon{anon}"

    for t in (t for t in terms if not t["neg"]):
        a = vertex_alias(t["a"])
        b = vertex_alias(t["b"])
        if a == b:
            raise ValueError(
                f"self-loop terms are not supported: ({a})->({b})")
        cols = [F.col("src").alias(a), F.col("dst").alias(b)]
        if t["e"]:
            cols += [F.col(c).alias(f'{t["e"]}_{c}') for c in attr_cols]
        term_df = edges.select(*cols)
        if out is None:
            out = term_df
        else:
            keys = sorted(bound & {a, b})
            if not keys:
                raise ValueError(
                    "disconnected motif pattern (term shares no "
                    f"bound vertex): ({t['a']})-[...]->({t['b']})")
            out = out.join(term_df, keys)
        bound |= {a, b}

    for t in (t for t in terms if t["neg"]):
        if not (t["a"] and t["b"]) or not {t["a"], t["b"]} <= bound:
            raise ValueError(
                "negated terms need both endpoints bound by "
                f"positive terms: !({t['a']})-[]->({t['b']})")
        neg = edges.select(F.col("src").alias(t["a"]),
                           F.col("dst").alias(t["b"])).distinct()
        out = out.join(neg, [t["a"], t["b"]], "left_anti")

    keep = [c for c in out.columns if not c.startswith("__anon")]
    return out.select(*keep)
