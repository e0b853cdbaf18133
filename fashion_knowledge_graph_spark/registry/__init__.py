"""Query registry: every query is one ``(spark, sf_dir) -> DataFrame``
function, declared once with ``@query`` next to its DuckDB oracle.

A query's name is its function name. The family modules listed in
``FAMILIES`` hold the declarations; ``queries()`` and ``oracle_sql()``
import them on first use, so importing this package stays cheap.

Float discipline: every float column crossing the Spark/DuckDB hash
compare is rounded to 6 (scores) or 2 (currency sums via exact
DECIMAL accumulation) decimals on BOTH sides, and sums that would
accumulate in float are computed in DECIMAL so the result is
order-independent. Portable hash families (md5-derived shingle hashes,
mod-prime MinHash lanes, md5 SimHash token bits) were chosen so even
the LSH candidate sets replay exactly.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

FAMILIES = ("relational", "lakehouse", "events", "text", "dedup",
            "vectors", "graph", "stats", "kg")

_QUERIES: dict[str, Callable] = {}
_ORACLES: dict[str, str | Callable[[], str]] = {}
_HEADLINE: list[str] = []
_WAIVED: dict[str, str] = {}


def query(oracle: str | Callable[[], str], headline: bool = False,
          waive: str | None = None):
    """Register the decorated function under its name.

    ``oracle`` is the DuckDB SQL whose result must equal the query's,
    or a zero-argument callable returning it (for SQL built from shared
    fragments or the fixture world's paths; only ``oracle_sql()`` calls
    it). ``headline`` puts the query in ``bench.py``'s headline set;
    ``waive`` says why ``tools/plan_lint.py`` accepts its flagged plan.
    """
    def register(fn):
        name = fn.__name__
        if name in _QUERIES:
            raise ValueError(f"query {name!r} is declared twice")
        _QUERIES[name] = fn
        _ORACLES[name] = oracle
        if headline:
            _HEADLINE.append(name)
        if waive is not None:
            _WAIVED[name] = waive
        return fn
    return register


def _load_families() -> None:
    for family in FAMILIES:
        importlib.import_module(f"{__name__}.{family}")


def queries() -> dict[str, Callable]:
    _load_families()
    return dict(_QUERIES)


def oracles() -> dict[str, str | Callable[[], str]]:
    """The declared oracles, not evaluated: no world is built."""
    _load_families()
    return dict(_ORACLES)


def sql_of(name: str) -> str:
    oracle = _ORACLES[name]
    return oracle() if callable(oracle) else oracle


def oracle_sql() -> dict[str, str]:
    _load_families()
    return {name: sql_of(name) for name in _ORACLES}


def headline() -> list[str]:
    _load_families()
    return list(_HEADLINE)


def waivers() -> dict[str, str]:
    _load_families()
    return dict(_WAIVED)
