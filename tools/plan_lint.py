"""Plan lint: walk EVERY ``queries()`` entry's physical plan and flag
scale-killer shapes before they ship.

Checked per query (formatted explain, final AQE-planned tree):

- ``CartesianProduct`` — a non-broadcast cross join is quadratic in
  the corpus; only broadcast nested-loop joins (1-row thresholds,
  scalar aggregates) are acceptable cross shapes.
- unpartitioned ``Window`` — ``Window [...], []`` sorts the whole
  table in ONE task. Allowed only when the input is already bounded
  (a ``TakeOrderedAndProject``/``GlobalLimit`` or scalar aggregate
  upstream); the lint flags any unpartitioned window whose subtree
  has no row-limiting operator.

A flagged query is WAIVED when its ``@query`` declaration carries a
``waive`` reason: its unpartitioned window provably runs over a
DIMENSION-sized input the plan-text check cannot see, and the reason
names the bound. Everything corpus-sized was migrated to the
range-partitioned two-pass forms (topk.global_rank /
ntile_distributed / global_prefix_sum).

Usage: python tools/plan_lint.py [sf_dir] [query ...]
Spark runs at ``local[$SPARK_GRAFT_CPUS]`` (default: the process's CPU
affinity).
Exit code 1 if any query is flagged.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

# operators that bound the row count reaching a global sort: a
# per-partition top-k prune (WindowGroupLimit partial), an explicit
# limit, or a TakeOrdered heap. A bare HashAggregate is NOT exempt —
# grouped aggregates can still be corpus-sized.
BOUNDED = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit",
           "WindowGroupLimit")


def lint_plan(plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct (non-broadcast cross join)")
    # windowspecdefinition(<partition cols...>, <order> ASC/DESC ...,
    # specifiedwindowframe(...)) — if the FIRST argument already
    # carries a sort direction, the partition column list is empty:
    # the window sorts the whole input in one task
    for m in re.finditer(r"windowspecdefinition\(([^,()]*[^,()]),",
                         plan):
        first = m.group(1).strip()
        if re.search(r"\b(ASC|DESC)\b", first):
            if not any(b in plan for b in BOUNDED):
                flags.append(
                    "unpartitioned Window over unbounded input")
            break
    return flags


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else \
        "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import io
    import contextlib

    import __spark_entry__ as entry
    from fashion_knowledge_graph_spark import registry
    from fashion_knowledge_graph_spark.session import get_spark

    spark = get_spark("plan-lint")
    bad = 0
    qs = entry.queries()
    waived = registry.waivers()
    for name in sorted(qs):
        if only and name not in only:
            continue
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            flags = lint_plan(buf.getvalue())
        except Exception as e:                      # noqa: BLE001
            flags = [f"plan build error: {e}"]
        if flags and name in waived:
            print(f"WAIVE {name:32s} {waived[name]}")
            continue
        if flags:
            bad += 1
            print(f"FLAG  {name:32s} {'; '.join(flags)}")
    print(f"== {bad} flagged of {len(only) if only else len(qs)} ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
