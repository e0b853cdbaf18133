"""Rotating sample of the driver's DuckDB oracle gate as pytest.

``tools/check_entry.py`` can gate all 260+ queries (~12 min); this
module runs a SEEDED ROTATING 25-query sample so oracle drift is
caught between driver rounds without paying the full gate each CI run.
The seed is the current git HEAD: deterministic within a commit
(re-runs pick the same sample), rotating across commits (every query
gets sampled every ~10 commits in expectation).

Deselected by default (pytest.ini addopts) — run with::

    python -m pytest -m oracle -q          # ~2-5 min at sf0.01

First run on a machine without a cached KG fixture world may add
~1-2 min if a kg_* query is sampled (the world materializes once to
/tmp and is reused).
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from tools.check_entry import TABLES, value_hash  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SAMPLE_SF",
                        "/root/testdata/sf0.01")
SAMPLE_SIZE = 25

pytestmark = [
    pytest.mark.oracle,
    pytest.mark.skipif(not os.path.isdir(SF_DIR),
                       reason=f"testdata {SF_DIR} not present"),
]


def _seed() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=_REPO,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "no-git"
    except Exception:
        return "no-git"


def _sample_names() -> list[str]:
    if not os.path.isdir(SF_DIR):
        return []
    # declared oracles, not evaluated: collecting builds no world
    from fashion_knowledge_graph_spark import registry

    names = sorted(registry.oracles())
    seed = _seed()
    names.sort(key=lambda n: hashlib.md5(f"{seed}:{n}".encode()).hexdigest())
    return sorted(names[:SAMPLE_SIZE])


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", _sample_names())
def test_oracle_sample(spark, duck, name):
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
    import __spark_entry__ as entry

    spdf = entry.queries()[name](spark, SF_DIR).toPandas()
    opdf = duck.execute(entry.oracle_sql()[name]).df()
    assert len(spdf) == len(opdf), \
        f"{name}: rows {len(spdf)} != oracle {len(opdf)}"
    assert sorted(spdf.columns) == sorted(opdf.columns), \
        f"{name}: cols {sorted(spdf.columns)} != {sorted(opdf.columns)}"
    assert value_hash(spdf) == value_hash(opdf), \
        f"{name}: value hash mismatch vs oracle"
