"""Smoke test of the benchmark at tiny size (a few minutes on 4 cores).

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload through the command line, checks each reported
metric against BENCHMARK.json by name and unit, and checks that the
output checks fire on deliberately corrupted output.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import run
from checks import CheckFailed, live_files
from metrics import END_TO_END, PER_LAYER
from workloads import WORKLOADS, BuildFresh, QuerySuite

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload: str, trace: int, cwd: str = run.ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def test_spec_matches_reported_metrics():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == \
        list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == \
        list(PER_LAYER)
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_reports_every_metric(workload, trace):
    p = bench(workload, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    host = json.loads(lines[-2])["host"]
    assert host["cpus"] >= 1 and host["driver_mem_mb"] >= 1024
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == dict(want)
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(run.HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = bench("build_fresh", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()


# ---- the checks fire on corrupted output -----------------------------------

@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    cpus, heap_mb = run.host_sizing()
    run.configure(work, cpus, heap_mb, trace=False)
    sys.path.insert(0, run.ROOT)
    from fashion_knowledge_graph_spark.session import get_spark

    spark = get_spark("perfbench-smoke")
    yield run.Ctx(spark, work, 5, "tiny")
    run.stop_spark(spark)


def corrupt(warehouse: str, table: str, col: str, value):
    """Overwrite one value in the first live data file of ``table``."""
    path = live_files(os.path.join(warehouse, table))[0]
    t = pq.read_table(path).to_pandas()
    t.loc[0, col] = value
    pq.write_table(pa.Table.from_pandas(t, preserve_index=False), path)


def ready(cls, ctx, tag):
    w = cls(ctx)
    w.prepare(os.path.join(ctx.work, tag))
    w.warm()
    w.run_pass(0)
    w.check_pass(0)
    return w


def test_fresh_build_check_fires(ctx):
    w = ready(BuildFresh, ctx, "fresh")
    corrupt(w.wh, "triples", "obj", "corrupted")
    with pytest.raises(CheckFailed):
        w.check_pass(1)


def test_query_suite_check_fires(ctx):
    w = ready(QuerySuite, ctx, "suite")
    w.run_pass(1)
    q = w.order[0]
    w.results[q] = w.results[q].iloc[1:]
    with pytest.raises(CheckFailed):
        w.check_pass(1)
