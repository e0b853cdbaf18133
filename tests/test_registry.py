"""The query registry: one declaration per name, every query with an
oracle, and a fixture world built once however many callers race."""

from __future__ import annotations

import os
import threading
import time

import pytest

from fashion_knowledge_graph_spark import registry
from fashion_knowledge_graph_spark.registry import world


def test_second_declaration_of_a_name_raises():
    qs = registry.queries()

    def p2_anti_join(spark, sf):
        raise AssertionError("never registered")

    with pytest.raises(ValueError, match="declared twice"):
        registry.query(oracle="SELECT 1")(p2_anti_join)
    assert registry.queries()["p2_anti_join"] is qs["p2_anti_join"]


def test_listing_builds_no_world(monkeypatch):
    def boom(*args, **kwargs):
        raise AssertionError("listing the registry built a world")

    from fashion_knowledge_graph_spark.registry import kg

    for mod in (world, kg):
        monkeypatch.setattr(mod, "_kg_world", boom)
    monkeypatch.setattr(world, "_build_world", boom)
    qs, oracles = registry.queries(), registry.oracles()
    assert len(qs) == 313
    assert set(oracles) == set(qs)
    assert all(isinstance(o, str) or callable(o) for o in oracles.values())
    assert set(registry.headline()) <= set(qs)
    assert set(registry.waivers()) <= set(qs)


def test_concurrent_world_builders_build_once(tmp_path):
    fix = str(tmp_path / "fix")
    done = os.path.join(fix, "_WORLD_COMPLETE")
    calls = []

    def build():
        calls.append(threading.get_ident())
        time.sleep(0.3)
        os.makedirs(fix, exist_ok=True)
        open(done, "w").close()
        return "built"

    results = []
    threads = [threading.Thread(
        target=lambda: results.append(world._build_once(fix, done, build)))
        for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert len(calls) == 1
    assert results.count("built") == 1 and results.count(None) == 5
