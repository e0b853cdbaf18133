"""Spans around the program's layer entry points, plus the Spark event log.

The benchmark never edits program code. ``Tracer.install`` replaces the
public entry points of each layer with wrappers defined here (the way
``tests/test_pipeline.py`` monkeypatches ``lk.link_lsh``); each wrapper
records a span (name, layer, thread, start, end) and tags the Spark jobs
its thread submits with the thread-local property ``perfbench.span``.
``build()`` runs stages on ``ThreadPoolExecutor`` threads, so the tag is
set inside the thread that runs the stage, never inherited from the
caller.

``EventLog`` parses the JSON-lines event log that Spark writes when the
traced run enables ``spark.eventLog.enabled``: per-job submission and
completion times, the job's ``perfbench.span`` tag, per-task metrics and
the Python/Arrow SQL metrics of the plans.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"

# Pipeline stages ("edges" has no stage_* call in a parallel build(): it
# starts at KGPipeline._edges_plan and ends when the edges table commit
# ends, see stage_intervals).
from metrics import STAGES

# table name → the stage that commits it (a commit that runs on a pool
# thread outside any stage span, like the deferred linked commit, still
# counts toward its stage)
TABLE_STAGE = {"linked": "linked", "processed_docs": "linked",
               "canonical": "canonical", "edges": "edges",
               "nodes": "nodes"}


class Tracer:
    """In-memory span recorder; spans are plain dicts."""

    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": stack[-1]["id"] if stack else None,
               "thread": threading.get_ident(), "start": time.time(),
               "end": None, **attrs}
        prev = self._sc.getLocalProperty(SPAN_PROP)
        self._sc.setLocalProperty(SPAN_PROP, str(sid))
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, layer: str,
             attrs=None, after=None):
        """Replace ``owner.attr`` by a spanning wrapper. ``attrs(args)``
        adds span attributes; ``after(rec, result)`` records counts."""
        real = getattr(owner, attr)

        @functools.wraps(real)
        def traced(*args, **kwargs):
            extra = attrs(args) if attrs else {}
            with self.span(name, layer, **extra) as rec:
                out = real(*args, **kwargs)
                if after is not None:
                    after(rec, out)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, real))

    def install(self):
        """Wrap every layer entry point the benchmark reaches."""
        from fashion_knowledge_graph_spark.operators import attributes as at
        from fashion_knowledge_graph_spark.operators import components as cc
        from fashion_knowledge_graph_spark.operators import edges as ed
        from fashion_knowledge_graph_spark.operators import linking as lk
        from fashion_knowledge_graph_spark.operators import mentions as mn
        from fashion_knowledge_graph_spark.plans.pipeline import KGPipeline
        from fashion_knowledge_graph_spark.sources.tables import SnapshotTable

        self.wrap(KGPipeline, "build", "build", "pipeline")
        for stage in STAGES:
            self.wrap(KGPipeline, f"stage_{stage}", stage, "pipeline")
        self.wrap(KGPipeline, "_edges_plan", "edges", "pipeline")
        for fn in ("detect_and_link_fused", "link_mentions", "link_lsh",
                   "link_exact", "fits_driver_broadcast"):
            self.wrap(lk, fn, fn, "linking")
        for fn in ("image_mentions", "text_mentions"):
            self.wrap(mn, fn, fn, "linking")
        for fn in ("canonical_mapping", "update_canonical_mapping",
                   "near_duplicate_pairs", "connected_components",
                   "canonicalize"):
            self.wrap(cc, fn, fn, "components")
        for fn in ("cooccurrence_pairs", "aggregate_edges",
                   "merge_edge_delta", "complements_triples"):
            self.wrap(ed, fn, fn, "edges")
        for fn in ("attr_triples", "lexicon_triples"):
            self.wrap(at, fn, fn, "edges")

        def table_attrs(args):
            return {"table": os.path.basename(args[0].root),
                    "root": args[0].root}

        def written(rec, sid):
            snap = os.path.join(rec["root"], "data", f"snap-{sid:08d}")
            sizes = [e.stat().st_size for e in os.scandir(snap)
                     if e.name.endswith(".parquet")]
            rec["files"], rec["bytes"] = len(sizes), sum(sizes)

        self.wrap(SnapshotTable, "write", "write", "tables",
                  attrs=table_attrs, after=written)
        self.wrap(SnapshotTable, "delete_where", "delete_where", "tables",
                  attrs=table_attrs)

    def uninstall(self):
        for owner, attr, real in reversed(self._undo):
            setattr(owner, attr, real)
        self._undo.clear()

    def within(self, windows) -> list[dict]:
        """Spans that ran entirely inside one of the (start, end) windows."""
        return [s for s in self.spans
                if any(a <= s["start"] and s["end"] <= b for a, b in windows)]


# ---- interval arithmetic -------------------------------------------------

def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fair_share(intervals: dict[str, list], lo: float, hi: float) -> dict:
    """Split [lo, hi] among named interval sets: an instant covered by k
    names gives 1/k of itself to each; uncovered time goes to None. The
    shares sum to hi - lo."""
    points = {lo, hi}
    for ivs in intervals.values():
        for s, e in ivs:
            points.update((min(max(s, lo), hi), min(max(e, lo), hi)))
    cuts = sorted(points)
    share = {name: 0.0 for name in intervals}
    share[None] = 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        active = [n for n, ivs in intervals.items()
                  if any(s <= mid < e for s, e in ivs)]
        if not active:
            share[None] += b - a
        for n in active:
            share[n] += (b - a) / len(active)
    return share


def stage_intervals(spans: list[dict], build: dict) -> dict[str, list]:
    """Activity intervals of each pipeline stage inside one build span."""
    inside = [s for s in spans
              if s["start"] >= build["start"] and s["end"] <= build["end"]]
    out: dict[str, list] = {st: [] for st in STAGES}
    edges_start = None
    for s in inside:
        if s["layer"] == "pipeline" and s["name"] in out and s is not build:
            if s["name"] == "edges":
                edges_start = s["start"] if edges_start is None \
                    else min(edges_start, s["start"])
            out[s["name"]].append((s["start"], s["end"]))
    for s in inside:
        if s["layer"] != "tables":
            continue
        stage = TABLE_STAGE.get(s["table"])
        if stage == "edges" and edges_start is not None:
            # the edges stage runs from its plan to its commit's end
            out["edges"].append((edges_start, s["end"]))
        elif stage is not None:
            out[stage].append((s["start"], s["end"]))
    return out


# ---- Spark event log -----------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"


class EventLog:
    """Jobs, tasks and Python SQL metrics from one application's log."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {len(paths)}")
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_done: set[int] = set()
        self.tasks: list[dict] = []
        self.acc_names: dict[int, str] = {}
        with open(paths[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan_metrics(self, info: dict):
        for m in info.get("metrics", []):
            self.acc_names[m["accumulatorId"]] = m["name"]
        for child in info.get("children", []):
            self._plan_metrics(child)

    def _event(self, ev: dict):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROP)
            self.jobs[jid] = {"start": ev["Submission Time"] / 1000,
                              "end": None,
                              "span": int(span) if span else None,
                              "stages": ev["Stage IDs"]}
            for sid in ev["Stage IDs"]:
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            self.stages_done.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            py = {PY_SENT: 0, PY_RETURNED: 0, PY_RUN: 0}
            for acc in info.get("Accumulables", []):
                name = acc.get("Name") or self.acc_names.get(acc["ID"])
                if name in py and "Update" in acc:
                    py[name] += int(acc["Update"])
            self.tasks.append({
                "stage": ev["Stage ID"],
                "start": info["Launch Time"] / 1000,
                "end": info["Finish Time"] / 1000,
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "py_sent": py[PY_SENT], "py_returned": py[PY_RETURNED],
                "py_run_ms": py[PY_RUN],
            })
        elif kind in ("org.apache.spark.sql.execution.ui."
                      "SparkListenerSQLExecutionStart",
                      "org.apache.spark.sql.execution.ui."
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan_metrics(ev.get("sparkPlanInfo", {}))

    def jobs_in(self, windows) -> list[dict]:
        """Jobs submitted inside any of the (start, end) windows."""
        return [dict(j, id=jid) for jid, j in self.jobs.items()
                if any(a <= j["start"] <= b for a, b in windows)]

    def tasks_of(self, jobs) -> list[dict]:
        ids = {j["id"] for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in ids]

    def spark_metrics(self, windows, cores: int) -> dict:
        """Engine metrics of the jobs submitted in the measured passes,
        per pass. Wall-time shares use the passes' own time only."""
        n = len(windows)
        jobs = self.jobs_in(windows)
        tasks = self.tasks_of(jobs)
        stages = {t["stage"] for t in tasks} & self.stages_done
        wall = sum(b - a for a, b in windows)
        run_s = sum(t["run_ms"] for t in tasks) / 1000
        busy = sum(union_length((max(t["start"], a), min(t["end"], b))
                                for t in tasks
                                if t["end"] > a and t["start"] < b)
                   for a, b in windows)
        mb = 1 / (1 << 20)
        return {
            "spark.jobs": len(jobs) / n,
            "spark.stages": len(stages) / n,
            "spark.tasks": len(tasks) / n,
            "spark.shuffle_write_mb":
                sum(t["shuffle_write"] for t in tasks) * mb / n,
            "spark.shuffle_read_mb":
                sum(t["shuffle_read"] for t in tasks) * mb / n,
            "spark.spill_mb": sum(t["spill"] for t in tasks) * mb / n,
            "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000 / n,
            "spark.executor_run_s": run_s / n,
            "spark.slot_util": run_s / (wall * cores) if wall > 0 else 0.0,
            "spark.driver_only_s": (wall - busy) / n,
        }


# ---- per-layer metrics ---------------------------------------------------

def layer_time(spans: list[dict], layer: str) -> float:
    """Time inside the layer's calls: per thread, the union of its spans
    (a call nested in a call of the same layer counts once)."""
    by_thread: dict[int, list] = {}
    for s in spans:
        if s["layer"] == layer:
            by_thread.setdefault(s["thread"], []).append((s["start"], s["end"]))
    return sum(union_length(ivs) for ivs in by_thread.values())


def layer_metrics(spans: list[dict], log: EventLog, passes: list,
                  cores: int) -> dict[str, float]:
    """Span- and event-log-derived metrics, per measured pass."""
    n = len(passes)
    m = log.spark_metrics(passes, cores)
    builds = [s for s in spans if s["layer"] == "pipeline"
              and s["name"] == "build"]
    share = {st: 0.0 for st in STAGES}
    other = wall = 0.0
    for b in builds:
        fs = fair_share(stage_intervals(spans, b), b["start"], b["end"])
        for st in STAGES:
            share[st] += fs[st]
        other += fs[None]
        wall += b["end"] - b["start"]
    for st in STAGES:
        m[f"pipeline.{st}.s"] = share[st] / n
    m["pipeline.other.s"] = other / n
    m["pipeline.coverage"] = 1 - other / wall if wall else 0.0
    build_jobs = [j for j in log.jobs_in(passes)
                  if any(b["start"] <= j["start"] <= b["end"] for b in builds)]
    m["pipeline.jobs"] = len(build_jobs) / n
    # the fused detect+link kernel is the build's only Python operator
    # (one MapInArrow node), so the Python SQL metrics of the build's
    # jobs are the linking kernel's Arrow boundary
    py = log.tasks_of(build_jobs)
    m["linking.arrow_mb_to_py"] = sum(t["py_sent"] for t in py) / (1 << 20) / n
    m["linking.arrow_mb_from_py"] = \
        sum(t["py_returned"] for t in py) / (1 << 20) / n
    m["linking.py_run_s"] = sum(t["py_run_ms"] for t in py) / 1000 / n
    span_layer = {s["id"]: s["layer"] for s in spans}
    m["components.jobs"] = sum(
        1 for j in log.jobs_in(passes)
        if span_layer.get(j["span"]) == "components") / n
    for layer, name in (("linking", "linking.s"),
                        ("components", "components.s"),
                        ("edges", "edges.s"), ("tables", "tables.commit_s")):
        m[name] = layer_time(spans, layer) / n
    writes = [s for s in spans if s["layer"] == "tables"
              and s["name"] == "write"]
    m["tables.commits"] = len(writes) / n
    m["tables.files_written"] = sum(s["files"] for s in writes) / n
    m["tables.mb_written"] = sum(s["bytes"] for s in writes) / (1 << 20) / n
    return m
