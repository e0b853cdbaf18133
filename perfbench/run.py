"""KG-construction benchmark: one command, named workloads, checked outputs.

Run from the repository root:

    python3 perfbench/run.py --workload build_fresh --seed 1 --seconds 12 --trace 0

Workloads (perfbench/workloads.py): ``build_fresh`` and ``query_suite``.
One closed-loop client on ``local[nproc]``: set-up, then a fixed number
of measured passes back to back, round(``--seconds`` / the workload's
nominal pass time), each pass's output checked outside the timed
region. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` the layer entry points are wrapped
(perfbench/tracing.py), Spark writes an event log, and the line carries
the per-layer metrics instead. The line before it records the host
sizing the run used.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root and is removed when the run ends. Exit code 0 means the
result line was printed; a missing program or a failed set-up exits 1
without one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_sizing() -> tuple[int, int]:
    """(task slots, driver heap MB): every CPU this process may use, and a
    quarter of MemAvailable clamped to [1, 8] GB — in local mode all task
    threads share the driver heap, and the host is shared."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemAvailable:"))
    return cpus, min(max(avail_kb // 1024 // 4, 1024), 8192)


def configure(work: str, cpus: int, heap_mb: int, trace: bool) -> dict:
    """Point the session factory and every scratch path into ``work``."""
    dirs = {k: os.path.join(work, k)
            for k in ("spark-local", "tmp", "events", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_LOCAL_DIR": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']}",
        # Python workers import the package from the checkout whatever
        # the working directory
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": dirs["warehouse"]}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + dirs["events"],
                     # one plain JSON-lines file, parsed after stop()
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    import tempfile
    tempfile.tempdir = dirs["tmp"]
    return dirs


# ---- process tree ----------------------------------------------------------

def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process, its descendants, and
    the descendants they have reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process and its descendants (the
    driver JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop_evt.wait(0.2)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def stop_spark(spark, timeout: float = 60.0):
    """Stop the session, then the JVM it launched, and wait until every
    descendant process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout)
    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


# ---- the run ---------------------------------------------------------------

class Ctx:
    """What a workload gets: the session, its scratch dir, seed and size."""

    def __init__(self, spark, work, seed, size):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size


def measure(args, cpus: int, work: str, dirs: dict) -> dict:
    """Set up, run the measured passes, check, and derive the metrics.
    Stops the session (and its JVM) before returning."""
    sys.path.insert(0, ROOT)
    from fashion_knowledge_graph_spark.session import get_spark

    import workloads as wl
    from metrics import END_TO_END, PER_LAYER

    spark = get_spark("perfbench")
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
        w = wl.WORKLOADS[args.workload](Ctx(spark, work, args.seed, args.size))
        w.prepare(os.path.join(work, "input"))
        w.warm()
        setup_s = time.time() - T_START

        rss = RssSampler()
        if tracer is not None:
            rss.start()
        passes, cpu, items, errors, failed = [], [], 0, [], 0
        counts = {"mentions": 0, "linked": 0}
        # A fixed pass count, not a deadline: build times keep falling
        # for many builds after set-up (the JVM is still compiling), so a
        # run must sample the same builds of that curve every time.
        n_passes = max(1, round(args.seconds / w.nominal_s))
        while len(passes) < n_passes:
            t0, c0 = time.time(), tree_cpu_s()
            try:
                n = w.run_pass(len(passes))
            except Exception as e:      # a failed operation is counted
                failed += 1
                errors.append(f"pass {len(passes)}: {type(e).__name__}: {e}")
                break
            t1 = time.time()
            cpu.append(tree_cpu_s() - c0)
            passes.append((t0, t1))
            items += n
            counts["mentions"] += w.mentions_in()
            try:
                w.check_pass(len(passes) - 1)
            except AssertionError as e:
                errors.append(str(e))
                break
        peak_rss = rss.stop() if tracer is not None else 0
        if passes:
            counts["linked"] = w.linked_rows() * len(passes)
            out_bytes = w.output_bytes()
            graph = w.graph_stats()
    finally:
        stop_spark(spark)

    walls = [b - a for a, b in passes]
    result = {"correct": not errors and bool(passes),
              "attempted": len(passes) + failed, "failed": failed,
              "errors": errors, "walls": [round(x, 3) for x in walls],
              "cpu": [round(x, 3) for x in cpu]}
    if not passes:
        result["metrics"] = {}
        return result
    pass_s = statistics.median(walls)
    if not args.trace:
        raw = {"pass_s": pass_s,
               "items_per_s": items / len(walls) / pass_s,
               "output_mb": out_bytes / (1 << 20),
               "setup_s": setup_s}
        metrics = {name: (raw[name], unit) for name, unit in END_TO_END}
    else:
        from tracing import EventLog, layer_metrics

        raw = layer_metrics(tracer.within(passes), EventLog(dirs["events"]),
                            passes, cpus)
        n = len(passes)
        raw.update(graph)
        raw["linking.mentions_in"] = counts["mentions"] / n
        raw["linking.linked_out"] = counts["linked"] / n
        raw["linking.link_ratio"] = (counts["linked"] / counts["mentions"]
                                     if counts["mentions"] else 0.0)
        raw["tables.write_amp"] = (raw["tables.mb_written"]
                                   / (out_bytes / (1 << 20))
                                   if out_bytes else 0.0)
        raw["trace.pass_s"] = pass_s
        raw["peak_rss_mb"] = peak_rss / (1 << 20)
        for q, ts in w.query_times().items():
            raw[f"q.{q}.eager_s"] = statistics.median(t[0] for t in ts)
            raw[f"q.{q}.run_s"] = statistics.median(t[1] for t in ts)
        metrics = {name: (raw.get(name, 0.0), unit)
                   for name, unit in PER_LAYER}
    result["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in metrics.items()}
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("build_fresh", "query_suite"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench",
                    help="input size; tiny is for the smoke test")
    args = ap.parse_args(argv)

    missing = [p for p in ("fashion_knowledge_graph_spark",
                           "__spark_entry__.py", "tools/check_entry.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing under {ROOT}: "
              f"{', '.join(missing)}", file=sys.stderr)
        return 1
    cpus, heap_mb = host_sizing()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        dirs = configure(work, cpus, heap_mb, bool(args.trace))
        print(json.dumps({"host": {"cpus": cpus, "driver_mem_mb": heap_mb,
                                   "local_dir": dirs["spark-local"]},
                          "workload": args.workload, "seed": args.seed}),
              flush=True)
        result = measure(args, cpus, work, dirs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:        # left in place while another run still uses it
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for e in result.pop("errors"):
        print(f"perfbench: {e}", file=sys.stderr)
    print(f"perfbench: pass walls {result.pop('walls')}", file=sys.stderr)
    print(f"perfbench: pass cpu {result.pop('cpu')}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
