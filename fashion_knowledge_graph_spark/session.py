"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live, so tests / bench / prod use
identical plans. Defaults target a multi-executor cluster; in this
sandbox ``local[N]`` stands in (N vs 4N cores evidences the
north_rule's two-cluster-size scaling criterion).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession


def get_spark(app: str = "fkg", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              executors: int | None = None,
              cores_per_executor: int = 4,
              executor_mem_mb: int = 8192) -> SparkSession:
    """``executors=None`` → ``local[cpus]`` (one JVM, N task threads).

    ``executors=K`` → ``local-cluster[K, cores, mem]``: K real executor
    JVMs with separate heaps, Python worker pools, and local dirs —
    the faithful stand-in for a K-executor cluster (single-JVM local
    mode concentrates shuffle, GC, and page-table traffic in one
    process and stops scaling past ~8 threads on this box; see
    BENCH.md)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                                  len(os.sched_getaffinity(0))))
    py_files = None
    if executors is not None:
        os.environ.setdefault("SPARK_HOME", os.path.dirname(
            __import__("pyspark").__file__))
        master = f"local-cluster[{executors},{cores_per_executor},{executor_mem_mb}]"
        cpus = executors * cores_per_executor
        # executor JVMs spawn their own Python workers, which do not
        # inherit the driver's sys.path — ship the package exactly as
        # spark-submit --py-files would
        py_files = _package_zip()
        # NB: the local-cluster mem argument is WORKER capacity;
        # spark.executor.memory (default 1g!) is what the executor JVM
        # actually gets — set it to the capacity we asked for
        os.environ["SPARK_EXECUTOR_MEMORY"] = f"{executor_mem_mb}m"
    else:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~2× cores locally; on a real cluster this is set to
        # 2-3× total executor cores (or left to AQE coalescing).
        shuffle_partitions = max(cpus * 2, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        # AQE: runtime coalescing, skew-join splitting — required at
        # 100 TB where static planning can't see the data
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # independent pipeline stages are submitted from driver threads
        # (plans/pipeline.py): FAIR lets a small stage's tasks slot into
        # a big stage's tail instead of queueing behind the whole job
        .config("spark.scheduler.mode", "FAIR")
        # every executor is on this host: waiting for node/process
        # locality only idles cores (shuffle-read tasks were observed
        # stalling 3 s tails); on a real cluster tune per topology
        .config("spark.locality.wait", "0s")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT96 (the legacy default) carries NO min/max statistics, so
        # timestamp predicates can prune neither parquet row groups nor
        # SnapshotTable manifests — at 100 TB, time-range queries would
        # full-scan. TIMESTAMP_MICROS is the modern spec type with
        # full stats (and what Iceberg mandates).
        .config("spark.sql.parquet.outputTimestampType",
                "TIMESTAMP_MICROS")
        # Arrow is the UDF hot path (model-inference stand-ins)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # dims (taxonomy ~80 rows, catalog small at test scale) broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # local mode: ALL task threads share the driver JVM heap — size
        # it for the parallelism level or GC inverts the scaling curve
        # (observed: local[32] slower than local[8] at 8g)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # dedup/linking operators localCheckpoint shared subtrees;
        # the blocks are freed by the ContextCleaner, which only runs
        # on DRIVER GC — with a large heap that can be 30+ min away
        # (spark.cleaner.periodicGC.interval default), so a session
        # running many operator calls accumulates dead checkpoint
        # blocks until storage pressure evicts live ones (measured:
        # progressive 2-5× slowdown across repeated dedup calls).
        # Hourly-GC default → every 60 s — paired with
        # ExplicitGCInvokesConcurrent below, without which each
        # periodic System.gc() is a stop-the-world FULL collection
        # (measured +65% on the 16-core KG build: 251 s vs 152 s).
        .config("spark.cleaner.periodicGC.interval", "60s")
        # G1 turns explicit System.gc() into a concurrent cycle: the
        # ContextCleaner's periodic GC reclaims checkpoint blocks
        # without pausing the scheduler or the task threads
        .config("spark.driver.extraJavaOptions",
                "-XX:+ExplicitGCInvokesConcurrent")
        .config("spark.executor.extraJavaOptions",
                "-XX:+ExplicitGCInvokesConcurrent")
        # one BLAS thread per Python worker: N workers × M BLAS threads
        # oversubscribes instantly (kernels are already batch-parallel)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    # Shuffle/spill on tmpfs when available: this box has one local
    # disk, and at 32 concurrent task threads shuffle-file I/O becomes
    # the scaling bottleneck (a real cluster spreads this across
    # per-executor local disks).
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
    try:
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    except OSError:
        pass
    if py_files:
        b = b.config("spark.submit.pyFiles", py_files)
    if executors is not None:
        b = b.config("spark.executor.memory", f"{executor_mem_mb}m")
    return b.getOrCreate()


@functools.cache
def package_sources() -> tuple[str, list[str]]:
    """(md5 hex over every ``.py`` file of this package — relative path
    and bytes, in sorted order —, their absolute paths). Keys whatever
    is derived from the code: the executor zip and cached fixture
    worlds. Computed once per process, like the modules it loaded."""
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(pkg_dir)
                   if "__pycache__" not in d
                   for f in files if f.endswith(".py"))
    h = hashlib.md5()
    for p in paths:
        h.update(os.path.relpath(p, pkg_dir).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest(), paths


def _package_zip() -> str:
    """Zip this package (once per content hash) for --py-files
    shipping to executor Python workers."""
    import zipfile

    digest, paths = package_sources()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(
        os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        f"fkg_pkg_{digest[:12]}.zip")
    if not os.path.exists(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in paths:
                z.write(p, os.path.relpath(p, root))
        os.replace(tmp, out)
    return out
