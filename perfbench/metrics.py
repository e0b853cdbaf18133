"""Names and units of every metric the benchmark reports.

BENCHMARK.json lists the same names; test_smoke.py checks that they
agree and that every run reports each one.
"""

from workloads import QUERIES

# (name, unit) — reported by every workload with --trace 0
END_TO_END = (
    ("pass_s", "s"),          # median wall time of one measured pass
    ("items_per_s", "1/s"),   # docs (new docs for an increment) or queries
    ("output_mb", "MB"),      # live bytes of the committed KG tables
    ("setup_s", "s"),
)

STAGES = ("linked", "canonical", "edges", "triples_base", "triples_comp",
          "nodes")

# (name, unit) — reported by every workload with --trace 1, per measured
# pass; a layer the workload does not reach reads 0
PER_LAYER = (
    ("trace.pass_s", "s"),
    # driver JVM + Python workers during the passes; the JVM's resident
    # heap follows its GC timing, so this varies too much run to run to
    # hold an end-to-end bound
    ("peak_rss_mb", "MB"),
    *((f"pipeline.{st}.s", "s") for st in STAGES),
    ("pipeline.other.s", "s"),
    ("pipeline.coverage", "ratio"),
    ("pipeline.jobs", "count"),
    ("linking.s", "s"),
    ("linking.mentions_in", "count"),
    ("linking.linked_out", "count"),
    ("linking.link_ratio", "ratio"),
    ("linking.arrow_mb_to_py", "MB"),
    ("linking.arrow_mb_from_py", "MB"),
    ("linking.py_run_s", "s"),
    ("components.s", "s"),
    ("components.dup_pairs", "count"),
    ("components.jobs", "count"),
    ("edges.s", "s"),
    ("edges.pairs", "count"),
    ("edges.rows", "count"),
    ("edges.max_images", "count"),
    ("tables.commit_s", "s"),
    ("tables.commits", "count"),
    ("tables.files_written", "count"),
    ("tables.mb_written", "MB"),
    ("tables.write_amp", "ratio"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.gc_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.slot_util", "ratio"),
    ("spark.driver_only_s", "s"),
    *((f"q.{q}.{part}_s", "s") for q in QUERIES for part in ("eager", "run")),
)
