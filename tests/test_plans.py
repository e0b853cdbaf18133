"""Physical-plan regression tests — the plan-audit claims in BENCH.md
as executable assertions, so a future change that reintroduces a
shuffle, a second Arrow hop, or an unpruned scan fails CI instead of
silently costing 10× at scale."""

import contextlib
import io

from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.functions import text as tx
from fashion_knowledge_graph_spark.operators import linking as lk


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_fused_link_plan_is_one_map_stage(spark, docs_df, catalog_df):
    """detect_and_link_fused: zero exchanges, exactly one Arrow kernel
    — the whole mention+linking map path is one pipelined stage."""
    import re

    plan = _plan(lk.detect_and_link_fused(docs_df,
                                          lk.pack_catalog(catalog_df)))
    assert "Exchange" not in plan, plan
    # one kernel node (formatted output lists each node twice: once in
    # the tree, once as a "(n) MapInArrow" detail section)
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1, plan
    # no pandas/Arrow eval besides the fused kernel
    assert "ArrowEvalPython" not in plan, plan


def test_exact_link_projects_vectors_before_window(spark, docs_df,
                                                   catalog_df):
    """link_exact computes the cosine map-side and drops BOTH 512-d
    embedding columns before the top-k window exchange (~30× shuffle
    bytes otherwise)."""
    from fashion_knowledge_graph_spark.operators import mentions as mn

    plan = _plan(lk.link_exact(mn.image_mentions(docs_df), catalog_df))
    # SHUFFLE exchanges (the window) must not carry embedding columns;
    # the BroadcastExchange of the catalog dim legitimately does
    shuffle_sections = [s for s in plan.split("\n(")
                        if s.split(" ", 1)[-1].startswith("Exchange")]
    assert shuffle_sections, plan
    for s in shuffle_sections:
        assert "embedding" not in s, s


def test_documents_scan_is_column_pruned(spark, tmp_path):
    """A two-column projection must reach the parquet scan as a
    two-column ReadSchema."""
    import pandas as pd

    p = str(tmp_path / "docs.parquet")
    pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c d"],
                  "extra1": ["x", "y"], "extra2": [1.0, 2.0]}) \
        .to_parquet(p)
    df = spark.read.parquet(p)
    out = df.select("doc_id", tx.token_count(F.col("text")).alias("n"))
    plan = _plan(out)
    assert "ReadSchema: struct<doc_id" in plan, plan
    assert "extra1" not in plan.split("ReadSchema")[1][:200], plan


def test_lang_id_is_zero_shuffle_map(spark, tmp_path):
    """lang_id is one codegen'd projection pipelined into the scan:
    no exchange, no join, no aggregate, no window — pure map tasks at
    any scale (replaced the explode→broadcast-join→groupBy→window
    plan, which shuffled ~|tokens| rows twice)."""
    import pandas as pd

    p = str(tmp_path / "d2.parquet")
    pd.DataFrame({"doc_id": [1], "text": ["the a of"]}).to_parquet(p)
    df = spark.read.parquet(p)
    plan = _plan(tx.lang_id(df))
    for node in ("Exchange", "Join", "HashAggregate", "Window",
                 "Generate"):
        assert node not in plan, (node, plan)
    assert "* Project" in plan, plan   # '*' = whole-stage codegen


def test_ann_rerank_is_arrow_not_interpreted_hof(spark):
    """The ANN re-rank (shared by cosine/lsh/ivf strategies) must run
    as the Arrow dot kernel, not Catalyst aggregate/zip_with lambdas
    (interpreted per element — the round-2 verdict's hot-loop defect),
    and the top-k window exchange must not carry vector columns."""
    from fashion_knowledge_graph_spark.operators import similarity as sim

    rows = [(i, [float(i % 5), 1.0, 0.5, 2.0]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 3)
    for out in (sim.cosine_topk(q, emb, k=2),
                sim.ivf_topk(q, emb, k=2, ncentroids=2, nprobe=2)):
        plan = _plan(out)
        assert "zip_with" not in plan, plan
        assert "aggregate(" not in plan, plan
        assert "MapInArrow" in plan, plan
        shuffle_sections = [s for s in plan.split("\n(")
                            if s.split(" ", 1)[-1].startswith("Exchange")]
        for s in shuffle_sections:
            assert "q_vec" not in s and "c_vec" not in s, s


def test_edges_plan_shuffles_narrow_rows_only(spark, docs_df, catalog_df,
                                              tmp_path):
    """The pair self-join must shuffle only (doc_id, span_idx,
    product_id, category) — the ten attribute columns riding the
    exchange (round-2 shape, plus a redundant repartitionByRange)
    saturated shared write bandwidth during the concurrent triples
    commit."""
    from fashion_knowledge_graph_spark.plans.pipeline import KGPipeline

    pipe = KGPipeline(warehouse=str(tmp_path / "wh"))
    linked = pipe.stage_linked(docs_df, catalog_df, resume=False)
    canon = pipe.stage_canonical(catalog_df)
    plan = _plan(pipe._edges_plan(linked, canon))
    shuffle_sections = [s for s in plan.split("\n(")
                        if s.split(" ", 1)[-1].startswith("Exchange")]
    assert shuffle_sections, plan
    for s in shuffle_sections:
        for attr_col in ("material", "style", "season", "occasion"):
            assert attr_col not in s, s
    assert "RangePartitioning" not in plan, plan


def test_near_duplicate_candidates_shuffle_ids_only(spark, catalog_df,
                                                   monkeypatch):
    """near_duplicate_pairs generates candidates on ids and blocking
    keys only: no exchange up to and including the candidate dedup
    carries an embedding — the vectors join back by id afterwards
    (banded 512-d rows through the replicated self-join shuffled ~11 GB
    at a 50k catalog). Checked on the catalog call and on the generic
    call past the driver budget (an embeddings frame, no blocking
    keys)."""
    from fashion_knowledge_graph_spark.operators import components as cc
    from fashion_knowledge_graph_spark.operators import dedup as dd

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(64)])
         for i in range(20)], "vec_id long, embedding array<float>")
    monkeypatch.setattr(lk, "BROADCAST_BUDGET_MB", 0)
    for pairs in (cc.near_duplicate_pairs(catalog_df),
                  dd.embedding_near_dup_auto(emb)):
        plan = _plan(pairs)
        # (header, details) of each node; the formatted plan numbers
        # nodes bottom-up, so every node below the dedup comes first
        nodes = [s.split("\n", 1) for s in plan.split("\n(")[1:]]
        dedup = max(i for i, (head, _) in enumerate(nodes)
                    if "Aggregate" in head)
        below = [body for head, body in nodes[:dedup]
                 if "Exchange" in head]
        assert below, plan
        for body in below:
            assert "embedding" not in body, body


def test_edge_aggregation_has_partial_aggregate(spark):
    from fashion_knowledge_graph_spark.operators import edges as ed

    pairs = spark.createDataFrame(
        [("a", "b", "WORN_WITH", "d1", "s")],
        "src string, dst string, rel_type string, image string, "
        "source string")
    import re

    plan = _plan(ed.aggregate_edges(pairs))
    # partial (map-side) aggregation before exactly one exchange
    assert "partial_count" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_pii_redact_is_pure_codegen_map(spark, tmp_path):
    """PII counting + redaction is one codegen projection pipelined
    into the scan — regex work stays JVM-side, no Python, no
    exchange."""
    import pandas as pd

    p = str(tmp_path / "pii.parquet")
    pd.DataFrame({"doc_id": [1], "text": ["a@b.io"]}).to_parquet(p)
    df = spark.read.parquet(p)
    pc = tx.pii_counts(F.col("text"))
    out = df.select("doc_id", *[v.alias(k) for k, v in pc.items()],
                    tx.redact_pii(F.col("text")).alias("red"))
    plan = _plan(out)
    for node in ("Exchange", "Join", "HashAggregate", "Window",
                 "ArrowEvalPython", "BatchEvalPython", "MapInArrow"):
        assert node not in plan, (node, plan)
    assert "* Project" in plan, plan


def test_tfidf_plan_has_partial_aggregates_and_no_global_sort(spark,
                                                              tmp_path):
    """TF-IDF: both aggregations must be partial (map-side combine
    before the exchange) and the per-doc ranking must be a window
    partitioned by doc — never a global Sort over the whole term
    table."""
    import pandas as pd

    p = str(tmp_path / "tfidf.parquet")
    pd.DataFrame({"doc_id": [1, 2], "text": ["a b a", "b c"]}) \
        .to_parquet(p)
    df = spark.read.parquet(p)
    plan = _plan(tx.tfidf_top_terms(df, k=2))
    assert plan.count("HashAggregate") >= 4, plan  # 2 aggs × partial+final
    assert "partial_count" in plan, plan
    assert "Window" in plan, plan
    # the only Sorts allowed are the window's local per-partition sort
    # (global=false); a global=true Sort would be a full-data sort
    import re as _re
    for m in _re.finditer(r"Sort \[", plan):
        seg = plan[m.start():m.start() + 200]
        assert "false" in seg.split("global=")[1][:8] \
            if "global=" in seg else True, seg


def test_kmeans_partials_never_shuffle_vectors(spark):
    """The k-means iteration plan is a map-only Arrow pass: partial
    (cluster, count, sum) rows come straight out of the kernel with
    no exchange before the driver collect."""
    from fashion_knowledge_graph_spark.operators.clustering import (
        _dists_kernel,
    )
    import numpy as np

    rows = [(i, [float(i), 1.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c = np.zeros((2, 2))
    parts = df.select("vec_id", "embedding").mapInArrow(
        _dists_kernel(c, "vec_id", "embedding", "partial"),
        "cluster int, cnt long, vsum array<double>")
    plan = _plan(parts)
    assert "Exchange" not in plan, plan
    assert "MapInArrow" in plan, plan


def test_partitioned_write_prunes_partitions_and_pushes_filters(
        spark, tmp_path):
    """Hive-partitioned writes must turn query predicates into
    partition pruning (PartitionFilters on the partition column —
    unmatched directories never open) and data-filter pushdown
    (PushedFilters reaching the parquet reader) — the two scan-side
    behaviors that make a 100 TB table queryable."""
    import pandas as pd

    p = str(tmp_path / "events_part")
    pdf = pd.DataFrame({
        "event_id": range(100),
        "day": [f"2026-01-{(i % 5) + 1:02d}" for i in range(100)],
        "value": [float(i) for i in range(100)],
    })
    spark.createDataFrame(pdf).write.partitionBy("day").parquet(p)
    df = spark.read.parquet(p).filter(
        (F.col("day") == "2026-01-03") & (F.col("value") > 50.0))
    plan = _plan(df)
    assert "PartitionFilters: [" in plan, plan
    assert "2026-01-03" in plan.split("PartitionFilters")[1][:200], plan
    assert "PushedFilters: [" in plan, plan
    assert "GreaterThan(value,50.0)" in plan, plan
    got = df.count()
    want = len(pdf[(pdf.day == "2026-01-03") & (pdf.value > 50.0)])
    assert got == want


def test_domain_mix_split_is_pure_codegen_scan(spark, tmp_path):
    """Sampling + split decisions are literal-threshold md5 compares:
    one WholeStageCodegen over the scan — zero exchanges, zero Python
    (at 100 TB this runs at scan speed or it's wrong)."""
    from fashion_knowledge_graph_spark.operators.sampling import (
        domain_sample, hash_split,
    )

    p = str(tmp_path / "docs")
    spark.createDataFrame([(i, ["en", "de"][i % 2]) for i in range(100)],
                          "doc_id bigint, lang string").write.parquet(p)
    df = spark.read.parquet(p)
    out = hash_split(domain_sample(df, "doc_id", "lang", {"en": 0.5}),
                     "doc_id", {"train": 0.9, "test": 0.1})
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                "FlatMapGroupsInPandas"):
        assert bad not in plan, plan
    # the whole query is scan → filter → project inside ONE codegen
    # stage (formatted mode tags nodes with "[codegen id : N]")
    assert "[codegen id : 1]" in plan, plan
    assert "codegen id : 2" not in plan, plan


def test_quantize_is_single_arrow_map_no_shuffle(spark):
    """quantize_int8: exactly one MapInArrow, zero exchanges — a
    map-only kernel that composes with any upstream scan."""
    import re

    from fashion_knowledge_graph_spark.operators.quantize import (
        quantize_int8,
    )

    df = spark.createDataFrame([(1, [1.0, 2.0])],
                               "vec_id bigint, embedding array<float>")
    plan = _plan(quantize_int8(df))
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1, plan


def test_funnel_reuses_one_partitioning(spark, tmp_path):
    """funnel(): every join/agg keys on the entity column, so the plan
    may exchange each SOURCE once but must never re-shuffle between
    funnel stages — with K=3 steps over one parquet source that is at
    most 3 scan-side exchanges (hashpartitioning(user_id)) and no
    other partitioning key anywhere."""
    import re

    from fashion_knowledge_graph_spark.operators.temporal import funnel

    p = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i % 7, i, ["view", "click", "purchase"][i % 3])
         for i in range(100)],
        "user_id bigint, seq long, event_type string") \
        .withColumn("ts", F.timestamp_seconds(F.col("seq"))) \
        .write.parquet(p)
    ev = spark.read.parquet(p)
    plan = _plan(funnel(ev, ["view", "click", "purchase"]))
    keys = set(re.findall(r"hashpartitioning\((\w+)#", plan))
    assert keys == {"user_id"}, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3, plan


def test_dynamic_partition_pruning_engages_on_dim_join(spark, tmp_path):
    """A fact table partitioned on the join key, joined to a FILTERED
    dim, must scan only the partitions the dim filter selects — at
    runtime, via dynamic partition pruning (the filter value is not
    known at plan time). At 100 TB this is a date-dim join touching
    one day instead of the whole table."""
    import pandas as pd

    fact_p = str(tmp_path / "fact")
    pd_fact = pd.DataFrame({
        "k": [i % 10 for i in range(1000)],
        "v": [float(i) for i in range(1000)],
    })
    spark.createDataFrame(pd_fact).write.partitionBy("k").parquet(fact_p)
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(10)], "k int, name string") \
        .filter(F.col("name") == "d3")
    fact = spark.read.parquet(fact_p)
    joined = fact.join(dim, "k").select("k", "v", "name")
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is the single partition's rows
    assert joined.count() == len(pd_fact[pd_fact.k == 3])


def test_runtime_bloom_filter_injects_on_selective_dim_join(
        spark, tmp_path):
    """When the dim side is filtered and broadcast is off (the
    sort-merge regime of two big tables at 100 TB), Spark must inject
    a runtime bloom filter (might_contain) on the fact scan so
    non-matching rows die before the shuffle. Conf-gated; thresholds
    forced so the optimizer fires at test scale."""
    spark.range(100_000).selectExpr("id AS k", "id * 2 AS v") \
        .write.parquet(str(tmp_path / "fact"))
    spark.range(1_000).selectExpr("id AS k", "'x' AS n") \
        .write.parquet(str(tmp_path / "dim"))
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(str(tmp_path / "fact"))
        dim = spark.read.parquet(str(tmp_path / "dim")) \
            .filter(F.col("n") == "x")
        plan = _plan(fact.join(dim, "k"))
        assert "might_contain" in plan.lower(), plan
        assert fact.join(dim, "k").count() == 1_000
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lpa_round_has_partial_aggregate_and_narrow_shuffle(spark,
                                                           monkeypatch):
    """One LPA round = edges ⋈ labels → tally groupBy: the tally
    aggregation must be partial (map-side combine before the
    exchange), and no shuffle may carry more than the narrow
    (node, label, weight) columns."""
    from fashion_knowledge_graph_spark.operators.graph import (
        label_propagation,
    )

    e = spark.createDataFrame(
        [(i, (i * 7) % 50, 1 + i % 3) for i in range(300)],
        "src long, dst long, w long")
    # capture the round's frame as it is checkpointed: the checkpoint
    # erases its plan from the returned labels
    frames = []
    real = type(e).localCheckpoint

    def spy(self, *args, **kwargs):
        frames.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(e), "localCheckpoint", spy)
    label_propagation(e, weight="w", rounds=1)
    monkeypatch.undo()
    plan = _plan(frames[-1])
    # partial agg: HashAggregate appears both before and after the
    # exchange of the tally groupBy
    assert "partial_sum" in plan or "partial" in plan.lower(), plan
    # per round (final adaptive plan only — the checkpoint executed
    # it, so explain lists final + initial): at most the label join,
    # the tally hash exchange, and the label-pick window — more would
    # mean the round re-shuffles something it already co-located
    final = plan.split("+- == Initial Plan ==")[0]
    n_shuffles = final.count("- Exchange (")
    assert 1 <= n_shuffles <= 4, final
    assert "CartesianProduct" not in plan, plan


def test_bigram_lm_model_counts_are_partial_aggregated(spark):
    """The bigram model groupBy must map-side combine (head bigrams
    are the skew risk at corpus scale), and the scan feeding it must
    be pruned to (doc_id, text)."""
    from fashion_knowledge_graph_spark.operators.quality import (
        bigram_lm_score,
    )

    docs = spark.createDataFrame(
        [(i, "red cotton dress with trim " * (1 + i % 3))
         for i in range(50)], "doc_id long, text string")
    plan = _plan(bigram_lm_score(docs, docs))
    assert "partial_count" in plan, plan


def test_q21_is_semi_anti_over_dedup_pairs(spark):
    """Q21's EXISTS/NOT EXISTS must compile to left-semi + left-anti
    joins over deduplicated (order, supplier) pairs — an inner join
    re-expansion would multiply rows quadratically on big orders at
    scale."""
    import __spark_entry__ as entry

    df = entry.queries()["q21_late_sole_shippers"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q9_broadcasts_dims_and_pushes_part_filter(spark):
    """Q9's star join: every dimension (part, supplier, nation) must
    broadcast — a shuffle join against a 100-row dim would shuffle
    the 100 TB fact — and the %red% name filter must reach the part
    scan as a pushed StringContains."""
    import __spark_entry__ as entry

    df = entry.queries()["q9_profit_by_nation_year"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "Contains(p_name,red)" in plan.replace(" ", ""), plan


def test_q15_quarter_predicate_reaches_lineitem_scan(spark):
    """Q15's ship-date quarter window must be pushed into the parquet
    scan (PushedFilters), not evaluated post-scan — at 100 TB the
    min/max footer stats skip ~96% of row groups for a one-quarter
    predicate."""
    import __spark_entry__ as entry

    df = entry.queries()["q15_top_supplier"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), " \
           "GreaterThanOrEqual(l_shipdate," in plan, plan


def test_market_basket_broadcasts_counts_not_pairs(spark):
    """The basket pair self-join shuffles on orderkey only; the
    per-item count joins back onto the (already small) pair aggregate
    must broadcast, and the global order count is a broadcast scalar
    — none of them may reshuffle the pair table."""
    import __spark_entry__ as entry

    df = entry.queries()["market_basket_lift"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pca_moment_pass_has_no_exchange(spark):
    """pca_project's covariance comes from pure map partials: the
    moments stage must show one MapInArrow and ZERO exchanges — no
    vector ever rides a shuffle."""
    import re

    import numpy as np
    import pyarrow  # noqa: F401 — kernel dependency, fail loud here

    from fashion_knowledge_graph_spark.operators import clustering as cl

    rng = np.random.RandomState(0)
    rows = [(i, rng.randn(6).tolist()) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # the returned projection plan is scan → MapInArrow → project;
    # the internal moments pass has the same shape (audited here via
    # the output plan — both must stay exchange-free)
    out = cl.pca_project(df)
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"\(\d+\) MapInArrow", plan)) == 1, plan


def test_cms_bucket_aggregate_is_partial_and_broadcast(spark):
    """cms_term_counts: the d×w bucket table must partial-aggregate
    (map-side combine — the sketch's entire point) and join back as a
    BroadcastExchange, never a shuffle join on the bucket table."""
    from fashion_knowledge_graph_spark.operators.sketches import (
        cms_term_counts,
    )

    df = spark.createDataFrame([("t%d" % (i % 7),) for i in range(100)],
                               "term string")
    plan = _plan(cms_term_counts(df, depth=2, width=8))
    assert "partial_count" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_markov_reuses_one_partitioning_for_window_and_agg(spark):
    """markov_transitions: exactly one user-keyed shuffle feeds the
    lead window; the (from,to) count partial-aggregates after it."""
    import datetime as dt

    from fashion_knowledge_graph_spark.operators.temporal import (
        markov_transitions,
    )

    rows = [(i, dt.datetime(2026, 1, 1, 0, i % 60), i % 5, "e%d" % (i % 3))
            for i in range(50)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    plan = _plan(markov_transitions(df))
    assert "partial_count" in plan, plan
    # shuffles: window-by-user, groupBy(from,to), window-by-from —
    # none may carry the raw ts/event_id after the lead projection
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 3, plan


def test_ivfpq_probe_join_is_broadcast_and_codes_never_shuffle(spark):
    """ivfpq_topk: the probe table joins the corpus as a
    BroadcastExchange (the inverted-list read), and the only shuffle
    (the final top-k window) carries scalar (query_id, id, adc) rows —
    codes never ride an exchange."""
    import numpy as np

    from fashion_knowledge_graph_spark.operators.quantize import (
        ivfpq_topk,
    )

    rng = np.random.RandomState(1)
    rows = [(i, rng.randn(8).tolist()) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = [(0, rows[0][1]), (1, rows[1][1])]
    plan = _plan(ivfpq_topk(df, queries, ncoarse=4, nprobe=2, m=2, k=8))
    assert "BroadcastExchange" in plan, plan
    shuffle_sections = [s for s in plan.split("\n(")
                        if s.split(" ", 1)[-1].startswith("Exchange")
                        and "Broadcast" not in s.split("\n")[0]]
    assert shuffle_sections, plan
    for s in shuffle_sections:
        assert "codes" not in s, s


def test_topn_rank_queries_use_ordered_limit_not_global_window(spark):
    """skew_profile (and the rake/session-path rankers sharing the
    shape) must take the top-N with orderBy+limit — per-partition
    heaps (TakeOrderedAndProject) — BEFORE any single-partition rank
    window; a global window over the full key table would funnel
    every key count into one task."""
    from fashion_knowledge_graph_spark.operators.skew import skew_profile

    df = spark.createDataFrame([("k%d" % (i % 50),) for i in range(500)],
                               "k string")
    plan = _plan(skew_profile(df, "k", top=5))
    assert "TakeOrderedAndProject" in plan, plan
    # no SinglePartition exchange may carry the key column — the only
    # legitimate one is the scalar total (a single sum value); the
    # ordered limit already delivers the ≤ top rows to the window
    sections = [s for s in plan.split("\n(")
                if "SinglePartition" in s]
    for s in sections:
        assert "key" not in s, s


def test_preference_pairs_rank_limit_pushes_before_exchange(spark):
    """Both top-1 rank filters must compile to WindowGroupLimit (map-
    side per-group limit BEFORE the exchange) — without it the window
    sorts ALL events per user; with it the shuffles move ~n_users
    rows. The final chosen×rejected join must broadcast."""
    import __spark_entry__ as entry

    df = entry.queries()["rlhf_preference_pairs"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_rolling_distinct_has_no_window_state(spark):
    """The 7-day distinct-actives query must use the fan-out form: a
    Generate (explode) + aggregates, NEVER a Window carrying per-day
    user collections (unbounded state at 10^12 events)."""
    import __spark_entry__ as entry

    df = entry.queries()["events_rolling_distinct_users"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Generate" in plan and "explode(sequence" in plan, plan
    assert "Window" not in plan, plan
    assert "collect_set" not in plan, plan


def test_phash_near_dup_is_banded_equi_join(spark):
    """pHash candidate generation must be an equi-join on the banded
    keys — any nested-loop/cartesian fallback is the all-pairs scan
    the banding exists to avoid."""
    import __spark_entry__ as entry

    df = entry.queries()["mm_phash_near_dup"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dsir_dim_joins_broadcast(spark):
    """DSIR's bucket-weight dim (64 rows) must broadcast into the
    scoring join — a SortMergeJoin there would shuffle every token of
    the corpus on the hash bucket."""
    import __spark_entry__ as entry

    df = entry.queries()["select_dsir_weights"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_apriori_triples_prune_with_semi_joins(spark):
    """The L2 prune must compile to left-semi joins BEFORE the triple
    aggregation — re-expanding candidates through inner joins (or
    skipping the prune) is the combinatorial explosion Apriori
    exists to avoid."""
    import __spark_entry__ as entry

    df = entry.queries()["market_basket_triples"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("LeftSemi") >= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_geo_knn_is_cell_equi_join(spark):
    """Grid-blocked KNN must join on the integer cell key — any
    nested-loop fallback is the all-pairs distance scan the grid
    exists to avoid."""
    import __spark_entry__ as entry

    df = entry.queries()["geo_knn_grid"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_skyline_buckets_before_global_sweep(spark):
    """The skyline must run its first sweep inside hash buckets (a
    partitioned window) so the only global sort sees local-skyline
    survivors — a single global window serializes all points into
    one task."""
    import __spark_entry__ as entry

    df = entry.queries()["q_skyline_2d"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Window") >= 2, plan
    assert "hashpartitioning(__bkt" in plan, plan


def test_interval_union_is_one_exchange_two_windows(spark):
    """Interval-union: both sweep windows and both rollups must reuse
    ONE hash partitioning on user_id (the (user_id, island) grouping
    is satisfied by the user_id exchange via the subset rule) — a
    second shuffle would double the corpus movement."""
    import __spark_entry__ as entry

    import re

    df = entry.queries()["w_interval_union"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Window" in plan, plan


def test_stickiness_has_no_window_state(spark):
    """DAU/WAU must come from the fan-out form (Generate + distinct
    aggregates), never a window holding per-day user collections."""
    import __spark_entry__ as entry

    df = entry.queries()["events_stickiness"](
        spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Generate" in plan, plan
    assert "Window" not in plan, plan
    assert "collect_set" not in plan, plan
