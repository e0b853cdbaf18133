"""Round-5 KG-construction operators vs hand-computed oracles:
truth discovery, RDB direct mapping, WL refinement, PRA features,
domain/range induction."""
import hashlib

from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.operators.fusion import (
    truth_discovery,
)
from fashion_knowledge_graph_spark.operators.graph import wl_refine
from fashion_knowledge_graph_spark.operators.linkpred import (
    pra_path_features,
)
from fashion_knowledge_graph_spark.operators.ontology import (
    domain_range_profile,
)
from fashion_knowledge_graph_spark.operators.rdf import direct_map


def test_truth_discovery_two_rounds(spark):
    rows = [("s1", "e1", "color", "red"),
            ("s1", "e2", "color", "blue"),
            ("s2", "e1", "color", "red"),
            ("s2", "e2", "color", "green"),
            ("s3", "e1", "color", "black"),
            ("s3", "e2", "color", "green"),
            ("s3", "e3", "color", "white"),
            # duplicate claim must not double-count
            ("s3", "e3", "color", "white")]
    claims = spark.createDataFrame(
        rows, "source string, subj string, pred string, obj string")
    got = {(r.subj, r.pred): (r.obj, r.confidence, r.n_sources)
           for r in truth_discovery(claims, rounds=2).collect()}
    # round 1: e1->red(2), e2->green(2), e3->white
    # trust: s1 1/2 -> 500000, s2 2/2 -> 1000000, s3 2/3 -> 666666
    assert got[("e1", "color")] == (
        "red", 1500000 / 2166666, 2)
    assert got[("e2", "color")] == (
        "green", 1666666 / 2166666, 2)
    assert got[("e3", "color")] == ("white", 1.0, 1)


def test_truth_discovery_one_round_is_majority(spark):
    rows = [("a", "e", "p", "x"), ("b", "e", "p", "x"),
            ("c", "e", "p", "y")]
    claims = spark.createDataFrame(
        rows, "source string, subj string, pred string, obj string")
    r = truth_discovery(claims, rounds=1).collect()[0]
    assert (r.obj, r.n_sources) == ("x", 2)
    assert abs(r.confidence - 2 / 3) < 1e-12


def test_direct_map_literals_fks_nulls_format(spark):
    df = spark.createDataFrame(
        [(1, "alice", 10.5, 7), (2, None, 3.14159, None)],
        "id long, name string, bal double, fk int")
    out = direct_map(df, "t", "id", ["name", "bal"], {"fk": "ref"},
                     formats={"bal": "%.2f"})
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert got == {("t#1", "t#name", "alice"),
                   ("t#1", "t#bal", "10.50"),
                   ("t#1", "t#ref-fk", "ref#7"),
                   ("t#2", "t#bal", "3.14")}


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def test_wl_refine_two_iterations(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "c")],
                                  "src string, dst string")
    labels = spark.createDataFrame(
        [("a", "X"), ("b", "Y"), ("c", "X"), ("d", "Z")],
        "id string, label string")
    l1 = {"a": _md5("X|Y"), "b": _md5("Y|X,X"), "c": _md5("X|Y"),
          "d": _md5("Z|")}
    exp = {"a": _md5(l1["a"] + "|" + l1["b"]),
           "b": _md5(l1["b"] + "|" + ",".join(
               sorted([l1["a"], l1["c"]]))),
           "c": _md5(l1["c"] + "|" + l1["b"]),
           "d": _md5(l1["d"] + "|")}
    got = {r.id: r.label
           for r in wl_refine(edges, labels, iterations=2).collect()}
    assert got == exp
    # structurally equivalent leaves converge to the same color
    assert got["a"] == got["c"]


def test_pra_path_features(spark):
    pairs = spark.createDataFrame([("p1", "p2"), ("p1", "p3")],
                                  "src string, dst string")
    tri = spark.createDataFrame(
        [("p1", "hasColor", "red"), ("p1", "hasColor", "blue"),
         ("p2", "hasColor", "red"), ("p3", "hasColor", "green"),
         ("p1", "hasMaterial", "cotton"),
         ("p2", "hasMaterial", "wool")],
        "subj string, pred string, obj string")
    out = pra_path_features(pairs, tri, ["hasColor", "hasMaterial"])
    got = {(r.src, r.dst): (r.f_hasColor, r.f_hasMaterial)
           for r in out.collect()}
    assert got == {("p1", "p2"): (1, 0), ("p1", "p3"): (0, 0)}


def test_domain_range_profile(spark):
    tri = spark.createDataFrame(
        [("p1", "type", "jacket"), ("p2", "type", "jacket"),
         ("p3", "type", "scarf"),
         ("p1", "hasColor", "red"), ("p2", "hasColor", "blue"),
         ("p3", "hasColor", "red"),
         ("p1", "complements", "p2"), ("p3", "complements", "p1")],
        "subj string, pred string, obj string")
    got = {r.pred: r for r in domain_range_profile(tri).collect()}
    c = got["hasColor"]
    assert (c.domain_class, c.domain_support) == ("jacket", 2)
    assert (c.range_kind, c.n_distinct_obj, c.n_triples) == (
        "literal", 2, 3)
    k = got["complements"]
    assert k.range_kind == "entity"
    # tie on domain support (jacket 1, scarf 1) -> smallest class
    assert (k.domain_class, k.domain_support) == ("jacket", 1)


def _h60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_node2vec_walks_vs_python_replay(spark):
    from fashion_knowledge_graph_spark.operators.graph import (
        node2vec_walks,
    )
    raw = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
    edges = spark.createDataFrame(raw, "src string, dst string")
    adj = {}
    for s, d in raw:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)

    def replay(steps, p_mult=4, q_mult=2):
        rows = set()
        for start in adj:
            cur, prev = start, None
            rows.add((start, 0, start))
            for t in range(1, steps + 1):
                best = None
                for cand in adj[cur]:
                    if prev is None:
                        m = 1
                    elif cand == prev:
                        m = p_mult
                    elif cand in adj[prev]:
                        m = 1
                    else:
                        m = q_mult
                    score = _h60(f"{start}:{t}:{cur}:{cand}") * m
                    if best is None or (score, cand) < best:
                        best = (score, cand)
                prev, cur = cur, best[1]
                rows.add((start, t, cur))
        return rows

    got = {(r.walk_id, r.step, r.node)
           for r in node2vec_walks(edges, steps=3).collect()}
    assert got == replay(3)


def test_entity_summary_rank_and_ties(spark):
    from fashion_knowledge_graph_spark.operators.ontology import (
        entity_summary,
    )
    tri = spark.createDataFrame(
        [("e1", "color", "red"), ("e2", "color", "red"),
         ("e3", "color", "red"),
         ("e1", "mat", "silk"),           # df=1 -> most informative
         ("e1", "style", "boho"), ("e2", "style", "boho")],
        "subj string, pred string, obj string")
    got = {(r.subj, r.rank): (r.pred, r.obj, r.df)
           for r in entity_summary(tri, k=2).collect()}
    assert got[("e1", 1)] == ("mat", "silk", 1)
    assert got[("e1", 2)] == ("style", "boho", 2)
    assert got[("e2", 1)] == ("style", "boho", 2)
    assert got[("e2", 2)] == ("color", "red", 3)
    assert got[("e3", 1)] == ("color", "red", 3)


def test_mine_propagation_rules(spark):
    from fashion_knowledge_graph_spark.operators.rules import (
        mine_propagation_rules,
    )
    # e1-e2 complementary; e1 red, e2 red+blue; e3 isolated green.
    # e4-e5 complementary; e4 red, e5 has NO color (PCA excludes it).
    tri = spark.createDataFrame(
        [("e1", "complements", "e2"), ("e4", "complements", "e5"),
         ("e1", "hasColor", "red"), ("e2", "hasColor", "red"),
         ("e2", "hasColor", "blue"), ("e3", "hasColor", "green"),
         ("e4", "hasColor", "red")],
        "subj string, pred string, obj string")
    r = mine_propagation_rules(tri, "complements",
                               ["hasColor"]).collect()[0]
    # body groundings (x,y,v): (e1,e2,red),(e2,e1,red),(e2,e1,blue),
    #                          (e4,e5,red)
    assert r.n_body == 4
    # head holds: (e1,e2,red) [e2 red], (e2,e1,red) [e1 red]
    assert r.n_pos == 2
    # PCA: e5 has no color -> (e4,e5,red) drops from the denominator
    assert r.n_pca == 3
    assert r.std_conf == 2 / 4 and r.pca_conf == 2 / 3


def test_mine_value_associations(spark):
    from fashion_knowledge_graph_spark.operators.rules import (
        mine_value_associations,
    )
    tri = spark.createDataFrame(
        [("e1", "hasColor", "black"), ("e1", "hasMaterial", "leather"),
         ("e2", "hasColor", "black"), ("e2", "hasMaterial", "leather"),
         ("e3", "hasColor", "black"), ("e3", "hasMaterial", "cotton"),
         ("e4", "hasColor", "red"), ("e4", "hasMaterial", "cotton")],
        "subj string, pred string, obj string")
    out = mine_value_associations(
        tri, ["hasColor", "hasMaterial"], min_support=2).collect()
    got = {(r.val_a, r.val_b): r for r in out}
    # only (black, leather) reaches support 2
    assert set(got) == {("black", "leather")}
    r = got[("black", "leather")]
    assert (r.n_both, r.n_a, r.n_b) == (2, 3, 2)
    assert r.confidence == 2 / 3
    assert r.lift == (2 * 4) / (3 * 2)


def test_source_reliability(spark):
    from fashion_knowledge_graph_spark.operators.fusion import (
        source_reliability,
    )
    rows = [("s1", "e1", "c", "red"), ("s1", "e2", "c", "blue"),
            ("s2", "e1", "c", "red"), ("s2", "e2", "c", "green"),
            ("s3", "e2", "c", "green")]
    claims = spark.createDataFrame(
        rows, "source string, subj string, pred string, obj string")
    got = {r.source: (r.n_claims, r.n_match, r.w)
           for r in source_reliability(claims).collect()}
    # consensus: e1->red, e2->green
    assert got["s1"] == (2, 1, 500000)
    assert got["s2"] == (2, 2, 1000000)
    assert got["s3"] == (1, 1, 1000000)


def test_meta_blocking_cbs_wep(spark):
    from fashion_knowledge_graph_spark.operators.er import (
        meta_blocking,
    )
    # blocks: b1={1,2,3}, b2={1,2}, b3={2,3}, huge={1..4} (purged @3)
    rows = ([("b1", str(i)) for i in (1, 2, 3)]
            + [("b2", "1"), ("b2", "2"), ("b3", "2"), ("b3", "3")]
            + [("huge", str(i)) for i in (1, 2, 3, 4)])
    mem = spark.createDataFrame(rows, "block string, id string")
    got = {(r.id_a, r.id_b): r.w
           for r in meta_blocking(mem, max_block_size=3).collect()}
    # CBS after purge: (1,2)->2, (2,3)->2, (1,3)->1; mean 5/3
    # WEP keeps w >= 5/3
    assert got == {("1", "2"): 2, ("2", "3"): 2}


def _plan(df):
    import io
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_direct_map_plan_is_shuffle_free(spark):
    df = spark.createDataFrame([(1, "x", 2.0, 3)],
                               "id long, name string, bal double, fk int")
    plan = _plan(direct_map(df, "t", "id", ["name", "bal"],
                            {"fk": "r"}, formats={"bal": "%.2f"}))
    assert "Exchange" not in plan          # pure projection + explode
    assert "codegen id" in plan            # whole-stage codegen'd


def test_truth_discovery_trust_join_is_broadcast(spark):
    claims = spark.createDataFrame(
        [("s1", "e1", "p", "x")],
        "source string, subj string, pred string, obj string")
    plan = _plan(truth_discovery(claims, rounds=2))
    # the round-2 re-weight join against the source-sized trust table
    # must be broadcast (the agreement join vs the slot-sized
    # consensus is data-scale and legitimately shuffles on its key)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_entity_summary_plan_has_group_limit(spark):
    from fashion_knowledge_graph_spark.operators.ontology import (
        entity_summary,
    )
    tri = spark.createDataFrame([("e", "p", "o")],
                                "subj string, pred string, obj string")
    plan = _plan(entity_summary(tri, k=3))
    # rank<=k must push into WindowGroupLimit (per-partition heaps),
    # not filter after a full window sort
    assert "WindowGroupLimit" in plan


def test_er_canonical_eval_counts(spark):
    # replicate the contingency-count eval on a hand case:
    # system {a,b,c}{d}; truth {a,b}{c,d}
    import __spark_entry__  # noqa: F401 (query-layer logic; replicate inline)
    from pyspark.sql import functions as FF
    m = spark.createDataFrame(
        [("a", "s1", "t1"), ("b", "s1", "t1"),
         ("c", "s1", "t2"), ("d", "s2", "t2")],
        "product_id string, canonical_id string, entity_key string")

    def npairs(df, *keys):
        return (df.groupBy(*keys).agg(FF.count(FF.lit(1)).alias("n"))
                .agg(FF.sum(FF.expr("n * (n - 1) div 2")
                            .cast("long")).alias("p"))
                .collect()[0].p)

    tp = npairs(m, "canonical_id", "entity_key")
    sys_p = npairs(m, "canonical_id")
    true_p = npairs(m, "entity_key")
    assert (tp, sys_p, true_p) == (1, 3, 2)
    assert tp / sys_p == 1 / 3 and tp / true_p == 1 / 2


def test_neighbor_sample_layers_and_fanout(spark):
    from fashion_knowledge_graph_spark.operators.graph import (
        neighbor_sample,
    )
    # star: hub h connected to x1..x5; fanout [2] keeps exactly 2
    # deterministic neighbors of h, and each xi keeps its only
    # neighbor h
    edges = spark.createDataFrame(
        [("h", f"x{i}") for i in range(1, 6)],
        "src string, dst string")
    out = neighbor_sample(edges, fanouts=[2]).collect()
    l0 = {(r.seed, r.node) for r in out if r.layer == 0}
    l1 = {}
    for r in out:
        if r.layer == 1:
            l1.setdefault(r.seed, set()).add(r.node)
    assert l0 == {(n, n) for n in
                  {"h", "x1", "x2", "x3", "x4", "x5"}}
    assert len(l1["h"]) == 2 and l1["h"] < {f"x{i}" for i in
                                           range(1, 6)}
    for i in range(1, 6):
        assert l1[f"x{i}"] == {"h"}
    # determinism: re-run picks the same neighbors
    out2 = neighbor_sample(edges, fanouts=[2]).collect()
    assert {(r.seed, r.layer, r.node) for r in out} == \
        {(r.seed, r.layer, r.node) for r in out2}


def test_global_rank_ntile_prefix_parity(spark):
    # the distributed two-pass forms must equal the single-task
    # unpartitioned-window forms bit-for-bit under a total order
    from pyspark.sql.window import Window as W

    from fashion_knowledge_graph_spark.operators.topk import (
        global_prefix_sum,
        global_rank,
        ntile_distributed,
    )
    df = spark.range(997).select(
        (F.col("id") * 37 % 991).alias("v"),
        F.col("id").alias("k")).repartition(7)
    order = [F.desc("v"), F.asc("k")]
    w = W.orderBy(*order)
    wc = W.orderBy(*order).rowsBetween(W.unboundedPreceding, 0)

    exp_rn = {(r.v, r.k): r.rn for r in
              df.withColumn("rn", F.row_number().over(w)).collect()}
    # the range partition count is the session's shuffle partitions
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        got_rn = {(r.v, r.k): r.rn for r in
                  global_rank(df, order, "rn").collect()}
        got_t = {k: {(r.v, r.k): r.t for r in
                     ntile_distributed(df, order, k, "t").collect()}
                 for k in (4, 10, 3)}
        got_c = {(r.v, r.k): r.c for r in
                 global_prefix_sum(df, order, "v", "c").collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got_rn == exp_rn

    for k in (4, 10, 3):
        exp_t = {(r.v, r.k): r.t for r in
                 df.withColumn("t", F.ntile(k).over(w)).collect()}
        assert got_t[k] == exp_t, f"ntile({k}) mismatch"

    # N < k: one row per tile
    tiny = spark.createDataFrame([(5, 1), (3, 2)], "v int, k int")
    got = {r.k: r.t for r in ntile_distributed(
        tiny, [F.desc("v"), F.asc("k")], 10, "t").collect()}
    assert got == {1: 1, 2: 2}

    exp_c = {(r.v, r.k): r.c for r in
             df.withColumn("c", F.sum("v").over(wc)).collect()}
    assert got_c == exp_c


def test_plan_lint_negative_controls(spark):
    # the linter must FIRE on the shapes it exists to catch — a
    # vacuous linter reading "0 flagged" is worse than none
    import io
    import contextlib

    from pyspark.sql.window import Window as W

    from tools.plan_lint import lint_plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    try:
        a = spark.range(100).select(F.col("id").alias("a"))
        b = spark.range(100).select(F.col("id").alias("b"))

        def plan(df):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            return buf.getvalue()

        assert lint_plan(plan(a.join(b))) == [
            "CartesianProduct (non-broadcast cross join)"]
        assert lint_plan(plan(a.withColumn(
            "p", F.lag("a").over(W.orderBy("a"))))) == [
            "unpartitioned Window over unbounded input"]
        # bounded (rank<=k compiles to WindowGroupLimit) and
        # partitioned windows must pass
        assert lint_plan(plan(
            a.withColumn("rn", F.row_number().over(W.orderBy("a")))
            .filter(F.col("rn") <= 5))) == []
        assert lint_plan(plan(a.withColumn(
            "rn", F.row_number().over(
                W.partitionBy("a").orderBy("a"))))) == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
