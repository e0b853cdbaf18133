"""Deterministic corrupted-tail negative sampling vs a Python replay."""
import hashlib

import pytest
from pyspark.sql import functions as F

from fashion_knowledge_graph_spark.operators.linkpred import (
    negative_samples,
)

VOCAB = {"hasColor": ["red", "blue", "black", "white"],
         "hasStyle": ["casual", "formal"]}


def _h60(salt, key):
    return int(hashlib.md5(f"{salt}:{key}".encode()).hexdigest()[:15], 16)


def _replay(pos, k=2, salt="neg"):
    posset = set(pos)
    out = set()
    for s, p, o in pos:
        if p not in VOCAB:
            continue
        arr = VOCAB[p]
        n = len(arr)
        for i in range(k):
            idx = _h60(salt, f"{i}:{s}:{p}:{o}") % n
            cand = arr[idx]
            if cand == o:
                cand = arr[(idx + 1) % n]
            if cand != o and (s, p, cand) not in posset:
                out.add((s, p, cand, i))
    return out


@pytest.fixture(scope="module")
def pos_triples(spark):
    rows = [("p1", "hasColor", "red"), ("p1", "hasColor", "blue"),
            ("p2", "hasColor", "black"), ("p2", "hasStyle", "casual"),
            ("p3", "hasStyle", "formal"), ("p3", "type", "dress")]
    return rows, spark.createDataFrame(
        rows, "subj string, pred string, obj string")


def test_matches_python_replay(pos_triples):
    rows, df = pos_triples
    got = {tuple(r) for r in
           negative_samples(df, VOCAB, k=2).collect()}
    assert got == _replay(rows)
    assert got  # non-vacuous


def test_negatives_are_true_negatives_and_reproducible(pos_triples):
    rows, df = pos_triples
    out = negative_samples(df, VOCAB, k=3)
    posset = {(r[0], r[1], r[2]) for r in rows}
    for r in out.collect():
        assert (r.subj, r.pred, r.obj_neg) not in posset
        assert r.pred in VOCAB  # un-vocabed predicates skipped
    again = {tuple(r) for r in
             negative_samples(df, VOCAB, k=3).collect()}
    assert again == {tuple(r) for r in out.collect()}


def test_contracts(pos_triples):
    _, df = pos_triples
    with pytest.raises(ValueError, match="k must be"):
        negative_samples(df, VOCAB, k=0)
    with pytest.raises(ValueError, match="empty vocabulary"):
        negative_samples(df, {"hasColor": []})
    with pytest.raises(ValueError, match="duplicate"):
        negative_samples(df, {"hasColor": ["red", "red"]})


# ---------------------------------------------- TransE ranking eval
def _lane_py(tag, s, j, salt="te"):
    h = _h60(f"{salt}{j}", f"{tag}:{s}")
    return h / float(1 << 60) * 2.0 - 1.0


def _transe_replay(pos, dim=8):
    pos = [(s, p, o) for s, p, o in pos if p != "complements"]
    pos = sorted(set(pos))
    cands = {}
    for s, p, o in pos:
        cands.setdefault(p, set()).add(o)
    fan = {}
    for s, p, o in pos:
        fan.setdefault((s, p), set()).add(o)
    per_pred = {}
    for s, p, o in pos:
        hr = [_lane_py("ent", s, j) + _lane_py("rel", p, j)
              for j in range(dim)]
        def dist(c):
            acc = 0.0
            for j in range(dim):
                d = hr[j] - _lane_py("ent", c, j)
                acc = acc + d * d
            return acc
        dt = dist(o)
        rnk = 1
        for c in cands[p]:
            if c != o and c in fan[(s, p)]:
                continue                      # filtered protocol
            dc = dist(c)
            if dc < dt or (dc == dt and c < o):
                rnk += 1
        per_pred.setdefault(p, []).append(rnk)
    out = {}
    for p, rnks in per_pred.items():
        n = len(rnks)
        out[p] = (n,
                  round(sum(1.0 / r for r in rnks) / n, 6),
                  round(sum(1 for r in rnks if r <= 1) / n, 6),
                  round(sum(1 for r in rnks if r <= 3) / n, 6),
                  round(sum(rnks) / n, 6))
    return out


def test_transe_ranking_matches_python_replay(spark):
    from fashion_knowledge_graph_spark.operators.linkpred import (
        transe_entity_ranking,
    )
    rows = [("p%d" % (i % 7), pred, vals[(i * 3 + k) % len(vals)])
            for i in range(21) for k in range(2)
            for pred, vals in (
                ("hasColor", ["red", "blue", "black", "white", "green"]),
                ("hasStyle", ["casual", "formal", "party"]))]
    rows += [("p1", "complements", "p2")]   # excluded by default
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {r["pred"]: (r["n_test"], r["mrr"], r["hits_at_1"],
                       r["hits_at_3"], r["mean_rank"])
           for r in transe_entity_ranking(df).collect()}
    assert got == _transe_replay(rows)
    assert set(got) == {"hasColor", "hasStyle"}
    for n, mrr, h1, h3, mr in got.values():
        assert 0 < mrr <= 1 and 0 <= h1 <= h3 <= 1 and mr >= 1


def test_transe_ranking_perfect_when_unique(spark):
    # one object per (subj, pred) and per predicate → every candidate
    # list is the filtered singleton → rank 1 everywhere
    rows = [("a", "hasColor", "red"), ("b", "hasStyle", "formal")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    from fashion_knowledge_graph_spark.operators.linkpred import (
        transe_entity_ranking,
    )
    for r in transe_entity_ranking(df, dim=4).collect():
        assert r["mrr"] == 1.0 and r["hits_at_1"] == 1.0 \
            and r["mean_rank"] == 1.0


def _sampled_replay(pos, k=5, dim=8, salt="ts"):
    pos = sorted({(s, p, o) for s, p, o in pos})
    vocab = {}
    for s, p, o in pos:
        vocab.setdefault(p, set()).add(o)
    vocab = {p: sorted(vs) for p, vs in vocab.items()}
    per_pred = {}
    for s, p, o in pos:
        arr = vocab[p]
        n = len(arr)
        if n < 2:
            continue
        rnk = arr.index(o) + 1
        hr = [_lane_py("ent", s, j, salt) + _lane_py("rel", p, j, salt)
              for j in range(dim)]
        def dist(c):
            acc = 0.0
            for j in range(dim):
                d = hr[j] - _lane_py("ent", c, j, salt)
                acc = acc + d * d
            return acc
        dt = dist(o)
        r = 1
        for i in range(k):
            h = _h60(salt, f"{i}:{s}:{p}:{o}")
            idx0 = h % (n - 1) + 1
            nrk = idx0 if idx0 < rnk else idx0 + 1
            c = arr[nrk - 1]
            dc = dist(c)
            if dc < dt or (dc == dt and c < o):
                r += 1
        per_pred.setdefault(p, []).append(r)
    out = {}
    for p, rnks in per_pred.items():
        n = len(rnks)
        out[p] = (n, k,
                  round(sum(1.0 / r for r in rnks) / n, 6),
                  round(sum(1 for r in rnks if r <= 1) / n, 6),
                  round(sum(1 for r in rnks if r <= 3) / n, 6),
                  round(sum(rnks) / n, 6))
    return out


def test_transe_sampled_matches_python_replay(spark):
    from fashion_knowledge_graph_spark.operators.linkpred import (
        transe_sampled_ranking,
    )
    rows = [("p%d" % (i % 9), pred, vals[(i * 5 + kk) % len(vals)])
            for i in range(27) for kk in range(2)
            for pred, vals in (
                ("hasColor", ["red", "blue", "black", "white",
                              "green", "navy", "teal"]),
                ("complements", ["q1", "q2", "q3", "q4", "q5",
                                 "q6", "q7", "q8"]))]
    rows += [("lone", "hasFit", "slim")]    # vsz==1 → dropped
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    got = {r["pred"]: (r["n_test"], r["k"], r["mrr_sampled"],
                       r["hits_at_1"], r["hits_at_3"], r["mean_rank"])
           for r in transe_sampled_ranking(df, k=5).collect()}
    assert got == _sampled_replay(rows, k=5)
    assert set(got) == {"hasColor", "complements"}
    for n, kk, mrr, h1, h3, mr in got.values():
        assert 1 <= mr <= kk + 1 and 0 < mrr <= 1


def test_transe_sampled_rank_bounds(spark):
    from fashion_knowledge_graph_spark.operators.linkpred import (
        transe_sampled_ranking,
    )
    rows = [("a", "hasColor", c) for c in ("red", "blue", "green")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = transe_sampled_ranking(df, k=50, dim=4)
    r = out.collect()[0]
    # rank lives in [1, k+1] even with 50 draws over a 3-word vocab
    assert 1 <= r["mean_rank"] <= 51 and r["n_test"] == 3
    with pytest.raises(ValueError, match="k must be"):
        transe_sampled_ranking(df, k=0)


def test_vocab_rank_strategies_identical(spark, monkeypatch):
    # grouped_dense_rank (range-partitioned two-pass) must equal the
    # per-predicate window rank exactly — the sampled protocol's draw
    # replay depends on the dense [1, V] ranking being
    # strategy-independent. The size gate picks the plan; moving
    # VOCAB_WINDOW_THRESHOLD forces each side.
    from fashion_knowledge_graph_spark.operators import linkpred as lp

    rows = [("s%d" % i, ["complements", "hasColor"][i % 2],
             "o%03d" % ((i * 17) % 97)) for i in range(300)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    t = df.distinct()

    def run(threshold):
        monkeypatch.setattr(lp, "VOCAB_WINDOW_THRESHOLD", threshold)
        ranks = {(r["pred"], r["obj"]): (r["rnk"], r["vsz"])
                 for r in lp._vocab_ranked(t).collect()}
        return ranks, sorted(map(tuple, lp.transe_sampled_ranking(
            df, k=7, dim=4).collect()))

    win, a = run(10**9)
    dist, b = run(0)
    assert win == dist and len(win) > 100
    # and the whole sampled evaluation is strategy-independent
    assert a == b


def test_grouped_dense_rank_multi_partition(spark):
    from fashion_knowledge_graph_spark.operators.topk import (
        grouped_dense_rank,
    )
    rows = [("g%d" % (i % 3), "v%04d" % i) for i in range(500)]
    df = spark.createDataFrame(rows, "pred string, obj string")
    # 7 range partitions, kept apart (AQE would merge them at this size)
    conf = {"spark.sql.shuffle.partitions": "7",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        out = grouped_dense_rank(df, "pred", "obj")
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    got = {}
    for r in out.collect():
        got.setdefault(r["pred"], []).append((r["rnk"], r["obj"]))
    for g, lst in got.items():
        lst.sort()
        objs = sorted(v for gg, v in rows if gg == g)
        assert [r for r, _ in lst] == list(range(1, len(objs) + 1))
        assert [v for _, v in lst] == objs
