"""Relational queries: TPC-H shapes, joins, windows, aggregates, set
operations and scalar functions."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from fashion_knowledge_graph_spark.operators import similarity as sim
from fashion_knowledge_graph_spark.operators.attributes import spec_attrs
from fashion_knowledge_graph_spark.operators.rrf import add_rank, rrf_fuse
from fashion_knowledge_graph_spark.operators.skew import (
    rendezvous_assign, salted_broadcast_join, skew_profile,
)
from fashion_knowledge_graph_spark.operators.temporal import scd2_intervals
from fashion_knowledge_graph_spark.operators.topk import (
    global_prefix_sum, grouped_top_k, ntile_distributed,
)
from fashion_knowledge_graph_spark.registry import query
from fashion_knowledge_graph_spark.registry.common import _load


@query(oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
    """)
def p2_anti_join(spark, sf):
    # customers with no URGENT order — non-empty at every sf
    cust, orders = _load(spark, sf, "customer"), _load(spark, sf, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey,
                     "left_anti").select("c_custkey", "c_name")


@query(oracle="""
        SELECT c_mktsegment,
               count(*) AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,2)), 2)::DOUBLE
                 AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """)
def j1_broadcast_enrich(spark, sf):
    cust, orders = _load(spark, sf, "customer"), _load(spark, sf, "orders")
    return (orders.join(F.broadcast(cust),
                        orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                 .cast("double").alias("total_price"))
            .select("c_mktsegment", "n_orders", "total_price"))


@query(oracle="""
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               count(*) AS weight
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    """, headline=True)
def j6_cooccurrence_edges(spark, sf):
    li = _load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("dst"))
    pairs = a.join(b, "ok").filter(F.col("src") < F.col("dst"))
    return (pairs.groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("weight"))
            .filter(F.col("weight") >= 2))


@query(oracle="""
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price
        FROM (SELECT *, row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders) t
        WHERE rn <= 3
    """, headline=True)
def w2_topk_per_group(spark, sf):
    orders = _load(spark, sf, "orders")
    return grouped_top_k(
        orders, ["o_custkey"], [F.desc("o_totalprice")], 3,
        tie_breaks=[F.asc("o_orderkey")]
    ).select("o_custkey", "o_orderkey",
             F.round(F.col("o_totalprice"), 2).alias("price"))


@query(oracle="""
        SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal
        FROM (SELECT *, row_number() OVER (
                PARTITION BY c_mktsegment
                ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM customer) t
        WHERE rn <= 5
    """)
def a5_stratified_sample(spark, sf):
    cust = _load(spark, sf, "customer")
    return grouped_top_k(
        cust, ["c_mktsegment"], [F.desc("c_acctbal")], 5,
        tie_breaks=[F.asc("c_custkey")]
    ).select("c_mktsegment", "c_custkey",
             F.round(F.col("c_acctbal"), 2).alias("acctbal"))


@query(oracle="""
        SELECT o_custkey, o_orderstatus, o_orderkey
        FROM (SELECT *, row_number() OVER (
                PARTITION BY o_custkey, o_orderstatus
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders) t
        WHERE rn = 1
    """)
def a7_keep_first_per_key(spark, sf):
    orders = _load(spark, sf, "orders")
    return grouped_top_k(
        orders, ["o_custkey", "o_orderstatus"],
        [F.desc("o_totalprice")], 1, tie_breaks=[F.asc("o_orderkey")]
    ).select("o_custkey", "o_orderstatus", "o_orderkey")


@query(oracle="""
        WITH l1 AS (
          SELECT c_custkey, row_number() OVER (
                   ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
          FROM customer QUALIFY rank <= 100),
        l2 AS (
          SELECT c_custkey, row_number() OVER (
                   ORDER BY n DESC, c_custkey ASC) AS rank
          FROM (SELECT o_custkey AS c_custkey, count(*) AS n
                FROM orders GROUP BY 1) t QUALIFY rank <= 100),
        u AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2)
        SELECT c_custkey,
               round(sum(1.0 / (60.0 + rank)), 6) AS rrf_score
        FROM u GROUP BY c_custkey
    """, headline=True)
def a8_rrf_fusion(spark, sf):
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    l1 = add_rank(cust.select("c_custkey", "c_acctbal"),
                  [], [F.desc("c_acctbal"), F.asc("c_custkey")]) \
        .filter(F.col("rank") <= 100).select("c_custkey", "rank")
    cnt = orders.groupBy(F.col("o_custkey").alias("c_custkey")) \
        .agg(F.count(F.lit(1)).alias("n"))
    l2 = add_rank(cnt, [], [F.desc("n"), F.asc("c_custkey")]) \
        .filter(F.col("rank") <= 100).select("c_custkey", "rank")
    fused = rrf_fuse([l1, l2], keys=[], id_col="c_custkey", k=60)
    return fused.select("c_custkey",
                        F.round("rrf_score", 6).alias("rrf_score"))


@query(oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE AS sum_qty,
               round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE
                 AS sum_base_price,
               round(sum(l_extendedprice::DECIMAL(18,2)
                         * (1.00::DECIMAL(18,2)
                            - l_discount::DECIMAL(18,2))), 2)::DOUBLE
                 AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """, headline=True)
def q1_pricing_summary(spark, sf):
    li = _load(spark, sf, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum(dec("l_quantity")), 2).cast("double")
                 .alias("sum_qty"),
                 F.round(F.sum(dec("l_extendedprice")), 2).cast("double")
                 .alias("sum_base_price"),
                 F.round(F.sum(dec("l_extendedprice")
                               * (F.lit(1).cast("decimal(18,2)")
                                  - dec("l_discount"))), 2).cast("double")
                 .alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order")))


@query(oracle=r"""
        SELECT p_partkey,
               regexp_replace(lower(p_name), '[^a-z0-9]+', '_', 'g')
                 AS name_slug,
               md5(p_name) AS name_md5,
               regexp_extract(p_brand, '(\d+)$', 1) AS brand_num,
               p_size::VARCHAR AS size_str
        FROM part
    """)
def f_scalar_functions(spark, sf):
    part = _load(spark, sf, "part")
    return part.select(
        "p_partkey",
        F.regexp_replace(F.lower("p_name"), "[^a-z0-9]+", "_")
        .alias("name_slug"),
        F.md5(F.col("p_name")).alias("name_md5"),
        F.regexp_extract(F.col("p_brand"), r"(\d+)$", 1)
        .alias("brand_num"),
        F.col("p_size").cast("string").alias("size_str"))


@query(oracle="""
        SELECT json_extract(props, '$.k')::INT AS k, count(*) AS n
        FROM events GROUP BY 1
    """)
def f4_json_extract(spark, sf):
    ev = _load(spark, sf, "events")
    return (ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k").agg(F.count(F.lit(1)).alias("n")))


@query(oracle=r"""
        WITH s AS (
          SELECT p_partkey,
                 'Brand: ' || p_brand || chr(10) ||
                 'Type: ' || p_type || chr(10) ||
                 'Size: ' || p_size::VARCHAR || chr(10) ||
                 'Product Name: ' || p_name || chr(10) ||
                 'malformed line without separator' AS t
          FROM part),
        l AS (SELECT p_partkey AS subj,
                     unnest(string_split(t, chr(10))) AS line FROM s)
        SELECT subj,
               regexp_replace(trim(lower(regexp_extract(line, '^([^:]+):', 1))),
                              '\s+', '_', 'g') AS attr,
               trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) AS value
        FROM l
        WHERE trim(lower(regexp_extract(line, '^([^:]+):', 1))) <> ''
          AND trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) <> ''
    """)
def m7_spec_attrs(spark, sf):
    # M7 spec-sheet attribute extraction (reference
    # product_attributes.py:27-88): synthesize a datasheet per part
    # and parse it back into open-vocabulary (subj, attr, value)
    part = _load(spark, sf, "part")
    spec = F.concat_ws(
        "\n",
        F.concat(F.lit("Brand: "), F.col("p_brand")),
        F.concat(F.lit("Type: "), F.col("p_type")),
        F.concat(F.lit("Size: "), F.col("p_size").cast("string")),
        F.concat(F.lit("Product Name: "), F.col("p_name")),
        F.lit("malformed line without separator"))
    sheets = part.select("p_partkey", spec.alias("spec_text"))
    return spec_attrs(sheets, "p_partkey")


@query(oracle="""
        SELECT r_name,
               count(*) AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,2)), 2)::DOUBLE AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """)
def j_dim_chain_agg(spark, sf):
    # 3-way broadcast dim chain (TPC-H Q5 shape): orders→customer→
    # nation→region, revenue per region
    o = _load(spark, sf, "orders")
    c = _load(spark, sf, "customer")
    n = _load(spark, sf, "nation")
    r = _load(spark, sf, "region")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
                 .cast("double").alias("revenue")))


@query(oracle="""
        SELECT DISTINCT tag FROM (
          SELECT event_type AS tag FROM events
          UNION ALL SELECT o_orderpriority AS tag FROM orders)
    """)
def u1_union_distinct(spark, sf):
    ev = _load(spark, sf, "events").select(
        F.col("event_type").alias("tag"))
    op = _load(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("tag"))
    return ev.unionByName(op).distinct()


@query(oracle="""
        SELECT user_id,
               string_agg(DISTINCT event_type, ',' ORDER BY event_type)
                 AS event_types,
               count(*) AS n_events
        FROM events GROUP BY user_id
    """)
def a2_collect_sorted(spark, sf):
    ev = _load(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",")
        .alias("event_types"),
        F.count(F.lit(1)).alias("n_events"))


@query(oracle="""
        SELECT n_name,
               round(sum((l_extendedprice * (1 - l_discount))
                         ::DECIMAL(18,6)), 4)::DOUBLE AS revenue,
               count(*) AS n_items
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY 1
    """)
def q5_local_supplier_volume(spark, sf):
    # TPC-H Q5 shape: 6-table join (customer⋈orders⋈lineitem⋈
    # supplier⋈nation⋈region) with the same-nation predicate —
    # the canonical join-reordering/broadcast workout; Catalyst
    # broadcasts the dim chain and the fact tables shuffle once
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    supp = _load(spark, sf, "supplier")
    nat = _load(spark, sf, "nation")
    reg = _load(spark, sf, "region")
    return (cust.join(orders,
                      cust.c_custkey == orders.o_custkey)
            .join(li, orders.o_orderkey == li.l_orderkey)
            .join(supp, (li.l_suppkey == supp.s_suppkey)
                  & (cust.c_nationkey == supp.s_nationkey))
            .join(nat, supp.s_nationkey == nat.n_nationkey)
            .join(reg, nat.n_regionkey == reg.r_regionkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(
                (F.col("l_extendedprice")
                 * (1 - F.col("l_discount")))
                .cast("decimal(18,6)")), 4)
                .cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_items")))


@query(oracle="""
        WITH pc AS (
          SELECT o_custkey,
                 date_diff('day', max(o_orderdate),
                           (SELECT max(o_orderdate) FROM orders))
                   AS recency_days,
                 count(*) AS frequency,
                 round(sum(o_totalprice::DECIMAL(18,6)), 2) AS monetary
          FROM orders GROUP BY 1),
        seg AS (
          SELECT o_custkey,
                 ntile(4) OVER (ORDER BY recency_days ASC,
                                o_custkey ASC) AS r_q,
                 ntile(4) OVER (ORDER BY frequency DESC,
                                o_custkey ASC) AS f_q,
                 ntile(4) OVER (ORDER BY monetary DESC,
                                o_custkey ASC) AS m_q
          FROM pc)
        SELECT r_q, f_q, m_q, count(*) AS customers
        FROM seg GROUP BY 1, 2, 3
    """)
def rfm_segments(spark, sf):
    # RFM customer segmentation: recency (days since last order),
    # frequency (orders), monetary (total spend) → quartile
    # buckets via ntile with a deterministic custkey tie-break →
    # segment sizes. Two shuffles: custkey agg, then the three
    # small ntile windows over customer-sized rows.
    orders = _load(spark, sf, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("mx"))
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.max("o_orderdate").alias("last_order"),
                     F.count(F.lit(1)).alias("frequency"),
                     F.round(F.sum(F.col("o_totalprice")
                                   .cast("decimal(18,6)")), 2)
                     .alias("monetary"))
                .crossJoin(F.broadcast(anchor))
                .withColumn("recency_days",
                            F.datediff("mx", "last_order")))
    # quartiles via the range-partitioned two-pass ntile (exact
    # SQL semantics) — three customer-sized sorts, none of them a
    # single-task unpartitioned window; quartile frames re-join
    # on the customer key
    dims = [("r_q", [F.asc("recency_days"), F.asc("o_custkey")]),
            ("f_q", [F.desc("frequency"), F.asc("o_custkey")]),
            ("m_q", [F.desc("monetary"), F.asc("o_custkey")])]
    seg = None
    for name, order in dims:
        q = ntile_distributed(per_cust, order, 4, name) \
            .select("o_custkey", name)
        seg = q if seg is None else seg.join(q, "o_custkey")
    return (seg.groupBy("r_q", "f_q", "m_q")
            .agg(F.count(F.lit(1)).alias("customers")))


@query(oracle="""
        SELECT p_brand, count(*) AS n_items,
               round(sum(l_extendedprice::DECIMAL(18,6)), 2)::DOUBLE
                 AS gross,
               round(sum((l_extendedprice * l_discount)
                         ::DECIMAL(18,6)), 2)::DOUBLE AS discounted
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """)
def part_brand_margin(spark, sf):
    # brand-level sales rollup: lineitem ⋈ part (fact⋈dim,
    # broadcast), exact decimal revenue/discount totals
    li = _load(spark, sf, "lineitem")
    part = _load(spark, sf, "part")
    return (li.join(F.broadcast(part),
                    li.l_partkey == part.p_partkey)
            .groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.round(F.sum(F.col("l_extendedprice")
                               .cast("decimal(18,6)")), 2)
                 .cast("double").alias("gross"),
                 F.round(F.sum((F.col("l_extendedprice")
                                * F.col("l_discount"))
                               .cast("decimal(18,6)")), 2)
                 .cast("double").alias("discounted")))


@query(oracle="""
        WITH rev AS (
          SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d')
                   AS o_orderdate,
                 round(sum((l_extendedprice * (1 - l_discount))
                           ::DECIMAL(18,6)), 2)::DOUBLE AS revenue
          FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < DATE '1995-03-15'
            AND l_shipdate > DATE '1995-03-15'
          GROUP BY 1, 2)
        SELECT o_orderkey, o_orderdate, revenue, rank
        FROM (SELECT *, row_number() OVER (
                ORDER BY revenue DESC, o_orderkey ASC) AS rank
              FROM rev) z
        WHERE rank <= 10
    """)
def q3_shipping_priority(spark, sf):
    # TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈
    # lineitem, revenue per order, top 10 (date predicates pushed
    # to both scans; deterministic orderkey tie-break)
    cust = _load(spark, sf, "customer") \
        .filter(F.col("c_mktsegment") == "BUILDING")
    orders = _load(spark, sf, "orders") \
        .filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _load(spark, sf, "lineitem") \
        .filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    rev = (cust.join(orders, cust.c_custkey == orders.o_custkey)
           .join(li, orders.o_orderkey == li.l_orderkey)
           .groupBy("o_orderkey", "o_orderdate")
           .agg(F.round(F.sum((F.col("l_extendedprice")
                               * (1 - F.col("l_discount")))
                              .cast("decimal(18,6)")), 2)
                .cast("double").alias("revenue")))
    return add_rank(rev, [], [F.desc("revenue"),
                              F.asc("o_orderkey")]) \
        .filter(F.col("rank") <= 10) \
        .select("o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd")
                .alias("o_orderdate"), "revenue", "rank")


@query(oracle="""
        SELECT round(sum((l_extendedprice * l_discount)
                         ::DECIMAL(18,6)), 2)::DOUBLE AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate <  DATE '1996-01-01'
          AND l_discount BETWEEN 0.02 AND 0.06
          AND l_quantity < 24
    """)
def q6_forecast_revenue(spark, sf):
    # TPC-H Q6 shape: pure filter-aggregate — the plan should be
    # scan (all three predicates pushed) → partial agg → one row
    li = _load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01"))
        & (F.col("l_discount").between(0.02, 0.06))
        & (F.col("l_quantity") < 24))
    return li.agg(
        F.round(F.sum((F.col("l_extendedprice")
                       * F.col("l_discount"))
                      .cast("decimal(18,6)")), 2)
        .cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


@query(oracle="""
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                 THEN (l_extendedprice * (1 - l_discount))
                      ::DECIMAL(18,6)
                 ELSE 0::DECIMAL(18,6) END)::DOUBLE
               / sum((l_extendedprice * (1 - l_discount))
                     ::DECIMAL(18,6))::DOUBLE, 6) AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
    """)
def q14_promo_share(spark, sf):
    # TPC-H Q14 shape: conditional aggregation over a broadcast
    # dim join — share of revenue from 'PROMO%' part types
    li = _load(spark, sf, "lineitem")
    part = _load(spark, sf, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    rev = (F.col("l_extendedprice")
           * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return j.agg(
        F.round(100.0 * F.sum(F.when(
            F.col("p_type").startswith("PROMO"), rev)
            .otherwise(F.lit(0).cast("decimal(18,6)")))
            .cast("double")
            / F.sum(rev).cast("double"), 6).alias("promo_pct"))


@query(oracle="""
        WITH big AS (
          SELECT l_orderkey,
                 round(sum(l_quantity::DECIMAL(18,2)), 2)::DOUBLE
                   AS total_qty
          FROM lineitem GROUP BY 1
          HAVING round(sum(l_quantity::DECIMAL(18,2)), 2) > 150)
        SELECT c_custkey, c_name, o_orderkey,
               round(o_totalprice, 2) AS o_totalprice, total_qty
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """)
def q18_large_orders(spark, sf):
    # TPC-H Q18 shape: orders whose total quantity exceeds a
    # threshold (groupBy-HAVING as a semi-filter), enriched with
    # the customer — aggregate first, join the survivors after
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    cust = _load(spark, sf, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum(F.col("l_quantity")
                              .cast("decimal(18,2)")), 2)
                .cast("double").alias("total_qty"))
           .filter(F.col("total_qty") > 150))
    return (big.join(orders,
                     big.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_custkey", "c_name", "o_orderkey",
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    "total_qty"))


@query(oracle="""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS yr,
               round(sum((l_extendedprice * (1 - l_discount))
                         ::DECIMAL(18,6)), 2)::DOUBLE AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """)
def q7_nation_volume(spark, sf):
    # TPC-H Q7 shape: shipping volume between supplier and
    # customer nations by year — two broadcast nation lookups on
    # one fact-chain join, exact decimal revenue
    li = _load(spark, sf, "lineitem")
    orders = _load(spark, sf, "orders")
    cust = _load(spark, sf, "customer")
    supp = _load(spark, sf, "supplier")
    nat = _load(spark, sf, "nation")
    n1 = F.broadcast(nat.select(
        F.col("n_nationkey").alias("sk"),
        F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nat.select(
        F.col("n_nationkey").alias("ck"),
        F.col("n_name").alias("cust_nation")))
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(supp, li.l_suppkey == supp.s_suppkey)
         .join(n1, supp.s_nationkey == F.col("sk"))
         .join(n2, cust.c_nationkey == F.col("ck"))
         .filter(F.col("supp_nation") != F.col("cust_nation")))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("yr"))
            .agg(F.round(F.sum((F.col("l_extendedprice")
                                * (1 - F.col("l_discount")))
                               .cast("decimal(18,6)")), 2)
                 .cast("double").alias("revenue")))


@query(oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate
                                         + INTERVAL 30 DAY)
        GROUP BY 1
    """)
def q4_order_priority(spark, sf):
    # TPC-H Q4 shape: per-priority order counts where EXISTS a
    # line shipped >30 days after the order date — a left-semi
    # join (never a row-multiplying inner join + distinct)
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    late = orders.join(
        li, (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 30)),
        "left_semi")
    return late.groupBy("o_orderpriority") \
        .agg(F.count(F.lit(1)).alias("order_count"))


@query(oracle="""
        WITH rev AS (
          SELECT c_custkey, c_name,
                 round(sum((l_extendedprice * (1 - l_discount))
                           ::DECIMAL(18,6)), 2)::DOUBLE AS revenue
          FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          WHERE l_returnflag = 'R'
          GROUP BY 1, 2)
        SELECT c_custkey, c_name, revenue, rank
        FROM (SELECT *, row_number() OVER (
                ORDER BY revenue DESC, c_custkey ASC) AS rank
              FROM rev) z
        WHERE rank <= 20
    """)
def q10_returned_items(spark, sf):
    # TPC-H Q10 shape: revenue lost to returns per customer,
    # top 20 (returnflag filter pushed to the lineitem scan)
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem") \
        .filter(F.col("l_returnflag") == "R")
    rev = (cust.join(orders, cust.c_custkey == orders.o_custkey)
           .join(li, orders.o_orderkey == li.l_orderkey)
           .groupBy("c_custkey", "c_name")
           .agg(F.round(F.sum((F.col("l_extendedprice")
                               * (1 - F.col("l_discount")))
                              .cast("decimal(18,6)")), 2)
                .cast("double").alias("revenue")))
    return add_rank(rev, [], [F.desc("revenue"),
                              F.asc("c_custkey")]) \
        .filter(F.col("rank") <= 20)


@query(oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey
              GROUP BY 1)
        GROUP BY 1
    """)
def q13_order_count_distribution(spark, sf):
    # TPC-H Q13 shape: distribution of orders-per-customer
    # INCLUDING zero-order customers — the left outer join is the
    # point (an inner join would silently drop the c_count=0 bin);
    # two aggregations, the second over customer-sized rows
    cust = _load(spark, sf, "customer").select("c_custkey")
    orders = _load(spark, sf, "orders") \
        .select("o_custkey", "o_orderkey")
    per_cust = (cust.join(orders,
                          cust.c_custkey == orders.o_custkey,
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count") \
        .agg(F.count(F.lit(1)).alias("custdist"))


@query(oracle="""
        WITH thr AS (
          SELECT l_partkey,
                 sum(l_quantity::DECIMAL(18,2)) AS sum_qty,
                 count(*) AS cnt
          FROM lineitem GROUP BY 1)
        SELECT round((sum(l_extendedprice::DECIMAL(18,6)) / 7)::DOUBLE,
                     2) AS avg_yearly,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN thr USING (l_partkey)
        WHERE p_brand = 'Brand#23'
          AND l_quantity::DECIMAL(18,2) * 5 * cnt < sum_qty
    """)
def q17_small_quantity_revenue(spark, sf):
    # TPC-H Q17 shape: revenue from below-avg-quantity line items
    # of one brand — the per-part AVG subquery is a broadcast-able
    # partkey aggregate joined back to the (brand-filtered) fact.
    # The 0.2·avg threshold is evaluated in EXACT integer/decimal
    # arithmetic (qty·5·cnt < sum_qty), never a float divide, so
    # the DuckDB replay is bit-identical at the boundary.
    li = _load(spark, sf, "lineitem")
    part = _load(spark, sf, "part") \
        .filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    thr = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"))
    j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
         .join(thr, "l_partkey")
         .filter(F.col("l_quantity").cast("decimal(18,2)")
                 * 5 * F.col("cnt") < F.col("sum_qty")))
    return j.agg(
        F.round((F.sum(F.col("l_extendedprice")
                       .cast("decimal(18,6)")) / 7).cast("double"),
                2).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"))


@query(oracle="""
        SELECT p_brand,
               round(sum((l_extendedprice * (1 - l_discount))
                         ::DECIMAL(18,6)), 2)::DOUBLE AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size <= 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size <= 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size <= 15
               AND l_quantity BETWEEN 20 AND 30)
        GROUP BY 1
    """)
def q19_disjunct_revenue(spark, sf):
    # TPC-H Q19 shape: disjunction of three conjunctive
    # brand/size/quantity clauses over a part⋈lineitem join — the
    # OR-of-ANDs predicate the optimizer must keep joinable (the
    # common l_partkey = p_partkey conjunct stays an equi-join key;
    # the disjunction filters after the broadcast join)
    li = _load(spark, sf, "lineitem")
    part = _load(spark, sf, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    clause = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size") <= 15)
           & q.between(20, 30)))
    return (j.filter(clause)
            .groupBy("p_brand")
            .agg(F.round(F.sum((F.col("l_extendedprice")
                                * (1 - F.col("l_discount")))
                               .cast("decimal(18,6)")), 2)
                 .cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


@query(oracle="""
        WITH avg_pos AS (
          SELECT sum(c_acctbal::DECIMAL(18,2))::DOUBLE / count(*)
                   AS avg_bal
          FROM customer WHERE c_acctbal > 0)
        SELECT c_mktsegment,
               count(*) AS numcust,
               round(sum(c_acctbal::DECIMAL(18,2)), 2)::DOUBLE
                 AS totacctbal
        FROM customer, avg_pos
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY 1
    """)
def q22_idle_rich_customers(spark, sf):
    # TPC-H Q22 shape: customers with above-average positive
    # balance and NO urgent orders — a global scalar aggregate
    # broadcast as the filter bound, then an anti-join; both
    # engines compute the threshold as one IEEE divide of the
    # exact decimal sum by the count, so the > comparison is
    # bit-identical. (TPC-H proper anti-joins ALL orders; every
    # fixture customer has orders, so the urgent subset keeps the
    # shape non-vacuous.)
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders") \
        .filter(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_custkey")
    avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
         .cast("double") / F.count(F.lit(1))).alias("avg_bal"))
    rich = cust.crossJoin(F.broadcast(avg_pos)) \
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey,
                     "left_anti")
    return (idle.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum(F.col("c_acctbal")
                               .cast("decimal(18,2)")), 2)
                 .cast("double").alias("totacctbal")))


@query(oracle="""
        WITH unit AS (
          SELECT l_partkey, l_suppkey,
                 sum(l_extendedprice::DECIMAL(18,6))::DOUBLE
                   / sum(l_quantity::DECIMAL(18,2))::DOUBLE
                   AS unit_price
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_type = 'STANDARD' AND p_size <= 10
          GROUP BY 1, 2)
        SELECT l_partkey AS p_partkey, s_suppkey, s_name,
               n_name AS supp_nation,
               round(unit_price, 6) AS unit_price
        FROM unit u
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE unit_price = (SELECT min(unit_price) FROM unit
                            WHERE l_partkey = u.l_partkey)
    """)
def q2_min_price_supplier(spark, sf):
    # TPC-H Q2 shape: for each small STANDARD part, the
    # supplier(s) selling it at the MINIMUM observed unit price —
    # the correlated scalar-min subquery becomes a per-part min
    # aggregate joined back on double equality (both engines
    # derive the unit price from the same exact decimal sums with
    # one IEEE divide, so the equality is bit-identical)
    li = _load(spark, sf, "lineitem")
    part = _load(spark, sf, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
    supp = _load(spark, sf, "supplier")
    nation = _load(spark, sf, "nation") \
        .select("n_nationkey", "n_name")
    unit = (li.join(F.broadcast(part.select("p_partkey")),
                    li.l_partkey == F.col("p_partkey"))
            .groupBy("l_partkey", "l_suppkey")
            .agg((F.sum(F.col("l_extendedprice")
                        .cast("decimal(18,6)")).cast("double")
                  / F.sum(F.col("l_quantity")
                          .cast("decimal(18,2)")).cast("double"))
                 .alias("unit_price")))
    best = unit.groupBy("l_partkey") \
        .agg(F.min("unit_price").alias("min_price"))
    return (unit.join(best, "l_partkey")
            .filter(F.col("unit_price") == F.col("min_price"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == supp.s_suppkey)
            .join(F.broadcast(nation),
                  supp.s_nationkey == nation.n_nationkey)
            .select(F.col("l_partkey").alias("p_partkey"),
                    "s_suppkey", "s_name",
                    F.col("n_name").alias("supp_nation"),
                    F.round("unit_price", 6).alias("unit_price")))


@query(oracle="""
        WITH val AS (
          SELECT l_partkey,
                 sum((l_extendedprice * (1 - l_discount))
                     ::DECIMAL(18,6)) AS value_dec
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_5'
          GROUP BY 1),
        tot AS (SELECT sum(value_dec)::DOUBLE AS total FROM val)
        SELECT l_partkey,
               round(value_dec, 2)::DOUBLE AS part_value
        FROM val CROSS JOIN tot
        WHERE value_dec::DOUBLE > 0.001 * total
    """)
def q11_value_concentration(spark, sf):
    # TPC-H Q11 shape: parts whose revenue through one nation's
    # suppliers exceeds a fraction of that nation's total — the
    # global scalar aggregate broadcasts back as a HAVING bound
    # (same regime as q22; the 0.001 threshold is a double
    # multiply of the exact decimal total on both engines)
    li = _load(spark, sf, "lineitem")
    supp = _load(spark, sf, "supplier")
    nation = _load(spark, sf, "nation") \
        .filter(F.col("n_name") == "NATION_5")
    ns = supp.join(F.broadcast(nation),
                   supp.s_nationkey == nation.n_nationkey) \
        .select("s_suppkey")
    val = (li.join(F.broadcast(ns), li.l_suppkey == ns.s_suppkey)
           .groupBy("l_partkey")
           .agg(F.sum((F.col("l_extendedprice")
                       * (1 - F.col("l_discount")))
                      .cast("decimal(18,6)")).alias("value_dec")))
    tot = val.agg(F.sum("value_dec").cast("double").alias("total"))
    return (val.crossJoin(F.broadcast(tot))
            .filter(F.col("value_dec").cast("double")
                    > F.lit(0.001) * F.col("total"))
            .select("l_partkey",
                    F.round(F.col("value_dec"), 2).cast("double")
                    .alias("part_value")))


@query(oracle="""
        SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
                    THEN 'late' ELSE 'ontime' END AS ship_class,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    """)
def q12_priority_by_delay(spark, sf):
    # TPC-H Q12 shape: conditional priority counts per shipping
    # class — the fixture has no l_shipmode, so the class is the
    # ship-delay bucket (>60 days = 'late'); the CASE-sum pair
    # compiles to one partial-aggregated pass, no join
    # re-expansion (orders⋈lineitem is the only shuffle)
    orders = _load(spark, sf, "orders") \
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _load(spark, sf, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (j.select(
                F.when(F.datediff("l_shipdate", "o_orderdate") > 60,
                       F.lit("late")).otherwise(F.lit("ontime"))
                .alias("ship_class"), hi.alias("hi"))
            .groupBy("ship_class")
            .agg(F.sum(F.when(F.col("hi"), 1).otherwise(0))
                 .alias("high_line_count"),
                 F.sum(F.when(F.col("hi"), 0).otherwise(1))
                 .alias("low_line_count")))


@query(oracle="""
        WITH vol AS (
          SELECT year(o_orderdate) AS o_year,
                 (l_extendedprice * (1 - l_discount))::DECIMAL(18,6)
                   AS volume,
                 sn.n_name AS supp_nation
          FROM lineitem
          JOIN part     ON l_partkey = p_partkey
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region   ON cn.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE p_type = 'ECONOMY' AND r_name = 'ASIA')
        SELECT o_year,
               sum(CASE WHEN supp_nation = 'NATION_3'
                        THEN volume
                        ELSE 0::DECIMAL(18,6) END)::DOUBLE
                 / sum(volume)::DOUBLE AS mkt_share,
               round(sum(volume), 4)::DOUBLE AS total_volume
        FROM vol GROUP BY 1
    """)
def q8_market_share(spark, sf):
    # TPC-H Q8 shape: one supplier nation's share of ECONOMY-part
    # order volume delivered into ASIA, per order year — the
    # nation table plays TWO roles (customer side and supplier
    # side), both broadcast; share = conditional decimal sum over
    # total decimal sum, divided once as doubles so the DuckDB
    # replay is bit-identical
    nation = _load(spark, sf, "nation")
    region = _load(spark, sf, "region") \
        .filter(F.col("r_name") == "ASIA")
    cust = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    supp = _load(spark, sf, "supplier")
    part = _load(spark, sf, "part") \
        .filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    cn = nation.join(F.broadcast(region),
                     nation.n_regionkey == region.r_regionkey) \
        .select(F.col("n_nationkey").alias("cn_key"))
    sn = nation.select(F.col("n_nationkey").alias("sn_key"),
                       F.col("n_name").alias("supp_nation"))
    vol = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
           .join(orders, li.l_orderkey == orders.o_orderkey)
           .join(cust, orders.o_custkey == cust.c_custkey)
           .join(F.broadcast(cn), cust.c_nationkey == F.col("cn_key"))
           .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
           .join(F.broadcast(sn), supp.s_nationkey == F.col("sn_key"))
           .select(F.year("o_orderdate").alias("o_year"),
                   (F.col("l_extendedprice")
                    * (1 - F.col("l_discount")))
                   .cast("decimal(18,6)").alias("volume"),
                   "supp_nation"))
    return (vol.groupBy("o_year")
            .agg((F.sum(F.when(F.col("supp_nation") == "NATION_3",
                               F.col("volume"))
                        .otherwise(F.lit(0).cast("decimal(18,6)")))
                  .cast("double")
                  / F.sum("volume").cast("double"))
                 .alias("mkt_share"),
                 F.round(F.sum("volume"), 4).cast("double")
                 .alias("total_volume")))


@query(oracle="""
        SELECT n_name AS nation,
               year(o_orderdate) AS o_year,
               round(sum((l_extendedprice * (1 - l_discount)
                          - 0.6 * p_retailprice * l_quantity)
                         ::DECIMAL(18,6)), 2)::DOUBLE AS sum_profit
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
    """)
def q9_profit_by_nation_year(spark, sf):
    # TPC-H Q9 shape: product-line profit per supplier nation per
    # order year (no partsupp table in the fixture schema, so
    # supply cost is the 0.6·p_retailprice·qty proxy — the join
    # DAG is the point: fact ⋈ filtered part ⋈ supplier ⋈ nation
    # ⋈ orders, dims broadcast, one shuffle for the final rollup)
    li = _load(spark, sf, "lineitem")
    part = _load(spark, sf, "part") \
        .filter(F.col("p_name").like("%red%")) \
        .select("p_partkey", "p_retailprice")
    supp = _load(spark, sf, "supplier") \
        .select("s_suppkey", "s_nationkey")
    nation = _load(spark, sf, "nation") \
        .select("n_nationkey", "n_name")
    orders = _load(spark, sf, "orders") \
        .select("o_orderkey", "o_orderdate")
    profit = (li.join(F.broadcast(part),
                      li.l_partkey == part.p_partkey)
              .join(F.broadcast(supp),
                    li.l_suppkey == supp.s_suppkey)
              .join(F.broadcast(nation),
                    supp.s_nationkey == nation.n_nationkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .select(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").alias("o_year"),
                      (F.col("l_extendedprice")
                       * (1 - F.col("l_discount"))
                       - F.lit(0.6) * F.col("p_retailprice")
                       * F.col("l_quantity"))
                      .cast("decimal(18,6)").alias("amount")))
    return (profit.groupBy("nation", "o_year")
            .agg(F.round(F.sum("amount"), 2).cast("double")
                 .alias("sum_profit")))


@query(oracle="""
        WITH rev AS (
          SELECT l_suppkey AS supplier_no,
                 round(sum((l_extendedprice * (1 - l_discount))
                           ::DECIMAL(18,6)), 4)::DOUBLE
                   AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON supplier_no = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """)
def q15_top_supplier(spark, sf):
    # TPC-H Q15 shape: revenue view over one quarter, then the
    # supplier(s) whose revenue EQUALS the global max — the scalar
    # max is a one-row broadcast joined back on double equality
    # (safe: both sides are the same rounded decimal-sum cast)
    li = _load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01")))
    supp = _load(spark, sf, "supplier")
    rev = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.round(F.sum((F.col("l_extendedprice")
                               * (1 - F.col("l_discount")))
                              .cast("decimal(18,6)")), 4)
                .cast("double").alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (rev.crossJoin(F.broadcast(mx))
            .filter(F.col("total_revenue") == F.col("max_rev"))
            .join(F.broadcast(supp),
                  F.col("supplier_no") == supp.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue"))


@query(oracle="""
        WITH ps AS (
          SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM ps JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#2' AND p_size <= 20
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
    """)
def q16_supplier_part_counts(spark, sf):
    # TPC-H Q16 shape: distinct-supplier counts per part
    # (brand, type, size) bucket, excluding one brand and every
    # negative-balance supplier via NOT IN (the fixture has no
    # partsupp table — the part↔supplier relation is the distinct
    # (l_partkey, l_suppkey) projection of the fact, which is the
    # same anti-join + two-phase distinct-agg plan)
    li = _load(spark, sf, "lineitem") \
        .select("l_partkey", "l_suppkey").distinct()
    part = _load(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_size") <= 20))
    bad = _load(spark, sf, "supplier") \
        .filter(F.col("s_acctbal") < 0).select("s_suppkey")
    kept = li.join(F.broadcast(bad),
                   li.l_suppkey == bad.s_suppkey, "left_anti")
    return (kept.join(F.broadcast(part),
                      kept.l_partkey == part.p_partkey)
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey")
                 .alias("supplier_cnt")))


@query(oracle="""
        WITH qty AS (
          SELECT l_partkey, l_suppkey,
                 sum(l_quantity::DECIMAL(18,2)) AS supp_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'small%'
            AND l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate <  TIMESTAMP '1996-01-01'
          GROUP BY 1, 2),
        tot AS (
          SELECT l_partkey, sum(supp_qty) AS part_qty
          FROM qty GROUP BY 1)
        SELECT s_suppkey, s_name, count(*) AS n_parts_dominated
        FROM qty JOIN tot USING (l_partkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE supp_qty * 2 > part_qty
        GROUP BY 1, 2
    """)
def q20_dominant_suppliers(spark, sf):
    # TPC-H Q20 shape: suppliers who shipped MORE THAN HALF of a
    # small part's 1995 volume (availqty has no fixture column, so
    # the >½·sum(qty) threshold compares the supplier's own
    # shipped quantity against the part total — same correlated
    # aggregate-vs-aggregate structure, exact decimal compare)
    li = _load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-01-01")))
    part = _load(spark, sf, "part") \
        .filter(F.col("p_name").like("small%")).select("p_partkey")
    supp = _load(spark, sf, "supplier")
    qty = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
           .groupBy("l_partkey", "l_suppkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .alias("supp_qty")))
    tot = qty.groupBy("l_partkey") \
        .agg(F.sum("supp_qty").alias("part_qty"))
    dom = (qty.join(tot, "l_partkey")
           .filter(F.col("supp_qty") * 2 > F.col("part_qty")))
    return (dom.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == supp.s_suppkey)
            .select("s_suppkey", "s_name", "n_parts_dominated"))


@query(oracle="""
        WITH pairs AS (
          SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        late AS (
          SELECT DISTINCT l_orderkey, l_suppkey
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'
            AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        SELECT s_suppkey, s_name, count(*) AS numwait
        FROM late t1 JOIN supplier ON t1.l_suppkey = s_suppkey
        WHERE EXISTS (SELECT 1 FROM pairs t2
                      WHERE t2.l_orderkey = t1.l_orderkey
                        AND t2.l_suppkey <> t1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late t3
                          WHERE t3.l_orderkey = t1.l_orderkey
                            AND t3.l_suppkey <> t1.l_suppkey)
        GROUP BY 1, 2
    """)
def q21_late_sole_shippers(spark, sf):
    # TPC-H Q21 shape: suppliers who were the ONLY late shipper
    # on a multi-supplier finished order — EXISTS(other supplier on
    # the order) as a left-semi join, NOT EXISTS(other LATE
    # supplier) as a left-anti join, both over deduplicated
    # (order, supplier) pairs so no row multiplication survives
    # the quadratic self-joins ("late" = shipped >90 days after
    # the order date; the fixture has no receipt/commit dates)
    orders = _load(spark, sf, "orders") \
        .filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    li = _load(spark, sf, "lineitem") \
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    supp = _load(spark, sf, "supplier")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    late = (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .filter(F.col("l_shipdate")
                    > F.col("o_orderdate")
                    + F.expr("INTERVAL 90 DAY"))
            .select("l_orderkey", "l_suppkey").distinct())
    o2 = pairs.select(F.col("l_orderkey").alias("ok"),
                      F.col("l_suppkey").alias("sk"))
    l2 = late.select(F.col("l_orderkey").alias("ok"),
                     F.col("l_suppkey").alias("sk"))
    sole = (late
            .join(o2, (late.l_orderkey == o2.ok)
                  & (late.l_suppkey != o2.sk), "left_semi")
            .join(l2, (late.l_orderkey == l2.ok)
                  & (late.l_suppkey != l2.sk), "left_anti"))
    return (sole.groupBy("l_suppkey")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .join(F.broadcast(supp),
                  F.col("l_suppkey") == supp.s_suppkey)
            .select("s_suppkey", "s_name", "numwait"))


@query(oracle="""
        WITH li AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        item_cnt AS (
          SELECT l_partkey, count(*) AS item_cnt FROM li GROUP BY 1),
        pairs AS (
          SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
                 count(*) AS pair_cnt
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= 3)
        SELECT item_a, item_b, pair_cnt,
               pair_cnt::DOUBLE / ca.item_cnt AS confidence,
               (pair_cnt * n_orders)::DOUBLE
                 / (ca.item_cnt * cb.item_cnt) AS lift
        FROM pairs
        JOIN item_cnt ca ON pairs.item_a = ca.l_partkey
        JOIN item_cnt cb ON pairs.item_b = cb.l_partkey
        CROSS JOIN n
    """)
def market_basket_lift(spark, sf):
    # association-rule mining over co-purchase baskets: pair
    # support / confidence / lift from ONE distinct
    # (order, part) projection — the pair self-join reuses the
    # j6 co-occurrence plan (sorted-pair canonical form, shuffle
    # on orderkey only), the per-part counts broadcast back, and
    # both engines compute lift with the same two integer
    # products divided once as doubles
    li = _load(spark, sf, "lineitem") \
        .select("l_orderkey", "l_partkey").distinct()
    n_orders = li.select("l_orderkey").distinct() \
        .agg(F.count(F.lit(1)).alias("n_orders"))
    item_cnt = li.groupBy("l_partkey") \
        .agg(F.count(F.lit(1)).alias("item_cnt"))
    a = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("item_a"))
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("item_b"))
    pairs = (a.join(b, "ok")
             .filter(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count(F.lit(1)).alias("pair_cnt"))
             .filter(F.col("pair_cnt") >= 3))
    ca = item_cnt.select(F.col("l_partkey").alias("item_a"),
                         F.col("item_cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("l_partkey").alias("item_b"),
                         F.col("item_cnt").alias("cnt_b"))
    return (pairs.join(F.broadcast(ca), "item_a")
            .join(F.broadcast(cb), "item_b")
            .crossJoin(F.broadcast(n_orders))
            .select("item_a", "item_b", "pair_cnt",
                    (F.col("pair_cnt").cast("double")
                     / F.col("cnt_a")).alias("confidence"),
                    ((F.col("pair_cnt") * F.col("n_orders"))
                     .cast("double")
                     / (F.col("cnt_a") * F.col("cnt_b")))
                    .alias("lift")))


@query(oracle="""
        WITH d AS (
          SELECT round(s_acctbal, 2) AS bal,
                 ntile(10) OVER (ORDER BY round(s_acctbal, 2) ASC,
                                 s_suppkey ASC) AS decile
          FROM supplier)
        SELECT decile, count(*) AS n, min(bal) AS lo, max(bal) AS hi
        FROM d GROUP BY 1
    """)
def supplier_balance_deciles(spark, sf):
    # decile profile of supplier account balances: exact ntile(10)
    # semantics with a deterministic key tie-break — computed by
    # the range-partitioned two-pass rank (topk.ntile_distributed)
    # instead of an unpartitioned window, so the supplier-sized
    # sort never funnels into one task
    supp = _load(spark, sf, "supplier")
    ranked = ntile_distributed(
        supp.select("s_suppkey",
                    F.round("s_acctbal", 2).alias("bal")),
        [F.asc("bal"), F.asc("s_suppkey")], 10, "decile")
    return (ranked.groupBy("decile")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("bal").alias("lo"),
                 F.max("bal").alias("hi")))


# skew profile: one count pass, window math on the key table
@query(oracle="""
        WITH counts AS (
          SELECT l_suppkey AS key, count(*) AS n_rows
          FROM lineitem GROUP BY 1),
        ranked AS (
          SELECT key, n_rows,
                 sum(n_rows) OVER () AS tot,
                 row_number() OVER (ORDER BY n_rows DESC, key ASC)
                   AS rank,
                 sum(n_rows) OVER (ORDER BY n_rows DESC, key ASC
                                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM counts)
        SELECT key, n_rows,
               round(n_rows::DOUBLE / tot::DOUBLE, 9) AS share,
               round(cum::DOUBLE / tot::DOUBLE, 9) AS cum_share,
               rank
        FROM ranked WHERE rank <= 10
    """)
def j_skew_key_profile(spark, sf):
    # per-key skew diagnostics (the planning input for the salted
    # join / range-repartition knobs): top-10 heaviest supplier
    # keys with share + cumulative share — one partial-agg pass
    # over the data, window math on the key table only
    # (operators/skew.py::skew_profile)
    return skew_profile(_load(spark, sf, "lineitem"),
                        "l_suppkey", top=10)


# unpivot: DuckDB UNPIVOT ≡ Spark df.unpivot; DECIMAL sums keep
# the totals order-independent
@query(oracle="""
        WITH long AS (
          UNPIVOT (SELECT l_returnflag, l_quantity, l_extendedprice,
                          l_discount, l_tax FROM lineitem)
          ON l_quantity, l_extendedprice, l_discount, l_tax
          INTO NAME measure VALUE value)
        SELECT l_returnflag, measure, count(*) AS n,
               round(sum(value::DECIMAL(18,2)), 2)::DOUBLE AS total
        FROM long GROUP BY 1, 2
    """)
def a_unpivot_measures(spark, sf):
    # relational UNPIVOT (melt): the four lineitem measures become
    # (measure, value) rows in ONE pass — the wide→long reshape
    # feeding generic per-metric aggregation; stays codegen (no
    # explode of structs needed, Spark's native unpivot node)
    li = _load(spark, sf, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure", "value")
    return (long.groupBy("l_returnflag", "measure")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("value")
                               .cast("decimal(18,2)")), 2)
                 .cast("double").alias("total")))


# RANGE frame in integer microseconds; DECIMAL sums order-free
@query(oracle="""
        SELECT event_id, user_id,
               round(sum(value::DECIMAL(18,6)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 259200000000 PRECEDING
                       AND CURRENT ROW), 4)::DOUBLE AS trail_value,
               count(*) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 259200000000 PRECEDING
                       AND CURRENT ROW) AS trail_n
        FROM events
    """)
def w_trailing_range_frame(spark, sf):
    # RANGE-framed window (the interval-frame shape ROWS frames
    # can't express): per user, trailing-3-day sum/count of value
    # at every event — frame bounds in integer MICROSECONDS over
    # unix_micros(ts) so both engines use the identical total
    # order and boundary arithmetic
    ev = _load(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(us.cast("long")) \
        .rangeBetween(-3 * 86400 * 1_000_000, 0)
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                .over(w), 4).cast("double").alias("trail_value"),
        F.count(F.lit(1)).over(w).alias("trail_n"))


# null-safe join: IS NOT DISTINCT FROM ≡ eqNullSafe
@query(oracle="""
        WITH o AS (SELECT nullif(o_orderstatus, 'O') AS k FROM orders),
        dim(k, label) AS (VALUES ('F', 'finished'), ('P', 'pending'),
                                 (NULL, 'open'))
        SELECT label, count(*) AS n_orders
        FROM o JOIN dim ON o.k IS NOT DISTINCT FROM dim.k
        GROUP BY 1
    """)
def j_null_safe_join(spark, sf):
    # null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
    # keys MATCH each other instead of vanishing — the semantics
    # plain '=' silently drops; nullif() manufactures a
    # deterministic NULL stratum from a real column
    o = _load(spark, sf, "orders").select(
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k"))
    dim = spark.createDataFrame(
        [("F", "finished"), ("P", "pending"), (None, "open")],
        "k string, label string")
    return (o.join(dim, o["k"].eqNullSafe(dim["k"]))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_orders")))


# EXCEPT ALL on distinct inputs ≡ EXCEPT; INTERSECT distinct
@query(oracle="""
        WITH modes AS (SELECT DISTINCT o_orderstatus AS v FROM orders),
        flags AS (SELECT DISTINCT l_linestatus AS v FROM lineitem)
        SELECT v, 'except' AS op FROM (
          SELECT v FROM modes EXCEPT SELECT v FROM flags)
        UNION ALL
        SELECT v, 'intersect' AS op FROM (
          SELECT v FROM modes INTERSECT SELECT v FROM flags)
    """)
def u_except_intersect(spark, sf):
    # EXCEPT / INTERSECT set operations (2.F completeness beyond
    # u1's UNION): ship modes that never appear as return flags,
    # plus the overlap, tagged in one result
    o = _load(spark, sf, "orders")
    li = _load(spark, sf, "lineitem")
    modes = o.select(F.col("o_orderstatus").alias("v")).distinct()
    flags = li.select(F.col("l_linestatus").alias("v")).distinct()
    ex = modes.exceptAll(flags).select(
        "v", F.lit("except").alias("op"))
    inter = modes.intersect(flags).select(
        "v", F.lit("intersect").alias("op"))
    return ex.unionByName(inter)


@query(oracle="""
        SELECT l_returnflag, count(*) AS n,
               round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
               round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
               round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
               round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
        FROM lineitem GROUP BY 1
    """)
def a_percentiles(spark, sf):
    # EXACT interpolated percentiles (Spark `percentile` ≡ DuckDB
    # `quantile_cont`, parity-verified); the approx_percentile
    # t-digest path is the 100 TB variant of the same plan shape
    li = _load(spark, sf, "lineitem")
    p = F.expr(
        "percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(p[0], 6).alias("p25"), F.round(p[1], 6).alias("p50"),
        F.round(p[2], 6).alias("p75"), F.round(p[3], 6).alias("p95"))


@query(oracle="""
        SELECT li.l_orderkey, li.l_partkey, li.l_returnflag,
               round(li.l_extendedprice, 2) AS price,
               d.flag_avg_disc
        FROM lineitem li
        JOIN (SELECT l_returnflag,
                     round(avg(l_discount), 6) AS flag_avg_disc
              FROM lineitem GROUP BY 1) d USING (l_returnflag)
    """)
def j_salted_skew_join(spark, sf):
    # explicit skew handling on a maximally hot key (l_returnflag
    # has 3 values — every key is a head key): the salted
    # broadcast join spreads each hot key over n_salt tasks; the
    # result is identical to the plain join, which is exactly
    # what the oracle replays
    li = _load(spark, sf, "lineitem")
    dim = li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_discount"), 6).alias("flag_avg_disc"))
    big = li.select("l_orderkey", "l_partkey", "l_returnflag",
                    F.round("l_extendedprice", 2).alias("price"))
    return salted_broadcast_join(big, dim, ["l_returnflag"],
                                 n_salt=8)


@query(oracle="""
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click')    AS click,
               count(*) FILTER (WHERE event_type = 'error')    AS error,
               count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               count(*) FILTER (WHERE event_type = 'signup')   AS signup,
               count(*) FILTER (WHERE event_type = 'view')     AS view
        FROM events GROUP BY 1
    """)
def a_pivot_event_matrix(spark, sf):
    # relational pivot: one row per user, one count column per
    # event type. The explicit value list keeps the plan a single
    # pass (no distinct-values pre-job) — at 100 TB an open-ended
    # pivot would need that extra scan
    kinds = ["click", "error", "purchase", "signup", "view"]
    ev = _load(spark, sf, "events")
    return (ev.groupBy("user_id").pivot("event_type", kinds)
            .agg(F.count(F.lit(1))).na.fill(0, kinds))


@query(oracle="""
        SELECT o_orderkey,
               o_orderstatus AS status,
               round(o_totalprice, 2) AS price,
               o_orderkey AS second_elem
        FROM orders
    """)
def f_variant_extract(spark, sf):
    # Spark 4 VariantType roundtrip: build nested JSON from row
    # values, parse to VARIANT (the open-schema binary encoding
    # for semi-structured columns at scale — no schema inference
    # pass, per-path typed access), extract typed paths. The
    # oracle checks roundtrip identity: extracted values must
    # equal the originals exactly.
    o = _load(spark, sf, "orders")
    js = F.to_json(F.struct(
        F.col("o_orderkey").alias("k"),
        F.struct(F.col("o_orderstatus").alias("s"),
                 F.round("o_totalprice", 2).alias("p")).alias("d"),
        F.array("o_custkey", "o_orderkey").alias("a")))
    v = F.parse_json(js)
    return o.select(
        "o_orderkey",
        F.variant_get(v, "$.d.s", "string").alias("status"),
        F.variant_get(v, "$.d.p", "double").alias("price"),
        F.variant_get(v, "$.a[1]", "bigint").alias("second_elem"))


@query(oracle="""
        SELECT user_id, event_type, count(*) AS run_len,
               min(event_id) AS first_event
        FROM (SELECT user_id, event_type, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                   - row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS island
              FROM events)
        GROUP BY user_id, event_type, island
    """)
def w_gap_islands(spark, sf):
    # gaps-and-islands: maximal runs of consecutive same-type
    # events per user (row_number difference trick — pure window
    # functions, one shuffle on user_id; both window specs share
    # the partition key so Catalyst evaluates them in one sort)

    ev = _load(spark, sf, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type") \
        .orderBy("ts", "event_id")
    isl = ev.select(
        "user_id", "event_type", "event_id",
        (F.row_number().over(w_all) - F.row_number().over(w_typ))
        .alias("island"))
    return isl.groupBy("user_id", "event_type", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("event_id").alias("first_event")) \
        .drop("island")


@query(oracle="""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice::DECIMAL(18,2))::DOUBLE, 2)
                 AS revenue
        FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """)
def a_cube_rollup(spark, sf):
    # grouping-sets aggregation: every (priority × status) combo
    # plus both partials and the grand total in ONE pass; DECIMAL
    # accumulation keeps the sums order-independent
    o = _load(spark, sf, "orders")
    return (o.cube("o_orderpriority", "o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(
                     F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                     .cast("double"), 2).alias("revenue")))


@query(oracle="""
        SELECT o_custkey, o_orderkey,
               round((sum(o_totalprice::DECIMAL(18,2)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING))::DOUBLE, 2)
                 AS running_spend,
               round((o_totalprice::DECIMAL(18,2) - lag(
                 o_totalprice::DECIMAL(18,2), 1) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey))::DOUBLE, 2)
                 AS delta_vs_prev,
               row_number() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS order_seq
        FROM orders
    """)
def w_running_analytics(spark, sf):
    # per-customer running spend + previous-order delta: frame-
    # based window aggs (cumulative sum, lag) with a fully
    # deterministic (date, orderkey) ordering
    o = _load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey") \
        .orderBy("o_orderdate", "o_orderkey")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum(price).over(
            w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"), 2).alias("running_spend"),
        F.round((price - F.lag(price, 1).over(w)).cast("double"), 2)
        .alias("delta_vs_prev"),
        F.row_number().over(w).alias("order_seq"))


@query(oracle="""
        WITH o AS (
          SELECT user_id, event_type, ts, event_id,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev
          FROM events),
        g AS (SELECT *,
                 sum(CASE WHEN prev IS NULL
                          OR event_type <> prev THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS grp
              FROM o),
        iv AS (SELECT user_id, grp, min(event_type) AS event_type,
                      min(epoch_us(ts)) AS valid_from_us
               FROM g GROUP BY 1, 2)
        SELECT user_id, event_type, valid_from_us, valid_to_us,
               (valid_to_us IS NULL) AS is_current
        FROM (SELECT user_id, event_type, valid_from_us,
                     lead(valid_from_us) OVER (PARTITION BY user_id
                       ORDER BY valid_from_us) AS valid_to_us
              FROM iv) z
    """)
def scd2_type_intervals(spark, sf):
    # Type-2 SCD build: collapse each user's event stream into
    # validity intervals of event_type (islands by VALUE change,
    # not time gap) — one shuffle+sort per entity, epoch-µs
    # BIGINT bounds, open current interval
    # (operators/temporal.py::scd2_intervals)
    return scd2_intervals(_load(spark, sf, "events"))


@query(oracle="""
        WITH v AS (
          SELECT event_id, user_id, ts,
                 CASE WHEN ('0x' || substr(md5('ff:' ||
                        CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                        % 5 <> 0
                      THEN value END AS v
          FROM events)
        SELECT event_id, user_id, round(v, 2) AS v,
               round(last_value(v IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 2) AS v_filled
        FROM v
    """)
def w_forward_fill(spark, sf):
    # Gap-fill: deterministically null ~20% of readings (md5
    # selector), then forward-fill per user in event order with
    # last(ignorenulls) over a running frame — ONE shuffle+sort
    # per user; leading nulls stay null (nothing to carry)
    ev = _load(spark, sf, "events")
    h = F.conv(F.substring(F.md5(F.concat(
        F.lit("ff:"), F.col("event_id").cast("string"))),
        1, 15), 16, 10).cast("long")
    v = F.when(h % 5 != 0, F.col("value"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.asc("ts"), F.asc("event_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    return (ev.select("event_id", "user_id", "ts", v.alias("v"))
            .withColumn("v_filled",
                        F.last("v", ignorenulls=True).over(w))
            .select("event_id", "user_id",
                    F.round("v", 2).alias("v"),
                    F.round("v_filled", 2).alias("v_filled")))


@query(oracle="""
        WITH scored AS (
          SELECT q.vec_id AS query_id, q.label AS q_label,
                 c.vec_id AS corpus_id, c.label AS c_label,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored),
        nlab AS (SELECT label AS q_label, count(*) - 1 AS n_relevant
                 FROM embeddings GROUP BY 1),
        dcg AS (
          SELECT query_id, q_label,
                 sum(CASE WHEN q_label = c_label THEN 1 ELSE 0 END
                     / log2(rank + 1)) AS dcg
          FROM ranked WHERE rank <= 10
          GROUP BY 1, 2),
        h AS (SELECT CAST(i AS BIGINT) AS i,
                     sum(1.0 / log2(i + 1)) OVER (
                       ORDER BY i ROWS UNBOUNDED PRECEDING) AS hsum
              FROM range(1, 11) AS t(i)),
        idcg AS (
          SELECT d.query_id, n.n_relevant, d.dcg, h.hsum AS idcg
          FROM dcg d JOIN nlab n USING (q_label)
          JOIN h ON h.i = greatest(1, least(10, n.n_relevant)))
        SELECT query_id, CAST(n_relevant AS BIGINT) AS n_relevant,
               round(dcg, 6) AS dcg10,
               round(idcg, 6) AS idcg10,
               round(dcg / idcg, 6) AS ndcg10
        FROM idcg
    """)
def rank_eval_ndcg(spark, sf):
    # Ranking-quality evaluation: NDCG@10 of the exact cosine
    # retriever against binary label-match relevance. The ranked
    # lists come from the SAME gate-proven cosine_topk operator
    # (integer ranks — no float scores cross the comparison);
    # rel, R_q (relevant-corpus size) and both DCG sums are
    # integer-derived, IDCG@10 closes over min(10, R_q) ideal
    # hits. Per query: retrieval is the only big pass; the eval
    # itself is a 10-row-per-query rollup plus one broadcast-able
    # per-label count
    emb = _load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    top = sim.cosine_topk(q, emb, k=10) \
        .select("query_id", "corpus_id", "rank")
    lab = emb.select("vec_id", "label")
    rel = (top
           .join(F.broadcast(lab.withColumnRenamed("vec_id",
                                                   "query_id")
                             .withColumnRenamed("label",
                                                "q_label")),
                 "query_id")
           .join(lab.withColumnRenamed("vec_id", "corpus_id")
                 .withColumnRenamed("label", "c_label"),
                 "corpus_id")
           .withColumn("rel",
                       (F.col("q_label") == F.col("c_label"))
                       .cast("long")))
    # corpus-wide relevant count per label (self excluded)
    nlab = emb.groupBy(F.col("label").alias("q_label")) \
        .agg((F.count(F.lit(1)) - 1).alias("n_relevant"))
    per_q = (rel.groupBy("query_id", "q_label")
             .agg(F.sum(F.col("rel")
                        / F.log2(F.col("rank") + 1))
                  .alias("dcg"))
             .join(F.broadcast(nlab), "q_label"))
    idcg = F.expr(
        "aggregate(sequence(1, int(greatest(1, "
        "least(10, n_relevant)))), "
        "cast(0.0 as double), (s, i) -> s + 1.0 / log2(i + 1))")
    return per_q.select(
        "query_id", "n_relevant",
        F.round("dcg", 6).alias("dcg10"),
        F.round(idcg, 6).alias("idcg10"),
        F.round(F.col("dcg") / idcg, 6).alias("ndcg10"))


@query(oracle="""
        WITH shards(s) AS (
          VALUES ('us-east'), ('us-west'), ('eu'), ('ap')),
        h AS (SELECT doc_id, s,
                     ('0x' || substr(md5(s || ':'
                                         || CAST(doc_id AS VARCHAR)),
                                     1, 15))::BIGINT AS hv
              FROM documents, shards),
        a AS (SELECT doc_id,
                     (max(struct_pack(h := hv, s := s))).s AS shard
              FROM h GROUP BY 1)
        SELECT shard, count(*) AS n_docs FROM a GROUP BY 1
    """)
def j_rendezvous_shards(spark, sf):
    # rendezvous (HRW) shard assignment of the corpus onto 4
    # named shards — consistent-hashing semantics without a ring:
    # stateless argmax of per-shard hashes, minimal remap on
    # membership change (pinned in tests/test_skew.py); rolled up
    # to per-shard counts (operators/skew.py::rendezvous_assign)
    docs = _load(spark, sf, "documents").select("doc_id")
    return (rendezvous_assign(docs, "doc_id",
                              ["us-east", "us-west", "eu", "ap"])
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_docs")))


@query(oracle="""
        WITH m AS (
          SELECT l_suppkey, count(*) AS n_lines,
                 round(avg(l_shipdate::DATE - o_orderdate::DATE),
                       6) AS avg_lead_days,
                 max(l_shipdate::DATE - o_orderdate::DATE)
                   AS max_lead_days,
                 round(avg(((l_shipdate::DATE - o_orderdate::DATE)
                            > 90)::INT::DOUBLE), 6) AS slow_frac
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1)
        SELECT * FROM m
        ORDER BY slow_frac DESC, n_lines DESC, l_suppkey ASC
        LIMIT 20
    """)
def supplier_lead_time(spark, sf):
    # fulfillment datasheet: per-supplier order→ship latency
    # (integer days from the order date to each line's ship
    # date), slow-ship fraction (> 90 days), and volume — the
    # fact-fact join shuffles on orderkey once, the rollup is
    # partial-agg'd; top-20 worst with deterministic ties
    li = _load(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    o = _load(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    j = li.join(o, "l_orderkey")
    lead = F.datediff("l_shipdate", "o_orderdate")
    m = j.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.avg(lead), 6).alias("avg_lead_days"),
        F.max(lead).alias("max_lead_days"),
        F.round(F.avg((lead > 90).cast("double")), 6)
        .alias("slow_frac"))
    return m.orderBy(F.desc("slow_frac"), F.desc("n_lines"),
                     F.asc("l_suppkey")).limit(20)


@query(oracle="""
        SELECT l_returnflag, l_linestatus,
               grouping(l_returnflag) + 2 * grouping(l_linestatus)
                 AS gid,
               count(*) AS n,
               round(sum(l_extendedprice::DECIMAL(18,2)), 2)::DOUBLE
                 AS revenue
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """)
def a_grouping_sets(spark, sf):
    # explicit GROUPING SETS with the grouping_id disambiguator:
    # ((flag, status), (flag), ()) over lineitem revenue — one
    # Expand + one aggregation, NOT three scans; grouping_id keys
    # NULL-as-grouped vs NULL-as-value apart (exact DECIMAL sums)
    li = _load(spark, sf, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return spark.sql("""
            SELECT l_returnflag, l_linestatus,
                   grouping(l_returnflag) + 2 * grouping(l_linestatus)
                     AS gid,
                   count(*) AS n,
                   CAST(round(sum(CAST(l_extendedprice
                                       AS DECIMAL(18,2))), 2)
                        AS DOUBLE) AS revenue
            FROM __li_gs
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
        """)


@query(oracle="""
        WITH per AS (SELECT o_custkey,
                            sum(o_totalprice::DECIMAL(18,2)) AS rev
                     FROM orders GROUP BY 1),
        tot AS (SELECT sum(rev) AS t, count(*) AS n_customers
                FROM per),
        cum AS (SELECT o_custkey,
                       (sum(rev) OVER (
                          ORDER BY rev DESC, o_custkey ASC
                          ROWS UNBOUNDED PRECEDING))::DOUBLE
                       / (SELECT t FROM tot)::DOUBLE AS cum_share
                FROM per)
        SELECT (SELECT count(*) + 1 FROM cum WHERE cum_share < 0.8)
                 AS n_customers_80,
               (SELECT n_customers FROM tot) AS n_customers,
               round((SELECT min(cum_share) FROM cum
                      WHERE cum_share >= 0.8), 6) AS share_at_cross,
               round((SELECT count(*) + 1 FROM cum
                      WHERE cum_share < 0.8)::DOUBLE
                     / (SELECT n_customers FROM tot), 6)
                 AS frac_customers
    """)
def q_pareto_coverage(spark, sf):
    # Pareto 80/20: how many customers cover 80% of revenue —
    # cumulative share sweep over the per-customer rollup (exact
    # DECIMAL revenue, deterministic (revenue desc, key) order),
    # reporting the crossing count and its exact cumulative share
    orders = _load(spark, sf, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .alias("rev"))
    # cumulative share via the range-partitioned two-pass prefix
    # sum (DECIMAL-exact) — no single-task unpartitioned window
    # over the customer-sized rollup
    tot = per.agg(F.sum("rev").alias("t"))
    cum = (global_prefix_sum(
        per, [F.desc("rev"), F.asc("o_custkey")], "rev", "__c")
        .crossJoin(F.broadcast(tot))
        .select("o_custkey",
                (F.col("__c").cast("double")
                 / F.col("t").cast("double"))
                .alias("cum_share")))
    hit = cum.filter(F.col("cum_share") >= 0.8).agg(
        F.min("cum_share").alias("share_at_cross"))
    n80 = cum.filter(F.col("cum_share") < 0.8).agg(
        (F.count(F.lit(1)) + 1).alias("n_customers_80"))
    total_c = per.agg(F.count(F.lit(1)).alias("n_customers"))
    return (n80.crossJoin(hit).crossJoin(total_c)
            .select("n_customers_80", "n_customers",
                    F.round("share_at_cross", 6)
                    .alias("share_at_cross"),
                    F.round(F.col("n_customers_80").cast("double")
                            / F.col("n_customers"), 6)
                    .alias("frac_customers")))


@query(oracle="""
        WITH iv AS (SELECT user_id, event_id,
                           floor(epoch(ts))::BIGINT AS s,
                           floor(epoch(ts))::BIGINT
                             + floor(value)::BIGINT AS e
                    FROM events),
        f AS (SELECT *,
                CASE WHEN max(e) OVER (
                       PARTITION BY user_id ORDER BY s, e, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) IS NULL
                       OR s > max(e) OVER (
                       PARTITION BY user_id ORDER BY s, e, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING)
                     THEN 1 ELSE 0 END AS is_new
              FROM iv),
        isl AS (SELECT *, sum(is_new) OVER (
                  PARTITION BY user_id ORDER BY s, e, event_id
                  ROWS UNBOUNDED PRECEDING) AS island
                FROM f),
        per AS (SELECT user_id, island,
                       max(e) - min(s) AS covered
                FROM isl GROUP BY 1, 2)
        SELECT user_id, sum(covered)::BIGINT AS active_seconds,
               count(*) AS n_islands
        FROM per GROUP BY 1
    """)
def w_interval_union(spark, sf):
    # interval-union length (total ACTIVE time from overlapping
    # activity windows, per user): sweep in start order, a new
    # island begins when start exceeds the running max of prior
    # ends, covered time = Σ per-island (max end − min start) —
    # two windows sharing one per-user sort, exact integer epoch
    # seconds end to end (interval = [ts, ts + ⌊value⌋ s])
    ev = _load(spark, sf, "events")
    iv = ev.select(
        "user_id", "event_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts")
         + F.floor("value").cast("long")).alias("e"))
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "is_new",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0))
    isl = flagged.withColumn(
        "island", F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    per = isl.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered"))
    return per.groupBy("user_id").agg(
        F.sum("covered").alias("active_seconds"),
        F.count(F.lit(1)).alias("n_islands"))


@query(oracle="""
        WITH pts AS (
          SELECT c_custkey AS id,
                 (('0x' || substr(md5('lat:' || c_custkey::VARCHAR),
                                  1, 15))::BIGINT % 120000000)::DOUBLE
                   / 1000000.0 - 60.0 AS lat,
                 (('0x' || substr(md5('lon:' || c_custkey::VARCHAR),
                                  1, 15))::BIGINT % 360000000)::DOUBLE
                   / 1000000.0 - 180.0 AS lon
          FROM customer),
        pts2 AS (SELECT id, lat, lon,
                        floor(lon / 5)::INT AS cx,
                        floor(lat / 5)::INT AS cy
                 FROM pts),
        pr AS (
          SELECT s_suppkey AS probe_id,
                 (('0x' || substr(md5('lat:' || s_suppkey::VARCHAR),
                                  1, 15))::BIGINT % 120000000)::DOUBLE
                   / 1000000.0 - 60.0 AS plat,
                 (('0x' || substr(md5('lon:' || s_suppkey::VARCHAR),
                                  1, 15))::BIGINT % 360000000)::DOUBLE
                   / 1000000.0 - 180.0 AS plon
          FROM supplier WHERE s_suppkey <= 10),
        fan AS (SELECT probe_id, plat, plon,
                       floor(plon / 5)::INT + dx::INT AS cx,
                       floor(plat / 5)::INT + dy::INT AS cy
                FROM pr,
                     unnest(generate_series(-1, 1)) t1(dx),
                     unnest(generate_series(-1, 1)) t2(dy)),
        cand AS (SELECT f.probe_id, f.plat, f.plon,
                        p.id AS cust_id, p.lat, p.lon
                 FROM fan f JOIN pts2 p USING (cx, cy)),
        scored AS (
          SELECT probe_id, cust_id,
                 round(2.0 * 6371.0 * asin(sqrt(
                   sin(radians(lat - plat) / 2)
                     * sin(radians(lat - plat) / 2)
                   + cos(radians(plat)) * cos(radians(lat))
                     * sin(radians(lon - plon) / 2)
                     * sin(radians(lon - plon) / 2))), 6) AS dist_km
          FROM cand)
        SELECT probe_id, cust_id, dist_km, rnk FROM (
          SELECT *, row_number() OVER (
            PARTITION BY probe_id
            ORDER BY dist_km ASC, cust_id ASC) AS rnk
          FROM scored) z
        WHERE rnk <= 5
    """)
def geo_knn_grid(spark, sf):
    # geospatial K-nearest-neighbors, grid-blocked: md5-derived
    # (lat, lon) per customer, probes = the supplier fleet; each
    # probe fans out to its 3×3 block of 5° grid cells (map-side
    # explode) and joins points on the integer cell key — never an
    # all-pairs cross join, the geo twin of the LSH band join.
    # Exact haversine verify, top-5 per probe on the ROUNDED
    # distance with id tiebreaks so selection is engine-portable.
    cust = _load(spark, sf, "customer")

    def h60(prefix, key):
        return F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.lit(prefix), key.cast("string"))), 1, 15),
            16, 10).cast("bigint")

    def geo(df, key):
        lat = (h60("lat", key) % 120000000).cast("double") \
            / 1000000.0 - 60.0
        lon = (h60("lon", key) % 360000000).cast("double") \
            / 1000000.0 - 180.0
        return df.select(key.alias("id"), lat.alias("lat"),
                         lon.alias("lon"),
                         F.floor(lon / 5).cast("int").alias("cx"),
                         F.floor(lat / 5).cast("int").alias("cy"))
    pts = geo(cust, F.col("c_custkey"))
    sup = _load(spark, sf, "supplier").filter(F.col("s_suppkey") <= 10)
    probes = geo(sup, F.col("s_suppkey")).select(
        F.col("id").alias("probe_id"), F.col("lat").alias("plat"),
        F.col("lon").alias("plon"), "cx", "cy")
    off = F.expr("explode(transform(sequence(-1, 1), x -> x))")
    fan = (probes.select("probe_id", "plat", "plon", "cx", "cy",
                         off.alias("dx"))
           .select("probe_id", "plat", "plon",
                   (F.col("cx") + F.col("dx")).alias("cx"), "cy",
                   off.alias("dy"))
           .select("probe_id", "plat", "plon", "cx",
                   (F.col("cy") + F.col("dy")).alias("cy")))
    cand = fan.join(pts, ["cx", "cy"])
    dphi = F.radians(F.col("lat") - F.col("plat")) / 2
    dlmb = F.radians(F.col("lon") - F.col("plon")) / 2
    a = (F.sin(dphi) * F.sin(dphi)
         + F.cos(F.radians("plat")) * F.cos(F.radians("lat"))
         * F.sin(dlmb) * F.sin(dlmb))
    d = F.round(2.0 * 6371.0 * F.asin(F.sqrt(a)), 6)
    scored = cand.select("probe_id", F.col("id").alias("cust_id"),
                         d.alias("dist_km"))
    wk = Window.partitionBy("probe_id").orderBy(
        F.asc("dist_km"), F.asc("cust_id"))
    return (scored.withColumn("rnk", F.row_number().over(wk))
            .filter(F.col("rnk") <= 5)
            .select("probe_id", "cust_id", "dist_km", "rnk"))


@query(oracle="""
        WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                   FROM lineitem),
        l1 AS (SELECT p FROM b GROUP BY p HAVING count(*) >= 2),
        b1 AS (SELECT ok, p FROM b WHERE p IN (SELECT p FROM l1)),
        l2 AS (SELECT a.p AS x, c.p AS y
               FROM b1 a JOIN b1 c ON a.ok = c.ok AND a.p < c.p
               GROUP BY 1, 2 HAVING count(*) >= 2),
        tri AS (SELECT a.p AS x, c.p AS y, d.p AS z, a.ok
                FROM b1 a
                JOIN b1 c ON a.ok = c.ok AND a.p < c.p
                JOIN b1 d ON a.ok = d.ok AND c.p < d.p),
        pruned AS (
          SELECT t.* FROM tri t
          WHERE EXISTS (SELECT 1 FROM l2
                        WHERE l2.x = t.x AND l2.y = t.y)
            AND EXISTS (SELECT 1 FROM l2
                        WHERE l2.x = t.y AND l2.y = t.z)
            AND EXISTS (SELECT 1 FROM l2
                        WHERE l2.x = t.x AND l2.y = t.z))
        SELECT x, y, z, count(*) AS support
        FROM pruned GROUP BY 1, 2, 3 HAVING count(*) >= 2
        ORDER BY support DESC, x, y, z LIMIT 20
    """)
def market_basket_triples(spark, sf):
    # Apriori level-wise frequent-triple mining (Agrawal &
    # Srikant): L1 (frequent items) prunes the basket table, L2
    # (frequent pairs) prunes the triple space via THREE left-semi
    # joins BEFORE the triple aggregation — the candidate
    # explosion never materializes, which is the entire algorithm
    # at 10^12 baskets. Deterministic top-20 by support.
    li = _load(spark, sf, "lineitem")
    minsup = 2
    b = li.select(F.col("l_orderkey").alias("ok"),
                  F.col("l_partkey").alias("p")).distinct()
    l1 = b.groupBy("p").agg(F.count(F.lit(1)).alias("n"))             .filter(F.col("n") >= minsup).select("p")
    b1 = b.join(l1, "p", "left_semi")
    pa = b1.select("ok", F.col("p").alias("x"))
    pb = b1.select("ok", F.col("p").alias("y"))
    l2 = (pa.join(pb, "ok").filter(F.col("x") < F.col("y"))
          .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
          .filter(F.col("n") >= minsup).select("x", "y")
          .localCheckpoint(eager=True))
    pc = b1.select("ok", F.col("p").alias("z"))
    tri = (pa.join(pb, "ok").filter(F.col("x") < F.col("y"))
           .join(pc, "ok").filter(F.col("y") < F.col("z")))
    pruned = (tri.join(l2, ["x", "y"], "left_semi")
              .join(l2.select(F.col("x").alias("y"),
                              F.col("y").alias("z")),
                    ["y", "z"], "left_semi")
              .join(l2.select(F.col("x"),
                              F.col("y").alias("z")),
                    ["x", "z"], "left_semi"))
    return (pruned.groupBy("x", "y", "z")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= minsup)
            .orderBy(F.desc("support"), F.asc("x"), F.asc("y"),
                     F.asc("z"))
            .limit(20))


@query(oracle="""
        WITH pts AS (SELECT round(p_retailprice, 2) AS price,
                            p_size AS size, count(*) AS n_parts
                     FROM part GROUP BY 1, 2)
        SELECT price, size, n_parts FROM pts a
        WHERE NOT EXISTS (
          SELECT 1 FROM pts b
          WHERE b.price <= a.price AND b.size >= a.size
            AND (b.price < a.price OR b.size > a.size))
    """, waive=("global sweep input = per-bucket local-skyline "
              "survivors (bucket count x frontier size)"))
def q_skyline_2d(spark, sf):
    # Pareto frontier (skyline) over (price low, size high): the
    # 2-D case collapses to ONE sort + running-max window — order
    # by (price asc, size desc) and keep points whose size beats
    # every preceding point's — vs the textbook NOT-EXISTS O(n²)
    # self-join, which is exactly what the oracle runs, so the
    # check is cross-ALGORITHM, not just cross-engine. Scale
    # shape: the sweep runs FIRST inside hash buckets (a local
    # skyline over ANY partitioning is a superset of the global
    # one), so the only global sort sees the tiny survivor set —
    # a global-window-only form would serialize 10^12 points into
    # one task.
    part = _load(spark, sf, "part")
    pts = (part.groupBy(
        F.round(F.col("p_retailprice"), 2).alias("price"),
        F.col("p_size").alias("size"))
        .agg(F.count(F.lit(1)).alias("n_parts")))

    def sweep(df, *partition):
        w = Window.partitionBy(*partition) \
            .orderBy(F.asc("price"), F.desc("size")) \
            .rowsBetween(Window.unboundedPreceding, -1)
        return (df.withColumn("__b", F.max("size").over(w))
                .filter(F.col("__b").isNull()
                        | (F.col("size") > F.col("__b")))
                .drop("__b"))

    local = sweep(pts.withColumn(
        "__bkt", F.pmod(F.hash("price", "size"), F.lit(32))),
        "__bkt").drop("__bkt")
    return sweep(local).select("price", "size", "n_parts")


@query(oracle="""
        WITH scored AS (
          SELECT q.vec_id AS query_id, q.label AS q_label,
                 c.vec_id AS corpus_id, c.label AS c_label,
                 list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]) AS s
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20),
        ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY s DESC, corpus_id ASC) AS rank
          FROM scored)
        SELECT query_id,
               round(coalesce(
                 1.0 / min(CASE WHEN q_label = c_label
                                THEN rank END), 0.0), 6) AS rr,
               sum(CASE WHEN rank <= 5 AND q_label = c_label
                        THEN 1 ELSE 0 END) / 5.0 AS p_at_5,
               sum(CASE WHEN q_label = c_label THEN 1 ELSE 0 END)
                 ::BIGINT AS hits_at_10
        FROM ranked WHERE rank <= 10 GROUP BY 1
    """)
def rank_eval_mrr(spark, sf):
    # retrieval eval #2: MRR and precision@5 from the SAME
    # gate-proven cosine retriever (integer ranks cross the
    # boundary, never float scores); rr = 1/first-relevant-rank,
    # 0 when nothing relevant lands in the top 10
    emb = _load(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    top = sim.cosine_topk(qs, emb, k=10)             .select("query_id", "corpus_id", "rank")
    lab = emb.select("vec_id", "label")
    rel = (top
           .join(F.broadcast(lab.withColumnRenamed("vec_id",
                                                   "query_id")
                             .withColumnRenamed("label",
                                                "q_label")),
                 "query_id")
           .join(lab.withColumnRenamed("vec_id", "corpus_id")
                 .withColumnRenamed("label", "c_label"),
                 "corpus_id")
           .withColumn("rel",
                       (F.col("q_label") == F.col("c_label"))
                       .cast("long")))
    g = rel.groupBy("query_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank")))
        .alias("first_hit"),
        (F.sum(F.when(F.col("rank") <= 5, F.col("rel"))
               .otherwise(F.lit(0))) / 5.0).alias("p_at_5"),
        F.sum("rel").alias("hits_at_10"))
    rr = F.coalesce(1.0 / F.col("first_hit"), F.lit(0.0))
    return g.select("query_id", F.round(rr, 6).alias("rr"),
                    "p_at_5", "hits_at_10")


@query(oracle="""
        SELECT event_type, 'k' AS k, count(*) AS n,
               sum(CAST(regexp_extract(props, '"k": (\\d+)', 1)
                        AS INT))::BIGINT AS v_sum
        FROM events WHERE props IS NOT NULL
        GROUP BY event_type
    """)
def f_props_kv_udtf(spark, sf):
    # Spark 4 Python UDTF: a user-defined TABLE function exploding
    # the props JSON into (key, value) rows — the lateral-join
    # generator surface (one UDTF eval per row, rows fan out).
    # The oracle replays the parse with regexp extraction.

    @udtf(returnType="k string, v int")
    class KVPairs:
        def eval(self, props: str):
            import json
            if props:
                for k, v in sorted(json.loads(props).items()):
                    yield k, int(v)

    ev = _load(spark, sf, "events")
    ev.createOrReplaceTempView("__ev_udtf")
    spark.udtf.register("kv_pairs", KVPairs)
    out = spark.sql("""
            SELECT e.event_type, t.k, t.v
            FROM __ev_udtf e, LATERAL kv_pairs(e.props) t
        """)
    return (out.groupBy("event_type", "k")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("v").alias("v_sum")))
