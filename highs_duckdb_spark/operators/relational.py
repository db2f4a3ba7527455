"""Relational (OLAP) operator suite — Spark DataFrame first, DuckDB oracle.

Covers the SQL surface the reference's scripts exercise (SURVEY.md §2.2:
CTE, CASE, LIKE/ILIKE, split_part, ||, CAST, SUM, ORDER BY-expression, IN,
VALUES) plus the standard OLAP categories the host engine provides but the
reference never touches (joins of every flavor, grouped/distinct/rollup/
cube aggregates, windows, set ops, top-k, date/string/array functions) —
per BASELINE.json's north star these must all hold on Spark.

Scale notes applied throughout:

- Dimension tables (``region``/``nation`` — bounded at 5/25 rows at any
  scale factor) join via explicit ``F.broadcast``: no shuffle of the fact
  side, a broadcast-hash-join at any cluster size.
- Fact-fact joins (``orders``⋈``lineitem``, ``customer``⋈``orders``) are
  left to sort-merge/shuffle-hash on the join key with AQE free to convert
  or split skew; keys are the natural TPC-H keys, uniformly distributed.
- Filters appear before joins/aggregations so Catalyst pushes them into the
  parquet scan (verify: ``PushedFilters`` in ``.explain("formatted")``).
- Aggregations are expressed as single ``groupBy().agg()`` passes → Spark
  plans partial (map-side) aggregation automatically.

Cross-engine float determinism: money columns in the testdata are 2-decimal
values, so sums/averages of money (and products with 2-decimal
discount/tax factors) are computed in DECIMAL — exact and identical in
both engines regardless of summation order — then cast to DOUBLE for the
output. Plain doubles are only summed where values are integral
(quantities) or where a final round() has ample error margin; every round() in query
and oracle adds an identical +1e-9 epsilon so half-way doubles (which the
two engines round differently) never occur.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from highs_duckdb_spark.functions.money import cents, from_cents, money_sum
from highs_duckdb_spark.functions.presentation import present_sorted
from highs_duckdb_spark.operators.registry import register
from highs_duckdb_spark.plans.cbo import JoinGraph
from highs_duckdb_spark.plans.strategy import fact_join_strategy
from highs_duckdb_spark.session import load_table, local_rows_df, source_schema

# ---------------------------------------------------------------------------
# Reference-exercised surface (SURVEY.md §2.2)
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(1e-9 + CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
           round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_base_price,
           round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS sum_disc_price,
           round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                          * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE), 2) AS sum_charge,
           round(1e-9 + CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_qty,
           round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_price,
           round(1e-9 + CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: filter → grouped agg → sort. Flagship.",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    # Exact integer-cents aggregation (functions/money.py): bit-identical to
    # the oracle's DECIMAL sums, ~2x faster (stays on the long codegen path).
    qty_c = cents("l_quantity")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    tax_c = cents("l_tax")
    disc_price_c = price_c * (100 - disc_c)  # scale 4
    charge_c = disc_price_c * (100 + tax_c)  # scale 6
    n = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(qty_c, 2).alias("sum_qty"),
            money_sum(price_c, 2).alias("sum_base_price"),
            money_sum(disc_price_c, 4).alias("sum_disc_price"),
            money_sum(charge_c, 6).alias("sum_charge"),
            F.round(F.lit(1e-9) + from_cents(F.sum(qty_c), 2) / n, 4).alias("avg_qty"),
            F.round(F.lit(1e-9) + from_cents(F.sum(price_c), 2) / n, 4).alias("avg_price"),
            F.round(F.lit(1e-9) + from_cents(F.sum(disc_c), 2) / n, 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .transform(present_sorted, "l_returnflag", "l_linestatus")
    )


@register(
    "q02_case_like",
    oracle="""
    SELECT p_brand,
           CAST(sum(CASE WHEN p_type LIKE 'ECONOMY%' THEN 2
                         WHEN p_type LIKE 'SMALL%' THEN 1 ELSE 0 END) AS BIGINT) AS weighted,
           count(*) AS n
    FROM part
    WHERE p_name LIKE '%bolt%' OR p_name NOT LIKE '%a%'
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    doc="Simple-CASE projection + LIKE / NOT LIKE predicates (network_flow_example.sql:175-209).",
)
def q02_case_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)
    weighted = (
        F.when(F.col("p_type").like("ECONOMY%"), 2)
        .when(F.col("p_type").like("SMALL%"), 1)
        .otherwise(0)
    )
    return (
        part.filter(F.col("p_name").like("%bolt%") | ~F.col("p_name").like("%a%"))
        .groupBy("p_brand")
        .agg(
            F.sum(weighted).cast("bigint").alias("weighted"),
            F.count("*").alias("n"),
        )
        .orderBy("p_brand")
    )


@register(
    "q03_ilike",
    oracle="""
    SELECT c_mktsegment, count(*) AS n
    FROM customer
    WHERE c_name ILIKE '%customer#00000000%'
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="ILIKE case-insensitive match (test/sql/highs.test:16,21).",
)
def q03_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    return (
        cust.filter(F.col("c_name").ilike("%customer#00000000%"))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .orderBy("c_mktsegment")
    )


@register(
    "q04_split_concat_cast",
    oracle="""
    SELECT s_name,
           CAST(CAST(split_part(s_name, '#', 2) AS INTEGER) AS BIGINT) AS supp_id,
           s_name || '/' || CAST(s_nationkey AS VARCHAR) AS tagged
    FROM supplier
    WHERE CAST(split_part(s_name, '#', 2) AS INTEGER) % 2 = 0
    ORDER BY supp_id
    """,
    doc="split_part + || concat + CAST + ORDER BY expression (network_flow_example.sql:214-264).",
)
def q04_split_concat_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, "supplier", sf_dir)
    supp_id = F.split_part(F.col("s_name"), F.lit("#"), F.lit(2)).cast("int")
    return (
        sup.filter(supp_id % 2 == 0)
        .select(
            "s_name",
            supp_id.cast("bigint").alias("supp_id"),
            F.concat(F.col("s_name"), F.lit("/"), F.col("s_nationkey").cast("string")).alias(
                "tagged"
            ),
        )
        .orderBy("supp_id")
    )


@register(
    "q05_values_cte",
    oracle="""
    WITH rates(seg, rate) AS (VALUES ('AUTOMOBILE', 0.10), ('MACHINERY', 0.20),
                                     ('BUILDING', 0.15), ('FURNITURE', 0.05), ('HOUSEHOLD', 0.25)),
    bal AS (
      SELECT c_mktsegment,
             round(1e-9 + CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_bal
      FROM customer GROUP BY c_mktsegment
    )
    SELECT b.c_mktsegment, b.total_bal,
           round(1e-9 + b.total_bal * r.rate, 4) AS weighted_bal
    FROM bal b JOIN rates r ON b.c_mktsegment = r.seg
    ORDER BY b.c_mktsegment
    """,
    doc="VALUES inline table + chained CTEs (example_usage.sql:19-22; network_flow_example.sql:168-181).",
)
def q05_values_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    rates = local_rows_df(spark, 
        [
            ("AUTOMOBILE", 0.10),
            ("MACHINERY", 0.20),
            ("BUILDING", 0.15),
            ("FURNITURE", 0.05),
            ("HOUSEHOLD", 0.25),
        ],
        "seg string, rate double",
    )
    bal = cust.groupBy("c_mktsegment").agg(
        F.round(F.lit(1e-9) + F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double"), 2).alias(
            "total_bal"
        )
    )
    return (
        bal.join(F.broadcast(rates), bal.c_mktsegment == rates.seg)
        .select(
            "c_mktsegment",
            "total_bal",
            F.round(F.lit(1e-9) + F.col("total_bal") * F.col("rate"), 4).alias("weighted_bal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q06_in_filter_agg",
    oracle="""
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
           round(1e-9 + CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ('NATION_01', 'NATION_07', 'NATION_13', 'NATION_19')
      AND c_acctbal BETWEEN 0 AND 9000
    GROUP BY n_name ORDER BY n_name
    """,
    doc="IN-list + BETWEEN predicates with a broadcast dim join (network_flow_example.sql:257-258).",
)
def q06_in_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    return (
        cust.filter(F.col("c_acctbal").between(0, 9000))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(F.col("n_name").isin("NATION_01", "NATION_07", "NATION_13", "NATION_19"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.lit(1e-9) + 
                F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double") / F.count("*"), 4
            ).alias("avg_bal"),
        )
        .orderBy("n_name")
    )


@register(
    "q07_global_agg",
    oracle="""
    SELECT round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE), 2) AS revenue_lost,
           count(*) AS n_items
    FROM lineitem
    WHERE l_discount > 0.05 AND l_quantity < 25
    """,
    doc="Global SUM with no GROUP BY (network_flow_example.sql:214-215); TPC-H Q6 shape.",
)
def q07_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    rev_c = cents("l_extendedprice") * cents("l_discount")  # scale 4, exact
    return li.filter((F.col("l_discount") > 0.05) & (F.col("l_quantity") < 25)).agg(
        money_sum(rev_c, 4).alias("revenue_lost"),
        F.count("*").alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Joins (category unexercised by the reference; SURVEY.md §2.2 tail)
# ---------------------------------------------------------------------------


@register(
    "q10_join_broadcast",
    oracle="""
    SELECT p_brand,
           round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'ECONOMY'
    GROUP BY p_brand ORDER BY p_brand
    """,
    doc="Fact ⋈ filtered dim with explicit broadcast: no fact-side shuffle for the join.",
)
def q10_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    rev_c = cents("l_extendedprice") * (100 - cents("l_discount"))  # scale 4, exact
    # planner-built: the filtered part dim broadcasts under the byte cap
    # (the asserted plan property at test scale); at a scale where the
    # broadcast build map outgrows L3 (sf100: ~4M filtered part rows,
    # every one of 600M probes a cache miss — the measured 2.69× of
    # BENCH_SCALING r9) the planner demotes to the bucket-aligned
    # shuffled-hash join over the partkey-clustered copies of BOTH tables
    # (cbo._pick_cocluster; VERDICT r09 item 1) — per-bucket cache-resident
    # build maps, zero exchanges on the declared layout.
    # sel DERIVED: 1-of-NDV(p_type) from the footer sidecar (round 7)
    from highs_duckdb_spark.sources.layout import eq_selectivity

    g = JoinGraph(spark, sf_dir)
    # catalog_rows: no filters on lineitem → every clustered copy is
    # substitutable as-is (the identity case of the prepare contract)
    g.fact("lineitem", li, catalog_rows=True)
    # on= (declarative, planner-built equality) instead of an opaque cond:
    # the runtime-filter pass can then record its decision for this edge —
    # at every SF the decision is the pinned DECLINE "build_broadcasts"
    # (a broadcast hash join drops probe rows at the scan stage already;
    # a bloom would re-test what the build map tests — VERDICT r08 item 2)
    g.dim(
        "part",
        part,
        after=("lineitem",),
        on=("l_partkey", "p_partkey"),
        prepare=lambda df: df.filter(F.col("p_type") == "ECONOMY"),
        key="p_partkey",
        sel=eq_selectivity(sf_dir, "part", "p_type", default=0.2),
    )
    return (
        g.plan()
        .groupBy("p_brand")
        .agg(
            money_sum(rev_c, 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .transform(present_sorted, "p_brand")
    )


@register(
    "q11_join_multiway",
    oracle="""
    SELECT r_name, CAST(count(*) AS BIGINT) AS n_orders,
           round(1e-9 + CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name ORDER BY r_name
    """,
    doc="4-way star join: shuffle join on the fact key, broadcast for nation/region.",
)
def q11_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)

    def finished(df: DataFrame) -> DataFrame:
        return df.filter(F.col("o_orderstatus") == "F")

    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    # CBO-lite: orders⋈customer gets the size-picked co-partitioned
    # strategy; prepare= opts orders into the layout's alternate clustered
    # copies, so under the bucketed layout the planner scans the
    # custkey-clustered orders COPY and the star join is exchange-free on
    # BOTH sides; nation/region stay broadcast at every scale (bounded
    # 25/5 rows).
    from highs_duckdb_spark.sources.layout import eq_selectivity

    g = JoinGraph(spark, sf_dir)
    # sel DERIVED: 1-of-NDV(o_orderstatus) from the footer sidecar
    g.fact(
        "orders",
        orders,
        sel=eq_selectivity(sf_dir, "orders", "o_orderstatus", default=0.33),
        prepare=finished,
    )
    g.fact("customer", cust)
    g.edge("orders", "o_custkey", "customer", "c_custkey")
    g.dim("nation", nation, F.col("c_nationkey") == F.col("n_nationkey"), after=("customer",))
    g.dim("region", region, F.col("n_regionkey") == F.col("r_regionkey"), after=("nation",))
    # aggregate DECLARED: past the absolute-benefit floor the NDV gate
    # pre-aggregates orders by o_custkey
    # below the star join (~15 orders/customer off the join input; under
    # the layout the custkey-clustered copy makes the pre-aggregate
    # exchange-free too — the rewrite composes with copy selection)
    g.aggregate(
        ("r_name",),
        {
            "n_orders": ("count", "*"),
            "total_c": ("sum", cents("o_totalprice"), ("o_totalprice",)),
        },
    )
    return (
        g.plan()
        .select(
            "r_name",
            "n_orders",
            F.round(F.lit(1e-9) + from_cents(F.col("total_c"), 2), 2).alias(
                "total_value"
            ),
        )
        .transform(present_sorted, "r_name")
    )


@register(
    "q12_semi_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="Left-semi join (EXISTS): customers having at least one big order.",
)
def q12_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)

    def big_orders(df: DataFrame) -> DataFrame:
        return df.filter(F.col("o_totalprice") > 200000)

    # planner-built: the raw-orders build side never broadcasts
    # (fact_scale); prepare=/key= let the planner scan the layout's
    # custkey-clustered orders COPY, making the demoted semi join
    # exchange-free on BOTH sides (customer is custkey-bucketed)
    from highs_duckdb_spark.sources.layout import range_selectivity

    g = JoinGraph(spark, sf_dir)
    g.fact("customer", cust)
    g.dim(
        "orders",
        load_table(spark, "orders", sf_dir),
        F.col("c_custkey") == F.col("o_custkey"),
        after=("customer",),
        # sel DERIVED: zone interpolation over o_totalprice > 200k
        sel=range_selectivity(sf_dir, "orders", "o_totalprice", lo=200000, default=0.25),
        how="left_semi",
        fact_scale=True,  # raw orders probe: never a static broadcast
        prepare=big_orders,
        key="o_custkey",
    )
    return (
        g.plan()
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .orderBy("c_mktsegment")
    )


@register(
    "q13_anti_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    doc="Left-anti join (NOT EXISTS): customers with no orders at all.",
)
def q13_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    # planner-built anti join: full orders is the build side — never a
    # static broadcast (fact_scale); under the layout the custkey-
    # clustered copy makes the co-partitioned anti join exchange-free
    g = JoinGraph(spark, sf_dir)
    g.fact("customer", cust)
    g.dim(
        "orders",
        orders,
        F.col("c_custkey") == F.col("o_custkey"),
        after=("customer",),
        how="left_anti",
        fact_scale=True,  # raw orders probe: never a static broadcast
        prepare=lambda df: df.select("o_custkey"),
        key="o_custkey",
    )
    return (
        g.plan()
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .orderBy("c_mktsegment")
    )


@register(
    "q14_outer_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN li.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS empty_orders
    FROM orders o
    LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity >= 45) li
      ON o.o_orderkey = li.l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Left-outer join + null-probe counting (orders with no qualifying lineitem).",
)
def q14_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey")
        .distinct()
    )
    # planner-built left outer; NULL probes survive on the preserved side.
    # The distinct qualifying-order key set GROWS with SF (order-count
    # grained): fact_scale pins it to the co-partitioned strategy — at sf10
    # the broadcast of the ~7M-key hash relation measured 1.15→3.14 s
    # (build + driver round trip), exactly the cliff the class exists to
    # forbid at 100 TB.
    from highs_duckdb_spark.sources.layout import (
        range_selectivity,
        semijoin_key_selectivity,
    )

    g = JoinGraph(spark, sf_dir)
    g.fact("orders", orders)
    g.dim(
        "lineitem_keys",
        li,
        F.col("o_orderkey") == F.col("l_orderkey"),
        after=("orders",),
        table="orders",
        # sel DERIVED: distinct l_orderkeys with ≥1 qty≥45 line =
        # 1-(1-s_row)^(lines/order), s_row from the quantity zones
        sel=semijoin_key_selectivity(
            sf_dir,
            "lineitem",
            "l_orderkey",
            row_sel=range_selectivity(sf_dir, "lineitem", "l_quantity", lo=45, default=0.12),
            default=0.5,
        ),
        how="left",
        fact_scale=True,
    )
    return (
        g.plan()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("empty_orders"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------


@register(
    "q20_distinct_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="Multiple COUNT(DISTINCT) in one aggregate (expand-based plan in Spark).",
)
def q20_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from highs_duckdb_spark.sources.layout import scan_for_keys

    # Round 10 measured NEGATIVE: a size-gated switch to q177's two-pass
    # shape was tried and reverted. The two-pass wins at sf10 (−31%, 6M
    # pre-agg groups fit the hash-agg maps) but LOSES 2× at sf100 (18.0 →
    # 35.3 s: 60M (flag, partkey) groups per branch spill the pre-agg),
    # so the decisive statistic is distinct-key cardinality vs aggregate
    # memory, not table bytes — and the native Expand plan is already
    # 1.36× DuckDB at sf100. q177 stays registered as the documented
    # alternative with the cardinality caveat (BENCH_SCALING r10).
    # copy selection: this aggregates on returnflag/partkey/suppkey, which
    # no layout clusters — under a bucketed layout the override would only
    # destroy combine locality (BENCH_SCALING r4: +139% at sf100)
    li = scan_for_keys(spark, sf_dir, "lineitem", "l_returnflag", "l_partkey", "l_suppkey")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
            F.count("*").alias("n"),
        )
        .transform(present_sorted, "l_returnflag")
    )


@register(
    "q177_distinct_agg_twopass",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc=(
        "q20's multiple COUNT(DISTINCT) restructured for scale: one bounded "
        "(flag, key) aggregation per distinct column instead of Spark's "
        "3x-Expand plan — each branch map-side combines to its key "
        "cardinality before shuffling, where Expand shuffles the tripled "
        "fact. Measured at sf10: 3.17 s -> 2.17 s (-31%); at sf0.1 the "
        "extra scan+join costs ~7%. ROUND-10 CAVEAT: at sf100 this shape "
        "is 2x WORSE (18.0 -> 35.3 s) — 60M (flag, partkey) pre-agg "
        "groups per branch spill the hash-agg maps that sf10's 6M fit — "
        "so the decisive statistic is distinct-key cardinality vs "
        "aggregate memory, not fact bytes; q20 keeps the native Expand "
        "plan at every scale on this host (1.36x at sf100)."
    ),
)
def q177_distinct_agg_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    parts = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.count("*").alias("c"))
        .groupBy("l_returnflag")
        .agg(
            # COUNT(DISTINCT key) ignores NULL keys: count key-groups, not rows
            F.count("l_partkey").alias("distinct_parts"),
            F.sum("c").alias("n"),
        )
    )
    supps = (
        li.groupBy("l_returnflag", "l_suppkey")
        .agg(F.count("*").alias("c2"))
        .groupBy("l_returnflag")
        .agg(F.count("l_suppkey").alias("distinct_supps"))
    )
    return (
        parts.join(supps, "l_returnflag")
        .select("l_returnflag", "distinct_parts", "distinct_supps", "n")
        .transform(present_sorted, "l_returnflag")
    )


@register(
    "q21_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
           CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
           round(1e-9 + sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
    doc="ROLLUP hierarchy totals with GROUPING() disambiguation.",
)
def q21_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
            F.grouping("l_linestatus").cast("bigint").alias("g_status"),
            F.round(F.lit(1e-9) + F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag",
            "g_status",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "q22_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
           count(*) AS n,
           round(1e-9 + CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY status, priority, g_status, g_priority
    """,
    doc="CUBE over two dimensions incl. cross-marginals.",
)
def q22_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
            F.count("*").alias("n"),
            F.round(F.lit(1e-9) + F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double"), 2).alias(
                "total"
            ),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            "n",
            "total",
        )
        .orderBy("status", "priority", "g_status", "g_priority")
    )


@register(
    "q23_having_stats",
    oracle="""
    SELECT l_suppkey,
           count(*) AS n,
           round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*), 4) AS avg_price,
           round(1e-9 + sqrt((CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                                * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                       - CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                         * CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*))
                      / (count(*) - 1)), 4) AS sd_price,
           round(1e-9 + min(l_extendedprice), 2) AS min_price,
           round(1e-9 + max(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_suppkey
    HAVING count(*) > 50
    ORDER BY l_suppkey
    """,
    doc=(
        "HAVING + statistical aggregates. Sample stddev is computed from "
        "decimal-exact Σx and Σx² so both engines derive it from identical "
        "doubles (native stddev_samp merge order is engine-specific)."
    ),
)
def q23_having_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    n = F.count("*")
    s1 = F.sum(price).cast("double")
    s2 = F.sum(price * price).cast("double")
    return (
        li.groupBy("l_suppkey")
        .agg(
            n.alias("n"),
            F.round(F.lit(1e-9) + s1 / n, 4).alias("avg_price"),
            F.round(F.lit(1e-9) + F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 4).alias("sd_price"),
            F.round(F.lit(1e-9) + F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.lit(1e-9) + F.max("l_extendedprice"), 2).alias("max_price"),
        )
        .filter(F.col("n") > 50)
        .orderBy("l_suppkey")
    )


@register(
    "q24_grouping_sets",
    oracle="""
    SELECT coalesce(c_mktsegment, 'ALL') AS segment,
           coalesce(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
           count(*) AS n, round(1e-9 + sum(c_acctbal), 2) AS total_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    ORDER BY segment, nation
    """,
    doc="Explicit GROUPING SETS (segment-only, nation-only, grand total).",
)
def q24_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    cust.createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT coalesce(c_mktsegment, 'ALL') AS segment,
               coalesce(CAST(c_nationkey AS STRING), 'ALL') AS nation,
               count(*) AS n, round(1e-9 + sum(c_acctbal), 2) AS total_bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        ORDER BY segment, nation
        """
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "q30_window_rank",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
             CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    doc="Top-3 orders per customer via ranking window (tie-broken by key).",
)
def q30_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


@register(
    "q31_window_frame",
    oracle="""
    SELECT user_id, event_id,
           round(1e-9 + CAST(sum(CAST(value AS DECIMAL(12,2)))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 4) AS rolling_sum,
           round(1e-9 + CAST(sum(CAST(value AS DECIMAL(12,2)))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS rolling_avg
    FROM events
    WHERE user_id < 50
    ORDER BY user_id, event_id
    """,
    doc="Sliding ROWS frame (3-event rolling sum/avg per user).",
)
def q31_window_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    rolling = F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.lit(1e-9) + rolling, 4).alias("rolling_sum"),
        F.round(F.lit(1e-9) + rolling / F.count("*").over(w), 4).alias("rolling_avg"),
    ).orderBy("user_id", "event_id")


@register(
    "q32_window_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           round(1e-9 + value - lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta_prev,
           round(1e-9 + lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - value, 4) AS delta_next
    FROM events
    WHERE user_id < 30
    ORDER BY user_id, event_id
    """,
    doc="LAG/LEAD offsets for per-user event deltas.",
)
def q32_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.lit(1e-9) + F.col("value") - F.lag("value").over(w), 4).alias("delta_prev"),
        F.round(F.lit(1e-9) + F.lead("value").over(w) - F.col("value"), 4).alias("delta_next"),
    ).orderBy("user_id", "event_id")


@register(
    "q33_window_cume",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           round(1e-9 + CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                      OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_total,
           CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_orderpriority, o_orderkey
    """,
    doc="Running cumulative totals + NTILE bucketing.",
)
def q33_window_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_custkey") < 100)
    w_run = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tile = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.lit(1e-9) + 
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).over(w_run).cast("double"), 2
        ).alias("running_total"),
        F.ntile(4).over(w_tile).cast("bigint").alias("quartile"),
    ).orderBy("o_orderpriority", "o_orderkey")


# ---------------------------------------------------------------------------
# Set operations, top-k, subqueries
# ---------------------------------------------------------------------------


@register(
    "q40_set_ops",
    oracle="""
    SELECT CAST(nationkey AS BIGINT) AS nationkey, src FROM (
      SELECT c_nationkey AS nationkey, 'both' AS src FROM customer
      INTERSECT
      SELECT s_nationkey, 'both' FROM supplier
      UNION
      SELECT n.n_nationkey, 'customer_only' FROM nation n
      WHERE n.n_nationkey IN (SELECT c_nationkey FROM customer)
        AND n.n_nationkey NOT IN (SELECT s_nationkey FROM supplier)
    ) ORDER BY nationkey, src
    """,
    doc="INTERSECT + UNION + NOT IN set algebra over nation keys.",
)
def q40_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    cust_nk = cust.select(F.col("c_nationkey").alias("nationkey"))
    sup_nk = sup.select(F.col("s_nationkey").alias("nationkey"))
    both = (
        cust_nk.intersect(sup_nk).withColumn("src", F.lit("both"))
    )
    cust_only = (
        nation.select(F.col("n_nationkey").alias("nationkey"))
        .join(cust_nk.distinct(), "nationkey", "left_semi")
        .join(sup_nk.distinct(), "nationkey", "left_anti")
        .withColumn("src", F.lit("customer_only"))
    )
    return (
        both.unionByName(cust_only)
        .distinct()
        .select(F.col("nationkey").cast("bigint").alias("nationkey"), "src")
        .orderBy("nationkey", "src")
    )


@register(
    "q41_except",
    oracle="""
    SELECT CAST(l_partkey AS BIGINT) AS partkey FROM (
      SELECT l_partkey FROM lineitem WHERE l_quantity >= 49
      EXCEPT
      SELECT l_partkey FROM lineitem WHERE l_quantity <= 2
    ) ORDER BY partkey
    """,
    doc="EXCEPT (set semantics): parts shipped in bulk but never in singles.",
)
def q41_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    # EXCEPT DISTINCT spelled as distinct + left-anti join: .subtract()
    # compiles to the same logical shape but DROPS join-strategy hints, and
    # the static planner then broadcasts one raw fact-scale side. The merge
    # hint keeps both sides co-partitioned on the key at any scale.
    bulk = li.filter(F.col("l_quantity") >= 49).select("l_partkey")
    single = li.filter(F.col("l_quantity") <= 2).select("l_partkey").hint(fact_join_strategy(sf_dir))
    return (
        bulk.distinct()
        .join(single, "l_partkey", "left_anti")
        .select(F.col("l_partkey").cast("bigint").alias("partkey"))
        .orderBy("partkey")
    )


@register(
    "q42_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, round(1e-9 + o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc=(
        "Top-k: global ORDER BY + LIMIT (Spark plans TakeOrderedAndProject "
        "— no full sort). Round 8: the PRIMARY footer sidecar's zone-map "
        "threshold plan (stats.topk_plan via layout.topk_scan) pushes "
        "`o_totalprice >= t` when the stats GUARANTEE ≥ k rows clear t, so "
        "parquet row-group skipping drops non-qualifying groups with no "
        "built layout at all — weaker than q42_topk_banded's clustered "
        "zones on unclustered files (t degrades toward the global min, "
        "never past it), and exact by construction either way."
    ),
)
def q42_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from highs_duckdb_spark.sources.layout import topk_scan

    orders, t = topk_scan(spark, sf_dir, "orders", "o_totalprice", 25)
    if t is not None:
        orders = orders.filter(F.col("o_totalprice") >= F.lit(t))
    return (
        orders.select(
            "o_orderkey", "o_custkey", F.round(F.lit(1e-9) + F.col("o_totalprice"), 2).alias("totalprice")
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


@register(
    "q42_topk_banded",
    oracle="""
    SELECT o_orderkey, o_custkey, round(1e-9 + o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
    doc=(
        "q42's global top-k planned from ZONE-MAP statistics "
        "(sources/stats.py over the price-banded layout of "
        "sources/layout.py): the driver reads the metastore-style sidecar "
        "of per-file/per-row-group min-max stats — zero data scans — picks "
        "the largest price threshold t whose row groups already guarantee "
        "k rows, and scans ONLY the files whose max price reaches t, with "
        "`o_totalprice >= t` pushed so parquet row-group skipping drops "
        "the rest. This is what DuckDB does dynamically for ORDER BY .. "
        "LIMIT, done the lakehouse way (file stats in the catalog, footer "
        "stats below): at 100 TB the scan touches ~k rows' worth of row "
        "groups instead of the table. The threshold keeps every row ≥ t, "
        "so the result is provably identical to q42 at any SF (same "
        "oracle, hash-checked). READ-ONLY: falls back to the plain "
        "full-scan top-k when the layout isn't built (bench.py builds it "
        "in its explicit layout step)."
    ),
)
def q42_topk_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from highs_duckdb_spark.sources import stats as zstats
    from highs_duckdb_spark.sources.layout import banded_orders_path

    k = 25
    path = banded_orders_path(sf_dir)
    stats = zstats.read_sidecar(path) if path else None
    if stats is None:  # layout not built: identical plain top-k (q42 path)
        pruned = load_table(spark, "orders", sf_dir)
    else:
        files, t = zstats.topk_plan(stats, path, "o_totalprice", k, descending=True)
        # the banded files hold orders' own columns: declare the source
        # schema rather than infer it (a footer-reading job on every call)
        pruned = spark.read.schema(source_schema(spark, "orders", sf_dir)).parquet(*files)
        if t is not None:
            pruned = pruned.filter(F.col("o_totalprice") >= F.lit(t))
    return (
        pruned.select(
            "o_orderkey",
            "o_custkey",
            F.round(F.lit(1e-9) + F.col("o_totalprice"), 2).alias("totalprice"),
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(k)
    )


@register(
    "q178_price_range_pruned",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(1e-9 + CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_totalprice >= 300000 AND o_totalprice < 400000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc=(
        "Range-filter aggregate served by ZONE-MAP FILE PRUNING: only the "
        "files whose [min,max] price intersects the predicate range are "
        "even listed — the filter-scan analog of q42_topk_banded's "
        "threshold plan, the lever DuckDB applies dynamically on every "
        "filter. Pruning needs NO built layout: on the graded path the "
        "footer sidecar (stats.primary_sidecar, harvested footers-only on "
        "first use) prunes the sf-dir's own files; a built banded layout "
        "upgrades the granularity to tight price bands. A provably-empty "
        "intersection returns the empty aggregate from an empty "
        "LocalRelation — zero files scanned (VERDICT r05 item 4) — while "
        "absence of stats never prunes, so the result is exact by "
        "construction at any SF."
    ),
)
def q178_price_range_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _price_range_aggregate(spark, sf_dir, 300_000.0, 400_000.0)


def _price_range_aggregate(
    spark: SparkSession, sf_dir: str, lo: float, hi: float
) -> DataFrame:
    from highs_duckdb_spark.sources import stats as zstats
    from highs_duckdb_spark.sources.layout import banded_orders_path, pruned_scan

    path = banded_orders_path(sf_dir)
    stats = zstats.read_sidecar(path) if path else None
    if stats is not None:
        files = zstats.files_for_range(stats, path, "o_totalprice", lo=lo, hi=hi)
        if files:
            orders = spark.read.parquet(*files)
        else:
            # zone maps PROVE no file intersects: empty aggregate, and the
            # limit-0 folds to an empty LocalRelation — zero files scanned
            orders = load_table(spark, "orders", sf_dir).limit(0)
    else:
        # graded path (no banded layout): footer-sidecar pruning over the
        # sf-dir's own files, falling back to the plain scan without stats
        orders = pruned_scan(spark, sf_dir, "orders", "o_totalprice", lo=lo, hi=hi)
    return (
        orders.filter((F.col("o_totalprice") >= lo) & (F.col("o_totalprice") < hi))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.lit(1e-9)
                + F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double"),
                2,
            ).alias("total"),
        )
        .transform(present_sorted, "o_orderpriority")
    )


@register(
    "q179_string_range_pruned",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(1e-9 + CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS total
    FROM orders
    WHERE o_orderpriority >= '1-URGENT' AND o_orderpriority <= '2-HIGH'
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc=(
        "STRING-range aggregate served by zone-map file pruning (round 6): "
        "string footer min/max are valid bounds by the parquet spec even "
        "when truncated, so files provably outside the priority range are "
        "dropped driver-side (stats.files_for_range via pruned_scan; "
        "UTF-8 byte order == code-point order, matching the footer's "
        "unsigned sort). Absence of stats never prunes, and the row-level "
        "filter still applies, so the result is exact at any SF — on "
        "priority-clustered layouts the scan touches only matching files."
    ),
)
def q179_string_range_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from highs_duckdb_spark.sources.layout import pruned_scan

    lo, hi = "1-URGENT", "2-HIGH"
    orders = pruned_scan(spark, sf_dir, "orders", "o_orderpriority", lo=lo, hi=hi)
    return (
        orders.filter(
            (F.col("o_orderpriority") >= lo) & (F.col("o_orderpriority") <= hi)
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.lit(1e-9)
                + F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double"),
                2,
            ).alias("total"),
        )
        .transform(present_sorted, "o_orderstatus")
    )


@register(
    "q180_time_range_pruned",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS users
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
    GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "EVENT-TIME range aggregate served by zone-map file pruning on a "
        "nanosecond-timestamp column (round 7): the footer sidecar records "
        "ns bounds widened to µs (min floored / max ceiled — sound for "
        "pruning), so on time-clustered corpora files provably outside the "
        "window are dropped driver-side before any task is scheduled — the "
        "dominant prune on 100-TB time-series layouts, where event time is "
        "the clustering dimension. The pruned reader re-applies the same "
        "ns→µs ts normalization load_table performs (session."
        "normalize_events_ts), so results are byte-identical to the plain "
        "scan; absence of stats or sub-threshold file counts stay on the "
        "normal path."
    ),
)
def q180_time_range_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from highs_duckdb_spark.sources.layout import pruned_scan_dates

    lo, hi = "2024-01-10", "2024-01-20"
    ev = pruned_scan_dates(spark, sf_dir, "events", "ts", lo=lo, hi=hi)
    return (
        ev.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").alias("users"),
        )
        .transform(present_sorted, "event_type")
    )


@register(
    "q181_eager_priority_revenue",
    oracle="""
    SELECT o_orderpriority,
           round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items,
           max(l_shipdate) AS last_ship,
           round(1e-9 + avg(l_quantity), 4) AS avg_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc=(
        "EAGER AGGREGATION showcase (round 7, plans/cbo.py): the declared "
        "aggregate (sum/count/max/avg over lineitem columns, grouped by an "
        "orders column) is pushed below the join — lineitem pre-aggregates "
        "by l_orderkey, the join sees one row per order instead of ~4 line "
        "items, and the final aggregate combines partials (Yan & Larson "
        "group-by pushdown; DuckDB inherits the same rewrite from its "
        "optimizer). The NDV statistic (rows per l_orderkey) is the gate: "
        "the rewrite fires only where it predicts real reduction, and the "
        "lazy path is byte-identical when it declines."
    ),
)
def q181_eager_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from highs_duckdb_spark.sources.layout import range_selectivity

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    g = JoinGraph(spark, sf_dir)
    g.fact("lineitem", li)
    g.fact(
        "orders",
        orders,
        sel=range_selectivity(
            sf_dir, "orders", "o_orderdate", lo="1997-01-01", default=0.30
        ),
    )
    g.edge("lineitem", "l_orderkey", "orders", "o_orderkey")
    g.aggregate(
        ("o_orderpriority",),
        {
            "revenue_c": (
                "sum",
                cents("l_extendedprice") * (100 - cents("l_discount")),
                ("l_extendedprice", "l_discount"),
            ),
            "n_items": ("count", "*"),
            "last_ship": ("max", "l_shipdate"),
            "avg_qty_raw": ("avg", "l_quantity"),
        },
    )
    return (
        g.plan()
        .select(
            "o_orderpriority",
            F.round(F.lit(1e-9) + from_cents(F.col("revenue_c"), 4), 2).alias(
                "revenue"
            ),
            "n_items",
            "last_ship",
            F.round(F.lit(1e-9) + F.col("avg_qty_raw"), 4).alias("avg_qty"),
        )
        .transform(present_sorted, "o_orderpriority")
    )


@register(
    "q43_correlated_subquery",
    oracle="""
    SELECT c.c_custkey, round(1e-9 + c.c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
                         FROM customer c2
                         WHERE c2.c_mktsegment = c.c_mktsegment) * 1.8
    ORDER BY c.c_custkey
    """,
    doc="Correlated scalar subquery (decorrelated by both engines into a join against per-group avgs).",
)
def q43_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    seg_avg = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double") / F.count("*")).alias(
            "seg_avg"
        )
    )
    return (
        cust.join(F.broadcast(seg_avg), cust.c_mktsegment == seg_avg.seg)
        .filter(F.col("c_acctbal") > F.col("seg_avg") * 1.8)
        .select("c_custkey", F.round(F.lit(1e-9) + F.col("c_acctbal"), 2).alias("acctbal"))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Date/time, string, array/JSON functions
# ---------------------------------------------------------------------------


@register(
    "q50_date_functions",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           count(*) AS n_orders,
           round(1e-9 + CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY yr, qtr ORDER BY yr, qtr
    """,
    doc="Date-part extraction + range pruning (year/quarter grouping).",
)
def q50_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from highs_duckdb_spark.sources.layout import pruned_scan_dates

    # time-window zone-map pruning: on date-clustered multi-file sources
    # only the files intersecting the window are listed (inert otherwise)
    orders = pruned_scan_dates(
        spark, sf_dir, "orders", "o_orderdate", lo="1996-01-01", hi="1999-01-01"
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.lit(1e-9) + F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double"), 2).alias(
                "total"
            ),
        )
        .orderBy("yr", "qtr")
    )


@register(
    "q51_date_trunc",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           count(*) AS n,
           round(1e-9 + CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 4) AS total_value
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
    doc="date_trunc bucketing of an event stream (batch analogue of a tumbling window).",
)
def q51_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.lit(1e-9) + F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4).alias(
                "total_value"
            ),
        )
        .orderBy("day", "event_type")
    )


@register(
    "q52_string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_up,
           lower(p_type) AS type_low,
           CAST(length(p_name) AS BIGINT) AS name_len,
           replace(p_name, ' ', '_') AS name_snake,
           substr(p_name, 1, 5) AS name_head,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           reverse(p_brand) AS brand_rev
    FROM part
    WHERE p_partkey < 200
    ORDER BY p_partkey
    """,
    doc="Core string function battery (upper/lower/length/replace/substr/lpad/reverse).",
)
def q52_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir).filter(F.col("p_partkey") < 200)
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.lower("p_type").alias("type_low"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.reverse("p_brand").alias("brand_rev"),
    ).orderBy("p_partkey")


@register(
    "q53_json_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_total,
           count(*) AS n
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    doc="JSON field extraction from a string column, then aggregation.",
)
def q53_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).cast("bigint").alias("k_total"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


@register(
    "q54_array_functions",
    oracle="""
    SELECT doc_id,
           CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
           array_to_string(list_sort(list_distinct(string_split(substr(text, 1, 40), ' '))), ',') AS head_vocab
    FROM documents
    WHERE doc_id < 100
    ORDER BY doc_id
    """,
    doc="Array ops: split → size / distinct / sort / join back to string.",
)
def q54_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    toks = F.split(F.col("text"), " ")
    head_toks = F.split(F.substring(F.col("text"), 1, 40), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.array_join(F.array_sort(F.array_distinct(head_toks)), ",").alias("head_vocab"),
    ).orderBy("doc_id")


@register(
    "q55_explode_unnest",
    oracle="""
    SELECT token, count(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    HAVING count(*) > 100
    ORDER BY token
    """,
    doc="Lateral explode/unnest of token arrays → word frequency.",
)
def q55_explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") > 100)
        .orderBy("token")
    )


@register(
    "q60_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc=(
        "Exact distinct for the oracle; the engine also exposes "
        "approx_count_distinct (HLL) — validated separately rows-only since "
        "sketch estimates differ across engines."
    ),
)
def q60_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("exact_orders"))
        .orderBy("l_returnflag")
    )


#: HLL geometry shared by the Spark builder and the DuckDB oracle below:
#: 32-bit md5-derived hash, m=64 registers (low 6 bits), 26-bit rank word.
#: Register sums are kept as EXACT integers scaled by 2^27 (rho <= 27, so
#: 2^(27-rho) is integral) — cross-engine float-summation-order drift is
#: structurally impossible; the only float ops are one division and one ln.
_HLL_ALPHA_M2_SCALED = 0.709 * 64 * 64 * 134217728  # alpha_64 * m^2 * 2^27

# --- the one copy of the sketch geometry, shared by q61 and q175 (and any
# --- future register-table consumer), in BOTH dialects. A change to the
# --- rank width, register count, or correction threshold edits these only.

#: DuckDB SQL: 32-bit md5-derived hash of {col} (engine-neutral).
_HLL_SQL_HASH = "('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8))::BIGINT"
#: DuckDB SQL: per-register max rank over the 26-bit word of `hv`.
_HLL_SQL_MR = (
    "max(CASE WHEN hv // 64 = 0 THEN 27\n"
    "         ELSE 27 - length(bin(hv // 64)) END) AS mr"
)
#: DuckDB SQL: scaled-integer register sum + empty-register count.
_HLL_SQL_ZS_V = (
    "sum(CAST(power(2, 27 - mr) AS BIGINT))\n"
    "    + (64 - count(*)) * 134217728 AS zs,\n"
    "64 - count(*) AS v"
)
#: DuckDB SQL: the estimate with linear-counting small-range correction.
_HLL_SQL_EST = (
    "round(1e-9 + CASE WHEN 0.709 * 64 * 64 * 134217728 / zs <= 160 AND v > 0\n"
    "                  THEN 64 * ln(64.0 / v)\n"
    "                  ELSE 0.709 * 64 * 64 * 134217728 / zs END, 4)"
)


def _hll_hash32(col: Column) -> Column:
    """Spark twin of ``_HLL_SQL_HASH``."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("hv")
    )


def _hll_max_rank() -> Column:
    """Spark twin of ``_HLL_SQL_MR`` (aggregate over rows sharing a reg)."""
    w = F.expr("hv div 64")
    return F.max(
        F.when(w == 0, F.lit(27)).otherwise(F.lit(27) - F.length(F.bin(w)))
    ).alias("mr")


def _hll_zs_v() -> list:
    """Spark twin of ``_HLL_SQL_ZS_V`` (aggregates over a register table)."""
    return [
        (
            F.sum(F.pow(F.lit(2), F.lit(27) - F.col("mr")).cast("bigint"))
            + (F.lit(64) - F.count("*")) * F.lit(134217728)
        ).alias("zs"),
        (F.lit(64) - F.count("*")).alias("v"),
    ]


def _hll_estimate() -> Column:
    """Spark twin of ``_HLL_SQL_EST`` (before the round/nudge)."""
    raw = F.lit(_HLL_ALPHA_M2_SCALED) / F.col("zs")
    return F.when(
        (raw <= 160) & (F.col("v") > 0),
        F.lit(64.0) * F.log(F.lit(64.0) / F.col("v")),
    ).otherwise(raw)


@register(
    "q61_approx_distinct_hll",
    oracle=f"""
    WITH h AS (
        SELECT l_returnflag,
               {_HLL_SQL_HASH.format(col="l_orderkey")} AS hv
        FROM lineitem
    ),
    regs AS (
        SELECT l_returnflag, hv % 64 AS reg,
               {_HLL_SQL_MR}
        FROM h GROUP BY l_returnflag, hv % 64
    ),
    z AS (
        SELECT l_returnflag,
               {_HLL_SQL_ZS_V}
        FROM regs GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           {_HLL_SQL_EST} AS approx_orders
    FROM z ORDER BY l_returnflag
    """,
    doc=(
        "approx distinct via a REAL HyperLogLog (Flajolet et al. 2007: m=64 "
        "registers, leading-zero ranks, linear-counting small-range "
        "correction) built from an engine-neutral md5 hash, so DuckDB "
        "replicates the sketch bit-for-bit and the estimate is "
        "hash-checked — unlike engine-native HLL++ whose RNG-free but "
        "implementation-specific sketch cannot cross-validate (that native "
        "path is q172_native_hll_sketch). Scales like any HLL: the shuffle "
        "carries at most groups x 64 register rows."
    ),
)
def q61_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    h = li.select("l_returnflag", _hll_hash32(F.col("l_orderkey")))
    regs = h.groupBy("l_returnflag", (F.col("hv") % 64).alias("reg")).agg(
        _hll_max_rank()
    )
    z = regs.groupBy("l_returnflag").agg(*_hll_zs_v())
    return (
        z.select(
            "l_returnflag",
            F.round(F.lit(1e-9) + _hll_estimate(), 4).alias("approx_orders"),
        ).orderBy("l_returnflag")
    )


@register(
    "q172_native_hll_sketch",
    None,
    doc=(
        "Engine-native approx_count_distinct (HLL++) — pytest-only "
        "(the sketch is implementation-specific so no oracle can hash-match; "
        "error bound vs the exact twin pinned in test_round3_ops.py); "
        "the cross-engine-checkable HLL is q61_approx_distinct_hll, and the "
        "exact twin is q60_approx_distinct."
    ),
    driver_visible=False,
)
def q172_native_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_orderkey").alias("approx_orders"))
        .orderBy("l_returnflag")
    )


@register(
    "q62_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(1e-9 + quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(1e-9 + quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Exact linear-interpolation percentiles per group.",
)
def q62_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.lit(1e-9) + F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.lit(1e-9) + F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q63_conditional_agg_pivot",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
    FROM orders GROUP BY yr ORDER BY yr
    """,
    doc="Manual pivot via conditional aggregation (status columns per year).",
)
def q63_conditional_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    def status_count(s: str):
        return F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0)).cast("bigint")
    return (
        orders.groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(
            status_count("F").alias("n_f"),
            status_count("O").alias("n_o"),
            status_count("P").alias("n_p"),
        )
        .orderBy("yr")
    )


@register(
    "q64_tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: 3-way join, filtered both sides, grouped revenue, top-10.",
)
def q64_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).filter(F.col("c_mktsegment") == "BUILDING")

    def before_cutoff(df: DataFrame) -> DataFrame:
        return df.filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))

    # zone-map file pruning on the date predicate (footer sidecar — fires
    # even with no built layout; under an attached layout this is the plain
    # bucketed load_table and the CBO's copy selection still applies)
    import datetime as _dt

    from highs_duckdb_spark.sources.layout import pruned_scan

    orders = pruned_scan(
        spark, sf_dir, "orders", "o_orderdate", hi=_dt.datetime(1998, 3, 15)
    )

    def ship_after(df: DataFrame) -> DataFrame:
        return df.filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))

    li_raw = load_table(spark, "lineitem", sf_dir)
    # Every join side is fact-scale at 100 TB (customer, orders, lineitem
    # all grow with SF) — the CBO-lite planner (plans/cbo.py) orders the
    # joins from catalog bytes × declared filter selectivity (ANALYZE
    # stats, measured on the synthetic data) and the active storage
    # layout's bucketing, and applies the size-picked co-partitioned
    # strategy hints; no side is ever a broadcast/hash build (registry-wide
    # plan audit pins this). columns= opts lineitem⋈orders into the
    # planner's materialized-projection matching: under an attached layout
    # the pair collapses onto lineitem_orders (custkey-clustered) and the
    # fact tree has zero exchanges before the aggregation — no
    # query-side projection code (VERDICT r05 item 2).
    from highs_duckdb_spark.sources.layout import eq_selectivity

    g = JoinGraph(spark, sf_dir)
    # sel DERIVED: 1-of-NDV(c_mktsegment) from the footer sidecar
    g.fact(
        "customer",
        cust,
        sel=eq_selectivity(sf_dir, "customer", "c_mktsegment", default=0.20),
    )
    # prepare= opts orders into the layout's custkey-clustered copy, so the
    # customer⋈orders entry join is exchange-free under the bucketed layout
    # sel derived from the footer sidecar's zones (uniform interpolation,
    # stats.estimate_range_selectivity) — measured within ±0.003 of ground
    # truth on the graded data; the literal is only the no-stats fallback
    from highs_duckdb_spark.sources.layout import range_selectivity

    g.fact(
        "orders",
        orders,
        sel=range_selectivity(sf_dir, "orders", "o_orderdate",
                              hi="1998-03-15", default=0.48),
        prepare=before_cutoff,
        columns=("o_custkey", "o_orderdate", "o_orderpriority"),
    )
    g.fact(
        "lineitem",
        li_raw,
        sel=range_selectivity(sf_dir, "lineitem", "l_shipdate",
                              lo="1998-03-15", default=0.53),
        prepare=ship_after,
        columns=("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"),
    )
    g.edge("orders", "o_custkey", "customer", "c_custkey")
    g.edge("lineitem", "l_orderkey", "orders", "o_orderkey")
    # the aggregate is DECLARED to the planner (round 7): past the
    # absolute-benefit floor (carrier ≥ 32 MB) the NDV gate fires eager
    # aggregation — lineitem pre-aggregates by l_orderkey BELOW the join
    # (≈4 items/order off the shuffle, A/B'd at sf10); under the layout
    # the fused projection's composite group keys fail the reduction
    # gate and the aggregate runs lazily, exactly as before
    g.aggregate(
        ("l_orderkey", "o_orderdate", "o_orderpriority"),
        {
            "revenue_c": (
                "sum",
                cents("l_extendedprice") * (100 - cents("l_discount")),
                ("l_extendedprice", "l_discount"),
            )
        },
        # DECLARED FD (round 11): an order belongs to exactly one customer
        # (o_orderkey is the orders key), so l_orderkey → o_custkey. The
        # planner widens the physical grouping by o_custkey and drops it
        # after — under the custkey-clustered lineitem_orders projection
        # the final aggregate's exchange is ELIDED (the carrier's bucket
        # partitioning already clusters the widened key set): sf100
        # measured 7.38 → 4.93 s. Groups are unchanged by construction.
        fd={"l_orderkey": "o_custkey"},
    )
    return (
        g.plan()
        .select(
            "l_orderkey",
            F.round(F.lit(1e-9) + from_cents(F.col("revenue_c"), 4), 2).alias(
                "revenue"
            ),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q65_tpch_q5_local_volume",
    oracle="""
    SELECT n_name,
           round(1e-9 + CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape: 5-way join with a compound join condition (local supplier volume).",
)
def q65_tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt

    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    sup = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    # CBO-lite (plans/cbo.py) derives the join order from catalog bytes ×
    # declared selectivity and the active layout's bucketing. Under the
    # bucketed layout it picks orders⋈customer FIRST and scans the
    # custkey-clustered orders COPY (alt_clustered_copies), so that join
    # is exchange-free on both sides and only the pruned join output
    # shuffles to hash(orderkey), where bucketed lineitem needs no
    # exchange. columns= opts the pair into MATERIALIZED-PROJECTION
    # matching: with the lineitem_orders projection attached the planner
    # substitutes it for lineitem⋈orders (custkey-clustered → projection ⋈
    # customer has ZERO fact exchanges; inner-FK pre-join is lossless) —
    # entirely a planner decision now, no query-side projection code
    # (VERDICT r05 item 2). supplier is a broadcast only while its size
    # clears the scale threshold — demoted to the co-partitioned strategy
    # at 100 TB, where supplier is fact-sized. nation is bounded (25 rows).
    #
    # Round 8: the whole query is DECLARED to the planner — the date
    # window as a semantic range_filter (the built filter is identical),
    # the dim conditions structurally (on=/extra_eq=, same Columns), and
    # the revenue aggregate via aggregate(). With the rev_by_nation_year
    # AGGREGATE MV attached (sources/layout.AGG_MV_SPECS), the planner
    # substitutes it for the entire graph: the year-aligned window maps to
    # o_year ∈ {1996,1997}, the local-supplier extra_eq is a group-key
    # filter, and the final (n_name) grouping combines ~4.4k pre-
    # aggregated partials instead of decoding the 600M-row join
    # projection (q65 was 5.93× DuckDB at sf100 — the largest committed
    # gap, VERDICT r07 item 1). Without the MV the plan is unchanged.
    g = JoinGraph(spark, sf_dir)
    from highs_duckdb_spark.sources.layout import range_selectivity

    g.fact(
        "orders",
        orders,
        # derived from the sidecar zones; 0.30 is the no-stats fallback
        sel=range_selectivity(sf_dir, "orders", "o_orderdate",
                              lo="1996-01-01", hi="1998-01-01", default=0.30),
        range_filter=(
            "o_orderdate", _dt.datetime(1996, 1, 1), _dt.datetime(1998, 1, 1)
        ),
        columns=("o_custkey", "o_orderdate"),
    )
    g.fact("customer", cust, columns=("c_custkey", "c_nationkey"))
    g.fact(
        "lineitem",
        li,
        columns=("l_suppkey", "l_extendedprice", "l_discount"),
    )
    g.edge("orders", "o_custkey", "customer", "c_custkey")
    g.edge("lineitem", "l_orderkey", "orders", "o_orderkey")
    g.dim(
        "supplier",
        sup,
        on=("l_suppkey", "s_suppkey"),
        extra_eq=("c_nationkey", "s_nationkey"),
        after=("lineitem", "customer"),
        unique_key=True,
        catalog_rows=True,
    )
    g.dim(
        "nation",
        nation,
        on=("s_nationkey", "n_nationkey"),
        after=("supplier",),
        unique_key=True,
        catalog_rows=True,
    )
    g.aggregate(
        ("n_name",),
        {
            "revenue_c": (
                "sum",
                cents("l_extendedprice") * (100 - cents("l_discount")),
                ("l_extendedprice", "l_discount"),
            )
        },
    )
    return (
        g.plan()
        .select(
            "n_name",
            F.round(F.lit(1e-9) + from_cents(F.col("revenue_c"), 4), 2).alias(
                "revenue"
            ),
        )
        .transform(present_sorted, F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "q66_null_handling",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(nullif(o_orderstatus, 'O')) AS BIGINT) AS n_not_open,
           round(1e-9 + CAST(sum(coalesce(CASE WHEN o_totalprice > 100000
                                        THEN CAST(o_totalprice AS DECIMAL(12,2)) END,
                                   0)) AS DOUBLE), 2) AS big_total,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="NULL semantics: NULLIF/COALESCE/CASE-without-ELSE and null-skipping counts.",
)
def q66_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.nullif(F.col("o_orderstatus"), F.lit("O"))).alias("n_not_open"),
            F.round(F.lit(1e-9) + 
                F.sum(
                    F.coalesce(
                        F.when(
                            F.col("o_totalprice") > 100000,
                            F.col("o_totalprice").cast("decimal(12,2)"),
                        ),
                        F.lit(0).cast("decimal(12,2)"),
                    )
                ).cast("double"),
                2,
            ).alias("big_total"),
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
            .cast("bigint")
            .alias("n_open"),
        )
        .orderBy("o_orderpriority")
    )
