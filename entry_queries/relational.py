"""Relational surface (SURVEY §2.10): TPC-H-style analytics over the
region, nation, customer, supplier, part, orders and lineitem tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from entry_queries.common import _PARTSUPP_CTE, _t, query
from unstructured_spark.operators.storage import zorder_key_sql


@query(oracle="""
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(sum(l_extendedprice), 2) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) as sum_charge,
                   round(avg(l_quantity), 4) as avg_qty,
                   round(avg(l_extendedprice), 4) as avg_price,
                   round(avg(l_discount), 4) as avg_disc,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-02'
            group by l_returnflag, l_linestatus
        """)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + filter + hash-agg with map-side partial agg (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(oracle="""
            select l_orderkey, cast(o_orderdate as date) as o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
            from customer
            join orders on o_custkey = c_custkey
            join lineitem on l_orderkey = o_orderkey
            where c_mktsegment = 'BUILDING'
              and o_orderdate < timestamp '1998-03-15'
              and l_shipdate > timestamp '1998-03-15'
            group by l_orderkey, o_orderdate
            order by revenue desc, l_orderkey asc
            limit 10
        """)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-k (TPC-H Q3 shape); customer side is small
    → Spark broadcasts it under AQE."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "revenue"
        )
    )


@query(oracle="""
            select r_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
                   count(*) as n_lineitems
            from lineitem
            join orders on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            group by r_name
        """)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: two broadcast dims (region, nation) + fact chain."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


@query(oracle="""
            select round(sum(l_extendedprice * l_discount), 2) as revenue,
                   count(*) as n_rows
            from lineitem
            where l_shipdate >= timestamp '1996-01-01'
              and l_shipdate < timestamp '1997-01-01'
              and l_discount between 0.02 and 0.08
              and l_quantity < 24
        """)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan+filter+agg — predicate pushdown showcase (TPC-H Q6 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.08)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_rows"),
    )


@query(oracle="""
            select c_custkey, c_name,
                   round(sum(o_totalprice), 2) as total_spend,
                   count(*) as n_orders
            from orders join customer on o_custkey = c_custkey
            group by c_custkey, c_name
            order by total_spend desc, c_custkey asc
            limit 25
        """)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey").asc())
        .limit(25)
    )


@query(oracle="""
            select o_orderpriority, count(*) as order_count
            from orders
            where o_orderdate >= timestamp '1996-01-01'
              and o_orderdate < timestamp '1997-01-01'
            group by o_orderpriority
        """)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(oracle="""
            select p_brand,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(avg(l_discount), 6) as avg_disc,
                   count(*) as n_items
            from lineitem join part on l_partkey = p_partkey
            group by p_brand
        """)
def q_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("n_items"),
        )
    )


@query(oracle="""
            select r_name, n_name,
                   count(*) as n_customers,
                   round(avg(c_acctbal), 4) as avg_acctbal
            from customer
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            group by r_name, n_name
        """)
def q_nation_acctbal_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


@query(oracle=f"""
            select o_orderkey,
                   cast({zorder_key_sql(["_a", "_b"], 16, "//")} as bigint)
                     as zorder_key
            from (select o_orderkey,
                         o_custkey % 65536 as _a,
                         o_orderkey % 65536 as _b
                  from orders)
        """)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order storage layout key (new in r9): Morton-interleave
    (o_custkey, o_orderkey) low 16 bits so files hold hyper-rectangles
    of the 2-D key space and parquet min/max stats prune on EITHER
    column (storage.write_zordered does the layout; this emits the
    key). Pure integer arithmetic — one generator serves both
    dialects, the fxln discipline applied to storage layout."""
    from unstructured_spark.operators.storage import with_zorder_key

    orders = _t(spark, sf_dir, "orders")
    return with_zorder_key(
        orders.select(
            "o_orderkey",
            F.expr("o_custkey % 65536").alias("_a"),
            F.expr("o_orderkey % 65536").alias("_b"),
        ),
        ["_a", "_b"],
        bits=16,
    ).select("o_orderkey", "zorder_key")


@query(oracle="""
            select o_orderpriority,
              cast(sum(case when date_diff('day', o_orderdate, l_shipdate) > 60
                        and o_orderpriority in ('1-URGENT', '2-HIGH')
                       then 1 else 0 end) as bigint) as late_urgent,
              cast(sum(case when date_diff('day', o_orderdate, l_shipdate) > 60
                        and o_orderpriority not in ('1-URGENT', '2-HIGH')
                       then 1 else 0 end) as bigint) as late_other,
              count(*) as line_count
            from lineitem join orders on l_orderkey = o_orderkey
            group by o_orderpriority
        """)
def q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional counts by priority class
    (late = shipped >60 days after order date)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey)
    is_late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60
    is_urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(is_late & is_urgent, 1).otherwise(0)).alias("late_urgent"),
            F.sum(F.when(is_late & ~is_urgent, 1).otherwise(0)).alias("late_other"),
            F.count("*").alias("line_count"),
        )
    )


@query(oracle="""
            select o_orderpriority, cast(count(*) as bigint) as order_count
            from orders o
            where o_orderdate >= '1995-01-01' and o_orderdate < '1995-07-01'
              and exists (
                select 1 from lineitem l
                where l.l_orderkey = o.o_orderkey
                  and datediff('day', cast(o.o_orderdate as date),
                               cast(l.l_shipdate as date)) > 30)
            group by o_orderpriority
        """)
def q04_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join — count orders per priority
    that have at least one late line (shipped >30 days after the order
    date; the testdata carries no commit/receipt dates, so lateness is
    shipdate-based). Spark plans a LeftSemi join; the oracle uses the
    literal EXISTS subquery."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-07-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = li.join(
        o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 30)
    semi = o.join(late.select(F.col("l_orderkey").alias("k")).distinct(),
                  o.o_orderkey == F.col("k"), "left_semi")
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(oracle="""
            with """ + _PARTSUPP_CTE + """
            select n_name as nation,
                   cast(year(o_orderdate) as bigint) as o_year,
                   cast(round(sum(cast(
                       l_extendedprice * (1 - l_discount)
                       - ps_supplycost * l_quantity as decimal(18,6))), 2)
                     as double) as sum_profit
            from lineitem
            join part on l_partkey = p_partkey and p_type like '%PROMO%'
            join partsupp on l_partkey = ps_partkey and l_suppkey = ps_suppkey
            join supplier on l_suppkey = s_suppkey
            join nation on s_nationkey = n_nationkey
            join orders on l_orderkey = o_orderkey
            group by n_name, year(o_orderdate)
        """)
def q09_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: multi-way join (lineitem ⋈ part ⋈ supplier ⋈
    nation ⋈ derived partsupp) → profit by nation and order year.
    Profit sums in decimal space so both engines agree to the cent."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type").contains("PROMO"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    ps = _partsupp(spark, sf_dir)
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(ps, (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


@query(oracle="""
            select round(
              100.0 * sum(case when p_type = 'PROMO'
                               then l_extendedprice * (1 - l_discount)
                               else 0.0 end)
              / sum(l_extendedprice * (1 - l_discount)), 4) as promo_revenue_pct
            from lineitem join part on l_partkey = p_partkey
            where l_shipdate >= '1995-09-01' and l_shipdate < '1995-10-01'
        """)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue share of PROMO parts."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct")
    )


@query(oracle="""
            select round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue,
                   count(*) as line_count
            from lineitem join part on l_partkey = p_partkey
            where (p_brand = 'Brand#1' and p_size between 1 and 15
                   and l_quantity between 1 and 20)
               or (p_brand = 'Brand#13' and p_size between 10 and 30
                   and l_quantity between 10 and 40)
        """)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive brand/size/quantity brackets."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 20))
    )
    b2 = (
        (F.col("p_brand") == "Brand#13")
        & (F.col("p_size").between(10, 30))
        & (F.col("l_quantity").between(10, 40))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.filter(b1 | b2).agg(
        F.round(F.sum(rev), 2).alias("revenue"),
        F.count("*").alias("line_count"),
    )


@query(oracle="""
            select n1.n_name as supp_nation, n2.n_name as cust_nation,
                   cast(year(l_shipdate) as bigint) as l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue
            from lineitem
              join orders on l_orderkey = o_orderkey
              join customer on o_custkey = c_custkey
              join supplier on l_suppkey = s_suppkey
              join nation n1 on s_nationkey = n1.n_nationkey
              join nation n2 on c_nationkey = n2.n_nationkey
            where (n1.n_name = 'NATION_1' and n2.n_name = 'NATION_2')
               or (n1.n_name = 'NATION_2' and n2.n_name = 'NATION_1')
            group by 1, 2, 3
        """)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year —
    fact chain lineitem→orders→customer with two broadcast nation dims
    (supplier side and customer side), disjunctive pair filter."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .withColumn("l_year", F.col("l_year").cast("bigint"))
    )


@query(oracle="""
            with j as (
              select year(o_orderdate) as o_year,
                     cast(l_extendedprice * (1 - l_discount) as decimal(18,6)) as rev,
                     n2.n_name as supp_nation
              from lineitem
                join orders on l_orderkey = o_orderkey
                join customer on o_custkey = c_custkey
                join part on l_partkey = p_partkey
                join supplier on l_suppkey = s_suppkey
                join nation n1 on c_nationkey = n1.n_nationkey
                join nation n2 on s_nationkey = n2.n_nationkey
                join region on n1.n_regionkey = r_regionkey
              where r_name = 'EUROPE' and p_type = 'PROMO'
            ), agg as (
              select o_year,
                     cast(sum(case when supp_nation = 'NATION_5' then rev end)
                          as double) as nat,
                     cast(sum(rev) as double) as tot
              from j group by o_year
            )
            select cast(o_year as bigint) as o_year,
                   floor(coalesce(nat, 0.0) / tot * 1000000.0 + 0.5) / 1000000.0
                     as mkt_share
            from agg
        """)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional PROMO revenue per
    order-year — conditional aggregation over a 5-way star join.
    Decimal partials make the share ratio engine-exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    n_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(r), F.col("cr_key") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", rev)).alias("_nat"),
            F.sum(rev).alias("_tot"),
        )
    )
    share = F.coalesce(F.col("_nat").cast("double"), F.lit(0.0)) / F.col(
        "_tot"
    ).cast("double")
    return agg.select(
        F.col("o_year").cast("bigint").alias("o_year"),
        (F.floor(share * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "mkt_share"
        ),
    )


@query(oracle="""
            select c_custkey, c_name, round(c_acctbal, 2) as c_acctbal, n_name,
                   revenue
            from (
              select c_custkey, c_name, c_acctbal, n_name,
                     cast(round(sum(cast(l_extendedprice * (1 - l_discount)
                       as decimal(18,6))), 2) as double) as revenue
              from lineitem
                join orders on l_orderkey = o_orderkey
                join customer on o_custkey = c_custkey
                join nation on c_nationkey = n_nationkey
              where l_returnflag = 'R'
                and o_orderdate >= '1996-01-01' and o_orderdate < '1996-04-01'
              group by c_custkey, c_name, c_acctbal, n_name
            )
            order by revenue desc, c_custkey asc
            limit 20
        """)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter (join + agg + bounded top-k)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    # decimal partials: the top-20 cutoff and displayed cents must not
    # depend on double summation order
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey", "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"), "n_name", "revenue",
        )
    )


@query(oracle="""
            select cast(c_count as bigint) as c_count,
                   count(*) as custdist
            from (
              select c_custkey, count(o_orderkey) as c_count
              from customer left join orders
                on c_custkey = o_custkey and o_orderpriority <> '1-URGENT'
              group by c_custkey
            )
            group by c_count
        """)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution via left outer
    join (customers with zero qualifying orders land in bucket 0)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
    )


@query(oracle="""
            with per_supp as (
              select l_suppkey,
                     sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,6)))
                       as rev
              from lineitem
              where l_shipdate >= '1996-01-01' and l_shipdate < '1996-04-01'
              group by l_suppkey
            )
            select s_suppkey, s_name,
                   cast(round(rev, 2) as double) as total_revenue
            from per_supp join supplier on l_suppkey = s_suppkey
            where rev = (select max(rev) from per_supp)
        """)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with max quarterly revenue — decimal
    partials make the max-selection engine-exact; the max is joined back
    via an unpartitioned window over the (small) per-supplier aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    rev_dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    per_supp = (
        li.groupBy("l_suppkey").agg(F.sum(rev_dec).alias("_rev"))
    )
    w = Window.orderBy(F.lit(1))
    ranked = per_supp.withColumn("_max", F.max("_rev").over(w))
    return (
        ranked.filter(F.col("_rev") == F.col("_max"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("_rev"), 2).cast("double").alias("total_revenue"),
        )
    )


@query(oracle="""
            with li_p as (
              select l_partkey, l_quantity, l_extendedprice
              from lineitem join part on l_partkey = p_partkey
              where p_brand = 'Brand#1'
            ), per_part as (
              select l_partkey as pk,
                     cast(sum(cast(l_quantity as decimal(18,6))) as double)
                       / count(*) as avg_qty
              from li_p group by l_partkey
            )
            select round(
              cast(sum(cast(l_extendedprice as decimal(18,6))) as double) / 7.0,
              2) as avg_yearly
            from li_p join per_part on l_partkey = pk
            where l_quantity < 0.2 * avg_qty
        """)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: avg weekly revenue from small-quantity orders of
    one brand — the correlated per-part avg becomes a broadcast join of
    an exact decimal aggregate (threshold decisions are engine-exact)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li_p = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    per_part = li_p.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_qs"),
        F.count("*").alias("_qn"),
    )
    thresh = F.lit(0.2) * (F.col("_qs").cast("double") / F.col("_qn"))
    return (
        li_p.join(F.broadcast(per_part), li_p.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < thresh)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.lit(7.0),
                2,
            ).alias("avg_yearly")
        )
    )


@query(oracle="""
            with big as (
              select l_orderkey,
                     sum(cast(l_quantity as decimal(18,6))) as qty
              from lineitem group by l_orderkey
              having sum(cast(l_quantity as decimal(18,6))) > 150
            )
            select c_name, c_custkey, o_orderkey,
                   cast(o_orderdate as date) as o_orderdate,
                   round(o_totalprice, 2) as o_totalprice,
                   cast(round(qty, 2) as double) as total_qty
            from big
              join orders on l_orderkey = o_orderkey
              join customer on o_custkey = c_custkey
            order by round(o_totalprice, 2) desc, o_orderkey asc
            limit 100
        """)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (exact decimal group sum), joined back to customer, top-100."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_qty"))
        .filter(F.col("_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round(F.col("_qty"), 2).cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(oracle="""
            with per_os as (
              select l_orderkey, l_suppkey,
                     max(case when date_diff('day', o_orderdate, l_shipdate) > 90
                              then 1 else 0 end) as supp_late
              from lineitem join orders on l_orderkey = o_orderkey
              group by l_orderkey, l_suppkey
            ), flagged as (
              select l_suppkey, supp_late,
                     count(*) over (partition by l_orderkey) as n_supps,
                     sum(supp_late) over (partition by l_orderkey) as n_late
              from per_os
            )
            select s_name, count(*) as numwait
            from flagged join supplier on l_suppkey = s_suppkey
            where supp_late = 1 and n_late = 1 and n_supps > 1
            group by s_name
            order by numwait desc, s_name asc
            limit 20
        """)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: no commitdate column — late means
    shipped >90 days after the order date): suppliers who were the ONLY
    late supplier in a multi-supplier order. The exists/not-exists pair
    collapses to one window aggregation per order — no self-joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey",
        (F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90).alias("late"),
    )
    per_os = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("supp_late")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.withColumn("n_supps", F.count("*").over(w)).withColumn(
        "n_late", F.sum("supp_late").over(w)
    )
    return (
        flagged.filter(
            (F.col("supp_late") == 1) & (F.col("n_late") == 1) & (F.col("n_supps") > 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@query(oracle="""
            with c as (
              select * from customer where c_nationkey < 7
            ), stats as (
              select cast(sum(cast(c_acctbal as decimal(18,6))) as double)
                       / count(*) as thresh
              from c where c_acctbal > 0.0
            )
            select cast(c_nationkey as bigint) as c_nationkey,
                   count(*) as numcust,
                   round(cast(sum(cast(c_acctbal as decimal(18,6))) as double), 2)
                     as totacctbal
            from c, stats
            where c_acctbal > thresh
              and not exists (select 1 from orders
                              where o_custkey = c_custkey
                                and o_orderdate >= '2000-01-01')
            group by c_nationkey
        """)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance customers above the average who
    never ordered — broadcast scalar threshold + left-anti join. The
    threshold comes from an exact decimal sum so both engines make
    identical boundary decisions."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 7)
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    stats = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,6)")).alias("_s"),
        F.count("*").alias("_n"),
    )
    thresh = (F.col("_s").cast("double") / F.col("_n")).alias("_thresh")
    rich = c.crossJoin(F.broadcast(stats.select(thresh))).filter(
        F.col("c_acctbal") > F.col("_thresh")
    )
    idle = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double"), 2
            ).alias("totacctbal"),
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
            "numcust", "totacctbal",
        )
    )


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived part-supplier inventory (the testdata ships no partsupp
    table): availqty = line count, supplycost = min unit price, both
    order-independent aggregates so the derivation is engine-exact.
    supplycost rounds in decimal space (cast→decimal(18,6) then
    round(,2) — both engines round decimals half-away-from-zero)."""
    li = _t(spark, sf_dir, "lineitem")
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).cast(
        "decimal(18,6)"
    )
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.count("*").alias("ps_availqty"),
        F.round(F.min(unit), 2).alias("ps_supplycost"),
    )


@query(oracle="""
            with """ + _PARTSUPP_CTE + """
            , j as (
              select round(s_acctbal, 2) as s_acctbal, s_name, n_name,
                     p_partkey, p_name,
                     ps_supplycost,
                     min(ps_supplycost) over (partition by ps_partkey)
                       as min_cost
              from partsupp
                join part on ps_partkey = p_partkey
                join supplier on ps_suppkey = s_suppkey
                join nation on s_nationkey = n_nationkey
                join region on n_regionkey = r_regionkey
              where p_type = 'LARGE' and p_size < 10 and r_name = 'ASIA'
            )
            select s_acctbal, s_name, n_name, p_partkey, p_name,
                   cast(ps_supplycost as double) as supplycost
            from j where ps_supplycost = min_cost
            order by s_acctbal desc, n_name asc, s_name asc, p_partkey asc
            limit 100
        """)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier within a region —
    the correlated MIN subquery becomes a window over the join result
    (exact decimal comparison selects identical rows in both engines)."""
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") < 10)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    w = Window.partitionBy("ps_partkey")
    return (
        j.withColumn("_min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("_min_cost"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name", "n_name", "p_partkey", "p_name",
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), F.col("n_name").asc(),
            F.col("s_name").asc(), F.col("p_partkey").asc(),
        )
        .limit(100)
    )


@query(oracle="""
            with """ + _PARTSUPP_CTE + """
            , j as (
              select ps_partkey, ps_supplycost * ps_availqty as v
              from partsupp
                join supplier on ps_suppkey = s_suppkey
                join nation on s_nationkey = n_nationkey
              where n_name = 'NATION_3'
            )
            select ps_partkey, cast(sum(v) as double) as stock_value
            from j
            group by ps_partkey
            having cast(sum(v) as double)
                   > (select cast(sum(v) as double) from j) * 0.001
        """)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose national inventory value exceeds a
    fraction of the total — HAVING against a broadcast scalar computed
    from exact decimal sums."""
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    j = (
        ps.join(F.broadcast(s), ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("_v"),
        )
    )
    per_part = j.groupBy("ps_partkey").agg(F.sum("_v").alias("_value"))
    total = j.agg(F.sum("_v").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("_value").cast("double")
            > F.col("_total").cast("double") * F.lit(0.001)
        )
        .select(
            "ps_partkey",
            F.col("_value").cast("double").alias("stock_value"),
        )
    )


@query(oracle="""
            with """ + _PARTSUPP_CTE + """
            select p_brand, p_type, cast(p_size as bigint) as p_size,
                   count(distinct ps_suppkey) as supplier_cnt
            from partsupp join part on ps_partkey = p_partkey
            where p_brand <> 'Brand#1' and p_size < 15
              and ps_suppkey not in (
                select s_suppkey from supplier where s_acctbal < 0)
            group by p_brand, p_type, p_size
        """)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier counts per part attribute group with a
    NOT-IN anti-join (negative-balance suppliers excluded) and
    COUNT(DISTINCT)."""
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size") < 15)
    )
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("_bad_key"))
    return (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            F.broadcast(bad),
            ps.ps_suppkey == F.col("_bad_key"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .select(
            "p_brand", "p_type",
            F.col("p_size").cast("bigint").alias("p_size"),
            "supplier_cnt",
        )
    )


@query(oracle="""
            with """ + _PARTSUPP_CTE + """
            , shipped as (
              select l_partkey as pk, l_suppkey as sk,
                     sum(cast(l_quantity as decimal(18,6))) as qty
              from lineitem
              where l_shipdate >= '1997-01-01' and l_shipdate < '1998-01-01'
              group by 1, 2
            )
            select s_suppkey, s_name
            from supplier join nation on s_nationkey = n_nationkey
            where n_name = 'NATION_3'
              and s_suppkey in (
                select ps_suppkey
                from partsupp join shipped
                  on ps_partkey = pk and ps_suppkey = sk
                where cast(ps_availqty as double) > cast(qty as double) * 0.3)
        """)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation holding excess stock of
    some part — the nested quantity-threshold subquery becomes an exact
    decimal aggregate joined back; the EXISTS collapses to a semi join.

    Plan shape: the derived partsupp inventory and the shipped-quantity
    subquery group on the SAME (partkey, suppkey) keys, so both fold
    into ONE pass over lineitem (conditional sum for the date-windowed
    quantity) — one scan + one shuffle instead of two scans, two
    shuffles and a large-large join. The inner join against `shipped`
    becomes `_qty IS NOT NULL`."""
    li = _t(spark, sf_dir, "lineitem")
    in_window = (F.col("l_shipdate") >= "1997-01-01") & (
        F.col("l_shipdate") < "1998-01-01"
    )
    qty = F.when(in_window, F.col("l_quantity").cast("decimal(18,6)"))
    grouped = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.count("*").alias("ps_availqty"),
        F.sum(qty).alias("_qty"),
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    excess = (
        grouped.filter(
            F.col("_qty").isNotNull()
            & (
                F.col("ps_availqty").cast("double")
                > F.col("_qty").cast("double") * F.lit(0.3)
            )
        )
        .select("ps_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )
