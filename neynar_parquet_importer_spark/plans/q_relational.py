"""Registry chunk split out of plans/queries.py (round-9 hygiene): original lines 85-1509. Definitions land in the shared QUERIES/ORACLE_SQL dicts at import; the spine (plans.queries) imports every chunk in original order and re-exports all names, so `from ..plans.queries import X` keeps working for every X."""
from __future__ import annotations

from .queries import (  # noqa: E501
    DataFrame,
    F,
    SparkSession,
    Window,
    _ARTIFACT_ORACLE_CACHE,
    _BPE_MERGE_CACHE,
    _BPE_ORACLE_MERGE_CACHE,
    _BPE_STABLE_CACHE,
    _EMB_COUNT_CACHE,
    _EMB_DIM_CACHE,
    _HOT_SHINGLE_CACHE,
    _IVF_CENTROID_CACHE,
    _KMEANS_CENT_CACHE,
    _PCA_MODEL_CACHE,
    _PQ_CODEBOOK_CACHE,
    _ntz_epoch_seconds,
    _t,
    compile_filter,
    dd,
    os,
    sim,
    window_start,
)



# ---------------------------------------------------------------------------
# Relational core (SURVEY §2.5/§2.6/§2.7: joins, aggs, sorts — the general
# surface Spark gives for free, exercised TPC-H-style)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation; Catalyst plans a
    partial (map-side) + final hash aggregate, so the shuffle carries only
    group rows, not data rows."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + grouped revenue + top-10; the top-10
    plans as TakeOrderedAndProject (no global sort).

    Broadcast policy (applies to the whole TPC-H family here): explicit
    broadcast hints are reserved for constant-cardinality frames (region
    5 rows, nation 25, one-row scalars, bounded filtered aggregates).
    Linear-growth dims — customer, supplier, part, per-part aggregates —
    carry NO hint: Catalyst/AQE broadcast them from size stats while they
    fit the threshold (they always do at bench scale, so the plans below
    still show BroadcastHashJoin), and at the corpus size where that
    stops being true a forced hint would exceed Spark's broadcast cap
    and fail the query rather than degrade to a shuffled join."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.col("o_orderkey"))
        .limit(10)
    )


def q5_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join where supplier/customer nation must
    match. region/nation/supplier/customer are dims -> broadcast; only
    orders⋈lineitem shuffles."""
    region = F.broadcast(_t(spark, sf_dir, "region"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    supplier = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (cust.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join. The
    reference's l_commitdate/l_receiptdate pair doesn't exist in this
    schema, so "late" = any line shipped >60 days after the order date.
    The semi join keeps only the order's key columns in the shuffle and
    short-circuits per matching key."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-07-01"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (
                li.l_shipdate.cast("date")
                > F.date_add(orders.o_orderdate.cast("date"), 60)
            ),
            "left_semi",
        )
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan + filter + single aggregate. Every predicate
    reaches the parquet scan as a pushed filter; the plan is one
    WholeStageCodegen span with a partial+final agg of a single double."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        )
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: nation-pair trade volume by ship year. Both nation dims
    broadcast; the symmetric pair predicate is applied after the joins so
    one plan serves both directions."""
    n1 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    supplier = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n1, supplier.s_nationkey == n1.s_nkey)
        .join(n2, cust.c_nationkey == n2.c_nkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of PROMO-part revenue inside EUROPE,
    per order year. Conditional aggregation (sum of CASE / sum) instead
    of a second pass; all dims broadcast so only lineitem⋈orders
    shuffles."""
    region = F.broadcast(
        _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    )
    n_cust = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
        )
    )
    n_supp = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supplier = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n_cust, cust.c_nationkey == F.col("c_nkey"))
        .join(region, F.col("c_rkey") == region.r_regionkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n_supp, supplier.s_nationkey == F.col("s_nkey"))
        .groupBy(
            F.year(F.col("o_orderdate").cast("date")).cast("long").alias("o_year")
        )
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", volume).otherwise(0.0))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per order year over
    STANDARD parts. No ps_supplycost in this schema, so cost is proxied
    as 80% of retail price × quantity — the join/agg topology (5-way
    star, two fact-side shuffles) is the point."""
    n_supp = F.broadcast(_t(spark, sf_dir, "nation"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.8
    # sum exact integer cents: per-row floor(x*100 + 0.5) evaluates
    # identically in any IEEE engine and integer sums are order-
    # independent — a double sum rounded to 2dp can land on a .005
    # boundary and flip with summation order (observed at sf0.001)
    profit_cents = F.floor(profit * 100 + F.lit(0.5)).cast("long")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n_supp, supplier.s_nationkey == n_supp.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).cast("long").alias("o_year"),
        )
        .agg(F.sum(profit_cents).alias("sum_profit_cents"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in a
    quarter. TakeOrderedAndProject top-k with a deterministic tie-break;
    nation broadcast."""
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count, including
    zero-order customers via the left join; count(col) skips the nulls
    the join manufactures. Two stacked aggregations, each partial+final."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one ship month. part broadcast;
    single conditional aggregate, no second scan."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", revenue).otherwise(0.0))
            / F.sum(revenue),
            4,
        ).alias("promo_revenue")
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 300 (46 at sf0.01).
    The HAVING subquery becomes aggregate-then-join; the aggregated side
    is tiny after the filter so Catalyst broadcasts it into orders."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(100)
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunction of three (brand × quantity-range ×
    size-range) baskets. The join key predicate stays conjunctive so the
    equi-join is still hash-planned; the OR filter evaluates post-join
    inside codegen."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    basket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return joined.filter(basket).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers above the positive-balance average with
    no recent orders, grouped by nation. The scalar average broadcasts as
    a 1-row cross join; the NOT EXISTS is a left-anti join against the
    distinct recent-buyer keys."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
        .distinct()
    )
    rich = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
    )
    return (
        rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 structure (correlated MIN subquery + 4-way dimension
    join) adapted to this schema: partsupp doesn't exist, so the
    part-supplier cost relation is derived from lineitem as
    ``min(l_extendedprice / l_quantity)`` per (part, supplier) — MIN of
    per-row ratios is commutative/order-independent, so the double
    compares equal across engines (a SUM-based unit cost would be
    summation-order-dependent and could break the min-equality join by
    1 ulp). The correlated ``supplycost = (SELECT min(...) WHERE
    partkey = p_partkey)`` becomes aggregate-then-equijoin; the
    region-filtered supplier dimension (~1/5 of 100 rows) broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost")
    )
    eur = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps_eur = ps.join(
        F.broadcast(eur), ps.l_suppkey == eur.s_suppkey
    ).select("l_partkey", "supplycost", "s_name", "s_acctbal", "n_name")
    parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size").between(10, 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_name")
    )
    # the correlated-MIN semantics as a window-min filter, not an
    # aggregate + equality self-join: the self-join form evaluated the
    # whole lineitem (part, supplier) cost aggregate TWICE (the min
    # subtree and the probe subtree differ in pushed null-filters, so
    # neither Spark's ReusedExchange nor AQE stage dedup fires — r10
    # plan audit: Scan parquet (lineitem) + the 600k-row aggregate
    # appeared on both sides). rows where supplycost equals the window
    # min over l_partkey are exactly the rows the equality join kept —
    # same doubles (one MIN computation either way), same multiset.
    # Equivalence assumes NON-NULL l_partkey (true in TPC-H and this
    # schema): partitionBy groups NULL keys together and would KEEP a
    # NULL-key row at that partition's min where the old equality join
    # dropped it — add isNotNull if this pattern is lifted to nullable
    # join keys (r10 advisor).
    w = Window.partitionBy("l_partkey")
    min_rows = ps_eur.withColumn(
        "min_cost", F.min("supplycost").over(w)
    ).filter(F.col("supplycost") == F.col("min_cost"))
    return (
        min_rows
        .join(F.broadcast(parts), min_rows.l_partkey == parts.p_partkey)
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("supplycost", 6).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 structure: GROUP BY ... HAVING sum > fraction × (scalar
    subquery over the same scope). The scope (one nation's suppliers'
    lineitems) is computed once and reused for both the per-part sums
    and the global total; the 1-row total broadcasts as a cross join.
    The HAVING compares raw double sums (not pre-rounded) exactly like
    the oracle — quantities/prices sum over few rows per part, so a
    boundary flip needs a 1-ulp straddle of the threshold, the same
    accepted risk as q18's HAVING."""
    scoped = (
        _t(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "supplier")
                .join(
                    _t(spark, sf_dir, "nation").filter(
                        F.col("n_name") == "NATION_7"
                    ),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                )
                .select("s_suppkey")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("val"),
        )
    )
    total = scoped.agg(F.sum("val").alias("total_val"))
    return (
        scoped.groupBy("l_partkey")
        .agg(F.sum("val").alias("raw_value"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("raw_value") > 0.001 * F.col("total_val"))
        .select(
            "l_partkey", F.round("raw_value", 2).alias("part_value")
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 structure: COUNT(DISTINCT supplier) per part attribute
    triple, with a negated attribute filter and a NOT IN supplier
    exclusion subquery (negative-balance suppliers stand in for the
    reference's complaint scan). NOT IN compiles to a broadcast
    left-anti join; the distinct (part, supplier) pair relation comes
    from lineitem since partsupp doesn't exist in this schema."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    excl = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#23")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        pairs.join(F.broadcast(excl), pairs.l_suppkey == excl.s_suppkey, "left_anti")
        .join(part, pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 structure: correlated AVG subquery (``l_quantity <
    0.2 * (SELECT avg(l_quantity) WHERE l_partkey = p_partkey)``) as
    aggregate-then-equijoin. Quantities are integer-valued doubles, so
    the per-part avg (exact integer sum / count) is bit-identical across
    engines and the 0.2× threshold compare cannot straddle. The per-part
    avg frame is one row per part (~2k) — broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("ak"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 structure: nested IN chain (supplier IN (... part IN
    (name-pattern scan) ... HAVING qty > correlated half-threshold)).
    The reference's ``ps_availqty > 0.5 * shipped`` correlation becomes
    ``per-(supplier, part) shipped qty > 0.5 * that part's total shipped
    qty`` — a majority-shipper test with the same correlated-scalar
    shape, exact under integer-valued quantities. Each IN level is a
    semi/equi join; the name-filtered part list and the per-part totals
    broadcast."""
    target = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(target), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = shipped.groupBy(F.col("l_partkey").alias("tk")).agg(
        F.sum("qty").alias("tot_qty")
    )
    majority = (
        shipped.join(F.broadcast(tot), F.col("l_partkey") == F.col("tk"))
        .filter(F.col("qty") > 0.5 * F.col("tot_qty"))
        .select("l_suppkey")
        .distinct()
    )
    asia = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return (
        asia.join(
            F.broadcast(majority),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


def q21_late_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 structure: EXISTS + NOT EXISTS self-references on the
    same fact scan. The reference's receipt-vs-commit lateness doesn't
    exist in this schema (no commitdate/receiptdate), so "late" =
    shipped >365 days after the order date; the semantics kept are the
    interesting ones — a supplier counted only when it was late on a
    finished multi-supplier order (EXISTS another supplier's line) and
    it was the ONLY late supplier (NOT EXISTS another late line).
    EXISTS → left_semi, NOT EXISTS → left_anti, both equi on l_orderkey
    with the supplier-inequality conjunct evaluated inside the join."""
    fli = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
    )
    late = fli.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAY")
    )
    other = fli.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    other_late = late.select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    l1 = (
        late.join(
            other,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        l1.join(
            F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Filter DSL (SURVEY §2.2 F1-F10)
# ---------------------------------------------------------------------------

def filter_dsl_in_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 ($in) + F3 ($gt) + implicit AND across keys, compiled to Columns
    that Catalyst pushes into the parquet scan."""
    pred = compile_filter(
        {
            "data.c_mktsegment": {"$in": ["BUILDING", "MACHINERY"]},
            "data.c_acctbal": {"$gt": 1000.0},
        }
    )
    return (
        _t(spark, sf_dir, "customer")
        .filter(pred)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    )


def filter_dsl_and_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6 ($and inside $or) + F2/F4 on the events stream table."""
    pred = compile_filter(
        {
            "$or": [
                {
                    "data.event_type": {"$eq": "purchase"},
                    "data.value": {"$gte": 100.0},
                },
                {"data.event_type": {"$in": ["error"]}},
            ]
        }
    )
    return (
        _t(spark, sf_dir, "events")
        .filter(pred)
        .select("event_id", "user_id", "event_type", F.round("value", 2).alias("value"))
    )


def backfill_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: inclusive time-range predicate (cli/backfill.py:130-131 analog)
    on the orders table, projected to date granularity."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").between(F.lit("1997-01-01"), F.lit("1997-12-31")))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderstatus",
        )
    )


# ---------------------------------------------------------------------------
# J1/A1: the reference's one real view — left join + ordered agg
# (schema/023 profiles_with_verifications, re-shaped onto customer/orders)
# ---------------------------------------------------------------------------

def join_left_ordered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profiles_with_verifications shape (schema/023:9-53): left join each
    customer to the DESC-ordered aggregate of its non-'deleted' orders.
    The correlated subquery the reference's view uses decorrelates to
    aggregate-then-join; aggregating *before* the join keeps the shuffle
    on the small aggregated side."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    agg = orders.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("o_orderkey"), asc=False),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("order_ids"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return cust.join(agg, cust.c_custkey == agg.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.col("order_ids"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# D1/D2: dedup + last-writer-wins (SURVEY §2.4) and window functions
# ---------------------------------------------------------------------------

def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup on documents (hash-groupBy)."""
    return dd.exact_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id")


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1's last-occurrence-wins dedup in its robust distributed form:
    row_number over an explicit arrival order (event_id) instead of
    nondeterministic file position (db.py:800-820 deviation noted in
    SURVEY §7.3)."""
    ev = _t(spark, sf_dir, "events")
    out = dd.last_writer_wins(ev, ["user_id"], [F.desc("event_id")])
    return out.select("user_id", "event_id", "event_type", F.round("value", 2).alias("value"))


def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function: top-3 customers by balance per nation."""
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.col("c_custkey"))
    return (
        _t(spark, sf_dir, "customer")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rn")
    )


def top1_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 top-1 lookup shape (db.py:177-191): ORDER BY ... DESC LIMIT 1
    with a deterministic tiebreak -> TakeOrderedAndProject."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(1)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def events_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions (lag) over the event stream: per-user
    value delta in arrival order."""
    w = Window.partitionBy("user_id").orderBy("event_id")
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
    )


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-set aggregation (subtotals + grand total)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over two dimensions."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def distinct_buyers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) aggregate: distinct ordering customers per segment
    (Catalyst plans expand + two-stage aggregate)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_buyers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def semi_join_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one urgent order."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def anti_join_never_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no urgent orders."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def range_join_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: line items shipped within 30 days after
    their order date. Catalyst plans equi-key (orderkey) + range residual,
    so this stays a hash join with a post-filter, not a nested loop."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(
            orders,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate >= orders.o_orderdate)
            & (li.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_fast_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("fast_revenue"),
        )
    )


def asof_latest_order_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively): for each purchase
    event, the most recent order of the matching customer at or before the
    event time — expressed as equi-join on key + range predicate + top-1
    per event via row_number (SURVEY §2.5's composition strategy (a))."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    orders = _t(spark, sf_dir, "orders")
    joined = ev.join(
        orders,
        (ev.user_id == orders.o_custkey) & (orders.o_orderdate <= ev.ts),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc_nulls_last("o_orderdate"), F.desc_nulls_last("o_orderkey")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "o_orderkey")
    )




def _emb_cache_key(sf_dir: str) -> tuple:
    """(path, mtime) cache key for per-corpus derived artifacts: a
    rewritten embeddings file invalidates automatically. Non-local URIs
    (s3a:// etc.) fall back to path-only keying — call
    reset_corpus_caches() there if data changes mid-process."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    try:
        return (sf_dir, os.path.getmtime(path))
    except OSError:
        return (sf_dir, None)


def reset_model_caches() -> None:
    """Drop ONLY the trained-model memos (IVF centroids, PQ codebooks,
    k-means centroids, PCA basis, BPE merges) — the bench's cold-leg
    reset. Deliberately narrower than :func:`reset_corpus_caches`: the
    hot-shingle df-cap list and the embedding dim/count probes are
    consumed by queries OUTSIDE the cold/warm split (dedup_ngram_*,
    every ANN dispatch), and wiping them made those queries' bench
    headline permanently cold on every pass (round-8 review finding)."""
    _IVF_CENTROID_CACHE.clear()
    _PQ_CODEBOOK_CACHE.clear()
    _KMEANS_CENT_CACHE.clear()
    _PCA_MODEL_CACHE.clear()
    _BPE_MERGE_CACHE.clear()
    _BPE_STABLE_CACHE.clear()


def reset_shingle_cache() -> None:
    """Drop ONLY the per-corpus hot-shingle memo — the bench's cold-leg
    reset for the jaccard-family consumers (r10 verdict #2: the memo
    moved a full corpus shingle aggregation out of the timed region for
    six queries with no cold leg recorded; the bench now times those
    queries cold+warm, same discipline as the trained-model artifacts).
    Narrower than :func:`reset_corpus_caches`: the embedding dim/count
    probes and trained-model memos are consumed by queries outside this
    split and must stay warm through a shingle cold leg."""
    _HOT_SHINGLE_CACHE.clear()


def reset_corpus_caches() -> None:
    """Drop all per-corpus derived-artifact caches (embedding dims, IVF
    centroids) — for long-lived sessions whose data changes under a
    non-local URI where mtime keying can't see it."""
    _EMB_DIM_CACHE.clear()
    _EMB_COUNT_CACHE.clear()
    _IVF_CENTROID_CACHE.clear()
    _PQ_CODEBOOK_CACHE.clear()
    reset_shingle_cache()  # keep the shingle-memo reset in one place
    _ARTIFACT_ORACLE_CACHE.clear()
    _KMEANS_CENT_CACHE.clear()
    _PCA_MODEL_CACHE.clear()
    _BPE_MERGE_CACHE.clear()
    _BPE_STABLE_CACHE.clear()
    _BPE_ORACLE_MERGE_CACHE.clear()


def _embedding_dim(emb: DataFrame, sf_dir: str) -> int:
    """Vector width probe, one tiny job per corpus per process (the array
    type carries no static length); cached so repeated queries pay zero."""
    key = _emb_cache_key(sf_dir)
    if key not in _EMB_DIM_CACHE:
        _EMB_DIM_CACHE[key] = int(
            emb.select(F.size("embedding").alias("d")).head()[0]
        )
    return _EMB_DIM_CACHE[key]




def _embedding_count(emb: DataFrame, sf_dir: str) -> int:
    """Embedding-corpus row count for the adaptive exact/LSH dispatch,
    cached per (path, mtime) like every other per-corpus artifact: the
    count() behind the FAISS-style crossover is metadata-only on Parquet
    but still one Spark job per invocation on a hot query path."""
    key = _emb_cache_key(sf_dir)
    if key not in _EMB_COUNT_CACHE:
        _EMB_COUNT_CACHE[key] = emb.count()
    return _EMB_COUNT_CACHE[key]


def _embedding_exact_pairs(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """Exact all-pairs cosine >= threshold (id_a < id_b) — shared by the
    near-dup pair query (0.5) and the cluster query (0.4).

    Primary plan: distributed block-pair BLAS matmuls
    (operators.similarity.exact_cosine_pairs_blocked) — exact O(n^2)
    semantics with no corpus broadcast and per-pair cost at matmul speed.
    The flattened-codegen cross join below
    (_embedding_exact_pairs_unblocked) is kept as the oracle-shape twin:
    its left-assoc dot matches DuckDB's sequential list_dot_product
    bit-for-bit, and tests/test_operators.py proves blocked == unblocked
    on the real corpus, transitively anchoring the BLAS path to the SQL
    oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = sim.exact_cosine_pairs_blocked(emb, threshold)
    return pairs.select(
        "id_a", "id_b", F.round("cos_raw", 4).alias("cos_sim")
    )


def _embedding_exact_pairs_unblocked(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """The broadcast cross-join form of the exact pair scan (oracle-shape
    twin of _embedding_exact_pairs; see its docstring)."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(emb, sf_dir)
    # flatten to scalar columns: array higher-order folds are interpreted,
    # but a 64-term product-sum over scalar columns is whole-stage codegen
    # (~50x faster on the 2M-pair cross join at sf0.1). Term order matches
    # the oracle's sequential list_dot_product exactly.
    # SQL-string expression build: one py4j call, not 100s of Column ops
    # (driver plan construction is part of the per-query latency). The
    # left-assoc "+" chain matches the oracle's sequential fold exactly.
    def flat(side: str):
        exprs = [f"vec_id as id_{side}"] + [
            f"cast(embedding[{i}] as double) as {side}{i}" for i in range(dim)
        ]
        # norm precomputed ONCE per vector (n rows), not per pair (n^2):
        # cuts the cross-join arithmetic from 3 to 1 dot products per pair
        sumsq = " + ".join(f"{side}{i}*{side}{i}" for i in range(dim))
        return emb.selectExpr(*exprs).withColumn(
            f"nrm_{side}", F.expr(f"sqrt({sumsq})")
        )

    def dot(x: str, y: str):
        return F.expr(" + ".join(f"{x}{i}*{y}{i}" for i in range(dim)))

    # the corpus arrives as one small parquet split; spread the streamed
    # side so the O(n^2) compare uses every core (a 2000-row shuffle)
    par = spark.sparkContext.defaultParallelism
    pairs = flat("a").repartition(par).join(
        F.broadcast(flat("b")), F.col("id_a") < F.col("id_b")
    )
    denom = F.col("nrm_a") * F.col("nrm_b")
    cos = F.when(denom > 0, dot("a", "b") / denom).otherwise(F.lit(0.0))
    return (
        pairs.select("id_a", "id_b", cos.alias("cos_raw"))
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 4).alias("cos_sim"))
    )


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.5, id_a < id_b).

    Exact all-pairs, executed as distributed block-pair BLAS matmuls (no
    corpus broadcast; B(B+1)/2 independent tasks). Exactness matters here:
    at thresholds near the data's bulk similarity, candidate pruning (LSH)
    cannot keep recall without scanning ~everything, so the scale lever is
    the arithmetic rate, not the comparison count. For the genuinely
    approximate regime (high-cos planted dups), embedding_near_dup_lsh is
    the pruned twin."""
    return _embedding_exact_pairs(spark, sf_dir, 0.5)


def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup clustering: exact cosine pairs (>= 0.4) ->
    connected components -> canonical keeper per cluster. The embedding
    twin of dedup_clusters; the oracle recomputes the pairs and the
    transitive closure with a recursive CTE, so the iterative/union-find
    clustering is value-checked end-to-end on this modality too.

    The pair scan is the blocked-BLAS exact plan (see
    _embedding_exact_pairs): at this 0.4 threshold the corpus' pair
    population is entirely borderline (cos 0.4-0.6 — measured, no planted
    high-cos mass), where hyperplane-LSH recall is provably poor, so a
    pruned candidate set would silently drop edges and change components.
    embedding_dedup_clusters_lsh is the pruned twin for the planted-dup
    regime where recall genuinely holds."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = _embedding_exact_pairs(spark, sf_dir, 0.4).select("id_a", "id_b")
    return dd.dedup_cluster_keepers(emb, pairs, "vec_id")


def embedding_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of embedding_dedup_clusters with the FAISS-style
    corpus-size crossover (operators.similarity.near_dup_pairs_adaptive):
    below ~1e5 vectors the exact blocked-BLAS scan is strictly faster than
    building LSH tables — and deterministic, so this query is fully
    ORACLE-CHECKED at test scales (same recursive-CTE closure as
    embedding_dedup_clusters, threshold 0.5). Above the crossover, the
    multi-table hyperplane LSH candidate + exact-rerank path engages;
    tests/test_operators.py forces that path on a planted corpus and
    proves its clusters match the exact plan's exactly, so the adaptive
    dispatch never changes answers in the regime near-dup dedup targets
    (planted dups, cos >= ~0.9, recall ~= 1)."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = _embedding_dim(emb, sf_dir)
    pairs = sim.near_dup_pairs_adaptive(
        emb, dim, threshold=0.5, n_rows=_embedding_count(emb, sf_dir)
    ).select("id_a", "id_b")
    return dd.dedup_cluster_keepers(emb, pairs, "vec_id")


def sketch_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates per order status: HyperLogLog++ distinct buyers
    and approximate price percentiles. Both sketches merge associatively
    across partitions, so the shuffle carries fixed-size sketch state
    instead of value sets — the 100 TB way to get distincts/quantiles.

    FULLY oracle-checked, sketches included: raw sketch values aren't
    portable across engines, but their CONTRACT is — each sketch column
    is emitted as an error-bound predicate against an exact reference
    computed in the same aggregate (HLL within 10% of exact distinct at
    rsd=0.02; digest percentiles inside the exact (q±0.01)-quantile
    envelope at accuracy 10k). The DuckDB twin recomputes the exact
    columns and asserts the predicates as TRUE, so the driver hash-check
    verifies the groups, the exact counts, AND that the sketches honor
    their bounds. (At true 100 TB the exact references would come from a
    sampled audit, not the same scan; here they double as the oracle
    anchor. Raw sketch error vs exact is additionally measured in
    tests/test_operators.py.)"""
    orders = _t(spark, sf_dir, "orders")
    g = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("ab"),
        F.countDistinct("o_custkey").alias("n_buyers"),
        F.percentile_approx("o_totalprice", [0.5, 0.95], 10_000).alias("pp"),
        F.expr("percentile(o_totalprice, array(0.49, 0.51, 0.94, 0.96))").alias(
            "px"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )
    # percentile_approx returns an ACTUAL data value while the exact
    # (q±0.01)-quantile envelope is interpolated; on a tiny group the
    # nearest data value can legitimately sit outside the interpolated
    # envelope, so the bound predicate only applies once the group is
    # large enough (>= 1000 rows) for the envelope to contain data points
    small = F.col("n_orders") < 1000
    return g.select(
        "o_orderstatus",
        "n_orders",
        "n_buyers",
        (F.abs(F.col("ab") - F.col("n_buyers")) <= 0.1 * F.col("n_buyers")).alias(
            "hll_within_bound"
        ),
        (
            small
            | ((F.col("pp")[0] >= F.col("px")[0]) & (F.col("pp")[0] <= F.col("px")[1]))
        ).alias("p50_within_bound"),
        (
            small
            | ((F.col("pp")[1] >= F.col("px")[2]) & (F.col("pp")[1] <= F.col("px")[3]))
        ).alias("p95_within_bound"),
    )


def salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof grouped aggregation: per-event-type count/sum via
    two-phase salting (operators.skew). Result is identical to the plain
    groupBy — the oracle checks that — while the first shuffle spreads
    each hot key over 16 sub-keys."""
    from ..operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    return salted_aggregate(
        ev,
        ["event_type"],
        [F.count(F.lit(1)).alias("pc"), F.sum("value").alias("ps")],
        [
            F.sum("pc").alias("n_events"),
            F.round(F.sum("ps"), 2).alias("sum_value"),
        ],
    )


def exists_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-subquery decorrelated to a left-semi join
    (order has >=1 line item shipped more than 60 days after the order
    date), then a grouped count."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


def scalar_subquery_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated to aggregate-then-join; revenue of line items
    below half their part's average quantity. The per-part aggregate is
    tiny -> broadcast into the second scan."""
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("aq")
    )
    return (
        li.join(avg_qty, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def moving_avg_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-user trailing-1-hour average event value
    (time-based frame over the epoch, not a row count). Epoch seconds via
    NTZ-to-NTZ timestampdiff — unix_timestamp on a TIMESTAMP_NTZ column
    converts through the session timezone and would only match the oracle
    because the session pins UTC."""
    ev = _t(spark, sf_dir, "events")
    epoch = _ntz_epoch_seconds("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("trailing_avg"),
    )


def percentile_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (median / p90, linear interpolation) of
    extended price per return flag. Exact percentile buffers each group's
    value set, so this is the low-cardinality-group / audit path; the
    fixed-state mergeable path at 100 TB is the approx variant in
    `sketch_order_stats`."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("price_p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("price_p90"),
    )


def corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per return flag: Pearson correlation, sample
    covariance, and sample stddevs of quantity vs extended price — all
    single-pass moment aggregates whose partial states merge
    associatively, so the shuffle carries O(groups) fixed-size state."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("price_stddev"),
    )


def ntile_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation account-balance quartile assignment (ntile(4)). The
    window partitions by nation, so each sort is local to its shuffle
    partition — never global — and the (balance, custkey) order key makes
    tie placement deterministic across engines."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("balance_quartile"),
    )


def pivot_revenue_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with explicit pivot values: order revenue by priority ×
    order-year. Explicit values skip the distinct-values discovery job;
    the plan is two stacked partial+final aggregates (group-by (priority,
    year), then pivotfirst per priority), so every shuffle carries
    O(groups × years) rows — data rows are combined map-side at the
    scan."""
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.withColumn("o_year", F.year(F.col("o_orderdate").cast("date")))
        .groupBy("o_orderpriority")
        .pivot("o_year", [1995, 1996, 1997])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return piv.select(
        "o_orderpriority",
        F.col("1995").alias("rev_1995"),
        F.col("1996").alias("rev_1996"),
        F.col("1997").alias("rev_1997"),
    )


# ---------------------------------------------------------------------------
# Set operations (§2.8 — absent in reference, table stakes for the engine)
# ---------------------------------------------------------------------------

def set_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    building = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    big_buyers = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return building.intersect(big_buyers)


def set_except_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    machinery = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "MACHINERY")
        .select(F.col("c_custkey").alias("custkey"))
    )
    have_orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return machinery.exceptAll(have_orders).distinct()


# ---------------------------------------------------------------------------
# Scalar functions (§2.3): JSON extraction, hex projection
# ---------------------------------------------------------------------------

def json_extract_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 shape: JSON payload column -> typed value -> aggregate.
    get_json_object is JVM-side; no UDF in the path."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


def hex_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 hex-encode projection ('0x' || hex(payload)), the address
    rendering at the reference's graph edge (transformers/verifications.py:17-23)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(F.lit("0x"), F.lower(F.hex(F.col("source")))).alias("source_hex"),
    )


# ---------------------------------------------------------------------------
# Streaming-semantics batch twins (§2.8 W1/W8): tumbling windows
# ---------------------------------------------------------------------------

def tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 tumbling windows (main.py:286-291's ts//dur*dur alignment) as a
    grouped agg on the events stream table."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("window_start", window_start("ts", 3600))
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows — 30-minute windows every 10 minutes,
    so each event lands in exactly 3 overlapping windows. Expressed as
    an explicit explode of the window/slide ratio (epoch-aligned
    ``floor(secs/slide)*slide - i*slide``, exact integer arithmetic)
    rather than ``F.window(..., slide)``: the expansion factor is then
    visible in the plan, the alignment matches the tumbling W1
    convention (``window_start``'s ts//dur*dur), and the whole thing
    replays as static SQL. At scale the 3x row expansion happens
    AFTER the scan projection (2 small columns), before the one
    grouped aggregate."""
    ev = _t(spark, sf_dir, "events")
    secs = _ntz_epoch_seconds("ts")
    size, slide = 1800, 600
    base = ev.select(
        "event_type",
        (F.floor(secs / slide) * slide).cast("long").alias("anchor"),
        "value",
    )
    i = F.explode(F.array(*[F.lit(x) for x in range(size // slide)]))
    return (
        base.select("event_type", "value", "anchor", i.alias("i"))
        .select(
            "event_type",
            "value",
            (F.col("anchor") - F.col("i") * slide).alias("window_start"),
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) as a batch plan:
    cumulative sum over gap-breaks assigns session indexes, then one
    aggregate per session."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ-safe epoch (see moving_avg_user_value)
    epoch = _ntz_epoch_seconds("ts")
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sessioned = ev.withColumn(
        "session_idx",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessioned.groupBy("user_id", "session_idx")
        .agg(
            F.min(epoch).alias("session_start"),
            F.max(epoch).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
