"""Core relational surface: scans, filters, aggregation, grouping sets,
sorts/limits, set operations.

These are the operators the reference delegates to the PostgreSQL executor
(SURVEY §2.B; reference ``cstore_fdw.c:1743-1750``), provided here by
Spark SQL / Catalyst. Filter + projection queries are written so Catalyst
pushes them into the Parquet scan (verified in tests/test_pushdown.py),
which is the Spark analog of the reference's column pruning
(``cstore_fdw.c:1841-1941``) and zone-map block skipping
(``cstore_reader.c:744-806``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cstore_fdw_spark.operators import artifact, register, table


def dec(col: str | Column, typ: str = "decimal(12,2)") -> Column:
    """Exact-arithmetic input cast (see operators/__init__ conventions)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: str | Column, typ: str = "decimal(12,2)") -> Column:
    return F.sum(dec(col, typ))


def to_dbl(c: Column) -> Column:
    """Narrow-then-cast: decimal → decimal(38,6) → double.

    Scale 6 keeps the narrowing rescale exact (or Spark HALF_UP and
    DuckDB HALF_EVEN would disagree on ties) — our decimal inputs are
    2-decimal prices × 4-decimal factors, so every exact product has
    ≤ 6 decimals and scale 6 never rounds. Precision 38 (was 18) so
    sums of squares survive any realistic scale-up — DECIMAL(18,6)
    OVERFLOWED on the 150k-customer g1.0 fixture's Σ(acctbal²).
    Spark's decimal→double is BigDecimal-backed and correctly rounded
    at any width; the DuckDB twin (``_dbl``) must route through
    VARCHAR because its native decimal→double is double-rounded
    (int64/int128 → double, THEN /10^scale) — that broke at 1 ulp once
    sum_charge's unscaled value crossed 2^53 at the 6M-row fixture.
    Both found by the r13 g1.0 overflow sweep; green at sf0.01 by luck
    of magnitude."""
    return c.cast("decimal(38,6)").cast("double")


# SQL-side equivalents of the helpers above (kept textually tiny so oracle
# strings stay readable).
D = "DECIMAL(12,2)"
D4 = "DECIMAL(8,4)"


def _dbl(expr: str) -> str:
    # VARCHAR hop: DuckDB's decimal→double is double-rounded (integer
    # payload → double, then /10^scale), off by 1 ulp when the unscaled
    # value exceeds 2^53; string→double is correctly rounded and so
    # matches Spark's BigDecimal conversion at any magnitude. Precision
    # 38 so sums of squares never overflow the narrow cast (see to_dbl
    # — both failure modes caught by the r13 g1.0 overflow sweep).
    return (f"CAST(CAST(CAST({expr} AS DECIMAL(38,6)) AS STRING) "
            "AS DOUBLE)")


# --------------------------------------------------------------------- scans

@register(
    "scan_project_filter",
    category="scan",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity < 5
    """)
def scan_project_filter(spark, sf_dir):
    """A1+A2+A3/A4: projected, filtered scan. Column pruning + predicate
    pushdown reach the Parquet reader (reference: ColumnList
    cstore_fdw.c:1841-1941 + SelectedBlockMask cstore_reader.c:744-806)."""
    return (table(spark, sf_dir, "lineitem")
            .filter(F.col("l_quantity") < 5)
            .select("l_orderkey", "l_linenumber", "l_quantity",
                    "l_extendedprice"))


@register(
    "filter_between_like",
    category="scan",
    oracle="""
    SELECT p_partkey, p_name, p_size
    FROM part
    WHERE p_size BETWEEN 10 AND 20 AND p_type LIKE '%AND%'
          AND p_retailprice > 900
    """)
def filter_between_like(spark, sf_dir):
    """Filter surface: BETWEEN / LIKE / comparison conjunction (reference
    README.md:238-247 demo query shape)."""
    p = table(spark, sf_dir, "part")
    return (p.filter(F.col("p_size").between(10, 20)
                     & F.col("p_type").like("%AND%")
                     & (F.col("p_retailprice") > 900))
            .select("p_partkey", "p_name", "p_size"))


@register(
    "filter_in_null_tests",
    category="scan",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           NULLIF(o_orderstatus, 'O') AS status_or_null
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND NULLIF(o_orderstatus, 'O') IS NOT NULL
    """)
def filter_in_null_tests(spark, sf_dir):
    """IN-list + IS [NOT] NULL tests (null tests are part of the
    reference's pushdown-safe predicate set, cstore_reader.c:880-985)."""
    o = table(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                     & status_or_null.isNotNull())
            .select("o_orderkey", "o_orderpriority",
                    status_or_null.alias("status_or_null")))


# --------------------------------------------------------------- aggregation

@register(
    "q1_pricing_summary",
    category="agg",
    bench=True,
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
      {_dbl(f"SUM(CAST(l_quantity AS {D}))")} AS sum_qty,
      {_dbl(f"SUM(CAST(l_extendedprice AS {D}))")} AS sum_base_price,
      {_dbl(f"SUM(CAST(l_extendedprice AS {D}) * (1 - CAST(l_discount AS {D4})))")} AS sum_disc_price,
      {_dbl(f"SUM(CAST(l_extendedprice AS {D}) * (1 - CAST(l_discount AS {D4})) * (1 + CAST(l_tax AS {D4})))")} AS sum_charge,
      {_dbl(f"SUM(CAST(l_quantity AS {D}))")} / COUNT(*) AS avg_qty,
      {_dbl(f"SUM(CAST(l_extendedprice AS {D}))")} / COUNT(*) AS avg_price,
      {_dbl(f"SUM(CAST(l_discount AS {D4}))")} / COUNT(*) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """)
def q1_pricing_summary(spark, sf_dir):
    """Flagship aggregation (TPC-H Q1 shape): grouped sums/averages with
    expression aggregates. Spark runs this as partial+final HashAggregate
    (map-side combine), the scale-correct plan — one shuffle on the 6-value
    group key."""
    li = table(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice") * (F.lit(1) - dec("l_discount", "decimal(8,4)"))
    charge = disc_price * (F.lit(1) + dec("l_tax", "decimal(8,4)"))
    cnt = F.count(F.lit(1))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(to_dbl(dsum("l_quantity")).alias("sum_qty"),
                 to_dbl(dsum("l_extendedprice")).alias("sum_base_price"),
                 to_dbl(F.sum(disc_price)).alias("sum_disc_price"),
                 to_dbl(F.sum(charge)).alias("sum_charge"),
                 (to_dbl(dsum("l_quantity")) / cnt).alias("avg_qty"),
                 (to_dbl(dsum("l_extendedprice")) / cnt).alias("avg_price"),
                 (to_dbl(dsum("l_discount", "decimal(8,4)")) / cnt).alias("avg_disc"),
                 cnt.alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


@register(
    "agg_stats_summary",
    category="agg",
    oracle=f"""
    SELECT COUNT(*) AS n_rows, COUNT(c_acctbal) AS n_bal,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           {_dbl(f"MIN(CAST(c_acctbal AS {D}))")} AS min_bal,
           {_dbl(f"MAX(CAST(c_acctbal AS {D}))")} AS max_bal,
           {_dbl(f"SUM(CAST(c_acctbal AS {D}))")} AS sum_bal,
           CAST(SQRT((sx2 - sx * sx / n) / (n - 1)) AS DOUBLE) AS stddev_bal
    FROM customer, (
      SELECT {_dbl(f"SUM(CAST(c_acctbal AS {D}) * CAST(c_acctbal AS {D}))")} AS sx2,
             {_dbl(f"SUM(CAST(c_acctbal AS {D}))")} AS sx,
             COUNT(*) AS n
      FROM customer) s
    GROUP BY sx2, sx, n
    """)
def agg_stats_summary(spark, sf_dir):
    """Full scalar-aggregate family: count(*), count(col), count distinct,
    min/max/sum, sample stddev (reference exercises count/avg/stddev_samp,
    sql/query.sql:9-12 + ANALYZE stats). stddev computed from exact
    decimal moments so both engines agree bit-for-bit."""
    c = table(spark, sf_dir, "customer")
    sx2 = to_dbl(F.sum(dec("c_acctbal") * dec("c_acctbal")))
    sx = to_dbl(dsum("c_acctbal"))
    n = F.count(F.lit(1))
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_acctbal").alias("n_bal"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        to_dbl(F.min(dec("c_acctbal"))).alias("min_bal"),
        to_dbl(F.max(dec("c_acctbal"))).alias("max_bal"),
        to_dbl(dsum("c_acctbal")).alias("sum_bal"),
        F.sqrt((sx2 - sx * sx / n) / (n - F.lit(1)))
         .cast("double").alias("stddev_bal"))


@register(
    "group_having",
    category="agg",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS order_count,
           {_dbl(f"SUM(CAST(o_totalprice AS {D}))")} AS total
    FROM orders
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 10
    ORDER BY o_orderpriority
    """)
def group_having(spark, sf_dir):
    """GROUP BY + HAVING (reference sql/query.sql:11-12 shape)."""
    o = table(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"),
                 to_dbl(dsum("o_totalprice")).alias("total"))
            .filter(F.col("order_count") > 10)
            .orderBy("o_orderpriority"))


@register(
    "distinct_count_by_group",
    category="agg",
    oracle="""
    SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS nations,
           COUNT(*) AS customers
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """)
def distinct_count_by_group(spark, sf_dir):
    """Exact distinct aggregation per group (two-phase distinct agg plan)."""
    return (table(spark, sf_dir, "customer")
            .groupBy("c_mktsegment")
            .agg(F.countDistinct("c_nationkey").alias("nations"),
                 F.count(F.lit(1)).alias("customers"))
            .orderBy("c_mktsegment"))


@register(
    "rollup_returnflag",
    category="agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           COUNT(*) AS n, {_dbl(f"SUM(CAST(l_quantity AS {D}))")} AS qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """)
def rollup_returnflag(spark, sf_dir):
    """GROUP BY ROLLUP with GROUPING markers (PG host capability,
    SURVEY §2.B grouping sets row)."""
    li = table(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.grouping("l_returnflag").cast("long").alias("g_flag"),
                 F.grouping("l_linestatus").cast("long").alias("g_status"),
                 F.count(F.lit(1)).alias("n"),
                 to_dbl(dsum("l_quantity")).alias("qty"))
            .select("l_returnflag", "l_linestatus", "g_flag", "g_status",
                    "n", "qty"))


@register(
    "cube_orders",
    category="agg",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """)
def cube_orders(spark, sf_dir):
    """GROUP BY CUBE."""
    return (table(spark, sf_dir, "orders")
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n")))


@register(
    "grouping_sets_explicit",
    category="agg",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           {_dbl(f"SUM(CAST(o_totalprice AS {D}))")} AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)
def grouping_sets_explicit(spark, sf_dir):
    """Explicit GROUPING SETS via Spark SQL."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority,
               {_dbl(f"SUM(CAST(o_totalprice AS {D}))")} AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


# ------------------------------------------------------------- sort / limit

@register(
    "orderby_limit_topk",
    category="sort",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 15
    """)
def orderby_limit_topk(spark, sf_dir):
    """ORDER BY + LIMIT → Spark plans TakeOrderedAndProject (top-k without
    a global sort — the scale-correct plan). Tie-broken by unique key."""
    return (table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
            .orderBy(F.col("l_extendedprice").desc(), "l_orderkey",
                     "l_linenumber")
            .limit(15))


@register(
    "orderby_multi_full",
    category="sort",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation ORDER BY n_regionkey DESC, n_name
    """)
def orderby_multi_full(spark, sf_dir):
    """Full multi-column sort, mixed direction (reference sql/query.sql:13)."""
    return (table(spark, sf_dir, "nation")
            .orderBy(F.col("n_regionkey").desc(), "n_name"))


# ------------------------------------------------------------------ set ops

@register(
    "union_all_exprs",
    category="setop",
    oracle="""
    SELECT p_partkey * 1 AS k, CAST(p_size AS BIGINT) AS v
    FROM part WHERE p_size < 10
    UNION ALL
    SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS v FROM supplier
    """)
def union_all_exprs(spark, sf_dir):
    """UNION ALL of expression selects (reference sql/query.sql:26-33)."""
    p = (table(spark, sf_dir, "part").filter(F.col("p_size") < 10)
         .select((F.col("p_partkey") * 1).alias("k"),
                 F.col("p_size").cast("long").alias("v")))
    s = (table(spark, sf_dir, "supplier")
         .select(F.col("s_suppkey").alias("k"),
                 F.col("s_nationkey").cast("long").alias("v")))
    return p.unionAll(s)


@register(
    "union_distinct_keys",
    category="setop",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    """)
def union_distinct_keys(spark, sf_dir):
    """UNION (distinct)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


@register(
    "intersect_keys",
    category="setop",
    oracle="""
    SELECT DISTINCT c_nationkey AS nk FROM customer WHERE c_acctbal > 9000
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """)
def intersect_keys(spark, sf_dir):
    """INTERSECT."""
    c = (table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
         .select(F.col("c_nationkey").alias("nk")).distinct())
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@register(
    "except_keys",
    category="setop",
    oracle="""
    SELECT DISTINCT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey AS nk FROM supplier WHERE s_acctbal > 0
    """)
def except_keys(spark, sf_dir):
    """EXCEPT (set difference)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    s = (table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
         .select(F.col("s_nationkey").alias("nk")))
    return c.exceptAll(s.distinct())


@register(
    "intersect_all_keys",
    category="setop",
    oracle="""
    SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 8000
    INTERSECT ALL
    SELECT s_nationkey AS nk FROM supplier
    """)
def intersect_all_keys(spark, sf_dir):
    """INTERSECT ALL (multiset: keeps min(count_left, count_right) copies
    per key — the bag semantics PG users get; one hash aggregation per
    side under the hood, no row explosion)."""
    c = (table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 8000)
         .select(F.col("c_nationkey").alias("nk")))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersectAll(s)


@register(
    "except_all_keys",
    category="setop",
    oracle="""
    SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 8000
    EXCEPT ALL
    SELECT s_nationkey AS nk FROM supplier
    """)
def except_all_keys(spark, sf_dir):
    """EXCEPT ALL (multiset difference: count_left − count_right copies
    survive per key)."""
    c = (table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 8000)
         .select(F.col("c_nationkey").alias("nk")))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.exceptAll(s)


@register(
    "distinct_on_latest_order",
    category="sort",
    oracle="""
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC
    """)
def distinct_on_latest_order(spark, sf_dir):
    """PostgreSQL ``SELECT DISTINCT ON (key) … ORDER BY key, tiebreak`` —
    the idiom reference users reach for 'latest row per key'. Spark
    expresses it as a row_number window over (key ORDER BY tiebreak) +
    rank-1 filter: one shuffle on the key, per-partition heaps, never a
    global sort. Deterministic tie-break on orderkey."""
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc()))
    return (table(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
                    F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") == 1)
            .drop("rn"))


@register(
    "orderby_limit_offset",
    category="sort",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """)
def orderby_limit_offset(spark, sf_dir):
    """Keyset-free pagination: ORDER BY … LIMIT k OFFSET n. Spark 4's
    native offset() keeps the TakeOrderedAndProject shape (top n+k heap,
    driver drops n) — still never a global sort; for deep pages at scale,
    keyset pagination (WHERE key > last_seen) is the right rewrite and is
    expressible with the same orderBy/filter ops."""
    return (table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice")
            .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
            .offset(40).limit(20))


@register(
    "projection_routed_scan",
    category="scan",
    bench=True,  # a STANDING projection-routed scan: the scratch
    #              warehouse persists across runs, so warm bench runs
    #              measure the routed scan itself (row-group delta
    #              asserted in test_projection_routed_scan_prunes)
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 120
    """)
def projection_routed_scan(spark, sf_dir):
    """C-Store projection routing under the oracle (Stonebraker '05 §2;
    the generalization of the reference's sort-on-load advice,
    /root/reference/README.md:287-294): the orders table is loaded in
    its natural o_orderkey order — min/max zone maps CANNOT prune an
    o_custkey range there — then a projection sorted on o_custkey is
    declared and refreshed, and ``read_optimized`` routes the scan to
    it because its sort prefix matches the filter column and its
    watermark equals the base epoch. Freshness-gated: were the
    projection stale, the reader would fall back to the base and this
    query would still be CORRECT, just slower — routing never gates
    rows. Pruning is asserted in tests/test_projections.py::
    test_projection_routed_scan_prunes.

    Scale: this is the 100 TB answer to 'my zone maps only help one
    column' — one extra sorted copy per predicate family, refreshed
    O(delta) per epoch, turns a full-history scan into a few row
    groups on the second dimension too."""
    from cstore_fdw_spark.operators import scratch_catalog
    from cstore_fdw_spark.projections import (
        create_projection, read_optimized, refresh_projection)

    def build(cat):
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice")
        # small row groups so zone-map pruning is observable at test
        # scale
        cat.create_table("orders_base", orders.schema,
                         block_row_count=1000)
        cat.insert("orders_base", orders)
        create_projection(cat, "orders_base", "orders_by_cust",
                          sort_by=["o_custkey"])
        refresh_projection(cat, "orders_by_cust")

    cat = scratch_catalog(spark, sf_dir, "projq", build)
    return (read_optimized(cat, "orders_base", ["o_custkey"])
            .filter(F.col("o_custkey").between(100, 120))
            .select("o_orderkey", "o_custkey", "o_totalprice"))


@register(
    "star_join_broadcast_by_estimate",
    category="plans",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_dbl(f"SUM(CAST(o_totalprice AS {D}))")} AS revenue
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE c_acctbal >= 1000 AND c_acctbal < 2000
    GROUP BY c_mktsegment
    """)
def star_join_broadcast_by_estimate(spark, sf_dir):
    """The engine's CBO hook under the oracle (reference anchor
    cstore_fdw.c:1628-1638 — the selectivity-based row estimate fed to
    the planner is the reference's one costing contribution): the
    customer dimension is loaded into the catalog and ANALYZE'd
    (equi-depth histograms), and the star join routes through
    ``plans.join_by_estimate``, which broadcasts the acctbal-filtered
    dim iff the HISTOGRAM says its post-filter size fits under the
    threshold — the pre-execution decision Spark's static file-size
    check cannot make (it sees only the unfiltered file size). The
    estimate never gates rows: a wrong histogram plans a slower join,
    never a wrong answer. tests/test_pushdown.py::
    test_star_join_by_estimate_broadcasts asserts the registered
    query's plan broadcasts with Spark's auto-broadcast disabled.

    Scale: at 100 TB this is the difference between shipping a few MB
    of filtered dimension to every executor and shuffling the whole
    fact table on the join key."""
    from cstore_fdw_spark.operators import scratch_catalog
    from cstore_fdw_spark.plans import join_by_estimate

    def build(cat):
        cust = table(spark, sf_dir, "customer")
        cat.create_table("cust_dim", cust.schema)
        cat.insert("cust_dim", cust)
        cat.analyze_histograms("cust_dim", bins=32)

    cat = scratch_catalog(spark, sf_dir, "starjq", build)
    fact = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    j = join_by_estimate(cat, fact, "cust_dim", ["c_custkey"],
                         "c_acctbal", 1000.0, 2000.0)
    return (j.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 to_dbl(dsum("o_totalprice")).alias("revenue")))


def _cstore_artifact(spark, sf_dir, tag, build_df,
                     stripe_row_count: int = 37_500):
    """A cstore v1.7 copy of a corpus projection used by the
    scan_cstore_* queries, kept in the maintained-artifact store
    (:func:`artifact`); returns the artifact path. ``build_df`` is
    called only on a store miss. The write cost is reported in bench
    bring-up as index_build_sec, like the ANN codebooks.

    ``stripe_row_count`` is the reference's OWN per-table parallelism
    option (cstore_fdw.h table options): the stripe is the reader's
    split unit (one scan partition per (file, stripe), exactly like
    the C reader's per-stripe loop), so the 150k default yields only 4
    splits at sf0.1 — a 4-wide scan on a 32-core host with the Python
    decode on its critical path. 37.5k keeps block_row_count at the
    reference 10k default (skip-list granularity unchanged) while
    serving 16-wide (r16 A/B min-of-4 interleaved: 1.01 s → 0.88 s;
    at 100 TB stripes-per-file × files >> cores either way, so this is
    purely the small-corpus split sizing lever — guide §6's input
    split size, on our own format). The stripe count is part of the
    artifact path, so a layout change can never silently reuse a
    stale artifact."""
    from cstore_fdw_spark.sources.cstore_datasource import register_cstore

    register_cstore(spark)
    return artifact(
        spark, sf_dir, f"{tag}_s{stripe_row_count}", (),
        lambda path: (build_df()
                      .write.format("cstore")
                      .option("stripe_row_count", str(stripe_row_count))
                      .option("block_row_count", "10000")
                      .mode("overwrite").save(path)))


def _cstore_fmt_artifact(spark, sf_dir):
    """The three-lineitem-column artifact shared by the format
    roundtrip and pruned-projection queries; returns (path, ddl)."""
    ddl = "l_returnflag STRING, qty BIGINT, l_shipdate TIMESTAMP"
    path = _cstore_artifact(
        spark, sf_dir, "fmt",
        lambda: table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            F.round("l_quantity").cast("long").alias("qty"),
            "l_shipdate"))
    return path, ddl


@register(
    "scan_cstore_format_roundtrip",
    category="scan",
    bench=True,  # measures SERVING the v1.7 format (per-stripe Arrow
    #              scan); the one-time artifact write is prebuilt in
    #              bench bring-up alongside the ANN codebooks and
    #              reported in index_build_sec
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
             AS sum_qty,
           MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)
def scan_cstore_format_roundtrip(spark, sf_dir):
    """The reference's OWN on-disk format under the oracle: lineitem
    columns are written ONCE to cstore v1.7 files (`sources/
    cstore_format.py` — stripes, per-column blocks, exists bitmaps,
    skip-list protobufs, pglz-compressed value streams, footer +
    postscript, exactly the layout of cstore_writer.c) through the
    Spark sink, then read back through the `format("cstore")` Python
    data source (per-stripe partitions, pushed filters drive skip-list
    block skipping) and aggregated. The DuckDB oracle computes the same
    aggregate from the PARQUET ORIGINAL — so every byte of the format
    round trip (datum layout, alignment, varlena headers, null bitmaps,
    pglz, timestamp epochs) is value-checked end to end. A user's real
    cstore tables can be brought over as-is: schema-on-read like CREATE
    FOREIGN TABLE.

    Scale: the cstore copy is a maintained artifact (built once per
    corpus and code version, like the trained codebooks); the read
    side scans stripes partition-parallel exactly as the reference
    does, and at 100 TB a directory of part files behaves like any
    splittable source."""
    path, ddl = _cstore_fmt_artifact(spark, sf_dir)
    back = spark.read.format("cstore").schema(ddl).load(path)
    return (back.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("qty").alias("sum_qty"),
                 F.min("l_shipdate").alias("first_ship"),
                 F.max("l_shipdate").alias("last_ship"))
            .orderBy("l_returnflag"))


@register(
    "scan_cstore_pruned_projection",
    category="scan",
    bench=True,  # the pruned twin of scan_cstore_format_roundtrip:
    #              same artifact, 2 of 3 columns decoded — the bench
    #              delta IS the measured value of A2 on this format
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
             AS sum_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)
def scan_cstore_pruned_projection(spark, sf_dir):
    """Projection pushdown on the v1.7 binary format — the reference's
    signature A2 optimization (``ColumnList``, cstore_fdw.c:1841-1941;
    the reader loads only masked columns, cstore_reader.c:501-526),
    which the stock python DataSource API cannot express: the catalog /
    caller passes the physical positions as the ``column_positions``
    reader option and the scan NEVER reads the unwanted columns'
    skip lists, exists bitmaps, or value buffers (byte-span-proven in
    tests/test_cstore_format.py::
    test_cstore_arrow_projection_never_reads_unwanted_columns).
    Here the 3-column lineitem artifact is scanned for 2 columns — the
    wide l_shipdate timestamp column stays cold on disk.

    Scale: on a 100-column 100 TB cstore table a 2-column aggregate
    reads ~2% of the bytes — the entire point of a columnar store; the
    same option powers ``catalog.read(name, columns=[...])``.
    """
    path, _ddl = _cstore_fmt_artifact(spark, sf_dir)
    back = (spark.read.format("cstore")
            .schema("l_returnflag STRING, qty BIGINT")
            .option("column_positions", "0,1")
            .load(path))
    return (back.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("qty").alias("sum_qty"))
            .orderBy("l_returnflag"))


@register(
    "scan_cstore_decimal_roundtrip",
    category="scan",
    oracle=f"""
    SELECT l_returnflag,
           {_dbl(f"SUM(CAST(l_extendedprice AS {D}))")} AS sum_price,
           {_dbl(f"MIN(CAST(l_extendedprice AS {D}))")} AS min_price,
           {_dbl(f"MAX(CAST(l_extendedprice AS {D}))")} AS max_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)
def scan_cstore_decimal_roundtrip(spark, sf_dir):
    """PG ``numeric`` in the v1.7 binary format, under the oracle:
    l_extendedprice is written to cstore as DECIMAL(12,2) — REAL PG
    numeric varlena datums (base-10000 digit groups, weight/dscale/sign
    header; `sources/cstore_format.py:pg_numeric_encode`, the public
    layout of PostgreSQL's numeric.c, which the reference stores
    through its generic datum path — cstore_writer.c:729-760,
    input/data_types.source) — read back through format("cstore") and
    aggregated with exact decimal arithmetic; the DuckDB oracle
    computes the same from the parquet original, so header layout,
    digit alignment, zero/negative encodings, and skip-node numeric
    min/max are all value-checked end to end.

    Scale: decimals ride the same per-stripe parallel scan and
    projection-pushdown path as every other column; numeric skip-node
    bounds are collation-free, so block skipping applies (unlike
    text)."""
    path = _cstore_artifact(
        spark, sf_dir, "dec",
        lambda: table(spark, sf_dir, "lineitem").select(
            "l_returnflag", dec("l_extendedprice").alias("price")))
    back = (spark.read.format("cstore")
            .schema("l_returnflag STRING, price DECIMAL(12,2)")
            .load(path))
    return (back.groupBy("l_returnflag")
            .agg(to_dbl(F.sum("price")).alias("sum_price"),
                 to_dbl(F.min("price")).alias("min_price"),
                 to_dbl(F.max("price")).alias("max_price"))
            .orderBy("l_returnflag"))


@register(
    "scan_cstore_array_roundtrip",
    category="scan",
    oracle="""
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_elems,
           CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vecs,
           CAST(MIN(e) AS DOUBLE) AS min_e,
           CAST(MAX(e) AS DOUBLE) AS max_e
    FROM (SELECT vec_id, label, UNNEST(embedding) AS e
          FROM embeddings)
    GROUP BY label ORDER BY label
    """)
def scan_cstore_array_roundtrip(spark, sf_dir):
    """PG ARRAYS in the v1.7 binary format, under the oracle: the
    embeddings table's ``array<float>`` column is written to cstore as
    REAL PostgreSQL 1-D array datums (ndim/dataoffset/elemtype header,
    dims + lbounds, present-bitmap, MAXALIGN'd data — the public
    utils/array.h layout; `sources/cstore_format.py:pg_array_encode`;
    the reference stores arrays through its generic datum path,
    input/data_types.source + the README's CHAR(10)[] column), read
    back through format("cstore"), exploded and aggregated. The DuckDB
    oracle UNNESTs the parquet original — element values, ordering
    within arrays, and null/empty handling are all value-checked
    (min/max float->double casts are exact, no float summation).

    Scale: array columns ride the same per-stripe parallel scan,
    projection pushdown, and pglz path as scalars; the explode happens
    JVM-side after the scan."""
    path = _cstore_artifact(
        spark, sf_dir, "arr",
        lambda: table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", "label"))
    back = (spark.read.format("cstore")
            .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
            .load(path))
    ex = back.select("vec_id", "label",
                     F.explode("embedding").alias("e"))
    return (ex.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_elems"),
                 F.countDistinct("vec_id").alias("n_vecs"),
                 F.min(F.col("e").cast("double")).alias("min_e"),
                 F.max(F.col("e").cast("double")).alias("max_e"))
            .orderBy("label"))


@register(
    "scan_cstore_sql_autoprune",
    category="scan",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
             AS sum_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """)
def scan_cstore_sql_autoprune(spark, sf_dir):
    """AUTOMATIC column pruning for plain SQL over a registered cstore
    table — the reference prunes EVERY query via its planner ColumnList
    (cstore_fdw.c:1841-1941), not only callers who name columns;
    ``CStoreCatalog.sql`` reproduces that by resolving the analyzed
    plan's referenced columns per table boundary
    (``plans/prune.py``) and re-binding the scan with
    ``column_positions`` under the hood. This query runs a 2-column
    SQL aggregate over a 4-column registered cstore lineitem copy and
    ASSERTS in-plan that the two cold columns (a wide timestamp and a
    price) were never bound into the scan before returning the result
    the oracle checks.

    Scale: the assert reads plan metadata only; the serving win is the
    same as scan_cstore_pruned_projection — on a 100-column table a
    2-column SQL query reads ~2% of the bytes WITHOUT the analyst
    knowing the storage format needs help."""
    from cstore_fdw_spark.operators import scratch_catalog

    def build(cat):
        cat.create_table(
            "li_sql", "l_returnflag STRING, qty BIGINT, "
            "l_shipdate TIMESTAMP, price DOUBLE",
            storage_format="cstore")
        cat.insert("li_sql", table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            F.round("l_quantity").cast("long").alias("qty"),
            "l_shipdate", F.col("l_extendedprice").alias("price")))

    cat = scratch_catalog(spark, sf_dir, "sqlprune", build)
    cat.sql_view("li_sql")
    out = cat.sql("select l_returnflag, sum(qty) as sum_qty "
                  "from li_sql group by l_returnflag "
                  "order by l_returnflag")
    # plan-level proof: only the referenced columns (+ epoch carrier)
    # reached the python cstore scan
    from cstore_fdw_spark.plans.prune import _seq

    def leaf_cols(node, acc):
        if node.getClass().getSimpleName() == "DataSourceV2Relation":
            acc.append({a.name() for a in _seq(node.output())})
        for ch in _seq(node.children()):
            leaf_cols(ch, acc)

    leaves: list = []
    leaf_cols(out._jdf.queryExecution().analyzed(), leaves)
    assert leaves and all(
        cols <= {"l_returnflag", "qty", "__cstore_epoch"}
        for cols in leaves), f"cold columns bound into the scan: {leaves}"
    spark.catalog.dropTempView("li_sql")
    return out
