"""Relational query surface (SURVEY.md §2.C) — driver-oracle-checked.

Each entry: name → (spark_fn(spark, sf_dir) -> DataFrame, duckdb_oracle_sql).
Oracle SQL runs on DuckDB views of the same parquet (driver contract).

Cross-engine determinism rules used throughout (SURVEY §5.3):
* money/double aggregates go through DECIMAL casts (exact, order-independent)
  and are cast back to DOUBLE at the end — both engines produce bit-identical
  values; column names are aliased identically on both sides.
* terminal outputs are always plain BIGINT / DOUBLE / DATE / VARCHAR: DuckDB
  widens SUM(BIGINT)→HUGEINT and keeps DECIMAL/TIMESTAMP in engine-specific
  physical forms, which value-hash differently even when every value is
  equal (all 16 round-1 hash_match=false rows were exactly this). The exact
  decimal/integer math stays INTERNAL; only the final select casts.
* window orderings always carry a unique tie-break column.
* no trig / no engine-specific hash functions in oracle-checked outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

DEC = "decimal(18,6)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col):
    """Exact decimal sum of a double column, surfaced as DOUBLE."""
    return F.sum(F.col(col).cast(DEC)).cast("double")


# --- C6: hash aggregate, partial+final (TPC-H Q1 shape) ---------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1.0).cast(DEC) - F.col("l_discount").cast(DEC))
    charge = disc * (F.lit(1.0).cast(DEC) + F.col("l_tax").cast(DEC))
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(_dsum("l_quantity").alias("sum_qty"),
                 _dsum("l_extendedprice").alias("sum_base_price"),
                 F.sum(disc).cast("double").alias("sum_disc_price"),
                 F.sum(charge).cast("double").alias("sum_charge"),
                 F.count(F.lit(1)).alias("count_order")))


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1.0 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1.0 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))) * (CAST(1.0 AS DECIMAL(18,6)) + CAST(l_tax AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- C3 joins: multiway broadcast/sort-merge (TPC-H Q5 shape) ----------------

def q_revenue_by_nation(spark, sf_dir):
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, n = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1.0).cast(DEC) - F.col("l_discount").cast(DEC))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


ORACLE_REVENUE_NATION = """
SELECT r_name, n_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1.0 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --- C3 semi / anti / outer --------------------------------------------------

def q_customers_with_open_orders(spark, sf_dir):
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return (c.join(o.where(F.col("o_orderstatus") == "O"),
                   c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_name", "c_mktsegment"))


ORACLE_SEMI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
"""


def q_customers_without_orders(spark, sf_dir):
    """Anti join that discriminates: customers with NO order above 400k.
    (Anti-joining against ALL orders was vacuous on this data — every
    customer has at least one order, so both engines agreed on an empty
    result, which verifies nothing.)"""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 400000)
    return (c.join(big, c.c_custkey == big.o_custkey, "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_custs"),
                 _dsum("c_acctbal").alias("sum_bal")))


ORACLE_ANTI = """
SELECT c_mktsegment, COUNT(*) AS n_custs,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_bal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
GROUP BY c_mktsegment
"""


def q_order_counts_outer(spark, sf_dir):
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    cnt = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (c.join(cnt, c.c_custkey == cnt.o_custkey, "left")
            .select("c_custkey",
                    F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders")))


ORACLE_OUTER = """
SELECT c_custkey, COALESCE(cnt, 0) AS n_orders
FROM customer LEFT JOIN
  (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) oc
ON c_custkey = o_custkey
"""


# --- C7/C8 window functions --------------------------------------------------

def q_top3_parts_per_brand(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(),
                                         F.col("p_partkey").asc())
    return (p.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("p_brand", "p_partkey", "p_retailprice", "rk"))


ORACLE_TOP3 = """
SELECT p_brand, p_partkey, p_retailprice, rk FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
  FROM part) t
WHERE rk <= 3
"""


def q_running_order_totals(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    w = (W.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(W.unboundedPreceding, 0))
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w)
         .cast("double").alias("running_total"))


ORACLE_RUNNING = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,6))
         AS DOUBLE)
       AS running_total
FROM orders WHERE o_custkey % 10 = 0
"""


def q_order_gaps(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(),
                                           F.col("o_orderkey").asc())
    return (o.select("o_custkey", "o_orderkey",
                     F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
                     F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
                     F.datediff(F.col("o_orderdate"),
                                F.lag("o_orderdate", 1).over(w))
                      .alias("gap_days")))


ORACLE_GAPS = """
SELECT o_custkey, o_orderkey,
       LAG(o_orderkey, 1) OVER w AS prev_orderkey,
       LEAD(o_orderkey, 1) OVER w AS next_orderkey,
       CAST(DATEDIFF('day',
            CAST(LAG(o_orderdate, 1) OVER w AS DATE),
            CAST(o_orderdate AS DATE)) AS INT) AS gap_days
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


def q_acctbal_quartiles(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = W.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return (c.select("c_custkey", F.ntile(4).over(w).alias("quartile"))
            .groupBy("quartile").agg(F.count(F.lit(1)).alias("n"),
                                     F.min("c_custkey").alias("min_key"),
                                     F.max("c_custkey").alias("max_key")))


ORACLE_NTILE = """
SELECT quartile, COUNT(*) AS n, MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
FROM (SELECT c_custkey,
             NTILE(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
      FROM customer) t
GROUP BY quartile
"""


# --- C6 rollup / cube --------------------------------------------------------

def q_rollup_sales(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 _dsum("l_quantity").alias("qty")))


ORACLE_ROLLUP = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 _dsum("o_totalprice").alias("total")))


ORACLE_CUBE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- C9 set operations -------------------------------------------------------

def q_nation_set_ops(spark, sf_dir):
    """intersect / exceptAll over nation sets that actually differ: nations
    with deeply negative customer vs supplier balances (unfiltered, both
    sides covered all 25 nations and only the 'both' row ever appeared)."""
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    cn = (c.where(F.col("c_acctbal") < -700)
          .select(F.col("c_nationkey").alias("nationkey")).distinct())
    sn = (s.where(F.col("s_acctbal") < -700)
          .select(F.col("s_nationkey").alias("nationkey")).distinct())
    both = cn.intersect(sn).withColumn("tag", F.lit("both"))
    only_c = cn.exceptAll(sn).withColumn("tag", F.lit("cust_only"))
    return both.unionByName(only_c).groupBy("tag").agg(
        F.count(F.lit(1)).alias("n"), F.min("nationkey").alias("min_nk"))


ORACLE_SET_OPS = """
WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer
            WHERE c_acctbal < -700),
     sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier
            WHERE s_acctbal < -700),
     u AS (
       SELECT nationkey, 'both' AS tag FROM (SELECT * FROM cn INTERSECT SELECT * FROM sn)
       UNION ALL
       SELECT nationkey, 'cust_only' AS tag FROM (SELECT * FROM cn EXCEPT ALL SELECT * FROM sn)
     )
SELECT tag, COUNT(*) AS n, MIN(nationkey) AS min_nk FROM u GROUP BY tag
"""


# --- C10 scalar functions ----------------------------------------------------

def q_string_funcs(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (p.where(F.col("p_size") >= 40)
            .select("p_partkey",
                    F.upper(F.col("p_brand")).alias("brand_up"),
                    F.substring(F.col("p_name"), 1, 8).alias("name8"),
                    F.length(F.col("p_type")).alias("type_len"),
                    F.concat_ws("|", F.col("p_brand"), F.col("p_type"))
                     .alias("brand_type"),
                    F.regexp_replace(F.col("p_name"), "[aeiou]", "")
                     .alias("name_novowel")))


ORACLE_STRING = """
SELECT p_partkey, UPPER(p_brand) AS brand_up, SUBSTRING(p_name, 1, 8) AS name8,
       LENGTH(p_type) AS type_len,
       CONCAT_WS('|', p_brand, p_type) AS brand_type,
       REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel
FROM part WHERE p_size >= 40
"""


def q_monthly_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy(F.date_trunc("month", F.col("o_orderdate"))
                      .cast("date").alias("month"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 _dsum("o_totalprice").alias("total")))


ORACLE_MONTHLY = """
SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total
FROM orders GROUP BY 1
"""


def q_json_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (e.select(k.alias("k"), "value", "event_type")
            .groupBy((F.col("k") % 10).alias("k_bucket"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 _dsum("value").alias("sum_value")))


ORACLE_JSON = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# --- C5 as-of join -----------------------------------------------------------

def q_asof_event_order(spark, sf_dir):
    """For each event, the most recent order of customer=user_id with
    o_orderdate <= ts (as-of backward join).

    Plan (SURVEY §2.C C5's union-merge): union orders and events into one
    (user, time)-sorted stream, carry the latest order forward with
    last(ignorenulls) over an unbounded-preceding window, keep event rows.
    ONE shuffle on user_id and linear work per user — the round-1 non-equi
    join materialized every (event × earlier-order) pair before its
    row_number()=1, a per-user quadratic blow-up on heavy users at scale.
    Orders sort before events at equal timestamps (kind 0 < 1) so an order
    ON the event's date is visible (<=); same-date order ties resolve to
    the max o_orderkey via the ascending key sort, matching the oracle's
    ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1."""
    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    orders = o.select(F.col("o_custkey").alias("user_id"),
                      F.col("o_orderdate").alias("t"),
                      F.lit(0).alias("kind"),
                      F.lit(None).cast("long").alias("event_id"),
                      "o_orderkey", "o_orderdate")
    events = e.select("user_id", F.col("ts").alias("t"),
                      F.lit(1).alias("kind"), "event_id",
                      F.lit(None).cast("long").alias("o_orderkey"),
                      F.lit(None).cast(dict(o.dtypes)["o_orderdate"])
                       .alias("o_orderdate"))
    u = orders.unionByName(events)
    w = (W.partitionBy("user_id")
         .orderBy(F.col("t").asc(), F.col("kind").asc(),
                  F.col("o_orderkey").asc())
         .rowsBetween(W.unboundedPreceding, 0))
    picked = F.last(
        F.when(F.col("kind") == 0,
               F.struct("o_orderdate", "o_orderkey")),
        ignorenulls=True).over(w)
    return (u.withColumn("_p", picked)
            .where((F.col("kind") == 1) & F.col("_p").isNotNull())
            .select("event_id", "user_id",
                    F.col("_p.o_orderkey").alias("o_orderkey"),
                    F.col("_p.o_orderdate").alias("o_orderdate")))


ORACLE_ASOF = """
SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) rn
  FROM events e JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts) t
WHERE rn = 1
"""


# --- distinct / percentiles / conditional agg --------------------------------

def q_distinct_combos(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("n_parts"),
                 F.countDistinct("l_suppkey").alias("n_supps"),
                 F.countDistinct("l_partkey", "l_suppkey").alias("n_ps")))


ORACLE_DISTINCT = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_ps
FROM lineitem GROUP BY l_returnflag
"""


def q_quantity_percentiles(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_linestatus")
            .agg(F.round(F.percentile("l_quantity", 0.25), 4).alias("p25"),
                 F.round(F.percentile("l_quantity", 0.5), 4).alias("p50"),
                 F.round(F.percentile("l_quantity", 0.75), 4).alias("p75")))


ORACLE_PERCENTILES = """
SELECT l_linestatus,
       ROUND(QUANTILE_CONT(l_quantity, 0.25), 4) AS p25,
       ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS p50,
       ROUND(QUANTILE_CONT(l_quantity, 0.75), 4) AS p75
FROM lineitem GROUP BY l_linestatus
"""


def q_conditional_pivot(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    def cnt(status):
        return F.sum(F.when(F.col("o_orderstatus") == status, 1)
                     .otherwise(0)).alias(f"n_{status.lower()}")
    return (o.groupBy("o_orderpriority")
            .agg(cnt("O"), cnt("F"), cnt("P"),
                 _dsum("o_totalprice").alias("total")))


ORACLE_PIVOT = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE) AS total
FROM orders GROUP BY o_orderpriority
"""


def q_union_parties(spark, sf_dir):
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    u = (c.select(F.col("c_nationkey").alias("nationkey"),
                  F.lit("customer").alias("kind"))
         .unionByName(s.select(F.col("s_nationkey").alias("nationkey"),
                               F.lit("supplier").alias("kind"))))
    return u.groupBy("nationkey", "kind").agg(F.count(F.lit(1)).alias("n"))


ORACLE_UNION = """
SELECT nationkey, kind, COUNT(*) AS n FROM (
  SELECT c_nationkey AS nationkey, 'customer' AS kind FROM customer
  UNION ALL
  SELECT s_nationkey AS nationkey, 'supplier' AS kind FROM supplier) t
GROUP BY nationkey, kind
"""


def q_scalar_functions_suite(spark, sf_dir):
    """C10 in ONE driver-gate row: string funcs + date_trunc + JSON
    extraction + numeric scalars over events. (The narrower
    string_functions / date_trunc_monthly / json_extract_events queries
    stay in this module's QUERIES; one wide row covers every C10
    function family. None of them is in the query registry.)"""
    e = _t(spark, sf_dir, "events").where(F.col("event_id") % 20 == 0)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return e.select(
        "event_id",
        F.upper("event_type").alias("type_up"),
        F.substring("event_type", 1, 3).alias("type3"),
        F.length("props").alias("props_len"),
        F.concat_ws("|", F.col("event_type"),
                    F.col("user_id").cast("string")).alias("tag"),
        F.regexp_replace("event_type", "[aeiou]", "").alias("type_novowel"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        (k % 7).alias("k_mod7"),
        F.round(F.abs(F.col("value"))
                + F.greatest(F.col("value"), F.lit(0.0)), 6).alias("mathed"))


ORACLE_SCALAR_SUITE = """
SELECT event_id, UPPER(event_type) AS type_up,
       SUBSTRING(event_type, 1, 3) AS type3,
       LENGTH(props) AS props_len,
       CONCAT_WS('|', event_type, CAST(user_id AS VARCHAR)) AS tag,
       REGEXP_REPLACE(event_type, '[aeiou]', '', 'g') AS type_novowel,
       CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
       CAST(json_extract_string(props, '$.k') AS INT) % 7 AS k_mod7,
       ROUND(ABS(value) + GREATEST(value, 0.0), 6) AS mathed
FROM events WHERE event_id % 20 = 0
"""


# --- C11 sketches (rows-only: engines' approx algorithms differ) -------------

def q_approx_sketches(spark, sf_dir):
    """C11 with a real oracle: sketch ESTIMATES can't value-match a
    different engine's sketch, but their error bounds can — emit the exact
    values plus booleans asserting each estimate lands within its bound.
    The HLL gate is 15% = 3x approx_count_distinct's rsd=0.05: rsd is a
    relative STANDARD DEVIATION, not a guaranteed bound, so a 5% gate can
    deterministically fail on an unlucky group at some other scale factor
    (ADVICE r1); 3 sigma makes the gate robust without vacating it.
    percentile_approx with default accuracy is exact-ish → ±1 of the true
    median. DuckDB recomputes the exact side and expects TRUE."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.approx_count_distinct("l_partkey").alias("_apx"),
                 F.countDistinct("l_partkey").alias("exact_parts"),
                 F.percentile_approx("l_quantity", 0.5).alias("_amed"),
                 F.expr("percentile(l_quantity, 0.5)").alias("_emed"))
            .select(
                "l_returnflag", "exact_parts",
                (F.abs(F.col("_apx") - F.col("exact_parts"))
                 <= F.col("exact_parts") * 0.15).alias("hll_within_3rsd"),
                (F.abs(F.col("_amed") - F.col("_emed")) <= 1.0)
                .alias("median_within_1")))


# --- event funnel + cohort retention (C7 window/agg analytics family) -------

def q_funnel_stages(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase per user: stage
    k's timestamp is the user's FIRST qualifying event at or after stage
    k-1 (the classic strictly-ordered funnel). Depth plus exact integer-µs
    stage delays. Scale shape: three user-keyed conditional aggregations
    (each one shuffle on user_id, no self-join fan-out, no window over the
    whole event history)."""
    e = (_t(spark, sf_dir, "events")
         .select("user_id", "event_type",
                 F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                 .alias("us")))
    v = (e.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("us").alias("t_view")))
    c = (e.join(v, "user_id")
         .where((F.col("event_type") == "click") &
                (F.col("us") >= F.col("t_view")))
         .groupBy("user_id").agg(F.min("us").alias("t_click")))
    p = (e.join(c, "user_id")
         .where((F.col("event_type") == "purchase") &
                (F.col("us") >= F.col("t_click")))
         .groupBy("user_id").agg(F.min("us").alias("t_purchase")))
    out = (v.join(c, "user_id", "left").join(p, "user_id", "left")
           .select("user_id",
                   (F.lit(1) + F.col("t_click").isNotNull().cast("int")
                    + F.col("t_purchase").isNotNull().cast("int"))
                   .alias("depth"),
                   (F.col("t_click") - F.col("t_view"))
                   .alias("view_to_click_us"),
                   (F.col("t_purchase") - F.col("t_click"))
                   .alias("click_to_purchase_us")))
    return out


ORACLE_FUNNEL = """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
v AS (SELECT user_id, MIN(us) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(us) AS t_click
      FROM e JOIN v ON v.user_id = e.user_id
      WHERE event_type = 'click' AND us >= t_view GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(us) AS t_purchase
      FROM e JOIN c ON c.user_id = e.user_id
      WHERE event_type = 'purchase' AND us >= t_click GROUP BY e.user_id)
SELECT v.user_id,
       1 + CAST(c.t_click IS NOT NULL AS INT)
         + CAST(p.t_purchase IS NOT NULL AS INT) AS depth,
       c.t_click - v.t_view AS view_to_click_us,
       p.t_purchase - c.t_click AS click_to_purchase_us
FROM v LEFT JOIN c ON c.user_id = v.user_id
       LEFT JOIN p ON p.user_id = v.user_id
"""


WEEK_US = 7 * 24 * 3600 * 1_000_000


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort-retention matrix: users grouped by first-activity week
    (the cohort), counted once per subsequent active week at each offset —
    the standard retention triangle. All-integer (epoch-µs week buckets),
    so exact under the value hash. Scale shape: one user-keyed min
    aggregation, one distinct (user, week) aggregation, one
    (cohort, offset) count — three shuffles, each on a shrinking key
    space, no self-join."""
    e = (_t(spark, sf_dir, "events")
         .select("user_id",
                 F.floor(F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                         / F.lit(WEEK_US)).alias("week")))
    first = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = (e.join(first, "user_id")
              .select("user_id", "cohort_week",
                      (F.col("week") - F.col("cohort_week"))
                      .alias("week_offset"))
              .distinct())
    return (active.groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


ORACLE_COHORT = f"""
WITH e AS (SELECT user_id,
                  CAST(FLOOR(epoch_us(ts) / {WEEK_US}.0) AS BIGINT) AS week
           FROM events),
f AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id),
a AS (SELECT DISTINCT e.user_id, f.cohort_week,
             e.week - f.cohort_week AS week_offset
      FROM e JOIN f ON f.user_id = e.user_id)
SELECT cohort_week, week_offset, COUNT(*) AS n_users
FROM a GROUP BY 1, 2
"""


def q_ohlc_hourly(spark, sf_dir):
    """Time-series resampling (the OHLC/candlestick shape): per event_type
    and hour, open/close by min_by/max_by on an exact integer-µs time key
    with event_id tiebreak, high/low via exact DECIMAL min/max surfaced as
    DOUBLE. One (type, hour)-keyed aggregation — the downsample-to-bars
    pass of any metrics/market pipeline, map-side combinable."""
    e = (_t(spark, sf_dir, "events")
         .select("event_type", "value", "event_id",
                 F.unix_micros(F.col("ts").cast("timestamp_ltz"))
                 .alias("us")))
    hour = F.floor(F.col("us") / F.lit(3_600_000_000)).alias("hour_bucket")
    return (e.groupBy("event_type", hour)
            .agg(F.expr("min_by(value, us * 1000 + event_id % 1000)")
                 .cast(DEC).cast("double").alias("open"),
                 F.max(F.col("value").cast(DEC)).cast("double").alias("high"),
                 F.min(F.col("value").cast(DEC)).cast("double").alias("low"),
                 F.expr("max_by(value, us * 1000 + event_id % 1000)")
                 .cast(DEC).cast("double").alias("close"),
                 F.count(F.lit(1)).alias("n")))


ORACLE_OHLC = """
WITH e AS (
  SELECT event_type, value, event_id, epoch_us(ts) AS us FROM events)
SELECT event_type,
       CAST(FLOOR(us / 3600000000.0) AS BIGINT) AS hour_bucket,
       CAST(CAST(min_by(value, us * 1000 + event_id % 1000)
            AS DECIMAL(18,6)) AS DOUBLE) AS open,
       CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS high,
       CAST(MIN(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS low,
       CAST(CAST(max_by(value, us * 1000 + event_id % 1000)
            AS DECIMAL(18,6)) AS DOUBLE) AS close,
       COUNT(*) AS n
FROM e GROUP BY 1, 2
"""


def q_profile_orders(spark, sf_dir):
    """Data-profiling operator (the quality-report pass every ingest
    pipeline runs before training): per column of `orders` — null count,
    exact distinct count, min/max rendered to strings — computed in ONE
    pass via conditional aggregation (no per-column scans, no driver
    loops; numeric min/max through DECIMAL for exactness). Output is one
    row per column so the report shape is stable at any table width."""
    o = _t(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    specs = []
    for col, kind in [("o_orderkey", "i"), ("o_custkey", "i"),
                      ("o_totalprice", "d"), ("o_orderdate", "s"),
                      ("o_orderstatus", "s")]:
        # doubles render through DECIMAL strings: double->string scientific
        # notation diverges between engines, DECIMAL(18,6) text does not
        mn, mx = F.min(col), F.max(col)
        if kind == "d":
            mn = F.min(F.col(col).cast(DEC))
            mx = F.max(F.col(col).cast(DEC))
        specs.append(F.struct(
            F.lit(col).alias("col"),
            n.cast("long").alias("n_rows"),
            F.sum(F.col(col).isNull().cast("long")).alias("n_null"),
            F.countDistinct(col).alias("n_distinct"),
            mn.cast("string").alias("min_str"),
            mx.cast("string").alias("max_str")))
    return (o.agg(F.array(*specs).alias("a"))
            .select(F.explode("a").alias("s")).select("s.*"))


def _profile_oracle() -> str:
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
            "o_orderstatus"]
    parts = []
    for c in cols:
        # numeric/date/string min computed NATIVELY, rendered after —
        # MIN(CAST(x AS VARCHAR)) would be lexicographic ("10" < "9")
        inner = (f"CAST({c} AS DECIMAL(18,6))" if c == "o_totalprice"
                 else c)
        mn = f"CAST(MIN({inner}) AS VARCHAR)"
        mx = f"CAST(MAX({inner}) AS VARCHAR)"
        parts.append(f"""
SELECT '{c}' AS col, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       {mn} AS min_str, {mx} AS max_str
FROM orders""")
    return "\nUNION ALL\n".join(parts)


QUERIES: dict = {
    "funnel_stages": (q_funnel_stages, ORACLE_FUNNEL),
    "cohort_retention": (q_cohort_retention, ORACLE_COHORT),
    "ohlc_hourly": (q_ohlc_hourly, ORACLE_OHLC),
    "profile_orders": (q_profile_orders, _profile_oracle()),
    "pricing_summary": (q_pricing_summary, ORACLE_PRICING),
    "revenue_by_nation": (q_revenue_by_nation, ORACLE_REVENUE_NATION),
    "semi_join_open_orders": (q_customers_with_open_orders, ORACLE_SEMI),
    "anti_join_no_orders": (q_customers_without_orders, ORACLE_ANTI),
    "outer_join_order_counts": (q_order_counts_outer, ORACLE_OUTER),
    "window_top3_per_brand": (q_top3_parts_per_brand, ORACLE_TOP3),
    "window_running_totals": (q_running_order_totals, ORACLE_RUNNING),
    "window_lag_lead_gaps": (q_order_gaps, ORACLE_GAPS),
    "window_ntile_quartiles": (q_acctbal_quartiles, ORACLE_NTILE),
    "rollup_sales": (q_rollup_sales, ORACLE_ROLLUP),
    "cube_orders": (q_cube_orders, ORACLE_CUBE),
    "set_ops_nations": (q_nation_set_ops, ORACLE_SET_OPS),
    "string_functions": (q_string_funcs, ORACLE_STRING),
    "date_trunc_monthly": (q_monthly_orders, ORACLE_MONTHLY),
    "json_extract_events": (q_json_events, ORACLE_JSON),
    "asof_join_event_order": (q_asof_event_order, ORACLE_ASOF),
    "distinct_counts": (q_distinct_combos, ORACLE_DISTINCT),
    "percentiles_exact": (q_quantity_percentiles, ORACLE_PERCENTILES),
    "conditional_pivot": (q_conditional_pivot, ORACLE_PIVOT),
    "union_parties": (q_union_parties, ORACLE_UNION),
    "scalar_functions_suite": (q_scalar_functions_suite, ORACLE_SCALAR_SUITE),
    "approx_sketches": (q_approx_sketches, """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS hll_within_3rsd,
       TRUE AS median_within_1
FROM lineitem GROUP BY l_returnflag
"""),
}


# --- nearest_event_join: bidirectional nearest-in-time join -------------------
#
# The NEAREST (either-direction) sibling of the backward-only
# asof_join_event_order — sensor alignment, "closest interaction to
# each order": for each sampled order, the same user's event minimizing
# |Δt|, ties to the PREV side and then to the extremal event id
# (matching the union-merge's frame semantics exactly).  Spark plan:
# the SAME one-shuffle union-merge — prev via last(ignorenulls) over
# the ascending frame, next via first(ignorenulls) over the following
# frame, one CASE pick; linear per user.  Oracle: the all-pairs
# per-user argmin — a genuinely different algorithm, so gate equality
# proves the merge semantics (frame boundaries, same-instant ties).

NEAREST_MOD = 13


def q_nearest_event_join(spark, sf_dir):
    e = _t(spark, sf_dir, "events").where(
        F.col("user_id") % NEAREST_MOD == 2)
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_custkey") % NEAREST_MOD == 2)
    ev = e.select(F.col("user_id").alias("u"),
                  F.expr("unix_micros(CAST(ts AS TIMESTAMP_LTZ))")
                  .alias("us"),
                  F.lit(0).alias("kind"), "event_id",
                  F.lit(None).cast("long").alias("o_orderkey"))
    od = o.select(F.col("o_custkey").alias("u"),
                  F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP_LTZ))")
                  .alias("us"),
                  F.lit(1).alias("kind"),
                  F.lit(None).cast("long").alias("event_id"),
                  "o_orderkey")
    uni = ev.unionByName(od)
    order = [F.col("us").asc(), F.col("kind").asc(),
             F.coalesce("event_id", "o_orderkey").asc()]
    wp = (W.partitionBy("u").orderBy(*order)
          .rowsBetween(W.unboundedPreceding, 0))
    wn = (W.partitionBy("u").orderBy(*order)
          .rowsBetween(0, W.unboundedFollowing))
    evs = F.when(F.col("kind") == 0, F.struct("us", "event_id"))
    d = (uni.withColumn("prev", F.last(evs, ignorenulls=True).over(wp))
         .withColumn("nxt", F.first(evs, ignorenulls=True).over(wn))
         .where("kind = 1 AND (prev IS NOT NULL OR nxt IS NOT NULL)"))
    return d.selectExpr(
        "o_orderkey", "u AS user_id",
        "CASE WHEN nxt IS NULL OR (prev IS NOT NULL AND "
        "us - prev.us <= nxt.us - us) THEN prev.event_id "
        "ELSE nxt.event_id END AS event_id",
        "CAST(CASE WHEN nxt IS NULL OR (prev IS NOT NULL AND "
        "us - prev.us <= nxt.us - us) THEN 0 ELSE 1 END AS INT) AS dir",
        "CAST(CASE WHEN nxt IS NULL OR (prev IS NOT NULL AND "
        "us - prev.us <= nxt.us - us) THEN us - prev.us "
        "ELSE nxt.us - us END AS BIGINT) AS delta_us")


ORACLE_NEAREST = f"""
WITH ev AS (
  SELECT user_id AS u, event_id, epoch_us(ts) AS us
  FROM events WHERE user_id % {NEAREST_MOD} = 2),
od AS (
  SELECT o_custkey AS u, o_orderkey, epoch_us(o_orderdate) AS us
  FROM orders WHERE o_custkey % {NEAREST_MOD} = 2),
pairs AS (
  SELECT od.o_orderkey, od.u, ev.event_id,
         CASE WHEN ev.us <= od.us THEN od.us - ev.us
              ELSE ev.us - od.us END AS absdt,
         CASE WHEN ev.us <= od.us THEN 0 ELSE 1 END AS dir
  FROM od JOIN ev ON ev.u = od.u),
rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
             ORDER BY absdt, dir,
             CASE WHEN dir = 0 THEN -event_id ELSE event_id END) AS rn
  FROM pairs)
SELECT o_orderkey, u AS user_id, event_id, CAST(dir AS INT) AS dir,
       CAST(absdt AS BIGINT) AS delta_us
FROM rk WHERE rn = 1
"""


QUERIES.update({
    "nearest_event_join": (q_nearest_event_join, ORACLE_NEAREST),
})
