package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL front-end surface: the same engine driven through `spark.sql`
  * over registered views — proving the library is usable from the SQL
  * side (catalog views, ANSI-off cast semantics, and the native
  * extension functions injected by GraftExtensions are all visible to
  * SQL, not just to the DataFrame API).
  *
  * Each oracled query's SQL lives in ONE constant shared by the query
  * map and the oracle map — identical-by-construction, so the two
  * engines can never silently drift apart on edited text.
  */
object SqlSurface {

  private def withViews(s: SparkSession, d: String)(sql: String): DataFrame = {
    Tables.registerViews(s, d)
    s.sql(sql)
  }

  // The TPC-H Q1 shape (decimal-bridged double sums, no avg — graft.U
  // rules apply to SQL text too).
  private val Q1 =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price
      |FROM lineitem
      |WHERE l_quantity < 48
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // TPC-H Q3 shape: selective 3-way join + grouped revenue + top-k —
  // the planner must push all three filters below the joins, broadcast
  // the filtered customer dim, and plan the top-k as
  // TakeOrderedAndProject (asserted in PlanSpec).
  private val Q3 =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < DATE '1995-03-15'
      |  AND l_shipdate > DATE '1995-03-15'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  // TPC-H Q5 shape: 6-way join across the whole star with the
  // same-nation constraint — the join-reordering stress test
  // (region/nation broadcast, fact joins co-keyed).
  private val Q5 =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // TPC-H Q7 shape: self-joined dim (nation × nation) with a disjunctive
  // pair predicate + derived year — tests that the planner keeps BOTH
  // nation copies broadcast and pushes the date band into the fact scan.
  // EXTRACT year is cast to BIGINT (Spark INT vs DuckDB BIGINT schemas).
  // The NATION_11/NATION_12 pair is non-empty at EVERY test SF including
  // sf0.001 (19+ rows) so the oracle check is never vacuous empty-vs-empty.
  private val Q7 =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
      |    l_extendedprice * (1.0 - l_discount) AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12')
      |      OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11'))
      |    AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // TPC-H Q10 shape: returned-item revenue ranking — date-banded fact,
  // two dim joins, grouped revenue, deterministic top-20 (custkey
  // tiebreaker; the classic text under-specifies ties).
  private val Q10 =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  c_acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= DATE '1996-10-01'
      |  AND o_orderdate < DATE '1997-01-01'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  // TPC-H Q2 shape (adapted: lineitem stands in for partsupp — the
  // testdata star has no partsupp table): min-cost supplier per part via
  // a correlated scalar subquery. Exercises Catalyst decorrelation — the
  // subquery becomes a per-part min aggregate joined back on
  // (partkey, price); DISTINCT collapses tied line items.
  private val Q2 =
    """SELECT DISTINCT p_partkey, p_name, s_name, n_name,
      |  l.l_extendedprice AS min_price
      |FROM part, lineitem l, supplier, nation
      |WHERE p_partkey = l.l_partkey AND l.l_suppkey = s_suppkey
      |  AND s_nationkey = n_nationkey
      |  AND p_size <= 5 AND p_type = 'ECONOMY'
      |  AND l.l_extendedprice = (
      |    SELECT min(l2.l_extendedprice) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)
      |ORDER BY p_partkey, s_name, n_name""".stripMargin

  // TPC-H Q4 shape: priority count over an EXISTS-qualified date band
  // (l_quantity > 45 stands in for commitdate < receiptdate, absent from
  // the testdata). The EXISTS must plan as a semi join BEFORE the
  // aggregate, with the date band pushed into the orders scan.
  private val Q4 =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= DATE '1996-01-01'
      |  AND o_orderdate < DATE '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // TPC-H Q6 shape: the pure scan-aggregate — every predicate must reach
  // the parquet scan (PushedFilters), zero joins, one partial+final agg.
  // The canonical "is pushdown real" probe at 100 TB.
  private val Q6 =
    """SELECT CAST(SUM(CAST(l_extendedprice * l_discount
      |              AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= DATE '1996-01-01'
      |  AND l_shipdate < DATE '1997-01-01'
      |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""".stripMargin

  // TPC-H Q12 shape: join + conditional aggregation (CASE inside SUM —
  // map-side partial aggregation collapses the fact before the shuffle).
  // o_orderpriority classes stand in for l_shipmode. SUMs cast to BIGINT
  // (DuckDB sums INTEGER into HUGEINT).
  private val Q12 =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate >= DATE '1996-01-01'
      |  AND l_shipdate < DATE '1997-01-01'
      |  AND l_returnflag = 'N'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // TPC-H Q16 shape: supplier variety per part class — distinct-count
  // aggregate above a NOT IN anti join (the excluded-supplier set is an
  // aggregate-free subquery → broadcast null-aware anti join).
  private val Q16 =
    """SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#45' AND p_size IN (1, 4, 7)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // TPC-H Q18 shape: large-volume orders — IN-subquery whose key set is
  // itself defined by a grouped HAVING on the fact (two passes over
  // lineitem; the qualifying key set is tiny → broadcast semi join).
  private val Q18 =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  // TPC-H Q19 shape: disjunction of brand/size/quantity conjuncts — the
  // planner must still extract the common p_partkey = l_partkey equi key
  // (no nested-loop fallback) and keep the OR as a post-join residual.
  private val Q19 =
    """SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |              AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND (
      |    (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |     AND l_quantity BETWEEN 1 AND 11)
      | OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
      |     AND l_quantity BETWEEN 10 AND 20)
      | OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
      |     AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  // TPC-H Q22 shape: above-average-balance customers who never placed a
  // high-value order — scalar subquery (exact decimal mean) + NOT EXISTS
  // anti join (every customer has SOME order in this testdata, so the
  // anti predicate carries the o_totalprice threshold).
  private val Q22 =
    """SELECT c_nationkey, count(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (
      |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
      |           / count(*)
      |    FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_totalprice > 400000)
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // TPC-H Q8 shape: national market share — the 8-way join (both nation
  // roles + region) feeding a ratio of conditional aggregates. The share
  // is a double division of two exact decimal sums, so the value is
  // order-independent; EXTRACT year cast to BIGINT for schema parity.
  private val Q8 =
    """SELECT o_year,
      |  CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume
      |                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |    / CAST(SUM(volume) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))
      |      AS volume,
      |    n2.n_name AS nation
      |  FROM part, supplier, lineitem, orders, customer,
      |       nation n1, nation n2, region
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
      |    AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
      |    AND p_type = 'PROMO'
      |) all_nations
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  // TPC-H Q9 shape: product-type profit by nation and year. The classic
  // profit uses ps_supplycost (no partsupp in this star) — the cost side
  // stands in as 10% of p_retailprice per unit, keeping the same plan:
  // part-name filter pushed into the part scan, 6-way join, two-level
  // group. All arithmetic bridges through exact decimal before the sum.
  private val Q9 =
    """SELECT nation, o_year,
      |  CAST(SUM(amount) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l_extendedprice * (1.0 - l_discount)
      |         - 0.1 * p_retailprice * l_quantity AS DECIMAL(18,4)) AS amount
      |  FROM part, supplier, lineitem, orders, nation
      |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |    AND p_name LIKE '%red%'
      |) profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  // TPC-H Q11 shape: important-stock identification — per-key value sums
  // kept only when they exceed a fraction of the GLOBAL sum (scalar
  // subquery over the same filtered join, evaluated once and broadcast).
  // lineitem value per part stands in for partsupp availability value.
  private val Q11 =
    """SELECT l_partkey,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                AS DECIMAL(18,4))) AS DOUBLE) AS value
      |FROM lineitem, supplier, nation
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_name = 'NATION_3'
      |GROUP BY l_partkey
      |HAVING CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                     AS DECIMAL(18,4))) AS DOUBLE) > (
      |  SELECT CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                       AS DECIMAL(18,4))) AS DOUBLE) * 0.001
      |  FROM lineitem, supplier, nation
      |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND n_name = 'NATION_3')
      |ORDER BY value DESC, l_partkey""".stripMargin

  // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER join
  // with an extra join-side predicate (customers with zero qualifying
  // orders must survive as c_count = 0), then a second aggregation over
  // the first's result. Two shuffles by design: custkey, then count.
  private val Q13 =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey
      |) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // TPC-H Q14 shape: promotion-revenue share — single join + one
  // aggregate producing a ratio of a conditional sum over the total
  // (both exact decimal, divided as double). The date band must reach
  // the lineitem scan as PushedFilters.
  private val Q14 =
    """SELECT
      |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |      THEN CAST(l_extendedprice * (1.0 - l_discount)
      |                AS DECIMAL(18,4))
      |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                    AS DECIMAL(18,4))) AS DOUBLE) AS promo_revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= DATE '1996-09-01'
      |  AND l_shipdate < DATE '1996-10-01'""".stripMargin

  // TPC-H Q15 shape: top supplier — a named revenue CTE used twice (the
  // per-supplier rollup and the global max over it), equality on the
  // exact-decimal-derived revenue, tiny scalar broadcast back.
  private val Q15 =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |                  AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= DATE '1996-01-01'
      |    AND l_shipdate < DATE '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // TPC-H Q17 shape: small-quantity-order revenue — correlated average
  // over the probe side's own part key (Catalyst decorrelates to a
  // per-part avg joined back). p_brand + p_size band stands in for the
  // brand/container pair; the band is wide enough to be non-empty at
  // sf0.001 so the oracle check never degenerates to NULL-vs-NULL.
  private val Q17 =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
      |         / 7.0 AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand = 'Brand#3' AND p_size <= 25
      |  AND l_quantity < (
      |    SELECT 0.5 * avg(l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)""".stripMargin

  // TPC-H Q20 shape: qualifying-shipper promotion — nested IN whose key
  // set is a grouped HAVING over a filtered fact join (plans as two
  // semi-join levels above a pushed-down part-name prefix scan), with a
  // broadcast nation filter on the outer supplier side. The nation
  // IN-list covers nations that HAVE suppliers at sf0.001 (only 10
  // suppliers exist there), so the oracle check is non-vacuous at every
  // test SF.
  private val Q20 =
    """SELECT s_suppkey, s_name
      |FROM supplier, nation
      |WHERE s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem, part
      |    WHERE l_partkey = p_partkey AND p_name LIKE 'red%'
      |      AND l_shipdate >= DATE '1996-01-01'
      |      AND l_shipdate < DATE '1997-01-01'
      |    GROUP BY l_suppkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 20)
      |  AND s_nationkey = n_nationkey
      |  AND n_name IN ('NATION_8', 'NATION_13', 'NATION_24')
      |ORDER BY s_suppkey""".stripMargin

  // TPC-H Q21 shape: suppliers who kept orders waiting — the EXISTS /
  // NOT-EXISTS pair over the SAME fact with inequality correlation
  // (another supplier contributed; no other supplier was late). "Late"
  // stands in as l_returnflag = 'R' (no receipt/commit dates here).
  // Plans as a semi join and an anti join stacked on l_orderkey. Same
  // sf0.001-supplier-coverage nation IN-list as Q20.
  private val Q21 =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |  AND s_nationkey = n_nationkey
      |  AND n_name IN ('NATION_8', 'NATION_13', 'NATION_24')
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  // Correlated LATERAL subquery: greatest-n-per-group without a window
  // function — Spark decorrelates the per-customer ordered LIMIT; DuckDB
  // executes the same text natively.
  private val LateralTopN =
    """SELECT c_custkey, t.o_orderkey, t.o_totalprice
      |FROM customer, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |WHERE c_custkey <= 50
      |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  // WITH RECURSIVE (Spark 4 native): generate a monthly calendar spine
  // by recursion and LEFT JOIN order aggregates onto it — the canonical
  // production use (a generated dimension that PRESERVES empty periods,
  // which a plain GROUP BY over the fact silently drops). Identical
  // text runs in DuckDB; months render as strings so the compare stays
  // engine-neutral on date formatting.
  private val RecursiveCte =
    """WITH RECURSIVE months(m) AS (
      |  SELECT DATE '1995-01-01'
      |  UNION ALL
      |  SELECT m + INTERVAL 1 MONTH FROM months
      |  WHERE m < DATE '1996-12-01')
      |SELECT CAST(months.m AS STRING) AS month_start,
      |  CAST(count(o_orderkey) AS BIGINT) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
      |    AS sum_price
      |FROM months LEFT JOIN orders
      |  ON o_orderdate >= months.m
      | AND o_orderdate < months.m + INTERVAL 1 MONTH
      |GROUP BY months.m
      |ORDER BY months.m""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_recursive_cte" -> ((s, d) => withViews(s, d)(RecursiveCte)),
    "sql_lateral_topn" -> ((s, d) => withViews(s, d)(LateralTopN)),
    "sql_q1_pricing" -> ((s, d) => withViews(s, d)(Q1)),
    "sql_q2_min_cost_supp" -> ((s, d) => withViews(s, d)(Q2)),
    "sql_q3_shipping" -> ((s, d) => withViews(s, d)(Q3)),
    "sql_q4_order_priority" -> ((s, d) => withViews(s, d)(Q4)),
    "sql_q5_local_supplier" -> ((s, d) => withViews(s, d)(Q5)),
    "sql_q6_revenue_band" -> ((s, d) => withViews(s, d)(Q6)),
    "sql_q7_volume_shipping" -> ((s, d) => withViews(s, d)(Q7)),
    "sql_q8_market_share" -> ((s, d) => withViews(s, d)(Q8)),
    "sql_q9_profit_type" -> ((s, d) => withViews(s, d)(Q9)),
    "sql_q10_returned_items" -> ((s, d) => withViews(s, d)(Q10)),
    "sql_q11_important_stock" -> ((s, d) => withViews(s, d)(Q11)),
    "sql_q13_order_dist" -> ((s, d) => withViews(s, d)(Q13)),
    "sql_q14_promo_share" -> ((s, d) => withViews(s, d)(Q14)),
    "sql_q15_top_supplier" -> ((s, d) => withViews(s, d)(Q15)),
    "sql_q17_small_qty" -> ((s, d) => withViews(s, d)(Q17)),
    "sql_q20_excess_shippers" -> ((s, d) => withViews(s, d)(Q20)),
    "sql_q21_waiting_suppliers" -> ((s, d) => withViews(s, d)(Q21)),
    "sql_q12_priority_class" -> ((s, d) => withViews(s, d)(Q12)),
    "sql_q16_supplier_variety" -> ((s, d) => withViews(s, d)(Q16)),
    "sql_q18_large_volume" -> ((s, d) => withViews(s, d)(Q18)),
    "sql_q19_disjunctive" -> ((s, d) => withViews(s, d)(Q19)),
    "sql_q22_inactive_high_bal" -> ((s, d) => withViews(s, d)(Q22)),

    // SQL PIVOT clause surface — the long→wide rotation as the ANSI-ish
    // syntax Spark parses natively (the DataFrame .pivot twin of
    // pivot_event_type). DuckDB's PIVOT dialect differs, so the oracle
    // states the equivalent explicit conditional aggregation — which is
    // also exactly what Spark compiles the clause to.
    "sql_pivot_clause" -> ((s, d) => withViews(s, d)(
      """SELECT o_orderpriority,
        |  coalesce(f, 0) AS f, coalesce(o, 0) AS o, coalesce(p, 0) AS p
        |FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
        |PIVOT (count(*) FOR o_orderstatus IN ('F' f, 'O' o, 'P' p))
        |ORDER BY o_orderpriority""".stripMargin)),

    // Native extension functions from SQL (poly_hash64 / simhash64 /
    // minhash_sig, injected by GraftExtensions). Oracled: all three hash
    // functions replay in DuckDB (plans.XxhSqlOracle.nativeFnsSql);
    // parity is additionally asserted in DedupSpec/TextOpsSpec.
    "sql_native_fns" -> ((s, d) => {
      withViews(s, d)(
      """SELECT doc_id,
        |  poly_hash64(text) AS fp,
        |  simhash64(split(lower(text), ' ')) AS sh,
        |  xxhash64(minhash_sig(array_distinct(split(lower(text), ' ')), 8))
        |    AS mh_digest
        |FROM documents ORDER BY doc_id""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(
    "sql_pivot_clause" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f,
        |  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o,
        |  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "sql_recursive_cte" -> RecursiveCte,
    "sql_lateral_topn" -> LateralTopN,
    "sql_q1_pricing" -> Q1,
    "sql_q2_min_cost_supp" -> Q2,
    "sql_q3_shipping" -> Q3,
    "sql_q4_order_priority" -> Q4,
    "sql_q5_local_supplier" -> Q5,
    "sql_q6_revenue_band" -> Q6,
    "sql_q7_volume_shipping" -> Q7,
    "sql_q8_market_share" -> Q8,
    "sql_q9_profit_type" -> Q9,
    "sql_q10_returned_items" -> Q10,
    "sql_q11_important_stock" -> Q11,
    "sql_q13_order_dist" -> Q13,
    "sql_q14_promo_share" -> Q14,
    "sql_q15_top_supplier" -> Q15,
    "sql_q17_small_qty" -> Q17,
    "sql_q20_excess_shippers" -> Q20,
    "sql_q21_waiting_suppliers" -> Q21,
    "sql_q12_priority_class" -> Q12,
    "sql_q16_supplier_variety" -> Q16,
    "sql_q18_large_volume" -> Q18,
    "sql_q19_disjunctive" -> Q19,
    "sql_q22_inactive_high_bal" -> Q22,
    // All three native functions replay in DuckDB: poly_hash64 as the
    // HUGEINT 31-polynomial fold, simhash64 and minhash_sig via the
    // generated XXH64 arithmetic (plans.XxhSqlOracle.nativeFnsSql).
    "sql_native_fns" -> graft.plans.XxhSqlOracle.nativeFnsSql
  )
}
