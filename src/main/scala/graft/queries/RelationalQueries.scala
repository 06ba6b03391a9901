package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._

/** The relational suite: TPC-H-shaped joins and aggregates, windows, set
  * operations and CDC merges.
  */
object RelationalQueries {

  val all: Seq[QueryDef] = Seq(
    QueryDef("q1_pricing_summary", (s, dir) => Relational.pricingSummary(Tables.lineitem(s, dir)),
      // Money math in the oracles mirrors the engine exactly: integer-cents
      // sums (order-independent), one double division at the end, no round()
      // — see Relational.cents for why.
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS avg_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("q6_forecast_revenue", (s, dir) => Relational.forecastRevenue(Tables.lineitem(s, dir)),
      """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |               * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    QueryDef("q3_shipping_priority",
      (s, dir) =>
        Relational.shippingPriority(Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND o_orderkey = l_orderkey AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin),
    QueryDef("q5_local_supplier",
      (s, dir) =>
        Relational.localSupplierRevenue(
          Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
          Tables.supplier(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey
        |  AND n_nationkey = c_nationkey AND c_custkey = o_custkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND o_orderkey = l_orderkey
        |  AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |GROUP BY n_name""".stripMargin),
    QueryDef("q14_promo_revenue",
      (s, dir) => Relational.promoRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)),
      """SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN u ELSE 0 END) AS DOUBLE) / 10000.0 AS promo_revenue,
        |  CAST(sum(u) AS DOUBLE) / 10000.0 AS total_revenue,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN u ELSE 0 END) AS DOUBLE) / sum(u) AS promo_share
        |FROM (
        |  SELECT l_shipdate, p_type,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS u
        |  FROM lineitem JOIN part ON l_partkey = p_partkey) t
        |GROUP BY CAST(year(l_shipdate) AS INTEGER)""".stripMargin),
    QueryDef("q19_disjunctive",
      (s, dir) => Relational.disjunctiveRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)),
      // OR-of-ANDs disjunction, money in integer cents like q14/q6.
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE)
        |    / 10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    QueryDef("q10_returned_item",
      (s, dir) =>
        Relational.returnedItemRevenue(
          Tables.customer(s, dir), Tables.orders(s, dir), Tables.nation(s, dir),
          Tables.lineitem(s, dir)),
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem, orders, customer, nation
        |WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin),
    QueryDef("q18_large_volume",
      (s, dir) =>
        Relational.largeVolumeCustomers(
          Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      // total_qty is an exact integer-cents sum / 100, so the > 250 threshold
      // and the top-100 cut agree across engines (ties broken by o_orderkey).
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 > 250.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON o_orderkey = l_orderkey
        |         JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin),
    QueryDef("q4_order_priority",
      (s, dir) => Relational.latePriorityOrders(Tables.orders(s, dir), Tables.lineitem(s, dir)),
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q13_order_distribution",
      (s, dir) =>
        Relational.customerOrderDistribution(Tables.customer(s, dir), Tables.orders(s, dir)),
      // count(o_orderkey) skips the left join's null rows → the N=0 bucket.
      """SELECT n_orders, count(*) AS n_customers FROM (
        |  SELECT c_custkey, count(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY n_orders""".stripMargin),
    QueryDef("q17_small_qty_revenue",
      (s, dir) => Relational.smallQuantityRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)),
      // The correlated-average threshold is cross-multiplied into exact
      // integers (qty·den·n < num·Σqty) — brand/fraction interpolated from
      // the operator's defaults.
      {
        import graft.operators.Relational.{SmallQtyBrand, SmallQtyNum, SmallQtyDen}
        s"""WITH bl AS (
           |  SELECT l_partkey, CAST(round(l_quantity * 100) AS BIGINT) AS qc,
           |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
           |  FROM lineitem
           |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = '$SmallQtyBrand')),
           |a AS (SELECT l_partkey, CAST(sum(qc) AS BIGINT) AS sum_qc, count(*) AS n_li
           |  FROM bl GROUP BY l_partkey)
           |SELECT CAST(sum(bl.pc) AS DOUBLE) / 100.0 AS revenue, count(*) AS n_items
           |FROM bl JOIN a USING (l_partkey)
           |WHERE bl.qc * $SmallQtyDen * a.n_li < $SmallQtyNum * a.sum_qc""".stripMargin
      }),
    QueryDef("q22_dormant_rich",
      (s, dir) =>
        Relational.dormantRichCustomers(Tables.customer(s, dir), Tables.orders(s, dir)),
      // Global avg positive balance compared by integer cross-multiplication
      // (bal·n > Σbal); dormancy = no order within the interpolated window of
      // the corpus max date, all in exact epoch micros.
      s"""WITH ap AS (
         |  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal,
         |    count(*) AS n_pos
         |  FROM customer WHERE c_acctbal > 0),
         |cut AS (SELECT max(epoch_us(o_orderdate))
         |    - ${Relational.DormantDays.toLong * 86400000000L} AS cutoff_us FROM orders),
         |recent AS (SELECT DISTINCT o_custkey FROM orders, cut
         |  WHERE epoch_us(o_orderdate) >= cut.cutoff_us)
         |SELECT c_nationkey, count(*) AS n_customers,
         |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_bal
         |FROM customer, ap
         |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * ap.n_pos > ap.sum_bal
         |  AND NOT EXISTS (SELECT 1 FROM recent WHERE recent.o_custkey = c_custkey)
         |GROUP BY c_nationkey""".stripMargin),
    // EXISTS + NOT EXISTS on the same fact with an inequality residual —
    // two keyed semi/anti self-joins, the hardest standard decorrelation.
    QueryDef("q21_waiting_supplier",
      (s, dir) =>
        Relational.waitingSuppliers(
          Tables.supplier(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir)),
      // EXISTS + NOT EXISTS over the same fact with the suppkey inequality —
      // written as the textbook correlated form here; the engine runs the
      // decorrelated semi/anti joins. Lateness in exact epoch micros.
      s"""WITH late AS (
         |  SELECT l.l_orderkey, l.l_suppkey
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE o.o_orderstatus = 'F'
         |    AND epoch_us(l.l_shipdate) > epoch_us(o.o_orderdate)
         |      + ${Relational.WaitingLateDays.toLong * 86400000000L})
         |SELECT s.s_name, count(*) AS numwait
         |FROM late l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
         |WHERE EXISTS (SELECT 1 FROM lineitem l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM late l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey)
         |GROUP BY s.s_name
         |ORDER BY numwait DESC, s.s_name ASC LIMIT 100""".stripMargin),
    // Aggregate view consumed twice (global max + selection) — q15 shape.
    QueryDef("q15_top_supplier",
      (s, dir) =>
        Relational.topRevenueSupplier(Tables.supplier(s, dir), Tables.lineitem(s, dir)),
      // Aggregate view + global-max scalar subquery; revenue compared in
      // exact integer units, divided to dollars only in the projection.
      s"""WITH revenue AS (
         |  SELECT l_suppkey AS supplier_no,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
         |             * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_units
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '${Relational.TopRevStart}'
         |    AND l_shipdate < TIMESTAMP '${Relational.TopRevEnd}'
         |  GROUP BY l_suppkey)
         |SELECT s.s_suppkey, s.s_name, CAST(r.rev_units AS DOUBLE) / 10000.0 AS total_revenue
         |FROM revenue r JOIN supplier s ON r.supplier_no = s.s_suppkey
         |WHERE r.rev_units = (SELECT max(rev_units) FROM revenue)""".stripMargin),
    // Correlated MIN across a join (region-restricted offers) — q2 shape.
    QueryDef("q2_min_cost_supplier",
      (s, dir) =>
        Relational.minCostSuppliers(
          Tables.region(s, dir), Tables.nation(s, dir), Tables.supplier(s, dir),
          Tables.part(s, dir), Tables.lineitem(s, dir)),
      // Correlated MIN across the region-restricted offer join; the per-unit
      // cost is ONE double division of two exact integers, so the min and
      // the equality probe agree bit-for-bit.
      s"""WITH regsup AS (
         |  SELECT s.s_suppkey, s.s_name, n.n_name
         |  FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey
         |                JOIN supplier s ON n.n_nationkey = s.s_nationkey
         |  WHERE r.r_name = '${Relational.MinCostRegion}'),
         |offers AS (
         |  SELECT p.p_partkey, rs.s_suppkey, rs.s_name, rs.n_name,
         |    CAST(CAST(round(l.l_extendedprice * 100) AS BIGINT) AS DOUBLE)
         |      / CAST(CAST(round(l.l_quantity * 100) AS BIGINT) AS DOUBLE) AS unit_cost
         |  FROM lineitem l
         |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size = ${Relational.MinCostSize}
         |  JOIN regsup rs ON l.l_suppkey = rs.s_suppkey)
         |SELECT DISTINCT o.p_partkey, o.s_suppkey, o.s_name, o.n_name, o.unit_cost
         |FROM offers o
         |WHERE o.unit_cost = (SELECT min(o2.unit_cost) FROM offers o2
         |                     WHERE o2.p_partkey = o.p_partkey)""".stripMargin),
    // Symmetric nation-pair revenue flows per ship year — q7 shape.
    QueryDef("q7_volume_shipping",
      (s, dir) =>
        Relational.volumeShipping(
          Tables.nation(s, dir), Tables.customer(s, dir), Tables.supplier(s, dir),
          Tables.orders(s, dir), Tables.lineitem(s, dir)),
      // Symmetric nation-pair disjunction over the 5-way join; revenue in
      // exact integer units.
      {
        import graft.operators.Relational._
        s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           |  year(l.l_shipdate) AS l_year,
           |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
           |         * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
           |FROM lineitem l
           |JOIN orders o ON l.l_orderkey = o.o_orderkey
           |JOIN customer c ON o.o_custkey = c.c_custkey
           |JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
           |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
           |WHERE l.l_shipdate >= TIMESTAMP '$VolShipStart'
           |  AND l.l_shipdate < TIMESTAMP '$VolShipEnd'
           |  AND ((n1.n_name = '$VolShipNationA' AND n2.n_name = '$VolShipNationB')
           |    OR (n1.n_name = '$VolShipNationB' AND n2.n_name = '$VolShipNationA'))
           |GROUP BY 1, 2, 3""".stripMargin
      }),
    // Conditional-sum ratio per order year (one nation's share) — q8 shape.
    QueryDef("q8_market_share",
      (s, dir) =>
        Relational.marketShare(
          Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
          Tables.supplier(s, dir), Tables.part(s, dir), Tables.orders(s, dir),
          Tables.lineitem(s, dir)),
      // Conditional-sum ratio: one nation's share of typed-part revenue to
      // region customers per order year — one double division of int sums.
      {
        import graft.operators.Relational._
        s"""WITH f AS (
           |  SELECT year(o.o_orderdate) AS o_year, sn.n_name AS supp_nation,
           |    CAST(round(l.l_extendedprice * 100) AS BIGINT)
           |      * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS units
           |  FROM lineitem l
           |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = '$MktType'
           |  JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
           |  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = '$MktRegion'
           |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey)
           |SELECT o_year,
           |  CAST(sum(CASE WHEN supp_nation = '$MktNation' THEN units ELSE 0 END) AS DOUBLE)
           |    / CAST(sum(units) AS DOUBLE) AS mkt_share,
           |  CAST(sum(units) AS DOUBLE) / 10000.0 AS total_revenue
           |FROM f GROUP BY o_year""".stripMargin
      }),
    // Widest star rollup: profit per (nation, year) — q9 shape.
    QueryDef("q9_product_profit",
      (s, dir) =>
        Relational.productTypeProfit(
          Tables.nation(s, dir), Tables.supplier(s, dir), Tables.part(s, dir),
          Tables.orders(s, dir), Tables.lineitem(s, dir)),
      // Profit = Σ(disc price − retailprice·qty) in exact 1e-4 units over the
      // widest star join, per (supplier nation, order year).
      {
        import graft.operators.Relational.ProfitNamePrefix
        s"""SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
           |         * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
           |       - CAST(round(p.p_retailprice * 100) AS BIGINT)
           |         * CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_profit
           |FROM lineitem l
           |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '$ProfitNamePrefix%'
           |JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |JOIN nation n ON s.s_nationkey = n.n_nationkey
           |JOIN orders o ON l.l_orderkey = o.o_orderkey
           |GROUP BY 1, 2""".stripMargin
      }),
    // Grouped agg vs global scalar threshold, cross-multiplied — q11 shape.
    QueryDef("q11_important_parts",
      (s, dir) =>
        Relational.importantParts(
          Tables.nation(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir)),
      // Per-part value vs 1/den of the global total, cross-multiplied into
      // exact integer cents (the q17/q22 trick).
      {
        import graft.operators.Relational.{ImportantNation, ImportantDen}
        s"""WITH vals AS (
           |  SELECT l.l_partkey,
           |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_c
           |  FROM lineitem l
           |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
           |  JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = '$ImportantNation'
           |  GROUP BY l.l_partkey),
           |tot AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c FROM vals)
           |SELECT v.l_partkey AS p_partkey, CAST(v.value_c AS DOUBLE) / 100.0 AS value
           |FROM vals v, tot
           |WHERE v.value_c * $ImportantDen > tot.total_c""".stripMargin
      }),
    // Cross-table date band + two conditional counts — q12 shape.
    QueryDef("q12_ship_lag_priority",
      (s, dir) => Relational.shippingLagPriority(Tables.orders(s, dir), Tables.lineitem(s, dir)),
      // Ship-lag band in exact epoch micros; high/low priority split as
      // conditional counts.
      {
        import graft.operators.Relational.{LagStart, LagEnd, LagMinDays, LagMaxDays}
        s"""SELECT l.l_returnflag,
           |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
           |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
           |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
           |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |WHERE l.l_shipdate >= TIMESTAMP '$LagStart'
           |  AND l.l_shipdate < TIMESTAMP '$LagEnd'
           |  AND epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)
           |    >= ${LagMinDays.toLong * 86400000000L}
           |  AND epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)
           |    < ${LagMaxDays.toLong * 86400000000L}
           |GROUP BY 1""".stripMargin
      }),
    // DISTINCT agg over an anti-joined (part, supplier) pair set — q16 shape.
    QueryDef("q16_part_supplier_counts",
      (s, dir) =>
        Relational.partSupplierCounts(
          Tables.supplier(s, dir), Tables.part(s, dir), Tables.lineitem(s, dir)),
      // DISTINCT supplier count per part slice with the literal NOT IN form
      // (the engine plans the equivalent broadcast anti join).
      {
        import graft.operators.Relational.{PscExcludeBrand, PscExcludeType, PscSizes}
        s"""WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
           |SELECT p.p_brand, p.p_type, p.p_size,
           |  count(DISTINCT pr.l_suppkey) AS supplier_cnt
           |FROM pairs pr JOIN part p ON pr.l_partkey = p.p_partkey
           |WHERE p.p_brand <> '$PscExcludeBrand'
           |  AND p.p_type NOT LIKE '$PscExcludeType%'
           |  AND p.p_size IN (${PscSizes.mkString(", ")})
           |  AND pr.l_suppkey NOT IN
           |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
           |GROUP BY 1, 2, 3""".stripMargin
      }),
    // Correlated agg inside a semi join, fully decorrelated — q20 shape.
    QueryDef("q20_excess_stock",
      (s, dir) =>
        Relational.excessStockSuppliers(
          Tables.nation(s, dir), Tables.supplier(s, dir), Tables.part(s, dir),
          Tables.lineitem(s, dir)),
      // The correlated year-sum vs lifetime-sum comparison written as the
      // textbook IN + grouped HAVING-style subquery; the engine runs the
      // single-pass conditional-agg decorrelation.
      {
        import graft.operators.Relational.{ExcessNation, ExcessNamePrefix, ExcessYearStart, ExcessYearEnd}
        s"""WITH movers AS (
           |  SELECT l.l_suppkey, l.l_partkey,
           |    CAST(sum(CASE WHEN l.l_shipdate >= TIMESTAMP '$ExcessYearStart'
           |        AND l.l_shipdate < TIMESTAMP '$ExcessYearEnd'
           |      THEN CAST(round(l.l_quantity * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS year_qc,
           |    CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS total_qc
           |  FROM lineitem l
           |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '$ExcessNamePrefix%'
           |  GROUP BY l.l_suppkey, l.l_partkey)
           |SELECT s.s_suppkey, s.s_name
           |FROM supplier s
           |JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = '$ExcessNation'
           |WHERE s.s_suppkey IN
           |  (SELECT l_suppkey FROM movers WHERE year_qc * 2 > total_qc)
           |ORDER BY s.s_name ASC""".stripMargin
      }),
    QueryDef("q_distinct_agg", (s, dir) => Relational.distinctCustomers(Tables.orders(s, dir)),
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_correlated_min",
      (s, dir) => Relational.cheapestOrderPerCustomer(s, Tables.orders(s, dir)),
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT min(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin),
    QueryDef("q_pivot", (s, dir) => Relational.ordersByPriorityPivot(Tables.orders(s, dir)),
      // Declared-values pivot == one pass of conditional aggregation. Each
      // count is CAST to BIGINT: DuckDB types a bare integer sum() as HUGEINT,
      // which the oracle gate's dataframe fetch materializes as float64 and the
      // hash compare then sees 1000.0 vs Spark's int64 1000.
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_window_profile", (s, dir) => Relational.orderWindowProfile(Tables.orders(s, dir)),
      // lag/lead/ntile/cume_dist share one total-ordered window; cume_dist
      // is rank/n — a double division of exact ints, portable.
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey) OVER w AS prev_orderkey,
        |  lead(o_orderkey) OVER w AS next_orderkey,
        |  ntile(4) OVER w AS quartile,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin),
    QueryDef("q_median", (s, dir) => Relational.medianOrderValue(Tables.orders(s, dir)),
      // Interpolated median of integer cents: the midpoint of two ints is an
      // exact half in double on both engines (raw-double percentiles are not
      // portable; integer cents make them so).
      """SELECT o_orderpriority,
        |  quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) / 100.0 AS median_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    // fixed-width histogram percentile sketch (deterministic approx form)
    QueryDef("q_histogram_quantile",
      (s, dir) => Relational.histogramQuantiles(Tables.orders(s, dir)),
      // Histogram percentile sketch: all-integer bucket/rank arithmetic
      // (DIV == //), estimate = first bucket reaching ceil(pct*n/100).
      // Buckets/pcts interpolated from the operator's constants.
      {
        import graft.operators.Relational.{HistogramBuckets => HB, HistogramPcts}
        val pctList = HistogramPcts.mkString(", ")
        s"""WITH base AS (SELECT o_orderpriority AS grp,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders),
           |r AS (SELECT grp, min(x) AS mn, max(x) AS mx, count(*) AS n
           |  FROM base GROUP BY grp),
           |bk AS (SELECT base.grp, r.n, r.mn, r.mx,
           |    ((base.x - r.mn) * $HB) // (r.mx - r.mn + 1) AS b
           |  FROM base JOIN r ON base.grp = r.grp),
           |c AS (SELECT grp, n, mn, mx, b, count(*) AS c
           |  FROM bk GROUP BY grp, n, mn, mx, b),
           |cum AS (SELECT grp, n, mn, mx, b,
           |    CAST(sum(c) OVER (PARTITION BY grp ORDER BY b
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM c),
           |px AS (SELECT cum.*, p.pct FROM cum
           |  CROSS JOIN (SELECT unnest([$pctList]) AS pct) p),
           |sel AS (SELECT grp, pct, n, mn, mx, min(b) AS qb
           |  FROM px WHERE cum >= (pct * n + 99) // 100
           |  GROUP BY grp, pct, n, mn, mx)
           |SELECT grp AS o_orderpriority, pct, n, qb,
           |  mn + (qb * (mx - mn + 1) + ${HB - 1}) // $HB AS est_cents,
           |  CAST(mn + (qb * (mx - mn + 1) + ${HB - 1}) // $HB AS DOUBLE) / 100.0
           |    AS est
           |FROM sel""".stripMargin
      }),
    QueryDef("q_rollup", (s, dir) => Relational.rollupSummary(Tables.lineitem(s, dir)),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("q_cube", (s, dir) => Relational.cubeSummary(Tables.lineitem(s, dir)),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),
    QueryDef("q_outer_join",
      (s, dir) =>
        Relational.customerOrderCoverage(Tables.customer(s, dir), Tables.orders(s, dir)),
      // count(column) skips the outer join's null order rows, so orderless
      // customers report 0 orders / 0.0 spend on both engines.
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  CAST(sum(coalesce(CAST(round(o_totalprice * 100) AS BIGINT), 0)) AS DOUBLE)
        |    / 100.0 AS total_spend
        |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin),
    QueryDef("q_window_rank", (s, dir) => Relational.topOrdersPerCustomer(Tables.orders(s, dir)),
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin),
    QueryDef("q_window_moving", (s, dir) => Relational.movingAvgOrderValue(Tables.orders(s, dir)),
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS DOUBLE)
        |    / count(*) OVER w / 100.0 AS mavg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin),
    // RANGE (value-based) frame: trailing 7-day spend in exact epoch micros
    QueryDef("q_window_range", (s, dir) => Relational.trailingSpend(Tables.orders(s, dir)),
      // RANGE frame bounds in exact epoch micros; same-timestamp rows are
      // peers (included in each other's frame) on both engines.
      s"""SELECT o_custkey, o_orderkey,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS DOUBLE)
         |    / 100.0 AS trailing_spend
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
         |  RANGE BETWEEN ${Relational.TrailingDays.toLong * 86400000000L} PRECEDING
         |            AND CURRENT ROW)""".stripMargin),
    QueryDef("q_setops",
      (s, dir) => Relational.customerSetOps(Tables.customer(s, dir), Tables.orders(s, dir)),
      """SELECT 'both' AS tag, custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT o_custkey AS custkey FROM orders)
        |UNION ALL
        |SELECT 'cust_only' AS tag, custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT SELECT o_custkey AS custkey FROM orders)""".stripMargin),
    // Co-located bucketed join: both sides written bucketed+sorted on the
    // customer key, then joined and aggregated with ZERO exchanges
    // (BucketingSpec asserts the plan) — the amortized-write shape every
    // repeated 100 TB fact join wants.
    QueryDef("q_bucketed_join", (s, dir) => Bucketing.ordersPerCustomerCoLocated(s, dir),
      // Bucketing changes the plan (no exchanges), never the answer — the
      // oracle is the plain join. Money sums in integer cents (see q_rollup).
      """SELECT c_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total_spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin),
    QueryDef("q_semijoin",
      (s, dir) =>
        Relational.customersWithUrgentOrders(Tables.customer(s, dir), Tables.orders(s, dir)),
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin),
    QueryDef("q_antijoin",
      (s, dir) =>
        Relational.customersWithoutUrgentOrders(Tables.customer(s, dir), Tables.orders(s, dir)),
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin),
    QueryDef("q_scalar_funcs", (s, dir) => Relational.scalarShowcase(Tables.orders(s, dir)),
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  substr(o_orderpriority, 1, 1) AS pri,
        |  o_orderstatus || '-' || upper(o_orderpriority) AS tag,
        |  sqrt(o_totalprice) AS sqrt_price,
        |  ln(o_totalprice + 1) AS ln_price,
        |  o_orderkey % 7 AS mod7
        |FROM orders""".stripMargin),
    QueryDef("q_topk_global", (s, dir) => Relational.topRevenueLineitems(Tables.lineitem(s, dir)),
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |       * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |ORDER BY revenue DESC, l_orderkey ASC, l_linenumber ASC LIMIT 20""".stripMargin),
    // Built-in sketches are approximate and not engine-portable, so the
    // oracle form is a hashable tolerance band: exact counts + in-band
    // booleans (TRUE rows replayed by DuckDB).
    QueryDef("sketch_summary", (s, dir) => Relational.sketchSummary(Tables.lineitem(s, dir)),
      // Tolerance band made hashable: the engine emits exact counts plus one
      // boolean per approximation asserting it sits inside its published
      // error band; the oracle replays the exact side and literal TRUEs —
      // the hash match IS the bounds check (the raw HLL++/quantile-sketch
      // estimates themselves are not engine-portable).
      s"""SELECT l_returnflag,
         |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
         |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  TRUE AS hll_orders_in_band, TRUE AS hll_parts_in_band,
         |  TRUE AS p50_in_band, TRUE AS p99_in_band,
         |  sum(CASE WHEN ${h60(Relational.SketchSampleSeed,
             "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")}
         |        % ${Relational.SketchSampleMod} = 0 THEN 1 ELSE 0 END)
         |    >= ${Relational.SketchRailMinN} AS pct_rail_checked
         |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // Explicit GROUPING SETS (marginals + grand total) with grouping_id.
    QueryDef("q_grouping_sets", (s, dir) => Relational.groupingSetsSummary(Tables.lineitem(s, dir)),
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),
    // CDC apply: latest-wins MERGE INTO (update matched, keep unmatched)
    QueryDef("q_merge_upsert",
      (s, dir) => Relational.upsertLatestOrders(Tables.customer(s, dir), Tables.orders(s, dir)),
      // Latest-wins upsert: the oracle resolves "latest" with the same total
      // (date DESC, orderkey DESC) order via a window instead of max_by.
      """WITH r AS (SELECT o_custkey, o_orderpriority, o_orderstatus,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
        |    count(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders),
        |l AS (SELECT * FROM r WHERE rn = 1)
        |SELECT c_custkey, c_mktsegment,
        |  coalesce(l.o_orderpriority, 'NONE') AS cur_priority,
        |  coalesce(l.o_orderstatus, 'NONE') AS cur_status,
        |  CAST(coalesce(l.n, 0) AS BIGINT) AS n_changes
        |FROM customer LEFT JOIN l ON l.o_custkey = c_custkey""".stripMargin),
    // SCD2 versioned history from the same change log
    QueryDef("q_scd2_history", (s, dir) => Relational.scd2OrderHistory(Tables.orders(s, dir)),
      // SCD2 validity intervals in exact epoch micros; (date, orderkey) is a
      // total order so version numbering is deterministic.
      """SELECT o_custkey, o_orderpriority AS attr,
        |  epoch_us(o_orderdate) AS valid_from_us,
        |  lead(epoch_us(o_orderdate)) OVER w AS valid_to_us,
        |  row_number() OVER w AS version,
        |  lead(epoch_us(o_orderdate)) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin),
  )
}
