package graft.queries

import graft.{GraftQuery, Q, QueryPack, Tables}
import graft.sources.Bucketing
import graft.transform.QuantileBinner
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational workload: the flagship binning-design query (SURVEY.md
  * §7.2, reference data_analysis.ipynb cell 10) plus TPC-H-shaped
  * scan/agg/join queries exercising the harness star schema at scale.
  *
  * Scale notes: all aggregations are partial-aggregated map-side by Spark;
  * dimension joins (customer/nation/region) are broadcast; money math runs
  * in exact integer cents so results are independent of partitioning.
  */
object CoreQueries extends QueryPack {

  /** data_analysis.ipynb cell 10: quantile-bin a skewed numeric column,
    * then per-bucket row count + label distribution.
    */
  val flagship: GraftQuery = GraftQuery(
    "flagship_bin_label_dist",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val model = QuantileBinner.fit(li, "l_extendedprice", 8)
      model
        .transform(li, "bucket")
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          Q.share(col("l_returnflag") === "R").as("share_r"),
          Q.share(col("l_returnflag") === "A").as("share_a"),
          Q.share(col("l_returnflag") === "N").as("share_n"))
        .orderBy("bucket")
    },
    Some("""
      WITH e AS (
        SELECT quantile_cont(l_extendedprice, 0.125) AS e1,
               quantile_cont(l_extendedprice, 0.250) AS e2,
               quantile_cont(l_extendedprice, 0.375) AS e3,
               quantile_cont(l_extendedprice, 0.500) AS e4,
               quantile_cont(l_extendedprice, 0.625) AS e5,
               quantile_cont(l_extendedprice, 0.750) AS e6,
               quantile_cont(l_extendedprice, 0.875) AS e7
        FROM lineitem),
      b AS (
        SELECT CASE WHEN l_extendedprice <= e.e1 THEN 0
                    WHEN l_extendedprice <= e.e2 THEN 1
                    WHEN l_extendedprice <= e.e3 THEN 2
                    WHEN l_extendedprice <= e.e4 THEN 3
                    WHEN l_extendedprice <= e.e5 THEN 4
                    WHEN l_extendedprice <= e.e6 THEN 5
                    WHEN l_extendedprice <= e.e7 THEN 6
                    ELSE 7 END AS bucket,
               l_quantity, l_returnflag
        FROM lineitem, e)
      SELECT bucket,
             COUNT(*) AS n_rows,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             round(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS share_r,
             round(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS share_a,
             round(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS share_n
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** TPC-H Q1-shaped pricing summary; exact integer-cents money math. */
  val pricingSummary: GraftQuery = GraftQuery(
    "q1_pricing_summary",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= Q.ts("1998-09-01 00:00:00"))
      val ep = Q.cents("l_extendedprice")
      val disc = Q.cents("l_discount")
      val tax = Q.cents("l_tax")
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(ep).as("sum_base_price_cents"),
          sum(ep * (lit(100L) - disc)).as("sum_disc_price_e4"),
          sum(ep * (lit(100L) - disc) * (lit(100L) + tax)).as("sum_charge_e6"),
          Q.r6(sum(col("l_quantity").cast("long")) * 1.0 / count(lit(1))).as("avg_qty"),
          Q.r6(sum(ep) / 100.0 / count(lit(1))).as("avg_price"),
          Q.r6(sum(disc) / 100.0 / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_e4,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
             round(SUM(CAST(l_quantity AS BIGINT)) * 1.0 / COUNT(*), 6) AS avg_qty,
             round(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_price,
             round(SUM(CAST(round(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(*), 6) AS avg_disc,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  /** TPC-H Q3-shaped: top-10 open orders by revenue for one segment.
    * customer is broadcast; lineitem⋈orders shuffles on the join key only.
    */
  val topOrders: GraftQuery = GraftQuery(
    "q3_top_order_revenue",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") < Q.ts("1999-01-01 00:00:00"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val l = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") > Q.ts("1997-01-01 00:00:00"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(sum(Q.cents("l_extendedprice") * (lit(100L) - Q.cents("l_discount")))
          .as("revenue_e4"))
        .select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("revenue_e4"))
        .orderBy(desc("revenue_e4"), col("o_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue_e4 DESC, o_orderkey
      LIMIT 10"""))

  /** TPC-H Q5-shaped: revenue by customer nation within each region.
    * nation/region are broadcast dims; the fact-side join shuffles once.
    */
  val regionRevenue: GraftQuery = GraftQuery(
    "q5_region_nation_revenue",
    (s, dir) => {
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      val dims = n.join(r, col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
      val c = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
      val o = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
      val l = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(Q.cents("l_extendedprice") * (lit(100L) - Q.cents("l_discount")))
          .as("revenue_e4"))
        .orderBy(col("r_name"), desc("revenue_e4"), col("n_name"))
    },
    Some("""
      SELECT r_name, n_name,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, revenue_e4 DESC, n_name"""))

  /** TPC-H Q10-shaped returned-item reporting: top-20 customers by
    * revenue lost to returns. lineitem filters R rows at the scan
    * (pushed predicate), shuffles on the order key once; customer and
    * nation are broadcast dims; exact e4 money math; TakeOrdered top-k.
    */
  val returnedRevenue: GraftQuery = GraftQuery(
    "q10_returned_revenue",
    (s, dir) => {
      val l = Tables(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
      val c = Tables(s, dir, "customer")
        .select("c_custkey", "c_name", "c_nationkey")
      val n = Tables(s, dir, "nation").select("n_nationkey", "n_name")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(Q.cents("l_extendedprice") * (lit(100L) - Q.cents("l_discount")))
          .as("revenue_e4"))
        .orderBy(desc("revenue_e4"), col("c_custkey"))
        .limit(20)
    },
    Some("""
      SELECT c_custkey, c_name, n_name,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS revenue_e4
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue_e4 DESC, c_custkey LIMIT 20"""))

  /** TPC-H Q14-shaped promo revenue: per ship month, the share of
    * discounted revenue coming from PROMO-type parts. part is a
    * broadcast dim onto the lineitem scan (2-column ReadSchema), one
    * shuffle on the month grain; money stays exact e4 integers with one
    * rounded division per group.
    */
  val promoRevenue: GraftQuery = GraftQuery(
    "q14_promo_revenue_monthly",
    (s, dir) => {
      val l = Tables(s, dir, "lineitem")
        .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
      val p = Tables(s, dir, "part").select("p_partkey", "p_type")
      val rev = Q.cents("l_extendedprice") * (lit(100L) - Q.cents("l_discount"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(
          year(col("l_shipdate")).as("y"),
          month(col("l_shipdate")).as("m"))
        .agg(
          sum(when(col("p_type") === "PROMO", rev).otherwise(0L))
            .as("promo_revenue_e4"),
          sum(rev).as("revenue_e4"))
        .withColumn("promo_share",
          Q.r6(col("promo_revenue_e4") * 1.0 / col("revenue_e4")))
        .orderBy("y", "m")
    },
    Some("""
      SELECT CAST(date_part('year', l_shipdate) AS INTEGER) AS y,
             CAST(date_part('month', l_shipdate) AS INTEGER) AS m,
             CAST(SUM(CASE WHEN p_type = 'PROMO'
               THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
               ELSE 0 END) AS BIGINT) AS promo_revenue_e4,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS revenue_e4,
             round(CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))
                 ELSE 0 END) AS DOUBLE)
               / SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))), 6)
               AS promo_share
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY y, m ORDER BY y, m"""))

  /** TPC-H Q18-shaped large-volume customers: orders whose total line
    * quantity clears a threshold, reported with their customer. The
    * HAVING runs on the lineitem-only aggregate (one shuffle on
    * orderkey) and only the few qualifying orders join back to orders
    * and the broadcast customer dim.
    */
  val largeVolume: GraftQuery = GraftQuery(
    "q18_large_volume_customers",
    (s, dir) => {
      val big = Tables(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(Q.cents("l_quantity")).as("qty_cents"))
        .filter(col("qty_cents") > 250L * 100L)
      val o = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val c = Tables(s, dir, "customer").select("c_custkey", "c_name")
      big.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), Q.cents("o_totalprice").as("totalprice_cents"),
          col("qty_cents"))
        .orderBy(desc("qty_cents"), col("o_orderkey"))
    },
    Some("""
      WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
                 AS qty_cents
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 25000)
      SELECT c_custkey, c_name, o_orderkey, o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
             qty_cents
      FROM big
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      ORDER BY qty_cents DESC, o_orderkey"""))

  /** Hierarchical share rollup: nation revenue with its share of the
    * region subtotal and of the grand total — percent-of-parent, the
    * report shape above every drill-down UI. Revenue stays exact e4
    * integers; the two subtotals are window sums over the (bounded)
    * nation-level aggregate frame, divided once.
    */
  val rollupShares: GraftQuery = GraftQuery(
    "rollup_share_report",
    (s, dir) => {
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      val dims = n.join(r, col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
      val c = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
      val o = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
      val l = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val byNation = l
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(Q.cents("l_extendedprice") * (lit(100L) - Q.cents("l_discount")))
          .as("revenue_e4"))
      val wr = Window.partitionBy("r_name")
      val wt = Window.partitionBy()
      byNation
        .select(col("r_name"), col("n_name"), col("revenue_e4"),
          Q.r6(col("revenue_e4") * 1.0 / sum("revenue_e4").over(wr))
            .as("share_of_region"),
          Q.r6(col("revenue_e4") * 1.0 / sum("revenue_e4").over(wt))
            .as("share_of_total"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      WITH bn AS (
        SELECT r_name, n_name,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS BIGINT) AS revenue_e4
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name)
      SELECT r_name, n_name, revenue_e4,
             round(revenue_e4 * 1.0
               / CAST(SUM(revenue_e4) OVER (PARTITION BY r_name) AS BIGINT), 6)
               AS share_of_region,
             round(revenue_e4 * 1.0
               / CAST(SUM(revenue_e4) OVER () AS BIGINT), 6)
               AS share_of_total
      FROM bn ORDER BY r_name, n_name"""))

  /** Revenue-concentration (Pareto) report: customers ranked by order
    * revenue, grouped into rank deciles, each decile's share of total.
    * The rank runs DISTRIBUTED over the per-customer aggregate frame
    * ([[graft.transform.DistRank]]: revenue-bucketed parallel local
    * sorts + exact prefix offsets — no single-task global window), with
    * the count/total attached as a broadcast 1-row aggregate. All shares
    * are exact integer cents divided once.
    */
  val paretoRevenue: GraftQuery = GraftQuery(
    "pareto_revenue_deciles",
    (s, dir) => {
      val rev = Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(Q.cents("o_totalprice")).as("rev"))
      graft.transform.DistRank.withRowNumber(
          rev, negate(col("rev")), Seq(desc("rev"), col("o_custkey")),
          totalCountCol = Some("nc"), totalSumCols = Seq("rev" -> "tot"))
        .groupBy(expr("(rn - 1) * 10 div nc").as("decile"))
        .agg(
          count(lit(1)).as("n_customers"),
          Q.r6(sum("rev") * 1.0 / max("tot")).as("revenue_share"))
        .orderBy("decile")
    },
    Some("""
      WITH r AS (
        SELECT o_custkey,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY 1),
      w AS (SELECT rev,
                   row_number() OVER (ORDER BY rev DESC, o_custkey) AS rn,
                   COUNT(*) OVER () AS nc,
                   SUM(rev) OVER () AS tot
            FROM r)
      SELECT (rn - 1) * 10 // nc AS decile, COUNT(*) AS n_customers,
             round(SUM(rev) * 1.0 / MAX(tot), 6) AS revenue_share
      FROM w GROUP BY 1 ORDER BY decile"""))

  /** 2-D equi-depth grid histogram: price octiles x quantity quartiles,
    * cell counts and exact revenue — the heatmap aggregation behind
    * density/drill-down views. Both bin fits run in the flagship's
    * batched one-scan form (`fitMany`); the oracle replays every edge
    * with `quantile_cont` CASE chains (edges distinct on this data, as
    * the flagship assumes).
    */
  val gridHistogram: GraftQuery = {
    val (np, nq) = (8, 4)
    def edges(c: String, pfx: String, n: Int) =
      (1 until n).map(i =>
        s"quantile_cont($c, ${i.toDouble / n}) AS $pfx$i").mkString(", ")
    def chain(c: String, pfx: String, n: Int) =
      "CASE " + (1 until n).map(i =>
        s"WHEN $c <= e.$pfx$i THEN ${i - 1} ").mkString + s"ELSE ${n - 1} END"
    GraftQuery(
      "grid_bin_price_quantity",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val models = QuantileBinner.fitMany(
          li, Seq("l_extendedprice" -> np, "l_quantity" -> nq))
        models("l_extendedprice").transform(
            models("l_quantity").transform(li, "qb"), "pb")
          .groupBy("pb", "qb")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(Q.cents("l_extendedprice")).as("sum_price_cents"))
          .orderBy("pb", "qb")
      },
      Some(s"""
        WITH e AS (
          SELECT ${edges("l_extendedprice", "p", np)},
                 ${edges("l_quantity", "q", nq)}
          FROM lineitem)
        SELECT ${chain("l_extendedprice", "p", np)} AS pb,
               ${chain("l_quantity", "q", nq)} AS qb,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS sum_price_cents
        FROM lineitem, e
        GROUP BY pb, qb ORDER BY pb, qb"""))
  }

  /** Correlated-subquery shape through the optimizer: orders strictly
    * above their own customer's average order value — the scalar
    * correlated subquery decorrelates into an aggregate + join, which is
    * exactly what a warehouse migration exercises. Money in exact cents;
    * the average comparison multiplies through by the count so the
    * predicate is integer-exact (no division).
    */
  val aboveAvgOrders: GraftQuery = GraftQuery(
    "correlated_above_avg_orders",
    (s, dir) => {
      Tables(s, dir, "orders").createOrReplaceTempView("g_orders_cs")
      s.sql("""
        SELECT o_custkey, COUNT(*) AS n_above
        FROM g_orders_cs o
        WHERE CAST(round(o_totalprice * 100) AS BIGINT)
              * (SELECT COUNT(*) FROM g_orders_cs i
                 WHERE i.o_custkey = o.o_custkey)
              > (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                 FROM g_orders_cs i WHERE i.o_custkey = o.o_custkey)
        GROUP BY o_custkey
        ORDER BY o_custkey""")
    },
    Some("""
      SELECT o_custkey, COUNT(*) AS n_above
      FROM orders o
      WHERE CAST(round(o_totalprice * 100) AS BIGINT)
            * (SELECT COUNT(*) FROM orders i
               WHERE i.o_custkey = o.o_custkey)
            > (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               FROM orders i WHERE i.o_custkey = o.o_custkey)
      GROUP BY o_custkey
      ORDER BY o_custkey"""))

  /** New-vs-repeat revenue per month: each order classifies against its
    * customer's first order date (broadcastable per-customer aggregate),
    * then monthly revenue splits into acquisition vs retention — the
    * cohort economics read. Exact cents; one rounded share division.
    */
  val newVsRepeat: GraftQuery = GraftQuery(
    "new_vs_repeat_revenue_monthly",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
      val first = o.groupBy(col("o_custkey").as("fk"))
        .agg(min("o_orderdate").as("first_dt"))
      o.join(broadcast(first), col("o_custkey") === col("fk"))
        .groupBy(year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(
          sum(when(col("o_orderdate") === col("first_dt"),
            Q.cents("o_totalprice")).otherwise(0L)).as("new_cents"),
          sum(when(col("o_orderdate") =!= col("first_dt"),
            Q.cents("o_totalprice")).otherwise(0L)).as("repeat_cents"))
        .withColumn("new_share", Q.r6(col("new_cents") * 1.0 /
          (col("new_cents") + col("repeat_cents"))))
        .orderBy("y", "m")
    },
    Some("""
      WITH f AS (SELECT o_custkey AS fk, MIN(o_orderdate) AS first_dt
                 FROM orders GROUP BY 1)
      SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS y,
             CAST(date_part('month', o_orderdate) AS INTEGER) AS m,
             CAST(SUM(CASE WHEN o_orderdate = first_dt
               THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS new_cents,
             CAST(SUM(CASE WHEN o_orderdate <> first_dt
               THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS repeat_cents,
             round(CAST(SUM(CASE WHEN o_orderdate = first_dt
                 THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END)
                 AS DOUBLE)
               / SUM(CAST(round(o_totalprice * 100) AS BIGINT)), 6)
               AS new_share
      FROM orders JOIN f ON fk = o_custkey
      GROUP BY y, m ORDER BY y, m"""))

  /** Herfindahl-Hirschman concentration of supplier revenue within each
    * nation: HHI = Σ share_i² on integer micro-shares, summed exactly —
    * 1e12 = monopoly. The market-structure diagnostic, computed from
    * two keyed aggregates and one broadcast dim.
    */
  val hhiConcentration: GraftQuery = GraftQuery(
    "hhi_supplier_concentration",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select("l_suppkey", "l_extendedprice", "l_discount")
      val supp = Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val rev = li
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_nationkey", "s_suppkey")
        .agg(sum(Q.cents("l_extendedprice") * (lit(100L) - Q.cents("l_discount")))
          .as("r"))
      val tot = rev.groupBy(col("s_nationkey").as("nk"))
        .agg(sum("r").as("tot"), count(lit(1)).as("n_suppliers"))
      val nation = Tables(s, dir, "nation").select("n_nationkey", "n_name")
      rev.join(tot, col("s_nationkey") === col("nk"))
        .select(col("s_nationkey"), col("n_suppliers"),
          expr("(r * 1000000L) div tot").as("sh"))
        .groupBy("s_nationkey", "n_suppliers")
        .agg(sum(expr("sh * sh")).as("hhi_e12"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("n_suppliers"),
          col("hhi_e12"))
        .orderBy("nation")
    },
    Some("""
      WITH lrev AS MATERIALIZED (
        SELECT l_suppkey,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS BIGINT) AS r
        FROM lineitem GROUP BY 1),
      rev AS (
        SELECT s_nationkey, s_suppkey, r
        FROM lrev JOIN supplier ON s_suppkey = l_suppkey),
      tot AS (SELECT s_nationkey AS nk, CAST(SUM(r) AS BIGINT) AS tot,
                     COUNT(*) AS n_suppliers
              FROM rev GROUP BY 1),
      sh AS (SELECT s_nationkey, n_suppliers,
                    (r * 1000000) // tot AS sh
             FROM rev JOIN tot ON nk = s_nationkey)
      SELECT n_name AS nation, n_suppliers,
             CAST(SUM(sh * sh) AS BIGINT) AS hhi_e12
      FROM sh JOIN nation ON n_nationkey = s_nationkey
      GROUP BY n_name, n_suppliers ORDER BY nation"""))

  /** Trade balance per nation: discounted revenue earned as the
    * SUPPLIER side vs spent as the CUSTOMER side, and the net — the two
    * fact aggregations join on the broadcastable nation grain, so the
    * report needs two scans and no wide shuffle. Exact e4 integers.
    */
  val tradeBalance: GraftQuery = GraftQuery(
    "trade_balance_nation",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val ord = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
      val cust = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
      val supp = Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val rev = Q.cents("l_extendedprice") * (lit(100L) - Q.cents("l_discount"))
      val export = li.select(col("l_suppkey"), rev.as("r"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nk"))
        .agg(sum("r").as("export_e4"))
      val imprt = li.select(col("l_orderkey"), rev.as("r"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"))
        .agg(sum("r").as("import_e4"))
      val nation = Tables(s, dir, "nation").select("n_nationkey", "n_name")
      export.join(imprt, Seq("nk"), "full")
        .join(broadcast(nation), col("nk") === col("n_nationkey"))
        .select(col("n_name").as("nation"),
          coalesce(col("export_e4"), lit(0L)).as("export_e4"),
          coalesce(col("import_e4"), lit(0L)).as("import_e4"),
          (coalesce(col("export_e4"), lit(0L)) -
            coalesce(col("import_e4"), lit(0L))).as("balance_e4"))
        .orderBy("nation")
    },
    Some("""
      WITH rev AS (
        SELECT l_orderkey, l_suppkey,
               CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS r
        FROM lineitem),
      ex AS (SELECT s_nationkey AS nk, CAST(SUM(r) AS BIGINT) AS export_e4
             FROM rev JOIN supplier ON s_suppkey = l_suppkey GROUP BY 1),
      im AS (SELECT c_nationkey AS nk, CAST(SUM(r) AS BIGINT) AS import_e4
             FROM rev
             JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
             GROUP BY 1)
      SELECT n_name AS nation,
             COALESCE(export_e4, 0) AS export_e4,
             COALESCE(import_e4, 0) AS import_e4,
             COALESCE(export_e4, 0) - COALESCE(import_e4, 0) AS balance_e4
      FROM ex FULL JOIN im USING (nk)
      JOIN nation ON n_nationkey = nk
      ORDER BY nation"""))

  /** The Q5 workload through the `spark.sql` entry point over temp
    * views — pins that the library's SQL surface (views + ANSI SQL text)
    * produces the identical plan family and bytes as the DataFrame
    * form: same oracle, same money math, dims still broadcast by the
    * optimizer without hints.
    */
  val sqlApiTwin: GraftQuery = GraftQuery(
    "sql_api_region_revenue",
    (s, dir) => {
      Seq("lineitem", "orders", "customer", "nation", "region").foreach { t =>
        Tables(s, dir, t).createOrReplaceTempView(s"g_$t")
      }
      s.sql("""
        SELECT r_name, n_name,
               SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                 AS revenue_e4
        FROM g_lineitem
        JOIN g_orders   ON l_orderkey = o_orderkey
        JOIN g_customer ON o_custkey = c_custkey
        JOIN g_nation   ON c_nationkey = n_nationkey
        JOIN g_region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
        ORDER BY r_name, revenue_e4 DESC, n_name""")
    },
    Some("""
      SELECT r_name, n_name,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS revenue_e4
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, revenue_e4 DESC, n_name"""))

  /** Bucketed-storage roundtrip gate: write lineitem and orders
    * bucketed+sorted by orderkey (`graft.sources.Bucketing` — the
    * co-located layout for repeated 100-TB fact-fact joins), then join
    * and aggregate OFF THE BUCKETED TABLES and hash-check the result
    * against DuckDB reading the ORIGINAL parquet. This proves the
    * bucketed write→read→join path is lossless end-to-end;
    * BucketingSpec pins the exchange-free plan property; the sf100
    * measurement (18.5 s co-located vs 79.4 s shuffled, 4.3×) is
    * recorded in SCALE.md and BASELINE.md.
    */
  val bucketedJoin: GraftQuery = GraftQuery(
    "bucketed_join_roundtrip",
    (s, dir) => {
      val l = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = Tables(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      Bucketing.writeBucketed(l, "graft_bkt_lineitem", "l_orderkey", 8)
      Bucketing.writeBucketed(o, "graft_bkt_orders", "o_orderkey", 8)
      val bl = s.table("graft_bkt_lineitem")
      val bo = s.table("graft_bkt_orders")
      bl.join(bo, col("l_orderkey") === col("o_orderkey"))
        .groupBy(
          year(col("o_orderdate")).cast("long").as("o_year"),
          col("o_orderpriority"))
        .agg(
          sum(Q.cents("l_extendedprice") * (lit(100L) - Q.cents("l_discount")))
            .as("revenue_e4"),
          count(lit(1)).as("n"))
        .orderBy("o_year", "o_orderpriority")
    },
    Some("""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderpriority,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4,
             COUNT(*) AS n
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_year, o_orderpriority
      ORDER BY o_year, o_orderpriority"""))

  /** Q5 on the bucketed layout — the scale answer to q5's one remaining
    * heavy shuffle (the 600M-row lineitem⋈orders at sf100, ~65 s after
    * the broadcast dial). Both facts are written bucketed+sorted by
    * orderkey, so the fact-fact join runs exchange-free off the layout;
    * revenue is then PRE-AGGREGATED per custkey (the frame drops from
    * |lineitem| to ≤|customer| rows — at sf100, 600M→10M) before the
    * customer join, and nation/region broadcast. Same bytes as
    * q5_region_nation_revenue's oracle (grouped by region/nation, no
    * share columns); the q5 shape's sf100 times (51.2 s bucketed vs
    * 83.5 s plain) are recorded in SCALE.md and BASELINE.md.
    */
  val bucketedQ5: GraftQuery = GraftQuery(
    "bucketed_q5_region_revenue",
    (s, dir) => {
      val l = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
      Bucketing.writeBucketed(l, "graft_bkt5_lineitem", "l_orderkey", 8)
      Bucketing.writeBucketed(o, "graft_bkt5_orders", "o_orderkey", 8)
      val revPerCust = s.table("graft_bkt5_lineitem")
        .join(s.table("graft_bkt5_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum(Q.cents("l_extendedprice") *
          (lit(100L) - Q.cents("l_discount"))).as("rev_e4"))
      revPerCust
        .join(Tables(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, dir, "nation")
          .select("n_nationkey", "n_regionkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, dir, "region")
          .select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(sum("rev_e4").as("revenue_e4"))
        .orderBy("r_name", "n_name")
    },
    Some("""
      SELECT r_name, n_name,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS revenue_e4
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name
      ORDER BY r_name, n_name"""))

  /** Q18 on the bucketed layout — the scale answer to the heaviest
    * remaining core shape (93.8 s default / 63.0 s tuned at sf100):
    * BOTH of q18's exchanges sit on the bucket key, so off the layout
    * the whole query runs exchange-free until the tiny qualifying set.
    * The lineitem group-by-orderkey aggregation reads pre-partitioned
    * buckets (no shuffle), its HAVING output is already partitioned
    * like the bucketed orders table (no shuffle on either join side),
    * and only the few qualifying orders touch the broadcast customer
    * dim. Same bytes as q18_large_volume_customers' oracle on the
    * ORIGINAL parquet; BucketingSpec pins the exchange-free property
    * class, and SCALE.md records this query's sf100 times and its
    * executed-plan exchange count.
    */
  val bucketedQ18: GraftQuery = GraftQuery(
    "bucketed_q18_large_volume",
    (s, dir) => {
      val l = Tables(s, dir, "lineitem").select("l_orderkey", "l_quantity")
      val o = Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      Bucketing.writeBucketed(l, "graft_bkt18_lineitem", "l_orderkey", 8)
      Bucketing.writeBucketed(o, "graft_bkt18_orders", "o_orderkey", 8)
      val big = s.table("graft_bkt18_lineitem")
        .groupBy("l_orderkey")
        .agg(sum(Q.cents("l_quantity")).as("qty_cents"))
        .filter(col("qty_cents") > 250L * 100L)
      val c = Tables(s, dir, "customer").select("c_custkey", "c_name")
      big.join(s.table("graft_bkt18_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), Q.cents("o_totalprice").as("totalprice_cents"),
          col("qty_cents"))
        .orderBy(desc("qty_cents"), col("o_orderkey"))
    },
    Some("""
      WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
                 AS qty_cents
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 25000)
      SELECT c_custkey, c_name, o_orderkey, o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
             qty_cents
      FROM big
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      ORDER BY qty_cents DESC, o_orderkey"""))

  override def queries: Seq[GraftQuery] =
    Seq(flagship, pricingSummary, topOrders, regionRevenue, returnedRevenue,
      promoRevenue, largeVolume, paretoRevenue, rollupShares, sqlApiTwin,
      gridHistogram, aboveAvgOrders, newVsRepeat, hhiConcentration,
      tradeBalance, bucketedJoin, bucketedQ5, bucketedQ18)
}
