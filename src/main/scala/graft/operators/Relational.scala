package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.GQuery
import graft.GQuery.{oracled, sqlSurface}
import graft.sources.Tables
import graft.functions.GraftFunctions._

/** The relational operator surface (SURVEY.md §2.1 S1-S5/P1-P4/A1-A7/J1-J2
  * + §2.2 gaps), each operator exercised by a named, DuckDB-oracle-checked
  * query over the fixture star schema.
  *
  * Scale posture: every aggregation is a single hash-aggregate shuffle with
  * map-side partial aggregation (the reference's count+sum+join triple,
  * SVDMovieLensSparkJava.java:196-212, collapses into one `groupBy.agg`);
  * dimension joins broadcast; nothing ever collects to the driver.
  */
object Relational {

  /** q01 — pricing summary (A1+A2+A5 lineage). Descendant of the
    * reference's per-key count/sum stats (SVDMovieLensSparkJava.java:196-212)
    * over the measure-bearing fixture table. Exact decimal sums, one
    * shuffle, partial agg map-side.
    */
  val q01 = oracled(
    "q01_pricing_summary",
    "groupBy multi-aggregate with exact decimal sums + derived averages",
    """SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
       FROM lineitem
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1) - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("sum_disc_price"),
        (sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q02 — filtered scan with pushdown (the filter operator the reference
    * lacks entirely, SURVEY.md §2.2 row 1). All predicates + the 4-column
    * projection reach the parquet scan (PushedFilters/ReadSchema).
    */
  val q02 = oracled(
    "q02_filtered_scan",
    "conjunctive predicates + projection, pushed to the parquet scan",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         AND l_shipdate <  TIMESTAMP '1998-01-01'
         AND l_discount BETWEEN 0.03 AND 0.07
         AND l_quantity < 10
       ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
        && col("l_discount").between(0.03, 0.07)
        && col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** q03 — per-customer order stats (A1+A2+A5+J1 descendant): the
    * reference's count+sum+join triple (SVDMovieLensSparkJava.java:196-203)
    * as ONE hash aggregate, plus the Bayesian pseudo-average
    * (Movie.java:38-41) as a column expression.
    */
  val q03 = oracled(
    "q03_customer_order_stats",
    "per-key count/sum/avg/pseudo_avg in a single shuffle",
    """SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       (3.23*25 + CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)) / (25.0 + COUNT(*)) AS pseudo_avg
       FROM orders
       GROUP BY o_custkey
       ORDER BY o_custkey""") { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sum_price"),
        (sum(dec2(col("o_totalprice"))).cast("double") / count(lit(1))).as("avg_price"),
        pseudoAvg(sum(dec2(col("o_totalprice"))).cast("double"), count(lit(1)))
          .as("pseudo_avg"))
      .orderBy(col("o_custkey"))
  }

  /** q04 — star-schema revenue rollup: fact ⋈ three dims. The dims are
    * broadcast (auto under the 10MB threshold; nation/region always tiny),
    * so the only shuffle is the final aggregation — the shape that holds
    * at 100 TB with a multi-TB orders table.
    */
  val q04 = oracled(
    "q04_revenue_by_nation",
    "multi-way dimension join + aggregate (broadcast dims)",
    """SELECT r_name, n_name,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT c.c_custkey) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r_name, n_name
       ORDER BY r_name, n_name""") { (s, dir) =>
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        sum(dec2(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** q05 — left outer join coverage: nations with zero suppliers survive
    * with count 0 (outer-join surface absent from the reference,
    * SURVEY.md §2.2 row 2).
    */
  val q05 = oracled(
    "q05_left_join_coverage",
    "left outer join + null-safe aggregates over the unmatched side",
    """SELECT n_name,
       COUNT(s_suppkey) AS n_suppliers,
       CAST(COALESCE(SUM(CAST(s_acctbal AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_bal
       FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
       GROUP BY n_name
       ORDER BY n_name""") { (s, dir) =>
    Tables.nation(s, dir)
      .join(Tables.supplier(s, dir), col("n_nationkey") === col("s_nationkey"), "left")
      .groupBy(col("n_name"))
      .agg(
        count(col("s_suppkey")).as("n_suppliers"),
        coalesce(sum(dec2(col("s_acctbal"))), lit(0)).cast("double").as("total_bal"))
      .orderBy(col("n_name"))
  }

  /** q06 — full outer join of two per-nation aggregates, unmatched sides
    * coalesced to zero.
    */
  val q06 = oracled(
    "q06_full_outer_counts",
    "full outer join of two aggregates with coalesced keys",
    """SELECT COALESCE(c.k, s.k) AS nationkey,
       COALESCE(c.n_cust, 0) AS n_cust,
       COALESCE(s.n_supp, 0) AS n_supp
       FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
       FULL OUTER JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
       ON c.k = s.k
       ORDER BY nationkey""") { (s, dir) =>
    val c = Tables.customer(s, dir).groupBy(col("c_nationkey").as("ck"))
      .agg(count(lit(1)).as("n_cust"))
    val sp = Tables.supplier(s, dir).groupBy(col("s_nationkey").as("sk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(sp, col("ck") === col("sk"), "full_outer")
      .select(
        coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  /** q07 — left-semi join (EXISTS): customers having at least one
    * high-value order. Semi joins never duplicate the probe side — at
    * scale this is a broadcast/shuffled semi, not a join+distinct.
    */
  val q07 = oracled(
    "q07_semi_join_exists",
    "left-semi join == EXISTS subquery",
    """SELECT c_custkey, c_mktsegment, c_acctbal
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
       ORDER BY c_custkey""") { (s, dir) =>
    val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 400000)
    Tables.customer(s, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** q08 — left-anti join (NOT EXISTS): customers with no orders at all. */
  val q08 = oracled(
    "q08_anti_join_not_exists",
    "left-anti join == NOT EXISTS subquery",
    """SELECT c_custkey, c_mktsegment
       FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       ORDER BY c_custkey""") { (s, dir) =>
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** q09 — explicit broadcast-hash join of fact against the part dim
    * (J2's hand-rolled broadcast lookup, SVDMovieLensSparkJava.java:447-448,
    * :504, done the Spark way with a `broadcast()` hint).
    */
  val q09 = oracled(
    "q09_broadcast_brand_agg",
    "broadcast-hint join + aggregate over the fact side",
    """SELECT p_brand,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS brand_revenue,
       MIN(p_retailprice) AS min_retail,
       MAX(p_retailprice) AS max_retail
       FROM lineitem JOIN part ON l_partkey = p_partkey
       GROUP BY p_brand
       ORDER BY p_brand""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("brand_revenue"),
        min(col("p_retailprice")).as("min_retail"),
        max(col("p_retailprice")).as("max_retail"))
      .orderBy(col("p_brand"))
  }

  /** q10 — global aggregates in one pass (A3 `count()` + A4 global sum,
    * SVDMovieLensSparkJava.java:465-467, without the reference's triple
    * lineage recomputation — one job, one partial+final agg).
    */
  val q10 = oracled(
    "q10_global_agg",
    "single-row global aggregate (count/distinct/sum/min/max)",
    """SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(MIN(l_shipdate) AS DATE) AS min_ship,
       CAST(MAX(l_shipdate) AS DATE) AS max_ship
       FROM lineitem""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        min(col("l_shipdate")).cast("date").as("min_ship"),
        max(col("l_shipdate")).cast("date").as("max_ship"))
  }

  /** q11 — global top-k: planned as TakeOrderedAndProject (no full sort,
    * per-partition heaps + driver merge of k rows — the 100 TB-safe shape).
    */
  val q11 = oracled(
    "q11_top_orders",
    "ORDER BY ... LIMIT k == TakeOrderedAndProject",
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
       FROM orders
       ORDER BY o_totalprice DESC, o_orderkey
       LIMIT 20""") { (s, dir) =>
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** q12 — top-k per group via ranking window (the per-group analogue the
    * reference has no way to express; SURVEY.md §2.2 sorts/limits row).
    */
  val q12 = oracled(
    "q12_topk_per_segment",
    "row_number window + filter == top-k per group",
    """SELECT * FROM (
         SELECT c_mktsegment, c_custkey, c_acctbal,
                ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal DESC, c_custkey) AS rn
         FROM customer) t
       WHERE rn <= 3
       ORDER BY c_mktsegment, rn""") { (s, dir) =>
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** q13 — ranking + analytic window functions (rank/dense_rank/lag/lead)
    * over each customer's order history.
    */
  val q13 = oracled(
    "q13_window_rank_lag",
    "rank/dense_rank/lag/lead over a per-key ordered window",
    """SELECT o_custkey, o_orderkey, o_totalprice,
       RANK()       OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       LAG(o_totalprice)  OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
       ORDER BY o_custkey, rnk""") { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** q14 — window frames: running total (unbounded preceding) and a
    * 3-row sliding average per customer, ordered by order date.
    */
  val q14 = oracled(
    "q14_running_window_frames",
    "cumulative + sliding window frames with exact decimal running sums",
    """SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS sliding_avg
       FROM orders
       ORDER BY o_custkey, o_orderkey""") { (s, dir) =>
    val base = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val cum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val slide = base.rowsBetween(-2, Window.currentRow)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(dec2(col("o_totalprice"))).over(cum).cast("double").as("running_total"),
        (sum(dec2(col("o_totalprice"))).over(slide).cast("double")
          / count(lit(1)).over(slide)).as("sliding_avg"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** q167 — TPC-H Q8-shaped market share: over the FULL join graph
    * (lineitem → orders → customer → nation → region, plus part and the
    * supplier's own nation), the yearly share of ECONOMY-part revenue in
    * the ASIA market supplied from NATION_7. The deep-join showcase:
    * five dimension hops broadcast, the single fact scan shuffles once
    * for the year rollup. Plan shape: every dimension is a
    * BroadcastHashJoin under the one fact-side hash aggregate — the
    * 100 TB star-join discipline on the engine's widest query.
    *
    * Gate discipline (r8 rewrite, r9 re-render): the share is EXACT
    * parts-per-million by integer floor division — per-row volume is an
    * exact BIGINT in 1e-4 units (dec2 price × dec(4,2) multiplier ×
    * 10000, scale-4 and integer-valued by construction), summed as
    * DECIMAL(38,0) internally; ppm = ⌊num·10^6 / den⌋ via Spark `div`
    * (IntegralDivide on decimals) vs DuckDB HUGEINT `//` — both exact
    * on non-negative integers, no double quotient, no ROUND, no engine
    * rounding policy (the r7 driver-hash failure was
    * ROUND(double/double, 6), a DuckDB-version-sensitive construct).
    * The r8 residual red was the DECIMAL(38,4) `volume` OUTPUT column —
    * the r8 probe bisection (q167a integer columns GREEN, q167b volume
    * RED, data-free q74d RED) convicted the driver's decimal rendering,
    * so the gate column is now `volume_u4`: the same exact sum emitted
    * as BIGINT 1e-4 units (DuckDB's SUM(BIGINT) returns HUGEINT — cast
    * back to BIGINT on the oracle side). Decimals remain internal only.
    */
  val q167 = oracled(
    "q167_market_share",
    "TPC-H Q8-style CASE-weighted market share over the full join graph (exact integer ppm)",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)) AS BIGINT)
           AS volume_u4,
         CAST((CAST(SUM(CASE WHEN sn.n_name = 'NATION_7'
               THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)
               ELSE 0 END) AS HUGEINT) * 1000000)
           // CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT))
             AS HUGEINT) AS BIGINT)
           AS mkt_share_ppm
       FROM lineitem
       JOIN orders   ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation cn ON c_nationkey = cn.n_nationkey
       JOIN region   ON cn.n_regionkey = r_regionkey
       JOIN part     ON l_partkey = p_partkey
       JOIN supplier ON l_suppkey = s_suppkey
       JOIN nation sn ON s_nationkey = sn.n_nationkey
       WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
       GROUP BY o_year ORDER BY o_year""") { (s, dir) =>
    val vol = dec2(col("l_extendedprice")) *
      (lit(1) - col("l_discount").cast("decimal(4,2)"))
    // exact scale-4 volume as a per-row BIGINT in 1e-4 units: the ×10000
    // shift of an integer-valued scale-4 decimal never rounds
    val volU = (vol * 10000).cast("long")
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir).select(
        col("n_nationkey").as("cn_key"), col("n_regionkey"))),
        col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir).select(
        col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))),
        col("s_nationkey") === col("sn_key"))
      .filter(col("r_name") === "ASIA" && col("p_type") === "ECONOMY")
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      // the ppm division runs on DECIMAL(38,0) sums internally (a long
      // num_u·10^6 could overflow past 2^63 at scale), but the gate
      // column volume_u4 is the same exact sum re-emitted as BIGINT —
      // integer-valued by construction, exact below 2^63
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("sn_name") === "NATION_7", volU).otherwise(lit(0L))
          .cast("decimal(38,0)")).as("num_u"),
        sum(volU.cast("decimal(38,0)")).as("den_u"))
      .select(col("o_year"), col("n_lines"),
        col("den_u").cast("long").as("volume_u4"),
        expr("CAST((num_u * 1000000) div den_u AS BIGINT)").as("mkt_share_ppm"))
      .orderBy(col("o_year"))
  }

  /** q202 — correlated scalar subqueries through the SQL surface: the
    * one relational capability the registry exercised only in its
    * decorrelated form. The SAME text runs on both engines; Spark's
    * analyzer must DECORRELATE the two per-part scalar subqueries into
    * aggregate-plus-join form (RewriteCorrelatedScalarSubquery) or the
    * plan degenerates to a per-row nested-loop re-scan of lineitem —
    * the difference between O(N) and O(N²) at 100 TB. PlanContractSpec
    * pins the decorrelation (no nested-loop/cartesian join, exactly one
    * extra aggregate over the fact side). The views live on a cloned
    * session ([[GQuery.sqlOver]]), so the query composes with the
    * registry's (session, dir) contract.
    *
    * The text is TPC-H Q17's shape (small-quantity outliers vs the
    * PER-PART average) with the float-policy risk removed: the threshold
    * compare is all integer (`5·qty·count < Σqty`, quantities are
    * integral in the fixture and the oracle casts through BIGINT),
    * revenue crosses the gate as an exact BIGINT cents sum, and there is
    * no division anywhere. Spark sums BIGINT to BIGINT while DuckDB
    * widens to HUGEINT — the outer CAST normalizes both; the per-row
    * cents value is integer-valued scale-2 decimal × 100, exact in both
    * engines.
    */
  val q202 = sqlSurface(
    "q202_correlated_subquery",
    "TPC-H Q17-shaped correlated scalar subqueries, decorrelated by the analyzer (all-integer threshold)",
    """SELECT p_brand,
         CAST(COUNT(*) AS BIGINT) AS n_small,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS BIGINT) AS small_rev_cents
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_type = 'ECONOMY'
         AND l_quantity * 5 * (SELECT COUNT(*) FROM lineitem l2
                               WHERE l2.l_partkey = p_partkey)
             < (SELECT SUM(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
                WHERE l2.l_partkey = p_partkey)
       GROUP BY p_brand ORDER BY p_brand""",
    "lineitem", "part")

  /** q207 — runtime bloom-filter join pruning: when a selective
    * predicate sits on one side of a SHUFFLE join, Spark's
    * InjectRuntimeFilter builds a bloom filter over that side's join
    * keys at runtime and applies `might_contain` to the fact side
    * BEFORE its shuffle — at 100 TB this is the difference between
    * shuffling the whole fact table and shuffling the ~selectivity
    * fraction that can possibly match. Broadcast is disabled on a
    * cloned session to force the shuffle-join shape the optimization
    * exists for (a broadcast dim needs no runtime filter);
    * PlanContractSpec pins `bloom_filter_agg`/`might_contain` in the
    * plan. The oracle computes the identical join the straightforward
    * way — the filter is a pure pruning optimization, invisible in the
    * result.
    */
  val q207 = oracled(
    "q207_runtime_bloom_join",
    "runtime bloom filter prunes the fact side of a selective shuffle join",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_totalprice > 500000""") { (s, dir) =>
    val sp = s.newSession()
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sp.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    sp.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    sp.conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
    // production default is 10GB — the fact side must be "big enough to
    // bother"; the fixture obviously isn't, so the gate exercises the
    // mechanism with the threshold floored (the 100 TB deployment keeps
    // the default and triggers organically)
    sp.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    Tables.lineitem(sp, dir)
      .join(Tables.orders(sp, dir).filter(col("o_totalprice") > 500000),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).cast("long").as("n_lines"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("revenue"))
  }

  /** q208 — shuffle exchange reuse: the same aggregated subquery feeds
    * TWO plan branches (the per-order revenue table and its global
    * max), and Spark's ReuseExchange rule materializes the shuffle
    * ONCE — the second branch reads the first's shuffle files
    * (`ReusedExchange` in the plan). At 100 TB this is a whole fact
    * shuffle not re-executed; the pattern shows up whenever a derived
    * table is compared against its own aggregate (share-of-max,
    * above-average filters, self-joined rollups). Result columns are
    * exact integers (cents), so the gate is arithmetic-free; the plan
    * contract pins the reuse.
    */
  val q208 = oracled(
    "q208_reused_exchange",
    "self-referencing aggregate plans ONE shuffle + ReusedExchange for the second branch",
    """WITH r AS (
         SELECT l_orderkey,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
             AS BIGINT) AS rev_cents
         FROM lineitem GROUP BY l_orderkey)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CASE WHEN 2 * rev_cents >= m THEN 1 ELSE 0 END) AS BIGINT)
           AS n_above_half_max,
         CAST(MAX(m) AS BIGINT) AS max_rev_cents
       FROM r CROSS JOIN (SELECT MAX(rev_cents) AS m FROM r)""") { (s, dir) =>
    // AQE-off clone (the Graph/q206/q207 isolation pattern): without AQE
    // the ReuseExchange rule rewrites the second identical subtree to a
    // static `ReusedExchange` node — deterministically visible to the
    // plan contract. (Under AQE the same reuse happens at runtime via
    // shuffle-stage reuse; the semantics are identical, the static plan
    // just doesn't show it.)
    val sp = s.newSession()
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    val r = Tables.lineitem(sp, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum((dec2(col("l_extendedprice")) * 100).cast("long"))
        .cast("long").as("rev_cents"))
    r.crossJoin(broadcast(r.agg(max(col("rev_cents")).as("m"))))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(lit(2) * col("rev_cents") >= col("m"), 1).otherwise(0))
          .cast("long").as("n_above_half_max"),
        max(col("m")).cast("long").as("max_rev_cents"))
  }

  /** q240 — join-size estimation from count-min sketches: the
    * cardinality number a cost-based planner wants BEFORE running a
    * join — |orders ⋈ lineitem ON day| = Σ_d o(d)·l(d) — estimated as
    * the minimum over hash rows of the sketch INNER PRODUCT
    * Σ_j cm₁[i][j]·cm₂[i][j] (the classic AGMS/CM join-size
    * estimator; every row's dot = exact + non-negative collision
    * cross-terms, so the estimate provably never undershoots — the
    * emitted `overestimate` row is the visible slack). The sketches
    * are the native [[graft.functions.CountMinAgg]] state at width
    * 4096 (4×4096 cells ≈ 128 KB — sized so the fixture's ~2500-day
    * key domain actually collides: the measured overestimate is a
    * visible but planner-usable slack, not zero and not garbage);
    * because the hash family is plain affine arithmetic, the ORACLE
    * REBUILDS THE EXACT SKETCH CELLS in SQL and the estimate crosses
    * the gate hash-exact — no bound boolean needed. Two table scans
    * into two constant-size states, one 16k-element dot: the whole
    * estimate costs O(1) space per table, which is the point at
    * 100 TB.
    */
  val q240 = oracled(
    "q240_join_size_estimation",
    "CM-sketch inner-product join cardinality == oracle-rebuilt sketch, exact overestimate",
    """WITH od AS (SELECT ((CAST(o_orderdate AS TIMESTAMP)::DATE
             - DATE '1970-01-01') * 2654435761) % 4294967296 AS d
         FROM orders),
       ld AS (SELECT ((CAST(l_shipdate AS TIMESTAMP)::DATE
             - DATE '1970-01-01') * 2654435761) % 4294967296 AS d
         FROM lineitem),
       oc AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM od GROUP BY 1),
       lc AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM ld GROUP BY 1),
       ex AS (SELECT CAST(COALESCE(SUM(oc.c * lc.c), 0) AS BIGINT) AS v
         FROM oc JOIN lc USING (d)),
       rws AS (SELECT unnest(range(0, 4)) AS i),
       c1 AS (SELECT r.i,
           ((od.d * (131 + 2 * r.i) + (977 + 5 * r.i)) % 1000000007) % 4096
             AS j, CAST(COUNT(*) AS BIGINT) AS c
         FROM od CROSS JOIN rws r GROUP BY 1, 2),
       c2 AS (SELECT r.i,
           ((ld.d * (131 + 2 * r.i) + (977 + 5 * r.i)) % 1000000007) % 4096
             AS j, CAST(COUNT(*) AS BIGINT) AS c
         FROM ld CROSS JOIN rws r GROUP BY 1, 2),
       dots AS (SELECT a.i, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
         FROM c1 a JOIN c2 b ON a.i = b.i AND a.j = b.j GROUP BY 1),
       es AS (SELECT CAST(MIN(dot) AS BIGINT) AS v FROM dots)
       SELECT 'cm_estimate' AS metric, es.v AS value FROM es
       UNION ALL SELECT 'exact_join_rows', ex.v FROM ex
       UNION ALL SELECT 'overestimate', es.v - ex.v FROM es, ex
       ORDER BY metric""") { (s, dir) =>
    import graft.functions.CountMinAgg.countMinAgg
    val (depth, width, p) = (4, 4096, 1000000007L)
    // Knuth multiplicative scramble: a CONTIGUOUS day domain under the
    // affine row hash is injective below the width (131 ⊥ 4096, span <
    // 4096) — the sketch would be silently exact and the demo vacuous;
    // scrambling the key first makes cell collisions the real
    // birthday-bound phenomenon the estimator is designed around.
    def days(c: org.apache.spark.sql.Column) =
      pmod(datediff(c.cast("date"), lit("1970-01-01")).cast("long")
        * 2654435761L, lit(4294967296L))
    val od = Tables.orders(s, dir).select(days(col("o_orderdate")).as("d"))
    val ld = Tables.lineitem(s, dir).select(days(col("l_shipdate")).as("d"))
    val exact = od.groupBy(col("d")).agg(count(lit(1)).as("oc"))
      .join(ld.groupBy(col("d")).agg(count(lit(1)).as("lc")), Seq("d"))
      .agg(coalesce(sum(col("oc") * col("lc")), lit(0L)).as("v"))
    val sk = od.agg(countMinAgg(col("d"), depth, width, p).as("c1"))
      .crossJoin(ld.agg(countMinAgg(col("d"), depth, width, p).as("c2")))
    val est = sk
      .select(posexplode(zip_with(col("c1"), col("c2"), _ * _))
        .as(Seq("idx", "prod")))
      .groupBy(expr(s"idx div $width").as("row"))
      .agg(sum(col("prod")).as("dot"))
      .agg(min(col("dot")).as("v"))
    est.crossJoin(exact.withColumnRenamed("v", "ex"))
      .select(expr(
        """stack(3,
             'cm_estimate', v,
             'exact_join_rows', ex,
             'overestimate', v - ex) AS (metric, value)"""))
      .orderBy(col("metric"))
  }

  /** q265 — BLOOM-FILTER SEMI-JOIN REDUCTION, the runtime-filter
    * pushdown (Spark's `spark.sql.optimizer.runtimeFilter.bloomFilter`,
    * every MPP engine's join bloom) made explicit and gated: the build
    * side (customers of one nation) folds into a 16384-bit / k=2 bloom
    * as 62-bit BIGINT words (bit 63 would overflow DuckDB's checked
    * shift; 62 keeps every word positive on both engines) via ONE
    * `bit_or` partial aggregate — a ~265-row broadcast — and the probe
    * side (distinct event users) tests membership with two broadcast
    * word lookups BEFORE any shuffle would happen. The output is the
    * reduction ledger per user bucket: probe keys, bloom passes, exact
    * members, false positives (exact on both engines — the SAME two
    * overflow-safe affine hashes run in SQL), and false negatives,
    * which the bloom construction makes identically ZERO — the no-FN
    * law is hash-gated as data, not asserted. At 100 TB the bloom is
    * the only thing that moves (executor-local probe filtering,
    * O(bits) not O(keys)); FP rows are the cost knob the m/k choice
    * controls, and they are COUNTED, not estimated.
    */
  val q265 = oracled(
    "q265_bloom_semijoin",
    "bloom-filter probe-side reduction ledger — bit-exact filter words + FP/FN counts both engines",
    """WITH keys AS (SELECT DISTINCT c_custkey AS u FROM customer
           WHERE c_nationkey = 3),
       h AS (SELECT u,
           ((u % 100003) * 2654435761) % 1000000007 % 16384 AS h1,
           ((u % 99991) * 40503 + 17) % 999983 % 16384 AS h2
         FROM keys),
       bits AS (SELECT h1 AS pos FROM h UNION ALL SELECT h2 FROM h),
       bloom AS (SELECT pos // 62 AS w,
           BIT_OR(1::BIGINT << CAST(pos % 62 AS INTEGER)) AS bm
         FROM bits GROUP BY 1),
       probe AS (SELECT DISTINCT user_id AS u FROM events),
       ph AS (SELECT u,
           ((u % 100003) * 2654435761) % 1000000007 % 16384 AS h1,
           ((u % 99991) * 40503 + 17) % 999983 % 16384 AS h2
         FROM probe),
       tst AS (SELECT ph.u,
           CASE WHEN b1.bm IS NOT NULL
                 AND (b1.bm & (1::BIGINT << CAST(ph.h1 % 62 AS INTEGER))) <> 0
                 AND b2.bm IS NOT NULL
                 AND (b2.bm & (1::BIGINT << CAST(ph.h2 % 62 AS INTEGER))) <> 0
             THEN 1 ELSE 0 END AS pass
         FROM ph
         LEFT JOIN bloom b1 ON b1.w = ph.h1 // 62
         LEFT JOIN bloom b2 ON b2.w = ph.h2 // 62),
       ex AS (SELECT t.u, t.pass,
           CASE WHEN k.u IS NOT NULL THEN 1 ELSE 0 END AS member
         FROM tst t LEFT JOIN keys k ON k.u = t.u)
       SELECT u % 50 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS probe_keys,
         CAST(SUM(pass) AS BIGINT) AS bloom_passed,
         CAST(SUM(member) AS BIGINT) AS exact_members,
         CAST(SUM(CASE WHEN pass = 1 AND member = 0 THEN 1 ELSE 0 END)
           AS BIGINT) AS false_positives,
         CAST(SUM(CASE WHEN pass = 0 AND member = 1 THEN 1 ELSE 0 END)
           AS BIGINT) AS false_negatives
       FROM ex GROUP BY 1 ORDER BY bucket""") { (s, dir) =>
    def h1(u: Column): Column =
      (u % 100003) * 2654435761L % 1000000007L % 16384
    def h2(u: Column): Column =
      ((u % 99991) * 40503 + 17) % 999983 % 16384
    val keys = Tables.customer(s, dir).filter(col("c_nationkey") === 3)
      .select(col("c_custkey").as("u")).distinct()
    val bits = keys.select(h1(col("u")).as("pos"))
      .unionByName(keys.select(h2(col("u")).as("pos")))
    val bloom = bits.groupBy(expr("pos div 62").as("w"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 62 as int)))").as("bm"))
    val ph = Tables.events(s, dir).select(col("user_id").as("u")).distinct()
      .withColumn("h1", h1(col("u"))).withColumn("h2", h2(col("u")))
    val tst = ph
      .join(broadcast(bloom.select(col("w").as("w1"), col("bm").as("bm1"))),
        col("w1") === expr("h1 div 62"), "left")
      .join(broadcast(bloom.select(col("w").as("w2"), col("bm").as("bm2"))),
        col("w2") === expr("h2 div 62"), "left")
      .withColumn("pass",
        when(col("bm1").isNotNull &&
          col("bm1").bitwiseAND(expr("shiftleft(1L, cast(h1 % 62 as int))")) =!= 0 &&
          col("bm2").isNotNull &&
          col("bm2").bitwiseAND(expr("shiftleft(1L, cast(h2 % 62 as int))")) =!= 0,
          1L).otherwise(0L))
    tst
      .join(broadcast(keys.withColumn("member", lit(1L))), Seq("u"), "left")
      .withColumn("member", coalesce(col("member"), lit(0L)))
      .groupBy((col("u") % 50).as("bucket"))
      .agg(count(lit(1)).as("probe_keys"),
        sum(col("pass")).as("bloom_passed"),
        sum(col("member")).as("exact_members"),
        sum(when(col("pass") === 1 && col("member") === 0, 1L).otherwise(0L))
          .as("false_positives"),
        sum(when(col("pass") === 0 && col("member") === 1, 1L).otherwise(0L))
          .as("false_negatives"))
      .orderBy(col("bucket"))
  }

  /** q266 — salted join UNDER REAL SKEW, on the sort-merge path: q107
    * already gates [[Skew.saltedJoin]]'s shuffle-hash form, but on a
    * uniform key — the mechanism passes its gate without ever facing
    * the pathology it exists for. Here the fact side carries an
    * ENGINEERED hot key (half of all events land on key 0 — a 50%
    * single-key shuffle partition), the strategy pin is `merge` (the
    * path big-×-big joins actually take, where the hot key's sort
    * partition is the straggler), and PlanContractSpec asserts the
    * salt column reaches the exchange keys — the spread is a plan
    * contract, not a hope. The oracle is the PLAIN join: the gate
    * proves salting is pure mechanics with zero semantic residue even
    * when the cap actually bites. Salt = event_id % 8, deterministic
    * (no rand()), retry-safe.
    */
  val q266 = oracled(
    "q266_salted_skew_join",
    "hot-key fact⋈dim via Skew.saltedJoin on the merge path == plain-join oracle",
    """WITH f AS (SELECT CASE WHEN event_id % 2 = 0 THEN 0
             ELSE event_id % 97 END AS k,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
         FROM events),
       d AS (SELECT i AS k, (i * 37) % 101 AS weight FROM range(0, 97) t(i))
       SELECT f.k AS key, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(f.cents * d.weight) AS BIGINT) AS weighted_cents
       FROM f JOIN d ON f.k = d.k GROUP BY 1 ORDER BY key""") { (s, dir) =>
    val fact = Tables.events(s, dir)
      .select(when(col("event_id") % 2 === 0, 0L)
          .otherwise(col("event_id") % 97).as("k"),
        (dec2(col("value")) * 100).cast("long").as("cents"),
        col("event_id"))
    val dim = s.range(0, 97).select(col("id").as("k"),
      ((col("id") * 37) % 101).as("weight"))
    Skew.saltedJoin(fact, dim, "k", saltSource = col("event_id"),
        saltBuckets = 8, strategy = "merge")
      .groupBy(col("k").as("key"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("cents") * col("weight")).as("weighted_cents"))
      .orderBy(col("key"))
  }

  private val bktCache =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  /** Bucketed orders + lineitem (8 buckets on the order key, sorted
    * within buckets) registered once per (SparkContext, dir) as
    * external tables under java.io.tmpdir — the Ingest path-cache
    * discipline. Bucketing is the WRITE-ONCE pre-shuffle: both sides
    * persisted in the same hash layout on the join key, so every
    * subsequent join on that key reads co-located buckets and runs
    * with ZERO exchanges.
    */
  private[graft] def bucketedOrderTables(s: SparkSession, dir: String): (String, String) =
    graft.Memo.sync(bktCache, graft.Memo.key(s, dir))( {
      val tag = s"${ProcessHandle.current().pid()}_" +
        Integer.toHexString(s.sparkContext.applicationId.hashCode & 0x7fffffff) +
        "_" + Integer.toHexString(dir.hashCode & 0x7fffffff)
      val base = sys.props("java.io.tmpdir") + s"/graft_q274_bkt_$tag"
      val (to, tl) = (s"orders_bkt_$tag", s"lineitem_bkt_$tag")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").mode("overwrite").saveAsTable(to)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), dec2(col("l_quantity")).as("q"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").mode("overwrite").saveAsTable(tl)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(base))
      }))
      (to, tl)
    })

  /** q274 — ZERO-EXCHANGE bucketed join, gated: the co-located join
    * layout every 100 TB warehouse maintains (bucketBy = the shuffle
    * paid ONCE at write time, amortized over every subsequent join on
    * the key) as a driver-checked query, not just BucketingSpec's plan
    * assertion. Both tables persist in the same 8-bucket hash layout
    * on the order key; the `merge`-hinted join reads co-located
    * buckets — PlanContractSpec asserts the join subtree contains NO
    * `Exchange hashpartitioning` (the final small aggregate shuffles,
    * which is the correct residual). The oracle is the plain join over
    * the raw parquet: identical results, the layout is pure physics.
    */
  val q274 = oracled(
    "q274_bucketed_join",
    "bucketBy(8) co-located orders⋈lineitem with no join-time exchange == plain-join oracle",
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT)
         AS qty_cents
       FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
    val (to, tl) = bucketedOrderTables(s, dir)
    s.table(to).hint("merge")
      .join(s.table(tl), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        (sum(col("q")) * 100).cast("long").as("qty_cents"))
      .orderBy(col("o_orderpriority"))
  }

  // ------------------------------------------------- spatial grid join

  /** q287 — SPATIAL EPSILON-JOIN via uniform grid partitioning (the
    * classic spatial-hash join every geo/embedding-2D pipeline runs;
    * the fixed-grid special case of GeoSpark/Sedona's partitioned
    * spatial join): points (pure integer hash of c_custkey into a
    * 100k×100k lattice) are bucketed into r-sized cells (cell = coord
    * div r, r = 300); each point is REPLICATED to its 3×3 cell
    * neighborhood on the build side and kept in its single home cell
    * on the probe side, so every pair within L∞ distance r meets in
    * EXACTLY ONE cell (the probe point's home — no dedup pass needed,
    * the replication asymmetry is the exactly-once proof) and the
    * a < b predicate kills the mirrored match. Exact L2 filter
    * dx²+dy² ≤ r² on the bounded candidates. Ledger: total near-pair
    * count + the 20 closest pairs under the (dist², id_a, id_b) total
    * order.
    *
    * Scale shape: ONE equi-join on cell id — candidates are bounded
    * by 9× the per-cell occupancy (density-bounded, never n²); the
    * oracle runs the brute-force band join instead (DuckDB's IEJoin
    * makes it feasible at every fixture), so the gate IS the
    * grid == brute-force equivalence proof, at every scale the sweep
    * touches. All arithmetic BIGINT (coords < 10⁵ ⇒ dist² < 2·10¹⁰).
    */
  val q287 = oracled(
    "q287_spatial_grid_join",
    "grid-partitioned epsilon self-join == brute-force band-join oracle; top-20 closest",
    """WITH pts AS (SELECT c_custkey AS id,
           xor(c_custkey * 2654435761 % 4294967296,
             (c_custkey * 2654435761 % 4294967296) // 65536)
             * 40503 % 4294967296 % 100000 AS x,
           xor(c_custkey * 1779033703 % 4294967296,
             (c_custkey * 1779033703 % 4294967296) // 65536)
             * 48271 % 4294967296 % 100000 AS y
         FROM customer),
       pr AS (SELECT a.id AS id_a, b.id AS id_b,
           (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
         FROM pts a JOIN pts b ON a.id < b.id
           AND b.x BETWEEN a.x - 300 AND a.x + 300
           AND b.y BETWEEN a.y - 300 AND a.y + 300
         WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= 90000),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_pairs FROM pr),
       rk AS (SELECT id_a, id_b, CAST(dist2 AS BIGINT) AS dist2,
           ROW_NUMBER() OVER (ORDER BY dist2, id_a, id_b) AS rank
         FROM pr)
       SELECT CAST(rank AS BIGINT) AS rank, id_a, id_b, dist2,
         total_pairs
       FROM rk CROSS JOIN tot WHERE rank <= 20 ORDER BY rank""") {
    (s, dir) =>
    val r = 300L
    // xorshift-multiply, NOT a bare LCG: affine-in-key coordinate
    // pairs land on Marsaglia lattice planes (empirically ZERO near
    // pairs at sf0.01); the xor-fold breaks the linearity and the
    // pair count matches the Poisson density expectation at every sf
    def h(mult: Long, post: Long): Column = expr(
      s"""(c_custkey * $mult % 4294967296L
          ^ (c_custkey * $mult % 4294967296L) div 65536)
          * $post % 4294967296L % 100000""")
    val pts = Tables.customer(s, dir).select(
        col("c_custkey").as("id"),
        h(2654435761L, 40503L).as("x"),
        h(1779033703L, 48271L).as("y"))
      .withColumn("cx", expr(s"x div $r"))
      .withColumn("cy", expr(s"y div $r"))
      .localCheckpoint(false)
    val offsets = Seq(-1L, 0L, 1L).flatMap(dx =>
      Seq(-1L, 0L, 1L).map(dy => struct(lit(dx), lit(dy))))
    val build = pts.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"),
        explode(array(offsets: _*)).as("o"),
        col("cx"), col("cy"))
      .select(col("id_a"), col("xa"), col("ya"),
        (col("cx") + col("o.col1")).as("jx"),
        (col("cy") + col("o.col2")).as("jy"))
    val probe = pts.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("cx").as("jx"), col("cy").as("jy"))
    val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    val pr = build.join(probe, Seq("jx", "jy"))
      .filter(col("id_a") < col("id_b") && d2 <= lit(r * r))
      .select(col("id_a"), col("id_b"), d2.as("dist2"))
      .localCheckpoint(false)
    val tot = pr.agg(count(lit(1)).as("total_pairs"))
    // r17 (§2.1): top-20 via orderBy+limit — no pair-table-sized
    // single-partition rank window
    pr.orderBy(col("dist2"), col("id_a"), col("id_b")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("dist2"), col("id_a"),
          col("id_b"))).cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("id_a"), col("id_b"), col("dist2"),
        col("total_pairs"))
      .orderBy(col("rank"))
  }

  // ------------------------------------------- join-order cost model

  /** q300 — SELINGER-style JOIN-ORDER enumeration over the
    * region–nation–customer–orders chain (System R 1979 — the cost
    * model every CBO descends from, here run as a QUERY so the
    * engine's own reasoning is a hash-gated artifact): exact
    * statistics (row counts + join-key NDVs, collected from the data
    * in one pass each) feed the textbook estimate |X ⋈ T| = |X|·|T|
    * div max(ndv_left, ndv_right) folded along each of the 8
    * connected left-deep orders of the chain (prefix-connectivity
    * prunes 4! = 24 down to 8 — the cross-product-free space);
    * cost = Σ intermediate sizes, argmin flagged. ONE Scala generator
    * emits the fold arithmetic into BOTH engines (the edgesCte/IntLog2
    * lockstep discipline), so the ledger is bit-identical by
    * construction: integer floor division on non-negative moments.
    *
    * Scale shape: statistics are 4 partial-aggregable scans (count +
    * countDistinct each — at 100 TB these become the sketched NDVs
    * the real CBO uses, the documented substitution point); the
    * enumeration itself is arithmetic over a 1-row broadcast stats
    * frame × 8 literal orders — zero data motion. The estimates are
    * the MODEL's output, not row counts: the gate certifies the cost
    * arithmetic, q274/q202 certify actual plans.
    */
  val q300 = oracled(
    "q300_join_order_costs",
    "Selinger left-deep enumeration: exact-stats cost ledger for all 8 connected orders",
    {
      val orders = Seq(
        1 -> Seq("r", "n", "c", "o"), 2 -> Seq("n", "r", "c", "o"),
        3 -> Seq("n", "c", "r", "o"), 4 -> Seq("n", "c", "o", "r"),
        5 -> Seq("c", "n", "r", "o"), 6 -> Seq("c", "n", "o", "r"),
        7 -> Seq("c", "o", "n", "r"), 8 -> Seq("o", "c", "n", "r"))
      val size = Map("r" -> "cr", "n" -> "cn", "c" -> "cc", "o" -> "co")
      val nbrs = Map("r" -> Seq("n"), "n" -> Seq("r", "c"),
        "c" -> Seq("n", "o"), "o" -> Seq("c"))
      val edge = Map(
        Set("r", "n") -> "GREATEST(ndv_r_rk, ndv_n_rk)",
        Set("n", "c") -> "GREATEST(ndv_n_nk, ndv_c_nk)",
        Set("c", "o") -> "GREATEST(ndv_c_ck, ndv_o_ck)")
      def fold(ord: Seq[String], divOp: String): Seq[String] = {
        var cur = size(ord.head)
        var prefix = Set(ord.head)
        ord.tail.map { t =>
          val nbr = nbrs(t).find(prefix.contains).get
          cur = s"(($cur * ${size(t)}) $divOp ${edge(Set(t, nbr))})"
          prefix += t
          cur
        }
      }
      def rows(divOp: String): String = orders.map { case (oid, ord) =>
        val Seq(e1, e2, e3) = fold(ord, divOp)
        s"""SELECT CAST($oid AS BIGINT) AS order_id,
           '${ord.mkString(",")}' AS ord,
           CAST($e1 AS BIGINT) AS est1, CAST($e2 AS BIGINT) AS est2,
           CAST($e3 AS BIGINT) AS est3,
           CAST($e1 + $e2 + $e3 AS BIGINT) AS cost FROM stats"""
      }.mkString("\n UNION ALL\n")
      s"""WITH stats AS (SELECT
           (SELECT CAST(COUNT(*) AS BIGINT) FROM region) AS cr,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS cn,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS cc,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS co,
           (SELECT CAST(COUNT(DISTINCT r_regionkey) AS BIGINT)
             FROM region) AS ndv_r_rk,
           (SELECT CAST(COUNT(DISTINCT n_regionkey) AS BIGINT)
             FROM nation) AS ndv_n_rk,
           (SELECT CAST(COUNT(DISTINCT n_nationkey) AS BIGINT)
             FROM nation) AS ndv_n_nk,
           (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT)
             FROM customer) AS ndv_c_nk,
           (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
             FROM customer) AS ndv_c_ck,
           (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
             FROM orders) AS ndv_o_ck),
         plans AS (
         ${rows("//")})
         SELECT order_id, ord, est1, est2, est3, cost,
           CAST(CASE WHEN ROW_NUMBER() OVER (ORDER BY cost, order_id)
             = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_best
         FROM plans ORDER BY order_id"""
    }) { (s, dir) =>
    val orders = Seq(
      1 -> Seq("r", "n", "c", "o"), 2 -> Seq("n", "r", "c", "o"),
      3 -> Seq("n", "c", "r", "o"), 4 -> Seq("n", "c", "o", "r"),
      5 -> Seq("c", "n", "r", "o"), 6 -> Seq("c", "n", "o", "r"),
      7 -> Seq("c", "o", "n", "r"), 8 -> Seq("o", "c", "n", "r"))
    val size = Map("r" -> "cr", "n" -> "cn", "c" -> "cc", "o" -> "co")
    val nbrs = Map("r" -> Seq("n"), "n" -> Seq("r", "c"),
      "c" -> Seq("n", "o"), "o" -> Seq("c"))
    val edge = Map(
      Set("r", "n") -> "GREATEST(ndv_r_rk, ndv_n_rk)",
      Set("n", "c") -> "GREATEST(ndv_n_nk, ndv_c_nk)",
      Set("c", "o") -> "GREATEST(ndv_c_ck, ndv_o_ck)")
    def fold(ord: Seq[String]): Seq[String] = {
      var cur = size(ord.head)
      var prefix = Set(ord.head)
      ord.tail.map { t =>
        val nbr = nbrs(t).find(prefix.contains).get
        cur = s"(($cur * ${size(t)}) div ${edge(Set(t, nbr))})"
        prefix += t
        cur
      }
    }
    val stats = Tables.region(s, dir)
      .agg(count(lit(1)).as("cr"),
        countDistinct(col("r_regionkey")).as("ndv_r_rk"))
      .crossJoin(Tables.nation(s, dir).agg(count(lit(1)).as("cn"),
        countDistinct(col("n_regionkey")).as("ndv_n_rk"),
        countDistinct(col("n_nationkey")).as("ndv_n_nk")))
      .crossJoin(Tables.customer(s, dir).agg(count(lit(1)).as("cc"),
        countDistinct(col("c_nationkey")).as("ndv_c_nk"),
        countDistinct(col("c_custkey")).as("ndv_c_ck")))
      .crossJoin(Tables.orders(s, dir).agg(count(lit(1)).as("co"),
        countDistinct(col("o_custkey")).as("ndv_o_ck")))
      .localCheckpoint(false)
    val plans = orders.map { case (oid, ord) =>
      val Seq(e1, e2, e3) = fold(ord)
      stats.selectExpr(s"CAST($oid AS BIGINT) AS order_id",
        s"'${ord.mkString(",")}' AS ord",
        s"CAST($e1 AS BIGINT) AS est1", s"CAST($e2 AS BIGINT) AS est2",
        s"CAST($e3 AS BIGINT) AS est3",
        s"CAST($e1 + $e2 + $e3 AS BIGINT) AS cost")
    }.reduce(_ union _)
    plans.withColumn("is_best",
        when(row_number().over(Window.orderBy(col("cost"),
          col("order_id"))) === 1, 1L).otherwise(0L))
      .orderBy(col("order_id"))
  }

  // ------------------------------------------------- estimate q-error

  /** q311 — Q-ERROR of the q300 cost model (Moerkotte/Neumann/
    * Steidl VLDB '09's metric: qerr = max(est, act)/min(est, act) —
    * THE number the CBO literature judges estimators by): for the
    * winning left-deep order r→n→c→o, each step's textbook NDV
    * estimate is replayed next to the ACTUAL join cardinality
    * (computed by really running the joins — counts, not guesses),
    * and the q-error ships as the exact rational (max, min) pair.
    * The chain is FK-clean by construction, so the actuals are the
    * dimension sizes and the residual error is exactly what the
    * uniformity/containment assumptions cost — the model audit q300's
    * ledger invites.
    *
    * Scale shape: the three actuals are partial-aggregable join
    * counts (the same joins the winning plan would run); estimates
    * are arithmetic on the 1-row stats frame. One generator string
    * per estimate spliced into BOTH engines (q300's lockstep trick).
    */
  val q311 = oracled(
    "q311_estimate_qerror",
    "q-error audit of the Selinger estimates vs actual join cardinalities, step by step",
    {
      def est(divOp: String): Seq[String] = {
        val e1 = s"((cr * cn) $divOp GREATEST(ndv_r_rk, ndv_n_rk))"
        val e2 = s"(($e1 * cc) $divOp GREATEST(ndv_n_nk, ndv_c_nk))"
        val e3 = s"(($e2 * co) $divOp GREATEST(ndv_c_ck, ndv_o_ck))"
        Seq(e1, e2, e3)
      }
      val es = est("//")
      s"""WITH stats AS (SELECT
           (SELECT CAST(COUNT(*) AS BIGINT) FROM region) AS cr,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM nation) AS cn,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS cc,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS co,
           (SELECT CAST(COUNT(DISTINCT r_regionkey) AS BIGINT)
             FROM region) AS ndv_r_rk,
           (SELECT CAST(COUNT(DISTINCT n_regionkey) AS BIGINT)
             FROM nation) AS ndv_n_rk,
           (SELECT CAST(COUNT(DISTINCT n_nationkey) AS BIGINT)
             FROM nation) AS ndv_n_nk,
           (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT)
             FROM customer) AS ndv_c_nk,
           (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
             FROM customer) AS ndv_c_ck,
           (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
             FROM orders) AS ndv_o_ck),
         act AS (SELECT
           (SELECT CAST(COUNT(*) AS BIGINT) FROM region
             JOIN nation ON n_regionkey = r_regionkey) AS a1,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM region
             JOIN nation ON n_regionkey = r_regionkey
             JOIN customer ON c_nationkey = n_nationkey) AS a2,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM region
             JOIN nation ON n_regionkey = r_regionkey
             JOIN customer ON c_nationkey = n_nationkey
             JOIN orders ON o_custkey = c_custkey) AS a3),
         steps AS (
           SELECT 1 AS step, CAST(${es(0)} AS BIGINT) AS est_rows,
             act.a1 AS actual_rows FROM stats CROSS JOIN act
           UNION ALL
           SELECT 2, CAST(${es(1)} AS BIGINT), act.a2
           FROM stats CROSS JOIN act
           UNION ALL
           SELECT 3, CAST(${es(2)} AS BIGINT), act.a3
           FROM stats CROSS JOIN act)
         SELECT CAST(step AS BIGINT) AS step, est_rows, actual_rows,
           CAST(GREATEST(est_rows, actual_rows) AS BIGINT) AS qerr_num,
           CAST(LEAST(est_rows, actual_rows) AS BIGINT) AS qerr_den
         FROM steps ORDER BY step"""
    }) { (s, dir) =>
    def est(divOp: String): Seq[String] = {
      val e1 = s"((cr * cn) $divOp GREATEST(ndv_r_rk, ndv_n_rk))"
      val e2 = s"(($e1 * cc) $divOp GREATEST(ndv_n_nk, ndv_c_nk))"
      val e3 = s"(($e2 * co) $divOp GREATEST(ndv_c_ck, ndv_o_ck))"
      Seq(e1, e2, e3)
    }
    val es = est("div")
    val stats = Tables.region(s, dir)
      .agg(count(lit(1)).as("cr"),
        countDistinct(col("r_regionkey")).as("ndv_r_rk"))
      .crossJoin(Tables.nation(s, dir).agg(count(lit(1)).as("cn"),
        countDistinct(col("n_regionkey")).as("ndv_n_rk"),
        countDistinct(col("n_nationkey")).as("ndv_n_nk")))
      .crossJoin(Tables.customer(s, dir).agg(count(lit(1)).as("cc"),
        countDistinct(col("c_nationkey")).as("ndv_c_nk"),
        countDistinct(col("c_custkey")).as("ndv_c_ck")))
      .crossJoin(Tables.orders(s, dir).agg(count(lit(1)).as("co"),
        countDistinct(col("o_custkey")).as("ndv_o_ck")))
    val rn = Tables.region(s, dir).join(Tables.nation(s, dir),
      col("n_regionkey") === col("r_regionkey"))
    val rnc = rn.join(Tables.customer(s, dir),
      col("c_nationkey") === col("n_nationkey"))
    val rnco = rnc.join(Tables.orders(s, dir),
      col("o_custkey") === col("c_custkey"))
    val act = rn.agg(count(lit(1)).as("a1"))
      .crossJoin(rnc.agg(count(lit(1)).as("a2")))
      .crossJoin(rnco.agg(count(lit(1)).as("a3")))
    val base = stats.crossJoin(act)
    val steps = Seq((1, es(0), "a1"), (2, es(1), "a2"), (3, es(2), "a3"))
      .map { case (k, e, a) =>
        base.selectExpr(s"CAST($k AS BIGINT) AS step",
          s"CAST($e AS BIGINT) AS est_rows", s"$a AS actual_rows")
      }.reduce(_ union _)
    steps.select(col("step"), col("est_rows"), col("actual_rows"),
        greatest(col("est_rows"), col("actual_rows")).as("qerr_num"),
        least(col("est_rows"), col("actual_rows")).as("qerr_den"))
      .orderBy(col("step"))
  }

  /** q353 — JOIN-SKEW diagnosis ledger: per fact join-key family, the
    * numbers the salting decision is actually made on (the measured
    * companion to q266/[[Skew.saltedJoin]] and the sf1/sf3 skew A/B
    * recorded in BUILDLOG.md): rows, distinct keys, the hottest key's row count, its
    * corpus share (top1_ppm), and skew_x1000 = 1000·max/mean — AQE's
    * `skewedPartitionFactor` compares a partition to the median
    * partition, and this is the KEY-level analogue a pipeline can
    * compute BEFORE the shuffle exists. skew_x1000 ≈ 1000 means
    * uniform keys (salting is pure overhead); ≥ 5000 with a large
    * top1_ppm means the hot key owns its reducer and the join needs
    * salt, a forced AQE split, or a broadcast. Exact-integer
    * throughout; the max·keys and 10⁶ products widen to
    * DECIMAL(38,0)/HUGEINT (Int64 wraps at ~10¹² rows × 10⁶ keys —
    * the q324 envelope discipline).
    *
    * Scale shape: one partial-agg groupBy per family over the fact
    * (map-side combined), then a family-level fold over key-count
    * rows — never a join, never a pair. Exactly the two linear passes
    * a 100 TB pre-flight can afford per candidate join key.
    */
  val q353 = oracled(
    "q353_join_skew_diagnosis",
    "per join-key family: top-key concentration and max/mean skew factor - the pre-shuffle salting decision ledger",
    """WITH fams AS (
         SELECT 'l_orderkey' AS family, l_orderkey AS k FROM lineitem
         UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
         UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
       per AS (SELECT family, k, CAST(COUNT(*) AS BIGINT) AS c
         FROM fams GROUP BY 1, 2)
       SELECT family,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_key_rows,
         CAST((1000000 * CAST(MAX(c) AS HUGEINT)) // SUM(c)
           AS BIGINT) AS top1_ppm,
         CAST((1000 * CAST(MAX(c) AS HUGEINT) * COUNT(*)) // SUM(c)
           AS BIGINT) AS skew_x1000
       FROM per GROUP BY family ORDER BY family""") { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val fams = Seq("l_orderkey", "l_partkey", "l_suppkey")
      .map(f => li.select(lit(f).as("family"), col(f).as("k")))
      .reduce(_ unionByName _)
    fams.groupBy(col("family"), col("k"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("family"))
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("c")).as("max_key_rows"))
      .select(col("family"), col("n_rows"), col("n_keys"),
        col("max_key_rows"),
        expr("""CAST((1000000 * CAST(max_key_rows AS DECIMAL(38,0)))
                div n_rows AS BIGINT)""").as("top1_ppm"),
        expr("""CAST((1000 * CAST(max_key_rows AS DECIMAL(38,0)) * n_keys)
                div n_rows AS BIGINT)""").as("skew_x1000"))
      .orderBy(col("family"))
  }

  val all: Seq[GQuery] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q13, q14, q167, q202, q207, q208, q240, q265, q266,
    q274, q287, q300, q311, q353)
}
