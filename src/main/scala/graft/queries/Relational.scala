package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Q._

/**
 * Relational query battery (SURVEY.md §2.C "relational extension").
 * The reference has no query layer at all (SURVEY.md §2.B; reference
 * source is schema-metadata-only, src/parquetutils.rs:28-30), so these
 * are the north-star operators, written Spark-first:
 *
 *  - one SQL text per entry ([[QueryDef.sql]]) where the query is all
 *    there is → Catalyst handles pushdown, pruning, partial aggregation,
 *    and join selection; DataFrame code only where a mechanism needs it;
 *  - an explicit broadcast (a `BROADCAST` hint in SQL) only where a
 *    dimension is provably small at any scale (region/nation/
 *    part-filter), never on fact tables;
 *  - every query ends in a total ORDER BY for oracle determinism.
 */
object Relational {

  /** typed row for the q_typed_count Dataset pipeline (top-level so the
   * case-class Encoder can be derived) */
  final case class Ord(o_orderkey: Long, o_orderstatus: String,
                       o_totalprice: Double)

  val defs: Vector[QueryDef] = Vector(

    // ---- scan / filter / project -------------------------------------
    // Filters + projection reach the parquet scan (PushedFilters /
    // ReadSchema); at 100 TB this is the difference between reading 4
    // columns of one year vs the whole table.
    QueryDef.sql("q_scan_filter",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |       l_discount, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- aggregation (TPC-H Q1 shape): partial+final agg for free ----
    QueryDef.sql("q_agg_pricing",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSqlS("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
         |  ${dsumSqlS("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
         |  ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
         |  ${dsumSql("l_extendedprice")} / COUNT(*) AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ---- equi-join + agg; nation broadcast (25 rows at any scale) ----
    QueryDef.sql("q_join_cust_orders",
      s"""SELECT /*+ BROADCAST(nation) */ n_name, ${dsumSql("o_totalprice")} AS revenue,
         |       COUNT(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // ---- multi-join (TPC-H Q5 shape): 6 tables, dims broadcast -------
    QueryDef.sql("q_join_5way",
      s"""SELECT /*+ BROADCAST(nation, region) */ n_name,
         |  ${dsumSqlS("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1999-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    // ---- broadcast hash join on a filtered dimension -----------------
    QueryDef.sql("q_broadcast_part",
      s"""SELECT /*+ BROADCAST(part) */ p_brand, p_type, ${dsumSql("l_quantity")} AS sum_qty,
         |       COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
         |GROUP BY p_brand, p_type ORDER BY p_brand, p_type""".stripMargin),

    // ---- anti join ---------------------------------------------------
    // Anti-join against a filtered subset (orders placed in 1997) so the
    // result is non-empty at every sf — an unfiltered anti-join returned 0
    // rows on both engines (every customer has an order), which verified
    // nothing (VERDICT r1 finding 1).
    QueryDef.sql("q_anti_no_orders",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |                    AND o_orderdate < TIMESTAMP '1998-01-01')
        |ORDER BY c_custkey""".stripMargin),

    // ---- semi join ---------------------------------------------------
    QueryDef.sql("q_semi_has_big_order",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin),

    // ---- theta / nested-loop join (non-equi only) --------------------
    // Both sides pre-filtered so the NL join is bounded; the small side
    // is broadcast (BroadcastNestedLoopJoin), which is the right physical
    // shape at scale too: the probe side streams, no shuffle.
    QueryDef.sql("q_theta_nl",
      """SELECT /*+ BROADCAST(customer) */ s_suppkey, s_name, COUNT(*) AS n_poorer
        |FROM supplier JOIN customer ON s_acctbal > c_acctbal
        |WHERE s_acctbal > 9000.0 AND c_acctbal > 9500.0
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin),

    // ---- ranking window ----------------------------------------------
    QueryDef.sql("q_window_rank",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    // ---- group-wise top-k via the custom TopKPerKey operator ---------
    // Same semantics as q_window_rank minus the rank column, but planned
    // as partial-prune → exchange → final emit (graft.plans.TopKPerKey)
    // instead of WindowExec + Filter — the map-side prune bounds what
    // the shuffle carries.
    // Not QueryDef.sql: the TopKPerKey operator.
    QueryDef("q_topk_per_key",
      (s, dir) => {
        val o = rd(s, dir, "orders")
        graft.plans.TopK.perKey(o, Seq("o_custkey"),
            Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // ---- analytic window with frame (running sum, exact decimal) -----
    QueryDef.sql("q_window_running",
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_day,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_spend
        |FROM orders ORDER BY o_custkey, order_day, o_orderkey""".stripMargin),

    // ---- lag/lead analytic -------------------------------------------
    QueryDef("q_window_lag",
      (s, dir) => {
        val o = rd(s, dir, "orders")
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        o.select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("order_day"),
            lag(col("o_orderdate").cast("date"), 1).over(w).as("prev_day"),
            datediff(col("o_orderdate").cast("date"),
              lag(col("o_orderdate").cast("date"), 1).over(w)).as("days_since_prev"))
          .orderBy("o_custkey", "order_day", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_day,
             |  LAG(CAST(o_orderdate AS DATE), 1) OVER w AS prev_day,
             |  CAST(DATEDIFF('day', LAG(CAST(o_orderdate AS DATE), 1) OVER w,
             |       CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, order_day, o_orderkey""".stripMargin)),

    // ---- top-k (TakeOrderedAndProject: no global sort at scale) ------
    QueryDef.sql("q_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ---- set operations ----------------------------------------------
    QueryDef.sql("q_setops",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY c_custkey""".stripMargin),

    // ---- intersect ---------------------------------------------------
    QueryDef.sql("q_intersect",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
        |ORDER BY c_custkey""".stripMargin),

    // ---- explicit grouping sets (SQL surface) ------------------------
    QueryDef.sql("q_grouping_sets",
      s"""SELECT o_orderstatus, o_orderpriority,
         |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS revenue
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ---- typed Dataset surface (case-class pipeline) -----------------
    // Not QueryDef.sql: the typed Dataset surface.
    QueryDef("q_typed_count",
      (s, dir) => {
        import s.implicits._
        rd(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice").as[Ord]
          .filter(_.o_totalprice > 100000.0)
          .groupByKey(_.o_orderstatus)
          .count()
          .toDF("o_orderstatus", "n_big")
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_big FROM orders
             |WHERE o_totalprice > 100000.0
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ---- exact distinct ----------------------------------------------
    QueryDef.sql("q_distinct",
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // ---- rollup (explicit NULLS FIRST: Spark's asc default) ----------
    QueryDef.sql("q_rollup",
      s"""SELECT c_mktsegment AS mktsegment, o_orderstatus AS orderstatus,
         |  ${dsumSql("o_totalprice")} AS revenue, COUNT(*) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY ROLLUP (mktsegment, orderstatus)
         |ORDER BY mktsegment NULLS FIRST, orderstatus NULLS FIRST""".stripMargin),

    // ---- cube --------------------------------------------------------
    QueryDef.sql("q_cube",
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ---- scalar function battery -------------------------------------
    QueryDef("q_scalar_fns",
      (s, dir) => {
        rd(s, dir, "orders").select(
            col("o_orderkey"),
            upper(substring(col("o_orderpriority"), 1, 1)).as("pri_initial"),
            length(col("o_orderpriority")).cast("int").as("pri_len"),
            concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("status_pri"),
            year(col("o_orderdate")).as("order_year"),
            month(col("o_orderdate")).as("order_month"),
            date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
            datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
              .as("days_since_epoch"),
            round(col("o_totalprice") / 100.0, 1).as("price_hundreds"),
            abs(col("o_totalprice") - 250000.0).as("dev_from_mid"),
            (col("o_orderkey") % 7).as("key_mod7"),
            when(col("o_totalprice") > 350000.0, "big")
              .when(col("o_totalprice") > 150000.0, "mid")
              .otherwise("small").as("size_bucket"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  UPPER(SUBSTRING(o_orderpriority, 1, 1)) AS pri_initial,
             |  CAST(LENGTH(o_orderpriority) AS INTEGER) AS pri_len,
             |  o_orderstatus || '-' || o_orderpriority AS status_pri,
             |  CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
             |  CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
             |  CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
             |  CAST(DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
             |       AS INTEGER) AS days_since_epoch,
             |  ROUND(o_totalprice / 100.0, 1) AS price_hundreds,
             |  ABS(o_totalprice - 250000.0) AS dev_from_mid,
             |  o_orderkey % 7 AS key_mod7,
             |  CASE WHEN o_totalprice > 350000.0 THEN 'big'
             |       WHEN o_totalprice > 150000.0 THEN 'mid'
             |       ELSE 'small' END AS size_bucket
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- JSON extraction ---------------------------------------------
    QueryDef("q_json_props",
      (s, dir) => {
        events(s, dir)
          .withColumn("k_val", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("k_val")).cast("long").as("sum_k"),
            (sum(col("k_val")).cast("double") / count(col("k_val"))).as("avg_k"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n_events,
             |  CAST(SUM(k_val) AS BIGINT) AS sum_k,
             |  CAST(SUM(k_val) AS DOUBLE) / COUNT(k_val) AS avg_k
             |FROM (SELECT event_type, CAST(props->>'$.k' AS INTEGER) AS k_val
             |      FROM events) t
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- time bucketing (batch twin of the streaming tumbling agg) ---
    QueryDef.sql("q_time_bucket",
      s"""SELECT DATE_TRUNC('hour', ts) AS bucket_start, event_type,
         |  COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type""".stripMargin),

    // ---- full outer join with both-sided null handling ----------------
    // per-custkey URGENT-order counts FULL OUTER customers in debit:
    // matched rows, left-only (urgent orders, non-negative balance) and
    // right-only (negative balance, no urgent order — populated at all
    // three sfs, PlanAuditSpec pins non-vacuity of every class) all
    // surface; the null pattern is folded into a side tag so the output
    // pins all three classes. Shuffles on the join key like any
    // fact-fact join; Spark coalesces the USING key, the oracle does so
    // explicitly.
    QueryDef.sql("q_outer_join",
      """WITH l AS (SELECT o_custkey AS custkey,
        |             CAST(COUNT(*) AS BIGINT) AS n_urgent
        |           FROM orders
        |           WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
        |r AS (SELECT c_custkey AS custkey, c_acctbal
        |      FROM customer WHERE c_acctbal < 0)
        |SELECT COALESCE(l.custkey, r.custkey) AS custkey,
        |  COALESCE(n_urgent, 0) AS n_urgent,
        |  CASE WHEN n_urgent IS NULL THEN 'neg_balance_no_urgent'
        |       WHEN c_acctbal IS NULL THEN 'urgent_orders_only'
        |       ELSE 'both' END AS side
        |FROM l FULL OUTER JOIN r ON l.custkey = r.custkey
        |ORDER BY custkey""".stripMargin),

    // ---- LATERAL correlated top-n --------------------------------------
    // The SQL-standard spelling of per-key top-n (Spark 4 LATERAL):
    // each customer's 2 priciest orders via a correlated LIMIT
    // subquery. Catalyst must DECORRELATE this to a window/join plan —
    // a per-row subquery execution would be the classic 100 TB killer —
    // and PlanAuditSpec asserts the decorrelated shape (no nested-loop,
    // no per-row subplan). Semantically identical to q_topk_per_key's
    // custom operator; keeping both pins the rewrite against the
    // hand-built plan through the shared-style oracle.
    QueryDef.sql("q_lateral_topn",
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |     LATERAL (SELECT o_orderkey, o_totalprice
        |              FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey
        |              LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  )
}
