package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Relational operator surface (SURVEY.md §2.3): scan, filter, projection,
  * joins (broadcast / shuffle / semi / anti), aggregation (hash, partial+
  * final), distinct, sort/top-k, set ops, window functions, rollup.
  *
  * The reference exposes these only through its generic map/group/reduce
  * contract (`/root/reference/mapreduce/manager/__main__.py:560-593`); here
  * each category is a declarative DataFrame plan so Catalyst gets pushdown,
  * pruning, partial aggregation and join-strategy choice for free.
  *
  * Scale notes (100 TB posture):
  *   - dimension joins (region/nation/customer/supplier) are explicitly
  *     `broadcast()` — no shuffle of the fact side;
  *   - fact-fact joins shuffle on the join key only after filters, so AQE
  *     can size/skew-split the exchange;
  *   - every aggregate is expressed via `groupBy.agg` → Catalyst plans
  *     partial (map-side) + final HashAggregate, shuffling only the
  *     pre-aggregated groups.
  */
object Relational {
  import Num._

  private def q(
      name: String,
      oracle: String
  )(fn: (SparkSession, String) => DataFrame): Q = Q(name, fn, Some(oracle))

  /** TPC-H Q1-shaped pricing summary: filter → partial/final hash agg. */
  val q1Agg: Q = q(
    "q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) { (s, dir) =>
    val li = Tables(s, dir).lineitem
    li.filter(col("l_shipdate") <= lit(java.time.LocalDateTime.parse("1998-09-02T00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
        dsumExpr(charge(col("l_extendedprice"), col("l_discount"), col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Predicate pushdown showcase: range + numeric filters, narrow projection.
    * `.explain` must show PushedFilters on the parquet scan and a 5-column
    * ReadSchema.
    */
  val qFilter: Q = q(
    "q_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_quantity < 10""".stripMargin
  ) { (s, dir) =>
    Tables(s, dir).lineitem
      .filter(
        col("l_shipdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00:00")) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.parse("1997-01-01T00:00:00")) &&
          col("l_discount") >= 0.05 && col("l_quantity") < 10
      )
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
  }

  /** Projection with scalar functions (column pruning showcase). */
  val qProject: Q = q(
    "q_project",
    """SELECT doc_id, lang, upper(source) AS src_upper, n_chars,
      |       length(text) AS text_len
      |FROM documents""".stripMargin
  ) { (s, dir) =>
    Tables(s, dir).documents
      .select(
        col("doc_id"),
        col("lang"),
        upper(col("source")).as("src_upper"),
        col("n_chars"),
        length(col("text")).as("text_len")
      )
  }

  /** Star join: fact orders through broadcast customer → nation → region.
    * All three dims are broadcast — zero shuffle of the fact side; the only
    * exchange is the final group-by on (r_name, n_name).
    */
  val qJoinBroadcast: Q = q(
    "q_join_broadcast",
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_rev,
      |  COUNT(*) AS cnt
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    t.orders
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dsum(col("o_totalprice")).as("total_rev"), count(lit(1)).as("cnt"))
      .orderBy("r_name", "n_name")
  }

  /** Fact-fact join: lineitem ⋈ orders shuffle on l_orderkey/o_orderkey.
    * At 100 TB both sides are large → sort-merge/shuffled-hash on the key;
    * filters sit below the join so the exchange carries only needed rows,
    * and AQE skew-join splitting handles hot orderkeys.
    */
  val qJoinShuffle: Q = q(
    "q_join_shuffle",
    """SELECT o_orderpriority, l_returnflag,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_rev,
      |  COUNT(*) AS cnt
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority, l_returnflag
      |ORDER BY o_orderpriority, l_returnflag""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority", "l_returnflag")
      .agg(
        dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("sum_rev"),
        count(lit(1)).as("cnt")
      )
      .orderBy("o_orderpriority", "l_returnflag")
  }

  /** TPC-H Q3 shape (shipping priority): selective dim filter broadcast into
    * the fact-fact join, then a grouped top-k. Plan at 100 TB: customer is
    * filtered FIRST (1/5 of the dim) and broadcast into orders; the only
    * big exchange is lineitem ⋈ orders on the order key, carrying rows that
    * survived both date filters; the final ordering is a TakeOrderedAndProject
    * (per-partition heaps, k-row driver merge) — never a global sort.
    */
  val qTpchQ3: Q = q(
    "q_tpch_q3",
    """SELECT l_orderkey,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
  ) { (s, dir) =>
    val t      = Tables(s, dir)
    val cutoff = lit(java.time.LocalDateTime.parse("1998-01-01T00:00:00"))
    t.orders
      .filter(col("o_orderdate") < cutoff)
      .join(
        broadcast(t.customer.filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey")
      )
      .join(t.lineitem.filter(col("l_shipdate") > cutoff), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape (local supplier volume): the 6-way join. region/nation/
    * supplier/customer are broadcast dims; lineitem ⋈ orders is the single
    * fact-fact shuffle. The c_nationkey = s_nationkey co-nation constraint
    * rides the supplier broadcast join as a post-join filter — no extra
    * exchange. Catalyst orders the broadcasts below the shuffle so the fact
    * side is filtered to ASIA/1996-97 before it moves.
    */
  val qTpchQ5: Q = q(
    "q_tpch_q5",
    """SELECT n_name,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    t.orders
      .filter(
        col("o_orderdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00:00")) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.parse("1998-01-01T00:00:00"))
      )
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(
        broadcast(t.supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey")
      )
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q18 shape (large-volume customers): HAVING on an aggregate feeds
    * a semi join back into the fact table. The qualifying-order set is tiny
    * (aggregate → filter), so at 100 TB it broadcasts into the semi join;
    * lineitem is scanned twice but shuffled only on l_orderkey both times —
    * with the engine's bucketed-layout helper ([[graft.ops.Bucketing]]) both
    * passes would be exchange-free.
    */
  val qTpchQ18: Q = q(
    "q_tpch_q18",
    """SELECT c_name, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(l_quantity) > 200)
      |GROUP BY 1, 2, 3
      |ORDER BY total_qty DESC, o_orderkey LIMIT 10""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    // ONE per-order aggregate serves both the HAVING filter and the
    // emitted total (an order has one customer/date, so re-aggregating
    // after the join — the literal SQL shape — would recompute the same
    // sum from a SECOND lineitem scan; ScanAuditSpec pins the single scan)
    val oq = t.lineitem
      .groupBy("l_orderkey")
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 200)
    t.orders
      .join(oq, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .select("c_name", "o_orderkey", "o_orderdate", "total_qty")
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): correlated EXISTS
    * + NOT EXISTS against the SAME fact table — the classic join-shape
    * torture test (reference contract
    * `/root/reference/mapreduce/manager/__main__.py:560-593` is generic;
    * this is its hardest relational instantiation). Adapted to the fixture
    * schema: `l_returnflag = 'R'` stands in for the late-delivery predicate
    * (no receipt/commit dates in the fixtures) and `o_orderstatus = 'F'`
    * scopes to finished orders, preserving the exact subquery structure.
    *
    * Plan shape: both correlated subqueries collapse into ONE per-order
    * supplier-stats aggregate — EXISTS(other supplier) ⟺ the order has ≥ 2
    * distinct suppliers, NOT EXISTS(other R supplier) ⟺ exactly 1 distinct
    * R supplier (l1 itself is one, so "no other"). The stats run as a
    * distinct-free two-level aggregate ((orderkey, suppkey) partial+final,
    * then orderkey), so the shuffle carries compressed pairs where the
    * semi/anti-join formulation shuffled RAW lineitem rows twice and
    * scanned the table three times (ScanAuditSpec pins the 2-scan budget).
    * Supplier broadcasts; top-k is TakeOrderedAndProject.
    */
  val qTpchQ21: Q = q(
    "q_tpch_q21",
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_returnflag = 'R')
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin
  ) { (s, dir) =>
    val t  = Tables(s, dir)
    val l1 = t.lineitem
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_suppkey")
    val perSupp = t.lineitem
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_r"))
    val orderStats = perSupp
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"), sum("has_r").as("n_r_supp"))
    l1
      .join(orderStats, "l_orderkey")
      // another supplier exists in the order, and l1's is the ONLY one
      // with an R line — the decorrelated EXISTS / NOT EXISTS pair
      .filter(col("n_supp") >= 2 && col("n_r_supp") === 1)
      .join(
        t.orders.filter(col("o_orderstatus") === "F").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"),
        "left_semi"
      )
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** TPC-H Q17 shape (small-quantity-order revenue): correlated SCALAR
    * aggregate subquery — each lineitem compares against 0.2× the average
    * quantity of ITS part. Registered in the hand-decorrelated form (the
    * per-part thresholds are a partial+final aggregate joined back on
    * l_partkey — exactly the rewrite Catalyst's subquery decorrelation
    * performs, made explicit for plan clarity); the oracle keeps the
    * correlated SQL so both formulations are pinned equal. Threshold math
    * is the exact-decimal mean ([[Num.davg]] pattern) followed by single
    * IEEE ops, so the comparison is bit-identical cross-engine.
    */
  val qTpchQ17: Q = q(
    "q_tpch_q17",
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_type = 'ECONOMY'
      |  AND l_quantity < (
      |    SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
      |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin
  ) { (s, dir) =>
    val t  = Tables(s, dir)
    val li = t.lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
    // the correlated per-part threshold as a WINDOW over the same scan
    // (one l_partkey exchange, bounded per-part groups) — the aggregate-
    // joined-back shape re-scanned lineitem (ScanAuditSpec node pin)
    val wp = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    li.withColumn(
        "qty_thresh",
        lit(0.2) * (sum(col("l_quantity").cast(Money)).over(wp).cast("double") /
          count(lit(1)).over(wp))
      )
      .join(
        broadcast(t.part.filter(col("p_type") === "ECONOMY").select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey")
      )
      .filter(col("l_quantity") < col("qty_thresh"))
      .groupBy("p_brand")
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
      .orderBy("p_brand")
  }

  /** TPC-H Q22 shape (global-sales-opportunity): an UNCORRELATED scalar
    * aggregate subquery (the global positive-balance average) feeding a
    * filter, plus NOT EXISTS against orders — the remaining classic
    * subquery form next to Q17's correlated scalar and Q21's
    * correlated EXISTS. The scalar lands as a 1-row broadcast (a
    * BroadcastNestedLoopJoin over a single row — the same shape as the
    * ANN query-vector attach, not a real cartesian); the threshold is the
    * exact-decimal mean so both engines compare against bit-identical
    * doubles.
    */
  val qTpchQ22: Q = q(
    "q_tpch_q22",
    """SELECT c_mktsegment, COUNT(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE c_acctbal > (
      |    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |    FROM customer c2 WHERE c2.c_acctbal > 0.0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val avgBal = t.customer
      .filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast(Money)).cast("double") / count(lit(1))).as("avg_bal"))
    t.customer
      .crossJoin(broadcast(avgBal)) // 1-row scalar: BNLJ broadcast, not a shuffle
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(
        // every fixture customer has SOME order, so the classic "no orders
        // at all" form is vacuous here; "no urgent order" keeps the exact
        // NOT-EXISTS-on-fact shape and returns 67/662/6894 rows across the
        // three scales (filter pushed below the anti join's exchange)
        t.orders.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
        col("c_custkey") === col("o_custkey"),
        "left_anti"
      )
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q4 shape (order priority checking): EXISTS against the fact
    * table under a date window — the semi-join-then-count report. Adapted
    * to the fixture schema: "a lineitem shipped more than 60 days after
    * the order date" stands in for the late-delivery predicate (no
    * commit/receipt dates), keeping the correlated-EXISTS-with-residual
    * structure. Plan: the date filter prunes orders BEFORE the semi join's
    * exchange, the non-equi ship-lag residual rides the semi join, and the
    * count is a partial+final aggregate on the tiny priority domain.
    * Interval arithmetic on naive timestamps is identical cross-engine.
    */
  val qTpchQ4: Q = q(
    "q_tpch_q4",
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    t.orders
      .filter(
        col("o_orderdate") >= lit(java.time.LocalDateTime.parse("1996-07-01T00:00:00")) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.parse("1996-10-01T00:00:00"))
      )
      .join(
        t.lineitem.select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi"
      )
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q6 shape (forecasting revenue change): the pure scan-side
    * query — three pushed range predicates, no join, one exact-decimal
    * aggregate. Its whole cost is the parquet scan, which is the point:
    * PushedFilters + a ReadSchema pruned to the 4 referenced columns
    * (3 filter keys + the aggregate input) means at 100 TB it reads only
    * the row groups the predicates admit and none of lineitem's other 7
    * columns. Both properties are asserted in PlanSpec.
    */
  val qTpchQ6: Q = q(
    "q_tpch_q6",
    """SELECT CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,4))), 2) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.04
      |  AND l_quantity < 24""".stripMargin
  ) { (s, dir) =>
    Tables(s, dir).lineitem
      .filter(
        col("l_shipdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00:00")) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.parse("1997-01-01T00:00:00")) &&
          col("l_discount").between(0.02, 0.04) &&
          col("l_quantity") < 24
      )
      .agg(
        dsumExpr(col("l_extendedprice").cast(Money) * col("l_discount").cast(Rate))
          .as("revenue")
      )
  }

  /** TPC-H Q8 shape (national market share): the 8-way join with a
    * share-of-aggregate output — numerator is the conditional sum over the
    * SAME rows as the denominator (CASE without ELSE: nulls drop out of the
    * sum in both engines), each an exact-decimal sum, the share one IEEE
    * division. nation appears TWICE (customer-region gate and supplier
    * nationality) — every dim broadcasts, lineitem ⋈ orders stays the one
    * fact-fact exchange, exactly the Q5 posture with two more dims.
    */
  val qTpchQ8: Q = q(
    "q_tpch_q8",
    """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
      |  CAST(round(SUM(CASE WHEN n2.n_name = 'NATION_2'
      |        THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))) END), 2) AS DOUBLE)
      |  / CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE)
      |    AS mkt_share
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN region   ON n1.n_regionkey = r_regionkey
      |JOIN part     ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val amCust = t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "AMERICA")), col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppNation = t.supplier
      .join(broadcast(t.nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("s_nk"))
      .select("s_suppkey", "supp_nation")
    val rev = revenue(col("l_extendedprice"), col("l_discount"))
    t.orders
      .filter(
        col("o_orderdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00:00")) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.parse("1998-01-01T00:00:00"))
      )
      .join(broadcast(amCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.part.filter(col("p_type") === "ECONOMY").select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (dsumExpr(when(col("supp_nation") === "NATION_2", rev)) /
          dsumExpr(rev)).as("mkt_share")
      )
      .orderBy("o_year")
  }

  /** TPC-H Q15 shape (top supplier): an aggregate view filtered by its own
    * MAX — the scalar is a global window over the |suppliers|-bounded
    * aggregate, so lineitem is scanned once (the 1-row-broadcast shape
    * re-scanned it for the MAX side; ScanAuditSpec pins the single scan).
    * Revenue equality compares exact-decimal-derived doubles, so "== max"
    * is well-defined cross-engine.
    */
  val qTpchQ15: Q = q(
    "q_tpch_q15",
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
      |ORDER BY s_suppkey""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val rev = t.lineitem
      .filter(
        col("l_shipdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00:00")) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.parse("1996-04-01T00:00:00"))
      )
      .groupBy("l_suppkey")
      .agg(dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("total_revenue"))
    // the view-wide MAX as a 1-row aggregate broadcast back onto the
    // cached per-supplier frame: |suppliers| grows linearly with the
    // corpus, so a keyless window would force the whole frame through ONE
    // task at 100 TB — the broadcast idiom keeps both sides partitioned,
    // and the cache holds the single lineitem scan shared by the two
    // consumers
    val revC = graft.core.Cached.frame(rev)
    revC
      .crossJoin(broadcast(revC.agg(max("total_revenue").as("mr"))))
      .filter(col("total_revenue") === col("mr"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q19 shape (discounted revenue): an equi join whose REAL
    * predicate is a disjunction of brand/size/quantity conjuncts — the
    * classic test that the planner extracts the conjunctive equi key
    * (l_partkey = p_partkey) and keeps the OR as a post-join residual
    * instead of falling into a nested loop. part broadcasts; the OR runs
    * inside the join's codegen stage.
    */
  val qTpchQ19: Q = q(
    "q_tpch_q19",
    """SELECT CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 40)""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) && col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) && col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) && col("l_quantity").between(20, 40))
    t.lineitem
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
  }

  /** TPC-H Q10 shape (returned-item reporting): fact-fact join under a date
    * window + return-flag filter, customer/nation broadcast dims, top-20 by
    * exact-decimal revenue. Both filters sit below the l_orderkey exchange
    * so only the returned lineitems of one quarter's orders ever shuffle;
    * the top-k is TakeOrderedAndProject, never a global sort.
    */
  val qTpchQ10: Q = q(
    "q_tpch_q10",
    """SELECT c_custkey, c_name,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue,
      |  c_acctbal, n_name, c_mktsegment
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    t.orders
      .filter(
        col("o_orderdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00:00")) &&
          col("o_orderdate") < lit(java.time.LocalDateTime.parse("1996-04-01T00:00:00"))
      )
      .join(t.lineitem.filter(col("l_returnflag") === "R"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
      .agg(dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q13 shape (customer order-count distribution): LEFT OUTER join
    * with a predicate ON the join (customers with zero qualifying orders
    * must survive as c_count = 0 — a WHERE would drop them), then a SECOND
    * aggregation over the first's output. Adapted: `o_orderpriority <>
    * '1-URGENT'` stands in for the comment NOT LIKE filter. Plan: the
    * non-urgent filter pushes into the orders scan under the outer join,
    * the first aggregate shuffles on c_custkey, the second on the tiny
    * c_count domain — the histogram-of-an-aggregate pattern.
    */
  val qTpchQ13: Q = q(
    "q_tpch_q13",
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    t.customer
      .join(
        t.orders.filter(col("o_orderpriority") =!= "1-URGENT").select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"),
        "left_outer"
      )
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Cumulative window frame: per-customer running spend over order history
    * (ROWS UNBOUNDED PRECEDING → CURRENT ROW). The accumulation is exact
    * decimal inside the frame — the running values are order-defined, so
    * they hash-match across engines; one exchange on o_custkey, sort within
    * partitions.
    */
  val qRunningTotal: Q = q(
    "q_running_total",
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
      |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin
  ) { (s, dir) =>
    val w = Window
      .partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir).orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_orderdate"),
        sum(col("o_totalprice").cast(Money)).over(w).cast("double").as("running_spend")
      )
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** TPC-H Q14 shape (promotion effect): conditional aggregation over a
    * broadcast part join — per month, the revenue share of one part class.
    * The share divides the two already-rounded emitted doubles, so both
    * engines do one identical IEEE division. Covers the `part` table and
    * the filtered-CASE aggregate pattern.
    */
  val qPromoShare: Q = q(
    "q_promo_share",
    """SELECT CAST(year(l_shipdate) AS INT) AS yr, CAST(month(l_shipdate) AS INT) AS mo,
      |  CAST(round(SUM(CASE WHEN p_type = 'ECONOMY'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
      |    ELSE 0 END), 2) AS DOUBLE) AS promo_rev,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS total_rev,
      |  100.0 * CAST(round(SUM(CASE WHEN p_type = 'ECONOMY'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
      |    ELSE 0 END), 2) AS DOUBLE)
      |    / CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS promo_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, dir) =>
    val t   = Tables(s, dir)
    val rev = revenue(col("l_extendedprice"), col("l_discount"))
    t.lineitem
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .groupBy(
        year(col("l_shipdate")).cast("int").as("yr"),
        month(col("l_shipdate")).cast("int").as("mo")
      )
      .agg(
        dsumExpr(when(col("p_type") === "ECONOMY", rev).otherwise(lit(0))).as("promo_rev"),
        dsumExpr(rev).as("total_rev")
      )
      .withColumn("promo_pct", lit(100.0) * col("promo_rev") / col("total_rev"))
      .orderBy("yr", "mo")
  }

  /** TPC-H Q2 shape (minimum-cost supplier): the correlated MIN subquery —
    * for each qualifying part, only the regional suppliers offering it at
    * that part's regional-minimum unit cost survive. The fixture has no
    * partsupp table (`TESTDATA.md`), so the part↔supplier offer relation is
    * derived from lineitem: unit cost = MIN(l_extendedprice / l_quantity)
    * per (part, supplier) — a single IEEE division on parquet-identical
    * doubles, so MIN and the `= min` equality are bit-deterministic
    * cross-engine.
    *
    * Plan shape: the part filter semi-joins BEFORE the per-part min is
    * computed (legal because the min is per-part), so at 100 TB the regional
    * offer table is pruned to the ~1/6 qualifying parts before either
    * aggregate; the min table joins back on the same l_partkey key — two
    * aggregates + one join, all sharing one exchange key. Dims broadcast;
    * top-k is TakeOrderedAndProject.
    */
  val qTpchQ2: Q = q(
    "q_tpch_q2",
    """WITH offer AS (
      |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem GROUP BY 1, 2),
      |reg AS (
      |  SELECT o.l_partkey, o.unit_cost, s_acctbal, s_name, n_name
      |  FROM offer o
      |  JOIN supplier ON s_suppkey = o.l_suppkey
      |  JOIN nation   ON s_nationkey = n_nationkey
      |  JOIN region   ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE')
      |SELECT s_acctbal, s_name, n_name, p_partkey, unit_cost
      |FROM reg JOIN part ON p_partkey = reg.l_partkey
      |WHERE p_type = 'LARGE' AND p_size <= 25
      |  AND unit_cost = (SELECT MIN(r2.unit_cost) FROM reg r2 WHERE r2.l_partkey = reg.l_partkey)
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 10""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val eurSupp = t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "EUROPE")), col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    val qualParts = t.part
      .filter(col("p_type") === "LARGE" && col("p_size") <= 25)
      .select("p_partkey")
    val reg = t.lineitem
      .join(broadcast(qualParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
      .join(broadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
    val minCost = reg
      .groupBy(col("l_partkey").as("m_partkey"))
      .agg(min("unit_cost").as("min_cost"))
    reg
      .join(minCost, col("l_partkey") === col("m_partkey") && col("unit_cost") === col("min_cost"))
      .select(
        col("s_acctbal"),
        col("s_name"),
        col("n_name"),
        col("l_partkey").as("p_partkey"),
        col("unit_cost")
      )
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
      .limit(10)
  }

  /** TPC-H Q7 shape (volume shipping): nation joined TWICE — once through
    * supplier, once through customer — with the symmetric two-nation pair
    * disjunction as a post-join residual. Both nation sides are pre-filtered
    * to the two-nation set BEFORE their broadcast joins, so the fact rows
    * drop at the earliest join and only the pair residual runs afterwards.
    * lineitem ⋈ orders stays the single fact-fact exchange (Q5/Q8 posture).
    */
  val qTpchQ7: Q = q(
    "q_tpch_q7",
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INT) AS l_year, l_extendedprice, l_discount
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
      |      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  ) { (s, dir) =>
    val t       = Tables(s, dir)
    val nations = Seq("NATION_12", "NATION_10")
    val suppN = t.supplier
      .join(
        broadcast(
          t.nation
            .filter(col("n_name").isin(nations: _*))
            .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        ),
        col("s_nationkey") === col("s_nk")
      )
      .select("s_suppkey", "supp_nation")
    val custN = t.customer
      .join(
        broadcast(
          t.nation
            .filter(col("n_name").isin(nations: _*))
            .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        ),
        col("c_nationkey") === col("c_nk")
      )
      .select("c_custkey", "cust_nation")
    t.lineitem
      .filter(
        col("l_shipdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00:00")) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.parse("1998-01-01T00:00:00"))
      )
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(t.orders.select("o_orderkey", "o_custkey"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custN), col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10") ||
          (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12")
      )
      .groupBy(
        col("supp_nation"),
        col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year")
      )
      .agg(dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q9 shape (product-type profit): profit = revenue − cost over a
    * part-name pattern, grouped by supplier nation × year. The fixture has
    * no ps_supplycost, so `p_retailprice × l_quantity` stands in for the
    * supply cost (documented adaptation; the shape — LIKE-filtered part
    * broadcast, two-term exact-decimal profit expression, nation/year
    * rollup — is Q9's). The LIKE filter prunes part BEFORE its broadcast,
    * so at 100 TB the fact side drops ~7/8 of rows at the first join.
    */
  val qTpchQ9: Q = q(
    "q_tpch_q9",
    """SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
      |               - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_profit
      |FROM lineitem
      |JOIN part     ON p_partkey = l_partkey
      |JOIN supplier ON s_suppkey = l_suppkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val profit = revenue(col("l_extendedprice"), col("l_discount")) -
      col("p_retailprice").cast(Money) * col("l_quantity").cast(Money)
    t.lineitem
      .join(
        broadcast(t.part.filter(col("p_name").contains("red")).select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey")
      )
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("l_shipdate")).cast("int").as("o_year"))
      .agg(dsumExpr(profit).as("sum_profit"))
      .orderBy("nation", "o_year")
  }

  /** TPC-H Q11 shape (important stock): a group-by HAVING against an
    * uncorrelated scalar subquery — per-part value among one region's
    * suppliers, kept only where it exceeds a fixed fraction of the TOTAL.
    * The total is the sum of the per-part DECIMAL partials (exact,
    * order-independent), NOT a re-scan and NOT a sum of already-cast
    * doubles, so one aggregation pass feeds both sides of the comparison;
    * the scalar lands as a 1-row broadcast (Q15/Q22 posture). The region
    * gate is a semi join on supplier keys — lineitem never widens.
    */
  val qTpchQ11: Q = q(
    "q_tpch_q11",
    """WITH v AS (
      |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS vdec
      |  FROM lineitem
      |  WHERE l_suppkey IN (
      |    SELECT s_suppkey FROM supplier
      |    JOIN nation ON s_nationkey = n_nationkey
      |    JOIN region ON n_regionkey = r_regionkey
      |    WHERE r_name = 'ASIA')
      |  GROUP BY 1)
      |SELECT l_partkey, CAST(vdec AS DOUBLE) AS value
      |FROM v
      |WHERE CAST(vdec AS DOUBLE) > 0.001 * (SELECT CAST(SUM(vdec) AS DOUBLE) FROM v)
      |ORDER BY value DESC, l_partkey""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val asiaSupp = t.supplier
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey")
    val v = t.lineitem
      .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast(Money)).as("vdec"))
    val total = v.agg(sum("vdec").cast("double").as("total"))
    v.crossJoin(broadcast(total)) // 1-row scalar broadcast, as in q_tpch_q22
      .filter(col("vdec").cast("double") > lit(0.001) * col("total"))
      .select(col("l_partkey"), col("vdec").cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** TPC-H Q12 shape (shipping modes / order priority): fact-fact join with
    * dual conditional counts. The fixture has no l_shipmode or commit/
    * receipt dates, so l_returnflag classes the lines and "shipped > 30
    * days after order" stands in for the late-receipt predicate (same
    * adaptation as Q4's). COUNT(CASE WHEN … THEN 1 END) rather than
    * SUM(int) so both engines emit BIGINT. The ship-year filter pushes to
    * the lineitem scan; the non-equi ship-lag predicate rides the join.
    */
  val qTpchQ12: Q = q(
    "q_tpch_q12",
    """SELECT l_returnflag AS ship_class,
      |  COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END) AS high_line_count,
      |  COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, dir) =>
    val t      = Tables(s, dir)
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t.lineitem
      .filter(
        col("l_shipdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00:00")) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.parse("1997-01-01T00:00:00"))
      )
      .join(
        t.orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS")
      )
      .groupBy(col("l_returnflag").as("ship_class"))
      .agg(
        count(when(isHigh, lit(1))).as("high_line_count"),
        count(when(!isHigh, lit(1))).as("low_line_count")
      )
      .orderBy("ship_class")
  }

  /** TPC-H Q16 shape (parts/supplier relationship): COUNT(DISTINCT) over a
    * derived part↔supplier pair relation with a NOT IN supplier exclusion.
    * The pair relation is the DISTINCT (l_partkey, l_suppkey) projection of
    * lineitem (the fixture's partsupp stand-in, as in Q2); negative account
    * balance stands in for the complaints comment filter. NOT IN on a
    * non-nullable key plans as a broadcast left-anti join; the distinct and
    * the count-distinct share the same (partkey, suppkey) exchange.
    */
  val qTpchQ16: Q = q(
    "q_tpch_q16",
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val qualParts = t.part
      .filter(
        col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
      )
      .select("p_partkey", "p_brand", "p_type", "p_size")
    t.lineitem
      .select("l_partkey", "l_suppkey")
      .distinct()
      .join(
        broadcast(t.supplier.filter(col("s_acctbal") < 0).select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"),
        "left_anti"
      )
      .join(broadcast(qualParts), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 shape (potential part promotion): the nested-subquery chain —
    * suppliers qualify through an IN subquery whose body compares a per-
    * (part, supplier) aggregate against a correlated per-part scalar
    * aggregate. Adapted: "shipped more than 30% of the part's annual
    * volume" replaces the availqty comparison (no partsupp table). Both
    * aggregate levels reuse the SAME exact-decimal shipped table — the
    * per-part total is a WINDOW sum of the per-(part,supplier) DECIMAL
    * partials over ONE l_partkey partition, so lineitem is scanned and
    * aggregated exactly once (PlanSpec pins the single scan); the
    * part-name gate semi-joins before either aggregate.
    */
  val qTpchQ20: Q = q(
    "q_tpch_q20",
    """WITH shipped AS (
      |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qdec
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |  GROUP BY 1, 2)
      |SELECT s_suppkey, s_name, s_acctbal
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM shipped
      |  WHERE CAST(qdec AS DOUBLE) > 0.3 * (
      |    SELECT CAST(SUM(s2.qdec) AS DOUBLE) FROM shipped s2
      |    WHERE s2.l_partkey = shipped.l_partkey))
      |ORDER BY s_suppkey""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val shipped = t.lineitem
      .filter(
        col("l_shipdate") >= lit(java.time.LocalDateTime.parse("1996-01-01T00:00:00")) &&
          col("l_shipdate") < lit(java.time.LocalDateTime.parse("1997-01-01T00:00:00"))
      )
      .join(
        broadcast(t.part.filter(col("p_name").startsWith("small")).select("p_partkey")),
        col("l_partkey") === col("p_partkey"),
        "left_semi"
      )
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast(Money)).as("qdec"))
    // the correlated per-part total as a WINDOW over the same aggregate —
    // the self-join shape ((shipped ⋈ shipped-reaggregated) that the SQL
    // oracle spells out) scanned lineitem TWICE, because column pruning
    // gives the two branches different canonical scans and defeats
    // exchange reuse. One window partitioned on l_partkey reads the
    // aggregate once: no second scan, no join, one extra narrow exchange.
    val qualifying = shipped
      .withColumn(
        "tot",
        sum("qdec")
          .over(org.apache.spark.sql.expressions.Window.partitionBy("l_partkey"))
          .cast("double")
      )
      .filter(col("qdec").cast("double") > lit(0.3) * col("tot"))
      .select("l_suppkey")
    t.supplier
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "s_acctbal")
      .orderBy("s_suppkey")
  }

  /** Bloom-filter semi-join reduction, registered: same semantics as a plain
    * `IN (SELECT …)` semi join (the oracle IS the plain semi join — Bloom
    * false positives are culled by the exact join that follows), executed
    * through [[graft.functions.GraftBloom.bloomSemiJoin]]: the key side
    * aggregates into a 128 KiB bit array (mergeable OR — the shuffle carries
    * one buffer per task, not the keys), lands in the plan as a literal
    * (the executed-runtime-filter contract, see the helper's scaladoc), and
    * the codegen'd `graft_bloom_contains` probe drops non-matching fact rows
    * IN THE SCAN STAGE, before the semi join's exchange. The runtime-filter
    * pattern as an explicit, hash-checked operator.
    */
  val qBloomJoin: Q = q(
    "q_bloom_join",
    """SELECT l_returnflag, COUNT(*) AS cnt,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_rev
      |FROM lineitem
      |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000.0)
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    graft.functions.GraftBloom
      .bloomSemiJoin(
        t.lineitem,
        "l_suppkey",
        t.supplier.filter(col("s_acctbal") > 5000.0).select("s_suppkey"),
        "s_suppkey"
      )
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("cnt"),
        dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("sum_rev")
      )
      .orderBy("l_returnflag")
  }

  /** Salted skew join, registered: same semantics as a plain
    * lineitem ⋈ supplier equi-join (the oracle IS the plain join), executed
    * through [[graft.ops.Bucketing.saltedJoin]] — big side salted randomly,
    * small side exploded `salt` times, join on (key, salt). The per-row salt
    * values are engine-local randomness, but the join's row MULTISET is
    * salt-invariant, so the aggregated result is hash-checkable. This gives
    * the pathological-skew path a driver-gate correctness row.
    */
  val qJoinSalted: Q = q(
    "q_join_salted",
    """SELECT s_nationkey,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_rev,
      |  COUNT(*) AS cnt
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin
  ) { (s, dir) =>
    val t     = Tables(s, dir)
    val small = t.supplier.select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.ops.Bucketing
      .saltedJoin(
        t.lineitem.select("l_suppkey", "l_extendedprice", "l_discount"),
        small,
        "l_suppkey",
        salt = 8
      )
      .groupBy("s_nationkey")
      .agg(
        dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("sum_rev"),
        count(lit(1)).as("cnt")
      )
      .orderBy("s_nationkey")
  }

  /** Bucketed co-located join, registered: same semantics as the plain
    * orders ⋈ lineitem orderkey join (the oracle IS the plain join), but
    * executed over the session's bucketed+sorted LAYOUT artifact
    * ([[graft.ops.Bucketing.bucketedOrdersLineitemFor]]) — both sides
    * pre-partitioned into 16 orderkey buckets, so the join AND the
    * per-order aggregate that follows run with ZERO hash exchange (the
    * only shuffle in the plan is the final presentation sort; pinned in
    * BucketingSpec with broadcast disabled). This is the recurring-
    * pipeline shape at 100 TB: the layout is written once, and every
    * subsequent run's dominant fact-fact shuffle disappears — the write
    * amortizes after roughly one repeat. Values are layout-invariant, so
    * the row hash rides the driver gate like every other join strategy.
    */
  val qJoinBucketed: Q = q(
    "q_join_bucketed",
    """SELECT o_orderkey, COUNT(*) AS n_lines,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, dir) =>
    val (ot, lt) = graft.ops.Bucketing.bucketedOrdersLineitemFor(s, dir)
    s.table(ot)
      .filter(col("o_orderstatus") === "F")
      .join(s.table(lt), "o_orderkey")
      .groupBy("o_orderkey")
      .agg(
        count(lit(1)).as("n_lines"),
        dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("revenue")
      )
      .orderBy("o_orderkey")
  }

  /** ADAPTIVE skew join — the production composition of q_heavy_hitters
    * and q_join_salted: measure per-key counts, take the top-5 heaviest
    * keys as the skew set (a bounded broadcast), then run ONE join where
    * only skewed keys are salted — the fact side draws a random salt for
    * heavy keys (0 otherwise) and the dim side explodes heavy keys across
    * all salts (a single `[0]` otherwise), so light keys pay no
    * replication and heavy keys' rows spread over `salt` reducers. Per-row
    * salts are engine-local randomness, but the join MULTISET is
    * salt-invariant, so the aggregate is hash-checked against the plain
    * join (the oracle). This is what AQE skew-split does at runtime,
    * expressed as an explicit operator for engines/pipelines that need it
    * deterministic and plannable; at 100 TB the measure pass is the same
    * scan q_heavy_hitters already runs (or its CMS sketch), and the flag
    * join is a ≤5-row broadcast on both sides.
    */
  val qJoinSkewAdaptive: Q = q(
    "q_join_skew_adaptive",
    """SELECT l_returnflag,
      |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 2) AS DOUBLE) AS sum_rev,
      |  COUNT(*) AS cnt
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY 1""".stripMargin
  ) { (s, dir) =>
    val Salt = 8
    val t    = Tables(s, dir)
    val fact = t.lineitem.select("l_suppkey", "l_returnflag", "l_extendedprice", "l_discount")
    val dim  = t.supplier.select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    val heavy = fact
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("kcnt"))
      .orderBy(col("kcnt").desc, col("l_suppkey"))
      .limit(5)
      .select(col("l_suppkey"), lit(true).as("__heavy"))
    val saltedFact = fact
      .join(broadcast(heavy), Seq("l_suppkey"), "left")
      .withColumn(
        "__salt",
        when(col("__heavy").isNotNull, (rand(seed = 7) * Salt).cast("int")).otherwise(lit(0))
      )
    val saltedDim = dim
      .join(broadcast(heavy), Seq("l_suppkey"), "left")
      .withColumn(
        "__salt",
        explode(
          when(col("__heavy").isNotNull, sequence(lit(0), lit(Salt - 1)))
            .otherwise(array(lit(0)))
        )
      )
    saltedFact
      .join(saltedDim, Seq("l_suppkey", "__salt"))
      .groupBy("l_returnflag")
      .agg(
        dsumExpr(revenue(col("l_extendedprice"), col("l_discount"))).as("sum_rev"),
        count(lit(1)).as("cnt")
      )
      .orderBy("l_returnflag")
  }

  /** Exact discrete percentiles (SQL-standard `percentile_disc`): unlike the
    * [[qApproxQuantiles]] sketch these pick actual data elements — no
    * interpolation arithmetic, so the values are bit-identical across
    * engines and fully hash-checkable. At 100 TB exact percentiles cost a
    * per-group sort; the approx sketch stays the scale path, and this query
    * is the ground truth it is judged against (SketchSpec bounds).
    */
  val qPercentile: Q = q(
    "q_percentile",
    """SELECT l_returnflag,
      |  quantile_disc(l_quantity, 0.25) AS p25,
      |  quantile_disc(l_quantity, 0.50) AS p50,
      |  quantile_disc(l_quantity, 0.75) AS p75,
      |  quantile_disc(l_quantity, 0.95) AS p95,
      |  COUNT(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    Tables(s, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)").as("p25"),
        expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity)").as("p50"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity)").as("p75"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY l_quantity)").as("p95"),
        count(lit(1)).as("cnt")
      )
      .orderBy("l_returnflag")
  }

  /** Left-semi join (EXISTS): customers that have at least one order. */
  val qSemiJoin: Q = q(
    "q_semi_join",
    """SELECT c_mktsegment, COUNT(*) AS cnt
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")
  }

  /** Left-anti join (NOT EXISTS): customers with no orders at all. */
  val qAntiJoin: Q = q(
    "q_anti_join",
    """SELECT c_custkey, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Distinct: dropDuplicates → partial+final aggregate, no global sort. */
  val qDistinct: Q = q(
    "q_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2"
  ) { (s, dir) =>
    Tables(s, dir).lineitem
      .select("l_returnflag", "l_linestatus")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Top-k: sort().limit(k) → Spark plans TakeOrderedAndProject (per-
    * partition heap + driver merge of k rows), not a global sort. Tie-broken
    * on o_orderkey so the result is a total order in both engines.
    */
  val qTopK: Q = q(
    "q_topk",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin
  ) { (s, dir) =>
    Tables(s, dir).orders
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** Set op: INTERSECT (distinct) of two filtered key sets. */
  val qIntersect: Q = q(
    "q_intersect",
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY custkey""".stripMargin
  ) { (s, dir) =>
    val o = Tables(s, dir).orders
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** Set op: EXCEPT (distinct). */
  val qExcept: Q = q(
    "q_except",
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY custkey""".stripMargin
  ) { (s, dir) =>
    val o = Tables(s, dir).orders
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** Multiset set op: EXCEPT ALL — each occurrence counts, so a customer
    * with three F-orders and one O-order keeps two rows (the bag-difference
    * semantics `except` (distinct) erases). Spark plans it as a count-based
    * generate over a single aggregation, not a join per duplicate.
    */
  val qExceptAll: Q = q(
    "q_except_all",
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT ALL
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY custkey""".stripMargin
  ) { (s, dir) =>
    val o = Tables(s, dir).orders
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      .exceptAll(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")))
      .orderBy("custkey")
  }

  /** UNPIVOT (melt): the inverse of [[qPivot]] — per-(lang, source) counts
    * stacked back to long form. Wide→long is a per-row expand (each input
    * row emits one row per value column), no shuffle at all beyond the
    * verification sort; the DuckDB mirror uses its native UNPIVOT.
    */
  val qUnpivot: Q = q(
    "q_unpivot",
    """SELECT lang, source, cnt FROM (
      |  SELECT lang,
      |    COUNT(*) FILTER (WHERE source = 'src0') AS src0,
      |    COUNT(*) FILTER (WHERE source = 'src1') AS src1,
      |    COUNT(*) FILTER (WHERE source = 'src2') AS src2,
      |    COUNT(*) FILTER (WHERE source = 'src3') AS src3
      |  FROM documents GROUP BY lang)
      |UNPIVOT (cnt FOR source IN (src0, src1, src2, src3))
      |ORDER BY lang, source""".stripMargin
  ) { (s, dir) =>
    pivotBySource(Tables(s, dir).documents)
      .unpivot(Array(col("lang")), PivotSources.map(col).toArray, "source", "cnt")
      .orderBy("lang", "source")
  }

  /** Set op: UNION (distinct) of customer keys from two sources. */
  val qUnion: Q = q(
    "q_union",
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
      |UNION
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
      |ORDER BY custkey""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    t.orders.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("custkey"))
      .union(t.customer.filter(col("c_acctbal") < 0).select(col("c_custkey").as("custkey")))
      .distinct()
      .orderBy("custkey")
  }

  /** Window function: top-3 orders per customer by price (row_number over a
    * customer-partitioned window — shuffles once on o_custkey, sorts within
    * partitions only; no global sort).
    */
  val qWindow: Q = q(
    "q_window",
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin
  ) { (s, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, dir).orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("o_totalprice"),
        row_number().over(w).as("rn")
      )
      .filter(col("rn") <= 3)
      .orderBy("o_custkey", "rn")
  }

  /** Rollup: hierarchical subtotals (returnflag → returnflag×linestatus →
    * grand total) in one pass.
    */
  val qRollup: Q = q(
    "q_rollup",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    Tables(s, dir).lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Aggregation variety: min/max/count-distinct (all exact, no doubles
    * summed as doubles).
    */
  val qAggStats: Q = q(
    "q_agg_stats",
    """SELECT l_returnflag,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
      |  COUNT(DISTINCT l_orderkey) AS distinct_orders,
      |  COUNT(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    Tables(s, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        countDistinct(col("l_orderkey")).as("distinct_orders"),
        count(lit(1)).as("cnt")
      )
      .orderBy("l_returnflag")
  }

  /** Cube: all grouping combinations in one pass (partial-agg expanded). */
  val qCube: Q = q(
    "q_cube",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    Tables(s, dir).lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** As-of join (an operator Spark lacks natively): for every event, the
    * timestamp of the same user's most recent prior-or-equal 'click' event.
    * Implemented scalably as one shuffle on user_id + a running
    * last-non-null window — NOT a per-row backward probe: at 100 TB this is
    * a single exchange and a per-partition sorted sweep. The DuckDB oracle
    * uses the identical window (DuckDB's native ASOF JOIN would drop
    * non-matching rows; the window form keeps them as NULL).
    */
  val qAsofJoin: Q = q(
    "q_asof_join",
    """SELECT event_id, user_id, ts, event_type,
      |  last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
      |FROM events
      |ORDER BY event_id""".stripMargin
  ) { (s, dir) =>
    val w = Window
      .partitionBy("user_id")
      .orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir).events
      .select(
        col("event_id"),
        col("user_id"),
        col("ts"),
        col("event_type"),
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
          .over(w)
          .as("last_click_ts")
      )
      .orderBy("event_id")
  }

  /** HLL sketch WITH a checked row: the sketch value itself is not
    * cross-engine hash-matchable (different sketch impls), so the query
    * emits the exact distinct count alongside and reduces the sketch to the
    * deterministic boolean |approx − exact| / exact < 0.05 — the oracle
    * hash-checks the exact columns and asserts the bound is TRUE, so a
    * sketch accuracy regression turns this row red instead of hiding behind
    * a rows-only check. Raw sketch-value bounds stay in SketchSpec.
    */
  val qApproxDistinct: Q = q(
    "q_approx_distinct",
    """SELECT l_returnflag, COUNT(*) AS cnt,
      |  COUNT(DISTINCT l_orderkey) AS exact_orders, TRUE AS hll_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    // Two-level aggregate instead of a mixed distinct/non-distinct agg: the
    // latter plans an Expand (every row duplicated per aggregate group),
    // doubling the shuffled volume. Level 1 partially aggregates to the
    // (flag, orderkey) grain; level 2 derives all three measures from it —
    // COUNT(*) of keys = exact distinct, SUM of per-key counts = row count,
    // and the HLL sketch over the deduped keys is IDENTICAL to one over the
    // raw multiset (duplicate inserts never change an HLL register).
    Tables(s, dir).lineitem
      .groupBy("l_returnflag", "l_orderkey")
      .agg(count(lit(1)).as("c"))
      .groupBy("l_returnflag")
      .agg(
        sum("c").as("cnt"),
        count(lit(1)).as("exact_orders"),
        // rsd 0.02: the default 0.05 can exceed the 5% bound; 2% target
        // keeps the sketch small (~4 KB) and the bound honest
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx")
      )
      .select(
        col("l_returnflag"),
        col("cnt"),
        col("exact_orders"),
        (abs(col("approx") - col("exact_orders")).cast("double") / col("exact_orders") < 0.05)
          .as("hll_ok")
      )
      .orderBy("l_returnflag")
  }

  /** Approximate percentiles (KLL-class sketch), same hybrid shape as
    * [[qApproxDistinct]]: exact discrete-percentile companions are
    * hash-checked, the sketch reduces to per-quantile relative-error
    * booleans the oracle asserts TRUE. accuracy=1000 bounds rank error at
    * n/1000 (0.1%), far inside the 5% relative value error the oracle
    * booleans assert and SketchSpec's 2% rank bound.
    *
    * The exact companion is a sort-based rank pick, NOT `percentile_disc`:
    * percentile_disc's ObjectAggregate buffers a value→count map of the
    * whole group in one executor's heap — no spill path, so a hot group at
    * 100 TB is an OOM, and even at sf0.1 the buffer build dominated this
    * query's bench time. The rank pick itself is DISTRIBUTED order
    * statistics (round 10; the single `Window.partitionBy(flag)` form
    * before it serialized each flag's sort onto ONE task — 19 s at the
    * 10× gate with |flags| = 3): approximate ventile bounds per flag
    * (percentile_approx — their ACCURACY is irrelevant to exactness, any
    * bounds give the same answer; they only spread and PRUNE the sort)
    * bucket every row scan-stage; per-(flag, bucket) counts make a
    * metadata-sized cumulative offset; the bucket holding each target
    * rank is identified FROM THE COUNTS ALONE (rank r lives in the
    * bucket with off < r ≤ off + c), so ONLY the ≤2 target buckets per
    * flag — ~10% of rows at 20 bounds — reach the row_number sort at all
    * (the previous form sorted every bucket then discarded all but two
    * ranks). The sketch pass was the true 10×-gate bottleneck, not the
    * sort: folding the two scalar companions into the ONE bounds array
    * (a50/a95 ARE ventiles 10 and 19) cut three ApproximatePercentile
    * corpus aggregates to one — 22.3 s → 8.0 s clean at the 10× gate,
    * identical output; the residual wall is the three scan passes
    * themselves. The global rank is
    * broadcast-offset + within-(flag, bucket) row_number;
    * `percentile_disc(q)` ≡ the value at 1-indexed position ⌈q·n⌉ of the
    * sorted group is picked by one conditional aggregate on the exact
    * global rank. The approximate companions ride the SAME aggregate that
    * derives the bounds (no extra pass). Rank targets use integer ceil
    * arithmetic (`(a + b − 1) div b`), bit-identical in any engine; ties
    * at a bucket boundary all land in the SAME bucket (the bound count is
    * ≤-based), so the cross-bucket ordering is total and the picked
    * values are tie-order-independent.
    *
    * Round 11: the three passes (sketch, counts, rank pick) now feed from
    * ONE cached 2-column projection instead of three parquet scans — the
    * `docTermTf` discipline. At 100 TB the cache is the same two pruned
    * columns an uncached pass would read, but it is read once from
    * storage and twice from executor memory/disk instead of three times
    * from storage.
    */
  val qApproxQuantiles: Q = q(
    "q_approx_quantiles",
    """SELECT l_returnflag,
      |  quantile_disc(l_extendedprice, 0.50) AS exact_p50,
      |  quantile_disc(l_extendedprice, 0.95) AS exact_p95,
      |  TRUE AS p50_ok, TRUE AS p95_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    val raw = Tables(s, dir).lineitem
      .select(col("l_returnflag"), col("l_extendedprice"))
    // the sf-fixture parquet is 3 splits, which serialized every cached
    // pass onto 3 of 32 cores — the whole residual wall of the pre-r11
    // form; the one 2-column round-robin exchange is repaid 3× by the
    // consumers below
    val base = graft.core.Cached.frame(graft.core.Width.compute(raw))
    // ONE sketch serves everything: the 19 ventile bounds spread/prune
    // the sort AND contain the approximate companions as elements 10
    // (0.50 = 10/20) and 19 (0.95 = 19/20) — the previous form paid for
    // THREE ApproximatePercentile aggregates over the corpus (one bounds
    // array + two scalar companions) and the sketch inserts, not the
    // sort, dominated the wall. 3-row result cached so its two consumers
    // (bucket bounds, final booleans) read the cache.
    val bounds = graft.core.Cached.frame(
      base
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(
            col("l_extendedprice"),
            array((1 to 19).map(i => lit(i / 20.0)): _*),
            lit(1000)
          ).as("bs")
        )
        .withColumn("a50", element_at(col("bs"), 10))
        .withColumn("a95", element_at(col("bs"), 19))
    )
    // cached too: the interpreted array-filter lambda (decimal compares,
    // no codegen) is the expensive per-row step, and BOTH downstream
    // passes (bucket counts, rank pick) key on bkt — pay it once. The
    // footprint is one extra 2-byte-ish column over the base cache.
    val bucketed = graft.core.Cached.frame(
      base
        .join(broadcast(bounds.select("l_returnflag", "bs")), "l_returnflag")
        .withColumn("bkt", size(filter(col("bs"), b => b <= col("l_extendedprice"))))
        .drop("bs")
    )
    val cnts = bucketed
      .groupBy("l_returnflag", "bkt")
      .agg(count(lit(1)).as("c"))
    val offs = cnts
      .withColumn(
        "off",
        coalesce(
          sum("c").over(
            Window
              .partitionBy("l_returnflag")
              .orderBy("bkt")
              .rowsBetween(Window.unboundedPreceding, -1)
          ),
          lit(0L)
        )
      )
      // the per-flag total rides the same metadata-sized window frame (a
      // fourth cnts consumer via a join here planned an extra corpus scan
      // — broadcast-stage subplans don't share exchange reuse with the
      // main query)
      .withColumn("n", sum("c").over(Window.partitionBy("l_returnflag")))
      .select("l_returnflag", "bkt", "off", "c", "n")
    val n = cnts.groupBy("l_returnflag").agg(sum("c").as("n"))
    // the ≤2 buckets per flag that actually CONTAIN a target rank — from
    // counts alone, no data touched
    val targets = offs
      .filter(
        (expr("(n + 1) div 2") > col("off")
          && expr("(n + 1) div 2") <= col("off") + col("c"))
          || (expr("(19 * n + 19) div 20") > col("off")
            && expr("(19 * n + 19) div 20") <= col("off") + col("c"))
      )
      .select("l_returnflag", "bkt", "off")
    bucketed
      .join(broadcast(targets), Seq("l_returnflag", "bkt"))
      .withColumn(
        "grn",
        col("off") + row_number()
          .over(Window.partitionBy("l_returnflag", "bkt").orderBy("l_extendedprice"))
      )
      .join(broadcast(n), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        min(when(col("grn") === expr("(n + 1) div 2"), col("l_extendedprice"))).as("exact_p50"),
        min(when(col("grn") === expr("(19 * n + 19) div 20"), col("l_extendedprice"))).as("exact_p95")
      )
      .join(broadcast(bounds.select("l_returnflag", "a50", "a95")), "l_returnflag")
      .select(
        col("l_returnflag"),
        col("exact_p50"),
        col("exact_p95"),
        (abs(col("a50") - col("exact_p50")) / col("exact_p50") < 0.05).as("p50_ok"),
        (abs(col("a95") - col("exact_p95")) / col("exact_p95") < 0.05).as("p95_ok")
      )
      .orderBy("l_returnflag")
  }

  /** Explicit GROUPING SETS (SQL-only surface in Spark → via the Sql entry
    * point): per-flag and per-status subtotals, no cross combination.
    */
  val qGroupingSets: Q = q(
    "q_grouping_sets",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
  ) { (s, dir) =>
    graft.Sql.query(
      s,
      dir,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin
    )
  }

  /** Pivot: documents per (lang, source) as a wide table — DataFrame
    * `pivot` with explicit values (explicit keeps the plan one-pass; an
    * unvalued pivot runs an extra distinct job). Oracle via conditional
    * aggregation.
    */
  /** The ONE lang×source pivot (columns, zero-fill policy), shared by
    * [[qPivot]] and its inverse [[qUnpivot]] so the "unpivot inverts pivot"
    * relationship is enforced by construction, not by parallel edits.
    */
  private val PivotSources = Seq("src0", "src1", "src2", "src3")
  private def pivotBySource(docs: DataFrame): DataFrame =
    docs
      .groupBy("lang")
      .pivot("source", PivotSources)
      .agg(count(lit(1)))
      .na.fill(0L, PivotSources)

  val qPivot: Q = q(
    "q_pivot",
    """SELECT lang,
      |  COUNT(*) FILTER (WHERE source = 'src0') AS src0,
      |  COUNT(*) FILTER (WHERE source = 'src1') AS src1,
      |  COUNT(*) FILTER (WHERE source = 'src2') AS src2,
      |  COUNT(*) FILTER (WHERE source = 'src3') AS src3
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  ) { (s, dir) =>
    pivotBySource(Tables(s, dir).documents).orderBy("lang")
  }

  /** The remaining rank-family window functions in one query: ntile,
    * percent_rank, cume_dist, nth_value — completing the window surface
    * next to q_window's rank and the frame-based queries. The ordering key
    * is unique per row (price desc, then orderkey), so the rank family and
    * nth_value's default RANGE frame are peer-free and deterministic;
    * percent_rank/cume_dist are single IEEE divisions of exact integer
    * positions. One exchange on the partition key, sort within partitions.
    */
  val qWindowSuite: Q = q(
    "q_window_suite",
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  CAST(NTILE(4) OVER w AS INTEGER) AS ntile4,
      |  PERCENT_RANK() OVER w AS pct_rank,
      |  CUME_DIST() OVER w AS cume,
      |  NTH_VALUE(o_orderkey, 3) OVER w AS third_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, dir) =>
    val w = Window
      .partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, dir).orders
      .select(
        col("o_orderkey"),
        col("o_orderpriority"),
        col("o_totalprice"),
        ntile(4).over(w).as("ntile4"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value(col("o_orderkey"), 3).over(w).as("third_key")
      )
      .orderBy("o_orderkey")
  }

  /** Pearson correlation + sample covariance per group, from exact moments:
    * built-in corr()/covar_samp() stream double sums whose order differs
    * between engines (and between runs), so instead the five moment sums
    * (Sx, Sy, Sxx, Syy, Sxy) are exact decimals — quantity and price carry
    * <= 2 decimals, their products are exact at scale 4 — and the
    * correlation is a fixed tree of single IEEE ops on those exact values,
    * bit-identical cross-engine. Same partial+final single-exchange shape
    * as any hash aggregate; this is how a 100 TB engine gets DETERMINISTIC
    * second-order statistics, not just fast ones.
    */
  val qCorr: Q = q(
    "q_corr",
    s"""SELECT l_returnflag, n, sxy_over_n_minus_1 AS covar_qty_price,
      |  ${Num.pearsonSql("n", "sx", "sy", "sxx", "syy", "sxy")} AS corr_qty_price
      |FROM (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |    CAST(round(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sxx,
      |    CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS syy,
      |    CAST(round(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sxy,
      |    (CAST(round(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE)
      |      - CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) * CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
      |      / (COUNT(*) - 1) AS sxy_over_n_minus_1
      |  FROM lineitem GROUP BY 1)
      |ORDER BY l_returnflag""".stripMargin
  ) { (s, dir) =>
    val x = col("l_quantity").cast(Money)
    val y = col("l_extendedprice").cast(Money)
    // moment sums via Num.m2 (scale-2, the documented 2^53 dodge); the
    // correlation tree + degenerate-group NULL pin live in Num.pearson,
    // shared with q_autocorr
    Tables(s, dir).lineitem
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        Num.m2(x * x).as("sxx"),
        Num.m2(y * y).as("syy"),
        Num.m2(x * y).as("sxy")
      )
      .select(
        col("l_returnflag"),
        col("n"),
        // NULL for a 1-row group, as DuckDB's `/ 0`
        ((col("sxy") - col("sx") * col("sy") / col("n")) / nullif(col("n") - 1, lit(0L)))
          .as("covar_qty_price"),
        Num.pearson(col("n"), col("sx"), col("sy"), col("sxx"), col("syy"), col("sxy"))
          .as("corr_qty_price")
      )
      .orderBy("l_returnflag")
  }

  /** Equi-width histogram (16 bins over the column's observed range) — the
    * two-pass profiling shape: a min/max aggregate lands as a 1-row
    * broadcast, then binning is pure per-row arithmetic feeding one
    * partial+final count. The bin function is a fixed IEEE tree (subtract,
    * divide, floor, clamp) on bit-identical doubles, so the histogram
    * hash-matches cross-engine; the top edge clamps into the last bin. A
    * constant column (hi == lo) is binned explicitly as 0 — without the
    * guard the engines DIVERGE on the 0-width division (Spark's non-ANSI
    * x/0 is NULL, which least() skips; DuckDB's 0.0/0.0 is NaN, which
    * errors on the BIGINT cast).
    */
  val qHistogram: Q = q(
    "q_histogram",
    """WITH b AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem)
      |SELECT bin, COUNT(*) AS n FROM (
      |  SELECT CASE WHEN hi = lo THEN 0
      |              ELSE LEAST(15, CAST(floor((l_extendedprice - lo) / ((hi - lo) / 16.0)) AS BIGINT))
      |         END AS bin
      |  FROM lineitem, b)
      |GROUP BY bin ORDER BY bin""".stripMargin
  ) { (s, dir) =>
    val li = Tables(s, dir).lineitem
    val bounds = li.agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
    li.crossJoin(broadcast(bounds)) // 1-row bounds broadcast
      .select(
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(
            least(
              lit(15L),
              floor((col("l_extendedprice") - col("lo")) / ((col("hi") - col("lo")) / 16.0))
            )
          )
          .as("bin")
      )
      .groupBy("bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("bin")
  }

  /** Equi-DEPTH histogram (the CBO/ANALYZE statistic next to
    * [[qHistogram]]'s equi-width bins): exact `percentile_disc` decile
    * cutoffs over l_extendedprice, then every row bucketed by how many
    * cutoffs it exceeds — counts come out ≈ n/10 per bucket by
    * construction, and the per-bucket [lo, hi] spans ARE the histogram a
    * cost model or range-partitioner consumes (equi-width bins collapse
    * under skew; equi-depth bins track it). `percentile_disc` picks actual
    * data elements, so cutoffs and bounds are bit-identical cross-engine
    * with no interpolation arithmetic.
    *
    * Scale shape: ONE cached 1-column scan feeds both the cutoff pass and
    * the bucketing pass. The cutoffs do NOT use the `percentile_disc`
    * aggregate — that is an ImperativeAggregate buffering EVERY value of
    * the group in one task (measured: 138 s on the 6M-row 10× corpus,
    * 40× this rank-select form) — but the equivalent distributed
    * definition: global RangePartitioning sort, `zipWithIndex`, and the
    * values at ranks ⌈p·n⌉ folded to one row by a partial+final
    * conditional max (percentile_disc(p) IS the value at rank ⌈p·n⌉, so
    * the hash-checked results are identical). The 1-row cutoff frame
    * broadcasts back (`crossJoin(broadcast(...))`, the house
    * keyless-window replacement), bucket assignment is a scan-stage
    * when-chain, and the final grain is 10 rows. At 100 TB the cutoff
    * pass can further swap for the KLL sketch (`q_approx_quantiles`) with
    * the bucketing pass unchanged; [[qPercentile]] remains the
    * ground-truth exactness statement for the aggregate form.
    */
  val qHistogramEqd: Q = q(
    "q_histogram_eqd",
    s"""WITH c AS (
       |  SELECT ${(1 to 9).map(i => s"quantile_disc(l_extendedprice, 0.$i) AS c$i").mkString(", ")}
       |  FROM lineitem)
       |SELECT bucket, COUNT(*) AS n_rows, MIN(v) AS lo, MAX(v) AS hi
       |FROM (
       |  SELECT l_extendedprice AS v,
       |    CAST(${(1 to 9).map(i => s"(CASE WHEN l_extendedprice > c$i THEN 1 ELSE 0 END)").mkString(" + ")} AS BIGINT) AS bucket
       |  FROM lineitem, c)
       |GROUP BY bucket ORDER BY bucket""".stripMargin
  ) { (s, dir) =>
    val base = graft.core.Cached.frame(
      Tables(s, dir).lineitem.select(col("l_extendedprice").as("v"))
    )
    // distributed exact percentile_disc: rank every value in one global
    // (parallel) sort, keep the 9 decile ranks. zipWithIndex is the same
    // distributed rank primitive the reference-parity group stage uses.
    val idxSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("idx", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)
    ))
    val ranked = s.createDataFrame(
      base.orderBy("v").rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row(i + 1L, r.getDouble(0))
      },
      idxSchema
    )
    val cuts = ranked
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
      .agg(
        max(when(col("idx") === expr("((1 * n) + 9) div 10"), col("v"))).as("c1"),
        (2 to 9).map(i =>
          max(when(col("idx") === expr(s"(($i * n) + 9) div 10"), col("v"))).as(s"c$i")): _*
      )
    base
      .crossJoin(broadcast(cuts))
      .select(
        col("v"),
        (1 to 9)
          .map(i => when(col("v") > col(s"c$i"), 1L).otherwise(0L))
          .reduce(_ + _)
          .as("bucket")
      )
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min("v").as("lo"), max("v").as("hi"))
      .orderBy("bucket")
  }

  /** Heavy-hitter profile: the top-10 keys by row count with their share of
    * the table — the skew scan a pipeline runs BEFORE choosing a join
    * strategy (its output is what justifies reaching for q_join_salted's
    * salting or AQE skew splitting). One partial+final count per key; the
    * total is a global window over the key-bounded aggregate (one fact
    * scan); top-k as TakeOrderedAndProject; the share is one IEEE division
    * of exact longs.
    */
  val qHeavyHitters: Q = q(
    "q_heavy_hitters",
    """WITH c AS (SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      |t AS (SELECT COUNT(*) AS total FROM lineitem)
      |SELECT l_suppkey, cnt, CAST(cnt AS DOUBLE) / total AS share
      |FROM c, t ORDER BY cnt DESC, l_suppkey LIMIT 10""".stripMargin
  ) { (s, dir) =>
    val li = Tables(s, dir).lineitem
    val counts =
      graft.core.Cached.frame(li.groupBy("l_suppkey").agg(count(lit(1)).as("cnt")))
    // total = Σ per-key counts over the ALREADY-AGGREGATED cached frame as
    // a 1-row broadcast — not a second fact scan, and not a keyless window
    // (distinct keys grow with the corpus; a single-partition frame over
    // ~10⁸ keys at 100 TB would funnel through one task)
    counts
      .crossJoin(broadcast(counts.agg(sum("cnt").as("total"))))
      .select(col("l_suppkey"), col("cnt"), (col("cnt").cast("double") / col("total")).as("share"))
      .orderBy(col("cnt").desc, col("l_suppkey"))
      .limit(10)
  }

  /** 32-bit Morton address: bits of `a` (masked to 16) at even positions,
    * bits of `b` at odd. Shared by q_zorder and PropertySpec's
    * deinterleave round-trip, so the query's bit math is the tested bit
    * math.
    */
  def zaddrOf(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def zBits(c: org.apache.spark.sql.Column, off: Int) =
      (0 until 16)
        .map(i => shiftleft(shiftright(c.bitwiseAND(lit(65535L)), i).bitwiseAND(lit(1L)), 2 * i + off))
        .reduce(_ + _)
    zBits(a, 0) + zBits(b, 1)
  }

  /** Z-order (Morton) clustering key + per-z-range locality audit — the
    * multidimensional data-skipping layout: interleaving the bits of
    * (l_partkey, l_suppkey) gives a single sort key under which every
    * contiguous z-range covers a small RECTANGLE in (part, supp) space, so
    * a table range-partitioned/sorted by `zaddr` before writing (the
    * [[graft.sources.Sources.writeParquetCompacted]] path) lets parquet
    * min/max stats prune scans on EITHER key — the effect this query
    * measures by emitting each 65536-address z-range's bounding box
    * (`COUNT`, min/max of both dims). Pure per-row bit arithmetic (16
    * masked bits per dimension, shift/and/or — exact on both engines'
    * int64s) plus one partial+final aggregate; at 100 TB the z-key costs
    * nothing at write time and replaces two single-column sort layouts.
    */
  val qZorder: Q = {
    def zTermsSql(c: String, off: Int) =
      (0 until 16).map(i => s"((($c & 65535) >> $i & 1) << ${2 * i + off})").mkString(" + ")
    q(
      "q_zorder",
      s"""WITH z AS (
         |  SELECT l_partkey, l_suppkey,
         |    ${zTermsSql("l_partkey", 0)} + ${zTermsSql("l_suppkey", 1)} AS zaddr
         |  FROM lineitem)
         |SELECT zaddr >> 16 AS zbucket, COUNT(*) AS n,
         |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
         |  MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir).lineitem
        .select(
          col("l_partkey"),
          col("l_suppkey"),
          zaddrOf(col("l_partkey"), col("l_suppkey")).as("zaddr")
        )
        .groupBy(shiftright(col("zaddr"), 16).as("zbucket"))
        .agg(
          count(lit(1)).as("n"),
          min("l_partkey").as("min_part"),
          max("l_partkey").as("max_part"),
          min("l_suppkey").as("min_supp"),
          max("l_suppkey").as("max_supp")
        )
        .orderBy("zbucket")
    }
  }

  /** 2-D range probe over the Z-ORDERED lineitem layout
    * ([[graft.ops.ZOrder.layoutFor]] — the written form of the clustering
    * `q_zorder` computes): a rectangle predicate on BOTH interleaved keys,
    * answered from the clustered copy. Values are layout-independent, so
    * the oracle runs the same rectangle over the raw `lineitem` — the
    * hash compare proves the rewritten layout lost/duplicated nothing —
    * while the data-skipping effect itself (row groups pruned by min/max
    * stats vs an unclustered control) is measured in PlanSpec, where scan
    * metrics are observable. At 100 TB the probe is the point of the
    * layout: either-key rectangles touch only the files whose z-range
    * intersects them.
    */
  val qZorderProbe: Q = q(
    "q_zorder_probe",
    """SELECT COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
      |  MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
      |FROM lineitem
      |WHERE l_partkey BETWEEN 64 AND 255 AND l_suppkey BETWEEN 16 AND 47""".stripMargin
  ) { (s, dir) =>
    Tables.read(s, graft.ops.ZOrder.layoutFor(s, dir))
      .filter(col("l_partkey").between(64, 255) && col("l_suppkey").between(16, 47))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"),
        min("l_partkey").as("min_part"),
        max("l_partkey").as("max_part"),
        min("l_suppkey").as("min_supp"),
        max("l_suppkey").as("max_supp")
      )
  }

  /** Benford first-digit audit — the classic fabricated-data screen:
    * organically-grown magnitudes follow log-uniform leading digits
    * (P(d)=log10(1+1/d)); uniform synthetic data (like this fixture)
    * flattens the curve, and either deviation is what the audit
    * surfaces (the auditor compares the emitted observed shares against
    * the log10(1+1/d) reference curve — that constant table lives with
    * the consumer, not in the query, because libm log10 is exactly the
    * cross-engine hazard this engine avoids). Determinism: the leading
    * digit is taken from the INTEGER cents string (`CAST(price*100 AS
    * BIGINT)` is exact at money scale, integer→string has no
    * locale/format variance, and scaling by 100 never changes the
    * leading significant digit). Plan: ONE partial+final digit count; the
    * total is a global window over the 9-row aggregate, so the fact table
    * is scanned once (ScanAuditSpec pins it).
    */
  val qBenford: Q = q(
    "q_benford",
    """WITH d AS (
      |  SELECT substr(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS digit
      |  FROM lineitem WHERE l_extendedprice > 0),
      |t AS (SELECT COUNT(*) AS total FROM d)
      |SELECT digit, COUNT(*) AS n,
      |  CAST(COUNT(*) AS DOUBLE) / total AS share
      |FROM d, t GROUP BY digit, total ORDER BY digit""".stripMargin
  ) { (s, dir) =>
    val digits = Tables(s, dir).lineitem
      .filter(col("l_extendedprice") > 0)
      .select(
        substring((col("l_extendedprice").cast(Money) * 100).cast("long").cast("string"), 1, 1)
          .as("digit")
      )
    // total = Σ per-digit counts over the cached 9-row aggregate as a
    // 1-row broadcast — not a second fact scan; the frame is constant-size
    // here, but the keyless-window pattern is banned engine-wide (it
    // single-partitions whatever it touches), so the scale-safe idiom is
    // used uniformly
    val byDigit = graft.core.Cached.frame(digits.groupBy("digit").agg(count(lit(1)).as("n")))
    byDigit
      .crossJoin(broadcast(byDigit.agg(sum("n").as("total"))))
      .select(col("digit"), col("n"), (col("n").cast("double") / col("total")).as("share"))
      .orderBy("digit")
  }

  /** Data-quality profile: one pass over lineitem collecting per-column
    * completeness/cardinality/range stats — the pre-ingest audit every
    * training pipeline runs. Single partial+final aggregate, no per-column
    * jobs.
    */
  val qProfile: Q = q(
    "q_profile",
    """SELECT COUNT(*) AS n_rows,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
      |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_flags,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
      |  MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship
      |FROM lineitem""".stripMargin
  ) { (s, dir) =>
    Tables(s, dir).lineitem.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      countDistinct(col("l_suppkey")).as("n_suppliers"),
      sum(when(col("l_returnflag").isNull, 1).otherwise(0)).as("null_flags"),
      min("l_quantity").as("min_qty"),
      max("l_quantity").as("max_qty"),
      min("l_shipdate").as("min_ship"),
      max("l_shipdate").as("max_ship")
    )
  }

  /** 2-D skyline (Pareto frontier) — Börzsönyi et al. 2001's SKYLINE
    * operator: the (price, discount) offers not dominated by any other
    * offer (dominates = price ≤ AND discount ≥ with at least one strict) —
    * the multi-criteria "best offers" query no single ORDER BY expresses.
    *
    * Distributed shape (the classical two-phase skyline): after a DISTINCT
    * on the integer-exact (cents, basis-point) grid, points are
    * range-partitioned and sorted by (price ASC, discount DESC), and each
    * partition runs the linear 2-D skyline scan — keep a point iff its
    * discount strictly exceeds the running maximum (any earlier point in
    * the sort order has price ≤ current, so a non-improving discount means
    * dominated). `mapPartitions` is the deliberate last-resort tier here
    * (SURVEY §custom-op ladder): the scan is inherently sequential state
    * over an ordered partition, which no Catalyst operator expresses — and
    * it reduces each partition to its local frontier, so the final
    * cross-partition dominance anti-join runs over frontier-sized
    * candidates (4 points at sf0.001; O(√n) expected for independent
    * dimensions — worst case all points on the frontier is the
    * anti-correlated-dimensions pathology, documented not defended). The
    * merge anti-join is a BroadcastNestedLoopJoin over those candidates,
    * never a corpus-sized product.
    *
    * Cross-engine determinism: the frontier is a unique SET given the
    * dominance definition, money/rate casts make the grid exact, and the
    * oracle computes the same set from first principles (NOT EXISTS
    * dominance) with no knowledge of the two-phase algorithm.
    */
  val qSkyline: Q = Q(
    "q_skyline",
    (s, dir) => {
      import s.implicits._
      // NOT spread (measured r16): the 1.1 s scan stage is parquet DECODE,
      // which no repartition can parallelize inside one row group, and a
      // spread before the distinct replaces the scan-stage partial distinct
      // with a full-row shuffle — measured 2.16 → 2.54 s, reverted.
      val pts = Tables(s, dir).lineitem
        .select(
          (col("l_extendedprice").cast(Money) * 100).cast("long").as("price_cents"),
          (col("l_discount").cast(Rate) * 10000).cast("long").as("disc_bp")
        )
        .distinct()
      val local = pts
        .repartitionByRange(col("price_cents"), col("disc_bp").desc)
        .sortWithinPartitions(col("price_cents"), col("disc_bp").desc)
        .as[(Long, Long)]
        .mapPartitions { it =>
          var best = Long.MinValue
          it.filter { case (_, d) => if (d > best) { best = d; true } else false }
        }
        .toDF("price_cents", "disc_bp")
      local
        .alias("a")
        .join(
          local.alias("b"),
          col("b.price_cents") <= col("a.price_cents") &&
            col("b.disc_bp") >= col("a.disc_bp") &&
            (col("b.price_cents") < col("a.price_cents") || col("b.disc_bp") > col("a.disc_bp")),
          "left_anti"
        )
        .orderBy("price_cents")
    },
    Some(
      """WITH p AS (
        |  SELECT DISTINCT
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_cents,
        |    CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT) AS disc_bp
        |  FROM lineitem)
        |SELECT price_cents, disc_bp FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_cents <= a.price_cents AND b.disc_bp >= a.disc_bp
        |    AND (b.price_cents < a.price_cents OR b.disc_bp > a.disc_bp))
        |ORDER BY price_cents""".stripMargin
    )
  )

  /** CDC merge-apply (the batch MERGE INTO shape): a change batch is
    * deduplicated to one latest change per key, then applied to a
    * snapshot in ONE full-outer join — matched deletes drop, matched
    * upserts replace, unmatched changes insert, untouched snapshot rows
    * pass through, each row tagged with the action taken. The change
    * stream is derived from orders (latest order per customer by
    * (o_orderdate, o_orderkey); status F ⟹ delete, else upsert to that
    * order's total), the snapshot is customer. This is the incremental-
    * maintenance primitive a 100 TB pipeline runs every batch: dedup =
    * one keyed window (partitioned by the merge key — the map-side-
    * combine max_by variant of the same step is q_latest_by_key), apply =
    * one equi join on the merge key, so a bucketed/partitioned snapshot
    * layout makes the whole merge exchange-free (q_join_bucketed's play).
    * `bal` picks a single stored value — no summation-order hazard.
    */
  val qCdcApply: Q = q(
    "q_cdc_apply",
    """WITH latest AS (
      |  SELECT o_custkey, o_orderstatus, o_totalprice FROM (
      |    SELECT o_custkey, o_orderstatus, o_totalprice,
      |      row_number() OVER (PARTITION BY o_custkey
      |                         ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1)
      |SELECT COALESCE(c.c_custkey, l.o_custkey) AS cust_id,
      |  CASE WHEN l.o_custkey IS NOT NULL THEN l.o_totalprice ELSE c.c_acctbal END AS bal,
      |  CASE WHEN l.o_custkey IS NULL THEN 'keep'
      |       WHEN c.c_custkey IS NULL THEN 'insert' ELSE 'update' END AS action
      |FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.o_custkey
      |WHERE l.o_custkey IS NULL OR l.o_orderstatus <> 'F'
      |ORDER BY cust_id""".stripMargin
  ) { (s, dir) =>
    val t = Tables(s, dir)
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val latest = t.orders
      .select(col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderstatus", "o_totalprice")
    t.customer
      .select(col("c_custkey"), col("c_acctbal"))
      .join(latest, col("c_custkey") === col("o_custkey"), "full_outer")
      .filter(col("o_custkey").isNull || col("o_orderstatus") =!= "F")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("cust_id"),
        when(col("o_custkey").isNotNull, col("o_totalprice"))
          .otherwise(col("c_acctbal"))
          .as("bal"),
        when(col("o_custkey").isNull, "keep")
          .when(col("c_custkey").isNull, "insert")
          .otherwise("update")
          .as("action")
      )
      .orderBy("cust_id")
  }

  val all: Seq[Q] = Seq(
    q1Agg, qFilter, qProject, qJoinBroadcast, qJoinShuffle, qTpchQ2, qTpchQ3, qTpchQ4, qTpchQ5,
    qTpchQ6, qTpchQ7, qTpchQ8, qTpchQ9, qTpchQ10, qTpchQ11, qTpchQ12, qTpchQ13, qTpchQ15,
    qTpchQ16, qTpchQ17, qTpchQ18, qTpchQ19, qTpchQ20, qTpchQ21,
    qTpchQ22, qPromoShare, qBloomJoin, qJoinSalted, qJoinBucketed, qJoinSkewAdaptive, qPercentile, qRunningTotal, qSemiJoin, qAntiJoin,
    qDistinct, qTopK, qIntersect, qExcept, qExceptAll, qUnion, qWindow, qWindowSuite, qRollup,
    qAggStats, qCorr, qCube, qAsofJoin, qApproxDistinct, qApproxQuantiles,
    qGroupingSets, qPivot, qUnpivot, qProfile, qHistogram, qHistogramEqd, qHeavyHitters, qZorder, qZorderProbe,
    qBenford, qSkyline, qCdcApply
  )
}
