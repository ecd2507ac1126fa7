package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Joins (SURVEY.md §2.3).
  *
  * Reference behaviors:
  *  - fact x dim left enrichment join with 'Unknown' fill
  *    (`services/silver_layer/process_silver.py:107-112,247-248`);
  *  - per-row metadata lookup — same left-join semantics
  *    (`services/consumer/consumer.py:88-98`);
  *  - implied inner join in dashboard filters (`services/analytics/app.py:205-216`);
  *  - matched/unmatched metadata split == semi/anti join
  *    (`services/consumer/consumer.py:91-92`).
  *
  * Scale notes: dimensions are `broadcast()`-hinted — BroadcastHashJoin,
  * no shuffle of the fact side (the reference preloads its ~100 MB dim in
  * memory for the same reason). The inner join chain aggregates with
  * map-side partial aggregation after a single AQE-planned join tree.
  */
object Joins {

  /** J1/J2: broadcast left equi-join enrichment + Unknown fill. */
  val joinLeftEnrich: Q = (spark, dir) => {
    val orders = Tables(spark, dir, "orders")
    val dim = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    orders
      .join(broadcast(dim), orders("o_custkey") === dim("c_custkey"), "left")
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        coalesce(col("c_name"), lit("Unknown")).as("c_name"),
        coalesce(col("c_mktsegment"), lit("Unknown")).as("c_mktsegment"))
      .orderBy(col("o_orderkey"))
  }

  /** J3: inner equi-join chain + aggregate. */
  val joinInner: Q = (spark, dir) => {
    val li = Tables(spark, dir, "lineitem")
    val orders = Tables(spark, dir, "orders")
    val cust = Tables(spark, dir, "customer")
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** LEFT SEMI: customers that have at least one order. */
  val joinSemi: Q = (spark, dir) => {
    val cust = Tables(spark, dir, "customer")
    val orders = Tables(spark, dir, "orders").select(col("o_custkey"))
    cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** LEFT ANTI: customers with no orders (unmatched-metadata split). */
  val joinAnti: Q = (spark, dir) => {
    val cust = Tables(spark, dir, "customer")
    val orders = Tables(spark, dir, "orders").select(col("o_custkey"))
    cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** FULL OUTER: per-user event counts x customer dim — keeps
    * customers with no events (left-only) AND event users outside the
    * dim (right-only, user 0). Completes the join-type matrix with
    * semi/anti/left/inner above. */
  val joinFull: Q = (spark, dir) => {
    val users = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_custkey") < 300)
      .select(col("c_custkey"), col("c_mktsegment"))
    cust.join(users, cust("c_custkey") === users("user_id"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("user_id")).as("k"),
        col("c_mktsegment"), col("n_events"))
      .orderBy(col("k"))
  }

  /** Binned range join (point-in-interval, NO equi key).
    *
    * A naive `points JOIN intervals ON p BETWEEN s AND e` has no
    * hashable key, so Spark plans BroadcastNestedLoopJoin — O(n·m)
    * comparisons, the classic range-join trap. The fix (same idea as
    * Databricks' range-join hint): quantize time into fixed-width bins
    * no narrower than the interval length, explode each interval onto
    * the <=2 bins it overlaps, and equi-join on the bin with the exact
    * containment predicate as a residual filter. Each point then probes
    * a hash table once instead of scanning every interval; at 100 TB
    * the intermediate is |points| * avg_intervals_per_bin, not n·m.
    *
    * Here: every 100th order opens a 30-day fulfillment window; count
    * and total the lineitems shipped inside each window. The sum is
    * `round(sum(double), 4)` on BOTH engines — the same pattern as
    * joinInner — because a double->DECIMAL cast renders differently
    * across DuckDB versions (round-2's one hash mismatch). */
  val joinRange: Q = (spark, dir) => {
    val binDays = 30 // bin width == interval length => <=2 bins/interval
    val iv = Tables(spark, dir, "orders")
      .filter(col("o_orderkey") % 100 === 0)
      .select(
        col("o_orderkey").as("iv_id"),
        to_date(col("o_orderdate")).as("start_d"),
        date_add(to_date(col("o_orderdate")), binDays).as("end_d"))
      .withColumn("bin", explode(sequence(
        floor(unix_date(col("start_d")) / binDays),
        floor(unix_date(date_sub(col("end_d"), 1)) / binDays))))
    val pts = Tables(spark, dir, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_d"), col("l_extendedprice"))
      .withColumn("bin", floor(unix_date(col("ship_d")) / binDays))
    pts.join(
        broadcast(iv),
        pts("bin") === iv("bin") &&
          col("ship_d") >= col("start_d") && col("ship_d") < col("end_d"))
      .groupBy(col("iv_id"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice")), 4).as("sum_price"))
      .orderBy(col("iv_id"))
  }

  /** Salted shuffle join: the skew-defeating join form (the join-side
    * sibling of Advanced.aggSalted). A shuffle join hashes every fact
    * row with key k to ONE reducer — a hot key (events.user_id is
    * deliberately skewed in the fixtures) turns into one straggler
    * task. Salting replicates each dim row S times (dim is the small
    * side — S·|dim| stays tiny) and spreads each fact key over S
    * reducers via a deterministic salt; results are identical to the
    * plain join, which is the oracle. `shuffle_hash` hint keeps the
    * demonstration honest — this pattern targets dims too large to
    * broadcast (at 100 TB a user dim is, and AQE skew-join only splits
    * oversized partitions after the fact; salting prevents them). */
  val joinSalted: Q = (spark, dir) => {
    val s = 8
    val fact = Tables(spark, dir, "events")
      .withColumn("salt", pmod(col("event_id"), lit(s)).cast("int"))
    val dim = Tables(spark, dir, "customer")
      .filter(col("c_custkey") < 150)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      .withColumn("salt", explode(sequence(lit(0), lit(s - 1))))
    fact.join(dim.hint("shuffle_hash"), Seq("user_id", "salt"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q3 (shipping priority): the canonical 3-way join + topk
    * macro query, on the fixtures' own star schema. Plan shape that
    * matters at 100 TB: both date filters reach the parquet scans
    * (PushedFilters), the customer dim broadcasts, and the top-10 is
    * TakeOrderedAndProject — no global sort of the aggregate. */
  val tpchQ3: Q = (spark, dir) => {
    val cutoff = "1998-01-01"
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val orders = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 (local supplier volume): 6-table join chain —
    * region -> nation -> customer/supplier co-nationality -> orders ->
    * lineitem — the join-reorder / broadcast-dim stress test. All four
    * dims broadcast; the only shuffles are fact-fact (lineitem x
    * orders) and the final 5-row aggregate. */
  val tpchQ5: Q = (spark, dir) => {
    val region = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    val nation = Tables(spark, dir, "nation")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val orders = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
      .join(broadcast(supp),
        li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q18 (large-volume customer): the agg-as-filter macro —
    * Q1/Q3/Q5/Q6 cover scan/join/agg, but not an AGGREGATE driving a
    * join as a filter. sum(l_quantity) HAVING > 300 reduces lineitem
    * to a key list orders of magnitude smaller than the fact, which
    * then gates a 4-way join as a semi-join build side — small enough
    * that AQE's runtime size check converts it to a broadcast at the
    * 100 TB end (statically it plans as a shuffled semi join; the
    * key list's size is only known after the aggregate runs). The
    * customer dim broadcasts statically; the top-100 is
    * TakeOrderedAndProject, never a global sort. Determinism: the
    * quantity sum is round(sum,4) (dense double aggregate), and
    * o_orderkey breaks o_totalprice ties across the LIMIT boundary. */
  val tpchQ18: Q = (spark, dir) => {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sq"))
      .filter(col("sq") > 300)
      .select(col("l_orderkey").as("bigkey"))
    val orders = Tables(spark, dir, "orders")
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    orders.join(big, orders("o_orderkey") === col("bigkey"), "left_semi")
      .join(li, col("o_orderkey") === li("l_orderkey"))
      .join(broadcast(cust), col("o_custkey") === cust("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      .agg(round(sum(col("l_quantity")), 4).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q13 (customer distribution): the OUTER-join-then-double-
    * aggregate macro — the one TPC-H shape Q1/Q3/Q5/Q6/Q18 don't
    * cover. A LEFT join keeps zero-order customers; count(o_orderkey)
    * ignores the null-padded rows, so they land in the c_count = 0
    * bucket; a second aggregate histograms the counts. Q13's fact-side
    * exclusion filter lives in the JOIN CONDITION (filtering the fact
    * BEFORE an outer join is equivalent and lets the predicate push to
    * the orders scan — the fixtures have no o_comment, so the class
    * filter stands in for NOT LIKE '%special%requests%'). At 100 TB
    * neither side broadcasts: both aggregates key on their grouping
    * column, the first rides the join's custkey shuffle, and the
    * second's input is one row per customer COUNT — dozens of rows.
    * Determinism: c_count is unique per output row, so
    * (custdist DESC, c_count DESC) is a total order. */
  val tpchQ13: Q = (spark, dir) => {
    val cust = Tables(spark, dir, "customer").select(col("c_custkey"))
    val orders = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
    cust.join(orders, cust("c_custkey") === orders("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q10 (returned item reporting): rank customers by revenue
    * lost to returns in one quarter — the wide-group-by top-k macro.
    * Unlike Q3/Q5 (narrow keys) the aggregate groups on four customer
    * attributes; Spark keys the shuffle on the whole tuple, which is
    * functionally keyed by c_custkey alone, so the agg still rides one
    * custkey-dominated exchange. Customer is deliberately NOT
    * broadcast: at 100 TB the customer dim is tens of GB, and the
    * quarter+returnflag filters already shrink the fact side to the
    * same order of magnitude — a shuffled join with AQE free to
    * convert at runtime is the honest plan (nation, 25 rows, does
    * broadcast). Top-20 is TakeOrderedAndProject, never a global
    * sort. Determinism: revenue is round(sum(double), 4) on both
    * engines — the per-row DECIMAL(18,4) cast diverged at the
    * .00005 boundary between Spark and DuckDB (round-4 red row);
    * c_custkey breaks revenue ties across the LIMIT boundary. */
  val tpchQ10: Q = (spark, dir) => {
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_nationkey"))
    val nation = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val orders = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(cust, orders("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 (promotion effect): what fraction of one month's
    * revenue came from promo parts — the conditional-ratio macro over
    * a fact x dim join. The month filter reaches the lineitem scan;
    * part joins broadcast (it is a true dim); the two sums fold into
    * ONE aggregate pass (a CASE inside sum, not two jobs). The output
    * is a single row — the shuffle is the join only. Determinism:
    * both sums rounded to 4 BEFORE the division, so the ratio is
    * identical arithmetic on identical doubles on both engines
    * (fixtures use class-valued p_type, so the predicate is equality
    * with 'PROMO' rather than LIKE 'PROMO%'). */
  val tpchQ14: Q = (spark, dir) => {
    val part = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_type"))
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0d))), 4)
          .as("promo_rev"),
        round(sum(rev), 4).as("total_rev"))
      .withColumn("promo_pct",
        round(col("promo_rev") * 100d / col("total_rev"), 4))
  }

  /** TPC-H Q15 (top supplier): the argmax-over-an-aggregate macro —
    * revenue per supplier for one quarter, then keep the supplier(s)
    * hitting the maximum. The classic formulation scans the fact
    * twice (once for the revenue view, once for the scalar max);
    * here the max rides a global window OVER THE AGGREGATE OUTPUT —
    * a single-partition pass, but over a supplier-cardinality frame
    * (10k rows at 100 TB), which is the right trade against a second
    * 100 TB fact scan. The supplier dim broadcasts. Determinism:
    * revenue is round(sum,4) BEFORE the max equality, so both
    * engines select the argmax over identical 4-decimal values;
    * s_suppkey orders the (rare) tie output. */
  val tpchQ15: Q = (spark, dir) => {
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
    val rev = li.groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("total_rev"))
    val supp = Tables(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    rev.withColumn("mx", max(col("total_rev")).over(
        Window.partitionBy()))
      .filter(col("total_rev") === col("mx"))
      .join(broadcast(supp), col("l_suppkey") === supp("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q17 (small-quantity-order revenue): the per-group
    * scalar-aggregate-as-ROW-filter macro — Q18 gates GROUPS on their
    * own aggregate; Q17 gates individual fact rows on their group's
    * aggregate (l_quantity < 0.2 x that part's average quantity).
    * The brand filter broadcasts into the fact first, so the
    * per-partkey average is a window over the RESTRICTED fact — one
    * partkey shuffle of a thousandth of the data instead of the
    * self-join-with-reaggregation a literal translation of the
    * correlated subquery would cost (the join restricts by partkey
    * only, so the window sees every lineitem row of each surviving
    * part — semantics identical to the correlated form, which the
    * oracle deliberately keeps as an independent strategy).
    * Determinism: quantities are integral doubles, so their sums are
    * EXACT in IEEE754 regardless of order and the 0.2x threshold is
    * bit-identical on both engines; the output sum is round/7.0/4. */
  val tpchQ17: Q = (spark, dir) => {
    val part = Tables(spark, dir, "part")
      .filter(col("p_brand") === "Brand#13")
      .select(col("p_partkey"))
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .withColumn("avg_qty",
        avg(col("l_quantity")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 4).as("avg_yearly"))
  }

  /** TPC-H Q19 (discounted revenue): the disjunctive-predicate macro —
    * an OR of three brand/size/quantity conjunctions spanning BOTH
    * join sides, the shape that defeats naive single-branch pushdown.
    * Spark-first handling mirrors what mature TPC-H planners do:
    * derive the single-side envelopes by hand — the part-only
    * disjunction prunes the dim at its scan, the quantity envelope
    * (the union of the three ranges) prunes the fact at its scan —
    * then apply the full cross-side OR as the broadcast join's
    * residual. At 100 TB the envelope filters are what matter: the
    * fact scan drops ~20% of rows before the join ever sees them,
    * and the dim broadcast carries 3 brands instead of 25.
    * Determinism: single-row round(sum,4) output. */
  val tpchQ19: Q = (spark, dir) => {
    val b1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15)
    val b2 = col("p_brand") === "Brand#2" && col("p_size").between(10, 30)
    val b3 = col("p_brand") === "Brand#3" && col("p_size").between(20, 50)
    val part = Tables(spark, dir, "part")
      .filter(b1 || b2 || b3)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_quantity").between(1, 40))
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val full = (b1 && col("l_quantity").between(1, 20)) ||
      (b2 && col("l_quantity").between(10, 30)) ||
      (b3 && col("l_quantity").between(20, 40))
    li.join(broadcast(part), li("l_partkey") === part("p_partkey") && full)
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
  }

  /** TPC-H Q22 (global sales opportunity): the scalar-threshold +
    * anti-join macro — customers in three segments with above-average
    * balances and NO recent orders (the fixtures span 1995-2001 with
    * ~70 orders per customer, so "never ordered" is empty; the
    * 2001-06 recency window restores Q22's intended selectivity —
    * segments stand in for the reference schema's missing phone
    * country codes). The average is a 1-row broadcast (the
    * q_filter_quantile scalar pattern, never collected); the recent
    * slice of orders anti-joins on custkey — statically shuffled,
    * AQE-broadcast-eligible since the date filter shrinks it to a
    * sliver. Determinism: balances are 2-decimal doubles whose sums
    * stay exact well past the comparison's precision; output sum
    * rounded to 4; segment is a total order (one row each). */
  val tpchQ22: Q = (spark, dir) => {
    val segs = Seq("BUILDING", "FURNITURE", "MACHINERY")
    val cust = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment").isin(segs: _*))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("ab"))
    val recent = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("2001-06-01").cast("timestamp"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(recent, col("c_custkey") === recent("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 4).as("totacctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** TPC-H Q4 (order priority checking): the pure EXISTS-as-semi-join
    * macro — orders in one quarter with at least one flagged lineitem,
    * counted by priority. Q18 gates on an aggregate-derived key list;
    * Q4 is the simpler existence test, and the plan bar is that it
    * stays a LEFT SEMI join (one probe per order, fact side never
    * re-aggregated or duplicated by the multi-lineitem match). The
    * quarter filter reaches the orders scan; the flag filter reaches
    * the lineitem scan, shrinking the build side ~4x before the
    * shuffle. The fixtures carry no l_commitdate/l_receiptdate, so
    * l_returnflag = 'R' stands in for "late" (commit < receipt) —
    * same existence topology, same selectivity class. Determinism:
    * integer counts, priority is a unique total order. */
  val tpchQ4: Q = (spark, dir) => {
    val late = Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    val orders = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    orders.join(late, orders("o_orderkey") === late("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H Q21 (suppliers who kept orders waiting): the hardest join
    * topology in the suite — BOTH an EXISTS (another supplier shipped
    * the same order) and a NOT EXISTS (no OTHER supplier was late)
    * against the same fact, plus a status-filtered orders gate. A
    * literal translation scans lineitem three times and self-joins
    * twice; here the fact is scanned ONCE and reduced to one row per
    * (order, supplier) carrying its late-row count, and both
    * existence tests become window counts over the order partition of
    * that reduced table: EXISTS other-supplier == n_supp > 1;
    * NOT EXISTS other-late-supplier == n_late_supp == 1 (only me).
    * The expensive shuffle is the single (orderkey, suppkey) fact
    * aggregate; the window repartitions only the per-(order,supplier)
    * reduction — orders-of-magnitude smaller at any scale. The 'F'
    * status gate is a semi join on the reduced table (AQE may
    * broadcast the filtered orders at runtime); the supplier dim
    * broadcasts statically. l_returnflag = 'R' stands in for the
    * receipt-after-commit lateness as in Q4; numwait sums the late
    * ROW count per qualifying (order, supplier) to match the classic
    * per-l1-row count semantics. Determinism: integer counts;
    * s_name breaks numwait ties across the LIMIT 100 boundary. */
  val tpchQ21: Q = (spark, dir) => {
    val perOS = Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(count(when(col("l_returnflag") === "R", lit(1))).as("n_late"))
    val w = Window.partitionBy(col("l_orderkey"))
    val qual = perOS
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp",
        sum(when(col("n_late") > 0, 1).otherwise(0)).over(w))
      .filter(col("n_late") > 0 && col("n_supp") > 1 &&
        col("n_late_supp") === 1)
    val ordersF = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    val supp = Tables(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    qual.join(ordersF, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(broadcast(supp), col("l_suppkey") === supp("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** TPC-H Q7 (volume shipping): bilateral trade between two nations
    * by ship year — the symmetric-disjunction join macro. The classic
    * form ORs two (supp_nation, cust_nation) assignments; a literal
    * translation carries the disjunction as a join residual over the
    * full fact. Here both dims are pre-filtered to the two nations —
    * the supplier and customer sides each broadcast a pruned
    * key->nation map, so the fact shrinks at the earliest join — and
    * the OR collapses to one inequality residual (supp_nation <>
    * cust_nation) over the surviving rows: same semantics, envelope
    * pushed to both dim scans (Q19's device applied to a
    * disjunction SPANNING the join graph). The two-year ship window
    * reaches the lineitem scan. Determinism: round(sum,4); the
    * (nation, nation, year) key is a total order. */
  val tpchQ7: Q = (spark, dir) => {
    val pair = Seq("NATION_12", "NATION_13")
    val supp = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables(spark, dir, "customer")
      .join(broadcast(Tables(spark, dir, "nation")
          .filter(col("n_name").isin(pair: _*))
          .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("ck"))
      .select(col("c_custkey"), col("cust_nation"))
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q8 (national market share): one nation's share of a
    * region's market for one part class, by order year — the
    * conditional-share-over-a-wide-join macro (Q14's CASE-inside-sum
    * ratio, but over the full 7-relation join graph instead of one
    * dim). The part-class and customer-region filters prune their
    * dim scans and broadcast; the only fact-fact shuffle is
    * lineitem x orders. Both sums fold into ONE aggregate pass and
    * are rounded to 4 BEFORE the division (the Q14 determinism
    * device), so the share is identical arithmetic on identical
    * doubles on both engines. */
  val tpchQ8: Q = (spark, dir) => {
    val nat = "NATION_12"
    val part = Tables(spark, dir, "part")
      .filter(col("p_type") === "STANDARD").select(col("p_partkey"))
    val suppNat = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val custAmerica = Tables(spark, dir, "customer")
      .join(broadcast(Tables(spark, dir, "nation")
          .join(broadcast(Tables(spark, dir, "region")
              .filter(col("r_name") === "AMERICA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("ck"))),
        col("c_nationkey") === col("ck"))
      .select(col("c_custkey"))
    val orders = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custAmerica), col("o_custkey") === col("c_custkey"),
        "left_semi")
      .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === nat, vol).otherwise(lit(0d))), 4)
          .as("nation_rev"),
        round(sum(vol), 4).as("total_rev"))
      .withColumn("mkt_share_pct",
        round(col("nation_rev") * 100d / col("total_rev"), 4))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q12 (shipmode and order priority): per line class, how
    * many high- vs low-priority orders had flagged lines in one year
    * — the two-way conditional pivot over a fact-fact join. Both
    * counts fold into ONE aggregate pass (conditional count, the
    * q_agg_count_if device — count, not sum-of-CASE, so both engines
    * emit BIGINT); the flag + year filters reach the lineitem scan
    * and shrink it before the join. l_linestatus stands in for
    * l_shipmode and l_returnflag = 'R' for commit<receipt (columns
    * the fixtures lack), preserving the shape. */
  val tpchQ12: Q = (spark, dir) => {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = Tables(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R" &&
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linestatus"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        count(when(high, lit(1))).as("high_line_count"),
        count(when(!high, lit(1))).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** Fixture stand-in for TPC-H's partsupp table (the fixtures lack
    * it): the distinct (part, supplier) pairs actually traded in
    * lineitem, with supply cost proxied by the minimum unit price the
    * pair ever shipped at. Deterministic on both engines (division
    * and min are exact selections, not accumulations), and the
    * derivation is itself the right 100 TB shape: one hash aggregate
    * keyed by the pair, map-side partials first. */
  private def partsuppSurrogate(spark: org.apache.spark.sql.SparkSession,
      dir: String) =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity"))
        .as("ps_supplycost"))

  /** TPC-H Q2 (minimum cost supplier): the correlated-MIN-subquery
    * macro — for each qualifying part, the European supplier(s)
    * offering the minimum supply cost. A literal translation evaluates
    * the min subquery per outer row (re-scanning partsupp); here the
    * surrogate partsupp is built ONCE, pruned by the broadcast part
    * and region gates, and the correlated min becomes a window min
    * over the part partition of the surviving rows — the same
    * decorrelation Spark's own optimizer aims for, made explicit.
    * The expensive shuffle is the single pair-keyed surrogate
    * aggregate; the window repartitions only the region+type-pruned
    * sliver. Cost equality is exact: both engines select among the
    * identical IEEE-754 quotients. Determinism: (s_acctbal DESC,
    * n_name, s_name, p_partkey) totally orders rows unique by
    * (p_partkey, s_suppkey) across the LIMIT 100 boundary. */
  val tpchQ2: Q = (spark, dir) => {
    val ps = partsuppSurrogate(spark, dir)
    val pEco = Tables(spark, dir, "part")
      .filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    val supEur = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
          .join(broadcast(Tables(spark, dir, "region")
              .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val w = Window.partitionBy(col("ps_partkey"))
    ps.join(broadcast(pEco), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(supEur), col("ps_suppkey") === col("s_suppkey"))
      .withColumn("min_cost", min(col("ps_supplycost")).over(w))
      .filter(col("ps_supplycost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), round(col("ps_supplycost"), 4).as("supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H Q9 (product type profit): profit by supplier nation and
    * order year over the full part x supplier x orders join graph —
    * the widest aggregate-over-joins macro after Q8. The fixtures
    * carry no ps_supplycost, so cost is proxied as 60% of
    * p_retailprice (deterministic, rides the already-broadcast part
    * row — same join topology, same arithmetic shape). The name
    * filter prunes the part scan to ~13% and broadcasts; supplier x
    * nation broadcasts; the only fact-fact shuffle is
    * lineitem x orders. One aggregate pass, round(sum, 4).
    * (nation, o_year) is a unique total order. */
  val tpchQ9: Q = (spark, dir) => {
    val p = Tables(spark, dir, "part")
      .filter(col("p_name").like("%red%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sn = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(round(sum(
          col("l_extendedprice") * (lit(1) - col("l_discount")) -
            lit(0.6) * col("p_retailprice") * col("l_quantity")), 4)
        .as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H Q11 (important stock identification): per-part value held
    * by one region's suppliers, kept only where it exceeds a fraction
    * of the GLOBAL total — the HAVING-against-a-scalar-subquery
    * macro. A literal translation aggregates the fact twice; here the
    * per-part aggregate is computed ONCE and the global total is an
    * aggregate OF THAT OUTPUT, broadcast back as a one-row cross
    * join — the second pass touches |parts| rows, not the fact, and
    * Spark reuses the per-part exchange underneath both branches.
    * Region gate is a broadcast semi join pushed below the aggregate
    * (value accrues only from EUROPE suppliers' lines, matching the
    * classic per-nation restriction). Determinism: per-part value
    * rounded to 4 before both the total and the strict > compare;
    * (value DESC, ps_partkey) is total. */
  val tpchQ11: Q = (spark, dir) => {
    val supEur = Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
          .join(broadcast(Tables(spark, dir, "region")
              .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = Tables(spark, dir, "lineitem")
      .join(broadcast(supEur), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .groupBy(col("l_partkey").as("ps_partkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("value"))
    val total = perPart.agg(round(sum(col("value")), 4).as("total"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value") > col("total") * lit(0.001))
      .select(col("ps_partkey"), col("value"))
      .orderBy(col("value").desc, col("ps_partkey"))
  }

  /** TPC-H Q16 (parts/supplier relationship): distinct supplier
    * counts per (brand, type, size) bucket, excluding a brand, a
    * type class, and a NOT-IN supplier blacklist — the
    * count-distinct-over-an-anti-join macro. The pair universe is
    * the lineitem fact itself (the partsupp stand-in — no
    * pre-distinct needed, countDistinct dedups in its own two-phase
    * aggregate); the blacklist (negative-balance suppliers standing
    * in for "complaints") broadcasts as an anti join, the pruned part
    * dim broadcasts, so the only shuffle is the distinct-aggregate's
    * own. Integer counts — no floating determinism surface; the
    * (cnt DESC, brand, type, size) order is total. */
  val tpchQ16: Q = (spark, dir) => {
    val sizes = Seq(1, 7, 13, 19, 25, 31, 37, 49)
    val complaints = Tables(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val p = Tables(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q20 (potential part promotion): suppliers who concentrated
    * their shipments of qualifying parts into one year — the
    * nested-IN-with-correlated-aggregate macro (classic: availqty >
    * half the year's shipped quantity; fixtures lack availqty, so the
    * correlated threshold becomes qty-in-1996 > 30% of the pair's
    * all-time quantity — same correlated-aggregate-per-(supp,part)
    * topology). One fact scan pruned by the broadcast name-filtered
    * part, ONE (supp, part)-keyed aggregate computing both the
    * conditional and total sums in the same pass; the qualifying
    * supplier set then gates the region's suppliers as a BROADCAST
    * semi join (dedup for free, no distinct) — it is bounded by
    * |supplier|, never fact-sized, so the hint is safe at any scale
    * where the dim itself broadcasts. Quantities are integer-valued
    * doubles — both sums exact, the 0.3x threshold exact; s_name is
    * unique so ORDER BY s_name is total. */
  val tpchQ20: Q = (spark, dir) => {
    val redParts = Tables(spark, dir, "part")
      .filter(col("p_name").like("red%")).select(col("p_partkey"))
    val qualifying = Tables(spark, dir, "lineitem")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(
        sum(when(year(col("l_shipdate")) === 1996, col("l_quantity"))
          .otherwise(lit(0d))).as("qty96"),
        sum(col("l_quantity")).as("qty_all"))
      .filter(col("qty96") > col("qty_all") * lit(0.3))
      .select(col("l_suppkey"))
    Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation")
          .join(broadcast(Tables(spark, dir, "region")
              .filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(qualifying), col("s_suppkey") === col("l_suppkey"),
        "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  /** String-similarity JOIN: all customer-name pairs within
    * Levenshtein distance 1, found WITHOUT the quadratic all-pairs
    * scan. Two sound candidate generators, spec-pinned equal:
    *
    *  - [[joinEditDist]] (the driver entry) uses the DELETION
    *    NEIGHBORHOOD (FastSS, Bocek et al. 2007): each string's
    *    variant set is itself plus every delete-one-character form;
    *    any two strings within ONE edit share a variant VERBATIM
    *    (substitution: both drop the edited position; indel: the
    *    longer side's deletion at the edit point IS the shorter
    *    string), so candidates form an exact-match equi-join on the
    *    variant key with buckets that are near-duplicate groups —
    *    candidate volume tracks the OUTPUT, not the corpus pair
    *    space. The method is k-exact but its neighborhood grows
    *    C(len, k), so it is the small-k regime (k <= 2 in practice);
    *  - [[joinEditDistPrefix]] is the general-k form — q-gram PREFIX
    *    FILTERING (Chaudhuri et al. 2006 / Xiao et al. 2008; the
    *    ICDE 2022 compressed-index work modernizes the family; the
    *    distributed shape is Vernica et al. SIGMOD 2010): under a
    *    global (df, gram) order, strings within edit distance k
    *    share one of their k*q+1 smallest distinct q-grams, so
    *    candidates join on prefix grams only.
    *
    * Both verify exactly with the codegen'd `levenshtein` and are
    * hash-gated against DuckDB's exhaustive scan — the oracle pays
    * the quadratic cost the operator exists to avoid. On the
    * gram-poor fixture names the prefix form generates ~10M
    * candidates where the deletion form generates ~output-sized
    * (bench 11.5 s -> ~2 s at sf0.1), which is exactly the published
    * tradeoff between the two families. */
  val joinEditDist: Q = (spark, dir) =>
    // spread the names before the k=1 deletion-variant explode + its
    // eager localCheckpoint: the customer fixture is a single row
    // group, so the ~20-variants-per-name interpreted HOF otherwise
    // runs at the scan's task count (guide §2.5 — the entityResolve/
    // geo_predict fix). One 15k-row exchange, shared by the variant
    // build and both name-verify joins; defaultParallelism, never a
    // local constant. A/B: 3.50 s -> 2.48 s isolated min at sf0.1
    // (OptProbe, 4 reps each arm).
    joinEditDistOn(Tables(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
      .repartition(spark.sparkContext.defaultParallelism))

  /** Frame-input deletion-neighborhood form: `names` = (id, s),
    * generalized to small k: the variant set is every delete-up-to-k
    * form (levels built by k nested delete-one maps, deduped between
    * levels — edge deletions of doubled characters coincide). Two
    * strings within edit distance k share a variant VERBATIM (align
    * them; delete each side's edited positions), so the equi-join on
    * variants is a sound candidate generator at any k — the regime
    * bound is the C(len, k) variant count per string, which is why
    * this is the SHORT-STRING path (len 20, k 2: ~211 variants) and
    * [[joinEditDistPrefixOn]] is the long-string one. On gram-poor
    * fixed-format keys (ids, names, SKUs) the variant buckets stay
    * near-output-sized where prefix-gram buckets go dense: measured
    * at 15k names / k=2 (4.08M output pairs), 27.4 s here vs 91.9 s
    * prefix vs 113.9 s DuckDB exhaustive (warm, 32 threads each). */
  private[graft] def joinEditDistOn(names: org.apache.spark.sql.DataFrame,
      k: Int = 1,
      queryIds: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame =
    joinEditDistDelPairs(names, k, queryIds).orderBy(col("d1"), col("d2"))

  /** A deletion-variant table (id, v) with the k it was built at —
    * the build threshold travels with the frame so a consumer needing
    * a LARGER threshold fails loudly (a too-shallow neighborhood
    * silently drops pairs; a deeper one only adds candidates, which
    * the exact verify discards). Materialized: it feeds both join
    * sides and the density probe. */
  private[graft] final case class EdVariantTable(
      df: org.apache.spark.sql.DataFrame, k: Int)

  private[graft] def deletionVariants(names: org.apache.spark.sql.DataFrame,
      k: Int, materialize: Boolean = true): EdVariantTable = {
    require(k >= 1, s"edit-distance threshold must be >= 1, got $k")
    def delOne(arr: String): String =
      s"""array_distinct(flatten(transform($arr,
            t -> transform(sequence(1, greatest(length(t), 1)),
              i -> concat(substring(t, 1, i - 1),
                          substring(t, i + 1, length(t)))))))"""
    val levels = Iterator.iterate("array(s)")(delOne).take(k + 1).toSeq
    val df = names.select(col("id"), explode(expr(
      s"array_distinct(concat(${levels.mkString(", ")}))")).as("v"))
    // single-consumer callers (the streaming gate's per-trigger batch
    // side) pass materialize = false: a per-trigger localCheckpoint
    // would accumulate storage blocks until driver GC
    EdVariantTable(if (materialize) df.localCheckpoint(true) else df, k)
  }

  /** [[joinEditDistOn]] without the final presentation sort — the form
    * staged/capped consumers compose on (their ranking window's hash
    * partitioning would destroy a global range exchange anyway). */
  private[graft] def joinEditDistDelPairs(names: org.apache.spark.sql.DataFrame,
      k: Int,
      queryIds: Option[org.apache.spark.sql.DataFrame] = None,
      prebuilt: Option[EdVariantTable] = None)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"edit-distance threshold must be >= 1, got $k")
    prebuilt.foreach(p => require(p.k >= k,
      s"variant table built at k=${p.k} cannot serve a k=$k join — " +
        "a too-shallow deletion neighborhood silently drops pairs"))
    val vars = prebuilt.map(_.df).getOrElse(deletionVariants(names, k).df)
    // DIRECTED regime (queryIds defined): d1 ranges over the query
    // subset only, d2 over the whole input, each qualifying (q, c)
    // pair emitted once as (d1=q, d2=c) — the staged-escalation
    // consumer's shape. Default regime: unordered unique pairs d1<d2.
    val aAll = vars.select(col("v"), col("id").as("d1"))
    val a = queryIds.fold(aAll)(ids => aAll.join(
      ids.select(col("id").as("d1")), Seq("d1"), "left_semi"))
    val b = vars.select(col("v"), col("id").as("d2"))
    val pairRule =
      if (queryIds.isDefined) col("d1") =!= col("d2")
      else col("d1") < col("d2")
    a.join(b, Seq("v"))
      .filter(pairRule)
      .select(col("d1"), col("d2"))
      .distinct()
      .join(names.select(col("id").as("d1"), col("s").as("s1")), Seq("d1"))
      .join(names.select(col("id").as("d2"), col("s").as("s2")), Seq("d2"))
      // thresholded (banded-DP) levenshtein: cost O(len * k) per pair
      // instead of O(len^2), returning -1 past the threshold
      .withColumn("dist", levenshtein(col("s1"), col("s2"), k))
      .filter(col("dist").between(0, k))
      .select(col("d1"), col("d2"), col("dist"))
  }

  /** Regime dispatch between the two sound generators. Since the
    * prefix filter went positional with the verify piggybacked into
    * the candidate stage, the measured map is: k=1 short strings —
    * dead heat (15k names: deletion 2.92 s, prefix 2.90 s warm);
    * k=2 short strings — prefix wins 3.4x (9.6 s vs 32.8 s: the k=2
    * deletion variant buckets go dense, so its candidate PAIRS blow
    * up even though per-string variants stay C(len, k)); long
    * strings at any k — prefix structurally (variant count C(len, k)
    * explodes with length, gram buckets don't). Deletion keeps only
    * its classic FastSS home turf: k=1 on short keys, where its
    * single-level variant buckets are near-output-sized. */
  private[graft] def joinEditDistAuto(names: org.apache.spark.sql.DataFrame,
      k: Int, maxLenForDeletion: Int = 40)
      : org.apache.spark.sql.DataFrame = {
    // max(length) over zero rows is null — an empty frame dispatches
    // by the normal k rule (prefix for k >= 2); both generators
    // handle empty input, so the route is immaterial
    val maxLenRow = names.agg(max(length(col("s")))).head()
    val maxLen = if (maxLenRow.isNullAt(0)) 0 else maxLenRow.getInt(0)
    if (k == 1 && maxLen <= maxLenForDeletion) joinEditDistOn(names, k)
    else joinEditDistPrefixOn(names, k)
  }

  /** General-k prefix-filtered generator — see [[joinEditDist]]'s
    * scaladoc. Under the global (df, gram) order each string keeps
    * its k*q+1 rarest POSITIONAL q-grams; strings within edit
    * distance k must share one with positions within k (ED-Join —
    * Xiao, Wang, Lin, VLDB 2008: an alignment with <= k edits
    * destroys at most q grams per edit and shifts every surviving
    * gram by at most k positions; the alignment matching is
    * order-consistent under the (df, gram, pos) order, so the
    * classic prefix argument goes through with the location
    * constraint attached). The position constraint joins as a
    * BUCKET KEY, not a post-filter: side A keys each gram by
    * floor(p / (k+1)); side B emits the (at most two) band ids its
    * +-k window can fall in — so dense buckets of a frequent gram
    * split into per-band sub-buckets and the candidate volume drops
    * BEFORE the shuffle. A length filter (|len1 - len2| <= k,
    * carried through the prefix table as an 8-byte column) discards
    * the remaining impossible pairs before the dedup shuffle. */
  private[graft] def joinEditDistPrefixOn(names: org.apache.spark.sql.DataFrame,
      k: Int, q: Int = 2): org.apache.spark.sql.DataFrame =
    joinEditDistPrefixPairs(names, k, q).orderBy(col("d1"), col("d2"))

  /** [[joinEditDistPrefixOn]] without the final presentation sort —
    * the form downstream consumers (the top-k cap's ranking window)
    * compose on, so the plan never pays a global range exchange that
    * the next operator's hash partitioning immediately destroys. */
  /** A ranked prefix table together with the (kMax, q) it was built
    * at — the build parameters travel WITH the frame so a consumer
    * requiring a larger threshold or a different gram width fails
    * loudly at the require instead of silently dropping pairs (a
    * truncated prefix is a SOUNDNESS hole, not a perf bug). */
  private[graft] final case class EdPrefixTable(
      df: org.apache.spark.sql.DataFrame, kMax: Int, q: Int)

  /** The ranked positional-q-gram PREFIX TABLE (g, p, id, s, rk) the
    * filter joins on: every string's q-grams ranked under the one
    * global (df, g, p) order, kept to the k*q+1 smallest. The ranking
    * is the same for every k — only the cutoff differs — so a table
    * built at kMax serves any smaller k as its rk <= k*q+1 subset.
    * NOT materialized (round-14): consumers join it at least twice,
    * but the two sides' identical subtrees share one runtime stage
    * via AQE exchange reuse — the former eager localCheckpoint cost
    * two extra sequential jobs and parked the frame in executor
    * storage. */
  private[graft] def editDistPrefixTable(names: org.apache.spark.sql.DataFrame,
      k: Int, q: Int = 2): EdPrefixTable =
    EdPrefixTable(editDistPrefixTableDf(names, k, q), k, q)

  private def editDistPrefixTableDf(names: org.apache.spark.sql.DataFrame,
      k: Int, q: Int): org.apache.spark.sql.DataFrame = {
    val grams = names.filter(length(col("s")) >= q)
      .select(col("id"), col("s"), explode(expr(
      s"transform(sequence(1, length(s) - ${q - 1})," +
        s" i -> struct(substring(s, i, $q) AS g, i AS p))")).as("gp"))
      .select(col("id"), col("s"), col("gp.g").as("g"), col("gp.p").as("p"))
    val dfreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("df"), col("g"), col("p"))
    grams.join(dfreq, Seq("g"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k * q + 1)
      .select(col("g"), col("p"), col("id"), col("s"), col("rk"))
  }

  private[graft] def joinEditDistPrefixPairs(names: org.apache.spark.sql.DataFrame,
      k: Int, q: Int = 2,
      // DIRECTED regime: restrict the QUERY side to these ids — d1
      // ranges over the subset, d2 over the whole input, one row per
      // qualifying (query, candidate) pair. Prefix selection per
      // string is side-independent (each string keeps its k*q+1
      // rarest grams under the one global order), so the standard
      // R-x-S prefix-filter argument (Vernica et al. SIGMOD 2010)
      // carries over with the same position bands: the full-corpus
      // prefix table simply filters its probe side to the subset.
      queryIds: Option[org.apache.spark.sql.DataFrame] = None,
      // a prebuilt (g, p, id, s, rk) prefix table from
      // [[editDistPrefixTable]] built at a threshold >= k: the rk
      // ranking is k-independent (one global (df, g, p) order), so a
      // smaller k's prefix is literally the rk <= k*q+1 subset — the
      // staged top-k shares ONE table across its two stages instead
      // of paying the gram explode + df aggregate + ranking window
      // twice over the same corpus
      prebuilt: Option[EdPrefixTable] = None)
      : org.apache.spark.sql.DataFrame = {
    prebuilt.foreach(p => require(p.kMax >= k && p.q == q,
      s"prefix table built at (kMax=${p.kMax}, q=${p.q}) cannot serve " +
        s"a k=$k, q=$q join — a truncated prefix silently drops pairs"))
    val pref = k * q + 1
    val band = k + 1
    // SOUNDNESS FLOOR: the (k*q+1)-prefix argument needs the string to
    // HAVE at least k*q+1 q-grams, i.e. len >= q*(k+1) — a shorter
    // string can lose its ENTIRE gram set to k edits ("abcde" vs
    // "azcze" at k=2, q=2: levenshtein 2, gram sets disjoint), so the
    // gram join would silently miss the pair. Any qualifying pair with
    // a side below the floor has BOTH sides below floor+k (|len
    // difference| <= k), and short is exactly the regime where the
    // deletion neighborhood's C(len, k) is small — route the short
    // fringe there and union (both generators verify exactly, so the
    // overlap band [floor, floor+k) dedups on identical rows).
    val lmin = q * (k + 1)
    val shortFringe = names.filter(length(col("s")) < lmin + k)
    // strings shorter than q yield no grams at all (and sequence(1,
    // len-q+1) would run DESCENDING, emitting junk positions); they
    // are inside the fringe, so the gram side simply skips them
    // the prefix table feeds BOTH self-join sides UN-materialized
    // (round-14): its ranking window's exchange is identical on both
    // sides, so AQE stage reuse computes the explode + df join +
    // window chain once at runtime — the former eager localCheckpoint
    // parked a corpus-sized block in executor storage (the minhash
    // x1000 OOM shape, BASELINE.md "Round-12 deep-scale probe") for no
    // measured win (x1 and x10 walls flat)
    val prefix = prebuilt.map(_.df)
      .getOrElse(editDistPrefixTableDf(names, k, q))
      .filter(col("rk") <= pref)
      .select(col("g"), col("p"), col("id"), col("s"))
    // the prefix table carries the STRING itself ((k*q+1) * len
    // bytes per input string), so the thresholded (banded-DP,
    // O(len * k)) levenshtein verify runs INSIDE the candidate
    // stage: candidate pairs stream from the bucket join straight
    // through the verify filter and never hit a shuffle — on
    // gram-poor corpora where the filter is weak (candidates >>
    // output) this turns the dominant dedup shuffle from
    // candidate-sized into OUTPUT-sized (~11x smaller on the
    // fixture names), at the cost of re-verifying the small
    // per-pair gram multiplicity (banded lev is codegen'd and
    // len-bounded, so the evals are the cheap side of the trade)
    // the bucket join broadcasts the (tiny) prefix table, so side
    // A's partitioning IS the stage's task grid — and per-row fanout
    // is wildly skewed (dense-gram rows emit thousands of pairs,
    // rare-gram rows a handful). Round-robin the probe side wide so
    // the stream-through verify actually parallelizes; the
    // repartition shuffles only prefix-table rows, not candidates.
    // 2x shuffle.partitions (round-14): the former 8x priced ~2 s of
    // pure task scheduling at sf0.1 (256 near-empty tasks; 5.1 -> 3.1 s
    // at 2x) and bought nothing at depth (x10 inflated names: 40.2 s
    // at 2x vs 45.1 s at 8x, same window) — 2 slices per core keeps
    // straggler insurance while the count still scales with the
    // cluster's shuffle parallelism, never a local constant
    val fanoutParts = 2 * prefix.sparkSession.sessionState.conf.numShufflePartitions
    val aAll = queryIds.fold(prefix)(ids => prefix.join(
      ids.select(col("id")), Seq("id"), "left_semi"))
    val a = aAll.repartition(fanoutParts)
      .select(col("g"), floor(col("p") / band).as("bkt"),
        col("p").as("p1"), col("id").as("d1"), col("s").as("s1"))
    // any p1 within k of p2 has band id in the contiguous interval
    // [floor((p2-k)/(k+1)), floor((p2+k)/(k+1))] — width 2k spans up
    // to THREE adjacent bands (2k >= k+1 for k >= 1), so side B
    // emits the full sequence (avg replication ~2.3 at k=2), which
    // is what buys the per-band sub-bucket split on side A
    val b = prefix.select(col("g"), col("p").as("p2"),
        col("id").as("d2"), col("s").as("s2"))
      .withColumn("bkt", explode(sequence(
        floor((col("p2") - k) / band), floor((col("p2") + k) / band))))
    val pairRule =
      if (queryIds.isDefined) col("d1") =!= col("d2")
      else col("d1") < col("d2")
    val longPairs = a.join(b, Seq("g", "bkt"))
      .filter(pairRule &&
        abs(length(col("s1")) - length(col("s2"))) <= k &&
        abs(col("p1") - col("p2")) <= k)
      .withColumn("dist", levenshtein(col("s1"), col("s2"), k))
      .filter(col("dist").between(0, k))
      .select(col("d1"), col("d2"), col("dist"))
    longPairs.unionByName(joinEditDistDelPairs(shortFringe, k, queryIds))
      .distinct()
  }

  /** k=1 prefix-filtered face, spec-pinned result-equal to the
    * deletion-neighborhood entry. */
  private[graft] val joinEditDistPrefix: Q = (spark, dir) =>
    joinEditDistPrefixOn(Tables(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("s")), 1)

  /** Oracle-checked GENERAL-k entry (k=2): the regime where the
    * deletion neighborhood's C(len, k) variant blow-up stops being
    * the answer and prefix filtering is the real operator. Runs on
    * the key%4 slice of customer — distance-2 name pairs stay
    * plentiful (any two digit positions may differ) while the
    * exhaustive DuckDB oracle and the k=2 candidate volume stay
    * bench-sized; the x10 inflated-names probe row is the scale
    * trend. */
  val joinEditDist2: Q = (spark, dir) =>
    joinEditDistPrefixOn(Tables(spark, dir, "customer")
      .filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("id"), col("c_name").as("s")), 2)

  /** OUTPUT-CAPPED production face of the k=2 similarity join: each
    * left row keeps only its `topK` nearest matches within edit
    * distance 2 (ties broken by candidate id — deterministic at any
    * parallelism). The uncapped entry is correct but OUTPUT-BOUND —
    * on near-duplicate-dense corpora true pair volume grows ~factor²
    * (the x30 inflated-names row: 217 s, all of it output) — and a
    * real entity-resolution pipeline never wants the full clique
    * around a hot name, it wants the best few candidates per row:
    * the domain-cap device applied to a similarity join, bounding
    * output (and every shuffle after candidate verify) by
    * topK * |input| regardless of how dense the neighborhoods get.
    *
    * Shape: candidate generation + verify are [[joinEditDistPrefixPairs]]
    * unchanged (bucketed, never all-pairs); pairs then rank per query
    * row through a row_number window that Spark's WindowGroupLimit
    * optimizer caps MAP-SIDE (Partial before the qid exchange, Final
    * after — the kNN-join plan-guard pair), so even the ranking
    * shuffle carries at most topK rows per (partition, qid), not the
    * dense neighborhood. */
  private def rankTopK(sym: org.apache.spark.sql.DataFrame, topK: Int)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dist"), col("cand"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  private def symPairs(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    pairs.select(col("d1").as("qid"), col("d2").as("cand"), col("dist"))
      .unionByName(
        pairs.select(col("d2").as("qid"), col("d1").as("cand"), col("dist")))

  /** The one-stage form of the cap (all candidates generated at the
    * full threshold, then ranked) — the reference implementation the
    * staged form is spec-pinned equal to, and the k<=1 fast path. */
  private[graft] def joinEditDistTopKSingleStage(
      names: org.apache.spark.sql.DataFrame,
      k: Int, topK: Int): org.apache.spark.sql.DataFrame =
    rankTopK(symPairs(joinEditDistPrefixPairs(names, k)), topK)
      .orderBy(col("qid"), col("rank"))

  /** The staged skeleton shared by the short- and long-string exact
    * regimes: rank stage-1 (dist <= 1) matches for rows they resolve,
    * run the full-threshold candidate stage DIRECTED over the
    * unresolved sliver, or fall back to one full-threshold join on
    * low-density corpora (see [[joinEditDistTopKOn]]). `sym1` is the
    * symmetric stage-1 pair stream; `fullPairs` builds the one-stage
    * fallback's pairs; `directedPairs` the sliver-directed stage 2. */
  private def stagedTopK(names: org.apache.spark.sql.DataFrame,
      topK: Int, nTotal: Long,
      sym1Raw: org.apache.spark.sql.DataFrame,
      fullPairs: () => org.apache.spark.sql.DataFrame,
      directedPairs: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // stage 1: distance <= 1 matches for every row. Materialized —
    // it feeds the resolution count AND the resolved rows' ranking.
    val sym1 = sym1Raw.localCheckpoint(true)
    val resolved = sym1.groupBy(col("qid"))
      .agg(count(lit(1)).as("n1"))
      .filter(col("n1") >= topK)
      .select(col("qid"))
      .localCheckpoint(true) // feeds a semi AND an anti join
    // DENSITY DISPATCH: escalation wins when a meaningful fraction of
    // rows resolves at distance 1 — on a low-density corpus (near-
    // unique keys, the common entity-resolution input) stage 2's
    // directed join with sliver ~= corpus does the one-stage work
    // plus two semi-joins, so fall back to ranking one full-threshold
    // join instead. Stage 1 is the density PROBE (no cheaper signal
    // exists — near-duplicate density is exactly what it measures).
    // The 0.2 threshold is the measured break-even's order: stage 1
    // costs ~1/4 of the full k=2 stage on the fixture names, so
    // escalation must cut at least ~that fraction of stage 2 to pay
    // for itself.
    val resolvedFraction = resolved.count().toDouble / nTotal
    if (resolvedFraction < 0.2)
      return rankTopK(symPairs(fullPairs()), topK)
        .orderBy(col("qid"), col("rank"))
    val topResolved = rankTopK(
      sym1.join(resolved, Seq("qid"), "left_semi"), topK)
    // stage 2: full-threshold candidates for the unresolved sliver
    // only (rows with zero matches anywhere are here too — they emit
    // nothing, same as the one-stage form). Materialized: it feeds
    // the gram-path AND short-fringe semi-joins, and its lineage
    // drags the whole `names` construction along per consumer.
    val unresolvedIds = names.select(col("id"))
      .join(resolved.select(col("qid").as("id")), Seq("id"), "left_anti")
      .localCheckpoint(true)
    val pairs2 = directedPairs(unresolvedIds)
      .select(col("d1").as("qid"), col("d2").as("cand"), col("dist"))
    val topUnresolved = rankTopK(pairs2, topK)
    topResolved.unionByName(topUnresolved)
      .orderBy(col("qid"), col("rank"))
  }

  /** STAGED ESCALATION (round 11; stage-1 generator dispatch + dense
    * regime, round 12): ranking by (dist, cand) means a row with
    * >= topK matches at distance <= 1 has its ENTIRE top-k inside
    * that distance-1 set — every distance-2 candidate sorts after all
    * of them — so generating (and verifying) its dense distance-2
    * neighborhood is pure waste. Stage 1 runs the much cheaper k=1
    * join over everything and resolves those rows; stage 2 runs the
    * full-k candidate stage DIRECTED: query side = only the
    * unresolved sliver, candidate side = the whole input (a resolved
    * row can still be someone else's nearest match). Output is
    * identical to the one-stage form by the ordering argument
    * (spec-pinned).
    *
    * STAGE-1 GENERATOR (round 12): on short strings stage 1 uses the
    * DELETION NEIGHBORHOOD ([[joinEditDistDelPairs]]), not the prefix
    * filter. On duplicate-dense corpora the two differ structurally:
    * a rare-gram bucket holds every near-copy of a replicated name
    * (bucket ~ duplication factor, candidates ~ factor²) while a
    * deletion-variant bucket holds only strings within ONE edit of a
    * shared variant (bucket ~ the dist-1 clique, candidates ~ dist-1
    * OUTPUT) — this is what turned the x100 inflated-names probe from
    * 347 s (prefix stage 1) to the round-12 row (BASELINE.md). Long
    * strings (maxLen > 40, C(len,1) variants too wide) keep the
    * round-11 shared-prefix-table staging.
    *
    * DENSE-REGIME DISPATCH (round 12): when even the dist-1 candidate
    * volume explodes (true duplicate-dense input: thousands of
    * verbatim copies — the dist-1 sets being ranked are themselves
    * factor-sized, so NO exact method is sub-quadratic), the operator
    * routes to the recall-gated banded approximate face
    * [[joinEditDistTopKBanded]]. The probe is exact and free-riding:
    * sum over stage-1 candidate buckets of c*(c-1) IS the stage-1
    * candidate volume, computed from the variant/prefix table stage 1
    * needs anyway; `approx` overrides (Some(true)/Some(false)) pin
    * the regime for specs and probes.
    *
    * EAGER-ACTION CONTRACT: constructing this frame runs stage 1 (two
    * counts + localCheckpoints) — the density numbers ARE the plan
    * choice, so they cannot be deferred. Checkpointed blocks are
    * freed with the result frame's GC; a long-lived driver composing
    * many of these should materialize and release each result before
    * building the next. */
  private[graft] def joinEditDistTopKOn(names: org.apache.spark.sql.DataFrame,
      k: Int, topK: Int,
      approx: Option[Boolean] = None,
      denseCandPerRow: Double = 256.0): org.apache.spark.sql.DataFrame = {
    if (k <= 1) return joinEditDistTopKSingleStage(names, k, topK)
    if (approx.contains(true)) return joinEditDistTopKBanded(names, k, topK)
    // one probe action for both regime signals (count + max length):
    // two separate driver actions would scan the input twice
    val probeRow = names.agg(count(lit(1)), max(length(col("s")))).head()
    val nTotal = math.max(probeRow.getLong(0), 1L)
    // same regime rule as joinEditDistAuto: the deletion neighborhood
    // is the short-string generator (C(len, 1) variants per string)
    val maxLen = if (probeRow.isNullAt(1)) 0 else probeRow.getInt(1)
    def bucketCandVolume(buckets: org.apache.spark.sql.DataFrame): Long = {
      val r = buckets.agg(sum(col("c") * (col("c") - 1))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    if (maxLen <= 40) {
      val vars = deletionVariants(names, 1)
      lazy val candVolume = bucketCandVolume(
        vars.df.groupBy(col("v")).agg(count(lit(1)).as("c")))
      if (approx.getOrElse(candVolume > denseCandPerRow * nTotal))
        return joinEditDistTopKBanded(names, k, topK)
      stagedTopK(names, topK, nTotal,
        symPairs(joinEditDistDelPairs(names, 1, prebuilt = Some(vars))),
        () => joinEditDistPrefixPairs(names, k),
        ids => joinEditDistPrefixPairs(names, k, queryIds = Some(ids)))
    } else {
      // ONE prefix table serves both stages (built at the full k;
      // stage 1 reads its rk <= q+1 subset) — the gram explode, df
      // aggregate and ranking window over the corpus are paid once
      val shared = editDistPrefixTable(names, k)
      // density probe over the ACTUAL stage-1 join key (g, band):
      // side A's bucket sizes, before side B's ~2.3x band replication
      lazy val candVolume = bucketCandVolume(
        shared.df.filter(col("rk") <= shared.q + 1)
          .groupBy(col("g"), floor(col("p") / 2).as("bkt"))
          .agg(count(lit(1)).as("c")))
      if (approx.getOrElse(candVolume > denseCandPerRow * nTotal))
        return joinEditDistTopKBanded(names, k, topK)
      stagedTopK(names, topK, nTotal,
        symPairs(joinEditDistPrefixPairs(names, 1, prebuilt = Some(shared))),
        () => joinEditDistPrefixPairs(names, k, prebuilt = Some(shared)),
        ids => joinEditDistPrefixPairs(names, k,
          queryIds = Some(ids), prebuilt = Some(shared)))
    }
  }

  /** BANDED APPROXIMATE face of the capped similarity join — the
    * duplicate-dense regime's escape hatch ([[joinEditDistTopKOn]]
    * routes here when the exact stage-1 candidate volume exceeds the
    * budget). Candidates come from MinHash LSH over character 2-gram
    * shingles (the same 12-hash / 6-band signatures as
    * [[Llm.bandedSignatures]] — Broder resemblance sketches with
    * banding per Leskovec-Rajaraman-Ullman ch. 3), with per-bucket
    * generation BOUNDED instead of all-pairs:
    *
    *  - buckets <= `smallBucket`: exhaustive within the bucket (the
    *    recall floor — sparse neighborhoods never pay the cap);
    *  - larger buckets: every member pairs with the bucket's `heads`
    *    smallest ids (the (dist, cand)-ranking's tie-break winners
    *    when the bucket is distance-homogeneous) plus a `window`-wide
    *    id-adjacency band (near-id members: catches perturbed-copy
    *    neighborhoods whose closest matches cluster in id space);
    *  - the dist-0 class exactly: a groupBy on the string itself
    *    pairs every verbatim duplicate with its group's (topK+1)
    *    smallest ids — the dominant class of a duplicate-dense corpus
    *    never depends on LSH bucket composition.
    *
    * Every candidate is verified with the exact banded-DP levenshtein
    * and ranked by the same (dist, cand) window as the exact face, so
    * emitted rows are always TRUE matches with true distances —
    * approximation can only MISS candidates, never invent them.
    * Candidate volume is bounded by 6 * (smallBucket/2 + heads +
    * window) per input row regardless of duplication density — the
    * property the exact generators cannot have when the dist-1 sets
    * themselves are duplication-factor-sized. Recall is spec-gated
    * (RelationalOpsSpec / planted duplicate-dense fixture, >= 0.95 of
    * the exact top-k); on dist-layered corpora whose cand-asc
    * tie-break winners sit far from any bucket head the returned ids
    * within one distance class may differ from the exact tie-break
    * (the probe reports per-rank DIST parity for exactly that
    * construction). */
  private[graft] def joinEditDistTopKBanded(
      names: org.apache.spark.sql.DataFrame,
      k: Int, topK: Int,
      heads: Int = 16, window: Int = 8, smallBucket: Int = 32)
      : org.apache.spark.sql.DataFrame = {
    // three consumers (shingle signatures + two verify sides)
    val nm = names.localCheckpoint(true)
    // distinct character 2-grams; a len-1 string shingles to itself
    val shingled = nm.select(col("id").as("doc_id"), expr(
      "array_distinct(transform(sequence(1, greatest(length(s) - 1, 1))," +
        " i -> substring(s, i, 2)))").as("shingles"))
    val banded = Llm.bandedSignatures(shingled)
      .select(col("doc_id").as("id"), col("band_idx"), col("band_key"))
    val wAll = Window.partitionBy(col("band_idx"), col("band_key"))
    val wOrd = wAll.orderBy(col("id"))
    // rn + bucket size in one pass; materialized — feeds four
    // consumers (small-pair self-join twice, heads join, id window)
    val marked = banded
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .localCheckpoint(true)
    val sm = marked.filter(col("cnt") <= smallBucket)
    val smallPairs = sm.select(col("band_idx"), col("band_key"),
        col("id").as("d1"))
      .join(sm.select(col("band_idx"), col("band_key"), col("id").as("d2")),
        Seq("band_idx", "band_key"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    val lg = marked.filter(col("cnt") > smallBucket)
    val headPairs = lg
      .join(lg.filter(col("rn") <= heads)
          .select(col("band_idx"), col("band_key"), col("id").as("hid")),
        Seq("band_idx", "band_key"))
      .filter(col("id") =!= col("hid"))
      .select(least(col("id"), col("hid")).as("d1"),
        greatest(col("id"), col("hid")).as("d2"))
    // id-adjacency: each row vs its `window` preceding bucket members
    // (undirected pairs cover the following direction symmetrically)
    val windowPairs = lg
      .withColumn("prev", collect_list(col("id")).over(
        wOrd.rowsBetween(-window, -1)))
      .select(explode(col("prev")).as("d1"), col("id").as("d2"))
    // the dist-0 class EXACTLY: verbatim duplicates need no LSH —
    // group by the string itself, pair every member with its group's
    // (topK+1) smallest ids (the (0, cand)-ranking winners; +1 spares
    // the winners' own self-exclusion). One shuffle, <= (topK+1) * n
    // pairs, and the dominant class of a verbatim-duplicate-dense
    // corpus is returned exactly no matter how the LSH buckets mix
    // distance classes.
    val wStr = Window.partitionBy(col("s")).orderBy(col("id"))
    val dupMarked = nm.withColumn("srn", row_number().over(wStr))
    val dupPairs = dupMarked.select(col("s"), col("id"))
      .join(dupMarked.filter(col("srn") <= topK + 1)
          .select(col("s"), col("id").as("hid")), Seq("s"))
      .filter(col("id") =!= col("hid"))
      .select(least(col("id"), col("hid")).as("d1"),
        greatest(col("id"), col("hid")).as("d2"))
    val verified = smallPairs
      .unionByName(headPairs).unionByName(windowPairs).unionByName(dupPairs)
      .distinct()
      .join(nm.select(col("id").as("d1"), col("s").as("s1")), Seq("d1"))
      .join(nm.select(col("id").as("d2"), col("s").as("s2")), Seq("d2"))
      .withColumn("dist", levenshtein(col("s1"), col("s2"), k))
      .filter(col("dist").between(0, k))
      .select(col("d1"), col("d2"), col("dist"))
    rankTopK(symPairs(verified), topK)
      .orderBy(col("qid"), col("rank"))
  }

  /** DIRECTED R-x-S capped match: each `queries` row's `topK` nearest
    * `canon` rows within edit distance <= k, ranked by (dist, canon
    * id) — the per-batch form of the streaming entity-resolution
    * ingest gate ([[graft.streaming.Pipelines.runStreamingEntityRes]])
    * and the two-frame sibling of [[joinEditDistTopKOn]]. Candidates
    * come from the FastSS deletion neighborhood on BOTH sides (two
    * strings within edit k share a delete-up-to-k variant verbatim);
    * the canon side's variant table is PREBUILT once per stream and
    * reused across triggers, so a trigger pays only its own batch's
    * variant explode plus an output-sized verify. The canon side is
    * a dimension by definition — its variant table broadcasts, the
    * batch side streams map-only with no shuffle before the ranking
    * window. Returns (qid, canon_id, dist, rank). */
  private[graft] def topKMatchAgainst(queries: org.apache.spark.sql.DataFrame,
      canon: org.apache.spark.sql.DataFrame,
      canonVars: EdVariantTable, k: Int, topK: Int)
      : org.apache.spark.sql.DataFrame = {
    require(canonVars.k >= k,
      s"canon variant table built at k=${canonVars.k} cannot serve k=$k")
    // one consumer (the candidate join): no materialization — the
    // batch side stays genuinely map-only per trigger
    val qv = deletionVariants(queries, k, materialize = false).df
    val cand = qv.select(col("v"), col("id").as("qid"))
      .join(broadcast(canonVars.df.select(col("v"), col("id").as("canon_id"))),
        Seq("v"))
      .select(col("qid"), col("canon_id")).distinct()
    val verified = cand
      .join(queries.select(col("id").as("qid"), col("s").as("qs")), Seq("qid"))
      .join(broadcast(canon.select(col("id").as("canon_id"),
        col("s").as("cs"))), Seq("canon_id"))
      .withColumn("dist", levenshtein(col("qs"), col("cs"), k))
      .filter(col("dist").between(0, k))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("canon_id"))
    verified.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("qid"), col("canon_id"), col("dist"), col("rank"))
  }

  val joinEditDist2TopK: Q = (spark, dir) =>
    joinEditDistTopKOn(Tables(spark, dir, "customer")
      .filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("id"), col("c_name").as("s")),
      k = 2, topK = 3)

  /** The banded approximate face FORCED through the same dispatch the
    * dense regime takes (rows-only entry: output is recall-gated
    * against the exact face in RelationalOpsSpec, not SQL-expressible
    * — the generated candidate set is the approximation). */
  val joinEditDist2TopKBanded: Q = (spark, dir) =>
    joinEditDistTopKOn(Tables(spark, dir, "customer")
      .filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("id"), col("c_name").as("s")),
      k = 2, topK = 3, approx = Some(true))

  val queries: Map[String, Q] = Map(
    "q_join_editdist" -> joinEditDist,
    "q_join_editdist2" -> joinEditDist2,
    "q_join_editdist2_topk" -> joinEditDist2TopK,
    "q_join_editdist2_topk_banded" -> joinEditDist2TopKBanded,
    "q_join_left_enrich" -> joinLeftEnrich,
    "q_join_inner" -> joinInner,
    "q_join_semi" -> joinSemi,
    "q_join_anti" -> joinAnti,
    "q_join_full" -> joinFull,
    "q_join_range" -> joinRange,
    "q_join_salted" -> joinSalted,
    "q_tpch_q3" -> tpchQ3,
    "q_tpch_q5" -> tpchQ5,
    "q_tpch_q18" -> tpchQ18,
    "q_tpch_q13" -> tpchQ13,
    "q_tpch_q10" -> tpchQ10,
    "q_tpch_q14" -> tpchQ14,
    "q_tpch_q15" -> tpchQ15,
    "q_tpch_q17" -> tpchQ17,
    "q_tpch_q19" -> tpchQ19,
    "q_tpch_q22" -> tpchQ22,
    "q_tpch_q4" -> tpchQ4,
    "q_tpch_q21" -> tpchQ21,
    "q_tpch_q7" -> tpchQ7,
    "q_tpch_q8" -> tpchQ8,
    "q_tpch_q12" -> tpchQ12,
    "q_tpch_q2" -> tpchQ2,
    "q_tpch_q9" -> tpchQ9,
    "q_tpch_q11" -> tpchQ11,
    "q_tpch_q16" -> tpchQ16,
    "q_tpch_q20" -> tpchQ20)

  val oracle: Map[String, String] = Map(
    "q_join_editdist" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer)
         SELECT a.id AS d1, b.id AS d2,
                CAST(levenshtein(a.s, b.s) AS INT) AS dist
         FROM c a JOIN c b ON a.id < b.id
         WHERE levenshtein(a.s, b.s) <= 1
         ORDER BY d1, d2""",
    "q_join_editdist2" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer
                    WHERE c_custkey % 4 = 0)
         SELECT a.id AS d1, b.id AS d2,
                CAST(levenshtein(a.s, b.s) AS INT) AS dist
         FROM c a JOIN c b ON a.id < b.id
         WHERE levenshtein(a.s, b.s) <= 2
         ORDER BY d1, d2""",
    "q_join_editdist2_topk" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer
                    WHERE c_custkey % 4 = 0),
         pairs AS (
           SELECT a.id AS qid, b.id AS cand,
                  CAST(levenshtein(a.s, b.s) AS INT) AS dist
           FROM c a JOIN c b ON a.id <> b.id
           WHERE levenshtein(a.s, b.s) <= 2),
         ranked AS (
           SELECT qid, cand, dist,
                  CAST(row_number() OVER (
                    PARTITION BY qid ORDER BY dist, cand) AS INT) AS rank
           FROM pairs)
         SELECT qid, cand, dist, rank FROM ranked
         WHERE rank <= 3
         ORDER BY qid, rank""",
    "q_join_left_enrich" ->
      """SELECT o_orderkey, o_custkey,
                coalesce(c_name, 'Unknown') AS c_name,
                coalesce(c_mktsegment, 'Unknown') AS c_mktsegment
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "q_join_inner" ->
      """SELECT c_mktsegment, count(*) AS cnt,
                round(sum(l_extendedprice), 4) AS sum_price
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         ORDER BY c_custkey""",
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
         ORDER BY c_custkey""",
    "q_join_full" ->
      """SELECT coalesce(c_custkey, user_id) AS k, c_mktsegment, n_events
         FROM (SELECT c_custkey, c_mktsegment FROM customer
               WHERE c_custkey < 300) c
         FULL JOIN (SELECT user_id, count(*) AS n_events
                    FROM events GROUP BY user_id) u
           ON c.c_custkey = u.user_id
         ORDER BY k""",
    // the oracle is the UNBINNED containment join — the binning is a
    // pure execution-strategy rewrite and must not change results.
    // round(sum(double),4) and integer day-add (not DECIMAL cast /
    // INTERVAL) keep the rendering stable across DuckDB versions.
    "q_join_range" ->
      """SELECT o_orderkey AS iv_id, count(*) AS cnt,
                round(sum(l_extendedprice), 4) AS sum_price
         FROM orders JOIN lineitem
           ON CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
          AND CAST(l_shipdate AS DATE) < CAST(o_orderdate AS DATE) + 30
         WHERE o_orderkey % 100 = 0
         GROUP BY o_orderkey ORDER BY iv_id""",
    // the oracle is the UNSALTED join — salting must be invisible
    "q_join_salted" ->
      """SELECT c_mktsegment, count(*) AS cnt,
                round(sum(value), 4) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         WHERE c_custkey < 150
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_tpch_q3" ->
      """SELECT o_orderkey, o_orderdate,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q_tpch_q5" ->
      """SELECT n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q_tpch_q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
                round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey) t
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND l_returnflag = 'R'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    // both sums rounded to 4 BEFORE the division — the ratio is then
    // identical double arithmetic on both engines
    "q_tpch_q14" ->
      """SELECT promo_rev, total_rev,
                round(promo_rev * 100 / total_rev, 4) AS promo_pct
         FROM (SELECT
                 round(sum(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0 END), 4) AS promo_rev,
                 round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev
               FROM lineitem JOIN part ON l_partkey = p_partkey
               WHERE l_shipdate >= TIMESTAMP '1996-03-01'
                 AND l_shipdate < TIMESTAMP '1996-04-01') t""",
    // revenue rounded to 4 INSIDE the CTE so the max-equality selects
    // the same argmax on both engines
    "q_tpch_q15" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, s_acctbal, total_rev
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM rev)
         ORDER BY s_suppkey""",
    // deliberately the CORRELATED form — an independent evaluation
    // strategy from the engine's window formulation
    "q_tpch_q17" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#13'
           AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                             FROM lineitem l2
                             WHERE l2.l_partkey = part.p_partkey)""",
    "q_tpch_q19" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20 AND 40)""",
    "q_tpch_q22" ->
      """SELECT c_mktsegment, count(*) AS numcust,
                round(sum(c_acctbal), 4) AS totacctbal
         FROM customer c
         WHERE c_mktsegment IN ('BUILDING','FURNITURE','MACHINERY')
           AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                            WHERE c_acctbal > 0
                              AND c_mktsegment IN ('BUILDING','FURNITURE','MACHINERY'))
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2001-06-01')
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
    // l_returnflag = 'R' stands in for l_commitdate < l_receiptdate
    // (columns the fixtures lack) — same existence topology
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-07-01'
           AND o_orderdate < TIMESTAMP '1996-10-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_returnflag = 'R')
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    // deliberately the classic correlated EXISTS / NOT EXISTS form —
    // an independent evaluation strategy from the engine's
    // single-scan windowed-flags formulation
    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey
           AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_name
         ORDER BY numwait DESC, s_name LIMIT 100""",
    // deliberately the classic single-disjunction form — independent
    // of the engine's pruned-dims + inequality-residual strategy
    "q_tpch_q7" ->
      """SELECT supp_nation, cust_nation, l_year,
                round(sum(volume), 4) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      CAST(year(l_shipdate) AS INT) AS l_year,
                      l_extendedprice * (1 - l_discount) AS volume
               FROM lineitem
               JOIN orders ON o_orderkey = l_orderkey
               JOIN customer ON c_custkey = o_custkey
               JOIN supplier ON s_suppkey = l_suppkey
               JOIN nation n1 ON s_nationkey = n1.n_nationkey
               JOIN nation n2 ON c_nationkey = n2.n_nationkey
               WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_13')
                   OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_12'))
                 AND l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l_shipdate < TIMESTAMP '1998-01-01') shipping
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",
    // both sums rounded to 4 BEFORE the division (the Q14 device)
    "q_tpch_q8" ->
      """SELECT o_year, nation_rev, total_rev,
                round(nation_rev * 100 / total_rev, 4) AS mkt_share_pct
         FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                      round(sum(CASE WHEN n1.n_name = 'NATION_12'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END), 4) AS nation_rev,
                      round(sum(l_extendedprice * (1 - l_discount)), 4)
                        AS total_rev
               FROM lineitem
               JOIN part ON p_partkey = l_partkey
               JOIN orders ON o_orderkey = l_orderkey
               JOIN customer ON c_custkey = o_custkey
               JOIN supplier ON s_suppkey = l_suppkey
               JOIN nation n1 ON s_nationkey = n1.n_nationkey
               JOIN nation n2 ON c_nationkey = n2.n_nationkey
               JOIN region ON n2.n_regionkey = r_regionkey
               WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
                 AND o_orderdate >= TIMESTAMP '1996-01-01'
                 AND o_orderdate < TIMESTAMP '1998-01-01'
               GROUP BY o_year) t
         ORDER BY o_year""",
    // l_linestatus stands in for l_shipmode, l_returnflag = 'R' for
    // l_commitdate < l_receiptdate (columns the fixtures lack);
    // conditional COUNT (not sum-of-CASE) so both engines emit BIGINT
    "q_tpch_q12" ->
      """SELECT l_linestatus,
                count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
                count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE l_returnflag = 'R'
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY l_linestatus
         ORDER BY l_linestatus""",
    // partsupp stand-in (fixtures lack the table): distinct traded
    // (part, supplier) pairs, supply cost = min unit price ever
    // shipped. Deliberately the classic CORRELATED min-subquery form
    // — independent of the engine's window-min decorrelation.
    "q_tpch_q2" ->
      """WITH ps AS (
           SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  min(l_extendedprice / l_quantity) AS ps_supplycost
           FROM lineitem GROUP BY 1, 2)
         SELECT s_acctbal, s_name, n_name, p_partkey,
                round(ps_supplycost, 4) AS supplycost
         FROM ps
         JOIN part ON p_partkey = ps_partkey
         JOIN supplier ON s_suppkey = ps_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
           AND ps_supplycost = (
             SELECT min(ps2.ps_supplycost)
             FROM ps ps2
             JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
             JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
             JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
             WHERE ps2.ps_partkey = ps.ps_partkey AND r2.r_name = 'EUROPE')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         LIMIT 100""",
    // supply cost proxied as 60% of p_retailprice (fixtures lack
    // ps_supplycost) — identical arithmetic on both engines
    "q_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
                round(sum(l_extendedprice * (1 - l_discount)
                          - 0.6 * p_retailprice * l_quantity), 4) AS sum_profit
         FROM lineitem
         JOIN part ON p_partkey = l_partkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2
         ORDER BY 1, 2 DESC""",
    // deliberately the classic scalar-subquery HAVING form — the
    // engine computes the total from the per-part aggregate's output
    "q_tpch_q11" ->
      """WITH perpart AS (
           SELECT l_partkey AS ps_partkey,
                  round(sum(l_extendedprice * (1 - l_discount)), 4) AS value
           FROM lineitem
           WHERE l_suppkey IN (
             SELECT s_suppkey FROM supplier
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             WHERE r_name = 'EUROPE')
           GROUP BY 1)
         SELECT ps_partkey, value
         FROM perpart
         WHERE value > (SELECT round(sum(value), 4) FROM perpart) * 0.001
         ORDER BY value DESC, ps_partkey""",
    // negative-balance suppliers stand in for the complaint
    // blacklist; the lineitem fact is the pair universe
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND p_size IN (1, 7, 13, 19, 25, 31, 37, 49)
           AND l_suppkey NOT IN (
             SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    // deliberately the classic nested-IN form with the correlated
    // aggregate threshold in a HAVING — independent of the engine's
    // one-pass conditional-aggregate + semi-join strategy
    "q_tpch_q20" ->
      """SELECT s_name, s_acctbal
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE'
           AND s_suppkey IN (
             SELECT l_suppkey
             FROM lineitem JOIN part ON p_partkey = l_partkey
             WHERE p_name LIKE 'red%'
             GROUP BY l_suppkey, l_partkey
             HAVING sum(CASE WHEN CAST(year(l_shipdate) AS INT) = 1996
                        THEN l_quantity ELSE 0 END)
                    > 0.3 * sum(l_quantity))
         ORDER BY s_name""")
}
