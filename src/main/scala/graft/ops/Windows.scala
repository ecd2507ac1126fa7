package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables

/** Window functions (SURVEY.md §2.5).
  *
  * The reference has no explicit window functions; these are the
  * window-shaped behaviors it computes imperatively:
  *  - latest-N per key (producer dedup generalized,
  *    `services/producer/producer.py:89-96`);
  *  - rank within group ("fastest flights" per country,
  *    `services/analytics/app.py:295-301`);
  *  - sliding frame average (hourly traffic trend,
  *    `services/dashboard/dashboard.py:246-252`).
  *
  * Scale notes: each window is one hash-partition shuffle on its
  * partition key + per-partition sort; the rank query filters rnk<=5
  * right after the window so only ~5 rows per group survive to the
  * final sort. The frame query windows over an already-aggregated
  * (hours-sized) input, not the raw events.
  */
object Windows {

  /** W1: row_number — top-3 latest events per user. */
  val windowRownum: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), col("rn"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** W2: rank within group (ties keep equal rank). */
  val windowRank: Q = (spark, dir) => {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc)
    Tables(spark, dir, "orders")
      .withColumn("rnk", rank().over(w))
      // dense_rank beside rank: same window, no extra shuffle — ties
      // collapse (no gaps), which is the top-N-PRICES-per-group face
      // vs rank's top-N-ROWS
      .withColumn("drnk", dense_rank().over(w))
      .filter(col("rnk") <= 5)
      .select(
        col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice"), col("rnk"), col("drnk"))
      .orderBy(col("o_orderpriority"), col("rnk"), col("o_orderkey"))
  }

  /** W3: sliding frame — 3-row moving average over hourly counts. */
  val windowFrame: Q = (spark, dir) => {
    val hourly = Tables(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("h")).rowsBetween(-2, 0)
    hourly
      .withColumn("ma3", round(avg(col("cnt")).over(w), 4))
      .select(col("h"), col("cnt"), col("ma3"))
      .orderBy(col("h"))
  }

  /** lag: per-user value delta to the previous event (raw IEEE
    * subtraction matches the oracle bitwise; first row per user is
    * null). */
  val windowLag: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("delta"))
      .orderBy(col("event_id"))
  }

  /** Global 0-based row index by a TOTAL order, computed WITHOUT the
    * single-partition window a bare `Window.orderBy` compiles to (at
    * 100 TB that is one task sorting the whole table — the anchor
    * measured even sf1 losing to a single-node engine on it):
    * range-bucket rows on approx-quantile split points of the leading
    * order column (metadata-sized driver array, the exactPercentiles
    * idiom), row_number WITHIN each bucket (distributed, one shuffle),
    * and add bucket offsets from a buckets-sized frame. Rows equal on
    * the leading column always share a bucket, so the concatenated
    * order is exactly the total order. */
  private[graft] def withGlobalIndex(df: org.apache.spark.sql.DataFrame,
      leading: String, tieBreak: Seq[String], out: String,
      buckets: Int = 32): org.apache.spark.sql.DataFrame = {
    // deliberately KEEPS the driver-side probe (round-14 optimization
    // measured the in-plan approxSplitsAgg form LOSING here, 1.25 s ->
    // 1.85 s on q_window_ntile): this helper buckets a RAW frame, so
    // the in-plan probe's broadcast gate adds a full extra scan of the
    // raw input per consumer branch, while the reduced-frame callers
    // (exactPercentiles / windowCume / skyline) amortize it over a
    // distinct-sized reduction that ReusedExchange shares at runtime
    val splits = df.stat.approxQuantile(
      leading, (1 until buckets).map(_.toDouble / buckets).toArray, 0.01)
      .distinct.sorted
    withGlobalIndexBy(df, rangeBucketOf(col(leading), splits.toIndexedSeq),
      (col(leading) +: tieBreak.map(col)).toIndexedSeq, out)
  }

  /** Range-bucket assignment from quantile split points, shared by
    * every consumer of the de-concentration machinery (global index,
    * windowCume, Aggs.exactPercentiles — previously three drifting
    * copies). NaN pins to the TOP bucket: NaN sorts greater than
    * every double (the built-ins' ordering) but compares false
    * against every split, so unguarded it would land in bucket 0 yet
    * sort last there, corrupting the concatenated order. A NULL value
    * compares false against every split too and lands in bucket 0 —
    * where Spark's NULLS FIRST ordering puts it globally first,
    * consistent with the concatenation. */
  private[graft] def rangeBucketOf(c: org.apache.spark.sql.Column,
      splits: Seq[Double]): org.apache.spark.sql.Column =
    if (splits.isEmpty) lit(0)
    else when(isnan(c), lit(splits.size))
      .otherwise(size(org.apache.spark.sql.functions.filter(
        array(splits.map(lit(_)): _*), s => s <= c)))

  /** IN-PLAN split-point probe (round-14 optimization, guide §1.2/§2.4):
    * the sorted approx-quantile split array of `values` as an AGGREGATE
    * COLUMN, so the probe rides the same plan as its consumer instead
    * of a separate `df.stat.approxQuantile` driver action. The driver
    * probe forced every caller into THREE sequential jobs — an eager
    * localCheckpoint of the reduction (so probe + main plan would not
    * recompute it), the sketch collect, then the main plan — and at
    * scale parks a corpus-distinct-sized block in executor storage
    * memory. In-plan, the one-row probe broadcasts inside the main
    * plan, the reduction's exchange is shared via ReusedExchange, and
    * nothing is checkpointed. Split VALUES may differ from the driver
    * probe's (same 1%-error sketch family, different accuracy knob) —
    * immaterial by construction: every consumer's arithmetic is exact
    * for ANY monotone split array; splits only steer bucket balance.
    * NaN maps out before the sketch (the agg ignores nulls), matching
    * rangeBucketOf's NaN-pins-to-top-bucket contract. */
  private[graft] def approxSplitsAgg(values: org.apache.spark.sql.Column,
      buckets: Int): org.apache.spark.sql.Column = {
    val v = values.cast("double")
    array_sort(array_distinct(percentile_approx(
      when(!isnan(v), v),
      array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*),
      lit(100))))
  }

  /** The in-plan probe's correctness PRECONDITION (round-15 ADVICE):
    * the probe subtree is physically cloned into every consumer
    * branch (cumsum, offsets, totals), and `percentile_approx` merges
    * its QuantileSummaries in shuffle-fetch order — so only exchange
    * reuse (static ReuseExchange, or AQE's stage cache; both gate on
    * `spark.sql.exchange.reuse`) guarantees every branch reads the
    * SAME evaluated split array. Consumers are exact for any ONE
    * monotone split array, but per-branch DIFFERENT splits would make
    * bucket ids inconsistent between the cumulative sums and the
    * offsets — silently wrong results. The conf defaults to true
    * everywhere; this guard turns the silent config hazard into a
    * loud failure at the call site. Every approxSplitsAgg consumer
    * must call it.
    *
    * The check reads `spark.sql.exchange.reuse` when the frame is
    * BUILT, not when it executes: a conf flipped to false between
    * building the frame and draining it is not caught. The current
    * callers (Aggs.exactPercentiles, windowCume, Advanced.skyline)
    * return a lazy frame that their callers drain right away under
    * the same session conf, so no such window opens today. */
  private[graft] def requireSplitProbeConsistency(
      spark: org.apache.spark.sql.SparkSession): Unit =
    require(spark.conf.get("spark.sql.exchange.reuse", "true").toBoolean,
      "the in-plan split probe (approxSplitsAgg) requires " +
        "spark.sql.exchange.reuse=true: without exchange reuse each " +
        "consumer branch evaluates its own percentile_approx sketch " +
        "(merge order is fetch-order-dependent) and bucket ids can " +
        "diverge between the cumsum and offset branches")

  /** [[rangeBucketOf]] over an ARRAY COLUMN of split points (the
    * [[approxSplitsAgg]] probe, crossJoined by broadcast). A null
    * array (empty input: percentile_approx of zero rows) buckets
    * everything to 0, like the driver probe's empty-splits branch. */
  private[graft] def rangeBucketOfArr(c: org.apache.spark.sql.Column,
      splitsArr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val arr = coalesce(splitsArr, expr("CAST(array() AS array<double>)"))
    when(isnan(c), size(arr))
      .otherwise(size(org.apache.spark.sql.functions.filter(arr, s => s <= c)))
  }

  /** The bucket-generic core of [[withGlobalIndex]]: callers supply
    * any `bucketOf` whose numeric order is a PREFIX of the total
    * `order` (range buckets from quantile splits above; hash-prefix
    * buckets in Llm.shardAssignOn), and the concatenated per-bucket
    * row numbers are exactly the global index. One machinery, every
    * de-concentrated global ordering. */
  private[graft] def withGlobalIndexBy(df: org.apache.spark.sql.DataFrame,
      bucketOf: org.apache.spark.sql.Column,
      order: Seq[org.apache.spark.sql.Column], out: String)
      : org.apache.spark.sql.DataFrame = {
    val wIn = Window.partitionBy(col("__b")).orderBy(order: _*)
    val bucketed = df.withColumn("__b", bucketOf)
    val offs = bucketed.groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .withColumn("__off",
        coalesce(sum(col("__c")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    bucketed
      .withColumn("__rn", row_number().over(wIn))
      .join(broadcast(offs), Seq("__b"))
      .withColumn(out, col("__off") + col("__rn") - 1)
      .drop("__b", "__rn", "__off")
  }

  /** W+: ntile quartiles by order value — re-expressed on
    * [[withGlobalIndex]] instead of the single-partition global
    * window, with Spark's NTile bucket arithmetic replicated exactly
    * (first n%k buckets get one extra row), so the result is bitwise
    * the built-in's at any scale; WindowsSpec pins the equality. */
  val windowNtile: Q = (spark, dir) => {
    val k = 4
    val orders = Tables(spark, dir, "orders")
    val n = orders.agg(count(lit(1)).as("__n"))
    withGlobalIndex(orders, "o_totalprice", Seq("o_orderkey"), "__i")
      .crossJoin(broadcast(n))
      // NTile: base = n/k rows per bucket, the first n%k buckets take
      // one extra; `div` keeps every step in integer arithmetic — no
      // float boundary (DataFrame `/` on longs is DOUBLE division)
      .withColumn("__base", expr(s"__n div $k"))
      .withColumn("__rem", col("__n") % k)
      .withColumn("__cut", col("__rem") * (col("__base") + 1))
      .withColumn("quartile",
        when(col("__i") < col("__cut"),
          expr("(__i div (__base + 1)) + 1"))
          .otherwise(expr("((__i - __cut) div __base) + __rem + 1"))
          .cast("int"))
      .select(col("o_orderkey"), col("o_totalprice"), col("quartile"))
      .orderBy(col("o_orderkey"))
  }

  /** W+: distribution functions — percent_rank / cume_dist of each
    * event's value within its event_type. Both are pure functions of
    * the ORDER BY column, so tie rows carry equal outputs and the
    * all-column ORDER BY keeps the row stream deterministic.
    *
    * Re-expressed WITHOUT the giant-group window: `event_type` has a
    * handful of values, so the windowed form sorts whole types in
    * single tasks — the straggler/OOM shape at 100 TB. Instead the
    * rows reduce to (type, value, cnt); cumulative counts come from a
    * range-bucketed within-type prefix sum (every task sorts only one
    * (type, bucket) slice); and the rank formulas are Spark's own —
    * percent_rank = (rank-1)/(n-1) with the n==1 -> 0.0 guard,
    * cume_dist = cumEnd/n, both on the same longs the window would
    * produce, so the output is bitwise the windowed form's
    * (WindowsSpec pins it). Rows rejoin by (type, value): two
    * bounded-task corpus shuffles in place of one unbounded-task
    * sort. */
  val windowCume: Q = (spark, dir) => {
    requireSplitProbeConsistency(spark)
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"), col("value"))
    // the reduction has FOUR consumers (split probe, cumsum, offsets,
    // per-type totals). With the probe IN-PLAN (approxSplitsAgg) they
    // are all one action, and the reduction's exchange is computed
    // once and re-read via ReusedExchange — the former eager
    // localCheckpoint (needed when the probe was a separate
    // df.stat.approxQuantile action) parked a corpus-distinct-sized
    // block in executor storage instead
    val counts = ev.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("__cnt"))
    val probe = counts.agg(approxSplitsAgg(col("value"), 32).as("__splits"))
    val bucketed = counts.crossJoin(broadcast(probe))
      .withColumn("__b", rangeBucketOfArr(col("value"), col("__splits")))
      .drop("__splits")
    val wIn = Window.partitionBy(col("event_type"), col("__b"))
      .orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = bucketed
      .groupBy(col("event_type"), col("__b")).agg(sum(col("__cnt")).as("__c"))
      .withColumn("__off",
        coalesce(sum(col("__c")).over(
          Window.partitionBy(col("event_type")).orderBy(col("__b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("event_type"), col("__b"), col("__off"))
    val nType = counts.groupBy(col("event_type"))
      .agg(sum(col("__cnt")).as("__n"))
    val scored = bucketed
      .withColumn("__cumIn", sum(col("__cnt")).over(wIn))
      .join(broadcast(offs), Seq("event_type", "__b"))
      .withColumn("__cumEnd", col("__off") + col("__cumIn"))
      .join(broadcast(nType), Seq("event_type"))
      .withColumn("pr", round(
        when(col("__n") > 1,
          (col("__cumEnd") - col("__cnt")).cast("double") /
            (col("__n") - 1).cast("double"))
          .otherwise(lit(0.0)), 6))
      .withColumn("cd", round(
        col("__cumEnd").cast("double") / col("__n").cast("double"), 6))
      .select(col("event_type").as("__t"), col("value").as("__v"),
        col("pr"), col("cd"))
    // null-safe rejoin: a NULL value groups (and windows) as one key,
    // so it must also JOIN as one key, not vanish through an EqualTo
    ev.join(scored,
      ev("event_type") <=> col("__t") && ev("value") <=> col("__v"))
      .select(col("event_type"), col("value"), col("pr"), col("cd"))
      .orderBy(col("event_type"), col("value"), col("pr"), col("cd"))
  }

  /** W+: value-picking window functions — first/last/nth event value
    * over each user's full ordered history (the baseline-delta /
    * gap-fill shape). The frame must be UNBOUNDED FOLLOWING for
    * last_value to mean "the user's final event" rather than "the
    * current row" (the default frame's classic trap); (ts, event_id)
    * makes the order total so the picked rows are deterministic. */
  val windowFirstLast: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        first(col("value")).over(w).as("first_v"),
        last(col("value")).over(w).as("last_v"),
        nth_value(col("value"), 2).over(w).as("second_v"))
      .orderBy(col("event_id"))
  }

  val queries: Map[String, Q] = Map(
    "q_window_firstlast" -> windowFirstLast,
    "q_window_rownum" -> windowRownum,
    "q_window_rank" -> windowRank,
    "q_window_frame" -> windowFrame,
    "q_window_lag" -> windowLag,
    "q_window_ntile" -> windowNtile,
    "q_window_cume" -> windowCume)

  val oracle: Map[String, String] = Map(
    "q_window_firstlast" ->
      """SELECT event_id, user_id,
                first_value(value) OVER w AS first_v,
                last_value(value) OVER w AS last_v,
                nth_value(value, 2) OVER w AS second_v
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
         ORDER BY event_id""",
    "q_window_rownum" ->
      """SELECT user_id, event_id, CAST(rn AS INT) AS rn FROM (
           SELECT user_id, event_id,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn <= 3 ORDER BY user_id, rn""",
    "q_window_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk, drnk FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  CAST(rank() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC) AS INT) AS rnk,
                  CAST(dense_rank() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC) AS INT) AS drnk
           FROM orders) WHERE rnk <= 5
         ORDER BY o_orderpriority, rnk, o_orderkey""",
    "q_window_lag" ->
      """SELECT event_id, user_id,
                value - lag(value) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS delta
         FROM events ORDER BY event_id""",
    "q_window_ntile" ->
      // NULLS FIRST pins the engines' divergent window defaults
      // (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST) to the Spark
      // side's semantics — latent until a fixture carries a NULL
      // order value, then a silent hash flip
      """SELECT o_orderkey, o_totalprice,
                CAST(ntile(4) OVER (ORDER BY o_totalprice NULLS FIRST,
                                    o_orderkey) AS INT)
                  AS quartile
         FROM orders ORDER BY o_orderkey""",
    "q_window_cume" ->
      """SELECT event_type, value,
                round(percent_rank() OVER (PARTITION BY event_type
                                           ORDER BY value NULLS FIRST), 6)
                  AS pr,
                round(cume_dist() OVER (PARTITION BY event_type
                                        ORDER BY value NULLS FIRST), 6)
                  AS cd
         FROM events ORDER BY event_type, value, pr, cd""",
    "q_window_frame" ->
      """WITH hourly AS (
           SELECT date_trunc('hour', ts) AS h, count(*) AS cnt
           FROM events GROUP BY date_trunc('hour', ts))
         SELECT h, cnt,
                round(avg(cnt) OVER (ORDER BY h
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
         FROM hourly ORDER BY h""")
}
