package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Tables

/** Scale-pattern operators beyond the reference's surface (SURVEY.md
  * §2.3 note, §2.9 X5, §4): the shapes a 100 TB deployment leans on.
  *
  *  - as-of join: composed from built-ins (tagged union + ignore-null
  *    carry-forward window) per the custom-operator preference ladder —
  *    no custom SparkPlan needed; one shuffle on the join key;
  *  - salted two-phase aggregation: the skew-defeating form of groupBy
  *    (events.user_id is deliberately skewed in the fixtures);
  *  - sessionization: gap-based session ids from integer-microsecond
  *    arithmetic (identical on both engines); streaming face =
  *    `session_window` (Pipelines.sessionCounts);
  *  - pivot: wide per-key counters (the dashboard's continent x hour
  *    heat table shape, dashboard.py:229-243);
  *  - explode/UDTF surface: token frequency via generator;
  *  - bucketed co-located join: both facts pre-bucketed on the join key
  *    -> SortMergeJoin with NO exchange on either side (at 100 TB this
  *    is the difference between a join and a cluster-wide reshuffle).
  */
object Advanced {

  /** As-of join: each purchase matched to the same user's latest
    * click at-or-before its timestamp. Deterministic tie-break via
    * (ts, kind, event_id) ordering; clicks sort before purchases at
    * equal ts so ties match DuckDB's `p.ts >= c.ts` semantics. */
  val joinAsof: Q = (spark, dir) => {
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"), col("event_id"),
      lit(0).as("kind"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"), col("event_id"),
      lit(1).as("kind"), lit(null).cast("long").as("click_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("last_click").as("click_id"))
      .orderBy(col("event_id"))
  }

  /** Salted two-phase aggregation: partial aggregate on
    * (key, salt) then final merge on key — identical results to a
    * plain groupBy, but the first shuffle spreads a hot key over 16
    * reducers. The oracle is the plain form. */
  val aggSalted: Q = (spark, dir) =>
    Tables(spark, dir, "events")
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("pc"), sum(col("value")).as("ps"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("pc")).as("cnt"),
        round(sum(col("ps")), 4).as("sum_value"))
      .orderBy(col("user_id"))

  /** Gap-based sessionization (30 min): integer-microsecond gap ->
    * cumulative session index -> per-user session/event counts. */
  val streamSession: Q = (spark, dir) => {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val ev = Tables(spark, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us",
        coalesce(col("us") - lag(col("us"), 1).over(byUser), lit(0L)))
      .withColumn("new_session",
        when(col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("sid",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy(col("user_id"))
      .agg(
        countDistinct(col("sid")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Pivot: hour x event_type counts as wide columns. */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  val pivot: Q = (spark, dir) =>
    Tables(spark, dir, "events")
      .groupBy(hour(col("ts")).as("hr"))
      .pivot("event_type", eventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, eventTypes)
      .orderBy(col("hr"))

  /** Unpivot (melt): the wide hour x event_type counter matrix back to
    * long form — the inverse transform of `pivot`, and the proof that
    * the pair round-trips: unpivot(pivot(x)) must equal the plain
    * two-key group-by, which is exactly the oracle. Zero-count cells
    * (created by the pivot's fill) drop out on the way back. */
  val unpivotLong: Q = (spark, dir) =>
    pivot(spark, dir)
      .unpivot(
        Array(col("hr")),
        eventTypes.map(col).toArray,
        "event_type", "cnt")
      .filter(col("cnt") > 0)
      .orderBy(col("hr"), col("event_type"))

  /** Generator surface: explode tokens -> corpus token frequency. */
  val explodeTokens: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(20)

  /** Bucket-table memo on the shared TableMemo lifecycle with a
    * catalog-aware eviction: the CATALOG registrations must drop
    * through their owning session — with per-build counter names,
    * leaving them would accumulate dangling external-table entries
    * pointing at deleted paths on every invalidate+rebuild cycle
    * (the old dir-hash names self-healed via saveAsTable overwrite).
    * A failed drop on a LIVE session is logged, not swallowed: the
    * dangling entry this eviction exists to prevent would otherwise
    * re-accumulate invisibly. */
  private val bucketTableCache =
    new graft.util.TableMemo[(String, String, String, String)](
      (spark, v) => {
        val (liN, ordN, a, b) = v
        if (spark != null && !spark.sparkContext.isStopped)
          try {
            spark.sql(s"DROP TABLE IF EXISTS $liN")
            spark.sql(s"DROP TABLE IF EXISTS $ordN")
          } catch {
            case e: Throwable => System.err.println(
              s"bucket table drop failed (catalog entry may dangle): $e")
          }
        graft.util.Fs.deleteRecursively(a)
        graft.util.Fs.deleteRecursively(b)
      })

  /** The bucketed tables behind [[bucketedJoin]], built ONCE per
    * (session, dir) — the scaladoc's "one-time cost a warehouse pays"
    * was previously paid (and a pair of fact-sized temp dirs leaked,
    * untracked) on EVERY invocation. Same memo + synchronized-build +
    * invalidation lifecycle as zorderedTable/dmlTable; table names
    * carry a per-build counter so no two builds can collide. */
  private val bucketTableSeq = new java.util.concurrent.atomic.AtomicLong(0)

  private def bucketedTables(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val (liName, ordName, _, _) = bucketTableCache.getOrBuild(spark, dir) {
      // unique per BUILD, not a function of the dir string: a 32-bit
      // dir.hashCode collision between two fixture dirs in one
      // session would make the second build saveAsTable(overwrite)
      // onto the first dir's catalog name while the first memo entry
      // still points at it — bucketedJoin would silently read the
      // wrong dataset. The counter makes collisions impossible; the
      // memo value (not the name scheme) carries the association.
      val suffix = bucketTableSeq.getAndIncrement().toString
      val liN = s"graft_lineitem_b_$suffix"
      val ordN = s"graft_orders_b_$suffix"
      val liPath = graft.util.Fs.tempDir("graft_bucket_li")
      val ordPath = graft.util.Fs.tempDir("graft_bucket_ord")
      Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", liPath)
        .saveAsTable(liN)
      Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", ordPath)
        .saveAsTable(ordN)
      (liN, ordN, liPath, ordPath)
    }
    (liName, ordName)
  }

  /** Bucketed co-located join: both facts written bucketed+sorted on
    * the join key, then joined shuffle-free (SortMergeJoin reads the
    * bucket layout; zero Exchange). The write is the one-time cost a
    * warehouse pays to make every later join cheap — memoized per
    * (session, dir) so it really is one-time. */
  val bucketedJoin: Q = (spark, dir) => {
    val (liName, ordName) = bucketedTables(spark, dir)
    val li = spark.table(liName)
    val ord = spark.table(ordName)
    // Fixed-point money sum: at the sf0.1 magnitude (1.8e11 over 600k
    // rows) a double sum's order-dependent error (~1e-3, measured)
    // eats the round(,2) margin, and the per-row DECIMAL cast family
    // was retired in round 5 (Q10's cast-of-a-computed-double diverged
    // at the tie boundary). Summing integral ten-thousandths as LONG
    // is exact and order-independent at ANY scale (sum ~1.8e15 << 2^53
    // even at 100 TB per-partition partials), and the per-row
    // round(x*10000) is deterministic on both engines — fixture money
    // sits <=4e-5 off the integer grid, nowhere near a .5 tie.
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum((round(col("l_extendedprice") * 10000, 0) +
            round(col("o_totalprice") * 10000, 0)).cast("long"))
          .cast("double") / 10000d, 2).as("total"))
  }

  /** MERGE/upsert without a table format: updates win by key, new keys
    * append, untouched base rows survive — expressed as
    * updates ∪ (base ⟕-anti updates), one hash shuffle on the key.
    * This is the batch face of the medallion "refresh" (X6); a real
    * deployment writes the result partition-wise (dynamic partition
    * overwrite) rather than full-table. Updates here are derived
    * deterministically from the base so the oracle can rebuild them.
    * The insert-key shift is DERIVED — greatest(max(key)+1, 1e6), a
    * 1-row broadcast — not a constant: a fixed 1,000,000 collides
    * with real keys once customer reaches that size (~sf 7), silently
    * duplicating keys. Same scalar in the oracle's subquery. */
  val mergeUpsert: Q = (spark, dir) => {
    val base = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val shift = base.agg(greatest(max(col("c_custkey")) + 1L,
      lit(1000000L)).as("__shift"))
    val changed = base
      .filter(col("c_custkey") % 10 === 0)
      .withColumn("c_mktsegment", lit("UPDATED"))
    val inserted = base
      .filter(col("c_custkey") % 100 === 0)
      .crossJoin(broadcast(shift))
      .select(
        (col("c_custkey") + col("__shift")).as("c_custkey"),
        concat(lit("NEW-"), col("c_name")).as("c_name"),
        lit("INSERTED").as("c_mktsegment"))
    val updates = changed.unionByName(inserted)
    val untouched = base.join(
      updates.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
    updates.unionByName(untouched)
      .orderBy(col("c_custkey"))
  }

  /** Full Delta-style MERGE clause matrix ([[graft.engine.Merge]]):
    * conditional DELETE, conditional UPDATE, an unclaimed-match
    * carry-through, and conditional INSERT, all in one statement —
    * the surface `q_merge_upsert`'s unconditional form doesn't reach.
    * The source is derived deterministically from the base so the
    * DuckDB oracle can rebuild the whole matrix with unions and
    * anti-joins. Matched keys are base keys % 10 == 0, with op
    * del/noop/upd by % 20 / % 30; insert candidates are % 100 == 0
    * shifted past the key space, with % 200 == 0 marked del so the
    * NOT MATCHED condition provably filters some of them. */
  val mergeMatrix: Q = (spark, dir) => {
    import graft.engine.Merge
    val base = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    // derived insert-key shift — see mergeUpsert's scaladoc
    val shift = base.agg(greatest(max(col("c_custkey")) + 1L,
      lit(1000000L)).as("__shift"))
    val src = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 20 === 0, "del")
          .when(col("c_custkey") % 30 === 0, "noop")
          .otherwise("upd").as("op"),
        col("c_name").as("name"), lit("UPDATED").as("seg"))
      .unionByName(base.filter(col("c_custkey") % 100 === 0)
        .crossJoin(broadcast(shift))
        .select((col("c_custkey") + col("__shift")).as("c_custkey"),
          when(col("c_custkey") % 200 === 0, "del")
            .otherwise("ins").as("op"),
          concat(lit("NEW-"), col("c_name")).as("name"),
          lit("INSERTED").as("seg")))
    Merge.merge(base, src, Seq("c_custkey"), Seq(
      Merge.MatchedDelete(Some(col("s.op") === "del")),
      Merge.MatchedUpdate(Some(col("s.op") === "upd"),
        Map("c_mktsegment" -> col("s.seg"))),
      Merge.NotMatchedInsert(Some(col("s.op") =!= "del"), Map(
        "c_custkey" -> col("s.c_custkey"),
        "c_name" -> col("s.name"),
        "c_mktsegment" -> col("s.seg")))))
      .orderBy(col("c_custkey"))
  }

  /** Delta's third MERGE clause family, `WHEN NOT MATCHED BY SOURCE`
    * — the sync-deletion / aging motion (mirror a feed: refresh rows
    * the source still carries, age or remove the ones it dropped).
    * Matched rows re-sync; unmatched EVEN keys delete; remaining
    * unmatched rows mark STALE. */
  val mergeSync: Q = (spark, dir) => {
    import graft.engine.Merge
    val base = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val src = base.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"))
    Merge.merge(base, src, Seq("c_custkey"), Seq(
      Merge.MatchedUpdate(None, Map("c_mktsegment" -> lit("SYNCED"))),
      Merge.NotMatchedBySourceDelete(Some(col("t.c_custkey") % 2 === 0)),
      Merge.NotMatchedBySourceUpdate(None,
        Map("c_mktsegment" -> lit("STALE")))))
      .orderBy(col("c_custkey"))
  }

  /** Memoized DML-roundtrip table per (session, dir): customer
    * committed as a VersionedTable, then DELETE WHERE key%7=0 and
    * UPDATE WHERE key%5=0 applied as separate versioned commits —
    * the Delta DML surface exercised through the REAL table path, not
    * re-expressed as a plain query. Two driver entries read it: the
    * final state (q_table_dml) and the v0->v2 changelog
    * (q_table_changes). Lifecycle idiom = skipTableCache. */
  private val dmlTableCache = graft.util.TableMemo.paths()

  def invalidateDmlTableCache(): Unit = dmlTableCache.invalidate()

  private def dmlTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    // q_table_dml and q_table_changes share this memo
    dmlTableCache.getOrBuild(spark, dir) {
      import graft.engine.VersionedTable
      val tmp = graft.util.Fs.tempDir("graft_dml")
      VersionedTable.commit(Tables(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")), tmp)
      VersionedTable.deleteWhere(spark, tmp, col("c_custkey") % 7 === 0)
      VersionedTable.updateWhere(spark, tmp, col("c_custkey") % 5 === 0,
        Map("c_mktsegment" -> lit("UPDATED")))
      tmp
    }

  /** Delta-style DELETE + UPDATE DML against a committed
    * VersionedTable (three versions: base, post-delete, post-update),
    * read back from the final snapshot — hash-gated against plain SQL
    * on the base table. */
  val tableDml: Q = (spark, dir) =>
    graft.engine.VersionedTable.read(spark, dmlTable(spark, dir))
      .orderBy(col("c_custkey"))

  /** Change data feed ON READ: the row-level changelog between the
    * DML table's base version and its final version
    * ([[graft.engine.VersionedTable.changesBetween]]) — deletes carry
    * the removed row, updates carry pre- and post-images, computed
    * from the immutable snapshots with one key join (no stored CDF
    * files, works on any historical pair). */
  val tableChanges: Q = (spark, dir) =>
    graft.engine.VersionedTable.changesBetween(
      spark, dmlTable(spark, dir), 0L, 2L, Seq("c_custkey"))
      .orderBy(col("c_custkey"), col("_change_type"))

  /** Z-order (Morton) layout key: the native `zorder2` expression
    * (graft.functions.ZOrder) over two bucketed dimensions. The oracle
    * recomputes the interleave arithmetically — bit-exact, so the
    * custom expression itself is under the DuckDB gate, interpreted
    * AND codegen paths. */
  val zorderLayout: Q = (spark, dir) => {
    graft.functions.ZOrder.register(spark)
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("zorder2(l_partkey % 1024, l_suppkey % 1024)").as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
      .limit(200)
  }

  /** Memoized Z-ordered committed table per (session, dir): the write
    * is a one-time layout/maintenance step (a nightly OPTIMIZE in a
    * real lake) — repeat invocations must pay only the pruned READ.
    * This also stops repeated bench/verify runs leaking a
    * fact-table-sized temp directory per invocation. Values are plain
    * path strings (no session reference), so the weakly-held session
    * key stays collectable — unlike the DataFrame-valued caches, no
    * SoftReference indirection is needed here. */
  private val skipTableCache = graft.util.TableMemo.paths()

  private def zorderedTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    skipTableCache.getOrBuild(spark, dir) {
      val table = graft.util.Fs.tempDir("graft_skip")
      val zordered = Tables(spark, dir, "lineitem")
        .withColumn("z", expr("zorder2(l_partkey, l_suppkey)"))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions(col("z"))
        .drop("z")
      graft.engine.VersionedTable.commitWithStats(
        zordered, table, Seq("l_partkey", "l_suppkey"))
      table
    }

  /** End-to-end data skipping: write lineitem Z-ordered on
    * (l_partkey, l_suppkey) with a per-file min/max manifest
    * (VersionedTable.commitWithStats), then answer a 2-D range query
    * through the pruned read path. The oracle is the PLAIN filtered
    * aggregate — file skipping must be invisible in results; the
    * pruning itself (files actually skipped) is asserted in
    * VersionedTableSpec. At 100 TB this layout+manifest pair is what
    * turns a full-table scan into a few-file read for selective 2-D
    * predicates, on either dimension. The Z-ordered write is memoized
    * per (session, dir) — Bench times a second invocation separately
    * to report the read-path-only cost. */
  val dataSkipping: Q = (spark, dir) => {
    graft.functions.ZOrder.register(spark)
    val (pruned, _, _) = graft.engine.VersionedTable.readPruned(
      spark, zorderedTable(spark, dir),
      Map("l_partkey" -> ((100L, 150L)), "l_suppkey" -> ((10L, 40L))))
    pruned
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 4).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Skyline / Pareto frontier ("Integration of Skyline Queries into
    * Spark SQL", EDBT 2023 — the operator class, not its
    * implementation): lineitem rows not DOMINATED in (minimize
    * l_extendedprice, maximize l_quantity) — no other row is at most
    * as expensive AND at least as large with one strict.
    *
    * The naive form is an O(n^2) dominance self-join (what the
    * NOT-EXISTS SQL says); in 2-D it collapses to a SWEEP: reduce to
    * (price -> max quantity), take the running max over strictly
    * cheaper prices, and a row survives iff it carries its price's
    * max quantity and beats every cheaper price's best. The running
    * max rides the same range-bucketed prefix machinery as the
    * distributed percentile (per-bucket window + prefix over the
    * buckets-sized maxima frame) — no single-partition sort, no pair
    * join, two reductions and a join-back at any scale. Ties: equal
    * (price, quantity) rows never dominate each other, so ALL of
    * them survive together (the spec plants this). */
  val skyline: Q = (spark, dir) => {
    Windows.requireSplitProbeConsistency(spark)
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("p"), col("l_quantity").as("q"))
    // in-plan split probe (Windows.approxSplitsAgg): probe + both plan
    // consumers ride one action, the (p -> qmax) reduction's exchange
    // is shared via ReusedExchange — no checkpoint, no driver sketch
    val pa = li.groupBy(col("p")).agg(max(col("q")).as("qmax"))
    val probe = pa.agg(Windows.approxSplitsAgg(col("p"), 32).as("__splits"))
    val bucketed = pa.crossJoin(broadcast(probe))
      .withColumn("__b", Windows.rangeBucketOfArr(col("p"), col("__splits")))
      .drop("__splits")
    val wIn = Window.partitionBy(col("__b")).orderBy(col("p"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bucketed.groupBy(col("__b")).agg(max(col("qmax")).as("__m"))
      .withColumn("__off",
        max(col("__m")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__b"), col("__off"))
    val sweep = bucketed
      .withColumn("__in", max(col("qmax")).over(wIn))
      .join(broadcast(offs), Seq("__b"))
      // greatest() skips nulls (first row of first bucket has neither)
      .withColumn("bestPrev", greatest(col("__in"), col("__off")))
      .select(col("p"), col("qmax"), col("bestPrev"))
    li.join(sweep, Seq("p"))
      .filter(col("q") === col("qmax") &&
        (col("bestPrev").isNull || col("q") > col("bestPrev")))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("p").as("l_extendedprice"), col("q").as("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_quantity"))
  }

  /** Ordered funnel analysis (view -> click -> purchase): per step,
    * how many users completed the funnel IN ORDER — the product-
    * analytics primitive sessionization feeds. "In order" is the
    * total (ts, event_id) order, so tie timestamps resolve
    * identically on both engines.
    *
    * Shape: two chained running-max flags over ONE user-keyed window
    * spec — `prior_view` (a view strictly before this row) and
    * `prior_qclick` (a click that itself had a prior view) — then a
    * per-user flag aggregate and a 3-row unpivot. Identical
    * partitioning/order means Catalyst computes both Window operators
    * on one exchange + one sort; per-user state is two ints, never a
    * collected event array, and no group is larger than one user's
    * history. */
  /** The chained prior-step flags both funnel faces read: for each
    * event row, whether a view (resp. a view-qualified click)
    * occurred STRICTLY BEFORE it in the (ts, event_id) total order.
    * One exchange + one sort computes both Window operators. */
  private def funnelFlags(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prior_view", coalesce(
        max(when(col("event_type") === "view", 1).otherwise(0)).over(w),
        lit(0)))
      .withColumn("prior_qclick", coalesce(
        max(when(col("event_type") === "click" &&
          col("prior_view") === 1, 1).otherwise(0)).over(w),
        lit(0)))
  }

  val funnel: Q = (spark, dir) => {
    val flagged = funnelFlags(spark, dir)
    val perUser = flagged.groupBy(col("user_id")).agg(
      max(when(col("event_type") === "view", 1).otherwise(0)).as("f1"),
      max(when(col("event_type") === "click" &&
        col("prior_view") === 1, 1).otherwise(0)).as("f2"),
      max(when(col("event_type") === "purchase" &&
        col("prior_qclick") === 1, 1).otherwise(0)).as("f3"))
    val totals = perUser.agg(
      sum(col("f1")).as("n1"), sum(col("f2")).as("n2"),
      sum(col("f3")).as("n3"))
    totals
      .select(explode(array(
        struct(lit(1).as("step"), lit("view").as("funnel"),
          col("n1").cast("long").as("n_users")),
        struct(lit(2).as("step"), lit("view>click").as("funnel"),
          col("n2").cast("long").as("n_users")),
        struct(lit(3).as("step"), lit("view>click>purchase").as("funnel"),
          col("n3").cast("long").as("n_users")))).as("s"),
        col("n1"))
      .select(col("s.step").as("step"), col("s.funnel").as("funnel"),
        col("s.n_users").as("n_users"),
        round(col("s.n_users").cast("double") / col("n1"), 6).as("rate"))
      .orderBy(col("step"))
  }

  /** Cohort retention (the funnel's longitudinal sibling): users
    * bucketed by their FIRST active week, counted per week-offset
    * they return in. Weeks are epoch-day div 7 — calendar-free
    * integer arithmetic both engines compute identically, dodging
    * date_trunc('week') locale/ISO edges.
    *
    * Shape: events reduce to DISTINCT (user, week) (one shuffle,
    * map-side combine), each user's cohort is a min-window over the
    * SAME user key (no second corpus shuffle; groups = one user's
    * weeks), and because (user, week) rows are unique the final
    * (cohort, offset) count is a plain count — no count-distinct
    * state anywhere. */
  val cohortRetention: Q = (spark, dir) => {
    val uw = Tables(spark, dir, "events")
      .select(col("user_id"),
        // FLOOR division, not `div` (truncation toward zero): the
        // DuckDB oracle's `//` floors, and the two diverge on
        // pre-epoch timestamps (negative day counts) — div would
        // round week -1.5 to -1 while the oracle says -2
        expr("CAST(floor(datediff(to_date(ts), DATE'1970-01-01') / 7.0) AS INT)")
          .as("w"))
      .distinct()
    val wu = Window.partitionBy(col("user_id"))
    uw.withColumn("c", min(col("w")).over(wu))
      .groupBy(col("c").as("cohort_week"),
        (col("w") - col("c")).as("week_offset"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Funnel latency: seconds from first view to first IN-ORDER
    * purchase, per converting user, summarized as exact p50/p90/p99
    * via [[Aggs.exactPercentiles]] — the composition the de-
    * concentration work exists for: the funnel flags, the per-user
    * reduction, and the bounded-memory percentile are each the
    * at-scale form, so their composite is too. Deltas are integer
    * MICROSECONDS (unix_micros / epoch_us on both engines) converted
    * to seconds only at the end. */
  val funnelLatency: Q = (spark, dir) => {
    val perUser = funnelFlags(spark, dir).groupBy(col("user_id")).agg(
      min(when(col("event_type") === "view", col("ts"))).as("t0"),
      min(when(col("event_type") === "purchase" &&
        col("prior_qclick") === 1, col("ts"))).as("t1"))
      .filter(col("t1").isNotNull)
    val dt = perUser.select(
      (unix_micros(col("t1")) - unix_micros(col("t0")))
        .cast("double").as("dt_us"))
      .localCheckpoint(true) // count + percentile share one pass
    val n = dt.agg(count(lit(1)).cast("long").as("n_converted"))
    Aggs.exactPercentiles(dt, "dt_us", Seq(0.5, 0.9, 0.99))
      .crossJoin(broadcast(n))
      .select(col("n_converted"),
        round(col("p0") / 1e6, 6).as("p50_s"),
        round(col("p1") / 1e6, 6).as("p90_s"),
        round(col("p2") / 1e6, 6).as("p99_s"))
  }

  val queries: Map[String, Q] = Map(
    "q_skyline" -> skyline,
    "q_funnel" -> funnel,
    "q_funnel_latency" -> funnelLatency,
    "q_cohort_retention" -> cohortRetention,
    "q_merge_upsert" -> mergeUpsert,
    "q_merge_matrix" -> mergeMatrix,
    "q_merge_sync" -> mergeSync,
    "q_table_dml" -> tableDml,
    "q_table_changes" -> tableChanges,
    "q_join_asof" -> joinAsof,
    "q_agg_salted" -> aggSalted,
    "q_stream_session" -> streamSession,
    "q_pivot" -> pivot,
    "q_unpivot" -> unpivotLong,
    "q_explode_tokens" -> explodeTokens,
    "q_bucketed_join" -> bucketedJoin,
    "q_zorder_layout" -> zorderLayout,
    "q_data_skipping" -> dataSkipping)

  val oracle: Map[String, String] = Map(
    "q_cohort_retention" ->
      """WITH uw AS (
           SELECT DISTINCT user_id,
                  CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7
                       AS INT) AS w
           FROM events),
         f AS (SELECT user_id, min(w) AS c FROM uw GROUP BY 1)
         SELECT c AS cohort_week, w - c AS week_offset,
                CAST(count(*) AS BIGINT) AS n_users
         FROM uw JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_funnel_latency" ->
      """WITH w1 AS (
           SELECT user_id, ts, event_id, event_type,
                  coalesce(max(CASE WHEN event_type = 'view'
                               THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS prior_view
           FROM events),
         w2 AS (
           SELECT *,
                  coalesce(max(CASE WHEN event_type = 'click'
                               AND prior_view = 1 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS prior_qclick
           FROM w1),
         pu AS (
           SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
                  min(CASE WHEN event_type = 'purchase'
                      AND prior_qclick = 1 THEN ts END) AS t1
           FROM w2 GROUP BY 1),
         c AS (
           SELECT CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE) AS dt_us
           FROM pu WHERE t1 IS NOT NULL)
         SELECT CAST(count(*) AS BIGINT) AS n_converted,
                round(quantile_cont(dt_us, 0.5) / 1e6, 6) AS p50_s,
                round(quantile_cont(dt_us, 0.9) / 1e6, 6) AS p90_s,
                round(quantile_cont(dt_us, 0.99) / 1e6, 6) AS p99_s
         FROM c""",
    "q_funnel" ->
      """WITH w1 AS (
           SELECT user_id, ts, event_id, event_type,
                  coalesce(max(CASE WHEN event_type = 'view'
                               THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS prior_view
           FROM events),
         w2 AS (
           SELECT *,
                  coalesce(max(CASE WHEN event_type = 'click'
                               AND prior_view = 1 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS prior_qclick
           FROM w1),
         pu AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'view'
                      THEN 1 ELSE 0 END) AS f1,
                  max(CASE WHEN event_type = 'click' AND prior_view = 1
                      THEN 1 ELSE 0 END) AS f2,
                  max(CASE WHEN event_type = 'purchase'
                      AND prior_qclick = 1 THEN 1 ELSE 0 END) AS f3
           FROM w2 GROUP BY 1),
         t AS (SELECT sum(f1) AS n1, sum(f2) AS n2, sum(f3) AS n3
               FROM pu)
         SELECT CAST(1 AS INT) AS step, 'view' AS funnel,
                CAST(n1 AS BIGINT) AS n_users,
                round(CAST(n1 AS DOUBLE) / n1, 6) AS rate FROM t
         UNION ALL
         SELECT CAST(2 AS INT), 'view>click', CAST(n2 AS BIGINT),
                round(CAST(n2 AS DOUBLE) / n1, 6) FROM t
         UNION ALL
         SELECT CAST(3 AS INT), 'view>click>purchase',
                CAST(n3 AS BIGINT),
                round(CAST(n3 AS DOUBLE) / n1, 6) FROM t
         ORDER BY step""",
    // the sweep construction, not NOT-EXISTS: the dominance self-join
    // is quadratic and would never finish in the oracle engine either
    "q_skyline" ->
      """WITH pa AS (
           SELECT l_extendedprice AS p, max(l_quantity) AS qmax
           FROM lineitem GROUP BY 1),
         sw AS (
           SELECT p, qmax,
                  max(qmax) OVER (ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS bestPrev
           FROM pa)
         SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
                l.l_quantity
         FROM lineitem l JOIN sw ON l.l_extendedprice = sw.p
         WHERE l.l_quantity = sw.qmax
           AND (sw.bestPrev IS NULL OR l.l_quantity > sw.bestPrev)
         ORDER BY 1, 2, 3, 4""",
    "q_merge_upsert" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_mktsegment FROM customer),
         updates AS (
           SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment
           FROM base WHERE c_custkey % 10 = 0
           UNION ALL
           SELECT c_custkey + greatest(
                    (SELECT max(c_custkey) + 1 FROM base), 1000000)
                    AS c_custkey,
                  'NEW-' || c_name AS c_name,
                  'INSERTED' AS c_mktsegment
           FROM base WHERE c_custkey % 100 = 0)
         SELECT * FROM updates
         UNION ALL
         SELECT * FROM base
         WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
         ORDER BY c_custkey""",
    "q_merge_matrix" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_mktsegment FROM customer),
         src AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 20 = 0 THEN 'del'
                       WHEN c_custkey % 30 = 0 THEN 'noop'
                       ELSE 'upd' END AS op,
                  c_name AS name, 'UPDATED' AS seg
           FROM base WHERE c_custkey % 10 = 0
           UNION ALL
           SELECT c_custkey + greatest(
                    (SELECT max(c_custkey) + 1 FROM base), 1000000),
                  CASE WHEN c_custkey % 200 = 0 THEN 'del'
                       ELSE 'ins' END AS op,
                  'NEW-' || c_name AS name, 'INSERTED' AS seg
           FROM base WHERE c_custkey % 100 = 0),
         updated AS (
           SELECT b.c_custkey, b.c_name, s.seg AS c_mktsegment
           FROM base b JOIN src s USING (c_custkey)
           WHERE s.op = 'upd'),
         carried AS (
           SELECT b.* FROM base b LEFT JOIN src s USING (c_custkey)
           WHERE s.op IS NULL OR s.op = 'noop'),
         inserted AS (
           SELECT s.c_custkey, s.name AS c_name, s.seg AS c_mktsegment
           FROM src s
           WHERE s.op <> 'del'
             AND NOT EXISTS (SELECT 1 FROM base b
                             WHERE b.c_custkey = s.c_custkey))
         SELECT * FROM updated
         UNION ALL SELECT * FROM carried
         UNION ALL SELECT * FROM inserted
         ORDER BY c_custkey""",
    "q_merge_sync" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_mktsegment FROM customer),
         src AS (SELECT c_custkey FROM base WHERE c_custkey % 3 = 0)
         SELECT b.c_custkey, b.c_name,
                CASE WHEN s.c_custkey IS NOT NULL THEN 'SYNCED'
                     ELSE 'STALE' END AS c_mktsegment
         FROM base b LEFT JOIN src s USING (c_custkey)
         WHERE s.c_custkey IS NOT NULL OR b.c_custkey % 2 <> 0
         ORDER BY c_custkey""",
    "q_table_dml" ->
      """SELECT c_custkey, c_name,
                CASE WHEN c_custkey % 5 = 0 THEN 'UPDATED'
                     ELSE c_mktsegment END AS c_mktsegment
         FROM customer WHERE c_custkey % 7 <> 0
         ORDER BY c_custkey""",
    "q_table_changes" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_mktsegment FROM customer)
         SELECT c_custkey, c_name, c_mktsegment,
                'delete' AS _change_type
         FROM base WHERE c_custkey % 7 = 0
         UNION ALL
         SELECT c_custkey, c_name, c_mktsegment, 'update_preimage'
         FROM base WHERE c_custkey % 7 <> 0 AND c_custkey % 5 = 0
         UNION ALL
         SELECT c_custkey, c_name, 'UPDATED', 'update_postimage'
         FROM base WHERE c_custkey % 7 <> 0 AND c_custkey % 5 = 0
         ORDER BY c_custkey, _change_type""",
    "q_join_asof" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, 0 AS kind, event_id AS click_id
           FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, ts, event_id, 1 AS kind, CAST(NULL AS BIGINT) AS click_id
           FROM events WHERE event_type = 'purchase'),
         m AS (
           SELECT *, last_value(click_id IGNORE NULLS) OVER (
                    PARTITION BY user_id ORDER BY ts, kind, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS last_click
           FROM u)
         SELECT event_id, user_id, ts, last_click AS click_id
         FROM m WHERE kind = 1 ORDER BY event_id""",
    "q_agg_salted" ->
      """SELECT user_id, count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_stream_session" ->
      """WITH g AS (
           SELECT user_id, ts, event_id,
                  coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id), 0) AS gap_us
           FROM events),
         s AS (
           SELECT user_id,
                  sum(CASE WHEN gap_us > 1800 * 1000000 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS sid
           FROM g)
         SELECT user_id, count(DISTINCT sid) AS n_sessions,
                count(*) AS n_events
         FROM s GROUP BY user_id ORDER BY user_id""",
    "q_pivot" ->
      """SELECT CAST(hour(ts) AS INT) AS hr,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         FROM events GROUP BY hour(ts) ORDER BY hr""",
    "q_unpivot" ->
      """SELECT CAST(hour(ts) AS INT) AS hr, event_type,
                count(*) AS cnt
         FROM events GROUP BY hour(ts), event_type
         ORDER BY hr, event_type""",
    "q_explode_tokens" ->
      """SELECT tok, count(*) AS cnt FROM (
           SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""",
    "q_bucketed_join" ->
      """SELECT count(*) AS cnt,
                round(CAST(sum(CAST(round(l_extendedprice * 10000)
                                  + round(o_totalprice * 10000) AS BIGINT))
                      AS DOUBLE) / 10000, 2) AS total
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    // bit-exact arithmetic recomputation of the Morton interleave
    "q_zorder_layout" ->
      """WITH base AS (
           SELECT l_orderkey, l_linenumber,
                  l_partkey % 1024 AS x, l_suppkey % 1024 AS y
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                CAST(list_sum(list_transform(generate_series(0, 9), i ->
                  ((x >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i)) +
                  ((y >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))))
                  AS BIGINT) AS z
         FROM base
         ORDER BY z, l_orderkey, l_linenumber LIMIT 200""",
    // the oracle is the PLAIN filtered aggregate: file skipping must be
    // invisible in results
    "q_data_skipping" ->
      """SELECT l_returnflag, count(*) AS cnt,
                round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem
         WHERE l_partkey BETWEEN 100 AND 150
           AND l_suppkey BETWEEN 10 AND 40
         GROUP BY l_returnflag ORDER BY l_returnflag""")
}
