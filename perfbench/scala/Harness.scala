package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.VersionedTable
import graft.streaming.Pipelines
import graft.util.Exec

/** The benchmark's JVM side: one SparkSession, one workload, a
  * closed loop of one client. Warm-up units run first (they are part
  * of set-up), then units repeat until the measured window closes.
  * Writes every unit's timing and counters as JSON for `run.py`.
  *
  *   Harness --mode run --workload <ingest|curation> --seed N
  *           --seconds S --trace 0|1 --cpus C --work DIR --out FILE
  *   Harness --mode gen --seed N --cpus C --work DIR
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val seed = a("seed").toLong
    val traced = a.getOrElse("trace", "0") == "1"
    val spark = session(a("cpus").toInt, work, traced)
    try a("mode") match {
      case "gen" => generate(spark, seed, work)
      case "run" => run(spark, a("workload"), seed, a("seconds").toDouble,
        traced, work, a("out"))
    } finally spark.stop()
  }

  def session(cpus: Int, work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) {
      spark.sparkContext.addSparkListener(Trace.JobListener)
      spark.listenerManager.register(Trace.QueryListener)
    }
    spark
  }

  /** Inputs a seed produces, for the byte-identity check. */
  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val fleet = new Gen.Fleet(seed)
    Gen.writeParquet(spark, fleet.dimRows, Gen.DimSchema, s"$dir/aircraft.parquet")
    for (k <- 0 until 3)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/batch_$k.jsonl"),
        Gen.batch(fleet, seed, k)._1.toSeq.asJava)
    val corpus = new Gen.Corpus(seed)
    for (p <- 0 until 2) Gen.shard(spark, corpus, seed, p, s"$dir/shard_$p")
  }

  // ------------------------------------------------------------ workloads

  /** One homogeneous, repeatable unit of work plus its input prep and
    * its output check. `unit` is the only timed call. */
  trait Workload {
    def warmup: Int
    /** Units in one cycle of the workload's unit mix. The measured
      * loop runs whole cycles, and a traced run traces every other
      * cycle, so traced and untraced units do the same mix of work. */
    def cycle: Int
    def setup(): Unit
    /** Untimed: write unit i's inputs; returns their row counts. */
    def prepare(i: Int): Map[String, Long]
    def unit(i: Int): Unit
    /** noop-sink drains unit i runs: a traced run waits for their
      * listener events before it reads a traced unit's counters and
      * before it switches tracing on */
    def drains(i: Int): Int
    /** Untimed: after a successful unit (ingest folds the batch into
      * its expected table here). */
    def committed(i: Int): Unit = ()
    /** Levels the traced run samples after each unit. */
    def levels(): Map[String, Double] = Map.empty
    /** Output checks after the measured window; `ok` = None when the
      * check is completed by run.py (oracle compare). */
    def check(): (Option[Boolean], String)
  }

  final class Ingest(spark: SparkSession, seed: Long, work: String) extends Workload {
    /** retention (expire + vacuum) runs inside the last unit of every
      * cycle */
    val retentionEvery = 3
    val cycle = retentionEvery
    val warmup = 2 * retentionEvery
    val keepVersions = 3
    private val dir = s"$work/ingest"
    private val serving = s"$dir/serving"
    private val dimPath = s"$dir/aircraft.parquet"
    private lazy val fleet = new Gen.Fleet(seed)
    private val expected = mutable.HashMap.empty[String, Gen.State]
    private var pending: Seq[Gen.State] = Nil

    def setup(): Unit = {
      new java.io.File(dir).mkdirs()
      Gen.writeParquet(spark, fleet.dimRows, Gen.DimSchema, dimPath)
    }

    private def batchPath(i: Int) = s"$dir/batch_$i.jsonl"

    def prepare(i: Int): Map[String, Long] = {
      new java.io.File(batchPath(i - 1)).delete()
      val (lines, states) = Gen.batch(fleet, seed, i)
      java.nio.file.Files.write(java.nio.file.Paths.get(batchPath(i)), lines.toSeq.asJava)
      pending = states
      Map("state_vectors" -> lines.length.toLong)
    }

    def drains(i: Int): Int = 1

    def unit(i: Int): Unit = {
      val batch = Trace.span("streaming.prepare") {
        Metrics.noteAnalysis(Pipelines.enrich(
          Pipelines.normalize(Pipelines.parseStates(spark.read.text(batchPath(i)))),
          spark.read.parquet(dimPath)))
      }
      Trace.span("streaming.refresh") {
        Pipelines.refreshBatch(batch, i.toLong, "icao24", serving, "perfbench")
      }
      Trace.span("engine.read") {
        val positions = VersionedTable.read(spark, serving)
          .filter(col("latitude").isNotNull)
          .groupBy(col("origin_country"))
          .agg(count(lit(1)).as("aircraft"), avg(col("baro_altitude_m")).as("alt"),
            max(col("last_contact")).as("latest"))
        Trace.span("exec.drain")(Exec.drain(positions))
      }
      if ((i + 1) % retentionEvery == 0) Trace.span("engine.maint") {
        VersionedTable.expireVersions(spark, serving, keepVersions)
        VersionedTable.vacuumStaged(spark, serving)
      }
    }

    override def committed(i: Int): Unit = pending.foreach(s => expected(s.icao24) = s)

    override def levels(): Map[String, Double] = {
      val (tableBytes, _) = Trace.treeBytes(new java.io.File(serving))
      val entries = Option(new java.io.File(serving).list()).map(_.length).getOrElse(0)
      val (commitBytes, commitFiles) = VersionedTable.currentVersion(spark, serving)
        .map(v => Trace.treeBytes(new java.io.File(s"$serving/v$v")))
        .getOrElse((0L, 0L))
      Map("engine.table_bytes" -> tableBytes.toDouble,
        "engine.dir_entries" -> entries.toDouble,
        "engine.commit_bytes" -> commitBytes.toDouble,
        "engine.commit_files" -> commitFiles.toDouble)
    }

    /** The serving table must equal the generator's latest state per
      * icao24, column by column. */
    def check(): (Option[Boolean], String) = {
      val got = VersionedTable.read(spark, serving).collect()
      val bad = mutable.ArrayBuffer.empty[String]
      val seen = mutable.HashSet.empty[String]
      got.foreach { r =>
        val k = r.getAs[String]("icao24")
        if (!seen.add(k)) bad += s"duplicate key $k"
        expected.get(k) match {
          case None => bad += s"unexpected key $k"
          case Some(e) =>
            val want = Seq[Any](e.icao24, e.callsign, e.country, e.timePosition,
              e.lastContact, e.lon, e.lat, e.baro, e.onGround, e.velocity, e.track,
              e.vrate, e.geo, e.squawk, e.spi, e.posSource, e.category, e.model,
              e.operator, e.maker, e.catDesc)
            val cols = Seq("icao24", "callsign", "origin_country", "time_position",
              "last_contact", "longitude", "latitude", "baro_altitude_m", "on_ground",
              "velocity_ms", "true_track", "vertical_rate_ms", "geo_altitude_m",
              "squawk", "spi", "position_source", "category", "model", "operator",
              "manufacturerName", "categoryDescription")
            cols.zip(want).foreach { case (c, w) =>
              val g = r.getAs[Any](c)
              if (g != w) bad += s"$k.$c: got $g want $w"
            }
        }
      }
      if (seen.size != expected.size)
        bad += s"rows ${seen.size} != expected keys ${expected.size}"
      (Some(bad.isEmpty), if (bad.isEmpty) s"serving table = latest state of ${expected.size} aircraft"
        else s"${bad.size} mismatches; first: ${bad.take(3).mkString("; ")}")
    }
  }

  final class Curation(spark: SparkSession, seed: Long, work: String) extends Workload {
    /** The pass, in the order a curation job runs it. */
    val rows = Seq("q_llm_prep_e2e", "q_llm_dedup_minhash_native",
      "q_llm_dedup_substr_rm", "q_llm_ann_pq_index", "q_llm_bpe_apply",
      "q_entity_resolve")
    /** rows whose repeat over one shard must reproduce the first result */
    val repeatable = Set("q_llm_ann_pq_index", "q_llm_bpe_apply")
    /** Warm-up pass 0 writes every result of shard 0; warm-up pass 1
      * repeats shard 0 from scratch (memos dropped) and writes the
      * repeatable rows again. Measured passes each get a fresh shard. */
    val warmup = 2
    val cycle = 1
    private lazy val corpus = new Gen.Corpus(seed)
    private var sizes = Map.empty[String, Long]
    private def shardDir(i: Int) = s"$work/curation/shard_${if (i == 1) 0 else i}"
    private def out(tag: String, name: String) = s"$work/out/$tag/$name"

    /** generates the collection now, inside set-up */
    def setup(): Unit = corpus.texts.length

    def prepare(i: Int): Map[String, Long] = {
      if (i == 1) {
        // drop every memo the rows keep, so the repeat does the full
        // work of a fresh shard
        graft.ops.Llm.invalidateAnnIndexCache()
        graft.ops.Llm.invalidatePqCache()
        graft.ops.Llm.invalidateBpeTableCache()
        graft.ops.Llm.invalidateIslandsCache()
        graft.ops.Llm.invalidateCellCache()
        graft.ops.Llm.invalidateClusterLabelCache()
        graft.ops.Llm.invalidateSnapshotSigCache()
        graft.ops.StreamingOps.invalidateCanonCache()
      } else sizes = Gen.shard(spark, corpus, seed, i, shardDir(i))
      sizes
    }

    def drains(i: Int): Int =
      if (i == 0) 0 else if (i == 1) rows.count(!repeatable(_)) else rows.size

    def unit(i: Int): Unit = rows.foreach { name =>
      val df = Metrics.noteAnalysis(
        Trace.span("ops.build")(SparkEntry.queries(name)(spark, shardDir(i))))
      Trace.span("exec.drain") {
        if (i == 0) df.coalesce(1).write.mode("overwrite").parquet(out("first", name))
        else if (i == 1 && repeatable(name))
          df.coalesce(1).write.mode("overwrite").parquet(out("repeat", name))
        else Exec.drain(df)
      }
    }

    /** run.py compares shard 0's results with DuckDB (oracle rows) and
      * with their repeat (repeatable rows). */
    def check(): (Option[Boolean], String) = {
      val oracle = rows.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/out/oracle_sql.json"),
        Json(oracle))
      (None, s"shard 0 results in $work/out")
    }
  }

  // ------------------------------------------------------------ counters

  /** Synchronous per-unit counters (the asynchronous ones arrive on
    * the listener bus and are bucketed by time at the end). */
  object Metrics {
    var analysisMs = 0L

    /** A built DataFrame is analyzed eagerly, outside any execution the
      * query listener sees: take its analysis phase from its tracker. */
    def noteAnalysis(df: DataFrame): DataFrame = {
      if (Trace.on) analysisMs += df.queryExecution.tracker.phases
        .get("analysis").map(_.durationMs).getOrElse(0L)
      df
    }

    def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

    def fsBytesWritten(): Long =
      Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
        .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

    private val compile = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME

    def snapshot(tmp: java.io.File): Map[String, Double] = Map(
      "gc_ms" -> gcMs().toDouble,
      "codegen_compiles" -> compile.getCount.toDouble,
      "codegen_mean_ms" -> compile.getSnapshot.getMean,
      "fs.list_ops" -> Trace.listOps.get.toDouble,
      "fs.read_ops" -> Trace.readOps.get.toDouble,
      "fs.write_ops" -> Trace.writeOps.get.toDouble,
      "listing_fallbacks" -> VersionedTable.listingFallbackCount.toDouble,
      "tmp_bytes" -> Trace.treeBytes(tmp)._1.toDouble,
      "analysis_ms" -> analysisMs.toDouble)
  }

  /** Fixed single-threaded CPU work; its time tracks host contention. */
  def sentinel(): Double = {
    val t = System.nanoTime()
    var h = 0L
    var i = 0L
    while (i < 100000000L) { h = h * 6364136223846793005L + i; h ^= h >>> 29; i += 1 }
    if (h == 42L) System.err.println("")
    (System.nanoTime() - t) / 1e9
  }

  // ------------------------------------------------------------ the run

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      traced: Boolean, work: String, outFile: String): Unit = {
    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, seed, work)
      case "curation" => new Curation(spark, seed, work)
    }
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    val sessionReadyMs = System.currentTimeMillis()
    w.setup()
    val inputsReadyMs = System.currentTimeMillis()
    var drainsExpected = 0L

    def one(i: Int, phase: String, cycle: Int, traceIt: Boolean): Unit = {
      val rows = w.prepare(i)
      val before = if (traceIt) Metrics.snapshot(tmp) else Map.empty[String, Double]
      val bytes0 = Metrics.fsBytesWritten()
      Trace.unit = i
      val startMs = Trace.nowMs
      val t0 = System.nanoTime()
      val err = try { Trace.span("unit")(w.unit(i)); None }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] unit $i failed: $e"); Some(e.toString) }
      val lat = (System.nanoTime() - t0) / 1e9
      val endMs = Trace.nowMs
      val bytes = Metrics.fsBytesWritten() - bytes0
      if (err.isEmpty) w.committed(i)
      val rec = mutable.LinkedHashMap[String, Any]("i" -> i, "phase" -> phase,
        "cycle" -> cycle, "ok" -> err.isEmpty, "lat_s" -> lat, "rows" -> rows,
        "bytes_written" -> bytes, "start_ms" -> startMs, "end_ms" -> endMs,
        "traced" -> traceIt)
      err.foreach(e => rec("error") = e)
      if (traced) drainsExpected += w.drains(i)
      if (traceIt) {
        Trace.awaitDrains(drainsExpected)
        rec("post_ms") = Trace.nowMs
        val after = Metrics.snapshot(tmp)
        rec("sync") = after.map { case (k, v) =>
          k -> (if (k == "codegen_mean_ms") v else v - before(k)) }
        rec("levels") = w.levels()
      }
      units += rec.toMap
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var i = 0
    require(w.warmup % w.cycle == 0, "warm-up must end on a cycle boundary")
    while (i < w.warmup) { one(i, "warmup", -1, traceIt = false); i += 1 }
    val firstUnitMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // The window closes on a cycle boundary. A traced run alternates
    // untraced and traced cycles, so drift within the run cancels out
    // of the tracing overhead (the difference between the two).
    // Tracing switches on only once the listener bus has delivered
    // every earlier unit's events.
    var k = 0
    while (elapsed < seconds || k % w.cycle != 0) {
      val traceIt = traced && (k / w.cycle) % 2 == 1
      if (traceIt) { Trace.awaitDrains(drainsExpected); Trace.on = true }
      one(i, "measure", k / w.cycle, traceIt)
      Trace.on = false
      i += 1
      k += 1
    }
    val measuredS = elapsed
    val loopDoneMs = System.currentTimeMillis()
    // the context cleaner releases blocks of collected plans
    // asynchronously: collect, let it run, collect again
    System.gc(); Thread.sleep(500); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val sentinelS = sentinel()
    val (ok, detail) =
      try w.check()
      catch { case e: Throwable => (Some(false), s"check failed: $e") }
    val registry = spark.sessionState.functionRegistry.listFunction().size
    val checkDoneMs = System.currentTimeMillis()

    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "cycle" -> w.cycle,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "inputs_ready_ms" -> inputsReadyMs, "first_unit_ms" -> firstUnitMs,
      "loop_done_ms" -> loopDoneMs, "check_done_ms" -> checkDoneMs,
      "measured_s" -> measuredS, "heap_retained_mb" -> heap / 1048576.0,
      "sentinel_s" -> sentinelS, "registry_size" -> registry,
      "check_ok" -> ok.orNull, "check_detail" -> detail,
      "units" -> units.toSeq,
      "spans" -> Trace.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "unit" -> s.unit, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> Trace.jobStarts.asScala.map(_.longValue).toSeq,
      "tasks" -> Trace.tasks.asScala.map(_.toSeq).toSeq,
      "executions" -> Trace.executions.asScala.map(_.toSeq).toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), Json(result))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
