package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

import graft.engine.{Metrics, Tables}
import graft.ops.Q

/** The scale claim as a counter check. Each declared heavy plan is
  * built and drained cold at two data sizes 10x apart, and three
  * counters from `engine/Metrics.measure` must hold from x1 to x10:
  *  - jobs are EQUAL: the plan shape does not depend on the data size,
  *    unless the plan names the dispatch bound or data-dependent loop
  *    that switched, with a fixed allowance;
  *  - shuffle-write bytes grow at most 15x (10x with 1.5 slack): more
  *    is the hidden quadratic;
  *  - result bytes sent to the driver grow at most 4x: sqrt(n)-sized
  *    centroid collects pass, a `collect` that grows with the rows
  *    fails (the planted witness below proves the check can fail).
  *
  * Sizes: x1 is sf0.001. The x10 side is one directory built once per
  * suite: sf0.01's TPC-H and events tables (exactly 10x sf0.001) plus
  * `documents` and `embeddings` inflated x10 from sf0.001 by
  * [[graft.tools.Inflate]], because sf0.01 holds the same 500 rows of
  * each as sf0.001. Inflate's per-copy construction keeps the
  * duplicate rate constant and perturbs the embeddings, so the pair
  * counts grow linearly, as in a real corpus. */
class ScaleContractSpec extends SparkTestBase with BeforeAndAfterAll {
  import ScaleContractSpec._

  private lazy val x10Dir: String = {
    val dst = Files.createTempDirectory("graft_scale_x10")
    val mid = Paths.get(sfSmoke).resolveSibling("sf0.01")
    Seq("customer", "lineitem", "nation", "orders", "part", "region",
      "supplier", "events").foreach { t =>
      val src = mid.resolve(s"$t.parquet")
      Files.walk(src).forEach((p: Path) =>
        Files.copy(p, dst.resolve(s"$t.parquet").resolve(src.relativize(p))))
    }
    graft.tools.Inflate.documentsOnly(spark, sfSmoke, dst.toString, 10)
    graft.tools.Inflate.embeddingsOnly(spark, sfSmoke, dst.toString, 10)
    dst.toString
  }

  override def afterAll(): Unit = {
    // the memos built over x10Dir hold temp tables of their own
    graft.util.TableMemo.invalidateAll()
    graft.util.Fs.deleteRecursively(x10Dir)
    super.afterAll()
  }

  /** One cold build-and-drain: every session memo, cached plan and
    * persisted RDD is dropped first, so a memo warmed by an earlier
    * suite cannot turn one side into a warm serve. Size-based broadcast
    * joins are off while it runs: at 100 TB no corpus-sized side fits
    * the threshold, so this measures the shuffle joins that scale runs,
    * and a broadcast the engine forces by hint still counts as result
    * bytes. */
  private def counters(q: Q, dir: String): Counters = {
    graft.util.TableMemo.invalidateAll()
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val (_, m) =
      try Metrics.measure(spark)(graft.util.Exec.drain(q(spark, dir)))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    Counters(m.jobs, m.shuffleWriteBytes, m.resultBytes)
  }

  private def check(plan: Plan, q: Q): Seq[String] = {
    val (x1, x10) = (counters(q, sfSmoke), counters(q, x10Dir))
    info(s"${plan.name}: x1 $x1, x10 $x10")
    violations(plan, x1, x10)
  }

  plans.foreach { plan =>
    test(s"${plan.name} holds its job, shuffle and result-byte bounds " +
        "at x10") {
      val v = check(plan, SparkEntry.queries(plan.name))
      assert(v.isEmpty, v.mkString("\n"))
    }
  }

  test("a planted driver collect of the documents rows is reported") {
    // the engine's anti-pattern, planted test-side: pull rows to the
    // driver and build the next frame from them
    val planted: Q = (spark, dir) => {
      import spark.implicits._
      Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .collect().toSeq.toDF("doc_id", "text")
    }
    val v = check(Plan("planted_collect"), planted)
    assert(v.size == 1 && v.head.contains("result bytes"), v.mkString("\n"))
  }
}

object ScaleContractSpec {

  final case class Counters(jobs: Int, shuffleBytes: Long, resultBytes: Long)

  /** A declared plan with its x10/x1 bounds. A bound other than the
    * default must say in `why` which dispatch bound, data-dependent
    * loop or output growth moves the counter, with both measured
    * readings in a comment beside the plan. `jobs` is the allowed
    * difference in job count; `shuffle` and `result` are ratios. */
  final case class Plan(name: String, jobs: Int = 0, shuffle: Double = 15,
      result: Double = 4, why: String = "") {
    require((jobs == 0 && shuffle == 15 && result == 4) || why.nonEmpty,
      s"$name: a widened bound must name what moves the counter")
  }

  val plans: Seq[Plan] = Seq(
    // the in-plan split-probe family
    Plan("q_window_cume"),
    Plan("q_agg_percentile"),
    // the substring islands build
    Plan("q_llm_dedup_substr"),
    Plan("q_llm_dedup_minhash_native"),
    Plan("q_entity_resolve"),
    // shuffle 108,675 -> 1,757,682 B (16.2x)
    Plan("q_join_editdist", shuffle = 23, why = "output growth: the " +
      "fixture's sequential names (Customer#%09d) put 1,275 pairs " +
      "within edit distance 1 at 150 names and 19,500 at 1,500 " +
      "(15.3x, DuckDB); the bound is 1.5x that output growth"),
    // the ANN index build; result 332,765 -> 2,801,241 B (8.4x)
    Plan("q_llm_ann_index", result = 15, why = "CoarseAssign.minK: " +
      "below k = 192 (fewer than 192^2 vectors) fitIvfCellsOn collects " +
      "the whole fit set for driver-side Lloyd, linear in the rows up " +
      "to that cap; at and above it the fit is distributed"),
    // jobs 5 -> 5, shuffle 4,554 -> 14,834 B (3.3x), result 29,153 ->
    // 49,411 B (1.7x): below the vocabulary bound the rounds run on
    // the driver, so the round count (10 at x1, 16 at x10) adds no job
    Plan("q_llm_bpe_train_batched"))

  /** The three rules, as one message per broken rule. */
  def violations(plan: Plan, x1: Counters, x10: Counters): Seq[String] = Seq(
    (math.abs(x10.jobs - x1.jobs) > plan.jobs) ->
      s"jobs ${x1.jobs} -> ${x10.jobs} (allowance ${plan.jobs})",
    (x10.shuffleBytes > plan.shuffle * x1.shuffleBytes) ->
      s"shuffle bytes ${x1.shuffleBytes} -> ${x10.shuffleBytes} (> ${plan.shuffle}x)",
    (x10.resultBytes > plan.result * x1.resultBytes) ->
      s"result bytes ${x1.resultBytes} -> ${x10.resultBytes} (> ${plan.result}x)")
    .collect { case (true, msg) => s"${plan.name}: $msg" }
}
