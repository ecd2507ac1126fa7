package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class MetricsSpec extends SparkTestBase {
  import spark.implicits._

  test("measure captures input, shuffle, and task counters for a real join") {
    val ((rows, plainShuffle), m) = Metrics.measure(spark) {
      val orders = Tables(spark, sfSmoke, "orders")
      val customer = Tables(spark, sfSmoke, "customer")
      // a NON-broadcast join so both sides genuinely shuffle
      val joined = orders.hint("shuffle_hash")
        .join(customer.hint("shuffle_hash"),
          orders("o_custkey") === customer("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val n = joined.count()
      val (_, inner) = Metrics.measure(spark)(
        Tables(spark, sfSmoke, "orders").count())
      (n, inner.shuffleReadBytes)
    }
    assert(rows > 0)
    assert(m.tasks > 0, "tasks must be attributed to the window")
    assert(m.inputBytes > 0 && m.inputRecords > 0,
      "parquet scan bytes/records must land in inputMetrics")
    assert(m.shuffleReadBytes > 0 && m.shuffleWriteBytes > 0,
      "a shuffle-hash join must record shuffle traffic on both ends")
    assert(m.maxTaskMs >= m.p50TaskMs && m.taskSpread >= 1.0)
    assert(m.wallMs > 0)
    // the shuffled join moves more shuffle bytes than a bare count's
    // single-row partials — the counter discriminates plan shapes
    assert(m.shuffleReadBytes > plainShuffle)
  }

  test("a map-side-only action records no spill at smoke scale") {
    val (n, m) = Metrics.measure(spark) {
      Tables(spark, sfSmoke, "lineitem")
        .filter(col("l_quantity") > 25).count()
    }
    assert(n > 0 && m.tasks > 0)
    assert(!m.spilled,
      s"sf0.001 filter+count must not spill, got ${m.pretty}")
  }

  test("nested measurement windows do not corrupt each other") {
    val ((innerN, innerM), outerM) = Metrics.measure(spark) {
      Metrics.measure(spark)(Seq(1, 2, 3).toDF("x").count())
    }
    assert(innerN == 3L)
    // outer window saw at least the inner window's tasks
    assert(outerM.tasks >= innerM.tasks && innerM.tasks > 0)
  }

  test("a collect is one job, and its result bytes grow with the rows") {
    val (_, small) = Metrics.measure(spark)(spark.range(10000).collect())
    val (_, big) = Metrics.measure(spark)(spark.range(100000).collect())
    assert(small.jobs == 1 && big.jobs == 1, s"${small.pretty} / ${big.pretty}")
    assert(big.resultBytes > 5 * small.resultBytes,
      s"result bytes ${small.resultBytes} -> ${big.resultBytes}")
    // nested windows: the outer one sees the inner one's jobs and bytes
    val ((_, inner), outer) = Metrics.measure(spark) {
      Metrics.measure(spark)(spark.range(1000).collect())
    }
    assert(inner.jobs == 1 && outer.jobs >= inner.jobs)
    assert(inner.resultBytes > 0 && outer.resultBytes >= inner.resultBytes)
  }

  test("per-trigger stream metrics: batch duration, input rows, and keyed state surface from a stateful query") {
    import graft.streaming.{Pipelines, StreamMetrics}
    val src = java.nio.file.Files.createTempDirectory("graft_smx_src").toString
    val out = java.nio.file.Files.createTempDirectory("graft_smx_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_smx_ck").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:0$m%02d:00")
    def run() = {
      val stream = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id STRING, event_type STRING")
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .as[(Long, java.sql.Timestamp, String, String)]
      val q = Pipelines.funnelStateful(stream)
        .toDF("user_id", "step", "ts")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      StreamMetrics.perTrigger(q)
    }
    Seq((1L, t(0), "A", "view"), (2L, t(1), "A", "click"),
      (3L, t(2), "B", "view"), (4L, t(3), "B", "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$src/b1")
    val m1 = run()
    // the observability contract: every data-carrying trigger reports
    // its duration, its input volume, and the keyed state it holds
    assert(m1.nonEmpty, "a data-carrying run must report progress")
    assert(m1.map(_.inputRows).sum == 4,
      s"input rows must total the planted batch: ${StreamMetrics.pretty(m1)}")
    assert(m1.forall(_.durationMs > 0),
      s"batch duration must be recorded: ${StreamMetrics.pretty(m1)}")
    assert(m1.map(_.stateRows).max == 2,
      s"one state row per active user (A, B): ${StreamMetrics.pretty(m1)}")
    assert(m1.map(_.stateUpdated).sum >= 2,
      s"both keys were touched this run: ${StreamMetrics.pretty(m1)}")
    // second run: state must be CARRIED (restart from checkpoint), so
    // the metric shows 3 held keys while only C's row arrives as input
    Seq((5L, t(4), "C", "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .write.parquet(s"$src/b2")
    val m2 = run()
    assert(m2.map(_.inputRows).sum == 1,
      s"only the new file may count as input: ${StreamMetrics.pretty(m2)}")
    assert(m2.map(_.stateRows).max == 3,
      s"state rows must carry across restarts and grow with new keys: " +
        StreamMetrics.pretty(m2))
    Seq(src, out, ckpt).foreach(graft.util.Fs.deleteRecursively)
  }
}
