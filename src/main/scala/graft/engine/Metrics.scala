package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Physical execution metrics for one measured action — the numbers an
  * operator of a 100 TB deployment tunes against. Wall-clock alone
  * cannot distinguish "spilled but finished" from "never pressured",
  * or "uniform tasks" from "one straggler 40x the median"; these
  * counters can, and the probe suites assert on them instead of
  * inferring mechanism from timings.
  *
  * All byte/record counters are SUMS over the tasks that ended inside
  * the measured window; `peakTaskMemory` is the max single-task
  * execution memory; `maxTaskMs`/`p50TaskMs` summarize the task-time
  * distribution (their ratio is the skew spread the salting probes
  * report). `jobs` counts the jobs started inside the window (eager
  * build actions, AQE stage submissions and the final drain alike);
  * `resultBytes` sums every task's serialized result sent back to the
  * driver — a `collect` whose payload grows with the rows shows here.
  */
case class QueryMetrics(
    wallMs: Long,
    tasks: Int,
    inputBytes: Long,
    inputRecords: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    memorySpilledBytes: Long,
    diskSpilledBytes: Long,
    peakTaskMemory: Long,
    maxTaskMs: Long,
    p50TaskMs: Long,
    jobs: Int,
    resultBytes: Long) {

  /** Straggler ratio within the measured window (1.0 = perfectly
    * uniform; the skew-under-fire probe's headline number). */
  def taskSpread: Double =
    if (p50TaskMs <= 0) 1.0 else maxTaskMs.toDouble / p50TaskMs

  def spilled: Boolean = memorySpilledBytes > 0 || diskSpilledBytes > 0

  def pretty: String =
    f"wall=${wallMs / 1000.0}%.1fs jobs=$jobs tasks=$tasks " +
      f"input=${inputBytes / 1048576}%dMB/${inputRecords}%drec " +
      f"shuffleR=${shuffleReadBytes / 1048576}%dMB " +
      f"shuffleW=${shuffleWriteBytes / 1048576}%dMB " +
      f"spill=${memorySpilledBytes / 1048576}%d/${diskSpilledBytes / 1048576}%dMB " +
      f"peakTask=${peakTaskMemory / 1048576}%dMB spread=$taskSpread%.1f " +
      f"result=${resultBytes / 1024}%dKB"
}

/** Measure the physical execution of an action via a scoped
  * `SparkListener` — the same public listener API the History Server
  * consumes, so every counter here exists identically on a real
  * cluster (metrics are aggregated driver-side from per-task
  * `TaskMetrics`, exactly as the UI does).
  *
  * Scale note: the listener keeps ONE long per finished task (its
  * duration) to compute the max/median spread — ~8 bytes/task, i.e.
  * MBs at the million-task scale of a 100 TB job, on the driver that
  * already tracks those tasks. Counters are lock-free adds.
  *
  * Scoping caveat: tasks are attributed by arrival time, not job id —
  * a concurrently running foreign job inside the window would be
  * counted. Measured sections should own the session (probe and spec
  * usage), or accept the blend.
  */
object Metrics {

  private final class Meter extends SparkListener {
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val input = new java.util.concurrent.atomic.AtomicLong()
    val inputRec = new java.util.concurrent.atomic.AtomicLong()
    val shufR = new java.util.concurrent.atomic.AtomicLong()
    val shufW = new java.util.concurrent.atomic.AtomicLong()
    val spillMem = new java.util.concurrent.atomic.AtomicLong()
    val spillDisk = new java.util.concurrent.atomic.AtomicLong()
    val peak = new java.util.concurrent.atomic.AtomicLong()
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val result = new java.util.concurrent.atomic.AtomicLong()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.incrementAndGet()
        input.addAndGet(m.inputMetrics.bytesRead)
        inputRec.addAndGet(m.inputMetrics.recordsRead)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
        result.addAndGet(m.resultSize)
        Option(e.taskInfo).foreach(i => durations.add(i.duration))
      }
  }

  /** Run `body` with a scoped listener attached and return its result
    * plus the physical metrics of everything that executed inside it.
    * The listener bus is asynchronous; after the body returns we wait
    * for the task count to go quiet (two identical reads 100 ms
    * apart, 5 s cap) before detaching — the public-API equivalent of
    * the internal `waitUntilEmpty`. */
  def measure[A](spark: SparkSession)(body: => A): (A, QueryMetrics) = {
    // wait for `m`'s task count to go quiet: two identical reads 100 ms
    // apart, with an absolute 5 s cap — a foreign job emitting a steady
    // task stream must bound the wait, not extend it forever
    def quiesce(m: Meter): Unit = {
      val t = System.nanoTime()
      var last = -1
      while (m.tasks.get != last && (System.nanoTime() - t) < 5000000000L) {
        last = m.tasks.get
        Thread.sleep(100)
      }
    }
    // Quiesce the async bus BEFORE attaching: task-end events from a
    // previous query still draining on the listener bus are delivered
    // to every listener registered at DISPATCH time, so a meter
    // attached while the backlog drains would absorb the previous
    // query's tasks (back-to-back measure() calls, as Bench runs).
    // The throwaway counter sees exactly the backlog.
    locally {
      val probe = new Meter
      spark.sparkContext.addSparkListener(probe)
      try quiesce(probe)
      finally spark.sparkContext.removeSparkListener(probe)
    }
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val t0 = System.nanoTime()
    try {
      val result = body
      val wallMs = (System.nanoTime() - t0) / 1000000
      quiesce(meter)
      val durs = {
        val it = meter.durations.iterator()
        val b = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (it.hasNext) b += it.next()
        b.sorted
      }
      (result, QueryMetrics(
        wallMs = wallMs,
        tasks = meter.tasks.get,
        inputBytes = meter.input.get,
        inputRecords = meter.inputRec.get,
        shuffleReadBytes = meter.shufR.get,
        shuffleWriteBytes = meter.shufW.get,
        memorySpilledBytes = meter.spillMem.get,
        diskSpilledBytes = meter.spillDisk.get,
        peakTaskMemory = meter.peak.get,
        maxTaskMs = if (durs.isEmpty) 0L else durs.last,
        p50TaskMs = if (durs.isEmpty) 0L else durs(durs.size / 2),
        jobs = meter.jobs.get,
        resultBytes = meter.result.get))
    } finally spark.sparkContext.removeSparkListener(meter)
  }
}
