package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run observes, all from OUTSIDE the engine:
  * spans around calls into its public functions, public Spark
  * listeners, a counting Hadoop FileSystem registered by
  * configuration, and process-wide counters. Nothing here is active
  * unless `Trace.on` is set, so an untraced run pays nothing. */
object Trace {
  @volatile var on = false

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  /** Wall clock in ms with ns resolution, comparable with the ms
    * timestamps Spark puts on its listener events. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  final case class Span(id: Int, name: String, parent: Int, unit: Int,
      startMs: Double, endMs: Double)

  /** Spans stay in memory and are written out when the run ends. */
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var unit = -1

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, unit, nowMs, Double.NaN)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  // ---- Spark listeners (asynchronous: events carry their own times)

  /** (job start ms) */
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  /** (finish ms, executor run ms, task duration ms, shuffle write B,
    * spill B, failed 0/1) */
  val tasks = new ConcurrentLinkedQueue[Array[Long]]()
  /** (start ms, analysis ms, optimization ms, planning ms,
    * CodegenFallback nodes) per finished query execution */
  val executions = new ConcurrentLinkedQueue[Array[Double]]()
  /** noop-sink executions seen, traced or not, to know when a unit's
    * events are in */
  val drainsSeen = new AtomicLong()

  object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) jobStarts.add(e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskInfo != null) {
        val m = Option(e.taskMetrics)
        tasks.add(Array(e.taskInfo.finishTime,
          m.map(_.executorRunTime).getOrElse(0L), e.taskInfo.duration,
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
          m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
          if (e.taskInfo.successful) 0L else 1L))
      }
  }

  object QueryListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      if (on) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        // dated by its first phase, so a late event of an earlier
        // query is not taken for one of the current unit
        val at = ph.values.map(_.startTimeMs.toDouble).minOption.getOrElse(nowMs)
        executions.add(Array(at, ms("analysis"), ms("optimization"),
          ms("planning"), fallbackNodes(qe.executedPlan).toDouble))
      }
      if (isDrain(qe)) drainsSeen.incrementAndGet()
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** `graft.util.Exec.drain` writes to the noop sink. */
  def isDrain(qe: QueryExecution): Boolean = qe.logical match {
    case o: OverwriteByExpression => o.table match {
      case r: DataSourceV2Relation => r.table.name == "noop-table"
      case _ => false
    }
    case _ => false
  }

  /** Interpreted (CodegenFallback) expressions in an executed plan,
    * through adaptive stages and subqueries. */
  def fallbackNodes(p: SparkPlan): Int = {
    val own = p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    own + (kids ++ p.subqueries).map(fallbackNodes).sum
  }

  /** Wait until `n` drains have been delivered (the listener bus is one
    * FIFO queue, so every earlier event of the unit is in by then). */
  def awaitDrains(n: Long): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (drainsSeen.get < n && System.nanoTime() < deadline) Thread.sleep(2)
    if (drainsSeen.get < n)
      System.err.println(s"[perfbench] listener bus late: ${drainsSeen.get}/$n drains")
  }

  // ---- Hadoop FileSystem operation counts

  val listOps = new AtomicLong()
  val readOps = new AtomicLong()
  val writeOps = new AtomicLong()

  // ---- directory walks

  def treeBytes(root: java.io.File): (Long, Long) =
    if (!root.exists()) (0L, 0L)
    else {
      val w = java.nio.file.Files.walk(root.toPath)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + f.toFile.length, n + 1) }
      finally w.close()
    }
}

/** The local FileSystem with operation counts: registered as
  * `fs.file.impl` in traced runs only. Hadoop's own statistics count
  * bytes on the local file system but not list/read/write ops. */
class CountingLocalFs extends LocalFileSystem {
  import Trace.{listOps, on, readOps, writeOps}
  override def listStatus(f: Path): Array[FileStatus] = {
    if (on) listOps.incrementAndGet(); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int) = {
    if (on) readOps.incrementAndGet(); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    if (on) readOps.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (on) writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (on) writeOps.incrementAndGet()
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    if (on) writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (on) writeOps.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    if (on) writeOps.incrementAndGet(); super.mkdirs(f, permission)
  }
}
