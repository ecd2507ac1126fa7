package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** The two-level IVF coarse-assignment structure, flattened to
  * primitive arrays for the per-row kernel: super-centroids
  * row-major in `supFlat`, and per super a contiguous member slice
  * (`memberOff(s)` until `memberOff(s+1)`) of candidate centroids —
  * `memberCell` ascending by cell id within each slice so a strict
  * `<` argmin reproduces MLlib findClosest's first-wins (lowest id)
  * tie rule. Built by graft.engine.CoarseAssign.structureOf. */
private[graft] case class IvfAssignStructure(
    dim: Int,
    supFlat: Array[Double],
    memberOff: Array[Int],
    memberCell: Array[Int],
    memberFlat: Array[Double],
    superProbes: Int)

/** Native two-level IVF cell assignment: per unit vector, argmin over
  * the √k super-centroids, then argmin over that super-cell's
  * registered candidate centroids — O(√k) scorings per vector instead
  * of O(k), in primitive-array arithmetic.
  *
  * Round 14 measured WHY this is an Expression and not a DataFrame
  * plan: a zip_with/aggregate HOF scoring allocates an intermediate
  * array per (vector, centroid) pair, and the two-pass
  * crossJoin+min_by pruned plan read 7.7-10.8 s at x30 where MLlib's
  * primitive-kernel transform-all read 0.25 s — a 10× scoring-count
  * win buried under a ~40× per-scoring interpretation loss
  * (BASELINE.md "Round-14 two-level (coarse-of-coarse) IVF assign +
  * fit", first cut). This expression
  * keeps the √k scoring count AND the primitive kernel: one virtual
  * call per row from inside WholeStageCodegen, a tight double-array
  * loop inside, zero shuffle (the old plan paid a groupBy pass), and
  * the structure rides a Spark BROADCAST — not the task binary — so a
  * 100 TB-scale centroid set (k·dim doubles, tens of MB at k ~ 10⁵)
  * distributes once per executor.
  */
case class IvfCellAssign(child: Expression,
    bc: Broadcast[IvfAssignStructure])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "ivf_cell_assign"

  /** The per-row kernel (also the codegen target — referenced via
    * addReferenceObj, one virtual call per row). Takes the RAW
    * embedding and unit-normalizes in primitive code — same
    * index-order sum/sqrt/divide as Llm.unitNormE, so the result is
    * bitwise what the HOF produces, without the HOF's per-row
    * intermediate-array allocations (the x300 build split read the
    * normalization as a multi-second term common to both assign
    * arms). A zero/non-finite norm skips the divide (the HOF would
    * produce NaNs and poison every distance; scoring the raw vector
    * keeps the argmin well-defined). */
  def assignCell(v: ArrayData): Int = {
    val st = bc.value
    val dim = st.dim
    // malformed rows DEGRADE, never crash and never emit -1: a null
    // element reads as an arbitrary value through toDoubleArray, and a
    // NaN/Inf component poisons every distance (NaN compares false on
    // both argmin branches), which would leave bestCell at its -1
    // sentinel — the fit would then throw on the negative array index
    // and the corpus assign would commit a cell no probe ever scans.
    // Such rows route to the structure's first registered cell:
    // deterministic, and one degenerate row in a slightly-wrong cell
    // is recall noise where a query-killing throw is not.
    var ck = 0
    while (ck < dim) { if (v.isNullAt(ck)) return st.memberCell(0); ck += 1 }
    val q = v.toDoubleArray()
    var nrm = 0.0
    var ni = 0
    while (ni < dim) { nrm += q(ni) * q(ni); ni += 1 }
    nrm = math.sqrt(nrm)
    if (nrm > 0.0 && java.lang.Double.isFinite(nrm)) {
      ni = 0
      while (ni < dim) { q(ni) /= nrm; ni += 1 }
    }
    // pass 1: the top-`superProbes` supers by distance (the
    // assignment-side twin of query-side nprobe: on clustered corpora
    // near-coincident centroids make a single-super prune lossy —
    // the round-14 assign probe at x30 read recall 69.2% vs exact
    // 79.6% with one super, restored by probing two; BASELINE.md
    // "Round-14 two-level (coarse-of-coarse) IVF assign + fit").
    // Insertion into a w-sized ordered scratch; ties keep the lower
    // super index.
    val nSup = st.memberOff.length - 1
    val w = math.min(st.superProbes, nSup)
    val topS = new Array[Int](w)
    val topD = new Array[Double](w)
    java.util.Arrays.fill(topD, Double.MaxValue)
    var s = 0
    while (s < nSup) {
      var d2 = 0.0
      var i = 0
      val off = s * dim
      while (i < dim) {
        val d = q(i) - st.supFlat(off + i); d2 += d * d; i += 1
      }
      if (d2 < topD(w - 1)) {
        var j = w - 1
        while (j > 0 && d2 < topD(j - 1)) {
          topD(j) = topD(j - 1); topS(j) = topS(j - 1); j -= 1
        }
        topD(j) = d2; topS(j) = s
      }
      s += 1
    }
    // pass 2: argmin candidate centroid across the probed supers'
    // slices. memberCell ascends within each slice and a centroid
    // registered under two probed supers scores identically in both,
    // so strict < is first-wins = lowest cell id (MLlib findClosest's
    // tie rule).
    var bestCell = -1
    var bestD = Double.MaxValue
    var p = 0
    while (p < w) {
      // (bestCell can only remain -1 when every candidate distance is
      // NaN — the non-finite-component case handled after the loop)
      var m = st.memberOff(topS(p))
      val end = st.memberOff(topS(p) + 1)
      while (m < end) {
        var d2 = 0.0
        var i = 0
        val off = m * dim
        while (i < dim) {
          val d = q(i) - st.memberFlat(off + i); d2 += d * d; i += 1
        }
        if (d2 < bestD ||
            (d2 == bestD && st.memberCell(m) < bestCell)) {
          bestD = d2; bestCell = st.memberCell(m)
        }
        m += 1
      }
      p += 1
    }
    if (bestCell < 0) st.memberCell(0) else bestCell
  }

  override def nullSafeEval(v: Any): Any = assignCell(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfAssigner", this,
      classOf[IvfCellAssign].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.assignCell($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IvfCellAssign {

  /** One live broadcast per distinct structure CONTENT per
    * application, small LRU. refreshDelta re-derives a bit-identical
    * structure every trigger (same committed quantizer), and without
    * this each trigger shipped a fresh multi-MB broadcast; with it the
    * re-register is name-idempotent AND broadcast-idempotent. Evicted
    * entries unpersist their executor copies only (a plan that
    * resolved earlier keeps the broadcast handle and refetches from
    * the driver on demand — unpersist(false) never invalidates). Keyed
    * by applicationId so a stopped context's entries can never serve a
    * new one; stale-app entries age out through the same LRU. */
  private val maxCached = 16
  private val cache =
    new java.util.LinkedHashMap[String, Broadcast[IvfAssignStructure]](
        32, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Broadcast[IvfAssignStructure]])
          : Boolean =
        if (size() > maxCached) {
          try e.getValue.unpersist(blocking = false)
          catch { case _: Exception => () } // stopped context
          true
        } else false
    }

  /** Registry/cache name: a 128-bit SHA-256 prefix of the structure's
    * FULL content — dim, probe width, and all four arrays — so two
    * structures differing in any field (including `superProbes`, which
    * changes the assignment) can never collide on one name. */
  private def contentName(st: IvfAssignStructure): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def putD(d: Double): Unit = {
      bb.clear(); bb.putDouble(d); md.update(bb.array())
    }
    def putI(i: Int): Unit = {
      bb.clear(); bb.putInt(i); bb.putInt(0); md.update(bb.array())
    }
    putI(st.dim); putI(st.superProbes)
    st.supFlat.foreach(putD); st.memberOff.foreach(putI)
    st.memberCell.foreach(putI); st.memberFlat.foreach(putD)
    "graft_ivf_assign_" +
      md.digest().take(16).map(b => f"$b%02x").mkString
  }

  /** Column-API face, the BloomMightContain seam: the expression
    * carries non-SQL state (the broadcast structure), so the bridge
    * is a temp-function registration whose builder closes over the
    * broadcast, invoked through `call_function`. Name keys on the
    * content hash, so re-registering the same quantizer is idempotent
    * at the registry AND reuses the cached broadcast. */
  def apply(spark: SparkSession, unitVec: Column,
      st: IvfAssignStructure): Column = {
    val name = contentName(st)
    val key = spark.sparkContext.applicationId + "/" + name
    val bc = cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) hit
      else {
        val b = spark.sparkContext.broadcast(st)
        cache.put(key, b)
        b
      }
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, s"$name expects 1 argument")
        IvfCellAssign(exprs.head, bc)
      },
      "built-in")
    org.apache.spark.sql.functions.call_function(name, unitVec)
  }

  /** Drop every assigner registration this object made in `spark` —
    * the BloomMightContain.unregisterAll contract: entries are only
    * needed until the consuming plan is analyzed. Also unpersists and
    * forgets this application's cached broadcasts. */
  def unregisterAll(spark: SparkSession): Int = {
    val reg = spark.sessionState.functionRegistry
    val stale = reg.listFunction()
      .filter(_.funcName.startsWith("graft_ivf_assign_"))
    stale.foreach(reg.dropFunction)
    cache.synchronized {
      val pre = spark.sparkContext.applicationId + "/"
      val it = cache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey.startsWith(pre)) {
          try e.getValue.unpersist(blocking = false)
          catch { case _: Exception => () }
          it.remove()
        }
      }
    }
    stale.size
  }
}
