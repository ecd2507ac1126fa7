package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native product-quantization encoder — the codegen twin of
  * Llm.pqEncodeExpr's nested-HOF form (per subspace j: argmin over ks
  * codebook rows of Σ_t pow(unit[j·sub+t] − cb[(j·ks+c)·sub+t], 2),
  * first-minimum tie-break).
  *
  * Same arithmetic in the same order — the inner sum accumulates
  * `s + Math.pow(diff, 2)` in ascending t exactly as the HOF's
  * aggregate does, and the argmin uses the HOF's strict `<` against
  * the running best (initial best d = +Infinity, c = −1), so the codes
  * are bitwise-identical on every non-NULL vector of at least m·sub
  * elements (PqEncodeSpec pins it, the UnitNormSpec contract). A null
  * element inside subspace j nulls the HOF's distance for every
  * candidate, leaving that subspace's aggregate at its -1 seed —
  * mirrored here by emitting -1 without scoring.
  *
  * Outside that domain the two differ (PqEncodeSpec pins both):
  *  - a NULL vector encodes to NULL here, to m codes of -1 in the HOF;
  *  - a vector shorter than m·sub throws here; the HOF throws too
  *    under ANSI (the session default), but with ANSI off it reads
  *    NULL past the end and returns -1 for the uncovered subspaces.
  * Both call sites (AnnIndex.encode, Llm.pqCodes) encode the UnitNorm
  * of the embedding column at the dimension the codebook was fit on.
  *
  * What changes is cost: the HOF form is CodegenFallback and
  * allocates a ks-length struct array plus a sub-length sequence per
  * (row, subspace) — the last interpreted expression in the PQ encode
  * path (round-14 "not yet" #5), paid on every corpus-scale encode
  * pass (AnnIndex.buildPq, pqCodesOn). This is one fused primitive
  * loop per row inside whole-stage codegen; the codebook (m·ks·sub
  * doubles — KB-sized by construction: ks ≤ 16) rides the plan
  * reference, not a per-row literal column.
  */
case class PqEncode(child: Expression,
    cb: Array[Double], m: Int, ks: Int, sub: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<double>, got ${other.simpleString}")
  }

  // the HOF twin's type: transform(sequence, j -> aggregate(...).c)
  // resolves to array<int> with nullable elements (the aggregate's
  // struct field is nullable) — match it exactly
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)

  override def prettyName: String = "graft_pq_encode"

  def compute(v: ArrayData): ArrayData = {
    // the HOF's element_at throws on a short vector under ANSI (the
    // session default) — fail just as loudly, whatever the setting,
    // rather than encode garbage
    if (v.numElements() < m * sub)
      throw new IllegalArgumentException(
        s"$prettyName: vector of ${v.numElements()} dims cannot serve " +
          s"m=$m subspaces of $sub dims")
    val codes = new Array[Any](m)
    var j = 0
    while (j < m) {
      val base = j * sub
      // a null element nulls every candidate's distance in the HOF,
      // so the subspace keeps the aggregate's -1 seed
      var nullAt = false
      var t = 0
      while (t < sub && !nullAt) {
        if (v.isNullAt(base + t)) nullAt = true; t += 1
      }
      if (nullAt) codes(j) = -1
      else {
        var bestC = -1
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < ks) {
          var d = 0.0
          var i = 0
          val cbBase = (j * ks + c) * sub
          while (i < sub) {
            // Math.pow(x, 2), not x*x: Spark's pow is Math.pow and
            // the bitwise contract demands the identical primitive
            d += java.lang.Math.pow(
              v.getDouble(base + i) - cb(cbBase + i), 2.0)
            i += 1
          }
          if (d < bestD) { bestD = d; bestC = c }
          c += 1
        }
        codes(j) = bestC
      }
      j += 1
    }
    new GenericArrayData(codes)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncoder", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {

  /** Column face, the IvfCellAssign seam: the expression carries
    * non-SQL state (the codebook array), so the bridge is a
    * temp-function registration whose builder closes over it. The
    * name keys on the codebook content so re-registering the same
    * codebook is idempotent and two coexisting codebooks (corpus +
    * forced-witness memo) can never serve each other's plans. */
  def apply(spark: SparkSession, unitVec: org.apache.spark.sql.Column,
      cb: Array[Double], m: Int, ks: Int, sub: Int)
      : org.apache.spark.sql.Column = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    def putD(d: Double): Unit = { bb.clear(); bb.putDouble(d); md.update(bb.array()) }
    def putI(i: Int): Unit = { bb.clear(); bb.putInt(i); bb.putInt(0); md.update(bb.array()) }
    putI(m); putI(ks); putI(sub); cb.foreach(putD)
    val name = "graft_pq_encode_" +
      md.digest().take(16).map(b => f"$b%02x").mkString
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      { exprs: Seq[Expression] =>
        require(exprs.length == 1, s"$name expects 1 argument")
        PqEncode(exprs.head, cb, m, ks, sub)
      },
      "built-in")
    org.apache.spark.sql.functions.call_function(name, unitVec)
  }
}
