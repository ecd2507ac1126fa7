package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** PqEncode (native) against Llm.pqEncodeExpr (the nested-HOF form) —
  * the claim both encode call sites (AnnIndex.encode, Llm.pqCodesOn)
  * rely on is EXACT code equality: same Math.pow accumulation order,
  * same strict-< first-minimum tie rule, so snapshot-encoded codes
  * keep equaling session-encoded codes after the native swap. */
class PqEncodeSpec extends SparkTestBase {
  import spark.implicits._

  private def hofCodes(df: org.apache.spark.sql.DataFrame,
      cb: Array[Double], m: Int, ks: Int, sub: Int) =
    df.withColumn("cb", typedLit(cb.toSeq))
      .withColumn("hof", expr(graft.ops.Llm.pqEncodeExpr(m, ks, sub)))

  test("native pq_encode equals the HOF encoder code-for-code on " +
      "random unit vectors, including duplicate-centroid tie cases") {
    val rnd = new scala.util.Random(7)
    val m = 4; val ks = 16; val sub = 4
    val cb = Array.fill(m * ks * sub)(rnd.nextGaussian())
    // force ties: duplicate codebook rows 3 and 9 in every subspace —
    // the first-minimum rule must pick 3
    for (j <- 0 until m; t <- 0 until sub)
      cb((j * ks + 9) * sub + t) = cb((j * ks + 3) * sub + t)
    val rows = (0 until 300).map { i =>
      val v = Array.fill(m * sub)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(_ / n).toSeq)
    }
    val df = rows.toDF("vec_id", "unit")
    val both = hofCodes(df, cb, m, ks, sub)
      .withColumn("native", PqEncode(spark, col("unit"), cb, m, ks, sub))
      .select("vec_id", "hof", "native").collect()
    for (r <- both)
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"vec ${r.getLong(0)}: HOF ${r.getSeq[Int](1)} vs " +
          s"native ${r.getSeq[Int](2)}")
  }

  test("exact-tie between distinct rows keeps the lower code (the " +
      "HOF's IF(x.d < acc.d) strict inequality)") {
    val m = 1; val ks = 3; val sub = 2
    // rows 1 and 2 are equidistant mirrors of the input; row 0 is far
    val cb = Array(9.0, 9.0, 1.0, 0.0, -1.0, 0.0)
    val df = Seq((0L, Seq(0.0, 0.0))).toDF("vec_id", "unit")
    val r = hofCodes(df, cb, m, ks, sub)
      .withColumn("native", PqEncode(spark, col("unit"), cb, m, ks, sub))
      .select("hof", "native").head()
    assert(r.getSeq[Int](0) == Seq(1), s"HOF premise changed: ${r.getSeq[Int](0)}")
    assert(r.getSeq[Int](1) == Seq(1), s"native tie rule diverged: ${r.getSeq[Int](1)}")
  }

  test("null element: the subspace covering it keeps the HOF's -1 " +
      "seed, other subspaces encode normally") {
    val m = 2; val ks = 2; val sub = 2
    val rnd = new scala.util.Random(11)
    val cb = Array.fill(m * ks * sub)(rnd.nextGaussian())
    val df = Seq((0L, Seq[java.lang.Double](0.1, null, 0.2, 0.3)))
      .toDF("vec_id", "unit")
    val r = df.withColumn("cb", typedLit(cb.toSeq))
      .withColumn("hof", expr(graft.ops.Llm.pqEncodeExpr(m, ks, sub)))
      .withColumn("native", PqEncode(spark, col("unit"), cb, m, ks, sub))
      .select("hof", "native").head()
    val h = r.getSeq[Int](0)
    val n = r.getSeq[Int](1)
    assert(h.head == -1, s"HOF premise changed: $h")
    assert(h == n, s"HOF $h vs native $n")
  }

  /** Every message along an exception's cause chain, for asserting on
    * failures that may arrive wrapped in a SparkException. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => s"${e.getClass.getName}: ${e.getMessage}").mkString(" | ")

  test("NULL unit array: the native encoder returns NULL, the HOF " +
      "returns m codes of -1 (outside the domain the two agree on)") {
    val m = 2; val ks = 2; val sub = 2
    val cb = Array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)
    val df = Seq((0L, Option.empty[Seq[Double]])).toDF("vec_id", "unit")
    val r = hofCodes(df, cb, m, ks, sub)
      .withColumn("native", PqEncode(spark, col("unit"), cb, m, ks, sub))
      .select("hof", "native").head()
    assert(r.getSeq[Int](0) == Seq(-1, -1), s"HOF: ${r.get(0)}")
    assert(r.isNullAt(1), s"native: ${r.get(1)}")
  }

  test("vector shorter than m*sub: both encoders throw under ANSI " +
      "(the session default); with ANSI off only the native one does") {
    val m = 2; val ks = 2; val sub = 2
    val cb = Array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)
    def codes(s: org.apache.spark.sql.SparkSession, which: String) = {
      import s.implicits._
      val df = Seq((0L, Seq(0.1, 0.2, 0.3))).toDF("vec_id", "unit")
        .withColumn("cb", typedLit(cb.toSeq))
      val c =
        if (which == "hof") expr(graft.ops.Llm.pqEncodeExpr(m, ks, sub))
        else PqEncode(s, col("unit"), cb, m, ks, sub)
      df.select(c).head().getSeq[Int](0)
    }
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "premise: the session runs ANSI")
    val hof = intercept[Exception](codes(spark, "hof"))
    assert(messages(hof).contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT"),
      messages(hof))
    val native = intercept[Exception](codes(spark, "native"))
    assert(messages(native).contains("cannot serve m=2 subspaces of 2 dims"),
      messages(native))
    // non-ANSI: the HOF's element_at reads NULL past the end, so the
    // subspace it cannot cover keeps the -1 seed; native still throws
    val lax = spark.newSession()
    lax.conf.set("spark.sql.ansi.enabled", "false")
    assert(codes(lax, "hof") == Seq(0, -1))
    val laxNative = intercept[Exception](codes(lax, "native"))
    assert(messages(laxNative).contains("cannot serve"), messages(laxNative))
  }
}
