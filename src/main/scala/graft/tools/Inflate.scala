package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Fixture inflater shared by the comparative anchors (TpchAnchor,
  * SuiteAnchor) and ScaleContractSpec's x10 corpus (BASELINE.md
  * "Fixture-honest embedding inflation"): facts are unioned x N with
  * shifted keys (same
  * distributions, N x rows; spans chosen beyond each table's max key
  * so copies never collide), dims are written ONCE (unioning N
  * unshifted dim copies would fan every dim join out x N — a probe
  * artifact masquerading as superlinear engine behavior), and
  * documents get a per-copy vocabulary prefix so the duplicate RATE
  * stays constant while the corpus grows (copying identical text
  * would grow candidate pairs quadratically — that measures the
  * fixture, not the engine). */
object Inflate {
  def apply(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def inflate(name: String, keyCols: Seq[String], keySpan: Long): Unit = {
      val base = graft.engine.Tables(spark, src, name)
      val out =
        if (keyCols.isEmpty) base
        else (0 until factor).map { i =>
          keyCols.foldLeft(base) { (df, k) =>
            df.withColumn(k, col(k) + lit(i * keySpan))
          }
        }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
    }
    inflate("lineitem", Seq("l_orderkey"), 10000000L)
    inflate("orders", Seq("o_orderkey"), 10000000L)
    inflate("customer", Seq(), 0L)
    inflate("nation", Seq(), 0L)
    inflate("supplier", Seq(), 0L)
    inflate("region", Seq(), 0L)
    inflate("part", Seq(), 0L)
    inflate("events", Seq("event_id"), 10000000L)
    documentsOnly(spark, src, dst, factor)
    // embeddings: copies are PERTURBED, not identical — identical
    // copies would make every original a near-dup clique with its
    // factor-1 copies, growing the pair space quadratically with the
    // factor (the same fixture artifact the per-copy document
    // vocabulary prefix prevents for text; round-6 probe ratios up to
    // 9.4x at x10 measured exactly this). Deterministic per-copy
    // hash noise at beta=0.84 on unit vectors pushes original-copy
    // cosine to ~0.25 (copy-copy ~0.1), safely below the 0.4 near-dup
    // threshold, and the renormalized copies keep the unit-norm
    // distribution the base fixture has.
    embeddingsOnly(spark, src, dst, factor)
  }

  /** The embeddings table alone, same perturbed construction as
    * [[apply]]. */
  private[graft] def embeddingsOnly(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    val base = graft.engine.Tables(spark, src, "embeddings")
    val copies = (0 until factor).map { i =>
      val shifted = base.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
      if (i == 0) shifted
      else shifted
        .withColumn("embedding", expr(
          s"""transform(embedding, (x, j) -> CAST(x
               + 0.84D * (hash(vec_id, j, $i) / 2147483648.0D) AS FLOAT))"""))
        .withColumn("embedding", expr(
          """CAST(transform(embedding, x -> x / sqrt(aggregate(
               transform(embedding, y -> CAST(y AS DOUBLE) * y),
               0D, (a, v) -> a + v))) AS ARRAY<FLOAT>)"""))
    }
    // balanced union tree, same rationale as documentsOnly (left-deep
    // reduce makes Catalyst analysis quadratic in the factor)
    unionTree(copies).write.mode("overwrite")
      .parquet(s"$dst/embeddings.parquet")
  }

  private def unionTree(dfs: Seq[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame =
    if (dfs.size == 1) dfs.head
    else unionTree(dfs.grouped(2).map(g =>
      if (g.size == 2) g(0).unionByName(g(1)) else g(0)).toSeq)

  /** The documents table: the per-copy vocabulary prefix keeps the
    * duplicate RATE constant as the corpus grows. */
  private[graft] def documentsOnly(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    val base = graft.engine.Tables(spark, src, "documents")
    val copies = (0 until factor).map { i =>
      val shifted = base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
      if (i == 0) shifted
      else shifted.withColumn("text", concat_ws(" ",
        expr(s"transform(split(text, ' '), w -> concat('c${i}_', w))")))
    }
    // Balanced union tree: a left-deep reduce of a 1000-way union makes
    // Catalyst analysis quadratic in the factor; pairwise halving keeps
    // the plan depth log(factor).
    unionTree(copies).write.mode("overwrite")
      .parquet(s"$dst/documents.parquet")
  }

  /** Inflate `src` x `factor` into `dst` unless a completed inflation
    * at exactly this factor is already there. The marker is written
    * AFTER the full inflation — gating on the first-written table
    * would happily "reuse" an interrupted inflation, or a completed
    * one from a DIFFERENT factor, and time against wrong-scale data;
    * stale other-factor markers are cleared before inflating. */
  /** Fingerprint of the SOURCE fixtures (per-file name+length+mtime):
    * stored in the completion marker so a reuse check detects
    * regenerated fixtures — a factor-only marker happily anchored
    * against the PREVIOUS round's data after /root/testdata was
    * rebuilt, with no indication. */
  private def srcFingerprint(src: String): String =
    Option(new java.io.File(src).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")

  def ensure(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    val marker = new java.io.File(s"$dst/_INFLATED_x$factor")
    val fp = srcFingerprint(src)
    val fresh = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath),
        java.nio.charset.StandardCharsets.UTF_8) == fp
    if (fresh) println(s"== reusing inflated tables at $dst")
    else {
      if (marker.exists())
        println(s"== source fixtures changed — re-inflating $dst")
      Option(new java.io.File(dst).listFiles()).foreach(
        _.filter(_.getName.startsWith("_INFLATED_x")).foreach(_.delete()))
      println(s"== inflating $src x$factor -> $dst")
      apply(spark, src, dst, factor)
      java.nio.file.Files.write(marker.toPath,
        fp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}
