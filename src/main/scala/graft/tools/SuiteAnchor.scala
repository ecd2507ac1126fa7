package graft.tools

import org.apache.spark.sql.SparkSession

/** Comparative anchor over the FULL oracle-checked suite — the TPC-H
  * anchor generalized: every `SparkEntry.queries` entry that carries
  * DuckDB-runnable oracle SQL is timed at an inflated factor against
  * a persistent copy of the tables, and tools/suite_anchor_duck.py
  * executes the SAME SQL on the SAME parquet. The TPC-H macros
  * anchored the relational core; this run anchors the rest — the LLM
  * curation/dedup surface, windows, scalar functions — against an
  * external engine at the same scale.
  *
  * Method matches TpchAnchor: per-query cold+warm, the WARM reading
  * reported, so both engines price plans rather than page-cache luck.
  * Unlike the TPC-H macros, several entries memoize expensive
  * sub-results (KMeans fits, cluster labels, substring islands) —
  * every memo cache is invalidated before EACH timed run, so "warm"
  * means warm JVM/page cache, never a memoized answer the oracle side
  * has no equivalent of.
  *
  * Entries that WRITE (sinks, layout builders, snapshot builds) are
  * flagged `io` in the emitted JSON: their engine time prices a write
  * the read-only oracle doesn't do, so the python side keeps them out
  * of the headline ratio while still listing them.
  *
  * Usage: runMain graft.tools.SuiteAnchor [factor] [dstDir] [onlyCsv]
  * (onlyCsv: comma-separated query names for targeted re-anchoring;
  * the partial JSON then lands beside, not over, the full record)
  */
object SuiteAnchor {

  /** Write-shaped entries: engine side materializes files/snapshots. */
  private val ioShaped = Set(
    "q_sink_csv_roundtrip", "q_sink_parquet_roundtrip",
    "q_sink_orc_roundtrip", "q_sink_zstd_roundtrip",
    "q_sink_partitioned", "q_data_skipping", "q_bucketed_join",
    "q_zorder_layout", "q_llm_dedup_incremental",
    "q_scan_schema_evolution", "q_scan_corrupt_quarantine",
    "q_llm_dedup_substr_rm", "q_llm_dedup_substr",
    "q_llm_dedup_clusters", "q_llm_cluster_rep",
    // round-7 write-shaped: the DML entries commit a three-version
    // VersionedTable; the ANN entry builds and commits the index
    "q_table_dml", "q_table_changes", "q_llm_ann_index",
    // round-10 write-shaped: with every memo invalidated before
    // EVERY timed pass, these re-pay their committed-table build on
    // the warm run too — shard_resume the partitionBy(shard) corpus
    // write, variant_shredded the shred commit, bpe_apply the
    // train+commit of the tokenizer artifact
    "q_llm_shard_resume", "q_fn_variant_shredded", "q_llm_bpe_apply",
    // round-12: the multi-path shred entry commits its snapshot the
    // same way the single-path one does
    "q_fn_variant_multi_shredded")

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val dst = args.lift(1).getOrElse(s"/tmp/graft_suite_x$factor")
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-suite-anchor")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    Inflate.ensure(spark, "/root/testdata/sf0.1", dst, factor)

    // the comparable surface: exactly the oracle-checked entries
    val only = args.lift(2).map(_.split(",").toSet)
    val suite = graft.SparkEntry.queries.toSeq
      .filter { case (name, _) => graft.SparkEntry.oracleSql.contains(name) }
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1)

    spark.read.parquet(s"$dst/lineitem.parquet").count() // JVM warmup

    val results = suite.map { case (name, fn) =>
      def once(): Either[String, Double] = {
        graft.util.TableMemo.invalidateAll()
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        val t0 = System.nanoTime()
        try { graft.util.Exec.drain(fn(spark, dst))
          Right((System.nanoTime() - t0) / 1e9) }
        catch { case t: Throwable =>
          System.err.println(s"== $name FAILED: $t")
          Left(t.getClass.getSimpleName)
        }
      }
      val outcome = once() match {
        case Right(cold) => once() match {
          case Right(warm) =>
            println(f"== $name%-28s cold $cold%7.2f s  warm $warm%7.2f s" +
              (if (ioShaped(name)) "  [io]" else ""))
            Right(warm)
          case Left(e) => Left(e)
        }
        case Left(e) => Left(e)
      }
      (name, outcome)
    }

    val qs = results.collect { case (n, Right(w)) =>
      s""""$n":{"warm_s":$w,"io":${ioShaped(n)}}""" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (n, Left(e)) => s""""$n":"$e"""" }
      .mkString("{", ",", "}")
    val line = s"""{"anchor":"suite_x$factor","dst":"$dst","queries":$qs,"errors":$errs}"""
    val outName = if (only.isDefined) "spark_suite_times_partial.json"
      else "spark_suite_times.json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dst/$outName"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"== wrote $dst/$outName")
    spark.stop()
  }
}
