package graft.engine

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}

/** Table catalog over the driver-generated parquet fixtures
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md §B).
  *
  * Design notes for scale (north star: 100 TB on a multi-executor
  * cluster, tested on local mode):
  *  - every scan goes through a parquet read ([[parquet]]) so Catalyst's
  *    vectorized reader, predicate pushdown and column pruning apply —
  *    queries must `select`/`filter` the lazy plan, never materialize
  *    early (the reference eagerly loads whole CSVs into pandas,
  *    `services/analytics/app.py:22-36`);
  *  - dimension tables (`region nation customer supplier part`) are
  *    broadcast at join sites (see graft.ops.Joins) instead of relying
  *    on `autoBroadcastJoinThreshold` alone, mirroring the reference's
  *    preloaded in-memory dim (`services/silver_layer/process_silver.py:233-244`);
  *  - AQE is enabled once per session for runtime coalescing and skew
  *    handling; shuffle partition count is owned by the driver harness.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Naive (isAdjustedToUTC=false) parquet timestamps vary by fixture
    * writer generation: Spark 4 infers them as TIMESTAMP_NTZ, which
    * event-time streaming and `unix_micros` reject. With the session
    * pinned to UTC, casting NTZ->TIMESTAMP preserves the stored wall
    * clock as the same UTC instant DuckDB's oracle reads, so both the
    * LTZ-written and naive-written fixture generations behave
    * identically. */
  private def ltzNormalized(df: DataFrame): DataFrame =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }.foldLeft(df)((d, c) => d.withColumn(c,
      d.col(c).cast(org.apache.spark.sql.types.TimestampType)))

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    tune(spark)
    if (name == "events") {
      // events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
      // vectorized reader rejects. Read nanos as long and truncate to
      // microseconds — bit-identical to DuckDB's parquet ns->us read
      // (verified truncating, not rounding), so oracle values match.
      // DELIBERATELY session-scoped and never restored: the returned
      // frame is lazy, and its scans consult the conf at execution —
      // a save/restore around this read would break them later. The
      // catalog owns its session's tuning (tune() already sets AQE /
      // timezone session-wide); a session reading OTHER nanos parquet
      // as timestamps shouldn't share a catalog-tuned session.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = parquet(spark, s"$sfDir/$name.parquet")
      // the conf only turns TIMESTAMP(NANOS) columns into longs; a
      // micros-written events copy (e.g. engine-produced) reads as a
      // proper timestamp and needs no conversion
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.selectExpr(
            "event_id",
            "timestamp_micros(ts div 1000) AS ts",
            "user_id", "event_type", "value", "props")
        case _ => ltzNormalized(raw)
      }
    } else {
      ltzNormalized(parquet(spark, s"$sfDir/$name.parquet"))
    }
  }

  /** `spark.read.parquet(path)` without its schema-inference job.
    * Spark's non-merging inference reads ONE footer, but as a Spark job
    * (`mergeSchemasInParallel`), which costs a job per table read even
    * for a one-file table. This lists the path once and picks the
    * file that inference would touch: `_common_metadata`, else
    * `_metadata`, else the first data leaf by full path string, with
    * Spark's hidden-name rule (an unpartitioned directory offers only
    * its own files, a partitioned one every leaf). It reads that
    * footer on the driver through Spark's own footer-to-schema step
    * under the session conf, so the `nanosAsLong` and NTZ settings
    * apply, and reads the path with that schema supplied: partition
    * columns are still discovered from the directory names.
    *
    * Falls back to the inferring read when no data file exists (the
    * same error surfaces) and when a data column shares a partition
    * column's name (inference orders that column by the data schema,
    * a supplied schema by the partition schema). No memo: the listing
    * costs about what the footer read costs, and a fresh directory per
    * pass would miss one anyway. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    val root = fs.makeQualified(new Path(path))
    val top =
      try Some(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => None }
    val leaves = top.toSeq.flatMap(parquetLeaves(fs, _)).sortBy(_.getPath.toString)
    val summaries = Set("_common_metadata", "_metadata")
    val partCols = leaves.filterNot(f => summaries(f.getPath.getName))
      .flatMap(f => partitionNames(root, f.getPath)).distinct
    // inference touches every leaf of a partitioned tree, but only the
    // root's own files of an unpartitioned one
    val touched =
      if (partCols.nonEmpty || top.exists(!_.isDirectory)) leaves
      else leaves.filter(_.getPath.getParent == root)
    def named(n: String) = touched.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(touched.find(f => !summaries(f.getPath.getName))) match {
      case None => spark.read.parquet(path)
      case Some(file) =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
          HadoopReadOptions.builder(conf)
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
        val footer = try reader.getFooter finally reader.close()
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        val resolver = spark.sessionState.conf.resolver
        if (schema.exists(c => partCols.exists(resolver(_, c.name))))
          spark.read.parquet(path)
        else spark.read.schema(schema).parquet(path)
    }
  }

  /** Spark's leaf listing: recursive, skipping `_`/`.` names (other
    * than `k=v` directories and the two summary files) and in-flight
    * `._COPYING_` copies. */
  private def parquetLeaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filterNot { c =>
      val n = c.getPath.getName
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) &&
        !(n.startsWith("_common_metadata") || n.startsWith("_metadata"))
    }.flatMap(parquetLeaves(fs, _))

  /** The `k` of every `k=v` directory between `root` and `file`. */
  private def partitionNames(root: Path, file: Path): Seq[String] =
    Iterator.iterate(file.getParent)(_.getParent)
      .takeWhile(p => p != null && p.depth > root.depth)
      .map(_.getName).filter(_.contains("=")).map(_.takeWhile(_ != '='))
      .toSeq

  /** One-call SQL surface: temp views for every fixture table (same
    * normalized reads as [[apply]]) plus graft's native SQL functions
    * (`cosine_sim`, `zorder2`), so `spark.sql("SELECT ... FROM
    * lineitem JOIN nation ...")` works immediately — the migration
    * path for users arriving with SQL instead of the DataFrame API.
    * Views are lazy plans over the parquet scans: pushdown, pruning
    * and the whole Catalyst pipeline apply exactly as on the
    * DataFrame face. */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    All.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.ZOrder.register(spark)
  }

  /** Idempotent runtime-conf tuning; safe to call per query. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // naive parquet timestamps read as LTZ (UTC), not NTZ — see
    // ltzNormalized; the conf covers reads that bypass this catalog
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark
  }
}
