package graft.engine

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.SparkTestBase

/** `Tables.parquet` reads the schema from one footer instead of an
  * inference job; every case here pins it to the inferring read,
  * `spark.read.parquet(p).schema`, under the same session conf. */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => Paths.get(sfSmoke).resolveSibling(s).toString)

  private def tmp(p: String) = graft.util.Fs.tempDir(p)

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) =>
      p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def assertSameSchema(path: String): Unit = {
    val want = spark.read.parquet(path).schema
    val got = Tables.parquet(spark, path).schema
    assert(got == want, s"$path:\n got=${got.treeString}\n want=${want.treeString}")
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema,
      s"schemas differ:\n got=${got.schema}\n want=${want.schema}")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "rows differ")
  }

  test("every fixture table reads the inferred schema at all three " +
      "scales, with and without NTZ inference") {
    for (ntz <- Seq("false", "true"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true",
          "spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) {
        for (sf <- scales; t <- Tables.All)
          assertSameSchema(s"$sf/$t.parquet")
      }
  }

  test("a fixture table is built without a Spark job") {
    for (sf <- scales; t <- Seq("documents", "events")) {
      val (_, m) = Metrics.measure(spark)(Tables(spark, sf, t))
      assert(m.jobs == 0, s"$sf/$t: ${m.jobs} jobs")
    }
  }

  test("a partitioned _PART_COLS snapshot keeps its discovered " +
      "partition columns and their inferred types") {
    val dir = tmp("graft_tables_part")
    VersionedTable.setPartitionColumns(spark, dir, Seq("region", "bucket"))
    VersionedTable.commit(
      (0 until 40).map(i => (i.toLong, s"r${i % 3}", i % 4, i * 0.5))
        .toDF("k", "region", "bucket", "v"), dir)
    assert(new java.io.File(s"$dir/v0").listFiles()
      .exists(_.getName.startsWith("region=")), "snapshot must be partitioned")
    assertSameSchema(s"$dir/v0")
    val read = VersionedTable.read(spark, dir)
    assert(read.columns.toSeq == Seq("k", "v", "region", "bucket"))
    assert(read.schema("bucket").dataType == org.apache.spark.sql.types.IntegerType)
    assertSameRows(read, spark.read.parquet(s"$dir/v0"))
    val (_, m) = Metrics.measure(spark)(VersionedTable.read(spark, dir))
    assert(m.jobs == 0, s"${m.jobs} jobs")
  }

  test("an NTZ-written file reads the schema Spark stored with it") {
    val dir = tmp("graft_tables_ntz")
    spark.sql("SELECT 1L AS id, timestamp_ntz'2024-01-15 10:30:00' AS t, " +
        "timestamp'2024-01-15 10:30:00' AS u")
      .write.mode("overwrite").parquet(dir)
    for (ntz <- Seq("false", "true"))
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) {
        assertSameSchema(dir)
        val s = Tables.parquet(spark, dir).schema
        assert(s("t").dataType == TimestampNTZType && s("u").dataType == TimestampType)
      }
  }

  /** Copies the one data file `df` writes to `dir/name`. */
  private def place(dir: String, name: String, df: DataFrame): Unit = {
    val out = tmp("graft_tables_src")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = Paths.get(dir, name)
    Files.createDirectories(dst.getParent)
    Files.copy(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  test("the schema comes from the file inference touches: summaries " +
      "first, else the first data file by path, hidden names skipped") {
    val (a, b, c) = (Seq(1L).toDF("x"), Seq((1L, "b")).toDF("x", "y"),
      Seq((1L, 2)).toDF("x", "z"))
    // (layout, the columns inference reads)
    val layouts = Seq(
      Seq("_a.parquet" -> b, ".b.parquet" -> c, "a.parquet" -> a,
        "b.parquet" -> b, "c.parquet" -> c) -> Seq("x"),
      Seq("a.parquet" -> a, "_common_metadata" -> b) -> Seq("x", "y"),
      Seq("b.parquet" -> a, "_metadata" -> b, "_common_metadata" -> c)
        -> Seq("x", "z"),
      Seq("_metadata" -> b, "b.parquet" -> a) -> Seq("x", "y"),
      // an unpartitioned directory offers only its own files
      Seq("a.parquet" -> b, "sub/0.parquet" -> a, "_tmp/0.parquet" -> c)
        -> Seq("x", "y"),
      // a partitioned one offers every leaf, the root's summary too
      Seq("k=2/a.parquet" -> b, "k=1/a.parquet" -> a) -> Seq("x", "k"),
      Seq("k=1/a.parquet" -> b, "_common_metadata" -> a) -> Seq("x", "k"),
      Seq("k=1/a.parquet" -> a, "k=1/_common_metadata" -> b)
        -> Seq("x", "y", "k"),
      // a data column named like a partition column keeps its data
      // position under inference (a supplied schema would move it last)
      Seq("k=1/a.parquet" -> Seq((1L, 5, "a")).toDF("x", "k", "y"))
        -> Seq("x", "k", "y"))
    for ((files, cols) <- layouts) {
      val dir = tmp("graft_tables_layout")
      files.foreach { case (name, df) => place(dir, name, df) }
      assertSameSchema(dir)
      assert(Tables.parquet(spark, dir).columns.toSeq == cols, files.map(_._1))
    }
  }

  test("a path with no data file fails as the inferring read does") {
    def message(read: => DataFrame): String =
      intercept[AnalysisException](read).getMessage
    val missing = s"${tmp("graft_tables_missing")}/nope"
    assert(message(Tables.parquet(spark, missing)) ==
      message(spark.read.parquet(missing)))
    val empty = tmp("graft_tables_empty")
    Files.createFile(Paths.get(empty, "_SUCCESS"))
    assert(message(Tables.parquet(spark, empty)) ==
      message(spark.read.parquet(empty)))
    // data only below an unpartitioned subdirectory: nothing to infer from
    val nested = tmp("graft_tables_nested")
    place(nested, "sub/a.parquet", Seq(1L).toDF("x"))
    assert(message(Tables.parquet(spark, nested)) ==
      message(spark.read.parquet(nested)))
  }

  /** The catalog's events read as it was written before the helper:
    * inferred schema, nanos truncated to micros, NTZ cast to LTZ. */
  private def inferredEvents(dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.selectExpr("event_id",
        "timestamp_micros(ts div 1000) AS ts",
        "user_id", "event_type", "value", "props")
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** A TIMESTAMP(NANOS) copy of `sf`'s events, each ts carrying 789
    * sub-microsecond nanoseconds the read must truncate. */
  private def nanosCopy(sf: String): String = {
    val dir = tmp("graft_tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
           optional int64 event_id;
           optional int64 ts (TIMESTAMP(NANOS,false));
           optional int64 user_id;
           optional binary event_type (STRING);
           optional double value;
           optional binary props (STRING);
         }""")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withType(schema)
      .withConf(spark.sessionState.newHadoopConf())
      .build()
    val groups = new SimpleGroupFactory(schema)
    try Tables(spark, sf, "events")
      .selectExpr("event_id", "unix_micros(ts) AS ts", "user_id",
        "event_type", "value", "props")
      .toLocalIterator().forEachRemaining { r =>
        val g = groups.newGroup()
        if (!r.isNullAt(0)) g.add("event_id", r.getLong(0))
        if (!r.isNullAt(1)) g.add("ts", r.getLong(1) * 1000L + 789L)
        if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
        if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
        if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
        if (!r.isNullAt(5)) g.add("props", r.getString(5))
        writer.write(g)
      }
    finally writer.close()
    dir
  }

  test("events reads the same rows as the inferring read at all three " +
      "scales, from a nanos copy and from a micros-written copy") {
    for (sf <- scales) {
      val events = Tables(spark, sf, "events")
      assertSameRows(events, inferredEvents(sf))
      val nanos = nanosCopy(sf)
      assert(spark.read.parquet(s"$nanos/events.parquet")
        .schema("ts").dataType == LongType, "the copy must store nanos")
      assertSameRows(Tables(spark, nanos, "events"), inferredEvents(nanos))
      assertSameRows(Tables(spark, nanos, "events"), events)
      val micros = tmp("graft_tables_micros")
      events.write.mode("overwrite").parquet(s"$micros/events.parquet")
      assertSameRows(Tables(spark, micros, "events"), inferredEvents(micros))
      assertSameRows(Tables(spark, micros, "events"), events)
      Seq(nanos, micros).foreach(graft.util.Fs.deleteRecursively)
    }
  }
}
