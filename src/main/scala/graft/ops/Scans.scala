package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Tables

/** Sources & sinks (SURVEY.md §2.1).
  *
  * Reference behaviors re-expressed Spark-first:
  *  - CSV sink/source with single-quote quoting and column projection
  *    (`services/consumer/consumer.py:31-41,132-139`,
  *    `services/silver_layer/process_silver.py:233-238`);
  *  - positional JSON state-vector parsing — array index -> named column
  *    (`services/silver_layer/process_silver.py:74-100`);
  *  - snappy parquet sink (`services/silver_layer/process_silver.py:114-120`);
  *  - latest-record-per-key selection, the engine-side generalization of
  *    "read the newest file" (`services/analytics/app.py:26-31`);
  *  - multi-file union scan (`services/dashboard/dashboard.py:42-65`).
  *
  * Scale notes: round-trips write through the distributed writer (one file
  * per task, no `coalesce(1)` in the engine path); the read-back goes
  * through the vectorized reader so downstream pruning/pushdown still
  * applies. Latest-per-key is a hash aggregation (partial+final), not a
  * driver-side file sort.
  */
object Scans {

  private def tmpDir(prefix: String): String =
    graft.util.Fs.tempDir(prefix)

  /** S9: plain parquet scan. */
  val scanParquet: Q = (spark, dir) =>
    Tables(spark, dir, "region").orderBy(col("r_regionkey"))

  /** S6: CSV round-trip with quote option + projection (dim-table idiom). */
  val scanCsvProjection: Q = (spark, dir) => {
    val out = tmpDir("graft_csv_dim")
    Tables(spark, dir, "customer")
      .write.mode("overwrite")
      .option("header", "true").option("quote", "'")
      .csv(out)
    spark.read
      .option("header", "true").option("quote", "'")
      .csv(out)
      .select(
        col("c_custkey").cast(LongType).as("c_custkey"),
        col("c_name"),
        col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** S7: positional JSON array -> named columns (state-vector parse). */
  val scanPositionalJson: Q = (spark, dir) => {
    val asJson = Tables(spark, dir, "events").select(
      to_json(array(
        col("event_id").cast(StringType),
        col("event_type"),
        col("user_id").cast(StringType))).as("j"))
    asJson
      .select(from_json(col("j"), ArrayType(StringType)).as("a"))
      .select(
        element_at(col("a"), 1).cast(LongType).as("event_id"),
        element_at(col("a"), 2).as("event_type"),
        element_at(col("a"), 3).cast(LongType).as("user_id"))
      .orderBy(col("event_id"))
  }

  /** S8: snappy parquet sink round-trip (silver-zone write). */
  val sinkParquetRoundtrip: Q = (spark, dir) => {
    val out = tmpDir("graft_parquet_silver")
    Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"))
      .write.mode("overwrite")
      .option("compression", "snappy")
      .parquet(out)
    Tables.parquet(spark, out)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** S8-codec: zstd parquet round-trip — the modern lake default
    * (better ratio than snappy at comparable scan speed, the codec
    * most 100 TB archives actually pick); proves the engine
    * round-trips it with a pushed filter on the read-back. */
  val sinkZstdRoundtrip: Q = (spark, dir) => {
    val out = tmpDir("graft_parquet_zstd")
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(out)
    Tables.parquet(spark, out)
      .filter(col("o_orderkey") % 3 === 0)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 4).as("sum_total"))
      .orderBy(col("o_orderpriority"))
  }

  /** S5: header CSV sink round-trip (processed-zone write). */
  val sinkCsvRoundtrip: Q = (spark, dir) => {
    val out = tmpDir("graft_csv_processed")
    Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .write.mode("overwrite")
      .option("header", "true")
      .csv(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    spark.read
      .option("header", "true").schema(schema)
      .csv(out)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** ORC sink/source round-trip — the second columnar format Spark
    * ships natively (the lake-migration reality: ORC for Hive-lineage
    * tables, parquet for the rest; an engine that claims source/sink
    * completeness needs both). Predicate pushdown and the vectorized
    * reader apply to ORC scans exactly as to parquet — the read-back
    * filter below reaches the ORC scan as a pushed search argument. */
  val sinkOrcRoundtrip: Q = (spark, dir) => {
    val out = tmpDir("graft_orc")
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite")
      .option("compression", "zlib")
      .orc(out)
    spark.read.orc(out)
      .filter(col("o_orderkey") % 2 === 0)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice")), 4).as("sum_total"))
      .orderBy(col("o_orderstatus"))
  }

  /** Schema-evolution scan: a lake table whose NEWER files carry an
    * added column — the steady state of any long-lived ingest (the
    * reference's positional layout faced exactly this with the
    * optional idx-17 `category` field). `mergeSchema` unifies the file
    * schemas at read time; rows from pre-evolution files surface NULL
    * for the added column instead of failing the scan. At 100 TB
    * schema merging reads footers only — data files are untouched. */
  val scanSchemaEvolution: Q = (spark, dir) => {
    val out = tmpDir("graft_evolve")
    val r = Tables(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
    r.filter(col("r_regionkey") < 3)
      .write.mode("append").parquet(out)
    r.filter(col("r_regionkey") >= 3)
      .withColumn("r_name_upper", upper(col("r_name")))
      .write.mode("append").parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .orderBy(col("r_regionkey"))
  }

  /** S10: latest record per key (max-per-group; newest-file analog). */
  val latestByKey: Q = (spark, dir) =>
    Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"))
      .orderBy(col("user_id"))

  /** S12/U1: multi-file union scan — unionByName of two disjoint slices. */
  val unionAll: Q = (spark, dir) => {
    val ev = Tables(spark, dir, "events")
    val hot = ev.filter(col("event_type").isin("click", "view"))
    val cold = ev.filter(!col("event_type").isin("click", "view"))
    hot.unionByName(cold)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("event_type"))
  }

  /** Partitioned sink + pruned scan: the silver-zone layout SURVEY
    * §7.4 prescribes (partition by ingest date). The read-back filter
    * on the partition column prunes directories before any IO — at
    * 100 TB this is the difference between scanning a day and scanning
    * the lake. */
  val sinkPartitioned: Q = (spark, dir) => {
    val out = tmpDir("graft_partitioned")
    Tables(spark, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(out)
    Tables.parquet(spark, out)
      .filter(col("event_date") === lit("2024-01-15").cast("date"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** S+: corrupt-record quarantine scan — the error-tolerance axis the
    * reference lacks entirely (its silver loop try/excepts per FILE
    * and `break`s, so one malformed file halts the backfill —
    * `services/silver_layer/process_silver.py:53-69`). Spark-first:
    * a PERMISSIVE JSONL read with `columnNameOfCorruptRecord` keeps
    * malformed LINES as quarantine rows in the same scan — the job
    * never fails (FAILFAST) and bad data never silently vanishes
    * (DROPMALFORMED); a production pipeline writes the quarantine
    * bucket to its own sink from this same frame.
    *
    * Fixture: events serialized to JSONL with every event_id % 50 == 0
    * line truncated (always malformed — to_json output ends in '}').
    * The corruption is DETERMINISTIC on the source table, so the
    * DuckDB oracle recomputes the clean/quarantine split with a CASE
    * over the original rows — the driver's hash gate covers the whole
    * tolerance path. Grouping on a label that reads event_type only
    * when _corrupt is null also sidesteps the Spark restriction on
    * queries referencing just the corrupt column. */
  val scanCorruptQuarantine: Q = (spark, dir) => {
    val out = tmpDir("graft_corrupt_jsonl")
    Tables(spark, dir, "events")
      .select(
        to_json(struct(col("event_id"), col("event_type"), col("user_id")))
          .as("j"),
        col("event_id"))
      .select(
        when(col("event_id") % 50 === 0,
          expr("substring(j, 1, length(j) - 1)"))
          .otherwise(col("j")).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("user_id", LongType),
      StructField("_corrupt", StringType)))
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(out)
      .groupBy(
        when(col("_corrupt").isNull, col("event_type"))
          .otherwise(lit("_corrupt")).as("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    "q_scan_corrupt_quarantine" -> scanCorruptQuarantine,
    "q_sink_partitioned" -> sinkPartitioned,
    "q_scan_parquet" -> scanParquet,
    "q_scan_csv_projection" -> scanCsvProjection,
    "q_scan_positional_json" -> scanPositionalJson,
    "q_sink_parquet_roundtrip" -> sinkParquetRoundtrip,
    "q_sink_zstd_roundtrip" -> sinkZstdRoundtrip,
    "q_sink_csv_roundtrip" -> sinkCsvRoundtrip,
    "q_sink_orc_roundtrip" -> sinkOrcRoundtrip,
    "q_scan_schema_evolution" -> scanSchemaEvolution,
    "q_latest_by_key" -> latestByKey,
    "q_union_all" -> unionAll)

  val oracle: Map[String, String] = Map(
    // the oracle recomputes the deterministic clean/quarantine split
    // from the source rows — the CASE mirrors the Spark-side label so
    // no empty-bucket row can diverge between engines
    "q_scan_corrupt_quarantine" ->
      """SELECT CASE WHEN event_id % 50 = 0 THEN '_corrupt'
                     ELSE event_type END AS event_type,
                count(*) AS cnt
         FROM events GROUP BY 1 ORDER BY event_type""",
    "q_sink_partitioned" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
         GROUP BY event_type ORDER BY event_type""",
    "q_scan_parquet" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_scan_csv_projection" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey",
    "q_scan_positional_json" ->
      "SELECT event_id, event_type, user_id FROM events ORDER BY event_id",
    "q_sink_parquet_roundtrip" ->
      """SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 4) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_sink_zstd_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS cnt,
                round(sum(o_totalprice), 4) AS sum_total
         FROM orders WHERE o_orderkey % 3 = 0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_sink_csv_roundtrip" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_sink_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS cnt,
                round(sum(o_totalprice), 4) AS sum_total
         FROM orders WHERE o_orderkey % 2 = 0
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_scan_schema_evolution" ->
      """SELECT r_regionkey, r_name, CAST(NULL AS VARCHAR) AS r_name_upper
         FROM region WHERE r_regionkey < 3
         UNION ALL
         SELECT r_regionkey, r_name, upper(r_name) AS r_name_upper
         FROM region WHERE r_regionkey >= 3
         ORDER BY r_regionkey""",
    "q_latest_by_key" ->
      "SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id ORDER BY user_id",
    "q_union_all" ->
      """SELECT event_type, count(*) AS cnt FROM (
           SELECT * FROM events WHERE event_type IN ('click', 'view')
           UNION ALL
           SELECT * FROM events WHERE event_type NOT IN ('click', 'view')
         ) GROUP BY event_type ORDER BY event_type""")
}
