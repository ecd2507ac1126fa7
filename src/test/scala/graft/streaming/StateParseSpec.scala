package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject, JsonToStructs}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** `Pipelines.parseStates` and `classifyStates` parse each line once
  * (one `from_json` array). This spec pins both, line by line and
  * under ANSI on and off, against the forms they replace: 17
  * `get_json_object` calls per line for the parse, and
  * `json_array_length` plus four `get_json_object` calls per typed
  * field for the classifier. Equal means the same collected rows, or
  * the same error condition and first message line. */
class StateParseSpec extends SparkTestBase {
  import spark.implicits._

  /** The replaced bodies, kept verbatim as the reference. */
  private object Reference {
    import Pipelines.stateVectorFields

    def parseStates(raw: DataFrame, jsonCol: String = "value"): DataFrame = {
      val cols = stateVectorFields.map { case (idx, name, dt) =>
        // get_json_object yields the literal string "null" for JSON null
        nullif(get_json_object(col(jsonCol), s"$$[$idx]"), lit("null"))
          .cast(dt).as(name)
      }
      raw.select(cols: _*)
    }

    def classifyStates(raw: DataFrame, jsonCol: String = "value"): DataFrame = {
      val arrLen = json_array_length(col(jsonCol))
      val typeBad = stateVectorFields
        .filter { case (_, _, dt) => dt != StringType }
        .map { case (idx, _, dt) =>
          val rawV = nullif(get_json_object(col(jsonCol), s"$$[$idx]"), lit("null"))
          // try_cast, not cast: under ANSI mode a malformed value must
          // CLASSIFY the row, not abort the stream
          rawV.isNotNull && rawV.try_cast(dt).isNull
        }
        .reduce(_ || _)
      raw.withColumn(
        "_reason",
        when(col(jsonCol).isNull || arrLen.isNull, "not_json_array")
          .when(arrLen < 17, "short_array")
          .when(typeBad, "type_mismatch")
          .otherwise(lit(null).cast(StringType)))
    }
  }

  private val good18 = """["AB1", "CALL1  ", "France", 1700000000, 1700000100, 2.1, 48.8, 10000.0, false, 250.0, 90.0, 1.5, null, 10100.0, "7700", false, 0, 3]"""
  private val good17 = """["CD2", null, "Germany", 1700000000, 1700000100, 13.4, 52.5, 9000.0, true, 0.0, 0.0, 0.0, null, 9100.0, "1200", true, 1]"""

  /** The 32 adversarial lines, by name. `null` is a NULL raw value. */
  private val lines: Seq[(String, String)] = Seq(
    "raw NULL" -> null,
    "all JSON null" -> Seq.fill(18)("null").mkString("[", ",", "]"),
    "all string \"null\"" -> Seq.fill(18)("\"null\"").mkString("[", ",", "]"),
    "17 elements" -> good17,
    "18 elements" -> good18,
    "19 elements" -> (good18.dropRight(1) + ", \"extra\"]"),
    "nested array elements" ->
      """["AB1", ["C", 1], "France", 1700000000, 1700000100, [2.1], 48.8, 10000.0, false, 250.0, 90.0, 1.5, [1, [2, 3]], 10100.0, "7700", false, 0, 3]""",
    "nested object elements" ->
      """["AB1", {"c": "C1"}, "France", {"t": 1}, 1700000100, 2.1, 48.8, 10000.0, false, 250.0, 90.0, 1.5, {"s": [1]}, 10100.0, {"sq": "7700"}, false, 0, 3]""",
    "quoted numbers and booleans" ->
      """["AB1", "CALL1", "France", "1700000000", "1700000100", "2.1", "48.8", "1e4", "true", "250", "90.0", "-1.5", null, "10100.0", 7700, "false", "0", "3"]""",
    "exponents" ->
      """["AB1", "CALL1", "France", 1.7e9, 17E8, 2.1e0, 4.88E1, 1e4, false, 2.5E+2, 9.0e-1, -1.5E-3, null, 1.01e4, "7700", false, 0, 3e0]""",
    "20-digit integer in a long" ->
      """["AB1", "CALL1", "France", 12345678901234567890, 1700000100, 12345678901234567890, 48.8, 10000.0, false, 250.0, 90.0, 1.5, null, 10100.0, "7700", false, 0, 3]""",
    "20-digit integer in a string" ->
      """["AB1", 12345678901234567890, "France", 1700000000, 1700000100, 2.1, 48.8, 10000.0, false, 250.0, 90.0, 1.5, null, 10100.0, 99999999999999999999, false, 0, 3]""",
    "negative zeros" ->
      """["AB1", "CALL1", "France", -0, 1700000100, -0.0, -0.0, -0.0, false, -0.0, 0.0, -0.0, null, -0.0, "-0", false, -0, -0]""",
    "non-ASCII text, escapes and emoji" ->
      """["äb1", "Zürich ✈ \u00e9\"\\\/", "Ελλάδα\n", 1700000000, 1700000100, 2.1, 48.8, 10000.0, false, 250.0, 90.0, 1.5, null, 10100.0, "😀7700", false, 0, 3]""",
    "raw control character in a string" ->
      ("[\"AB1\", \"CA\u0001LL\tX\", \"France\", 1700000000, 1700000100, 2.1, 48.8, " +
        "10000.0, false, 250.0, 90.0, 1.5, null, 10100.0, \"7700\", false, 0, 3]"),
    "unquoted NaN" ->
      """["AB1", "CALL1", "France", 1700000000, 1700000100, NaN, 48.8, 10000.0, false, 250.0, 90.0, 1.5, null, 10100.0, "7700", false, 0, 3]""",
    "unquoted Infinity" ->
      """["AB1", "CALL1", "France", 1700000000, 1700000100, 2.1, -Infinity, Infinity, false, 250.0, 90.0, 1.5, null, 10100.0, "7700", false, 0, 3]""",
    "single quotes" ->
      """['AB1', 'CALL1', 'France', 1700000000, 1700000100, 2.1, 48.8, 10000.0, false, 250.0, 90.0, 1.5, null, 10100.0, '7700', false, 0, 3]""",
    "leading zeros" ->
      """["AB1", "CALL1", "France", 01700000000, 1700000100, 2.1, 48.8, 10000.0, false, 250.0, 90.0, 1.5, null, 10100.0, "7700", false, 00, 3]""",
    "a comment" ->
      """["AB1", "CALL1", "France", 1700000000, 1700000100, 2.1, 48.8, /* c */ 10000.0, false, 250.0, 90.0, 1.5, null, 10100.0, "7700", false, 0, 3]""",
    "trailing garbage" -> (good18 + " xyz"),
    "trailing comma" -> (good18.dropRight(1) + ",]"),
    "a second array after the first" -> (good17 + good18),
    "truncated array" -> """["AB1", "CALL1", "France", 1700000000""",
    "truncated string" -> """["AB1", "CAL""",
    "a JSON object" -> """{"icao24": "AB1"}""",
    "empty array" -> "[]",
    "JSON null" -> "null",
    "empty line" -> "",
    "garbage" -> "total garbage !!",
    "16 elements" ->
      """["EF3", "C3", "Spain", 1700000000, 1700000100, 2.0, 40.0, 100.0, false, 10.0, 5.0, 0.1, null, 110.0, "1000", false]""",
    "string where longitude belongs" ->
      """["GH4", "C4", "Italy", 1700000000, 1700000100, "EAST", 41.0, 100.0, false, 10.0, 5.0, 0.1, null, 110.0, "1000", false, 0]""")

  /** Each line in its own directory, so one plan shape (and its
    * generated code) serves every line. */
  private lazy val lineDirs: Seq[(String, String)] = {
    val base = Files.createTempDirectory("graft_stateparse_lines").toString
    lines.zipWithIndex.map { case ((_, l), i) => (i, l) }.toDF("id", "value")
      .coalesce(1).write.partitionBy("id").parquet(s"$base/t")
    lines.indices.map(i => lines(i)._1 -> s"$base/t/id=$i")
  }

  /** A batch shaped like the ingest workload's: NULL callsigns, padded
    * and upper-case keys, 17- and 18-element arrays, NULL positions and
    * negative ground altitudes. */
  private lazy val batchPath: String = {
    val r = new scala.util.Random(11)
    val countries = Array("United States", "Germany", "France", "Japan", "Brazil")
    def q(s: String) = if (s == null) "null" else "\"" + s + "\""
    def fmt(d: Double, n: Int) = String.format(java.util.Locale.ROOT, s"%.${n}f", Double.box(d))
    val out = (0 until 10000).map { i =>
      val k = f"${i * 7919 % 0xffffff}%06x"
      val key = r.nextDouble() match {
        case u if u < 0.10 => k.toUpperCase(java.util.Locale.ROOT)
        case u if u < 0.15 => s" $k "
        case _ => k
      }
      val cs = if (r.nextDouble() < 0.05) null else f"A${i % 9973}%04d".padTo(8, ' ')
      val lc = 1700000000L + r.nextInt(10)
      val tp = if (r.nextDouble() < 0.02) "null" else (lc - r.nextInt(5)).toString
      val noPos = r.nextDouble() < 0.03
      val onGround = r.nextDouble() < 0.1
      val baro = if (r.nextDouble() < 0.02) null
        else if (onGround) fmt(-r.nextDouble() * 30, 1) else fmt(r.nextDouble() * 12000, 1)
      val fields = Seq(q(key), q(cs), q(countries(i % countries.length)), tp,
        lc.toString,
        if (noPos) "null" else fmt(r.nextDouble() * 360 - 180, 4),
        if (noPos) "null" else fmt(r.nextDouble() * 180 - 90, 4),
        String.valueOf(baro), onGround.toString, fmt(r.nextDouble() * 300, 2),
        fmt(r.nextDouble() * 360, 2), fmt(r.nextDouble() * 30 - 15, 2), "null",
        if (baro == null) "null" else fmt(baro.toDouble + 25, 1),
        q(if (r.nextDouble() < 0.3) null else f"${r.nextInt(7777)}%04d"),
        (r.nextDouble() < 0.01).toString, r.nextInt(4).toString) ++
        (if (r.nextBoolean()) Seq(r.nextInt(18).toString) else Nil)
      fields.mkString("[", ",", "]")
    }
    val dir = Files.createTempDirectory("graft_stateparse_batch")
    Files.write(dir.resolve("batch.jsonl"), out.asJava)
    dir.toString
  }

  /** Collected rows as text (`-0.0` and `NaN` stay distinct), or the
    * first error condition in the cause chain with its message's first
    * line (later lines carry the call site). */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    try Right(df.collect().toSeq.map(_.toString))
    catch {
      case e: Exception =>
        def firstLine(t: Throwable) = t.getMessage.linesIterator.nextOption().getOrElse("")
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: SparkThrowable if t.getCondition != null =>
            Left(s"${t.getCondition}: ${firstLine(t)}") }
          .getOrElse(Left(s"${e.getClass.getName}: ${firstLine(e)}"))
    }

  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private val forms: Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = Seq(
    ("parseStates", Pipelines.parseStates(_), Reference.parseStates(_)),
    ("classifyStates", Pipelines.classifyStates(_), Reference.classifyStates(_)))

  for ((name, changed, reference) <- forms; ansi <- Seq(true, false)) {
    test(s"$name equals its get_json_object form line by line, ANSI $ansi") {
      val diffs = withAnsi(ansi) {
        lineDirs.flatMap { case (label, dir) =>
          val raw = spark.read.parquet(dir)
          val (got, want) = (outcome(changed(raw)), outcome(reference(raw)))
          if (got == want) None else Some(s"$label:\n  got  $got\n  want $want")
        }
      }
      assert(diffs.isEmpty, diffs.mkString("\n"))
    }

    test(s"$name equals its get_json_object form on a 10k-line batch, ANSI $ansi") {
      withAnsi(ansi) {
        val raw = spark.read.text(batchPath)
        val got = outcome(changed(raw))
        assert(got.isRight, got)
        assert(got.toOption.get.size == 10000)
        assert(got == outcome(reference(raw)))
      }
    }
  }

  test("the sized lines exercise every branch") {
    val reasons = lineDirs.map { case (label, dir) =>
      label -> Pipelines.classifyStates(spark.read.parquet(dir))
        .select($"_reason").as[String].collect().head
    }.toMap
    assert(reasons("18 elements") == null && reasons("17 elements") == null)
    assert(reasons("raw control character in a string") == null)
    assert(reasons("unquoted NaN") == "not_json_array")
    assert(reasons("garbage") == "not_json_array")
    assert(reasons("16 elements") == "short_array")
    assert(reasons("string where longitude belongs") == "type_mismatch")
    assert(reasons.values.toSet ==
      Set(null, "not_json_array", "short_array", "type_mismatch"))
    // the error arm of the comparison is exercised too
    val east = spark.read.parquet(lineDirs.toMap.apply("string where longitude belongs"))
    val failed = withAnsi(true)(outcome(Pipelines.parseStates(east)))
    assert(failed.left.exists(_.startsWith("CAST_INVALID_INPUT: ")), failed)
    assert(lines.size == 32)
  }

  private def count[T <: Expression: ClassTag](plan: LogicalPlan): Int =
    plan.map(_.expressions.map(_.collect { case e: T => e }.size).sum).sum

  test("the optimized plans parse each line once") {
    val raw = spark.read.text(batchPath)
    val plans = Seq(
      "parseStates" -> (Pipelines.parseStates(raw), Reference.parseStates(raw), 17),
      "classifyStates" -> (Pipelines.classifyStates(raw), Reference.classifyStates(raw), 52))
    for ((name, (changed, reference, refCalls)) <- plans) {
      val p = changed.queryExecution.optimizedPlan
      assert(count[JsonToStructs](p) == 1, s"$name:\n$p")
      assert(count[GetJsonObject](p) == 0, s"$name:\n$p")
      // the counter sees the calls it bans: the reference form holds them
      val rp = reference.queryExecution.optimizedPlan
      assert(count[GetJsonObject](rp) == refCalls, s"$name reference:\n$rp")
    }
  }
}
