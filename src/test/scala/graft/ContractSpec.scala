package graft

/** Driver-contract invariants: every oracle key has a query, the
  * flagship entry returns rows, and every registered query executes on
  * the smoke-scale fixture. */
class ContractSpec extends SparkTestBase {

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle keys without query impl: $missing")
  }

  test("Bench's regime tables name real rows, and no row is in both") {
    // a typo in either table would pin or serve nothing, silently
    val q = SparkEntry.queries.keySet
    val served = Bench.warmRows.map(_._2).toSet
    val reported = Bench.warmRows.map(_._1).toSet
    assert(Bench.coldPins.keySet -- q == Set.empty, "coldPins keys")
    assert(served -- q == Set.empty, "warmRows served entries")
    assert(Bench.coldPins.keySet.intersect(reported) == Set.empty,
      "a row both pinned cold and reported warm")
    // a warm name other than a self-served row must not be a query
    // key, or it would shadow that row in the bench record
    val selfServed = Bench.warmRows.collect { case (r, e) if r == e => r }
    assert(selfServed == Seq("q_llm_dedup_substr"))
    assert((reported -- selfServed).intersect(q) == Set.empty,
      "a warm row shadows a query key")
  }

  test("entry (flagship) returns exactly its limit on sf0.001") {
    // the flagship ends in .limit(10) over 25 nation groups — the
    // deterministic fixture answer is exactly 10. A >0 gate would
    // pass a join/filter regression that drops most groups (the
    // driver's own smoke check is rows>0; this spec pins the count)
    assert(SparkEntry.entry(spark).count() == 10)
  }

  test("oracle-checked queries emit only scalar columns (driver comparator limit)") {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    SparkEntry.oracleSql.keySet.foreach { name =>
      val bad = SparkEntry.queries(name)(spark, sfSmoke).schema.fields
        .filter(_.dataType match {
          case _: ArrayType | _: MapType | _: StructType => true
          case _                                         => false
        })
      assert(bad.isEmpty,
        s"$name emits non-scalar columns [${bad.map(_.name).mkString(",")}] — " +
          "the driver's pandas comparator cannot hash array/map/struct values; " +
          "stringify with array_join/to_json on BOTH engines")
    }
  }

  test("every query runs and yields a non-empty schema on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfSmoke)
      assert(df.schema.nonEmpty, s"$name produced empty schema")
      // force execution to surface runtime errors
      df.count()
    }
  }
}
