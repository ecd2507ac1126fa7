package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level regression guard for the ADVICE.md classes (round-13
  * verdict #7): three rounds of advisories were each instances of a
  * repeating pattern, fixed point-wise. This spec pins each CLASS at
  * zero occurrences in `src/main`, so the next instance fails a test
  * instead of waiting for the next review. Whitelists are explicit
  * (file:line fragments with the justification inline) — a new
  * legitimate use must be argued here, not slipped in.
  *
  * Classes not greppable (kept as review checklist, BASELINE.md
  * "Advisory-class checklist"): memo-wide invalidation where per-dir
  * eviction is intended; a phys/reported reading describing a
  * different run than the number beside it.
  */
class LintSpec extends AnyFunSuite {

  private val mainRoot = new java.io.File("src/main/scala/graft")

  private def sources: Seq[(String, Seq[(Int, String)])] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(mainRoot).map { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8")
      val content =
        try lines.getLines().toVector finally lines.close()
      (f.getPath, content.zipWithIndex.map { case (l, i) => (i + 1, l) })
    }
  }

  private def offenders(pattern: String,
      whitelist: Set[String] = Set.empty): Seq[String] = {
    val re = pattern.r
    for {
      (path, lines) <- sources
      (n, line) <- lines
      t = line.trim
      // a comment DISCUSSING a banned pattern is documentation
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      if re.findFirstIn(line).isDefined
      key = s"$path:$n"
      if !whitelist.exists(w => s"$key:$line".contains(w))
    } yield s"$key: $t"
  }

  test("no Dataset.rdd on a lazy lineage (AQE eagerly finalizes and " +
      "can execute upstream stages the DataFrame ops never reuse)") {
    val hits = offenders("""\.rdd\b""", whitelist = Set(
      // BPE vocab frame is localCheckpoint(true)-materialized two
      // lines above: .rdd on a checkpointed frame reads a partition
      // count off live blocks, no plan finalization, no recompute
      "val nPart = v.rdd.getNumPartitions"))
    assert(hits.isEmpty,
      "Dataset.rdd in src/main (read the partition count from the " +
        "plan or file listing instead):\n" + hits.mkString("\n"))
  }

  test("no catch on bare NoSuchElementException (an NSEE escaping " +
      "other machinery must propagate — throw a dedicated sentinel)") {
    val hits = offenders("""case\s+_?\w*\s*:\s*NoSuchElementException""")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no scalar udf() in src/main (functions or native Expressions " +
      "only — UDFs break codegen and hide from the optimizer)") {
    val hits = offenders("""\budf\(""")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no silent catch-all in engine/ops/streaming (map precise " +
      "failure types; a swallowed Throwable hid the round-13 expiry " +
      "ambiguity)") {
    val scoped = Seq("engine", "ops", "streaming")
    // wildcard-bound only: `case t: Throwable => ...; throw t` is
    // cleanup-then-rethrow, not a swallow — the class being pinned is
    // the DISCARDED failure
    val hits = offenders("""case\s+_\s*:\s*(Throwable|Exception)\s*=>""",
      whitelist = Set(
        // corrupt one-line summary file -> re-list from the directory
        // (the fallback recomputes the same answer from ground truth)
        "catch { case _: Exception => None } // corrupt summary -> fallback"))
      .filter(h => scoped.exists(s => h.startsWith(s"src/main/scala/graft/$s/")))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no object-level var in the engine library (a session-global " +
      "mutable knob is an arm production never selects; keep the " +
      "winner, record the measurement)") {
    val scoped = Seq("ops", "engine", "streaming", "functions", "util")
    val hits = offenders("""^  (@volatile )?(private(\[\w+\])? )?var """)
      .filter(h => scoped.exists(s => h.startsWith(s"src/main/scala/graft/$s/")))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no hand-rolled session memo (every per-session memo runs on " +
      "util/TableMemo: one lifecycle, one invalidateAll, and the " +
      "racing-invalidate defence)") {
    val hits = offenders("""WeakHashMap|SoftReference""")
      .filterNot(_.startsWith("src/main/scala/graft/util/TableMemo.scala:"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the engine reads only its three environment variables (an " +
      "env read is a knob production never sets)") {
    val allowed =
      Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_OUT")
    val named = """(?:sys\.env\S*?\(|getenv\()"(\w+)"""".r
    val hits = offenders("""sys\.env|getenv""").filterNot { h =>
      val names = named.findAllMatchIn(h).map(_.group(1)).toSeq
      names.nonEmpty && names.forall(allowed)
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("Bench names rows only in its regime tables (a name-keyed " +
      "branch is a hand-kept list that drifts)") {
    val hits = offenders("""== "q_""")
      .filter(_.startsWith("src/main/scala/graft/Bench.scala:"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("parquet reads in the engine library go through Tables.parquet " +
      "(a plain read starts a schema-inference job per call)") {
    val scoped = Seq("engine", "ops", "streaming", "util")
    val hits = offenders("""\.read\.parquet\(""")
      .filter(h => scoped.exists(s => h.startsWith(s"src/main/scala/graft/$s/")))
      // the helper's own fallback, for a path with no data file
      .filterNot(h => h.startsWith("src/main/scala/graft/engine/Tables.scala:") &&
        h.endsWith("spark.read.parquet(path)"))
      .filterNot(_.contains("mergeSchema"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("streaming reads positional JSON fields from one parse (each " +
      "get_json_object call parses the whole line again)") {
    // a positional path: "$[i]" or '$[i]', or $$[ in an interpolated string
    val hits = offenders("""get_json_object\(.*(\$\$\[|["']\$\[)""")
      .filter(_.startsWith("src/main/scala/graft/streaming/"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
