package graft.util

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

class TableMemoSpec extends SparkTestBase {

  test("getOrBuild survives a racing invalidate: no stale path handed out, no orphaned table") {
    val memo = TableMemo.paths()
    val builtPaths = scala.collection.mutable.ArrayBuffer.empty[String]
    def build(): String = {
      val p = Fs.tempDir("graft_memo_race")
      Files.writeString(Paths.get(p, "marker"), "x")
      builtPaths.synchronized { builtPaths += p }
      p
    }
    // plain lifecycle first: build memoizes, invalidate deletes
    val p1 = memo.getOrBuild(spark, "k")(build())
    assert(memo.getOrBuild(spark, "k")(build()) == p1, "second call memoizes")
    assert(builtPaths.size == 1)
    memo.invalidate()
    assert(!Files.exists(Paths.get(p1)), "invalidate must reclaim the table")

    // the deterministic race the helper exists to close: a build that
    // is MID-FLIGHT when invalidate() clears the cache. Without the
    // map-identity re-check the builder's result would register in the
    // orphaned per-session map — returned to the caller but untracked
    // by any future invalidate (a multi-GB leak), or, under the other
    // interleaving, already deleted when handed out.
    val entered = new java.util.concurrent.CountDownLatch(1)
    val resume = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.atomic.AtomicReference[String]()
    val t = new Thread(() => got.set(memo.getOrBuild(spark, "k") {
      entered.countDown()
      resume.await()
      build()
    }))
    t.start()
    entered.await()
    memo.invalidate() // lands while the build holds the per-map lock
    resume.countDown()
    t.join()
    val served = got.get()
    // the caller got a LIVE table...
    assert(served != null && Files.exists(Paths.get(served, "marker")),
      "racing getOrBuild must hand out a live table")
    // ...which is the post-invalidate REBUILD, not the orphaned result
    // of the mid-invalidate build (builds: seed, orphaned, rebuild)
    assert(builtPaths.size == 3,
      s"orphaned mid-invalidate build must be discarded: $builtPaths")
    assert(served == builtPaths.last)
    assert(!Files.exists(Paths.get(builtPaths(1))),
      "the orphaned build's table must be deleted, not leaked")
    // ...and the served table is TRACKED: the next invalidate reclaims it
    memo.invalidate()
    assert(!Files.exists(Paths.get(served)),
      "the rebuilt table must be registered in the live map")
  }

  test("invalidateAll evicts every registered memo") {
    val memos = Seq(TableMemo.paths(), TableMemo.paths())
    val written = memos.zipWithIndex.map { case (m, i) =>
      m.getOrBuild(spark, s"k$i") {
        val p = Fs.tempDir("graft_memo_all")
        Files.writeString(Paths.get(p, "marker"), "x")
        p
      }
    }
    assert(written.forall(p => Files.exists(Paths.get(p))))
    TableMemo.invalidateAll()
    assert(written.forall(p => !Files.exists(Paths.get(p))),
      s"invalidateAll must delete every memo's table: $written")
    assert(memos.zipWithIndex.forall { case (m, i) =>
      m.peek(spark, s"k$i").isEmpty })
  }

  test("a soft-valued entry whose reference was cleared is rebuilt, " +
      "never handed out as null") {
    val memo = TableMemo.soft[String]()
    var builds = 0
    def get() = TableMemo.getOrBuildSoft(memo, spark, "k") {
      builds += 1
      new String(s"v$builds")
    }
    val first = get()
    assert(first == "v1" && (get() eq first), "a live value memoizes")
    // what memory pressure does to the memoized reference
    memo.peek(spark, "k").get.clear()
    val second = get()
    assert(second == "v2", "a cleared reference must trigger a rebuild")
    assert(memo.peek(spark, "k").exists(_.get() eq second),
      "the rebuilt value must replace the cleared entry")
    memo.invalidate()
  }
}
