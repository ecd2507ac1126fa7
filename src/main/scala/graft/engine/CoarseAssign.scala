package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Two-level (coarse-of-coarse) IVF assignment — the cut that takes
  * the index-build/fit assign term from O(n·k) to O(n·√k).
  *
  * With k ~ √n centroids, scoring every vector against every centroid
  * is O(n^1.5) — round-13's deep record read the two heaviest x1000
  * rows (index build 128.3 s, knn fit 131.3 s at 2M vectors, k=1415)
  * as exactly this term. The standard cut (IMI/hierarchical coarse
  * quantizer): cluster the k centroids themselves into √k SUPER
  * centroids (driver-side Lloyd — k is at most a few thousand points,
  * microseconds of arithmetic), register each centroid under its
  * [[overlapR]] nearest supers (soft membership, so a vector near a
  * super-cell boundary still sees its true nearest centroid), then
  * assign in two broadcast passes:
  *
  *   pass 1  vector × √k supers        → argmin super
  *   pass 2  vector × that super's registered centroids (~R·√k)
  *                                     → argmin cell
  *
  * Per-vector work drops from k to (1+R)·√k scorings — ~9× at k=1415,
  * growing as √k/(1+R) with scale. Pass 1 is a broadcast nested-loop
  * fanout collapsed map-side by partial min_by aggregation; pass 2 is
  * a broadcast HASH join on the super id (each candidate centroid
  * scored once — membership rows are (sup, cell) pairs and the
  * vector carries a single sup), and it reuses pass 1's vec_id hash
  * partitioning so the final argmin aggregates without a reshuffle.
  *
  * Assignment is APPROXIMATE at the super-cell boundary (a vector's
  * true argmin centroid can be pruned when it registers under none of
  * the vector's chosen super's members) — the same boundary-error
  * class nprobe already covers by design on the query side; its price
  * (agreement with the exact rule and natural top-10 recall under
  * both rules, at probe scales) is recorded in
  * BASELINE.md "Round-14 two-level (coarse-of-coarse) IVF assign +
  * fit".
  * The pruned plan only runs above [[minK]] centroids; every
  * bench/test-scale corpus (k ≤ 45 at sf0.1) keeps the EXACT rule
  * bitwise-unchanged, so oracle rows and the forced hash-gated
  * witnesses never route through the approximation.
  *
  * Ties and determinism: the coarse Lloyd is seeded and runs on the
  * centroid array in cell-id order, so build (model.clusterCenters)
  * and refresh (committed centroids table, sorted by cell) derive the
  * SAME super structure; both argmins break ties by lowest id via a
  * composite (distance, id) min_by — MLlib findClosest's first-wins
  * rule.
  */
/** The engine's quantizer handle: k centroids as plain double arrays.
  * Replaced MLlib's KMeansModel as fitIvfCellsOn's return type in
  * round 14 — every consumer only ever read `clusterCenters`/`getK`,
  * and the pinned model type forced the fit through MLlib's
  * assign-all Lloyd even at corpus scales where the two-level kernel
  * fits the same quantizer ~10× cheaper ([[CoarseAssign.fitCentroids]]). */
final case class Quantizer(centers: Array[Array[Double]]) {
  def k: Int = centers.length
}

object CoarseAssign {

  /** Pruning threshold on the centroid count. Below it the exact
    * all-centroid rule runs: the two-pass plan only pays when √k is
    * meaningfully smaller than k, and keeping small corpora exact
    * keeps every sf0.001–sf0.1 oracle/witness row byte-identical.
    * 192 ⇒ the pruned path first engages near ~37k vectors. */
  val minK = 192

  /** Soft-membership width: each centroid registers under its
    * `overlapR` nearest super-centroids. Raising it trades pass-2
    * candidate count (~overlapR·√k) for boundary recall. */
  val overlapR = 4

  /** Assignment-side super fan-out: each vector scans the candidate
    * slices of its `superProbes` nearest supers. On the clustered
    * inflated corpus one super lost ~10 recall points vs the exact
    * rule (x30); two restores it — see the probe table in
    * BASELINE.md "Round-14 two-level (coarse-of-coarse) IVF assign +
    * fit". Per-vector scorings stay
    * (1 + superProbes·overlapR)·√k ≪ k. */
  val superProbes = 2

  /** Lloyd passes for the driver-side coarse fit — the quantizer's
    * own fit uses 8 (fitIvfCellsOn); the coarse-of-coarse level is
    * even less placement-sensitive (it only shapes pruning, never
    * the served cell geometry). */
  private val coarseIters = 8

  /** The one squared-distance expression both passes (and the exact
    * path) share — full Σ(u−c)², matching AnnIndex's documented rule
    * term-for-term so exact/pruned disagreements are genuine argmin
    * prunes, never formula drift. */
  private def d2Expr(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (u, c) -> (u - c) * (u - c))," +
      " 0D, (acc, v) -> acc + v)")

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Argmin center index, lowest index wins ties. */
  private def nearest(centers: Array[Array[Double]],
      p: Array[Double]): Int = {
    var best = 0; var bd = sqDist(centers(0), p); var i = 1
    while (i < centers.length) {
      val d = sqDist(centers(i), p)
      if (d < bd) { bd = d; best = i }
      i += 1
    }
    best
  }

  /** The `r` nearest center indices of `p`, ordered by (d², index). */
  private[graft] def nearestIdx(centers: Array[Array[Double]],
      p: Array[Double], r: Int): Array[Int] =
    centers.indices.map(i => (sqDist(centers(i), p), i))
      .sortBy(identity).take(r).map(_._2).toArray

  /** Seeded driver-side Lloyd over the k centroid points. An empty
    * super keeps its previous center (harmless: if no centroid ever
    * registers under it, [[pruned]] drops it from the probe table). */
  private[graft] def lloyd(points: Array[Array[Double]], kSuper: Int,
      seed: Long): Array[Array[Double]] = {
    val dim = points.head.length
    val rnd = new scala.util.Random(seed)
    val centers =
      rnd.shuffle(points.indices.toList).take(kSuper)
        .map(i => points(i).clone).toArray
    var it = 0
    while (it < coarseIters) {
      val sums = Array.fill(centers.length)(new Array[Double](dim))
      val counts = new Array[Long](centers.length)
      var p = 0
      while (p < points.length) {
        val b = nearest(centers, points(p))
        val s = sums(b); val v = points(p)
        var d = 0
        while (d < dim) { s(d) += v(d); d += 1 }
        counts(b) += 1
        p += 1
      }
      var c = 0
      while (c < centers.length) {
        if (counts(c) > 0) {
          val s = sums(c)
          var d = 0
          while (d < dim) { s(d) /= counts(c); d += 1 }
          centers(c) = s
        }
        c += 1
      }
      it += 1
    }
    centers
  }

  /** The coarse structure behind the pruned assign, flattened for the
    * [[graft.functions.IvfCellAssign]] kernel. `cents` in any order —
    * sorted by cell id here so both call sites (build's
    * model.clusterCenters, refresh's committed centroid table) derive
    * ONE deterministic structure. A super nobody registered under is
    * dropped (it could still be a vector's argmin but would have no
    * candidates); every surviving super carries ≥ 1 member, so the
    * kernel can never return -1. */
  /** EXACT-argmin structure: one synthetic super holding every cell,
    * superProbes = 1 — the kernel then scores a vector against ALL k
    * centroids with its strict-< lowest-cell-id tie-break (MLlib
    * findClosest first-wins) and its degenerate-row fallback. The
    * sub-minK fit path (round-14) rides this: at small k the exact
    * scan is batch·k and pruning buys nothing, but the kernel's
    * codegen'd scoring + broadcast reuse replace a per-row HOF. */
  private[graft] def exactStructureOf(cents: Array[(Int, Array[Double])])
      : graft.functions.IvfAssignStructure = {
    // loud, named failure (round-15 ADVICE): an empty committed
    // centroid table used to surface as the old crossJoin plan's
    // empty assignment; the kernel path would otherwise throw a bare
    // NoSuchElementException off sorted.head
    require(cents.nonEmpty,
      "exactStructureOf: no centroids — the committed centroid table " +
        "is empty; build/refresh the quantizer before assigning")
    val sorted = cents.sortBy(_._1)
    val dim = sorted.head._2.length
    val memberOff = Array(0, sorted.length)
    val memberCell = sorted.map(_._1)
    val memberFlat = new Array[Double](sorted.length * dim)
    for ((p, i) <- sorted.map(_._2).zipWithIndex)
      System.arraycopy(p, 0, memberFlat, i * dim, dim)
    graft.functions.IvfAssignStructure(
      dim, new Array[Double](dim) /* one zero super */, memberOff,
      memberCell, memberFlat, superProbes = 1)
  }

  private[graft] def structureOf(cents: Array[(Int, Array[Double])])
      : graft.functions.IvfAssignStructure = {
    val sorted = cents.sortBy(_._1)
    val points = sorted.map(_._2)
    val dim = points.head.length
    val kSuper = math.max(2, math.ceil(math.sqrt(points.length.toDouble)).toInt)
    val supers = lloyd(points, kSuper, seed = 42L)
    val memb = points.map(ce => nearestIdx(supers, ce, overlapR))
    val populated = memb.flatten.distinct.sorted
    val remap = populated.zipWithIndex.toMap
    val members = Array.fill(populated.length)(
      scala.collection.mutable.ArrayBuffer.empty[Int])
    // `sorted` ascends by cell id, so each slice appends in ascending
    // cell order — the kernel's strict-< argmin then breaks ties to
    // the lowest cell id (MLlib findClosest first-wins)
    for (i <- points.indices; s <- memb(i)) members(remap(s)) += i
    val supFlat = new Array[Double](populated.length * dim)
    for ((orig, dense) <- populated.zipWithIndex)
      System.arraycopy(supers(orig), 0, supFlat, dense * dim, dim)
    val memberOff = new Array[Int](populated.length + 1)
    for (s <- members.indices) memberOff(s + 1) = memberOff(s) + members(s).size
    val total = memberOff.last
    val memberCell = new Array[Int](total)
    val memberFlat = new Array[Double](total * dim)
    var m = 0
    for (s <- members.indices; i <- members(s)) {
      memberCell(m) = sorted(i)._1
      System.arraycopy(points(i), 0, memberFlat, m * dim, dim)
      m += 1
    }
    graft.functions.IvfAssignStructure(
      dim, supFlat, memberOff, memberCell, memberFlat, superProbes)
  }

  /** Two-level pruned assign. `vectors` must carry (vec_id, e) — the
    * kernel unit-normalizes the raw embedding itself (bitwise the
    * unitNormE result, minus the HOF's per-row allocations); `cents`
    * is the full (cell id, centroid) set, any order. Returns
    * (vec_id, e, cell), one row per input vector — a MAP-ONLY plan:
    * the broadcast structure rides to executors once and the kernel
    * runs inside the scan's codegen span, no fanout, no shuffle. (A
    * first cut expressed the two passes as crossJoin+min_by DataFrame
    * stages; the round-14 assign probe measured the HOF scoring ~40×
    * slower per comparison than primitive-array arithmetic — see
    * IvfCellAssign's scaladoc.) */
  def pruned(vectors: DataFrame,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    val spark = vectors.sparkSession
    vectors
      .withColumn("cell",
        graft.functions.IvfCellAssign(spark, col("e"), structureOf(cents)))
      .select(col("vec_id"), col("e"), col("cell"))
  }

  /** Two-level Lloyd: the quantizer FIT with the pruned kernel on
    * every assignment step — the term left standing after the pruned
    * corpus assign landed (round-14 build split at x1000: MLlib fit
    * 52.4 s vs pruned corpus assign 3.0 s; the fit's 8 Lloyd passes
    * each score the 100k-capped sample against all k centroids). Each
    * pass: rebuild the coarse structure over the CURRENT centers
    * (driver-side, microseconds), kernel-assign the cached sample,
    * and take per-cell means in one pass with the VectorAvg
    * aggregator (no posexplode fan-out). An empty cell keeps its
    * previous center. Init is k sample rows in seeded-hash order —
    * the random init BASELINE.md "Round-13 IVF quantizer init:
    * k-means|| retired for random" records.
    *
    * `sample` must carry (vec_id, e). Runs only in the ≥ [[minK]]
    * regime (fitIvfCellsOn keeps MLlib's fit below it), so every
    * small-scale oracle/witness row still rides MLlib bitwise. */
  private[graft] def fitCentroids(sample: DataFrame, k: Int,
      iters: Int = 8, seed: Long = 42L): Array[Array[Double]] = {
    val spark = sample.sparkSession
    import spark.implicits._
    // unit-normalize once and cache: every Lloyd pass re-reads this
    // (column stays named `e` — the kernel's internal renormalization
    // of an already-unit vector is numerically a no-op). NATIVE
    // normalizer, same as the corpus-side call sites: the HOF form
    // THROWS under ANSI on a zero-norm sample vector (one degenerate
    // corpus row must not kill the whole ≥minK fit — the exact
    // failure mode UnitNorm exists for; its NaNs route through the
    // kernel's degenerate-row fallback instead), and this frame is
    // re-scanned once per Lloyd pass.
    // a degenerate row (zero/non-finite norm → NaN unit vector) is
    // DROPPED from the fit sample rather than fed to Lloyd: picked as
    // an init center or averaged into a cell mean it would poison a
    // whole super's geometry, and the quantizer it helps shape never
    // serves it anyway (corpus assign routes it via the kernel
    // fallback). Evaluated once into the persisted blocks.
    val su = sample
      .select(col("vec_id"),
        graft.functions.UnitNorm(spark, col("e")).as("e"))
      .where(not(expr("exists(e, x -> isnan(x))")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-iteration registrations pin their broadcast structures via
    // the function registry; snapshot so they can be dropped after the
    // loop (each is consumed by its own collect) without touching a
    // registration an outer plan still needs
    val before = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_ivf_assign_")).toSet
    try {
      var centers = su
        .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id")).limit(k)
        .select(col("e")).collect().map(_.getSeq[Double](0).toArray)
      val dim = centers.head.length
      val avg = graft.functions.VectorAvg(dim)
      var it = 0
      while (it < iters) {
        val st = structureOf(
          centers.zipWithIndex.map { case (c, i) => (i, c) })
        val means = su
          .withColumn("cell",
            graft.functions.IvfCellAssign(spark, col("e"), st))
          .select(col("cell"), col("e")).as[(Int, Seq[Double])]
          .groupByKey(_._1).mapValues(_._2).agg(avg.toColumn)
          .collect()
        val next = centers.clone()
        for ((cell, m) <- means if m.nonEmpty) next(cell) = m.toArray
        centers = next
        it += 1
      }
      centers
    } finally {
      su.unpersist()
      val reg = spark.sessionState.functionRegistry
      reg.listFunction().filter(f =>
        f.funcName.startsWith("graft_ivf_assign_") &&
          !before.contains(f.funcName))
        .foreach(reg.dropFunction)
    }
  }

  /** The exact all-centroid rule over the same driver-side centroid
    * array — the reference arm for specs/probes comparing the pruned
    * plan against ground truth on a shared fixture. Production exact
    * paths (AnnIndex.assign below minK, fitIvfCellsOn's
    * model.transform) keep their own unchanged code. */
  private[graft] def exactOn(vectors: DataFrame,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val centsDf = cents.sortBy(_._1)
      .map { case (cell, ce) => (cell, ce.toSeq) }.toSeq.toDF("cell", "ce")
    vectors.crossJoin(broadcast(centsDf))
      .withColumn("d2", d2Expr("unit", "ce"))
      .groupBy(col("vec_id"))
      .agg(first(col("e")).as("e"), first(col("unit")).as("unit"),
        min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
      .select(col("vec_id"), col("e"), col("unit"), col("cell"))
  }
}
