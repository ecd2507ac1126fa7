package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, versioned ANN index — similarity search as a SERVABLE
  * ARTIFACT instead of a per-session computation.
  *
  * `annIvf` (graft.ops.Llm) fits its IVF quantizer per session; a
  * 100 TB similarity-serving deployment instead commits the index —
  * (centroids, cell assignments) — as [[VersionedTable]]s, serves
  * probes from the READ path (no fit anywhere near a query), and
  * refreshes incrementally as new vectors land. Layout under `dir`:
  *
  *   dir/centroids   cell INT, ce ARRAY<DOUBLE>      (k ~ sqrt(n) rows)
  *   dir/cells       vec_id LONG, e ARRAY<DOUBLE>, cell INT
  *   dir/cells_delta vec_id LONG, e ARRAY<DOUBLE>, cell INT, seq LONG
  *                   (unfolded streaming-ingest tail — see refreshDelta)
  *
  * The assignments snapshot is committed clustered+sorted by `cell`,
  * so a probe's `cell IN (...)` predicate prunes row groups via
  * parquet min/max stats — the single-dir stand-in for the
  * partition-pruned layout (`partitionBy(cell)`) a multi-TB index
  * would use. Centroids change only on [[build]] (a rebuild); a
  * [[refresh]] assigns new vectors to the EXISTING centroids and
  * merges them into the cells table through the race-safe
  * [[Merge.mergeVersioned]] — the standard IVF ingest motion (accept
  * quantizer drift between nightly/weekly rebuilds, never refit on
  * the query or ingest path).
  *
  * Assignment uses MLlib KMeans' own rule — argmin squared euclidean
  * distance, first index wins ties. Below CoarseAssign.minK centroids
  * it is expressed as codegen'd column arithmetic over the broadcast
  * centroid table; above, refresh routes through the SAME two-level
  * pruned kernel the build used (CoarseAssign.pruned) — either way a
  * vector re-ingested by refresh lands in exactly the cell `build`
  * gave it. Probing mirrors `annIvf`: the query's own cell plus the
  * nprobe-1 next centroids by centroid cosine.
  */
object AnnIndex {

  /** Thrown by a commitMerge derive closure when its base table
    * vanished between the caller's isDefined check and the derive (a
    * racing rebuild deletes deltaDir outright) — the precise signal
    * "nothing left to evict". A dedicated sentinel instead of catching
    * NoSuchElementException around the whole commit call: an NSEE
    * escaping any OTHER part of the 30-attempt commit machinery must
    * propagate, not be silently treated as a vanished base (round-13
    * ADVICE — in remove() that silence would leave the retired vector
    * serving from the overlay). */
  private final class VanishedBase extends RuntimeException
    with scala.util.control.NoStackTrace

  def centroidsDir(dir: String) = s"$dir/centroids"
  def cellsDir(dir: String) = s"$dir/cells"

  /** The unfolded-ingest DELTA table beside the cells table — the
    * LSM shape that makes streaming refresh BATCH-bound instead of
    * corpus-bound (BASELINE.md "Round-13 index/serving-family deep
    * record": [[refresh]]'s full-table COW merge read 7.8 s at x30 →
    * 18.8 s at x100 for a CONSTANT 2k-vector batch; at 100 TB that
    * is a full index rewrite per micro-batch). [[refreshDelta]] appends
    * here in O(batch + delta), current-version reads overlay it
    * latest-wins, and [[foldDelta]] — the nightly maintenance motion
    * beside compactPartitioned — folds it into the cells table with ONE
    * full merge per maintenance window instead of one per trigger. */
  def deltaDir(dir: String) = s"$dir/cells_delta"

  /** Every cells commit records WHICH centroids version assigned its
    * cell ids (sidecar `_CENTROIDS_V<cellsVersion>` in the cells
    * dir), so a time-traveled query resolves a CONSISTENT
    * (centroids, cells) pair. Without it a pinned query after a
    * rebuild ranks the NEW quantizer's centroids but scans the OLD
    * quantizer's cell ids — degraded-to-garbage probes, exactly on
    * the path the rebuild-window scaladoc recommends as the
    * mitigation. */
  private def recordCentroidVersion(spark: SparkSession, dir: String,
      cellsVersion: Long, centroidsVersion: Long): Unit =
    VersionedTable.atomicWrite(spark, cellsDir(dir),
      s"_CENTROIDS_V$cellsVersion", centroidsVersion.toString)

  /** Read a one-number sidecar under `tableDir` — the shared idiom
    * behind every lineage pointer here (centroid-pair and PQ). */
  private def sidecarLong(spark: SparkSession, tableDir: String,
      name: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(tableDir, name)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  private[graft] def centroidVersionFor(spark: SparkSession, dir: String,
      cellsVersion: Long): Option[Long] =
    sidecarLong(spark, cellsDir(dir), s"_CENTROIDS_V$cellsVersion")

  /** Fit the IVF quantizer on `embRaw` (vec_id, e) and commit the
    * index. Returns the committed cells version.
    *
    * Rebuild visibility window: centroids commit BEFORE cells, so a
    * probe landing between the two commits ranks against the new
    * centroids while scanning the previous quantizer's cell ids —
    * degraded recall for that instant, never an error, and the next
    * cells commit closes it. A deployment that cannot tolerate the
    * window serves probes from PINNED versions (query's `version`
    * arg — which resolves the MATCHING centroids snapshot via the
    * per-version sidecar) and flips the pin after both commits land.
    *
    * `partitionedLayout = true` declares `partitionBy(cell)` as the
    * cells table's layout (VersionedTable `_PART_COLS`): the multi-TB
    * serving shape where a probe's `cell IN (...)` prunes whole
    * partition directories at planning time, and every later
    * refresh/remove commit preserves it. The default single-dir
    * layout (clustered + sorted by cell) still prunes row groups via
    * parquet min/max stats — right for indexes small enough that
    * per-cell directories would mean tiny files. */
  def build(spark: SparkSession, embRaw: DataFrame, dir: String,
      partitionedLayout: Boolean = false): Long = {
    // a rebuild requantizes: any unfolded delta's cell ids are stale
    // under the new centroids, and the rebuild SOURCE supersedes the
    // index contents — clear it (fold first if the delta holds
    // vectors the rebuild source lacks)
    graft.util.Fs.deleteRecursively(deltaDir(dir))
    val (model, cells) = graft.ops.Llm.fitIvfCellsOn(spark, embRaw)
    import spark.implicits._
    val centDf = model.centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "ce")
    val centV = VersionedTable.commit(centDf, centroidsDir(dir))
    if (partitionedLayout)
      VersionedTable.setPartitionColumns(spark, cellsDir(dir), Seq("cell"))
    // cluster + sort by cell: row-group stats then prune probe scans
    // (partitioned layout: one file per cell directory instead)
    val cellsV =
      try VersionedTable.commit(
        cells.select(col("vec_id"), col("e"), col("cell"))
          .repartition(col("cell")).sortWithinPartitions(col("cell")),
        cellsDir(dir))
      // fitIvfCellsOn persists the cells frame for its memoized
      // (cellCache) consumers; this direct invocation fully consumes
      // it in the commit above — release it rather than pin one cache
      // entry per index build for the session lifetime
      finally cells.unpersist()
    recordCentroidVersion(spark, dir, cellsV, centV)
    cellsV
  }

  /** MLlib's assignment rule over a broadcast centroid frame:
    * argmin ||unit(e) - c||^2 = argmin (||c||^2 - 2 u.c), first cell
    * index wins ties. One broadcast join + a max_by aggregation —
    * map-side, no corpus shuffle beyond the per-vector k-row fanout. */
  private def assign(newVectors: DataFrame, centroids: DataFrame): DataFrame = {
    // the scoring work is batch x k HOF evaluations, but the INPUT
    // partition count is whatever the batch source happened to have —
    // a small refresh batch lands as 1-2 parquet files and the whole
    // O(batch * sqrt(n)) scoring runs in one task (BASELINE.md
    // "Round-13 index/serving-family deep record": the delta-refresh
    // row read task-spread ~2000 at x1000 with 35 tasks — a
    // single-core hotspot on a 32-core host).
    // Spread under-parallel batches across the cores; the repartition
    // shuffles only the BATCH (tiny by contract) and the k-fold
    // scoring then runs wide. Wide batches keep their layout. The
    // width probe reads the LOGICAL plan's file listing, never
    // Dataset.rdd: under AQE, .rdd finalizes the adaptive plan and can
    // eagerly execute upstream shuffle stages whose work the
    // subsequent DataFrame operators do not reuse (round-13 ADVICE) —
    // a caller-supplied batch with non-trivial lineage would compute
    // twice. File-backed batches report their file count (a small
    // refresh batch lands as 1-2 files); a non-file lineage reports
    // zero files and is spread unconditionally — the shuffle still
    // moves only the batch.
    val spark = newVectors.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val nf = newVectors.inputFiles.length
    val spreadIn =
      if (nf == 0 || nf * 2 < par) newVectors.repartition(par) else newVectors
    // above CoarseAssign.minK centroids the two-level pruned rule
    // takes over (O(batch·√k) scorings instead of O(batch·k)) — the
    // count on the k-row centroid table resolves from parquet footer
    // metadata. Below the threshold the exact rule runs UNCHANGED, so
    // refresh keeps landing vectors in exactly the cell build's
    // model.transform gave them at every bench/test scale.
    val cents = centroids.select(col("cell"), col("ce")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    if (cents.length >= CoarseAssign.minK)
      return CoarseAssign.pruned(
        spreadIn.select(col("vec_id"), col("e")), cents)
    // EXACT kernel below the threshold (round-14): the former plan was
    // a per-row unitNormE HOF + crossJoin(centroids) fanout + a min_by
    // groupBy SHUFFLE — batch·k interpreted HOF evaluations and an
    // exchange, for the same argmin the native kernel computes map-only
    // (same Σ(u−c)² index order, same strict-< lowest-cell-id tie rule
    // as min_by over (d2, cell) — bitwise the same cells; AnnIndexSpec
    // pins refresh-vs-build identity). The centroid collect also
    // subsumes the former count() regime probe (k rows by contract).
    val st = CoarseAssign.exactStructureOf(cents)
    spreadIn.select(col("vec_id"), col("e"))
      .withColumn("cell",
        graft.functions.IvfCellAssign(spark, col("e"), st))
  }

  /** Incrementally admit `newVectors` (vec_id, e): assign against the
    * CURRENT centroids, then MERGE into the cells table — an existing
    * vec_id is re-assigned (update), a new one inserts. commitMerge
    * re-derives on a concurrent-writer race, so two ingest jobs
    * cannot lose each other's vectors. Returns the new version. */
  def refresh(spark: SparkSession, newVectors: DataFrame, dir: String): Long = {
    val centV = VersionedTable.currentVersion(spark, centroidsDir(dir))
      .getOrElse(throw new IllegalStateException(
        s"no committed centroids in $dir — build the index first"))
    val centroids = VersionedTable.read(spark, centroidsDir(dir), Some(centV))
    val assigned = assign(newVectors, centroids)
      .select(col("vec_id"), col("e"), col("cell"))
    // maxAttempts 30: refresh is the streaming-ingest motion (a
    // starved-out commit inside foreachBatch kills the query), and it
    // races the maintenance loop's compact/expire commits — the
    // incrDedupBatch rationale
    val v = Merge.mergeVersioned(spark, cellsDir(dir), assigned, Seq("vec_id"),
      Seq(
        Merge.MatchedUpdate(None,
          Map("e" -> col("s.e"), "cell" -> col("s.cell"))),
        Merge.NotMatchedInsert(None, Map(
          "vec_id" -> col("s.vec_id"), "e" -> col("s.e"),
          "cell" -> col("s.cell")))),
      maxAttempts = 30)
    recordCentroidVersion(spark, dir, v, centV)
    // reconcile the ingest delta: a vec_id previously admitted through
    // refreshDelta and now re-ingested here must not keep serving its
    // STALE delta row (the overlay is latest-wins and the delta would
    // win) — and foldDelta would later overwrite this merge's value
    // with the older one. Merge-then-evict order: the vector is
    // reachable at every instant (briefly via the superseded delta
    // row), never invisible.
    if (VersionedTable.currentVersion(spark, deltaDir(dir)).isDefined)
      // the table can vanish between the isDefined check and the
      // derive (a racing rebuild deletes deltaDir outright): a None
      // base then means there is nothing left to evict — complete the
      // refresh instead of dying mid-eviction (round-13 review). The
      // sentinel keeps the catch precise (see VanishedBase).
      try VersionedTable.commitMerge(spark, deltaDir(dir),
          maxAttempts = 30) {
        baseOpt => baseOpt.getOrElse(throw new VanishedBase).join(
          newVectors.select(col("vec_id")), Seq("vec_id"), "left_anti")
      }
      catch { case _: VanishedBase => () }
    v
  }

  /** BATCH-BOUND incremental admission — the streaming-regime face of
    * [[refresh]]: assign against the current centroids exactly as
    * refresh does, but land the assigned rows in the DELTA table
    * ([[deltaDir]]) instead of merging the corpus-sized cells table.
    * Cost per call is O(batch + unfolded delta) — bounded by the
    * [[foldDelta]] cadence, never by the index size. Admitted vectors
    * are immediately servable: current-version [[query]]/[[queryPq]]
    * reads overlay the delta latest-wins (a re-ingested vec_id's
    * delta row supersedes its cells row). Each append stamps a
    * monotone `seq` so the fold can truncate EXACTLY what it folded —
    * a refresh racing the fold keeps its rows. Returns the new delta
    * version. */
  def refreshDelta(spark: SparkSession, newVectors: DataFrame,
      dir: String): Long = {
    val centV = VersionedTable.currentVersion(spark, centroidsDir(dir))
      .getOrElse(throw new IllegalStateException(
        s"no committed centroids in $dir — build the index first"))
    val centroids = VersionedTable.read(spark, centroidsDir(dir), Some(centV))
    val assigned = assign(newVectors, centroids)
      .select(col("vec_id"), col("e"), col("cell"))
    // seq must be monotone across DELTA GENERATIONS, not just within
    // one: max(seq)+1 over the live rows resets to 0 after a fold
    // drains the table, and a repeated (vec_id, seq) pair would let a
    // later foldDelta(upTo = <old version>) truncate a never-folded
    // row (silent loss). The high-water sidecar is the floor the
    // live-row maximum cannot provide.
    var used = -1L
    val v = VersionedTable.commitMerge(spark, deltaDir(dir),
        maxAttempts = 30) { baseOpt =>
      // the HWM read lives INSIDE the derive (re-read per attempt):
      // read once outside, a fold draining the table between the read
      // and this writer's winning commit would hand back a stale
      // floor and liveNext=0 — reusing a folded seq (round-13
      // review). Per-attempt, the commit-serialization re-derives
      // against the post-fold state, and foldDelta itself bumps the
      // mark to the folded maximum, so the drained-table floor is
      // always current by the time an attempt wins.
      val hwm = sidecarLong(spark, deltaDir(dir), "_SEQ_HWM")
      val liveNext = baseOpt.fold(0L)(base =>
        base.agg(coalesce(max(col("seq")) + 1, lit(0L))).head().getLong(0))
      used = math.max(liveNext, hwm.fold(0L)(_ + 1))
      baseOpt.fold(assigned.withColumn("seq", lit(used))) { base =>
        base.join(assigned.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .unionByName(assigned.withColumn("seq", lit(used)))
      }
    }
    // monotone even across a racing writer: never move the mark back
    val prior = sidecarLong(spark, deltaDir(dir), "_SEQ_HWM")
    if (prior.forall(_ < used))
      VersionedTable.atomicWrite(spark, deltaDir(dir),
        "_SEQ_HWM", used.toString)
    VersionedTable.atomicWrite(spark, deltaDir(dir),
      s"_CENTROIDS_V$v", centV.toString)
    v
  }

  /** Fold the unfolded delta (up to delta version `upTo`, default
    * current) into the cells table with ONE [[refresh]]-shaped merge,
    * then truncate exactly the folded rows — the (vec_id, seq) pairs
    * of the folded snapshot — so a [[refreshDelta]] that landed after
    * the snapshot was taken survives the truncation. No-op (None) on
    * an absent/never-written delta. Returns the new cells version. */
  def foldDelta(spark: SparkSession, dir: String,
      upTo: Option[Long] = None): Option[Long] =
    VersionedTable.currentVersion(spark, deltaDir(dir)).flatMap { cur =>
      val d = upTo.getOrElse(cur)
      // an explicit watermark older than the retained history means a
      // PRIOR fold already folded (and expired) that version — the
      // retried maintenance job's correct outcome is the idempotent
      // no-op, not a read failure (round-13 review: the keepLast=2
      // expiry below would otherwise fail any retry whose recorded
      // watermark predates two newer folds). Expiry is detected
      // EXPLICITLY against the retained-version listing — the former
      // catch-all around the read mapped a transient IO error or a
      // corrupt snapshot on a perfectly retained version to the same
      // silent no-op (round-13 ADVICE); genuine read failures now
      // propagate to the caller like every other table read here.
      // the listing check races a concurrent fold's expiry: version d
      // can vanish between the listing and the eager read (or the
      // isEmpty action). The catch below is gated on RE-CHECKING the
      // listing — only a CONFIRMED expiry maps to the idempotent
      // no-op; a transient IO error or corrupt snapshot on a version
      // that is still retained propagates like every other read here
      // (the round-13 ADVICE discrimination, kept closed).
      val snapOpt =
        if (upTo.isDefined &&
            !VersionedTable.versions(spark, deltaDir(dir)).contains(d)) None
        else
          try {
            val df = VersionedTable.read(spark, deltaDir(dir), Some(d))
            // empty-fold short-circuit: a maintenance window with zero
            // ingest since the last fold must not churn a cells
            // version, a centroid sidecar, a codes sync, and a no-op
            // truncation commit
            if (df.isEmpty) None else Some(df)
          } catch {
            case _: Exception
                if upTo.isDefined &&
                  !VersionedTable.versions(spark, deltaDir(dir))
                    .contains(d) =>
              None
          }
      if (snapOpt.isEmpty) None
      else Some {
        val snap = snapOpt.get
        val cellsV = Merge.mergeVersioned(spark, cellsDir(dir),
          snap.select(col("vec_id"), col("e"), col("cell")), Seq("vec_id"),
          Seq(
            Merge.MatchedUpdate(None,
              Map("e" -> col("s.e"), "cell" -> col("s.cell"))),
            Merge.NotMatchedInsert(None, Map(
              "vec_id" -> col("s.vec_id"), "e" -> col("s.e"),
              "cell" -> col("s.cell")))),
          maxAttempts = 30)
        // lineage: delta rows were assigned under the centroid version
        // the delta sidecar recorded (build() clears the delta, so one
        // delta lifetime never spans two quantizers)
        val centV = sidecarLong(spark, deltaDir(dir), s"_CENTROIDS_V$d")
          .orElse(VersionedTable.currentVersion(spark, centroidsDir(dir)))
          .getOrElse(throw new IllegalStateException(
            s"no centroid lineage for delta v$d in $dir"))
        recordCentroidVersion(spark, dir, cellsV, centV)
        // a PQ layer syncs BEFORE the delta truncates: folded vectors
        // must be reachable (coded or overlaid) at every instant — sync
        // first means a probe between the two steps sees them in BOTH
        // (the overlay anti-join dedups); truncate-first would open a
        // window where they are in NEITHER
        if (VersionedTable.currentVersion(spark, pqCodesDir(dir)).isDefined)
          syncCodes(spark, dir)
        // bump the seq floor to the folded maximum: a refreshDelta
        // writer that died between its merge commit and its own
        // _SEQ_HWM write left rows whose seq the sidecar never
        // recorded — once this fold drains them, a stale floor plus
        // liveNext=0 would let the next writer REUSE a folded seq,
        // and a later watermarked truncation would silently eat its
        // never-folded rows (round-13 review). The folded max covers
        // every seq this fold retired; rows landing after the
        // snapshot keep the live maximum above it. The bump lands
        // BEFORE the truncation commit: a fold dying between a
        // truncation-first commit and the sidecar write would drain
        // the dead writer's rows yet leave the stale floor — the next
        // refreshDelta would see liveNext=0 plus the old mark and
        // reuse a folded seq (round-13 ADVICE). Raising the floor
        // first is safe even if the fold then fails: the write is
        // monotone, and the un-truncated live rows keep liveNext at
        // or above foldedMax+1.
        val foldedMax = snap.agg(max(col("seq"))).head().getLong(0)
        if (sidecarLong(spark, deltaDir(dir), "_SEQ_HWM")
            .forall(_ < foldedMax))
          VersionedTable.atomicWrite(spark, deltaDir(dir),
            "_SEQ_HWM", foldedMax.toString)
        VersionedTable.commitMerge(spark, deltaDir(dir), maxAttempts = 30) {
          baseOpt =>
            val base = baseOpt.getOrElse(snap.limit(0))
            base.join(snap.select(col("vec_id"), col("seq")),
              Seq("vec_id", "seq"), "left_anti")
        }
        // every refreshDelta commits an O(delta) snapshot version; the
        // fold is the natural place to drop that history (delta
        // versions are ingest plumbing, not a time-travel surface —
        // currentDelta always reads the head)
        VersionedTable.expireVersions(spark, deltaDir(dir), keepLast = 2)
        cellsV
      }
    }

  /** The current unfolded delta, if the table exists — the overlay
    * CURRENT-version reads apply. Pinned (time-traveled) reads never
    * overlay: a pinned version addresses a committed historical
    * snapshot, the delta is the not-yet-folded present. */
  private def currentDelta(spark: SparkSession, dir: String)
      : Option[DataFrame] =
    VersionedTable.currentVersion(spark, deltaDir(dir))
      .map(v => VersionedTable.read(spark, deltaDir(dir), Some(v)))

  /** Retire vectors from the index — the GDPR/retention motion: one
    * MatchedDelete merge keyed on vec_id, committed as a new cells
    * version (older versions still carry the vector for time travel
    * until `VersionedTable.expireVersions` drops them — the same
    * contract as Delta DELETE, where hard erasure = delete + vacuum).
    * Unknown ids are no-ops. Centroids are untouched: removal never
    * refits the quantizer, so the sidecar records the same centroid
    * version the previous cells version used. */
  def remove(spark: SparkSession, vecIds: Seq[Long], dir: String): Long = {
    import spark.implicits._
    // the surviving rows keep their cell ids, so the matching
    // centroid version is the PREVIOUS cells version's — not
    // necessarily the current centroids (a rebuild may be mid-flight)
    val centV = VersionedTable.currentVersion(spark, cellsDir(dir))
      .flatMap(prev => centroidVersionFor(spark, dir, prev))
      .orElse(VersionedTable.currentVersion(spark, centroidsDir(dir)))
      .getOrElse(throw new IllegalStateException(
        s"no committed index in $dir — build it first"))
    val src = vecIds.distinct.toDF("vec_id")
    // the unfolded delta first: an overlay row left behind would
    // resurrect the vector the cells-side delete just retired. The
    // refresh() rationale for the catch: a racing rebuild can delete
    // deltaDir between the check and the derive, and a vanished base
    // means nothing to evict — the cells-side delete below must still
    // run (round-13 review: dying here left the retired vector
    // serving).
    if (VersionedTable.currentVersion(spark, deltaDir(dir)).isDefined)
      try VersionedTable.commitMerge(spark, deltaDir(dir),
          maxAttempts = 30) {
        baseOpt => baseOpt.getOrElse(throw new VanishedBase)
          .join(src, Seq("vec_id"), "left_anti")
      }
      catch { case _: VanishedBase => () }
    val v = Merge.mergeVersioned(spark, cellsDir(dir), src, Seq("vec_id"),
      Seq(Merge.MatchedDelete(None)))
    recordCentroidVersion(spark, dir, v, centV)
    v
  }

  /** Index-coherent retention across ALL FOUR tables: expire codes
    * then cells history down to `keepLast` versions (cells floored by
    * every retained codes version's pinned `_CELLS_V` snapshot, so a
    * pinned queryPq on live codes history always re-ranks), drop the
    * dropped versions' lineage sidecars, and expire every centroids /
    * codebook version no RETAINED consumer references (pre-sidecar
    * versions conservatively pin everything). This is the
    * hard-erasure half of [[remove]] — after it, a removed vector is
    * gone from every reachable snapshot — and the maintenance face a
    * weekly-rebuild deployment schedules beside
    * [[VersionedTable.compactPartitioned]]. */
  def expire(spark: SparkSession, dir: String, keepLast: Int): Unit = {
    val f = new org.apache.hadoop.fs.Path(cellsDir(dir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // PQ layer FIRST, if built: which codes versions survive decides
    // which cells snapshots their pinned lineage still needs — every
    // RETAINED codes version's _CELLS_V reference must outlive cells
    // retention, or a pinned queryPq on a still-listed codes version
    // dies on the re-rank (the same reader-snapshot rule Delta's
    // vacuum honors). Cells history thus lives exactly as long as a
    // live codes version pins it; expiring the codes version releases
    // its floor on the next expire.
    val cellsFloor: Option[Long] =
      if (VersionedTable.currentVersion(spark, pqCodesDir(dir)).isEmpty) None
      else {
        VersionedTable.expireVersions(spark, pqCodesDir(dir), keepLast)
        val retainedCodes = VersionedTable.versions(spark, pqCodesDir(dir))
        // drop dropped-prefix lineage sidecars only (strictly older
        // than every retained version): a concurrent sync may have
        // committed a NEWER version + sidecars after `retainedCodes`
        // was read, and a bare not-in-retained filter would delete
        // that live lineage.
        f.listStatus(new org.apache.hadoop.fs.Path(pqCodesDir(dir))).toSeq
          .map(_.getPath)
          .filter(p => p.getName.startsWith("_CODEBOOK_V") ||
            p.getName.startsWith("_CELLS_V"))
          .filter(p => retainedCodes.nonEmpty &&
            p.getName.dropWhile(!_.isDigit).toLong < retainedCodes.min)
          .foreach(p => f.delete(p, false))
        // codebook versions no retained codes version references
        // expire below the oldest still-referenced version. The floor
        // goes through the keepFrom overload (applied against the
        // expire call's OWN listing): the former count arithmetic
        // (keepLast = listed - prefix) computed against a listing
        // taken before the call, so a concurrent buildPq/refresh
        // committing in between shifted the keep-newest window and
        // could expire the oldest still-referenced codebook.
        val cbRefs = retainedCodes
          .map(v => pqSidecar(spark, dir, "_CODEBOOK_V", v))
        // a pre-lineage codes version names no codebook — keep all
        // history rather than guess (dropping is irreversible; the
        // cells floor below is the opposite trade because a floor
        // only ever ADDS protection)
        if (cbRefs.nonEmpty && cbRefs.forall(_.isDefined))
          VersionedTable.expireVersions(spark, codebookDir(dir),
            keepLast = 1, keepFrom = Some(cbRefs.flatten.min))
        val cellRefs = retainedCodes
          .map(v => pqSidecar(spark, dir, "_CELLS_V", v))
        // floor on every cells version a retained codes version can
        // NAME: requiring all sidecars present made one lost/cleaned
        // sidecar drop the floor for every pinned reader (a
        // sidecar-carrying retained codes version's cells snapshot
        // could expire and its pinned queryPq die at the re-rank). A
        // pre-lineage codes version still pins nothing it can name —
        // that gap is unknowable either way.
        if (cellRefs.flatten.nonEmpty) Some(cellRefs.flatten.min) else None
      }
    // the floor is applied inside expireVersions against ITS OWN
    // listing, so a refresh committing concurrently cannot shift the
    // keep-newest window past a pinned snapshot
    VersionedTable.expireVersions(spark, cellsDir(dir), keepLast, cellsFloor)
    val retained = VersionedTable.versions(spark, cellsDir(dir))
    val refs = retained.map(v => centroidVersionFor(spark, dir, v))
    // drop sidecars whose cells version no longer exists. Only the
    // dropped PREFIX (strictly older than every retained version) is
    // eligible: a concurrent refresh may have committed a NEWER
    // version + sidecar after `retained` was read, and a bare
    // not-in-retained filter would delete that live pair's sidecar.
    f.listStatus(new org.apache.hadoop.fs.Path(cellsDir(dir))).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("_CENTROIDS_V"))
      .filter(p => retained.nonEmpty &&
        p.getName.stripPrefix("_CENTROIDS_V").toLong < retained.min)
      .foreach(p => f.delete(p, false))
    // drop centroid versions below the oldest one a retained cells
    // version references, through the race-proof keepFrom overload
    // (the codebook rule above: the former count arithmetic against a
    // pre-call listing could expire a still-referenced version when a
    // refresh committed concurrently). A retained pre-sidecar cells
    // version gives no reference — keep all history rather than guess.
    if (refs.nonEmpty && refs.forall(_.isDefined))
      VersionedTable.expireVersions(spark, centroidsDir(dir),
        keepLast = 1, keepFrom = Some(refs.flatten.min))
  }

  // ------------------------------------------------------------- PQ layer

  def codebookDir(dir: String) = s"$dir/codebook"
  def pqCodesDir(dir: String) = s"$dir/codes"

  /** Each codes commit records which codebook encoded it and which
    * cells version it reconciled against (sidecars `_CODEBOOK_V<v>` /
    * `_CELLS_V<v>` in the codes dir) — the same coherence idiom as
    * the centroids sidecar: a pinned PQ query must score old codes
    * with the OLD codebook and re-rank against the cells snapshot
    * those codes were synced to, or quantization error silently
    * becomes garbage. */
  private def recordPqLineage(spark: SparkSession, dir: String,
      codesVersion: Long, codebookVersion: Long, cellsVersion: Long): Unit = {
    VersionedTable.atomicWrite(spark, pqCodesDir(dir),
      s"_CODEBOOK_V$codesVersion", codebookVersion.toString)
    VersionedTable.atomicWrite(spark, pqCodesDir(dir),
      s"_CELLS_V$codesVersion", cellsVersion.toString)
  }

  private def pqSidecar(spark: SparkSession, dir: String, prefix: String,
      codesVersion: Long): Option[Long] =
    sidecarLong(spark, pqCodesDir(dir), s"$prefix$codesVersion")

  private def readCodebook(spark: SparkSession, dir: String,
      version: Option[Long]): (Array[Double], Int, Int, Int) = {
    val r = VersionedTable.read(spark, codebookDir(dir), version)
      .select(col("m"), col("ks"), col("sub"), col("cb")).head()
    (r.getAs[scala.collection.Seq[Double]](3).toArray,
      r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** The encode frame for `cells` rows under a codebook, already in
    * the commit layout (clustered + sorted by cell): unit
    * normalization + the SHARED Llm.pqEncodeExpr, plus an xxhash64 of
    * the raw vector so [[syncCodes]] can detect in-place vector
    * updates without storing floats in the codes table.
    *
    * The cell repartition sits BETWEEN the normalization and the
    * encode projection on purpose: the exchange materializes `unit`
    * once per row, where a single collapsed projection would inline
    * the normalization HOF into every `element_at(unit, ...)` of the
    * encoder — m*ks*sub interpreted re-evaluations of an O(dim)
    * expression per row (measured: minutes for 200 rows at dim 64).
    * The shuffle is one we pay anyway for the clustered layout. */
  private def encode(cells: DataFrame, cb: Array[Double],
      m: Int, ks: Int, sub: Int): DataFrame =
    cells
      // NATIVE normalizer (round-14): bitwise the HOF's doubles
      // (UnitNormSpec pins it) without the per-row CodegenFallback
      // allocations — this is the whole-corpus encode pass, the same
      // term the round-14 build split priced at ~30 s/x1000 on the
      // cells materialization
      .withColumn("unit",
        graft.functions.UnitNorm(cells.sparkSession, col("e")))
      .withColumn("ehash", xxhash64(col("e")))
      .select(col("vec_id"), col("cell"), col("unit"), col("ehash"))
      .repartition(col("cell")).sortWithinPartitions(col("cell"))
      // NATIVE encoder (round-15): bitwise the HOF pqEncodeExpr's
      // codes (PqEncodeSpec pins it) — the last CodegenFallback HOF
      // in the PQ path; the codebook rides the expression reference,
      // not a per-row literal column
      .withColumn("codes", graft.functions.PqEncode(
        cells.sparkSession, col("unit"), cb, m, ks, sub))
      .select(col("vec_id"), col("cell"), col("codes"), col("ehash"))

  /** Fit and commit the PQ layer over the CURRENT cells snapshot:
    * codebook (driver-side Lloyd on a seeded sample — see
    * Llm.fitPqCodebooks) as its own versioned table, then the full
    * corpus encoded as (vec_id, cell, codes, ehash), clustered by
    * cell like the cells table. A rebuild (new codebook) re-encodes
    * everything — codes from different codebooks are incomparable,
    * which is exactly what the per-version lineage sidecars pin. */
  def buildPq(spark: SparkSession, dir: String,
      fitCap: Int = 4096, ks0: Int = 16): Long = {
    val cellsV = VersionedTable.currentVersion(spark, cellsDir(dir))
      .getOrElse(throw new IllegalStateException(
        s"no committed cells in $dir — build the index first"))
    val cells = VersionedTable.read(spark, cellsDir(dir), Some(cellsV))
    // native normalizer + dim read from the collected sample itself:
    // the former separate `select(size(unit)).head()` probe was a
    // whole extra job ahead of the sample collect (round-14)
    val unit = cells.withColumn("unit",
      graft.functions.UnitNorm(spark, col("e")))
    val total = cells.count()
    val sample = (if (total > fitCap)
        unit.sample(withReplacement = false,
          fraction = fitCap.toDouble / total, seed = 42L)
      else unit)
      .select(col("unit")).limit(fitCap).collect()
      .map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    require(sample.nonEmpty, s"buildPq: no vectors in committed cells at $dir")
    val dim = sample.head.length
    val (m, sub) = graft.ops.Llm.pqGeometry(dim)
    val ks = math.min(ks0, sample.length)
    val cb = graft.ops.Llm.fitPqCodebooks(sample, m, ks, 12, seed = 42L)
    import spark.implicits._
    val cbV = VersionedTable.commit(
      Seq((m, ks, sub, cb.toSeq)).toDF("m", "ks", "sub", "cb"),
      codebookDir(dir))
    val codesV = VersionedTable.commit(
      encode(cells, cb, m, ks, sub), pqCodesDir(dir))
    recordPqLineage(spark, dir, codesV, cbV, cellsV)
    codesV
  }

  /** Incrementally reconcile the codes table to the CURRENT cells
    * snapshot under the CURRENT codebook: vectors new to cells
    * insert, vectors whose cell or raw bytes changed re-encode,
    * vectors gone from cells delete — the merge SOURCE is the
    * delta only (plus delete markers), so a steady-state sync
    * encodes nothing and commits nothing (returns the current codes
    * version untouched). This is the maintenance motion that follows
    * any sequence of [[refresh]]/[[remove]]: cells first, then codes
    * catch up. */
  def syncCodes(spark: SparkSession, dir: String): Long = {
    val codesV = VersionedTable.currentVersion(spark, pqCodesDir(dir))
      .getOrElse(throw new IllegalStateException(
        s"no committed codes in $dir — buildPq first"))
    val cbV = pqSidecar(spark, dir, "_CODEBOOK_V", codesV)
      .getOrElse(throw new IllegalStateException(
        s"codes v$codesV has no codebook sidecar"))
    val (cb, m, ks, sub) = readCodebook(spark, dir, Some(cbV))
    val cellsV = VersionedTable.currentVersion(spark, cellsDir(dir))
      .getOrElse(throw new IllegalStateException(
        s"no committed cells in $dir"))
    val cells = VersionedTable.read(spark, cellsDir(dir), Some(cellsV))
      .withColumn("ehash", xxhash64(col("e")))
    val codes = VersionedTable.read(spark, pqCodesDir(dir), Some(codesV))
      .select(col("vec_id"), col("cell").as("c_cell"),
        col("ehash").as("c_ehash"))
    // delta: rows missing from codes or with a changed cell/vector
    val changed = cells.join(codes, Seq("vec_id"), "left")
      .filter(col("c_cell").isNull ||
        col("c_cell") =!= col("cell") || col("c_ehash") =!= col("ehash"))
      .select(col("vec_id"), col("e"), col("cell"))
    // rows gone from cells (retired vectors)
    val gone = codes.join(cells.select(col("vec_id")), Seq("vec_id"),
      "left_anti").select(col("vec_id"))
    val encoded = encode(changed, cb, m, ks, sub)
      .withColumn("op", lit("u"))
    val source = encoded.unionByName(
      gone.select(col("vec_id"),
        lit(null).cast(encoded.schema("cell").dataType).as("cell"),
        lit(null).cast(encoded.schema("codes").dataType).as("codes"),
        lit(null).cast("bigint").as("ehash"), lit("d").as("op")))
      .localCheckpoint(true)
    if (source.isEmpty) return codesV
    val v = Merge.mergeVersioned(spark, pqCodesDir(dir), source,
      Seq("vec_id"),
      Seq(
        Merge.MatchedDelete(Some(col("s.op") === "d")),
        Merge.MatchedUpdate(Some(col("s.op") === "u"), Map(
          "cell" -> col("s.cell"), "codes" -> col("s.codes"),
          "ehash" -> col("s.ehash"))),
        Merge.NotMatchedInsert(Some(col("s.op") === "u"), Map(
          "vec_id" -> col("s.vec_id"), "cell" -> col("s.cell"),
          "codes" -> col("s.codes"), "ehash" -> col("s.ehash")))))
    recordPqLineage(spark, dir, v, cbV, cellsV)
    v
  }

  /** The probe rule shared VERBATIM by [[query]] and [[queryPq]] (the
    * spec-pinned "ADC serve == exact serve" equivalence rides on the
    * two paths probing identical cells): load the metadata-sized
    * centroid table at `centVersion`, assign the query its own cell
    * (argmin euclid, first index wins — MLlib's rule), rank the rest
    * by centroid cosine, probe own + nprobe-1 next. Returns (probed
    * cell ids, unit-normalized query). */
  private def selectProbes(spark: SparkSession, dir: String,
      qe: Seq[Double], centVersion: Option[Long])
      : (Seq[Int], Array[Double]) = {
    val centroids = VersionedTable.read(spark, centroidsDir(dir), centVersion)
      .select(col("cell"), col("ce"))
      .collect()
      .map(r => (r.getInt(0),
        r.getAs[scala.collection.Seq[Double]](1).toArray))
      .sortBy(_._1)
    val qn = { var n = 0.0; qe.foreach(x => n += x * x); math.sqrt(n) }
    val qu = qe.map(_ / qn).toArray
    val qcell = centroids.minBy { case (i, c) =>
      var d = 0.0; var j = 0
      while (j < c.length) { val t = qu(j) - c(j); d += t * t; j += 1 }
      (d, i)
    }._1
    val nprobe = math.max(2, math.ceil(centroids.length / 4.0).toInt)
    val ranked = centroids.filter(_._1 != qcell).map { case (i, c) =>
      var dot = 0.0; var n = 0.0; var j = 0
      while (j < c.length) { dot += c(j) * qe(j); n += c(j) * c(j); j += 1 }
      (i, dot / math.sqrt(n))
    }.sortBy(-_._2)
    ((qcell +: ranked.take(nprobe - 1).map(_._1)).toIndexedSeq, qu)
  }

  /** Top-k cosine neighbors served from the COMPRESSED snapshot
    * (IVFADC): centroid ranking exactly as [[query]], ADC scoring
    * over the probed rows of the codes table (m lookups per row, no
    * float vectors touched), exact re-rank of the `shortlist`-row ADC
    * front against the cells snapshot the codes were synced to. A
    * pinned `version` (of the codes table) resolves its matching
    * codebook AND cells version through the lineage sidecars. */
  def queryPq(spark: SparkSession, dir: String, qe: Seq[Double], k: Int = 10,
      version: Option[Long] = None, excludeVecId: Option[Long] = None,
      shortlist: Int = -1): DataFrame = {
    // default re-rank depth: 10x the answer size (>= 100) — the usual
    // IVFADC refinement ratio; still constant-sized against the corpus
    val slist = if (shortlist > 0) shortlist else math.max(10 * k, 100)
    graft.functions.CosineSimilarity.register(spark)
    val codesV = version.orElse(
      VersionedTable.currentVersion(spark, pqCodesDir(dir)))
      .getOrElse(throw new IllegalStateException(
        s"no committed codes in $dir — buildPq first"))
    val cbV = pqSidecar(spark, dir, "_CODEBOOK_V", codesV)
    val cellsV = pqSidecar(spark, dir, "_CELLS_V", codesV)
    val (cb, m, ks, sub) = readCodebook(spark, dir, cbV)
    val centVersion = cellsV.flatMap(v => centroidVersionFor(spark, dir, v))
    val (probes, qu) = selectProbes(spark, dir, qe, centVersion)
    val lut = graft.ops.Llm.pqLut(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(qu), cb, m, ks, sub)
    // CURRENT reads overlay the unfolded ingest delta: delta vectors
    // have no synced codes yet, so they are EXACT-scored (the delta is
    // fold-cadence bounded — a full-precision pass over it costs less
    // than one cell's ADC) and merged into the final top-k, while
    // superseded ids drop from the coded front. Pinned reads stay
    // pure snapshot.
    val deltaOpt =
      if (version.isDefined) None else currentDelta(spark, dir)
    val codes0 = probedCells(spark, pqCodesDir(dir), probes, Some(codesV))
    val codes = deltaOpt.fold(codes0)(dl =>
      codes0.join(broadcast(dl.select(col("vec_id"))),
        Seq("vec_id"), "left_anti"))
    val front = excludeVecId.fold(codes)(id =>
        codes.filter(col("vec_id") =!= id))
      .withColumn("lut", typedlit(lut.toSeq))
      .withColumn("adc", expr(graft.ops.Llm.pqAdcExpr(m, ks)))
      .orderBy(col("adc").asc, col("vec_id"))
      .limit(slist)
      .select(col("vec_id"), col("cell"))
    // floats page in for the shortlist rows only, from the cells
    // snapshot the codes lineage pins — scanned PRUNED to the probed
    // cells (the shortlist is a subset of them by construction), so
    // the re-rank never reads the full float table either
    import spark.implicits._
    val query = Seq(Tuple1(qe)).toDF("qe")
    val cellsTbl = probedCells(spark, cellsDir(dir), probes, cellsV)
      .select(col("vec_id"), col("e"))
    val reranked = front.join(cellsTbl, Seq("vec_id"))
      .crossJoin(broadcast(query))
      .withColumn("cosine", round(expr("cosine_sim(e, qe)"), 6))
      .select(col("vec_id"), col("cell"), col("cosine"))
    val withDelta = deltaOpt.fold(reranked) { dl =>
      val dRows0 = dl.filter(col("cell").isin(probes: _*))
      val dRows = excludeVecId.fold(dRows0)(id =>
        dRows0.filter(col("vec_id") =!= id))
      reranked.unionByName(dRows
        .crossJoin(broadcast(query))
        .withColumn("cosine", round(expr("cosine_sim(e, qe)"), 6))
        .select(col("vec_id"), col("cell"), col("cosine")))
    }
    withDelta
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Top-k cosine neighbors of `qe` served purely from the committed
    * snapshot (optionally time-traveled to `version` of the cells
    * table): centroid ranking on the driver-sized centroid table, a
    * probed-cells scan (row-group-pruned by the sorted layout), and
    * the codegen'd cosine re-score — the `annIvf` probe rule with the
    * FIT replaced by two table reads. */
  /** Probed read of a cell-keyed table: for a `partitionBy(cell)`
    * layout the LISTING itself prunes to the probed directories
    * ([[VersionedTable.readPartitionPruned]]) — a plain read + filter
    * partition-prunes the scan but still file-indexes every cell
    * directory first, a per-query fixed cost that grows with the
    * INDEX (k cells ~ sqrt(n)), not the probe; the flat layout reads
    * normally (row-group stats prune inside the single dir). The
    * `cell IN probes` filter applies on both routes — on the pruned
    * one it is a belt-and-braces re-check of the name parse. */
  private def probedCells(spark: SparkSession, tableDir: String,
      probes: Seq[Int], version: Option[Long]): DataFrame = {
    val want = probes.map(_.toString).toSet
    val base =
      if (VersionedTable.partitionColumns(spark, tableDir).contains("cell"))
        VersionedTable.readPartitionPruned(spark, tableDir, "cell",
          want.contains, version)
      else VersionedTable.read(spark, tableDir, version)
    base.filter(col("cell").isin(probes.toIndexedSeq: _*))
  }

  def query(spark: SparkSession, dir: String, qe: Seq[Double], k: Int = 10,
      version: Option[Long] = None, excludeVecId: Option[Long] = None)
      : DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    // a pinned cells version pins its MATCHING centroids via the
    // per-version sidecar — ranking new-quantizer centroids against
    // old-quantizer cell ids is exactly the inconsistency time travel
    // exists to avoid. Pre-sidecar indexes fall back to current.
    val centVersion = version.flatMap(v => centroidVersionFor(spark, dir, v))
    val (probes, _) = selectProbes(spark, dir, qe, centVersion)
    import spark.implicits._
    val query = Seq(Tuple1(qe)).toDF("qe")
    val cells0 = probedCells(spark, cellsDir(dir), probes, version)
    // CURRENT reads overlay the unfolded ingest delta latest-wins:
    // superseded cells rows drop (anti on ALL delta ids — a vector
    // re-assigned out of a probed cell must vanish from it), delta
    // rows in probed cells join the scan. The delta is fold-cadence
    // bounded, so the anti side broadcasts. Pinned reads stay pure
    // snapshot (see currentDelta).
    val cells = (if (version.isDefined) None else currentDelta(spark, dir))
      .fold(cells0) { dl =>
        cells0.join(broadcast(dl.select(col("vec_id"))),
            Seq("vec_id"), "left_anti")
          .unionByName(dl
            .filter(col("cell").isin(probes: _*))
            .select(col("vec_id"), col("e"), col("cell")))
      }
    excludeVecId.fold(cells)(id => cells.filter(col("vec_id") =!= id))
      .crossJoin(broadcast(query))
      .withColumn("cosine", round(expr("cosine_sim(e, qe)"), 6))
      .select(col("vec_id"), col("cell"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }
}
