package graft.util

/** Memoized written-artifact registry per (session, dir) — ONE copy of
  * the lifecycle idiom every session memo in the engine shares
  * (islands summary, Z-ordered skip table, DML fixture, shredded
  * events, shard table, tokenizer artifact, bucketed join tables,
  * canonical entities, incremental-dedup snapshot, cluster labels,
  * ANN index; softly held: IVF cells, PQ codes, KMeans fit). The
  * written-table shape exists because a persisted frame dies under
  * the bench/anchor harnesses' per-query cache clearing, while a
  * written parquet/VersionedTable survives and costs one scan.
  *
  * Lifecycle rules the helper centralizes (each was a hand-propagated
  * fix across the former per-site copies):
  *  - WEAK session key + session-free values, so a dropped session
  *    becomes collectable (a value referencing the session would pin
  *    the key forever);
  *  - builds SERIALIZE on the per-session map: TrieMap.getOrElseUpdate
  *    may evaluate a racing first caller's builder twice, and the
  *    loser's fully-written table would leak untracked (the round-4
  *    memo rule);
  *  - invalidation clears the memo AND evicts every tracked value
  *    (deleting the written tables), so it reclaims disk, not just
  *    the pointer — without it a regenerated fixture dir in-session
  *    would silently serve stale data;
  *  - getOrBuild DETECTS a racing invalidate(): an invalidate landing
  *    between map capture and build completion either deleted the
  *    path we are about to hand out, or missed a table we just
  *    finished writing (orphaned forever in a cleared map) — both
  *    are caught by re-checking that our per-session map is still
  *    the registered one, evicting the orphan, and rebuilding under
  *    the fresh map.
  *
  * `onEvict(session, value)` releases a value's external resources —
  * the plain-paths form ([[TableMemo.paths]]) deletes the directory;
  * the bucketed-tables site additionally drops catalog entries. The
  * session argument may be null/stopped when eviction outlives it.
  * In-memory values (a fitted frame, which references its session)
  * sit behind a SoftReference with a no-op eviction
  * ([[TableMemo.soft]]): a strong value would pin the weak key.
  *
  * Every memo registers itself on construction, so
  * [[TableMemo.invalidateAll]] reaches all of them without a
  * hand-kept list.
  */
final class TableMemo[V](
    onEvict: (org.apache.spark.sql.SparkSession, V) => Unit) {
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[String, V]])

  /** The memoized value for `dir`, running `build` on first call. */
  @annotation.tailrec
  def getOrBuild(spark: org.apache.spark.sql.SparkSession, dir: String)(
      build: => V): V = {
    val perSession = cache.computeIfAbsent(spark,
      _ => scala.collection.concurrent.TrieMap.empty[String, V])
    val v = perSession.synchronized {
      perSession.getOrElseUpdate(dir, build)
    }
    // racing-invalidate check: if invalidate() ran since we captured
    // perSession, the cache no longer maps this session to it — `v`
    // is then either already deleted (hand-out would crash the
    // caller) or an untracked orphan (leaked forever). Evict and
    // rebuild under the currently-registered map.
    if (cache.synchronized(cache.get(spark)) eq perSession) v
    else {
      perSession.synchronized(perSession.remove(dir))
      onEvict(spark, v) // idempotent: a path the invalidate already
      // deleted just re-deletes a missing dir
      getOrBuild(spark, dir)(build)
    }
  }

  /** The memoized value for `dir` if one was already built this
    * session — never builds. The dispatch test a serve entry runs
    * before deciding between a committed-artifact read and its
    * fallback computation (the committedAnnIndex idiom): a map
    * lookup, free when empty.
    *
    * Race caveat: unlike getOrBuild, peek cannot defend the HANDED-OUT
    * value — an invalidate() landing after this returns deletes the
    * table out from under the caller. Dispatch callers must treat a
    * failed use of the peeked value as a MISS (fall back to their
    * non-dispatched regime), not a query failure. */
  def peek(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Option[V] =
    Option(cache.synchronized(cache.get(spark))).flatMap(_.get(dir))

  /** Evicts ONE (session, dir) entry — the stale-snapshot drop a
    * fingerprint-gated dispatch needs (round-12 ADVICE): a full
    * invalidate() there would delete every other dir's still-fresh
    * snapshot in a multi-dir session and force their rebuilds. No-op
    * when the entry is absent (a racing invalidate already took it —
    * eviction is idempotent either way). */
  def evict(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    Option(cache.synchronized(cache.get(spark)))
      .flatMap(m => m.synchronized(m.remove(dir)))
      .foreach(onEvict(spark, _))

  /** Clears the memo and evicts every value it tracked. */
  def invalidate(): Unit = {
    val entries = cache.synchronized {
      val es = scala.jdk.CollectionConverters.SetHasAsScala(
        cache.entrySet()).asScala
        .map(e => e.getKey -> e.getValue.values.toList).toList
      cache.clear()
      es
    }
    entries.foreach { case (spark, vs) => vs.foreach(onEvict(spark, _)) }
  }

  // last, so invalidateAll never sees a half-constructed memo
  TableMemo.registry.add(this)
}

object TableMemo {
  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[TableMemo[_]]()

  /** Invalidates every memo constructed so far — the "nothing served
    * from a memo" reset a harness runs before each timed query. */
  def invalidateAll(): Unit = registry.forEach(_.invalidate())

  /** The common form: values are written-table paths; eviction deletes
    * the directory. */
  def paths(): TableMemo[String] =
    new TableMemo[String]((_, p) => Fs.deleteRecursively(p))

  /** The in-memory form: values are softly held, so memory pressure
    * can break the value -> session path; eviction does nothing (it
    * does not unpersist a cached frame). Read through [[getOrBuildSoft]]. */
  def soft[V](): TableMemo[java.lang.ref.SoftReference[V]] =
    new TableMemo[java.lang.ref.SoftReference[V]]((_, _) => ())

  /** The live value for `key`, rebuilding when the soft reference was
    * cleared — a cleared entry is evicted, never handed out as null.
    * A value built by this call is held strongly until it is returned,
    * so a collection right after the build cannot force a second one. */
  @annotation.tailrec
  def getOrBuildSoft[V <: AnyRef](
      memo: TableMemo[java.lang.ref.SoftReference[V]],
      spark: org.apache.spark.sql.SparkSession, key: String)(
      build: => V): V = {
    var built: Option[V] = None
    val ref = memo.getOrBuild(spark, key) {
      built = Some(build)
      new java.lang.ref.SoftReference(built.get)
    }
    Option(ref.get()).orElse(built) match {
      case Some(v) => v
      case None =>
        memo.evict(spark, key)
        getOrBuildSoft(memo, spark, key)(build)
    }
  }
}
