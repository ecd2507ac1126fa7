package graft.ops

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** LLM-training-data pipeline operators (SURVEY.md §2.11; BASELINE
  * north star). Not present in the reference — these are the ops a
  * 100 TB corpus pipeline needs, built Spark-first:
  *
  *  - exact + normalized dedup: hash group-by (one shuffle on the
  *    digest, map-side partial);
  *  - n-gram Jaccard near-dup: shingle explode -> self-equi-join on the
  *    shingle -> pair counting. Distributed shape: shuffle keys are
  *    shingles then (d1,d2) pairs — no driver-side n^2;
  *  - MinHashLSH near-dup (MLlib): the 100 TB path — banding turns the
  *    O(n^2) pair space into per-bucket joins;
  *  - SimHash: 64-bit signatures via pure higher-order expressions over
  *    xxhash64 (codegen'd, no UDF), banded for candidate pairing;
  *  - cosine similarity: brute-force top-k (oracle baseline) and
  *    LSH-bucketed ANN (scale path);
  *  - text stats / quality filter / language-ID heuristic /
  *    min-hash document fingerprint.
  *
  * All thresholds compare RAW doubles built from integer counts or
  * identical-order IEEE arithmetic, so Spark and DuckDB agree bitwise
  * (rounding only where aggregation order varies).
  */
object Llm {

  /** Word tokens (single-space split, mirrored by the oracle). */
  private val toksE = "split(text, ' ')"

  /** Distinct 3-gram word shingles over a PRE-BOUND token column `t`.
    *
    * The n-gram windows come from zipping three shifted slices of the
    * bound array — NOT from `element_at(split(text), i)` lambdas: with
    * the split inlined, every element_at re-tokenizes the whole text,
    * making the shingle expression O(tokens^2) per document (measured
    * 20x slower at sf0.1 — it dominated all four shingle-consuming
    * queries, costing more than the LSH joins themselves). */
  private val shinglesE =
    """array_distinct(transform(
         arrays_zip(slice(t, 1, greatest(size(t) - 2, 0)),
                    slice(t, 2, greatest(size(t) - 2, 0)),
                    slice(t, 3, greatest(size(t) - 2, 0))),
         p -> concat_ws(' ', p['0'], p['1'], p['2'])))"""

  /** documents with tokens bound once as column `t`. */
  private def tokenized(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").withColumn("t", expr(toksE))

  /** Shared DuckDB CTE producing (doc_id, s) distinct shingles. */
  private val shingleCte =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       idx AS (
         SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
         FROM toks WHERE len(t) >= 3),
       sh AS (
         SELECT DISTINCT doc_id,
                t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
         FROM idx)"""

  // ---------------------------------------------------------------- dedup

  /** L1: exact dedup on sha-256 of the content. */
  val dedupExact: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))
      .orderBy(col("keep_id"))

  /** L2 (oracle face): dedup on normalized content. Grouping key is
    * the md5 of the normalized text, not the text itself — the shuffle
    * then carries 16-byte digests instead of multi-KB documents (the
    * key is not part of the output, so results are identical modulo
    * md5 collisions). */
  val dedupNorm: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .groupBy(md5(lower(trim(col("text")))).as("k"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))
      .orderBy(col("keep_id"))

  /** Distinct-shingle exploded view: (doc_id, s). */
  private def shingleDf(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .select(col("doc_id"), explode(expr(shinglesE)).as("s"))

  /** L2 exact-pairwise: n-gram Jaccard near-dup pairs (threshold 0.5).
    * Shuffle on shingle, then on the (d1, d2) pair — fully distributed;
    * the 100 TB variant is the MinHashLSH query below. */
  val dedupNgram: Q = (spark, dir) => {
    // the shingle explode feeds three consumers (join sides a/b and
    // the per-doc sizes) — an eager localCheckpoint materializes it
    // once; unlike persist() its blocks are freed by the
    // ContextCleaner when the result frame drops, not pinned in the
    // cache manager for the session lifetime (the mmPhash rule; at
    // cluster scale substitute reliable checkpoint())
    val sh = shingleDf(spark, dir).localCheckpoint(true)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.as("a")
    val b = sh.as("b")
    val inter = a
      .join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("ic"))
    // no broadcast hint on sizes: it has one row per document, which
    // does NOT stay broadcastable at corpus scale — AQE picks the
    // strategy from runtime stats instead
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("n", "na"), Seq("d1"))
      .join(sizes.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("n", "nb"), Seq("d2"))
      .withColumn("jaccard",
        col("ic") * lit(1.0) / (col("na") + col("nb") - col("ic")))
      .filter(col("jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Suffix-style EXACT substring dedup — the third dedup axis real
    * corpus pipelines run beside doc-level (dedupExact) and
    * passage-level (chunkDedup): find doc pairs sharing a verbatim
    * token run of >= 10 tokens and report the longest such run (the
    * distributed formulation of the suffix-array substring dedup of
    * Lee et al. 2022, "Deduplicating Training Data Makes LMs Better").
    *
    * Shape: positional 6-gram windows, hashed to 16-byte md5 digests
    * so the gram shuffle never carries text; equi-join keyed by the
    * GRAM DIGEST (never doc x doc); a shared run of L tokens appears
    * as L-5 consecutive matched positions at a constant alignment
    * delta (pa - pb), merged with the gaps-and-islands window
    * (pa - row_number) partitioned by (pair, delta) — that window only
    * ranges over MATCHED gram pairs, so its cost is bounded by true
    * overlap, not corpus^2. At 100 TB the known hazard is
    * super-frequent grams (boilerplate) fanning out the join — the
    * mitigation is the gramDfCap document-frequency cutoff applied
    * before the join. The whole gram-keyed upstream is consumed via
    * the memoized island-summary table (islandSummaryTable), shared
    * with substrDedupRemove — detection and removal pay it once per
    * session, not once each. */
  val substrDedup: Q = (spark, dir) => {
    islandSummaryTable(spark, dir)
      .groupBy(col("d1"), col("d2"))
      .agg((max(col("m")) + lit(substrN - 1)).cast("int").as("longest_run"))
      .filter(col("longest_run") >= substrMinRun)
      .orderBy(col("d1"), col("d2"))
  }

  /** Gram document-frequency cap for the substring ops. A gram shared
    * by d documents fans the self-join out d^2 rows; genuine
    * duplication keeps d small, but BOILERPLATE (license headers, nav
    * chrome) can put one gram in millions of docs and turn the join
    * quadratic. Grams with df > cap are dropped BEFORE the join —
    * a run present in more than `cap` documents is boilerplate by
    * definition, not a duplication signal (the Lee et al. pipeline
    * applies the same cutoff). Mirrored in both DuckDB oracles, so
    * the cap is itself under the hash gate. */
  private val gramDfCap = 64

  /** Gram width and minimum duplicated-run length for the substring
    * ops — shared by detection, removal, and the memoized island
    * summary they both consume. */
  private val substrN = 6
  private val substrMinRun = 10

  /** Shared core of the substring ops: positional n-gram digests,
    * df-capped gram-digest equi-join (never doc x doc),
    * constant-alignment islands — see substrDedup's scaladoc.
    *
    * The positional gram frame is hash-repartitioned by `g` once. All
    * three gram consumers (df aggregate and both self-join sides)
    * require exactly that distribution, so they share the single
    * exchange via ReuseExchange and the explode+md5 derivation runs
    * once per build instead of once per consumer. It is shuffle
    * files, not storage blocks, so there is no storage-pool pressure:
    * materializing the corpus-positional frame was the spill onset
    * (BASELINE.md "Round-13 substring islands strategy head-to-head"
    * and "Round-14 substring islands at x1000"), and the shared
    * exchange beat recomputing per consumer at x1/x30/x100 with ~25%
    * fewer shuffle bytes (OPTIMIZATION_r15.md §1). Digests are the
    * 16-byte unhex(md5) form; g never leaves the query, so equality
    * of the binary digests is the same predicate as of their hex. */
  private def matchedIslands(spark: SparkSession, dir: String, n: Int)
      : DataFrame = {
    val slices = (0 until n)
      .map(i => s"slice(t, ${i + 1}, greatest(size(t) - ${n - 1}, 0))")
      .mkString(",\n             ")
    val fields = (0 until n).map(i => s"p['$i']").mkString(", ")
    val digest = s"unhex(md5(concat_ws(' ', $fields)))"
    val allGrams = tokenized(spark, dir)
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(
           arrays_zip($slices),
           p -> $digest)""")).as(Seq("pos", "g")))
      .repartition(col("g"))
    // df cap: one gram-keyed aggregate + semi join — rides the same
    // gram-hash shuffle the self-join needs anyway. The rare set is
    // GRAM-CARDINALITY-sized (most grams are rare — that's the point
    // of the cap), so it must NEVER be a broadcast build: the planner
    // sees an aggregate with unknown stats and happily broadcasts
    // what is really a corpus-scale relation — the round-6 capped-heap
    // probe (BASELINE.md "Memory-bounded spill probe (2 GB heap, x10
    // data)") died building exactly that hashed relation. The merge
    // hint pins a sort-merge semi join: fully spillable, and the gram
    // shuffle exists anyway.
    val rare = allGrams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= gramDfCap)
      .select(col("g"))
    val grams = allGrams.join(rare.hint("merge"), Seq("g"), "left_semi")
    val a = grams.as("a")
    val b = grams.as("b")
    // the self-join is pinned sort-merge: with a lazy gram frame, an
    // AQE broadcast pick would BUILD a corpus-scale hashed relation
    // (the round-6 death) and break the both-sides-identical exchange
    // reuse the shared g-exchange depends on
    val matched = a.join(b.hint("merge"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.pos").as("pa"), (col("a.pos") - col("b.pos")).as("delta"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1"), col("d2"), col("delta")).orderBy(col("pa"))
    matched.withColumn("island", col("pa") - row_number().over(w))
  }

  /** Un-memoized island summary — one row per constant-alignment
    * island: (d1, d2, delta, pa0 = first matched gram position in d1,
    * m = matched gram count). This is the expensive shared upstream of
    * BOTH substring ops (gram explode, df cap, digest self-join,
    * islands window); exposed un-memoized so PlansSpec can guard the
    * build plan that memoization moves out of the per-query plans. */
  def substrIslandSummary(spark: SparkSession, dir: String): DataFrame =
    matchedIslands(spark, dir, substrN)
      .groupBy(col("d1"), col("d2"), col("delta"), col("island"))
      .agg(min(col("pa")).as("pa0"), count(lit(1)).as("m"))
      .drop("island")

  /** Memo for the island summary, keyed per (session, dir) — the
    * cluster-labels pattern: a persisted frame dies under Bench's
    * per-query cache clearing, a written parquet table survives and
    * costs one scan. substrDedup and substrDedupRemove both consume
    * it, so the gram-keyed upstream runs once per session, not once
    * per caller (the same recompute weakness the round-3 verdict
    * flagged on clusterRep). Island rows are bounded by TRUE overlap
    * (matched gram runs), so the written table is far smaller than
    * the corpus. */
  private val islandsCache = graft.util.TableMemo.paths()

  /** Clears the memo AND deletes the written island tables — same
    * contract as invalidateClusterLabelCache. */
  def invalidateIslandsCache(): Unit = islandsCache.invalidate()

  private def islandSummaryTable(spark: SparkSession, dir: String)
      : DataFrame =
    Tables.parquet(spark, islandsCache.getOrBuild(spark, dir) {
      val p = graft.util.Fs.tempDir("graft_islands")
      substrIslandSummary(spark, dir).write.mode("overwrite").parquet(p)
      p
    })

  /** Substring REMOVAL — the production decision step on top of
    * substrDedup's detection (the Lee et al. 2022 pipeline removes the
    * shared span, it doesn't just report it): every duplicated token
    * run of >= minRun tokens is EXCISED from the later document of
    * each pair (d2, the larger doc_id), so the earliest occurrence of
    * any span is the one that survives — including transitively, since
    * every pair orients removal away from its earlier member. Emits
    * one row per affected doc: the rebuilt text and how many tokens
    * were cut (both scalar, driver-hashable).
    *
    * Distributed shape: islands stay gram-keyed and arrive via the
    * memoized island-summary table shared with substrDedup;
    * spans, token anti-join, and the rebuild aggregation are all keyed
    * by doc_id — no shuffle ever carries a doc x doc pair space, and
    * the window/aggregations range over matched spans and affected
    * docs only, so cost is bounded by true overlap. The rebuild sorts
    * (pos, token) structs inside the aggregate, not the shuffle, so
    * tokens arrive unordered and leave deterministic. */
  val substrDedupRemove: Q = (spark, dir) => {
    val n = substrN
    val spans = islandSummaryTable(spark, dir)
      .filter(col("m") + lit(n - 1) >= substrMinRun)
      .select(col("d2").as("doc_id"),
        (col("pa0") - col("delta")).as("s"),
        (col("pa0") - col("delta") + col("m") + lit(n - 2)).as("e"))
    val affected = spans.select(col("doc_id")).distinct()
    val toks = tokenized(spark, dir)
      .join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
    val kept = toks.as("t").join(spans.as("sp"),
        col("t.doc_id") === col("sp.doc_id") &&
          col("t.pos") >= col("sp.s") && col("t.pos") <= col("sp.e"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
          " ").as("text_clean"))
    val sizes = tokenized(spark, dir)
      .select(col("doc_id"), size(col("t")).as("n_toks"))
    affected.join(sizes, Seq("doc_id"))
      // a fully-excised doc keeps 0 tokens. merge hint: kept carries
      // the REBUILT FULL TEXT of every affected doc — affected-corpus-
      // sized, never a safe broadcast build (heavy-dup corpora make
      // "affected" a large corpus fraction); the doc_id shuffle it
      // rides is the one the aggregate above already paid
      .join(kept.hint("merge"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        (col("n_toks") - coalesce(col("kept"), lit(0L))).cast("int")
          .as("removed_tokens"))
      .orderBy(col("doc_id"))
  }

  /** L2 at scale: MinHashLSH banding over hashed shingles (MLlib).
    * Rows-only check — MLlib hash families are not SQL-expressible. */
  val dedupMinhash: Q = (spark, dir) => {
    val docs = shingleDocs(Tables(spark, dir, "documents"))
    val tf = new HashingTF()
      .setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18)
    // both sides of the self-join read this frame; materialize it once
    // (eager localCheckpoint, not persist — the mmPhash leak rule)
    val feat = tf.transform(docs).localCheckpoint(true)
    // 3 OR-amplified tables: planted near-dups sit at jaccard ~0.97,
    // so the per-table miss rate is ~3% and 3 tables push the join's
    // miss probability below 1e-4 — more tables only inflate the
    // candidate-pair set this join must score
    val lsh = new MinHashLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(3).setSeed(42)
    val model = lsh.fit(feat)
    model
      .approxSimilarityJoin(feat, feat, 0.5, "jaccard_dist")
      .select(
        col("datasetA.doc_id").as("d1"),
        col("datasetB.doc_id").as("d2"),
        round(col("jaccard_dist"), 4).as("jaccard_dist"))
      .filter(col("d1") < col("d2"))
      .orderBy(col("d1"), col("d2"))
  }

  /** (doc_id, band_idx, band_key) banded MinHash signatures from a
    * (doc_id, shingles) frame — 12 min-hashes in 6 bands of 2.
    * Signatures are a hash AGGREGATE over exploded shingles, not a
    * per-row higher-order loop: min(xxhash64(seed_i, s)) is fully
    * codegen'd and shuffles one row per (doc, 12 longs) — the nested
    * aggregate()-in-transform() form is CodegenFallback and was ~10x
    * slower than the exhaustive join it was meant to beat. Shared by
    * dedupMinhashNative (self-join) and dedupIncremental (snapshot
    * build + new-batch probe), so both populations band identically. */
  private[graft] def bandedSignatures(docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"), explode(col("shingles")).as("s"))
    val sigs = sh.groupBy(col("doc_id")).agg(
      min(xxhash64(lit(0), col("s"))).as("h0"),
      (1 until 12).map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i")): _*)
    sigs.select(col("doc_id"),
      posexplode(array((0 until 6).map(j =>
        concat_ws(",", col(s"h${2 * j}"), col(s"h${2 * j + 1}"))): _*))
        .as(Seq("band_idx", "band_key")))
  }

  /** (doc_id, text) -> (doc_id, shingles), map-only — the shared
    * front half of every MinHash path, factored for callers (the
    * streaming ingest gate) that bring their own documents instead of
    * reading the corpus dir. */
  private[graft] def shingleDocs(docs: DataFrame): DataFrame =
    docs.withColumn("t", expr(toksE))
      .select(col("doc_id"), expr(shinglesE).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** MAP-ONLY equivalent of [[bandedSignatures]]: each per-seed
    * minimum is `array_min(transform(...))` over the row's own
    * shingle array instead of an explode + groupBy re-aggregation.
    * Bitwise the same band keys (same xxhash64 seeds, same
    * concat_ws pairing — LlmSpec asserts equality on the corpus), but
    * with ZERO shuffle and zero aggregation state, which makes it
    * legal in an append-mode streaming plan where a groupBy would
    * demand watermarked state. Batch self-join callers keep
    * [[bandedSignatures]]: after the explode the grouped form shares
    * the shingle rows with the verify joins, while this form
    * re-walks the array 12 times per row. */
  private[graft] def mapOnlyBandedSignatures(docs: DataFrame): DataFrame = {
    val sig = (0 until 12).foldLeft(docs) { (d, i) =>
      d.withColumn(s"h$i",
        expr(s"array_min(transform(shingles, s -> xxhash64($i, s)))"))
    }
    sig.select(col("doc_id"),
      posexplode(array((0 until 6).map(j =>
        concat_ws(",", col(s"h${2 * j}"), col(s"h${2 * j + 1}"))): _*))
        .as(Seq("band_idx", "band_key")))
  }

  /** Native MinHash LSH, pure expressions end to end:
    * 12 min-hashes (xxhash64 seeded by position prefix) -> 6 bands of
    * 2 -> band-bucket candidate join -> EXACT jaccard verification via
    * array_intersect. Because candidates are exactly verified, the
    * output equals the exhaustive `dedupNgram` whenever LSH recall
    * holds (planted dups sit at jaccard ~0.97: per-band match 0.94^1,
    * miss across 6 bands ~2e-8) — so it shares the exact oracle.
    * No MLlib UDF pair scoring; one shuffle on band keys, one on
    * candidate pairs.
    *
    * The (doc_id, shingles) frame feeds three consumers (signature
    * explode, both verify joins) and is NOT materialized: recomputing
    * the map-only derivation per consumer beats holding corpus-sized
    * MEMORY_AND_DISK blocks, which compete with the signature
    * aggregate's execution memory (checkpointing it spilled 4.4 GB at
    * x300 and hit AGGREGATE_OUT_OF_MEMORY at x1000 — BASELINE.md
    * "Round-12 deep-scale probe"). Semi-joining
    * the verify sides against the candidate ids loses too: its extra
    * doc_id shuffle costs more than the derivation it saves
    * (OPTIMIZATION_r15.md §5). The banded self-join's two identical
    * sides share one exchange (ReusedExchange). */
  val dedupMinhashNative: Q = (spark, dir) => {
    val docs = shingleDocs(Tables(spark, dir, "documents"))
    val banded = bandedSignatures(docs)
    val a = banded.as("a")
    val b = banded.as("b")
    val cands = a
      .join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val sa = docs.select(col("doc_id").as("d1"), col("shingles").as("sa"))
    val sb = docs.select(col("doc_id").as("d2"), col("shingles").as("sb"))
    cands
      .join(sa, Seq("d1"))
      .join(sb, Seq("d2"))
      .withColumn("ic", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("ic") * lit(1.0) /
          (size(col("sa")) + size(col("sb")) - col("ic")))
      .filter(col("jaccard") >= 0.5)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** The "prior corpus" of the incremental-dedup scenario: everything
    * except the new batch (doc_id % 5 == 0 is the batch — a fifth of
    * the corpus, the shape of a daily crawl refresh). */
  private val incrBatchPred = col("doc_id") % 5 === 0

  /** Memo for the prior corpus's banded signatures, keyed per
    * (session, dir) — the cluster-labels/islands pattern: a written
    * parquet table (in production: a VersionedTable in the lake that
    * each refresh appends to). Built ONCE per session; every
    * dedupIncremental call after that reads it from disk. */
  private val snapshotSigCache = graft.util.TableMemo.paths()

  /** Clears the memo AND deletes the written snapshot tables — same
    * contract as invalidateIslandsCache. */
  def invalidateSnapshotSigCache(): Unit = snapshotSigCache.invalidate()

  /** Test seam: the on-disk location of the persisted snapshot (None
    * until a dedupIncremental/first call builds it). Specs use it to
    * falsify "signatures are read, not rebuilt" by doctoring the
    * table and observing the query follow the doctored bytes. */
  private[graft] def snapshotSigPath(spark: SparkSession, dir: String)
      : Option[String] = snapshotSigCache.peek(spark, dir)

  private def snapshotSigTable(spark: SparkSession, dir: String)
      : DataFrame = {
    val path = snapshotSigCache.getOrBuild(spark, dir) {
      val p = graft.util.Fs.tempDir("graft_incr_sigs")
      val old = shingleDocs(
        Tables(spark, dir, "documents").filter(!incrBatchPred))
      // a real VersionedTable, not a bare parquet dir: the refresh
      // cycle appends versions (advanceIncrSnapshot) and yesterday's
      // snapshot stays time-travelable
      graft.engine.VersionedTable.commit(bandedSignatures(old), p)
      p
    }
    graft.engine.VersionedTable.read(spark, path)
  }

  /** End-of-refresh snapshot advance: append the NEW batch's banded
    * signatures to the persisted snapshot as the NEXT VersionedTable
    * version — after this, tomorrow's batch dedups against today's
    * full corpus without anything being recomputed (the old sigs are
    * READ from the current version, the batch signs only itself).
    * Yesterday's snapshot remains time-travelable until expired.
    * Returns the new version number. */
  def advanceIncrSnapshot(spark: SparkSession, dir: String): Long = {
    snapshotSigTable(spark, dir) // ensure v0 exists
    advanceIncrSnapshotAt(spark, dir, snapshotSigPath(spark, dir).get)
  }

  /** The explicit-location face of [[advanceIncrSnapshot]] — in a
    * deployment the signature snapshot is a named lake path shared
    * with the streaming ingest gate, not this session's memo dir.
    * Appends the refresh slice's banded signatures to `snapshotPath`. */
  def advanceIncrSnapshotAt(spark: SparkSession, dir: String,
      snapshotPath: String): Long = {
    val newSigs = bandedSignatures(shingleDocs(
      Tables(spark, dir, "documents").filter(incrBatchPred)))
    // read-modify-write with re-derivation (VersionedTable.commitMerge):
    // a streaming gate committing survivors' signatures to this same
    // snapshot serializes with the advance instead of either writer
    // erasing the other's appended rows. allowMissingColumns: a
    // stream-written base carries (writer, epoch) txn columns the
    // batch face doesn't — its rows union in with nulls, which the
    // null-safe gate reads as seed rows.
    graft.engine.VersionedTable.commitMerge(spark, snapshotPath,
      allowEvolution = true) { base =>
      base.map(_.unionByName(newSigs, allowMissingColumns = true))
        .getOrElse(newSigs)
    }
  }

  /** Incremental near-dup dedup against a PRIOR corpus snapshot — the
    * production crawl-refresh motion none of the batch dedup ops
    * cover: the existing corpus's banded MinHash signatures are
    * PERSISTED (snapshotSigTable); a new batch signs ITS OWN docs
    * only, probes the snapshot's band buckets, and exact-verifies the
    * candidate pairs. The old corpus is never re-signed — the only
    * old-side work besides the band-key equi-join is re-shingling the
    * candidate-MATCHED docs for exact verification (semi-join-bounded:
    * at 100 TB that is point lookups by doc_id, not a corpus scan) —
    * so the recurring cost scales with the BATCH, not the corpus.
    * Banding identical to dedupMinhashNative (shared helper), so the
    * same recall argument holds (planted dups >= 0.90 jaccard; band
    * match j^2 per band, miss across 6 bands <= 3e-5) and the exact
    * verification makes precision exact — the oracle is therefore the
    * exhaustive cross-population n-gram Jaccard. Emits (new_id,
    * old_id, jaccard) for every new-batch doc near-duplicating a
    * snapshot doc. */
  val dedupIncremental: Q = (spark, dir) =>
    dedupIncrementalBatch(spark, dir,
      Tables(spark, dir, "documents").filter(incrBatchPred))

  /** Batch docs below this count probe the snapshot with the batch
    * bands BROADCAST (docs x 6 band rows, ~60 MB at the cap): the
    * corpus-sized snapshot then streams map-side through a
    * broadcast-hash join and is NEVER shuffled — the regime that
    * matters at 100 TB, where a daily crawl batch is a fraction of a
    * percent of the corpus and a sort-merge band join would reshuffle
    * the entire snapshot per refresh (BASELINE.md "Round-13
    * index/serving-family deep record": the corpus/5 fixture batch at
    * x1000 shuffled 4.9 GB, and that shuffle was ALL snapshot-side).
    * Above the cap the sort-merge join is correct anyway: a batch that
    * is a sizable fraction of the corpus amortizes the snapshot shuffle
    * over proportionally many probes. */
  private val incrBroadcastDocCap = 250000L

  /** [[dedupIncremental]] with the new batch supplied by the caller —
    * the production signature (a crawl refresh brings its own docs;
    * the fixture entry derives its batch from the corpus predicate).
    * `batchDocs` is (doc_id, text)-shaped. `batchDocCount` lets a
    * production caller whose batch has non-trivial lineage supply the
    * size it already knows — the broadcast-dispatch count below is
    * metadata-cheap only for column-pruned file sources (round-13
    * ADVICE: an arbitrary batch would execute its full lineage once
    * extra just to pick a join strategy). */
  private def dedupIncrementalBatch(spark: SparkSession,
      dir: String, batchDocs: DataFrame,
      batchDocCount: Option[Long] = None): DataFrame = {
    // two consumers of the new batch's shingles (signing + verify):
    // NOT materialized — the derivation is map-only, and checkpointed
    // shingle arrays' storage blocks compete with the signature
    // aggregate's execution memory (the round-12 x1000 wall on the
    // self-join path, BASELINE.md "Round-12 deep-scale probe"; the
    // batch here is corpus/5, which only defers the same wall one
    // factor of 5)
    val newDocs = shingleDocs(batchDocs)
    val newBandsRaw = bandedSignatures(newDocs)
    // count the batch DOCS (column-pruned to doc_id, a metadata-cheap
    // parquet count for the fixture entry), not the band rows — the
    // same dispatch signal without paying a text-column pass on an
    // arbitrary production batch source (round-13 review). A caller
    // that already knows its batch size short-circuits the count.
    val batchN = batchDocCount
      .getOrElse(batchDocs.select(col("doc_id")).count())
    val newBands =
      if (batchN <= incrBroadcastDocCap) broadcast(newBandsRaw)
      else newBandsRaw
    val oldBands = snapshotSigTable(spark, dir) // read, never rebuilt
    val cands = newBands.as("n")
      .join(oldBands.as("o"),
        col("n.band_idx") === col("o.band_idx") &&
          col("n.band_key") === col("o.band_key") &&
          // self-pair guard: after advanceIncrSnapshot the snapshot
          // CONTAINS the batch's own signatures, so without this every
          // batch doc would match itself at jaccard 1.0 (cross-doc
          // pairs against an advanced snapshot are legitimate — the
          // snapshot genuinely holds those docs now)
          col("n.doc_id") =!= col("o.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()
      // the candidate PAIR LIST is batch-bounded (banding admits few
      // old docs per batch doc) and consumed three times (the verify
      // semi join + both final joins): pin it once. This is the
      // materialization the corpus-sized-block rule PERMITS — a tiny
      // frame — and it keeps the band probe (a full snapshot scan
      // under the broadcast dispatch) from re-executing per consumer.
      .localCheckpoint(true)
    val oldSh = tokenized(spark, dir)
      .join(
        // broadcast the matched-id set explicitly: the corpus-sized
        // tokenized scan must stay MAP-SIDE filtered — a sort-merge
        // here reshuffles the corpus per refresh (the round-13
        // const-batch probe read 656 MB of shuffle at x300, all of it
        // this join's corpus side; the id set is candidate-bounded)
        broadcast(cands.select(col("old_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("old_id"), expr(shinglesE).as("so"))
    val newSh = newDocs
      .select(col("doc_id").as("new_id"), col("shingles").as("sn"))
    cands
      .join(newSh, Seq("new_id"))
      .join(oldSh, Seq("old_id"))
      .withColumn("ic", size(array_intersect(col("sn"), col("so"))))
      .withColumn("jaccard",
        col("ic") * lit(1.0) /
          (size(col("sn")) + size(col("so")) - col("ic")))
      .filter(col("jaccard") >= 0.5)
      .select(col("new_id"), col("old_id"), col("jaccard"))
      .orderBy(col("new_id"), col("old_id"))
  }

  /** Near-dup CLUSTERS: connected components over the near-dup pair
    * graph, labeling every member with the minimum doc_id of its
    * component — the step that turns pairwise similarity into an
    * actual keep/drop decision.
    *
    * Iterative min-label propagation with a POINTER-DOUBLING shortcut
    * each round (lbl := label-of-label), so convergence is
    * O(log diameter) rounds instead of O(diameter) — a million-long
    * dup chain converges in ~20 rounds, not a million. Iteration
    * hygiene for corpus-scale edge lists: the superseded round's
    * persisted frame is unpersisted as soon as the new one
    * materializes, and `localCheckpoint()` every 5 rounds truncates
    * the growing lineage (at cluster scale, substitute a reliable
    * `checkpoint()` dir to survive executor loss). If the loop hits
    * the round cap while labels are still moving it THROWS rather
    * than silently emitting wrong clusters.
    *
    * The CONVERGED labels are memoized per (session, dir) as a written
    * parquet table (`convergedLabels`), so dedupClusters and
    * clusterRep share one convergence run per session — clusterRep
    * previously re-derived the entire LSH pair list + propagation
    * loop, doubling the most expensive chain in the bench and
    * maximizing exposure to degraded host windows. A written table
    * (not a cached DataFrame) is the right memo: Bench clears all
    * caches and persistent RDDs between queries, which would kill a
    * checkpoint-backed frame, while a parquet scan of the
    * metadata-sized (doc_id, cluster) table survives and costs ~one
    * file read. At cluster scale this temp dir is a real lake path.
    * Oracle: transitive closure via recursive CTE. */
  val dedupClusters: Q = (spark, dir) =>
    Tables.parquet(spark, convergedLabels(spark, dir)._1)
      .orderBy(col("doc_id"))

  /** Memo: dir -> (written labels path, rounds, edge count). Values
    * are plain strings/numbers (no session reference), so the weakly
    * held session key stays collectable; eviction deletes the labels
    * table. */
  private val labelCache = new graft.util.TableMemo[(String, Int, Long)](
    (_, v) => graft.util.Fs.deleteRecursively(v._1))

  /** Clears the memo AND deletes the written labels tables —
    * invalidation reclaims the disk, not just the pointer (the
    * TableMemo.invalidate contract). */
  def invalidateClusterLabelCache(): Unit = labelCache.invalidate()

  /** Pair-count bound for the LOCAL connected-components path: at or
    * below it the near-dup pair list collects to the driver (16 bytes
    * a pair — 2M pairs = 32 MB, comfortably under maxResultSize) and a
    * union-find labels the graph in one pass; above it the distributed
    * min-label loop runs. The round-14 probe that motivated the
    * dispatch: sf0.1 yields 256 pairs converging in 2 rounds, yet the
    * distributed loop's per-round shuffles+actions cost ~4 s of pure
    * job latency — the same dispatch idiom as embedNeardupExactBound
    * (exact under the bound, scale machinery above it). */
  private[graft] val clusterLocalPairBound = 2000000L

  private def convergedLabels(spark: SparkSession, dir: String)
      : (String, Int, Long) =
    convergedLabelsBounded(spark, dir, clusterLocalPairBound)

  private[graft] def convergedLabelsBounded(spark: SparkSession, dir: String,
      localBound: Long): (String, Int, Long) =
    labelCache.getOrBuild(spark, dir) {
    // pair source is the LSH path (exact-verified, so identical pairs
    // to the exhaustive join) — at corpus scale banding is the only
    // affordable way to produce this edge list
    // both union branches read the (expensive) LSH pair list — cache it
    val pairs = dedupMinhashNative(spark, dir).select(col("d1"), col("d2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one count over the persisted pairs picks the regime; round 1 of
    // the distributed loop re-reads the cached blocks, so the action
    // is not an extra pass
    val nPairs = pairs.count()
    if (nPairs <= localBound) {
      // LOCAL path: union-find with min-label semantics — identical
      // output to the converged min-label propagation by construction
      // (every node's final label is its component's minimum doc_id).
      // Union always hangs the LARGER root under the SMALLER, so every
      // tree root is its component's min id and find() returns the
      // final label directly.
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      // every node that appears in any pair gets a labels row (the
      // distributed loop's population: edges.select(d1).distinct()
      // over both directions) — track them explicitly, since isolated
      // members of already-min components never enter `parent`
      val seen = scala.collection.mutable.LongMap.empty[Boolean]
      // primitive-encoder collect (round-15 ADVICE): Dataset[(Long,
      // Long)] materializes ~16 B a pair on the driver heap where
      // boxed Row objects cost several times that — the 2M-pair bound
      // then means what the scaladoc says it means
      import spark.implicits._
      pairs.as[(Long, Long)].collect().foreach { case (a, b) =>
        seen(a) = true; seen(b) = true
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      val out = seen.keys.toArray.sorted.map(id => (id, find(id))).toSeq
      val path = graft.util.Fs.tempDir("graft_labels")
      out.toDF("doc_id", "cluster")
        .repartition(1) // metadata-sized table, one clean file
        .write.mode("overwrite").parquet(path)
      pairs.unpersist()
      (path, 0, 2 * nPairs)
    } else {
    val edges = pairs
      .unionByName(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("d1").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
    var prevRound: DataFrame = null
    var changed = 1L
    var rounds = 0
    val maxRounds = 50 // ~2^50-diameter graphs; unreachable in practice
    while (changed > 0 && rounds < maxRounds) {
      // step 1: take the min label over graph neighbors
      val neighborMin = edges
        .join(labels, edges("d2") === labels("doc_id"))
        .groupBy(col("d1")).agg(min(col("lbl")).as("nmin"))
      val stepped = labels
        .join(neighborMin, labels("doc_id") === neighborMin("d1"), "left")
        .select(
          col("doc_id"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"),
          // valid convergence test on its own: all-false means every
          // edge already joins equal labels, i.e. components uniform
          (col("nmin") < col("lbl")).as("chg"))
      // step 2 (pointer doubling), engaged from round 3: shortcut
      // lbl := lbl(lbl) — labels are always doc_ids, so the lookup
      // side is `stepped` itself. Typical near-dup graphs (shallow
      // star/clique components) converge in <= 3 plain rounds, and
      // for them the extra self-join is pure overhead; long chains —
      // where plain propagation needs O(diameter) rounds — hit round
      // 3 still moving and from there close in O(log diameter).
      var steppedCached: DataFrame = null
      val roundOut =
        if (rounds < 2) stepped
        else {
          // cache within the round: `stepped` feeds BOTH sides of the
          // shortcut self-join — without this the neighbor-min
          // aggregation runs twice per round
          steppedCached = stepped.withColumnRenamed("chg", "chg1")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val ptr = steppedCached
            .select(col("doc_id").as("p"), col("lbl").as("plbl"))
          steppedCached
            .join(ptr, steppedCached("lbl") === ptr("p"), "left")
            .select(
              col("doc_id"),
              least(col("lbl"), coalesce(col("plbl"), col("lbl"))).as("lbl"),
              (col("chg1") || col("plbl") < col("lbl")).as("chg"))
        }
      val materialized = roundOut
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      changed = materialized.filter(col("chg") === true).count()
      if (steppedCached != null) steppedCached.unpersist()
      // the count() above materialized this round — the previous
      // round's cache is now dead weight
      if (prevRound != null) prevRound.unpersist()
      prevRound = materialized
      labels = materialized.select(col("doc_id"), col("lbl"))
      rounds += 1
      if (rounds % 5 == 0 && changed > 0) {
        // truncate lineage: each round's plan nests the last one's
        labels = labels.localCheckpoint()
        prevRound.unpersist()
        prevRound = null
      }
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"dedupClusters: labels still moving after $maxRounds rounds " +
          s"($changed rows changed) — refusing to emit unconverged clusters")
    val edgeCount = edges.count() // cheap: still persisted
    val path = graft.util.Fs.tempDir("graft_labels")
    labels.select(col("doc_id"), col("lbl").as("cluster"))
      .write.mode("overwrite").parquet(path)
    edges.unpersist()
    pairs.unpersist()
    if (prevRound != null) prevRound.unpersist()
    (path, rounds, edgeCount)
    }
  }

  /** Near-dup cluster REPRESENTATIVE selection — the decision step
    * that turns cluster labels into a dedup action: keep exactly one
    * document per near-dup cluster, preferring the longest text (most
    * content survives) with doc_id as the deterministic tie-break.
    * One window over the (doc, cluster) labels joined to the
    * metadata-sized doc stats; clusters are the LSH-derived components
    * read from the memoized converged-labels table (one parquet scan —
    * the convergence loop runs once per session, not once per
    * caller). */
  val clusterRep: Q = (spark, dir) => {
    val clusters = Tables.parquet(spark, convergedLabels(spark, dir)._1)
    val stats = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    clusters.join(stats, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("doc_id").as("rep_id"), col("n_chars"))
      .orderBy(col("cluster"))
  }

  /** SimHash 64-bit signature. The per-bit ±1 sums are a hash
    * AGGREGATE over exploded tokens — 64 codegen'd conditional sums,
    * one shuffle row of 64 longs per doc — not a nested
    * aggregate()/zip_with() per-row loop (that HOF form is
    * CodegenFallback and allocates two 64-element arrays per token;
    * same lesson as the native MinHash signatures). Values are
    * identical: integer ±1 sums are order-independent. Band key = top
    * 16 bits (the LSH bucketing key for candidate pairing at scale).
    * Rows-only check — xxhash64 differs from DuckDB's hash. */
  val dedupSimhash: Q = (spark, dir) => {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(expr(toksE)).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitAggs = (0 until 64).map(i =>
      sum(when(expr(s"(shiftright(h, $i) & 1) = 1"), 1).otherwise(-1)).as(s"b$i"))
    toks.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _)
          .as("simhash"))
      .withColumn("band",
        expr("CAST(shiftright(simhash, 48) & 65535 AS INT)"))
      .select(col("doc_id"), col("simhash"), col("band"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs: band-bucketed candidate join + hamming
    * distance filter (bit_count of xor). ALL FOUR 16-bit bands of the
    * 64-bit signature generate candidates (OR-amplification): a pair
    * collides if ANY band matches, so pairs within hamming 3 are
    * caught by pigeonhole and the 4-10 range keeps high probability of
    * an undisturbed band. The round-6 recall gate measured the earlier
    * single-band (top-16) form at 0.43 recall on the planted
    * near-dups — half the true pairs happened to differ inside that
    * one window. Shuffle carries (doc, band) rows — 4x the single-band
    * candidates, still never doc x doc. */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    // banding reads the signatures on both join sides — eager
    // localCheckpoint, not persist (the mmPhash leak rule)
    val sigs = dedupSimhash(spark, dir).localCheckpoint(true)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        expr(s"CAST(shiftright(simhash, ${i * 16}) & 65535 AS INT)")): _*))
        .as(Seq("band_idx", "band_key")))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("s1"), col("b.simhash").as("s2"))
      .distinct()
      .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  // ----------------------------------------------------- similarity search

  /** L2 unit normalization of a bound `array<double>` column `e` —
    * shared by every consumer that feeds cosine-tracking euclidean
    * machinery (the IVF quantizer and the near-dup LSH path), so a
    * future zero-norm/NULL guard lands in one place. */
  private[graft] val unitNormE =
    "transform(e, x -> x / sqrt(aggregate(transform(e, y -> y * y)," +
      " 0D, (acc, v) -> acc + v)))"

  private val cosineE =
    """aggregate(zip_with(e, qe, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
       / (sqrt(aggregate(transform(e, x -> x * x), 0D, (acc, v) -> acc + v))
          * sqrt(aggregate(transform(qe, x -> x * x), 0D, (acc, v) -> acc + v)))"""

  /** L3 baseline: brute-force cosine top-k against the vec_id=0 query
    * vector. The query row is broadcast; the scan stays distributed.
    * Scoring uses the native codegen'd `cosine_sim` Expression
    * (graft.functions.CosineSimilarity) — same values as the
    * higher-order `cosineE` form, but inside whole-stage codegen. */
  val cosineTopk: Q = (spark, dir) => {
    graft.functions.CosineSimilarity.register(spark)
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cosine", round(expr("cosine_sim(e, qe)"), 6))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Batch kNN JOIN — every row of a query table gets its k nearest
    * corpus vectors at once (retrieval for RAG eval sets, dedup
    * attribution, nearest-neighbor labeling), where `cosineTopk` is
    * the one-query face. EXACT form: the query side (eval-sized by
    * assumption) broadcasts, each corpus partition scores all queries
    * inside WholeStageCodegen via `cosine_sim`, and the only wide
    * exchange is the |corpus| x |Q| scored stream into a per-query
    * top-k window — ranked on the ROUNDED cosine with a vec_id
    * tie-break so ranks are deterministic cross-engine. At 100 TB
    * corpus the scored stream is the bottleneck; [[knnJoinIvf]] is
    * the probe-pruned scale path. */
  private[graft] def knnJoinOn(queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(queries.sparkSession)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.crossJoin(broadcast(queries))
      // + 0.0 canonicalizes a -0.0 a near-zero negative could round
      // to (the signed-zero oracle-hash class, applied proactively)
      .withColumn("cosine", round(expr("cosine_sim(e, qe)"), 6) + lit(0.0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  val knnJoin: Q = (spark, dir) => {
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    knnJoinOn(
      emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("e").as("qe")),
      emb.filter(col("vec_id") >= 5), k = 10)
  }

  /** The probe-pruned scale path of [[knnJoinOn]]: queries assign to
    * IVF cells DISTRIBUTIVELY (broadcast centroid table, same argmin
    * + centroid-cosine ranking as annIvf, own cell filtered before
    * the rank window — the advisor-fixed coverage rule), explode to
    * their nprobe probe cells, and join the cell-keyed corpus — so
    * each query scores only its probed cells' vectors and the scored
    * stream shrinks from |corpus| x |Q| to ~|corpus| x |Q| x
    * nprobe/k_cells. Candidates re-score exactly; recall is gated by
    * ApproxRecallSpec against the exact join on planted neighbors. */
  private[graft] def knnJoinIvf(spark: SparkSession, dir: String,
      k: Int): DataFrame =
    knnJoinIvfWith(spark, ivfCells(spark, dir), k)

  /** [[knnJoinIvf]] over a caller-supplied quantizer — the seam the
    * forced-path oracle entry routes through (the
    * embedNeardupForcedScale pattern: same machinery, planted input). */
  private def knnJoinIvfWith(spark: SparkSession,
      mc: (graft.engine.Quantizer, DataFrame),
      k: Int): DataFrame = {
    val (quant, cells) = mc
    import spark.implicits._
    val cent = quant.centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "ce")
    knnJoinIvfCore(spark, cent, quant.k, cells, k)
  }

  /** The quantizer-agnostic core of [[knnJoinIvfWith]]: centroids as
    * a (cell, ce) frame + cell-assigned corpus rows (vec_id, unit,
    * cell), from EITHER a live KMeansModel or a committed
    * [[graft.engine.AnnIndex]] snapshot — the seam that lets the
    * serve entry skip the in-session fit when an index exists. */
  private def knnJoinIvfCore(spark: SparkSession, cent: DataFrame,
      kCells: Int, cells: DataFrame, k: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val nprobe = math.max(2, math.ceil(kCells / 4.0).toInt)
    val queries = cells.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("unit").as("qu"),
        col("cell").as("qcell"))
    // rank OTHER cells by centroid cosine per query; own cell rides
    // along unconditionally (rn starts at the non-own cells)
    val scored = queries.crossJoin(broadcast(cent))
      .filter(col("cell") =!= col("qcell"))
      .withColumn("csim", expr(
        "aggregate(zip_with(qu, ce, (x, y) -> x * y), 0D, (a, v) -> a + v)" +
          " / sqrt(aggregate(transform(ce, x -> x * x), 0D, (a, v) -> a + v))"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cell"))))
      .filter(col("rn") <= nprobe - 1)
      .select(col("qid"), col("qu"), col("cell"))
    val probes = scored.unionByName(
      queries.select(col("qid"), col("qu"), col("qcell").as("cell")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    probes.join(
        cells.filter(col("vec_id") >= 5)
          .select(col("vec_id"), col("unit"), col("cell")), Seq("cell"))
      .withColumn("cosine", round(expr("cosine_sim(unit, qu)"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("cosine"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Serve entry for the IVF kNN join — the [[annIvf]] dispatch rule:
    * a committed index supplies the centroid table and cell-assigned
    * corpus (unit vectors recomputed in a map-only projection that
    * materializes at the join's cell-keyed exchange), so the call
    * pays two snapshot reads instead of a quantizer fit; no index →
    * the memoized in-session fit, exactly as before. Assignments are
    * identical between regimes (AnnIndex.build commits the SAME
    * fitIvfCellsOn output the memo serves), so the result is too. */
  val knnJoinIvfServe: Q = (spark, dir) => committedAnnIndex(spark, dir) match {
    case Some(idx) =>
      val cent = graft.engine.VersionedTable.read(spark,
        graft.engine.AnnIndex.centroidsDir(idx), None)
      val kCells = cent.count().toInt
      val cells = graft.engine.VersionedTable.read(spark,
          graft.engine.AnnIndex.cellsDir(idx), None)
        // native normalizer: bitwise the HOF's doubles (same
        // index-order arithmetic), without the per-row allocations —
        // this is a full-corpus scan on the committed-index serve path
        .withColumn("unit", graft.functions.UnitNorm(spark, col("e")))
        .select(col("vec_id"), col("unit"), col("cell"))
      knnJoinIvfCore(spark, cent, kCells, cells, 10)
    case None => knnJoinIvf(spark, dir, 10)
  }

  /** Driver-visible HASH gate for the IVF kNN join (round-8's
    * forced-witness device applied to the probe-pruned serve path):
    * identical copies of the five query vectors are planted into the
    * corpus at vec_id + 1,000,000, the quantizer is fit on the
    * planted union, and the SAME [[knnJoinIvfWith]] machinery runs —
    * identical vectors quantize to the query's own cell, which is
    * always probed, so each planted copy is found deterministically
    * at cosine 1.0 / rank 1 (the fixture's real pairs top out near
    * 0.52, so the >= 0.999 filter keeps exactly the planted rows and
    * the full cell-assignment + probe + re-score pipeline is checked
    * against DuckDB's exact kNN, not just recall-spec-gated). */
  val knnJoinIvfForced: Q = (spark, dir) => {
    val base = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val planted = base.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("e"))
    knnJoinIvfWith(spark,
      ivfCellsMemo(spark, dir + "#knnforced")(
        fitIvfCellsOn(spark, base.unionByName(planted))), k = 10)
      .filter(col("cosine") >= 0.999)
  }

  /** Embedding near-dup pairs above a cosine threshold.
    *
    * Shape: a broadcast nested-loop join — the build side ships through
    * Spark's broadcast machinery (BroadcastExchange over the block
    * manager), with NO driver-side `collect()` in the operator body.
    * Each stream-side partition scans the broadcast rows; scoring is
    * the native codegen'd `cosine_sim` Expression, so the whole
    * pair-scan stays inside whole-stage codegen. (A per-pair
    * higher-order `aggregate` expression is ~50x slower here:
    * ArrayAggregate is CodegenFallback.)
    *
    * Exact all-pairs is inherently O(n^2); the 100 TB path is `annLsh`
    * (LSH buckets) — this operator is the exact scorer for corpus
    * scales where the vector set fits a broadcast (~a few GB).
    *
    * `cosine_sim` accumulates sequentially over the array exactly like
    * DuckDB's list_dot_product, so raw doubles match the oracle
    * bitwise. */
  private[graft] def embedNeardupExact(spark: SparkSession, dir: String)
      : DataFrame =
    embedNeardupExactOn(spark, Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")))

  private[graft] def embedNeardupExactOn(spark: SparkSession, emb: DataFrame)
      : DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    // spread the STREAM side to the session's full parallelism before
    // the quadratic pair scan (round-14 optimization, guide §2.5/§2.6):
    // the embeddings scan yields file-split-many partitions (8 at
    // sf0.1), so the O(n^2) nested-loop stage ran 8 tasks on 32 cores
    // — one straggler-shaped stage (bench phys row: 8 tasks, task
    // spread 286). The shuffle this adds is metadata-cheap (24-byte
    // ids + one vector per row, n rows) next to the n^2/2 cosine
    // scores it parallelizes; defaultParallelism scales with the
    // cluster, never a local constant.
    val a = emb.select(col("vec_id").as("d1"), col("e").as("ea"))
      .repartition(spark.sparkContext.defaultParallelism)
    val b = emb.select(col("vec_id").as("d2"), col("e").as("eb"))
    a.join(broadcast(b), col("d1") < col("d2"))
      .withColumn("cos_raw", expr("cosine_sim(ea, eb)"))
      .filter(col("cos_raw") >= 0.4)
      .select(col("d1"), col("d2"), round(col("cos_raw"), 6).as("cosine"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Past-the-broadcast-bound form of [[embedNeardupExact]]:
    * CELL-BUCKETED candidate generation + exact verification, on the
    * shared IVF quantizer (ivfCells — the same index annIvf, semDedup
    * and the decontam probe path ride). Each vector probes its own
    * cell plus its two nearest other centroids; candidate pairs form
    * only inside probed cells — shuffle keyed by cell id, never
    * corpus x corpus — and every candidate is re-scored with the
    * codegen'd `cosine_sim` on the RAW vectors, the exact path's
    * expression. Emitted rows are therefore a SUBSET of the exact
    * op's rows (zero false positives, identical rounding); recall on
    * near-identical pairs is the own-cell guarantee (identical
    * vectors quantize identically — the forced-path oracle witness
    * rides exactly this), mid-band recall is the probe-coverage
    * bound, spec-gated on planted near-dups. With k ~ sqrt(n) cells
    * and a constant probe count the candidate envelope is the
    * SemDeDup O(n^1.5), replacing the round-6 MLlib
    * BucketedRandomProjectionLSH whose bucketLength-1.0 buckets were
    * DEGENERATE on unit vectors (projections span [-1,1], so every
    * table collapsed to ~2 buckets and the "bucketed" join was
    * near-quadratic — the honest-inflater x10 probe measured 8.1x
    * and flushed it out). */
  private[graft] def embedNeardupLsh(spark: SparkSession, dir: String)
      : DataFrame =
    embedNeardupBucketedWith(spark, ivfCells(spark, dir))

  /** `memoKey`: a forced-witness caller passes its stable key so the
    * planted-input fit memoizes (ivfCellsMemo) instead of pinning a
    * fresh persisted cells frame per invocation; None (spec fixtures)
    * keeps the un-memoized behavior. */
  private[graft] def embedNeardupLshOn(spark: SparkSession, embRaw: DataFrame,
      memoKey: Option[String] = None): DataFrame =
    embedNeardupBucketedWith(spark, memoKey match {
      case Some(k) => ivfCellsMemo(spark, k)(fitIvfCellsOn(spark, embRaw))
      case None => fitIvfCellsOn(spark, embRaw)
    })

  private def embedNeardupBucketedWith(spark: SparkSession,
      mc: (graft.engine.Quantizer, DataFrame))
      : DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val (quant, cells) = mc
    import spark.implicits._
    val centDf = quant.centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("pcell", "ce")
    // own cell + 2 nearest OTHER centroids per vector — a CONSTANT
    // probe count (a k-proportional count makes the probed FRACTION
    // constant and pushes a self-join's candidate envelope past
    // n^1.5; round 10 moved decontamSemanticIvf onto the same
    // constant-probe rule after the x30 trend caught exactly that
    // wall on its corpus-scale eval regime). The own cell
    // is excluded BEFORE the ranking window (annIvf's centersRanked
    // rule): ranked over all centroids the own cell normally takes
    // rank 1 and each vector effectively probes only ONE non-own
    // cell — half the documented mid-band probe coverage.
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("pcell"))
    // THIN ranking shuffle (round 10, trend-probe find — the decontam
    // twin): rank on (vec_id, pcell, csim) only and join the float
    // vector back AFTER probe selection; the previous form carried e
    // and unit (~1 KB a row) through the n x k window exchange
    val chosen = cells
      .select(col("vec_id"), col("unit"), col("cell"))
      .crossJoin(broadcast(centDf))
      .filter(col("pcell") =!= col("cell"))
      .withColumn("csim", expr("cosine_sim(unit, ce)"))
      .select(col("vec_id"), col("pcell"), col("csim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .select(col("vec_id"), col("pcell"))
    val nonOwn = chosen
      .join(cells.select(col("vec_id"), col("e")), Seq("vec_id"))
      .select(col("vec_id"), col("e"), col("pcell"))
    val probes = nonOwn.unionByName(
      cells.select(col("vec_id"), col("e"), col("cell").as("pcell")))
    val a = probes.select(col("pcell"), col("vec_id").as("d1"),
      col("e").as("ea"))
    val b = probes.select(col("pcell"), col("vec_id").as("d2"),
      col("e").as("eb"))
    a.join(b, Seq("pcell"))
      .filter(col("d1") < col("d2"))
      .withColumn("cos_raw", expr("cosine_sim(ea, eb)"))
      .filter(col("cos_raw") >= 0.4)
      .select(col("d1"), col("d2"), round(col("cos_raw"), 6).as("cosine"))
      // a pair can share more than one probed cell — dedup AFTER the
      // threshold filter, when only surviving 24-byte rows shuffle
      .distinct()
      .orderBy(col("d1"), col("d2"))
  }

  /** Exact-path bound: ~64-dim double vectors broadcast at ~600 B/row,
    * so 2M vectors is ~1.2 GB — the edge of a comfortable broadcast.
    * Past it the op must DEGRADE (bucketed candidates), not fail. */
  private[graft] val embedNeardupExactBound = 2000000L

  /** Thresholded dispatch: the parquet-footer row count picks the
    * regime, so the same `q_llm_embed_neardup` entry is the exact
    * scorer below the broadcast bound and the LSH-bucketed form above
    * it — no caller-visible seam. `bound` is a test seam (specs force
    * 0 to exercise the big-n path on small fixtures). */
  def embedNeardupDispatch(spark: SparkSession, dir: String, bound: Long)
      : DataFrame = {
    val n = Tables(spark, dir, "embeddings").count()
    if (n <= bound) embedNeardupExact(spark, dir)
    else embedNeardupLsh(spark, dir)
  }

  /** Frame-input dispatch (same regimes, caller-supplied vectors) —
    * the seam the forced-path oracle entry routes through. */
  def embedNeardupDispatchOn(spark: SparkSession, emb: DataFrame, bound: Long,
      memoKey: Option[String] = None): DataFrame =
    if (emb.count() <= bound) embedNeardupExactOn(spark, emb)
    else embedNeardupLshOn(spark, emb, memoKey)

  val embedNeardup: Q = (spark, dir) =>
    embedNeardupDispatch(spark, dir, embedNeardupExactBound)

  /** Driver-visible witness for the PAST-THE-BOUND regime: dispatch
    * with bound 0 forces the cell-bucketed path on any input, and the
    * entry plants identical-copy vectors (vec_id + 1,000,000 for the
    * 20 smallest ids) whose pairs the bucketing finds
    * DETERMINISTICALLY — identical vectors quantize to the same cell,
    * and every vector's own cell is always probed. Filtering the
    * output to cosine >= 0.999 keeps exactly those provably-found
    * planted pairs (the fixture's real pairs top out near 0.52), so
    * the full scale machinery — quantizer fit, cell assignment,
    * probed-cell pair join, exact re-score — is HASH-gated against
    * the DuckDB all-pairs oracle, not just recall-spec-gated. */
  val embedNeardupForcedScale: Q = (spark, dir) => {
    val base = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("e"))
    embedNeardupDispatchOn(spark, base.unionByName(planted), bound = 0L,
      memoKey = Some(dir + "#ndforced"))
      .filter(col("cosine") >= 0.999)
  }

  /** L3, LSH face: single-query ANN over L2-normalized vectors via
    * BucketedRandomProjectionLSH (euclidean on the unit sphere tracks
    * cosine). Rows-only check. Honest caveat (the round-7 degenerate-
    * bucket find): single random projections of unit vectors span
    * [-1, 1], so bucketLength 0.5 gives ~4 buckets per table — the
    * multi-probe scan still answers correctly (recall gate green) but
    * prunes weakly in high dimensions; the engine's real
    * similarity-at-scale paths are `annIvf` and the persisted
    * `q_llm_ann_index`, whose cell pruning the probes measure linear. */
  val annLsh: Q = (spark, dir) => {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(aggregate(" +
          "transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))," +
          " 0D, (acc, v) -> acc + v)))").as("unit"))
      .withColumn("features", array_to_vector(col("unit")))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(0.5).setNumHashTables(4).setSeed(42)
    val model = lsh.fit(emb)
    val query = emb.filter(col("vec_id") === 0)
      .select(col("features")).head().getAs[org.apache.spark.ml.linalg.Vector](0)
    model.approxNearestNeighbors(emb.filter(col("vec_id") =!= 0), query, 10)
      .select(col("vec_id"), round(col("distCol"), 6).as("dist"))
      .orderBy(col("dist"), col("vec_id"))
  }

  // ----------------------------------------------------------- text analysis

  /** L4: per-language corpus stats. */
  val textstats: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(avg(size(expr(toksE))), 4).as("avg_tokens"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  /** L5: quality filter on length / token-count / mean word length. */
  val qualityFilter: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .withColumn("tok_cnt", size(expr(toksE)))
      .filter(qualityOkExpr)
      .select(col("doc_id"), col("tok_cnt"), col("n_chars"),
        (col("n_chars") * lit(1.0) / col("tok_cnt")).as("ratio"))
      .orderBy(col("doc_id"))

  /** Quality scoring via a unigram log-likelihood-ratio model (the
    * CCNet / fastText-classifier shape, reduced to its distributable
    * core): "train" add-one-smoothed unigram models on a target slice
    * (lang = 'en') and on the full corpus, then score every document
    * by its mean per-token log-odds of having come from the target
    * distribution.
    *
    * Scale shape: the model is ONE aggregation over exploded tokens
    * (conditional count gives both corpora in a single shuffle); the
    * resulting vocab table is the trained model — small relative to
    * the corpus and broadcast to the scoring join, so scoring is a
    * map-side hash probe + one per-doc aggregate. This is exactly how
    * a 100 TB curation run applies a quality model: weights broadcast,
    * corpus streamed once. Doubles: per-token weights are computed
    * from integer counts by identical-order IEEE arithmetic on both
    * engines; only the per-doc mean (order-varying) is rounded. */
  val qualityLr: Q = (spark, dir) => {
    // tokens feed model training AND the scoring join-back. NOT
    // persisted: the exploded view is LARGER than the source corpus
    // (one row per token), so caching it is a memory hog at scale and
    // a leak for any caller that doesn't clear caches — recomputing
    // costs one extra map-only scan+explode, which is the cheaper side
    // of the trade everywhere past toy scale.
    val toks = tokenized(spark, dir)
      .select(col("doc_id"), col("lang"), explode(col("t")).as("tok"))
    val stats = toks.groupBy(col("tok")).agg(
      count(lit(1)).as("ca"),
      count(when(col("lang") === "en", 1)).as("cg"))
    val totals = stats.agg(
      sum(col("ca")).as("na"), sum(col("cg")).as("ng"),
      count(lit(1)).as("v"))
    val weights = stats.crossJoin(broadcast(totals))
      .select(col("tok"),
        (log((col("cg") + 1) / (col("ng") + col("v"))) -
          log((col("ca") + 1) / (col("na") + col("v")))).as("w"))
    toks.join(broadcast(weights), Seq("tok"))
      .groupBy(col("doc_id"))
      // + 0.0: a doc whose mean LR weight rounds to a negative zero
      // diverges at the representation level (DuckDB -0.0 vs Spark
      // +0.0 — the q_agg_stats class; the sf0.1 signed-zero sweep
      // caught it latent here on doc 1275)
      .agg((round(avg(col("w")), 6) + lit(0.0)).as("score"))
      .orderBy(col("doc_id"))
  }

  /** Bigram language-model score — the perplexity-proxy quality
    * filter (CCNet's KenLM role, reduced to the largest model the
    * engine itself can train): add-one-smoothed bigram conditionals
    * P(w_i | w_{i-1}) = (c2+1)/(c1+V) fitted on the whole corpus in
    * two gram-keyed aggregates, each document scored by its mean log
    * probability. Gibberish and unnatural token sequences score far
    * below fluent text. Every shuffle is keyed by a gram (bigram
    * counts, prefix counts, the scoring join) — never doc x doc, and
    * the V constant rides a broadcast 1-row frame. The bigram view is
    * recomputed per consumer rather than cached (explode output >
    * corpus; same trade as qualityLr). */
  val lmScore: Q = (spark, dir) => {
    val bi = tokenized(spark, dir)
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "arrays_zip(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1))"))
        .as("p"))
      .select(col("doc_id"),
        expr("p['0']").as("prev"), expr("p['1']").as("cur"))
    val c2 = bi.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy(col("prev")).agg(count(lit(1)).as("c1"))
    val v = Tables(spark, dir, "documents")
      .select(explode(expr(toksE)).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    bi.join(c2, Seq("prev", "cur"))
      .join(c1, Seq("prev"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(round(avg(log((col("c2") + 1) / (col("c1") + col("v")))), 6)
        .as("lm_score"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF top-3 terms per document. The document-frequency table is
    * the "model": one aggregate over (doc, term) pairs, broadcast back
    * to the term-frequency side, so scoring never shuffles the corpus
    * a second time; the per-doc top-3 rides a WindowGroupLimit (rank
    * <= k prunes before the sort materializes). Corpus size joins as a
    * broadcast 1-row frame — never a driver-side collect. */
  val tfidf: Q = (spark, dir) => {
    val tf = tokenized(spark, dir)
      .select(col("doc_id"), explode(col("t")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    val n = Tables(spark, dir, "documents").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("tok"))
    tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n") / col("dfreq")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("tok"),
        round(col("tfidf"), 6).as("tfidf"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Heavy hitters: tokens holding more than 1/30 of all token
    * occurrences, found in the two-phase sketch shape (Karp et al.
    * 2003 / Misra-Gries via `stat.freqItems`, then exact confirm).
    *
    * Scale shape — the reason this is not just the oracle's GROUP BY:
    * phase 1 is a SINGLE map-side pass with bounded state (1/support
    * = 2*minShare counters per partition, merged driver-side into a
    * metadata-sized candidate array — the guarantee is a SUPERSET of
    * every token above support, and support < 1/minShare by
    * construction: both thresholds derive from the one constant);
    * phase 2 filters the token stream to candidates BEFORE the
    * aggregation, so partial aggregation shuffles at most |cand| rows
    * per partition. A 100 TB corpus with a billion-term vocabulary
    * never shuffles its vocabulary — only the <=50 candidates — while
    * the exact confirm keeps the result hash-identical to the full
    * GROUP BY the oracle runs. Corpus size joins as a broadcast 1-row
    * frame, same idiom as tfidf. */
  val heavyHitters: Q = (spark, dir) => {
    // ONE constant drives both phases: the sketch support must stay
    // strictly below the confirm share or the freqItems superset
    // guarantee no longer covers true heavy hitters (changing the
    // threshold without the support would silently drop them). The
    // support is half the share — comfortably inside the guarantee,
    // bounded state of 2*minShare counters per partition.
    val minShare = 30L // heavy hitter = > 1/minShare of occurrences
    val support = 1.0 / (2L * minShare)
    require(support < 1.0 / minShare,
      "freqItems support must undercut the confirm share")
    val toks = tokenized(spark, dir).select(explode(col("t")).as("tok"))
    val cand = toks.stat.freqItems(Seq("tok"), support)
      .select(col("tok_freqItems").as("cand"))
    val total = toks.agg(count(lit(1)).as("total"))
    toks.crossJoin(broadcast(cand))
      .filter(array_contains(col("cand"), col("tok")))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      // integer-exact threshold (cnt/total > 1/minShare with no float
      // boundary): both engines compare the same two longs
      .filter(col("cnt") * minShare > col("total"))
      .select(col("tok"), col("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Overlapping fixed-token-window chunker (training-sample prep):
    * width-8 windows at stride 4, so every token except the edges
    * appears in exactly two training chunks. Pure generator over the
    * pre-bound token array — map-only, zero shuffle until the final
    * deterministic ORDER BY; at 100 TB this is the shape that matters
    * because chunking is applied to EVERY document. */
  val chunkStride: Q = (spark, dir) => {
    val width = 8
    val stride = 4
    tokenized(spark, dir)
      .filter(size(col("t")) >= width)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(t) - ${width - 1}, $stride)," +
            s" i -> concat_ws(' ', slice(t, i, $width)))"))
          .as(Seq("chunk_idx", "chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Language-ID heuristic: stopword-hit ratio (deterministic n-gram
    * heuristic stand-in; integer-count division matches the oracle
    * bitwise). */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** Stopword-ratio language score — THE shared predicate: langid and
    * curatePipeline must agree by construction, not by parallel
    * copies (the composite's oracle is an independent copy too, so
    * in-engine drift would otherwise go unnoticed). */
  private def langScoreExpr: org.apache.spark.sql.Column = {
    val stopArr = stopwords.map(w => s"'$w'").mkString(", ")
    // CAST, not "* 1.0": Spark SQL parses the 1.0 literal as DECIMAL
    // and the quotient would come out DECIMAL(_, 12)
    expr(
      s"""CAST(size(filter($toksE, t -> array_contains(array($stopArr), t)))
          AS DOUBLE) / size($toksE)""")
  }

  /** qualityFilter's keep predicate over (n_chars, tok_cnt) — shared
    * with curatePipeline for the same drift-proofing reason. */
  private def qualityOkExpr: org.apache.spark.sql.Column =
    col("n_chars").between(100L, 2000L) &&
      col("tok_cnt").between(20, 1000) &&
      (col("n_chars") * lit(1.0) / col("tok_cnt")).between(3.0, 20.0)

  /** The END-TO-END curation run — langid gate -> quality gate ->
    * exact dedup -> PII redaction -> per-source funnel report — as ONE
    * composed plan, the shape a real corpus refresh executes nightly.
    * Each stage reuses the standalone op's exact predicate (langid's
    * stopword ratio, qualityFilter's bounds, dedupExact's sha256
    * min-id rule, redactPii's planted-PII convention), so the
    * composite is oracle-checkable end to end and any drift between a
    * stage and its standalone op breaks the gate.
    *
    * Scale shape: stage flags are MAP-ONLY (no stage materializes an
    * intermediate corpus); the corpus is scanned twice — once for the
    * funnel rollup, once for the dedup branch — both scans pushed and
    * pruned, which beats caching a 100 TB intermediate; the only
    * corpus-keyed shuffle is the dedup window on sha256(text);
    * redaction happens on unique survivors only; and the final join
    * is per-SOURCE aggregates (metadata-sized). Funnel semantics are
    * cumulative: n_lang passed langid, n_quality passed langid AND
    * quality, n_unique survived dedup among those. */
  val curatePipeline: Q = (spark, dir) => {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\d{3}-\\d{4}"
    val flagged = Tables(spark, dir, "documents")
      .withColumn("tok_cnt", size(expr(toksE)))
      .withColumn("lang_ok", langScoreExpr >= 0.1)
      .withColumn("quality_ok", qualityOkExpr)
    val funnel = flagged.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("lang_ok"), 1L).otherwise(0L)).as("n_lang"),
      sum(when(col("lang_ok") && col("quality_ok"), 1L).otherwise(0L))
        .as("n_quality"))
    val unique = flagged
      .filter(col("lang_ok") && col("quality_ok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .withColumn("raw", concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 555-0"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit(" today")))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_unique"),
        sum(col("tok_cnt").cast("long")).as("kept_tokens"),
        sum((size(expr(
          s"regexp_extract_all(raw, '${emailRe.replace("\\", "\\\\")}', 0)")) +
          size(expr(
            s"regexp_extract_all(raw, '${phoneRe.replace("\\", "\\\\")}', 0)")))
          .cast("long")).as("n_redacted"))
    funnel.join(unique, Seq("source"), "left")
      .select(
        col("source"), col("n_docs"), col("n_lang"), col("n_quality"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("n_redacted"), lit(0L)).as("n_redacted"))
      .orderBy(col("source"))
  }

  val langid: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .withColumn("score", langScoreExpr)
      .withColumn("pred",
        when(col("score") >= 0.1, "en").otherwise("other"))
      .select(col("doc_id"), col("score"), col("pred"))
      .orderBy(col("doc_id"))

  /** Document fingerprint: lexicographic min of md5 over 3-gram
    * shingles — a 1-permutation MinHash signature, cross-engine stable. */
  val fingerprint: Q = (spark, dir) =>
    tokenized(spark, dir)
      .filter(size(col("t")) >= 3)
      .select(
        col("doc_id"),
        expr(s"array_min(transform($shinglesE, s -> md5(s)))").as("fingerprint"))
      .orderBy(col("doc_id"))

  /** Per-label embedding centroids, relational form: posexplode ->
    * groupBy (label, position) -> avg. One shuffle keyed by
    * (label, pos); the typed single-pass form is
    * graft.functions.VectorAvg (spec-checked equal). `+ 0.0` after
    * the round: a centroid coordinate averaging to a small negative
    * rounds to -0.0 in DuckDB (sign bit preserved) and +0.0 in Spark
    * — the q_agg_stats representation-hash class, which the sf0.001
    * sweep's signed-zero canonicalization caught latent here. */
  val centroids: Q = (spark, dir) =>
    Tables(spark, dir, "embeddings")
      .select(col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).as("i"))
      .agg((round(avg(col("v")), 4) + lit(0.0)).as("c"))
      .orderBy(col("label"), col("i"))

  /** Memoized IVF cell index — unit vectors + KMeans(k ~ sqrt(n),
    * seed 42) cell assignments — shared by annIvf and semDedup so a
    * session pays ONE quantizer fit per embeddings dir (the fit is the
    * expensive part; the model object survives cache clears). Session
    * keys are held weakly; the value is softly held
    * ([[graft.util.TableMemo.soft]]) because the cached DataFrame
    * strongly references its session. Under memory pressure the soft
    * ref clears, the value→session path breaks, and a dropped session
    * becomes collectable; `invalidateCellCache()` is the explicit
    * override. */
  private val cellCache =
    graft.util.TableMemo.soft[(graft.engine.Quantizer, DataFrame)]()

  def invalidateCellCache(): Unit = cellCache.invalidate()

  /** Keyed memo over cellCache — shared by the dir-keyed serve path
    * and the forced-witness entries (whose planted-input fits would
    * otherwise pin one fresh persisted cells frame PER CALL across
    * repeated serve/correctness runs — the exact leak the
    * fitIvfCellsOn comment warns against). Forced entries key as
    * `dir + "#<witness>"` so invalidateCellCache clears them too. */
  private def ivfCellsMemo(spark: SparkSession, key: String)(
      build: => (graft.engine.Quantizer, DataFrame))
      : (graft.engine.Quantizer, DataFrame) =
    graft.util.TableMemo.getOrBuildSoft(cellCache, spark, key)(build)

  private def ivfCells(spark: SparkSession, dir: String)
      : (graft.engine.Quantizer, DataFrame) =
    ivfCellsMemo(spark, dir)(fitIvfCells(spark, dir))

  /** (k, largest-cell size) of the memoized cell index — the bound on
    * semDedup's within-cell quadratic term; the "cells stay ~sqrt(n)"
    * record is BASELINE.md "Round-11 x100 anchors for the
    * dedup/curation family" (k 45 -> 448, largest cell 95 -> 553). */
  def ivfCellStats(spark: SparkSession, dir: String): (Int, Long) = {
    val (quant, cells) = ivfCells(spark, dir)
    val largest = cells.groupBy(col("cell")).count()
      .agg(max(col("count"))).head().getLong(0)
    (quant.k, largest)
  }

  /** One quantizer fit: coarse cells barely improve past a few Lloyd
    * passes and probing covers boundary error — cap the iterations.
    * Fit on a seeded sample capped at ~100k vectors (centroid
    * placement converges long before that); transform ALL rows. The
    * row count comes from parquet footer metadata, not a scan.
    *
    * k scales with the corpus: k = max(8, ceil(sqrt(n))) keeps the
    * average cell ~sqrt(n), so semDedup's within-cell pair count is
    * O(n^1.5) total instead of O(n^2/8) with a fixed k — the fixed
    * k=8 of round 2 was a latent quadratic at corpus scale. */
  private def fitIvfCells(spark: SparkSession, dir: String)
      : (graft.engine.Quantizer, DataFrame) =
    fitIvfCellsOn(spark, Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")))

  private[graft] def fitIvfCellsOn(spark: SparkSession, embRaw: DataFrame)
      : (graft.engine.Quantizer, DataFrame) = {
    val fitCap = 100000L
    // for the parquet-backed catalog frame this count resolves from
    // footer metadata, not a data scan
    val total = embRaw.count()
    val k = math.max(8, math.ceil(math.sqrt(total.toDouble)).toInt)
    // regime dispatch (round 14): above CoarseAssign.minK centroids
    // BOTH fit and corpus assignment run on the two-level pruned
    // kernel — the round-13 verdict's O(n^1.5) assign-all term, plus
    // the fit's own sample·k·iters twin the build split then exposed
    // (x1000: MLlib fit 52.4 s, transform-all 55.6 s; pruned kernel
    // assign 3.0 s). Below the threshold the fit runs DRIVER-SIDE
    // (the round-14 Lloyd swap documented on the else-branch below —
    // its centroids differ from the former MLlib model's) and the
    // corpus assignment rides the exact-argmin kernel. Both sides of
    // a build/refresh pair route through the same rule
    // (AnnIndex.assign applies the identical dispatch).
    val (quant, assigned) =
      if (k >= graft.engine.CoarseAssign.minK) {
        val sample =
          if (total > fitCap) embRaw.sample(withReplacement = false,
            fraction = fitCap.toDouble / total, seed = 42L)
          else embRaw
        val centers = graft.engine.CoarseAssign.fitCentroids(
          sample.select(col("vec_id"), col("e")), k)
        val cells = graft.engine.CoarseAssign.pruned(
            embRaw.select(col("vec_id"), col("e")),
            centers.zipWithIndex.map { case (c, i) => (i, c) })
          // the cells frame's consumers (PQ codes, semdedup) read
          // `unit` from the persisted frame; materialize it with the
          // NATIVE normalizer — the HOF form is CodegenFallback and
          // allocates per row, which the round-14 build split priced
          // at ~30 s of the x1000 cells materialization (the kernel
          // assign beside it costs 2.6 s). Bitwise the same doubles.
          .withColumn("unit", graft.functions.UnitNorm(spark, col("e")))
        (graft.engine.Quantizer(centers), cells)
      } else {
        // DRIVER-SIDE Lloyd for the sub-minK regime (round-14
        // optimization, guide §1.2): k < minK bounds the input at
        // minK² < 37k vectors, so the whole unit-normalized fit set is
        // a ≤20 MB collect — and the former MLlib fit (random init,
        // 8 Lloyd passes, its own persist) cost ~10 sequential jobs of
        // pure latency for it. The fit probe (OPTIMIZATION_r14.md §8,
        // fit before/after) priced the same fit driver-side at 0.4 s
        // (collect + 8 exact-argmin passes) against 2-6 s through
        // MLlib on this corpus, and EVERY cold fit row (ann_index,
        // ann_pq_index + forced twins, ivf/knn fit regimes, semdedup,
        // decontam) pays it. Same ingredients as the ≥minK
        // fitCentroids: hash-ordered seeding (xxhash64(vec_id, 42)), 8
        // passes, degenerate rows dropped from the fit; empty cells
        // keep their previous centroid. The centroids CHANGE vs the
        // MLlib model (different init draw) — a rows-only-face change
        // gated exactly like the round-13 k-means||→random swap:
        // ApproxRecallSpec planted recall, AnnIndexSpec parity,
        // forced-witness oracles. Iteration order is pinned by a local
        // vec_id sort, so the float sums are partitioning-independent.
        val collected = embRaw
          .select(col("vec_id"),
            graft.functions.UnitNorm(spark, col("e")).as("u"),
            xxhash64(col("vec_id"), lit(42L)).as("h"))
          .where(not(expr("exists(u, x -> isnan(x))")))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
            r.getLong(2)))
          .sortBy(r => r._1)
        require(collected.nonEmpty,
          "fitIvfCellsOn: no finite-norm vectors to fit a quantizer on")
        val dim = collected.head._2.length
        // seed-count contract (round-15 ADVICE, made explicit): with
        // fewer than k finite-norm vectors the quantizer SHRINKS to
        // n centers (take returns what exists; the Lloyd loop and
        // every kernel consumer size off centers.length) — the only
        // sound k for n points. Duplicate input vectors can seed
        // duplicate centroids that never separate — same cells for
        // every vector either way, so it is a cell-numbering quirk,
        // not a correctness hole; deduping seeds here would SHIFT the
        // declared rows-only outputs (the third output-shifting
        // change the round-14 verdict forbids without a driver
        // witness), so the draw is pinned as-is.
        val seeds = collected.sortBy(r => (r._3, r._1))
          .take(math.min(k, collected.length)).map(_._2.clone)
        var centers = seeds
        var it = 0
        while (it < 8) {
          val kk = centers.length
          val sums = Array.fill(kk)(new Array[Double](dim))
          val cnts = new Array[Long](kk)
          collected.foreach { case (_, u, _) =>
            var best = 0; var bd = Double.MaxValue
            var c = 0
            while (c < kk) {
              var d2 = 0.0; var t = 0
              val ce = centers(c)
              while (t < dim) { val x = u(t) - ce(t); d2 += x * x; t += 1 }
              if (d2 < bd) { bd = d2; best = c }
              c += 1
            }
            val s = sums(best); var t = 0
            while (t < dim) { s(t) += u(t); t += 1 }
            cnts(best) += 1
          }
          centers = centers.indices.map(c =>
            if (cnts(c) == 0) centers(c)
            else sums(c).map(_ / cnts(c))).toArray
          it += 1
        }
        val st = graft.engine.CoarseAssign.exactStructureOf(
          centers.zipWithIndex.map { case (c, i) => (i, c) })
        val cells = embRaw
          .withColumn("unit", graft.functions.UnitNorm(spark, col("e")))
          .withColumn("cell",
            graft.functions.IvfCellAssign(spark, col("e"), st))
        (graft.engine.Quantizer(centers), cells)
      }
    // persist, NOT localCheckpoint — and that distinction is
    // load-bearing: the dir-keyed memo (cellCache) holds this frame
    // across queries, and the bench/anchor harnesses unpersist every
    // persistent RDD between timed queries. A persisted frame
    // survives that purge (lineage recomputes on next use); a
    // localCheckpoint does NOT (lineage is severed, its blocks are
    // its only copy — the round-7 attempt produced exactly that
    // SparkException on the post-purge annIvf read). Frame-input
    // invocations that bypass the memo pin one cache entry until
    // invalidateCellCache()/the session's cache cleanup — acceptable
    // for the recall specs (they release caches per fixture); the
    // repeatedly-served forced-witness entries instead memoize their
    // planted fits via ivfCellsMemo under dir+"#<witness>" keys.
    val cells = assigned
      .select(col("vec_id"), col("e"), col("unit"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (quant, cells)
  }

  /** Driver-side probe-cell selection over an in-memory quantizer —
    * ONE copy of the rule for annIvf and annIvfPq (the file already
    * recorded a real bug born of probe-rule drift between copies: the
    * advisor's own-cell-ranking finding): rank non-own centroids by
    * cosine against the query (norm-invariant in the query, so raw or
    * unit vectors rank identically), probe own + (nprobe-1) next,
    * nprobe = max(2, ceil(k/4)) — the probed fraction stays constant
    * as k grows with sqrt(n). The persisted-index twin is
    * AnnIndex.selectProbes (snapshot centroids instead of a live
    * model); AnnIndexSpec pins the two paths cell-identical. */
  private def rankProbes(quant: graft.engine.Quantizer,
      qe: scala.collection.Seq[Double], qcell: Int): Seq[Int] = {
    val nprobe = math.max(2, math.ceil(quant.k / 4.0).toInt)
    val ranked = quant.centers.zipWithIndex
      .filter(_._2 != qcell)
      .map { case (ca, i) =>
        var dot = 0.0; var n = 0.0
        var k = 0
        while (k < ca.length) { dot += ca(k) * qe(k); n += ca(k) * ca(k); k += 1 }
        (i, dot / math.sqrt(n))
      }
      .sortBy(-_._2)
    (qcell +: ranked.take(nprobe - 1).map(_._1)).toIndexedSeq
  }

  /** IVF-style ANN: coarse-quantize with KMeans (k ~ sqrt(n), seed 42)
    * over unit vectors, then scan only the query's cell and its
    * runner-up (2 probes) with the native cosine scorer. The 100 TB
    * shape: centroid table broadcast, per-cell scans pruned by cluster
    * id; probed fraction shrinks as 2/k while each cell stays ~sqrt(n).
    * Rows-only check (cell assignment is not SQL-expressible).
    *
    * Dispatch (round 11): when a committed [[graft.engine.AnnIndex]]
    * already exists for this dir — built by `q_llm_ann_index` or an
    * explicit index job — the query serves from the SNAPSHOT
    * (AnnIndex.query: two table reads + the probe, no quantizer
    * anywhere near the call), because paying a per-call fit beside a
    * committed index is exactly the weak row the round-10 trend
    * flagged (x30 = 5.6x, all of it the KMeans re-fit). AnnIndexSpec
    * pins snapshot-serve == fit-serve row-identical, so the dispatch
    * never changes the answer; [[annIvfFit]] keeps the in-session
    * fit path first-class for corpora with no committed index. */
  val annIvf: Q = (spark, dir) => committedAnnIndex(spark, dir) match {
    case Some(idx) =>
      val qe = Tables(spark, dir, "embeddings")
        .filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getAs[scala.collection.Seq[Double]](0).toSeq
      graft.engine.AnnIndex.query(spark, idx, qe, k = 10,
        excludeVecId = Some(0L))
    case None => annIvfFit(spark, dir)
  }

  /** The in-session-fit regime of [[annIvf]] (memoized per (session,
    * dir) via ivfCellsMemo) — the fallback when no committed index
    * exists, kept addressable so AnnIndexSpec can pin snapshot-serve
    * == fit-serve; its trend row is BASELINE.md "Round-11 ANN trend:
    * the committed-index dispatch closes the weak row". */
  private[graft] val annIvfFit: Q = (spark, dir) => {
    graft.functions.CosineSimilarity.register(spark)
    val (quant, cells) = ivfCells(spark, dir)
    val query = cells.filter(col("vec_id") === 0)
      .select(col("e").as("qe"), col("cell").as("qcell"))
    // probe the query's cell plus the nearest (nprobe-1) other
    // centroids. nprobe scales with k — ceil(k/4) keeps the probed
    // fraction constant as k grows with sqrt(n), which is what holds
    // recall steady on weakly-clustered (worst-case uniform) vectors;
    // corpora with real cluster structure can probe far fewer.
    val qRow = query.head()
    val qe = qRow.getAs[scala.collection.Seq[Double]](0)
    val qcell = qRow.getInt(1)
    val probes = rankProbes(quant, qe, qcell)
    cells
      .filter(col("vec_id") =!= 0 && col("cell").isin(probes: _*))
      .crossJoin(broadcast(query.select(col("qe"))))
      .withColumn("cosine", round(expr("cosine_sim(e, qe)"), 6))
      .select(col("vec_id"), col("cell"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  // --------------------------------------------------------- IVF-PQ

  /** Driver-side Lloyd over a bounded sample — PQ codebook training
    * (the FAISS idiom: codebooks are METADATA-sized, m*ks*(D/m)
    * doubles total, and converge on a small subsample; only encoding
    * is corpus-sized and that stays distributed). Deterministic:
    * seeded init picks ks spread sample points per subspace, ties in
    * assignment break to the lowest centroid id, an emptied cluster
    * keeps its previous centroid. Returns the FLAT codebook laid out
    * as cb[(j*ks + c)*sub + t] for subspace j, centroid c, dim t. */
  private[graft] def fitPqCodebooks(sample: Array[Array[Double]],
      m: Int, ks: Int, iters: Int, seed: Long): Array[Double] = {
    val dim = sample.head.length
    val sub = dim / m
    val cb = new Array[Double](m * ks * sub)
    val rnd = new scala.util.Random(seed)
    val n = sample.length
    for (j <- 0 until m) {
      val off = j * sub
      // init: ks distinct sample rows (with replacement only if n < ks)
      val picks = if (n >= ks) rnd.shuffle((0 until n).toVector).take(ks)
        else Vector.tabulate(ks)(i => i % n)
      for (c <- 0 until ks; t <- 0 until sub)
        cb((j * ks + c) * sub + t) = sample(picks(c))(off + t)
      val assign = new Array[Int](n)
      for (_ <- 0 until iters) {
        // assignment
        var i = 0
        while (i < n) {
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ks) {
            var d = 0.0; var t = 0
            while (t < sub) {
              val diff = sample(i)(off + t) - cb((j * ks + c) * sub + t)
              d += diff * diff; t += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          assign(i) = best; i += 1
        }
        // update (emptied cluster keeps its centroid)
        val sums = Array.ofDim[Double](ks, sub)
        val cnt = new Array[Long](ks)
        i = 0
        while (i < n) {
          val c = assign(i); cnt(c) += 1
          var t = 0
          while (t < sub) { sums(c)(t) += sample(i)(off + t); t += 1 }
          i += 1
        }
        for (c <- 0 until ks if cnt(c) > 0; t <- 0 until sub)
          cb((j * ks + c) * sub + t) = sums(c)(t) / cnt(c)
      }
    }
    cb
  }

  /** PQ geometry for a given dimensionality: m = most subspaces from
    * the preferred ladder that divide D evenly (dim 64 -> 8 subspaces
    * of 8 dims; a prime D degrades to m=1, i.e. plain VQ). */
  private[graft] def pqGeometry(dim: Int): (Int, Int) = {
    val m = Seq(8, 4, 2, 1).find(dim % _ == 0).get
    (m, dim / m)
  }

  /** PQ encode expression over bound columns `unit` (the unit vector)
    * and `cb` (flat codebook literal, layout cb[(j*ks+c)*sub+t]):
    * per subspace, each candidate distance computed ONCE via a
    * struct-array aggregate, first-minimum tie-break — deterministic.
    * Shared with the persisted AnnIndex PQ layer so snapshot-encoded
    * codes equal session-encoded codes by construction. */
  private[graft] def pqEncodeExpr(m: Int, ks: Int, sub: Int): String =
    s"""transform(sequence(0, ${m - 1}), j ->
          aggregate(
            transform(sequence(0, ${ks - 1}), c -> named_struct(
              'c', c,
              'd', aggregate(sequence(1, $sub), cast(0 as double),
                (s, t) -> s + pow(element_at(unit, j * $sub + t)
                  - element_at(cb, (j * $ks + c) * $sub + t), 2)))),
            named_struct('c', -1, 'd', cast('Infinity' as double)),
            (acc, x) -> IF(x.d < acc.d, x, acc)).c)"""

  /** ADC scoring expression over bound columns `lut` (per-query m*ks
    * lookup table) and `codes`: m array lookups + adds per row. */
  private[graft] def pqAdcExpr(m: Int, ks: Int): String =
    s"""aggregate(sequence(0, ${m - 1}), cast(0 as double),
          (acc, j) -> acc + element_at(lut,
            j * $ks + element_at(codes, j + 1) + 1))"""

  /** Per-query ADC lookup table: lut[j*ks + c] = ||q_j - cb_j[c]||^2
    * over the unit query vector — m*ks entries, driver-sized. */
  private[graft] def pqLut(qu: scala.collection.Seq[Double],
      cb: Array[Double], m: Int, ks: Int, sub: Int): Array[Double] = {
    val lut = new Array[Double](m * ks)
    for (j <- 0 until m; c <- 0 until ks) {
      var d = 0.0; var t = 0
      while (t < sub) {
        val diff = qu(j * sub + t) - cb((j * ks + c) * sub + t)
        d += diff * diff; t += 1
      }
      lut(j * ks + c) = d
    }
    lut
  }

  private val pqFitCap = 4096
  private val pqKs = 16
  private val pqIters = 12

  /** Memoized PQ-encoded corpus per (session, dir) — same lifecycle
    * as cellCache (weak session key, soft value, persist NOT
    * localCheckpoint so the memo survives the harnesses' cache
    * purges via lineage recompute). Value: (flat codebook, m, ks,
    * sub, codes frame (vec_id, cell, unit, codes array<int>)). */
  private val pqCache = graft.util.TableMemo
    .soft[(Array[Double], Int, Int, Int, DataFrame)]()

  def invalidatePqCache(): Unit = pqCache.invalidate()

  /** Product-quantization encoding of the embeddings corpus (Jégou,
    * Douze, Schmid: "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011), layered on the SHARED IVF coarse cells:
    * each unit vector's D dims split into m subspaces; each subspace
    * quantizes to one of ks codebook centroids; the stored record is
    * (cell, m byte-sized codes) — 64 float dims (256 B) compress to
    * 8 codes + cell id (~10 B), the factor that lets a 100 TB
    * corpus's ANN index live in cluster RAM. Codebooks train
    * driver-side on a seeded sample (metadata-sized, see
    * fitPqCodebooks); encoding is one distributed map over the cells
    * frame: per subspace, argmin over the broadcast-literal codebook
    * (each candidate distance computed once via a struct-array
    * aggregate, first-minimum tie-break — deterministic). */
  /** Keyed memo over pqCache (the ivfCellsMemo twin) — the forced PQ
    * witness memoizes its planted-input encode under `dir +
    * "#pqforced"` instead of pinning a fresh persisted codes frame
    * per call. */
  private def pqMemo(spark: SparkSession, key: String)(
      build: => (Array[Double], Int, Int, Int, DataFrame))
      : (Array[Double], Int, Int, Int, DataFrame) =
    graft.util.TableMemo.getOrBuildSoft(pqCache, spark, key)(build)

  private[graft] def pqCodes(spark: SparkSession, dir: String)
      : (Array[Double], Int, Int, Int, DataFrame) =
    pqMemo(spark, dir)(pqCodesOn(spark, ivfCells(spark, dir)._2))

  /** PQ fit + encode over a caller-supplied cells frame (the
    * un-memoized core of [[pqCodes]]) — the seam the forced-path
    * oracle entry routes through. */
  private def pqCodesOn(spark: SparkSession, cells: DataFrame)
      : (Array[Double], Int, Int, Int, DataFrame) = {
    val dim = cells.select(size(col("unit"))).head().getInt(0)
    val (m, sub) = pqGeometry(dim)
    val total = cells.count()
    val sample = (if (total > pqFitCap)
        cells.sample(withReplacement = false,
          fraction = pqFitCap.toDouble / total, seed = 42L)
      else cells)
      .select(col("unit")).limit(pqFitCap).collect()
      .map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    val ks = math.min(pqKs, sample.length)
    val cb = fitPqCodebooks(sample, m, ks, pqIters, seed = 42L)
    val codes = cells
      // NATIVE encoder (round-15): bitwise the HOF pqEncodeExpr's
      // codes (PqEncodeSpec pins it), one fused primitive loop per
      // row instead of the interpreted ks-struct aggregate
      .withColumn("codes",
        graft.functions.PqEncode(spark, col("unit"), cb, m, ks, sub))
      .select(col("vec_id"), col("cell"), col("unit"), col("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (cb, m, ks, sub, codes)
  }

  /** IVF-PQ ANN (IVFADC with exact re-ranking): probe the same
    * coarse cells as annIvf, score every probed vector with the
    * ASYMMETRIC distance — a per-query lookup table lut[j][c] =
    * ||q_j - cb_j[c]||^2 computed driver-side (m*ks entries) and
    * broadcast, so the per-vector score is m array lookups + adds
    * over the byte codes, never touching the float vectors — then
    * re-rank only the ADC shortlist exactly with the codegen'd
    * cosine. On unit vectors squared L2 is 2 - 2*cos, so ADC
    * ascending tracks cosine descending. The 100 TB shape: the float
    * vectors page in for the ~shortlist rows only; the scan over
    * probed cells reads (cell, codes) — ~10 B/vector. Rows-only
    * (codebook fit is not SQL-expressible); recall gated in
    * ApproxRecallSpec against the planted exact top-10. */
  val annIvfPq: Q = (spark, dir) =>
    ivfPqTopkWith(spark, ivfCells(spark, dir)._1, pqCodes(spark, dir))

  /** The IVFADC probe over a caller-supplied quantizer + PQ encoding
    * (the un-memoized core of [[annIvfPq]]) — the seam the
    * forced-path oracle entry routes through. */
  private def ivfPqTopkWith(spark: SparkSession,
      quant: graft.engine.Quantizer,
      pq: (Array[Double], Int, Int, Int, DataFrame)): DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val (cb, m, ks, sub, codes) = pq
    val query = codes.filter(col("vec_id") === 0)
      .select(col("unit").as("qunit"), col("cell").as("qcell"))
    val qRow = query.head()
    val qe = qRow.getAs[scala.collection.Seq[Double]](0)
    val qcell = qRow.getInt(1)
    val probes = rankProbes(quant, qe, qcell)
    val lut = pqLut(qe, cb, m, ks, sub)
    val shortlist = codes
      .filter(col("vec_id") =!= 0 && col("cell").isin(probes: _*))
      .withColumn("lut", typedLit(lut.toSeq))
      .withColumn("adc", expr(pqAdcExpr(m, ks)))
      .orderBy(col("adc").asc, col("vec_id"))
      .limit(50)
    shortlist
      .crossJoin(broadcast(query.select(col("qunit"))))
      .withColumn("cosine", round(expr("cosine_sim(unit, qunit)"), 6))
      .select(col("vec_id"), col("cell"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** The shared planted-copy input of the PQ forced witnesses: the
    * corpus plus `pqForcedCopies` identical copies of the query
    * vector (vec_id 0) at ids 1,000,000+i — more copies than the
    * top-k, so a correct approximate path's ENTIRE answer is the
    * deterministic planted set. */
  private[graft] val pqForcedCopies = 12
  private def pqForcedInput(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val planted = base.filter(col("vec_id") === 0)
      .withColumn("nid", explode(typedLit(
        (0 until pqForcedCopies).map(i => 1000000L + i))))
      .select(col("nid").as("vec_id"), col("e"))
    base.unionByName(planted)
  }

  /** Driver-visible HASH gate for the IVFADC serve path: identical
    * copies of the query vector are planted (pqForcedInput), the
    * quantizer + codebooks fit on the planted union, and the SAME
    * [[ivfPqTopkWith]] machinery runs. An identical copy's codes are
    * the per-subspace argmin against the query itself, so its ADC is
    * the global minimum — every copy is guaranteed into the ADC
    * shortlist — and the exact re-rank scores it 1.0; with more
    * copies than k the whole top-10 is the planted set (fixture's
    * real cosines top out near 0.52), so cell assignment, encode,
    * ADC scoring, shortlist, and re-rank are all under the DuckDB
    * hash, not just the recall spec. */
  val annIvfPqForced: Q = (spark, dir) => {
    val mc = ivfCellsMemo(spark, dir + "#pqforced")(
      fitIvfCellsOn(spark, pqForcedInput(spark, dir)))
    ivfPqTopkWith(spark, mc._1,
      pqMemo(spark, dir + "#pqforced")(pqCodesOn(spark, mc._2)))
      .filter(col("cosine") >= 0.999)
      .select(col("vec_id"), col("cosine"))
  }

  /** Memoized persisted ANN index per (session, dir): the build is a
    * one-time index-maintenance step (a nightly job in a real
    * deployment) — repeat invocations pay only the snapshot READ.
    * Same lifecycle as Advanced.skipTableCache; values are plain path
    * strings so the weak session key stays collectable. */
  private val annIndexCache = graft.util.TableMemo.paths()

  /** Explicit invalidation (regenerated fixtures in-session), deleting
    * the committed index dirs so invalidation reclaims disk too. */
  def invalidateAnnIndexCache(): Unit = annIndexCache.invalidate()

  /** The committed index for (session, dir) if one was already built
    * this session (via `q_llm_ann_index` / [[annIndexPath]]) — the
    * dispatch test [[annIvf]] and [[knnJoinIvfServe]] run before
    * falling back to the in-session fit. Never builds. */
  private[graft] def committedAnnIndex(spark: SparkSession,
      dir: String): Option[String] = annIndexCache.peek(spark, dir)

  /** Test seam: whether the cell-index memo holds an entry for `key`
    * in `spark`'s session — lets a spec assert the committed-index
    * dispatch NEVER reached the fit path (a result-equality check
    * alone cannot tell the regimes apart: AnnIndexSpec pins them
    * row-identical by design). */
  private[graft] def cellCacheContains(spark: SparkSession,
      key: String): Boolean =
    cellCache.peek(spark, key).exists(_.get() != null)

  private def annIndexPath(spark: SparkSession, dir: String): String =
    annIndexCache.getOrBuild(spark, dir) {
      val tmp = graft.util.Fs.tempDir("graft_ann_index")
      graft.engine.AnnIndex.build(spark,
        Tables(spark, dir, "embeddings").select(col("vec_id"),
          col("embedding").cast("array<double>").as("e")), tmp)
      tmp
    }

  /** L3 as a SERVABLE ARTIFACT ([[graft.engine.AnnIndex]]): the IVF
    * index committed as VersionedTables (centroids + cell-clustered
    * assignments), with the probe served entirely from the committed
    * snapshot — no quantizer fit on the query path, which is what a
    * 100 TB similarity-serving deployment actually operates (build
    * nightly, refresh incrementally via the race-safe MERGE, probe
    * forever). Same query vector and probe rule as `q_llm_ann_ivf`;
    * AnnIndexSpec pins probe-from-snapshot == probe-from-fit and the
    * recall gate covers the persisted path. Rows-only check (cell
    * assignment is not SQL-expressible — the annIvf scope note). */
  val annIndexServe: Q = (spark, dir) => {
    val idx = annIndexPath(spark, dir)
    val qe = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getAs[scala.collection.Seq[Double]](0).toSeq
    graft.engine.AnnIndex.query(spark, idx, qe, k = 10,
      excludeVecId = Some(0L))
  }

  /** The PERSISTED IVFADC face of L3: the same committed index as
    * `q_llm_ann_index` plus its PQ layer (versioned codebook + codes
    * tables, [[graft.engine.AnnIndex.buildPq]]), with the probe's
    * candidate scoring running over 8-byte codes instead of float
    * vectors and only the shortlist paging the floats back in for the
    * exact re-rank — the serving shape where the compressed index
    * fits in memory at corpus sizes the float table cannot. buildPq
    * is idempotent per committed index (currentVersion check), so
    * repeat invocations pay a metadata read + the probe. Rows-only
    * check (quantizer fits are not SQL-expressible); AnnIndexSpec
    * pins PQ-serve == exact-serve at shortlist >= probed rows and the
    * lineage coherence across rebuilds. */
  val annIndexServePq: Q = (spark, dir) => {
    val idx = annIndexPath(spark, dir)
    if (graft.engine.VersionedTable.currentVersion(spark,
        graft.engine.AnnIndex.pqCodesDir(idx)).isEmpty)
      graft.engine.AnnIndex.buildPq(spark, idx)
    val qe = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getAs[scala.collection.Seq[Double]](0).toSeq
    graft.engine.AnnIndex.queryPq(spark, idx, qe, k = 10,
      excludeVecId = Some(0L))
  }

  /** Driver-visible HASH gate for the PERSISTED IVFADC serve path
    * (annIvfPqForced's device run through the committed-index
    * machinery instead of the in-session quantizer): the index is
    * built and PQ-encoded over the planted-copy corpus
    * (pqForcedInput) as real VersionedTables in a memoized temp dir,
    * then `queryPq` serves the query from the committed snapshot —
    * codebook/cells sidecar resolution, ADC over the codes table,
    * shortlist float page-in, exact re-rank — and the >= 0.999 filter
    * keeps exactly the planted copies, DuckDB-hashable. */
  val annIndexServePqForced: Q = (spark, dir) => {
    // keyed separately so the forced index never shadows the real one
    val idx = annIndexCache.getOrBuild(spark, dir + "#forcedpq") {
      val tmp = graft.util.Fs.tempDir("graft_ann_index_forced")
      graft.engine.AnnIndex.build(spark, pqForcedInput(spark, dir), tmp)
      graft.engine.AnnIndex.buildPq(spark, tmp)
      tmp
    }
    val qe = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getAs[scala.collection.Seq[Double]](0).toSeq
    graft.engine.AnnIndex.queryPq(spark, idx, qe, k = 10,
      excludeVecId = Some(0L))
      .filter(col("cosine") >= 0.999)
      .select(col("vec_id"), col("cosine"))
  }

  /** SemDeDup (semantic dedup, Abbas et al. 2023 shape): coarse-cluster
    * embeddings with the same sampled KMeans quantizer as annIvf, then
    * drop near-duplicate vectors WITHIN each cell (cosine >= 0.8 to the
    * kept representative; lowest vec_id survives). The scale property
    * is the cell join: near-dup pairs only form inside a cell —
    * shuffle keyed by cell id, never corpus x corpus — so the
    * quadratic term is bounded by the largest cell, which k controls:
    * k = max(8, ceil(sqrt(n))) is now DERIVED from the corpus row
    * count (fitIvfCells), keeping cells ~sqrt(n) and the total pair
    * work O(n^1.5) at any scale. Rows-only check
    * (KMeans assignment is not SQL-expressible); output is per-cell
    * kept/dropped counts, deterministic given seed 42. */
  /** The drop set of the SemDeDup pass, factored out so the recall
    * spec can compare the cell-bounded drops against the exhaustive
    * within-threshold ground truth (a drop here requires a lower-id
    * >=0.8 neighbor IN THE SAME CELL, so the set is a subset of the
    * exhaustive one by construction — precision 1, recall gated). */
  private[graft] def semDedupDropped(spark: SparkSession, dir: String)
      : DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val (_, cells) = ivfCells(spark, dir)
    val a = cells.select(col("cell"), col("vec_id").as("a_id"),
      col("unit").as("a_e"))
    val b = cells.select(col("cell"), col("vec_id").as("b_id"),
      col("unit").as("b_e"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id") &&
        expr("cosine_sim(a_e, b_e)") >= 0.8)
      .select(col("b_id").as("vec_id")).distinct()
  }

  val semDedup: Q = (spark, dir) => {
    graft.functions.CosineSimilarity.register(spark)
    val (_, cells) = ivfCells(spark, dir)
    val drops = semDedupDropped(spark, dir)
    val kept = cells.join(drops, Seq("vec_id"), "left_anti")
      .groupBy(col("cell")).agg(count(lit(1)).as("n_kept"))
    cells.groupBy(col("cell")).agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("cell"), "left")
      .select(col("cell"),
        col("n_total"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("cell"))
  }

  /** Sequence packing (training-batch prep): assign documents to
    * fixed-token-budget bins (cap 512) greedily in deterministic
    * doc_id order, packed independently PER SOURCE — the partition key
    * is what makes packing distributable (a single global order would
    * serialize the corpus through one window partition at 100 TB).
    * Standard cumulative-sum formulation: a doc opens a new bin when
    * the running total before it crosses a cap multiple. */
  val pack: Q = (spark, dir) => {
    val cap = 512L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    tokenized(spark, dir)
      .select(col("source"), col("doc_id"), size(col("t")).cast("long").as("n_tok"))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      // integer `div`, not floor(double /): past ~2^53 cumulative
      // tokens the double quotient rounds and can misassign the bin
      // at exact cap multiples (the shardAssignOn rule)
      .withColumn("bin", expr(s"cum_before div $cap"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  /** Character-entropy quality signal: Shannon entropy of the per-doc
    * character distribution — low entropy flags boilerplate/repetition,
    * high entropy flags binary junk (a standard curation heuristic next
    * to the Gopher rules). Uses the single-aggregation identity
    * H = log2(n) - (sum c*log2(c))/n so the whole thing is ONE
    * (doc, char) count plus one per-doc aggregate — no window, no
    * join. The empty-string filter drops the trailing "" Java's
    * split-with-limit--1 emits on empty-pattern splits. */
  val entropy: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        explode(org.apache.spark.sql.functions.split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n"),
        sum(col("c") * log2(col("c"))).as("s"))
      .select(col("doc_id"),
        round(log2(col("n")) - col("s") / col("n"), 6).as("entropy"))
      .orderBy(col("doc_id"))

  /** BPE vocabulary induction — TRAINING the tokenizer, not applying
    * one (tokenizeBpe below is the apply face): the byte-pair-merge
    * loop (Sennrich et al. 2016), run the way the reference
    * implementation does — over the WEIGHTED VOCAB (distinct words x
    * frequency), not the raw corpus, so every round's state is
    * vocab-sized however large the corpus. Each round counts adjacent
    * symbol pairs weighted by word frequency, picks the argmax and
    * applies the merge greedy-leftmost and non-overlapping (the
    * reference semantics; the just-merged symbol becomes `prev`, so
    * aa+a never double-merges). Symbols are Unicode CODE POINTS
    * (Spark's split('') segments by code point) and ties break
    * (count desc, left asc, right asc) in Spark's binary string
    * order — which IS code-point order (UTF-8 bytes sort like code
    * points), so the contract is partitioning- and charset-stable.
    * This is the batched trainer below with one merge per round:
    * strict mode always accepts its first candidate, which is the
    * sequential argmax. Emits the learned merge table (rank, left,
    * right, merged, n) — rows-only (an iterative argmax is not
    * SQL-expressible); the spec verifies against an independent
    * single-threaded reference implementation. */
  val bpeTrain: Q = (spark, dir) => bpeTrainMerges(spark, dir, 12)

  private[graft] def bpeTrainMerges(spark: SparkSession, dir: String,
      rounds: Int): DataFrame =
    bpeTrainRounds(spark, dir, rounds, strictPrefix = true, None,
      perRound = 1).drop("round")

  /** Batched BPE training — the real-vocab regime. One merge per
    * round would be one round PER MERGE (a 32k-merge production vocab
    * would be 32k sequential rounds), so this variant learns a BATCH
    * of merges per round — the public SentencePiece / tokenizers
    * batching practice — while staying MERGE-FOR-MERGE IDENTICAL to
    * the sequential algorithm by construction, not by luck:
    *
    * per round, candidates are taken in global (count desc, left,
    * right) rank order and accepted as the longest PREFIX in which
    * each pair (1) shares no symbol with an earlier accepted pair
    * (its occurrences are then provably untouched by those merges)
    * and (2) has count strictly above every earlier accepted pair's
    * INTERFERENCE BOUND — the largest weighted count of any symbol
    * triple (x, a_i, b_i) / (a_i, b_i, y), which upper-bounds the
    * count of every pair a merge can CREATE (a new (x, m_i) pair
    * needs an original (x, a_i, b_i) context). Under (1)+(2) the
    * sequential argmax at step j is exactly candidate j, so applying
    * the batch in rank order replays the sequential trace. The first
    * candidate that fails either test ENDS the batch (skipping it
    * would let it outrank a later accepted pair), and the round's
    * merges apply as one nested fold.
    *
    * Two modes, because STRICT sequential equality fundamentally caps
    * batch size on natural text: a merge's own product routinely
    * becomes the next argmax (th + e -> the), so the sound prefix
    * rule measures ~1-4 accepts/round on the fixtures — real
    * interference, not conservatism. `strictPrefix = true` (the
    * default) keeps that provable-equality contract for any input;
    * `strictPrefix = false` is the public SentencePiece / tokenizers
    * practice — take the top-N, SKIP symbol-conflicting candidates
    * instead of stopping, no interference test — which reaches
    * production batch sizes at the cost of a bounded, measured
    * divergence from the sequential trace (LlmSpec proves the fast
    * mode exactly sequential on an interference-free planted corpus,
    * and measures merge-set overlap on the real fixture).
    *
    * REGIME DISPATCH (None = auto, the embedNeardupDispatch pattern):
    * the vocabulary's (symbols, n) rows are collected once, at most
    * [[bpeIncrementalVocabBound]] + 1 of them. At or below the bound
    * the rounds run on the driver in plain Scala ([[bpeTrainLocal]]):
    * a round's work is vocabulary-sized, and as Spark jobs it was all
    * fixed cost (the sf0.1 fixture vocabulary is 31 words). Above it
    * the pair counts are delta-maintained in Spark
    * ([[bpeTrainIncremental]]). Some(b) forces a regime (Some(false)
    * is the driver regime; the LlmSpec seam).
    *
    * The trace is regime-INDEPENDENT by construction — both count
    * with exact integer arithmetic and rank in the same order — and
    * the strict-mode merge-for-merge spec plus a forced-regime
    * equality spec gate it. Emits (rank, round, left, right, merged,
    * n). */
  private[graft] def bpeTrainMergesBatched(spark: SparkSession, dir: String,
      target: Int, strictPrefix: Boolean = true,
      incremental: Option[Boolean] = None): DataFrame =
    bpeTrainRounds(spark, dir, target, strictPrefix, incremental,
      bpeMaxPerRound)

  private def bpeTrainRounds(spark: SparkSession, dir: String,
      target: Int, strictPrefix: Boolean, incremental: Option[Boolean],
      perRound: Int): DataFrame = {
    import spark.implicits._
    // (s, n): distinct words as code-point symbols, with frequencies
    val vocab = tokenized(spark, dir)
      .select(explode(col("t")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .withColumn("s", expr("filter(split(w, ''), c -> c <> '')"))
      .select(col("s"), col("n"))
    def rows(df: DataFrame) = df.as[(Seq[String], Long)].collect()
      .map { case (s, n) => (s.toArray, n) }.toSeq
    val local = incremental match {
      case Some(true) => None
      case Some(false) => Some(rows(vocab))
      case None => Some(rows(vocab.limit(bpeIncrementalVocabBound.toInt + 1)))
        .filter(_.size <= bpeIncrementalVocabBound)
    }
    val merges = local match {
      case Some(words) => bpeTrainLocal(words, target, strictPrefix, perRound)
      case None =>
        bpeTrainIncremental(spark, vocab, target, strictPrefix, perRound)
    }
    merges.toDF("rank", "round", "left", "right", "merged", "n")
      .orderBy(col("rank"))
  }

  /** One round's batch from candidates in rank order: strict mode
    * takes the longest sound prefix (the first failing candidate ends
    * the batch — skipping it would let it outrank later ones), with
    * `bound` the interference bound of an accepted pair; practice mode
    * skips conflicting candidates and keeps scanning. */
  private def bpeAccept(cand: Seq[(String, String, Long)], want: Int,
      strictPrefix: Boolean, bound: ((String, String)) => Long)
      : Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val accepted = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    if (strictPrefix) {
      var maxI = Long.MinValue
      // the iterator is lazy: each test sees the batch accepted so far
      cand.iterator.takeWhile { case (a, b, cnt) =>
        accepted.isEmpty || (!used(a) && !used(b) && cnt > maxI)
      }.foreach { case (a, b, cnt) =>
        accepted += ((a, b, cnt))
        used += a; used += b
        maxI = math.max(maxI, bound((a, b)))
      }
    } else {
      cand.foreach { case (a, b, cnt) =>
        if (accepted.size < want && !used(a) && !used(b)) {
          accepted += ((a, b, cnt))
          used += a; used += b
        }
      }
    }
    accepted.toSeq
  }

  /** The driver regime: the rounds over a collected vocabulary in
    * plain Scala, with the distributed regime's rules — pair counts
    * weighted by `n`, candidates ranked (cnt desc, left, right) in
    * Spark's binary string order (`UTF8String.compareTo`, code-point
    * order; `String.compareTo` is UTF-16 code-unit order and differs
    * on supplementary-plane text), the triple interference bounds
    * and the same greedy-leftmost fold. */
  private def bpeTrainLocal(words: Seq[(Array[String], Long)], target: Int,
      strictPrefix: Boolean, perRound: Int)
      : Seq[(Int, Int, String, String, String, Long)] = {
    import org.apache.spark.unsafe.types.UTF8String
    def add[K](m: scala.collection.mutable.HashMap[K, Long], k: K, n: Long) =
      m(k) = m.getOrElse(k, 0L) + n
    var v = words
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (merges.size < target && !exhausted) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      v.foreach { case (s, n) =>
        for (i <- 0 until s.length - 1) add(pairs, (s(i), s(i + 1)), n)
      }
      val want = math.min(perRound, target - merges.size)
      val pool = if (strictPrefix) want else want * 4
      val cand = pairs.toSeq
        .map { case ((a, b), cnt) => ((-cnt, UTF8String.fromString(a),
          UTF8String.fromString(b)), (a, b, cnt)) }
        .sortBy(_._1).take(pool).map(_._2)
      if (cand.isEmpty) exhausted = true
      else {
        // weighted counts of each candidate's left (x, a, b) and right
        // (a, b, z) contexts; the bound is the largest single one
        lazy val bounds = {
          val keys = cand.map(c => (c._1, c._2)).toSet
          val ctx = scala.collection.mutable.HashMap
            .empty[(Boolean, String, String, String), Long]
          v.foreach { case (s, n) =>
            for (i <- 0 until s.length - 2) {
              val (x, y, z) = (s(i), s(i + 1), s(i + 2))
              if (keys((y, z))) add(ctx, (true, y, z, x), n)
              if (keys((x, y))) add(ctx, (false, x, y, z), n)
            }
          }
          ctx.toSeq.groupMapReduce(e => (e._1._2, e._1._3))(_._2)(math.max)
        }
        val accepted = bpeAccept(cand, want, strictPrefix,
          p => bounds.getOrElse(p, 0L))
        accepted.foreach { case (a, b, cnt) =>
          merges += ((merges.size, round, a, b, a + b, cnt))
        }
        v = v.map { case (s, n) =>
          accepted.foldLeft(s) { case (cur, (ma, mb, _)) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            cur.foreach { x =>
              if (out.nonEmpty && out.last == ma && x == mb)
                out(out.size - 1) = ma + mb
              else out += x
            }
            out.toArray
          } -> n
        }
        round += 1
      }
    }
    merges.toSeq
  }

  /** The distributed regime above [[bpeIncrementalVocabBound]]: pair
    * counts are DELTA-MAINTAINED (the standard trainer move) instead
    * of re-exploded from the whole vocabulary every round. The
    * persistent (a, b, cnt) table is updated per round by re-counting
    * ONLY the AFFECTED words — those containing an accepted pair
    * adjacently; a word with no accepted adjacency is provably
    * untouched by the batch (the fold rewrites only (ma, mb)
    * adjacents, and an untouched prefix of merges leaves initial
    * adjacencies equal), so its pair contributions cannot change. Per
    * round: one candidate pull, one candidate-filtered triple count
    * (strict mode), one map-only affectedness scan of the vocab and a
    * sliver-sized explode/shuffle. At 32k merges / ~48 per round that
    * is ~670 sliver updates vs ~670 full recounts. */
  private def bpeTrainIncremental(spark: SparkSession, vocab: DataFrame,
      target: Int, strictPrefix: Boolean, perRound: Int)
      : Seq[(Int, Int, String, String, String, Long)] = {
    import spark.implicits._
    var v = vocab.localCheckpoint(true)
    val pairsOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      frame => frame.filter(size(col("s")) >= 2)
        .select(col("n"), explode(expr(
          """transform(
               arrays_zip(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1)),
               p -> struct(p['0'] AS a, p['1'] AS b))""")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
    // the maintained pair-count table, seeded by ONE full explode,
    // then only sliver deltas touch it
    var pc = pairsOf(v).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Int, String, String, String, Long)]
    var round = 0
    var exhausted = false
    while (merges.size < target && !exhausted) {
      val want = math.min(perRound, target - merges.size)
      // the fast mode skips conflicting candidates, so it scans a
      // wider pool to fill the batch; strict mode stops at the first
      // failure and never looks past `want`
      val pool = if (strictPrefix) want else want * 4
      val cand = pc.orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(pool).as[(String, String, Long)].collect().toSeq
      if (cand.isEmpty) exhausted = true
      else {
        // interference bounds for the candidate set: max weighted
        // triple count with the candidate pair on either side
        // (strict mode only — the fast mode skips the triple pass)
        lazy val candDf = cand.map(c => (c._1, c._2)).toDF("ca", "cb")
        lazy val triples = v.filter(size(col("s")) >= 3)
          .select(col("n"), explode(expr(
            """transform(
                 arrays_zip(slice(s, 1, size(s) - 2),
                            slice(s, 2, size(s) - 2),
                            slice(s, 3, size(s) - 2)),
                 t -> struct(t['0'] AS x, t['1'] AS y, t['2'] AS z))"""))
            .as("t"))
          .select(col("n"), col("t.x").as("x"), col("t.y").as("y"),
            col("t.z").as("z"))
        lazy val bounds = {
          val leftB = triples.join(broadcast(candDf),
              col("y") === col("ca") && col("z") === col("cb"))
            .groupBy(col("ca"), col("cb"), col("x"))
            .agg(sum(col("n")).as("w"))
          val rightB = triples.join(broadcast(candDf),
              col("x") === col("ca") && col("y") === col("cb"))
            .groupBy(col("ca"), col("cb"), col("z").as("x"))
            .agg(sum(col("n")).as("w"))
          leftB.unionByName(rightB)
            .groupBy(col("ca"), col("cb")).agg(max(col("w")).as("bound"))
            .as[(String, String, Long)].collect()
            .map(r => (r._1, r._2) -> r._3).toMap
        }
        val accepted = bpeAccept(cand, want, strictPrefix,
          p => bounds.getOrElse(p, 0L))
        accepted.foreach { case (a, b, cnt) =>
          merges += ((merges.size, round, a, b, a + b, cnt))
        }
        // apply the batch in rank order as ONE nested fold — but only
        // to the AFFECTED words. Affectedness = some accepted (ma, mb)
        // appears adjacently in the word's CURRENT symbols; everything
        // else passes through untouched (and contributes no pair
        // delta). sort_array on the leading rank pins application
        // order — collect_list alone has no ordering contract
        val mseq = accepted.zipWithIndex
          .map { case ((a, b, _), i) => (i, a, b, a + b) }
          .toDF("rk", "ma", "mb", "mm")
          .agg(sort_array(collect_list(
            struct(col("rk"), col("ma"), col("mb"), col("mm")))).as("mseq"))
        val foldExpr =
          """aggregate(mseq, s,
               (cur, mg) -> aggregate(cur, cast(array() as array<string>),
                 (out, x) -> IF(size(out) > 0
                     AND element_at(out, -1) = mg.ma AND x = mg.mb,
                   concat(slice(out, 1, size(out) - 1), array(mg.mm)),
                   concat(out, array(x)))))"""
        // partition discipline: filter/union preserve parent
        // partitioning, so untouched(P) ∪ applied(P) DOUBLES the
        // partition count every round — exponential task explosion
        // (a 12-round training hit 16384 tasks per stage before
        // this narrow coalesce pinned every frame back to the
        // vocab's own partition count)
        val nPart = v.rdd.getNumPartitions
        val flagged = v.crossJoin(broadcast(mseq))
          .withColumn("hit", expr(
            """exists(
                 arrays_zip(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1)),
                 p -> exists(mseq,
                   mg -> mg.ma = p['0'] AND mg.mb = p['1']))"""))
        // the SLIVERS are materialized eagerly (they are batch-sized,
        // and the pc delta below must not drag the whole vocab
        // lineage through its evaluation); the interpreted merge
        // folds are confined to the slivers
        val affected = flagged.filter(col("hit"))
          .select(col("s"), col("n")).coalesce(nPart).localCheckpoint(true)
        val untouched = flagged.filter(!col("hit")).select(col("s"), col("n"))
        val applied = affected.crossJoin(broadcast(mseq))
          .withColumn("s", expr(foldExpr))
          .select(col("s"), col("n")).localCheckpoint(true)
        // sliver delta: subtract the affected words' pre-merge
        // pairs, add their post-merge pairs; zero rows drop. Exact
        // integer arithmetic on the same explode — counts equal a
        // recount.
        pc = pc
          .unionByName(pairsOf(affected).withColumn("cnt", -col("cnt")))
          .unionByName(pairsOf(applied))
          .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("cnt"))
          .filter(col("cnt") > 0)
          .localCheckpoint(true)
        // eager vocab checkpoint per round: leaving v lazy stacks
        // the exists-predicates of successive rounds, and every
        // later evaluation re-pays them all
        v = untouched.unionByName(applied).coalesce(nPart)
          .localCheckpoint(true)
        round += 1
      }
    }
    merges.toSeq
  }

  /** At or below this many distinct words the rounds run on the
    * driver; above it the full pair explode is the per-round envelope
    * and the incremental sliver update in Spark takes over. */
  private[graft] val bpeIncrementalVocabBound = 100000L

  /** Merges accepted per batched round (one per round is the
    * sequential trainer). */
  private val bpeMaxPerRound = 48

  /** Driver-visible face of the batched trainer: a 256-merge vocab —
    * the scale the 1-job-per-merge sequential loop cannot reach — in
    * the practice (fast) mode, capped by vocabulary exhaustion on
    * small fixtures. Rows-only like q_llm_bpe_train (iterative argmax
    * is not SQL-expressible); the `round` column documents the
    * batching factor. */
  val bpeTrainBatched: Q = (spark, dir) =>
    bpeTrainMergesBatched(spark, dir, 256, strictPrefix = false)

  /** BPE APPLY — tokenize the corpus with a TRAINED merge table (the
    * missing half of the train/apply pair: q_llm_tokenize_bpe is a
    * regex proxy, this is the real merge-table tokenizer). Trains 64
    * practice-mode merges, then applies them in rank order with the
    * same greedy-leftmost fold the trainer uses — but over the
    * DISTINCT WORD VOCABULARY, not the raw corpus: each distinct word
    * tokenizes once (the merge fold is per-word by construction; BPE
    * never merges across words), and documents join their per-word
    * token cost back by word key. A 100 TB corpus pays the
    * interpreted fold only vocab-many times, and the doc-side work is
    * one explode + one word-keyed join + one doc-keyed sum. Output:
    * (doc_id, n_words, n_bpe_tok); rows-only (merge-table application
    * is not SQL-expressible), spec-checked against a single-threaded
    * reference apply. */
  /** The greedy-leftmost per-word merge fold shared by every apply
    * face; binds columns `w` (the word) and `mseq` (rank-sorted
    * array<struct<rk,ma,mb,mm>>). */
  private val bpeFoldE =
    """size(aggregate(mseq, filter(split(w, ''), c -> c <> ''),
         (cur, mg) -> aggregate(cur, cast(array() as array<string>),
           (out, x) -> IF(size(out) > 0
               AND element_at(out, -1) = mg.ma AND x = mg.mb,
             concat(slice(out, 1, size(out) - 1), array(mg.mm)),
             concat(out, array(x))))))"""

  /** Apply face over a caller-supplied MERGE TABLE (rank, left, right,
    * merged) — the body of [[bpeApply]] with the tokenizer decoupled
    * from training, so the same machinery serves the in-session
    * trainer, the committed artifact, and a pinned historical
    * version. */
  private[graft] def bpeApplyWith(spark: SparkSession, dir: String,
      merges: DataFrame): DataFrame = {
    val mseq = merges
      .select(col("rank").cast("int").as("rk"), col("left").as("ma"),
        col("right").as("mb"), col("merged").as("mm"))
      .agg(sort_array(collect_list(
        struct(col("rk"), col("ma"), col("mb"), col("mm")))).as("mseq"))
    val words = tokenized(spark, dir)
      .select(explode(col("t")).as("w")).filter(col("w") =!= "")
    val wordCost = words.distinct()
      .crossJoin(broadcast(mseq))
      .select(col("w"), expr(bpeFoldE).as("n_tok"))
    tokenized(spark, dir)
      .select(col("doc_id"), explode(col("t")).as("w"))
      .filter(col("w") =!= "")
      .join(wordCost, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("n_tok")).cast("long").as("n_bpe_tok"))
      .orderBy(col("doc_id"))
  }

  /** Memoized COMMITTED tokenizer artifact per (session, dir) — the
    * AnnIndex servable-artifact idiom applied to the tokenizer: BPE
    * merges train once and commit as a VersionedTable, so the
    * tokenizer is a versioned, time-travelable table instead of an
    * in-session side effect. A retrain ([[bpeRetrain]]) commits the
    * NEXT VERSION of the same table: dataloaders pinned at version N
    * keep tokenizing bit-for-bit identically while N+1 trains and
    * publishes — the property that makes mid-training tokenizer
    * swaps impossible by construction. */
  private val bpeTableCache = graft.util.TableMemo.paths()

  def invalidateBpeTableCache(): Unit = bpeTableCache.invalidate()

  private[graft] def bpeCommittedMerges(spark: SparkSession, dir: String)
      : String =
    bpeTableCache.getOrBuild(spark, dir) {
      val table = graft.util.Fs.tempDir("graft_bpe")
      graft.engine.VersionedTable.commit(
        bpeTrainMergesBatched(spark, dir, 64, strictPrefix = false)
          .orderBy(col("rank")),
        table)
      table
    }

  /** Retrain with a new merge budget and commit the result as the
    * next version of the SAME artifact table — the nightly
    * tokenizer-refresh motion. Returns the committed version. */
  private[graft] def bpeRetrain(spark: SparkSession, dir: String,
      target: Int): Long = {
    val table = bpeCommittedMerges(spark, dir)
    graft.engine.VersionedTable.commit(
      bpeTrainMergesBatched(spark, dir, target, strictPrefix = false)
        .orderBy(col("rank")),
      table)
  }

  /** BPE apply from the committed artifact, optionally PINNED to a
    * historical version (None = current) — the dataloader's read
    * path. */
  private[graft] def bpeApplyCommitted(spark: SparkSession, dir: String,
      version: Option[Long] = None): DataFrame =
    bpeApplyWith(spark, dir, graft.engine.VersionedTable.read(
      spark, bpeCommittedMerges(spark, dir), version))

  /** The driver-visible apply entry now serves from the COMMITTED
    * artifact's current version (train+commit is the memoized
    * one-time step; repeat invocations read the table) — the same
    * query semantics as the old in-session form, spec-pinned to the
    * single-threaded reference apply. */
  val bpeApply: Q = (spark, dir) => bpeApplyCommitted(spark, dir)

  /** Pinned-tokenizer STREAMING column: reads the committed merge
    * table at stream construction (once, driver-side — the artifact
    * is vocabulary-sized) and folds the merge sequence into a literal
    * expression, so every micro-batch of the stream tokenizes with
    * exactly that tokenizer version even while retrains commit new
    * versions underneath. Apply to a streaming frame bearing a `text`
    * column: returns the document's BPE token count. */
  private[graft] def bpeTokenCountPinned(spark: SparkSession,
      table: String, version: Option[Long] = None)
      : org.apache.spark.sql.Column = {
    val ms = graft.engine.VersionedTable.read(spark, table, version)
      .orderBy(col("rank"))
      .select(col("left"), col("right"), col("merged"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq
    val mseq = typedLit(ms) // rank-sorted (left, right, merged) literal
    // the DSL twin of bpeFoldE (same greedy-leftmost fold, same
    // guards), built over the literal so no join touches the stream
    // NB: `split` must qualify — this object's train/val/test `split`
    // operator shadows functions.split
    def fsplit(c: org.apache.spark.sql.Column, p: String) =
      org.apache.spark.sql.functions.split(c, p)
    def foldWord(w: org.apache.spark.sql.Column) =
      size(aggregate(
        mseq,
        filter(fsplit(w, ""), c => c =!= ""),
        (cur, mg) => aggregate(
          cur,
          array().cast("array<string>"),
          (out, x) =>
            when(size(out) > 0 &&
              element_at(out, -1) === mg("_1") && x === mg("_2"),
              concat(slice(out, lit(1), size(out) - 1), array(mg("_3"))))
              .otherwise(concat(out, array(x))))))
    // per-document: explode-free word fold summed in place
    // (streaming-safe — no join, no shuffle, one projection)
    aggregate(
      filter(fsplit(col("text"), " "), w => w =!= ""),
      lit(0),
      (acc, w) => acc + foldWord(w))
  }

  /** Token counting, whitespace + BPE-ish regex: runs of letters, runs
    * of digits, single other symbols (the classic pre-tokenizer
    * shape). */
  val tokenizeBpe: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(expr("split(text, '\\\\s+')")).as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
          .as("n_bpe"))
      .orderBy(col("doc_id"))

  /** Deterministic train/val/test split: bucket by the first hex char
    * of md5(doc_id) — 12/2/2 sixteenths. Hash-based splits survive
    * reshuffles and appends (row-number splits don't), and the bucket
    * function is cross-engine stable. */
  val split: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
      .withColumn("split",
        when(col("h") < "c", "train")
          .when(col("h") < "e", "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("split"))

  /** Deterministic SHARD ASSIGNMENT — the training-shard writer's
    * core: a seeded global shuffle (order by md5(doc_id || seed),
    * doc_id — hash order IS the permutation, reproducible re-run to
    * re-run and engine to engine) cut into fixed-size shards with a
    * stable position inside each (the (shard, pos) a dataloader
    * resumes from; the write face is `partitionBy("shard")`).
    *
    * The scale shape is the `Windows.withGlobalIndex` de-concentration
    * idiom, specialized: a bare global row_number is ONE task sorting
    * the corpus. Here the md5 key's first two hex chars are a PREFIX
    * of the total lexicographic order (fixed-width lowercase hex), so
    * they bucket rows into 256 hash-uniform ranges that concatenate
    * to exactly the global order — row_number runs WITHIN buckets
    * (distributed, one shuffle), bucket offsets come from a 256-row
    * broadcast frame. No approxQuantile pass needed: uniformity is a
    * property of the hash, not the data. */
  private[graft] def shardAssignOn(docs: DataFrame, shardSize: Int,
      seed: String): DataFrame =
    Windows.withGlobalIndexBy(
      docs.withColumn("__k",
        md5(concat(col("doc_id").cast("string"), lit("-" + seed)))),
      conv(substring(col("__k"), 1, 2), 16, 10).cast("int"),
      Seq(col("__k"), col("doc_id")), "__idx")
      // payload columns (the write face ships text alongside the
      // assignment) ride through; only the helper key drops
      .drop("__k")
      .withColumn(
        // `div` keeps the quotient in LONG integer arithmetic: the
        // Column `/` is DOUBLE division, inexact past ~2^53/shardSize
        // for non-power-of-two sizes (the windowNtile rule); shard is
        // LONG because at corpus scale it exceeds INT
        "shard", expr(s"__idx div $shardSize"))
      .withColumn("pos", (col("__idx") % shardSize).cast("int"))
      .drop("__idx")
      .orderBy(col("shard"), col("pos"))

  val shard: Q = (spark, dir) =>
    shardAssignOn(Tables(spark, dir, "documents").select(col("doc_id")),
      shardSize = 64, seed = "42")

  /** Memoized WRITTEN shard table per (session, dir) — the shared
    * [[graft.util.TableMemo]] lifecycle: the write is the one-time
    * training-data publish step; repeat invocations (the dataloader's
    * reads) pay only the pruned scan. */
  private val shardTableCache = graft.util.TableMemo.paths()

  def invalidateShardTableCache(): Unit = shardTableCache.invalidate()

  /** Shard WRITE face — the training-shard writer's actual production
    * motion on top of [[shardAssignOn]]'s assignment: the permuted
    * corpus (assignment + text payload) commits as a VersionedTable
    * laid out `partitionBy(shard)`, so a dataloader reading shard N
    * opens exactly one directory (partition pruning at planning
    * time) and resumes from a (shard, pos) cursor without scanning
    * anything before it. Versioning gives the publish step the same
    * atomic-swap/time-travel semantics as every other table — a
    * half-written shard set is never visible.
    *
    * Partition-type caveat (the setPartitionColumns note): shard
    * values come back from directory-name inference as the narrowest
    * integral type covering the observed range (INT here; widens to
    * LONG automatically past 2^31 shards), so serves cast the read
    * column back to LONG rather than trusting inference. */
  private[graft] def shardWrittenTable(spark: SparkSession, dir: String)
      : String =
    shardTableCache.getOrBuild(spark, dir) {
      val table = graft.util.Fs.tempDir("graft_shards")
      graft.engine.VersionedTable.setPartitionColumns(spark, table,
        Seq("shard"))
      graft.engine.VersionedTable.commit(
        shardAssignOn(
          Tables(spark, dir, "documents").select(col("doc_id"), col("text")),
          shardSize = 64, seed = "42"),
        table)
      table
    }

  /** Dataloader RESUME read over a written shard table: everything at
    * or after the (shard, pos) cursor, in permutation order. The
    * shard predicate is a partition-column comparison, so all shards
    * before the cursor prune at planning time — the resume cost is
    * the remaining data, not a scan-and-skip over the prefix.
    * `version` PINS the read (time travel): a dataloader mid-epoch
    * keeps its cursor meaning against the snapshot it started on even
    * while a re-publish commits a new version on top — the committed-
    * tokenizer pinning story applied to the data itself. */
  private[graft] def shardResume(spark: SparkSession, table: String,
      fromShard: Long, fromPos: Int,
      version: Option[Long] = None,
      // ordered=false exposes the bare pruned scan (no sort exchange)
      // so a spec can observe input_file_name per task — the sorted
      // face is the dataloader contract and stays the default
      ordered: Boolean = true): DataFrame = {
    // Pruned LISTING, not just a pruned scan: the plain read + filter
    // still builds a file index over EVERY shard directory before
    // partition pruning runs — a fixed cost that grows with the table
    // (1.45 s of a 1.7 s x10 resume was listing, 0.08 s data —
    // BASELINE.md "Shard-resume proportionality"), which is exactly
    // what a resume read must not pay.
    // Directory names are filtered BEFORE any recursive listing, so
    // planning and scan both track the remaining fraction; the exact
    // (shard, pos) predicate below still cuts within the cursor shard.
    val base = graft.engine.VersionedTable.readPartitionPruned(
      spark, table, "shard",
      v => scala.util.Try(v.toLong).toOption.exists(_ >= fromShard),
      version)
    // Compare the partition column against a literal of ITS OWN type
    // (directory-name inference narrows `shard` to INT until the
    // count crosses 2^31): a bare Long cursor would wrap the column
    // in cast(shard as bigint) and leave planning-time pruning — the
    // whole point of the partitioned layout — at the mercy of the
    // UnwrapCastInBinaryComparison rewrite. The explicit range check
    // replaces the silent dependency: an out-of-range cursor against
    // an INT-typed table is a caller bug, not an empty read.
    val shardT = base.schema("shard").dataType
    if (shardT == org.apache.spark.sql.types.IntegerType)
      require(fromShard >= Int.MinValue && fromShard <= Int.MaxValue,
        s"resume cursor shard=$fromShard exceeds the table's " +
          "INT-typed shard partition range")
    val cursor = lit(fromShard).cast(shardT)
    val cut = base
      .filter(col("shard") > cursor ||
        (col("shard") === cursor && col("pos") >= fromPos))
      .withColumn("shard", col("shard").cast("long"))
    if (ordered) cut.orderBy(col("shard"), col("pos")) else cut
  }

  /** Driver-visible face of the write/resume contract: build (memoized)
    * the partitioned shard table, resume from (shard 2, pos 17), and
    * emit the assignment columns — hash-gated against DuckDB computing
    * the same permutation with the same cut applied. */
  val shardResumeServe: Q = (spark, dir) =>
    shardResume(spark, shardWrittenTable(spark, dir), 2L, 17)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))

  /** The END-TO-END training-data PREP macro — curate -> decontaminate
    * -> shard as ONE composed plan, the full nightly publish motion a
    * training-data team runs (curatePipeline stops at the funnel
    * report; this entry carries the surviving documents all the way
    * to their dataloader coordinates). Every stage reuses the
    * standalone op's EXACT predicate — langScoreExpr / qualityOkExpr
    * / the sha256 min-id dedup rule (curatePipeline), isEvalExpr +
    * the distinct-5-gram eval-overlap rule (decontaminate),
    * shardAssignOn's seeded md5 permutation (shard) — so the
    * composite is oracle-checkable end to end and drift between a
    * stage and its standalone op breaks this gate too.
    *
    * Scale shape, stage by stage: the curation gates are MAP-ONLY
    * flags on the corpus scan; the dedup window shuffles the corpus
    * ONCE on sha256(text); the eval gram set broadcasts (the
    * decontaminate rule: the corpus-sized gram stream is filtered
    * before anything shuffles, so contamination costs no corpus
    * shuffle); the contaminated-id set is eval-bounded and anti-joins
    * the survivors; sharding is the 256-bucket global-index idiom
    * (one corpus shuffle, no single-task sort). Total: two
    * corpus-keyed shuffles (dedup, shard) — the same count the
    * standalone ops pay — everything else metadata- or eval-bounded.
    * PlansSpec guards the no-cartesian / broadcast-gram /
    * partitioned-window shape. */
  val prepE2e: Q = (spark, dir) => {
    // stage 1 — CURATE: language + quality gates, exact dedup
    val survivors = Tables(spark, dir, "documents")
      .withColumn("tok_cnt", size(expr(toksE)))
      .filter(langScoreExpr >= 0.1)
      .filter(qualityOkExpr)
      .withColumn("rn", row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    // stage 2 — DECONTAMINATE: drop the eval slice itself and every
    // surviving train doc sharing a distinct 5-gram with it
    val exploded = evalTaggedGrams(spark, dir)
    val evalGrams = exploded.filter(col("is_eval"))
      .select(col("g")).distinct()
    val contaminated = exploded.filter(!col("is_eval"))
      .join(broadcast(evalGrams), Seq("g"))
      .select(col("doc_id")).distinct()
    val clean = survivors
      .filter(!isEvalExpr)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // stage 3 — SHARD: the deterministic permutation over exactly the
    // cleaned corpus; per-doc token counts ride along so the output
    // is the dataloader's manifest (doc, shard, pos, n_tok)
    shardAssignOn(clean.select(col("doc_id"), col("tok_cnt")),
      shardSize = 64, seed = "42")
      .select(col("doc_id"), col("shard"), col("pos"),
        col("tok_cnt").cast("long").as("n_tok"))
      .orderBy(col("shard"), col("pos"))
  }

  /** WEIGHTED sampling without replacement, per stratum — the
    * curation move between uniform subsampling (corpusMix) and hard
    * top-K: keep K docs per language with probability proportional
    * to length. Standard distributed formulation (Efraimidis &
    * Spirakis 2006): each row draws a deterministic hash uniform
    * u in (0,1] and ranks by priority ln(u)/w — the top-K per
    * stratum IS a weight-proportional sample, computable as one
    * window over the stratum-keyed shuffle (no driver-side reservoir,
    * no multi-pass rejection — the property that makes weighted
    * sampling distributable at 100 TB). The hash uniform makes
    * re-runs reproducible row-for-row across engines (same md5), and
    * the priority is rounded before ranking with a doc_id tie-break
    * so the selected set is cross-engine deterministic. */
  val sampleWeighted: Q = (spark, dir) => {
    val k = 20
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("priority").desc, col("doc_id"))
    Tables(spark, dir, "documents")
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS DOUBLE)"))
      .withColumn("u", (col("h") + lit(1.0)) / lit(4294967296.0))
      // + 0.0 IEEE-canonicalizes a rounded -0.0 (u within ulps of 1.0
      // gives a tiny negative log) — the q_agg_stats signed-zero class
      .withColumn("priority",
        round(log(col("u")) / col("n_chars"), 9) + lit(0.0))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("doc_id"), col("n_chars"), col("priority"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** PII redaction (C4/CCNet-style corpus cleaning): scrub emails and
    * phone numbers with typed placeholder tokens, counting the hits.
    * The synthetic corpus carries no PII, so a deterministic
    * contact-line suffix is appended per document before scrubbing —
    * the redactor itself is the operator under test, and the oracle
    * re-runs the same regexes in DuckDB (both engines' flavors accept
    * this subset: character classes, bounded repetition, alternation).
    * Pure `regexp_replace`/`regexp_extract_all` — codegen'd, no UDF;
    * at corpus scale this is a map-only stage with zero shuffle. */
  val redactPii: Q = (spark, dir) => {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\d{3}-\\d{4}"
    Tables(spark, dir, "documents")
      .withColumn("raw", concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 555-0"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit(" today")))
      .select(
        col("doc_id"),
        size(expr(
          s"regexp_extract_all(raw, '${emailRe.replace("\\", "\\\\")}', 0)"))
          .as("n_emails"),
        size(expr(
          s"regexp_extract_all(raw, '${phoneRe.replace("\\", "\\\\")}', 0)"))
          .as("n_phones"),
        regexp_replace(
          regexp_replace(col("raw"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Repetition-based quality signals (the Gopher rules): word-level
    * duplicate fraction and top-bigram frequency share, plus the
    * keep/drop verdict. The duplicate fraction is array ops per row;
    * the top-bigram share is an explode -> (doc, gram) hash count ->
    * per-doc max — two codegen'd aggregates on one shuffle keyed by
    * (doc_id, gram), which is the 100 TB shape (a per-row
    * count-within-array HOF loop would be O(len^2) CodegenFallback).
    * Fractions are integer-count divisions, so both engines agree
    * bitwise. */
  val repetition: Q = (spark, dir) => {
    val docs = tokenized(spark, dir)
    val words = docs.select(
      col("doc_id"),
      size(col("t")).as("n_tok"),
      size(array_distinct(col("t"))).as("n_uniq"))
    // bigrams zip two shifted slices of the BOUND token column — see
    // the shinglesE note (inlined-split lambdas are O(tokens^2)/row)
    val grams = docs
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(
             arrays_zip(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1)),
             p -> concat_ws(' ', p['0'], p['1']))""")).as("g"))
    val top = grams
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top2"), sum(col("c")).as("n2"))
    words.join(top, Seq("doc_id"))
      .select(
        col("doc_id"),
        col("n_tok"),
        ((col("n_tok") - col("n_uniq")).cast("double") / col("n_tok"))
          .as("dup_word_frac"),
        (col("top2").cast("double") / col("n2")).as("top_bigram_frac"),
        (((col("n_tok") - col("n_uniq")).cast("double") / col("n_tok")) <= 0.6
          && (col("top2").cast("double") / col("n2")) <= 0.1).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Per-source corpus curation stats: the group-by a curator runs to
    * decide which sources to keep, reweight, or drop. One shuffle on
    * `source` with map-side partials; token totals ride the same
    * aggregate instead of a second pass. */
  val sourceStats: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        sum(size(expr(toksE))).as("n_tokens"))
      .orderBy(col("source"))

  // ------------------------------------------------------- URL curation

  /** Deterministic URL derivation seam: the fixture's `documents`
    * table carries no url column, so the C4/RefinedWeb-style
    * URL-curation ops derive one from (lang, source, doc_id) with the
    * IDENTICAL string expression on both engines — the parsing,
    * capping, and blocklist logic downstream is exactly what would run
    * on a real url column. */
  private val urlE =
    "concat('https://', lang, '.', source, '.example.com/', lang, " +
      "'/article-', cast(doc_id as string), '?ref=', " +
      "cast(doc_id % 7 as string))"

  /** Host / registered-domain / path extraction from a URL column —
    * pure regexp projections (codegen'd, no UDF), the first step of
    * every URL-level curation pipeline. Map-only plan: the one
    * exchange is the output sort. */
  val urlHost: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .withColumn("url", expr(urlE))
      .select(col("doc_id"), col("url"),
        regexp_extract(col("url"), "^https://([^/]+)/", 1).as("host"),
        regexp_extract(col("url"), "^https://[^./]+\\.([^/]+)/", 1)
          .as("domain"),
        regexp_extract(col("url"), "^https://[^/]+(/[^?]*)", 1).as("path"))
      .orderBy(col("doc_id"))

  /** Per-domain document cap (the C4 move against domain dominance):
    * keep at most K docs per registered domain, preferring the longest
    * (deterministic doc_id tie-break).
    *
    * SALTED TWO-PHASE top-K, not one window: web domain distributions
    * are head-heavy (one domain can hold 1% of a 100 TB corpus), and a
    * single window partitioned by domain puts that whole domain on one
    * reducer — AQE cannot split a window the way it splits a skewed
    * join. Phase 1 takes the local top-K within (domain, salt-of-
    * doc_id); phase 2 re-ranks the <= SALTS*K survivors per domain.
    * Top-K is associative (the global top-K is contained in the union
    * of per-salt top-Ks), so the result is IDENTICAL to the plain
    * window — the oracle runs the plain window SQL — while the
    * heaviest reducer input drops from |domain| to SALTS*K rows. */
  val domainCap: Q = (spark, dir) => {
    val k = 5
    val salts = 8
    val localW = Window.partitionBy(col("domain"), col("salt"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val globalW = Window.partitionBy(col("domain"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables(spark, dir, "documents")
      .withColumn("domain",
        regexp_extract(expr(urlE), "^https://[^./]+\\.([^/]+)/", 1))
      .withColumn("salt", pmod(col("doc_id"), lit(salts)))
      .withColumn("rn_local", row_number().over(localW))
      .filter(col("rn_local") <= k)
      .withColumn("rn", row_number().over(globalW))
      .filter(col("rn") <= k)
      .select(col("domain"), col("doc_id"), col("n_chars"), col("rn"))
      .orderBy(col("domain"), col("rn"))
  }

  /** Domain blocklist filter: the blocklist is dimension-sized
    * (thousands of domains vs billions of docs), so it BROADCASTS and
    * the filter is a map-side anti join — no shuffle of the corpus.
    * Plan-guarded (BroadcastHashJoin LeftAnti). */
  val urlBlocklist: Q = (spark, dir) => {
    import spark.implicits._
    val blocked = Seq("src3.example.com", "src7.example.com",
      "src12.example.com").toDF("domain")
    Tables(spark, dir, "documents")
      .withColumn("domain",
        regexp_extract(expr(urlE), "^https://[^./]+\\.([^/]+)/", 1))
      .join(broadcast(blocked), Seq("domain"), "left_anti")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("domain"))
  }

  /** Int8 scalar quantization of embeddings (the memory-compression
    * step before a 100 TB ANN index: 4 bytes/dim float -> 1 byte/dim
    * code). Per-vector min/max affine map to [0, 255]; emitted here as
    * summary stats (dims, code sum, code range) so the oracle can
    * hash-check the codes without comparing raw arrays. All arithmetic
    * is identical-order IEEE on both engines -> floor() agrees
    * bitwise. */
  val embedQuantize: Q = (spark, dir) =>
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("vmin", array_min(col("e")))
      .withColumn("vmax", array_max(col("e")))
      .filter(col("vmax") > col("vmin")) // constant vectors are unquantizable
      .withColumn("q", expr(
        "transform(e, x -> CAST(floor((x - vmin) * 255 / (vmax - vmin)) AS INT))"))
      .select(
        col("vec_id"),
        size(col("q")).as("n_dims"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))
      .orderBy(col("vec_id"))

  /** Benchmark decontamination (GPT-3/Pile-style): flag training
    * documents that share any 5-gram with the held-out eval set, so
    * eval answers can't leak into training data. The eval set here is
    * the md5-bucket 'f' sixteenth of the corpus (stand-in for a real
    * benchmark, which is tiny by nature — hence `broadcast` of its
    * distinct-5-gram set: at 100 TB the train side streams map-only
    * against the broadcast eval grams, no shuffle of the corpus).
    * 5-grams, not the 3-gram shingles the dedup ops use: short grams
    * collide on common phrases (probed 419/469 false flags at 3,
    * 1/469 at 5 on the fixtures), and published decontamination
    * pipelines use 8-13-gram overlap for the same reason. */
  /** Eval-slice membership — ONE definition for the gram tagging and
    * the train spine (a drifted copy would report eval docs as
    * never-contaminated train rows with no gate to catch it). */
  private def isEvalExpr: org.apache.spark.sql.Column =
    substring(md5(col("doc_id").cast("string")), 1, 1) === "f"

  /** (doc_id, is_eval, g) exploded distinct 5-grams with the
    * md5-bucket eval tag — THE shared front half of both n-gram
    * decontamination faces. They share one oracle precisely because
    * this definition is identical; sharing the code makes that true
    * by construction instead of by parallel copies. */
  /** Distinct 5-grams over a PRE-BOUND token column `t` (the shingle
    * idiom: zipped shifted slices, never element_at lambdas). */
  private val grams5E = expr(
    """array_distinct(transform(
         arrays_zip(slice(t, 1, greatest(size(t) - 4, 0)),
                    slice(t, 2, greatest(size(t) - 4, 0)),
                    slice(t, 3, greatest(size(t) - 4, 0)),
                    slice(t, 4, greatest(size(t) - 4, 0)),
                    slice(t, 5, greatest(size(t) - 4, 0))),
         p -> concat_ws(' ', p['0'], p['1'], p['2'], p['3'], p['4'])))""")

  /** (doc_id, g) distinct 5-grams of ARBITRARY (doc_id, text) docs —
    * the tokenization/gram definition the batch decontamination faces
    * use, exposed for the streaming ingest gate so both gates agree
    * by construction. Map-only. */
  private[graft] def grams5Of(docs: DataFrame): DataFrame =
    docs.withColumn("t", expr(toksE))
      .select(col("doc_id"), explode(grams5E).as("g"))

  private def evalTaggedGrams(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir)
      .withColumn("is_eval", isEvalExpr)
      .select(col("doc_id"), col("is_eval"), explode(grams5E).as("g"))

  /** Non-eval doc ids with the eval tag — the join-back spine both
    * decontamination faces report over. */
  private def trainDocIds(spark: SparkSession, dir: String): DataFrame =
    tokenized(spark, dir).filter(!isEvalExpr).select(col("doc_id"))

  val decontaminate: Q = (spark, dir) => {
    val exploded = evalTaggedGrams(spark, dir)
    val evalGrams = exploded.filter(col("is_eval")).select(col("g")).distinct()
    val hits = exploded.filter(!col("is_eval"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    trainDocIds(spark, dir)
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Contamination audit from the EVAL side: per eval doc, how much
    * of it leaked into the training corpus — `n_leaked / n_grams`
    * over its distinct 5-grams (the report an eval-suite owner reads
    * before trusting a benchmark score; [[decontaminate]] is the
    * train-side twin that decides which TRAIN docs to drop).
    *
    * Scale shape: the corpus-sized gram stream is filtered by the
    * BROADCAST eval-gram set before anything shuffles, so the only
    * wide exchanges are bounded by the eval set (the matched-gram
    * distinct and the per-eval-doc aggregate) — the corpus is
    * scanned map-only, never shuffled, at any corpus:eval ratio. */
  val decontamReport: Q = (spark, dir) => {
    val exploded = evalTaggedGrams(spark, dir)
    val evalGrams = exploded.filter(col("is_eval"))
    val evalGramSet = evalGrams.select(col("g")).distinct()
    val matched = exploded.filter(!col("is_eval"))
      .join(broadcast(evalGramSet), Seq("g"))
      .select(col("g")).distinct()
    evalGrams
      .join(broadcast(matched.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_leaked"))
      .withColumn("overlap",
        round(col("n_leaked").cast("double") / col("n_grams"), 6))
      .orderBy(col("doc_id"))
  }

  /** Bloom-prefiltered decontamination: identical result set to
    * [[decontaminate]], different scale regime. `decontaminate`
    * broadcasts the distinct eval grams exactly — right when the
    * benchmark suite is small. When the reference set is itself huge
    * (every eval suite ever published, or yesterday's full corpus
    * signatures), broadcasting the set is off the table; what still
    * broadcasts at any cardinality is its BLOOM SKETCH (~1.2 MB at
    * 1M grams / 1% fpp, built by `df.stat.bloomFilter`'s distributed
    * treeAggregate — only the fused sketch ever reaches the driver).
    *
    * The corpus side then drops non-members map-only via the
    * codegen'd [[graft.functions.BloomMightContain]] probe (no false
    * negatives — a bloom "no" is a safe drop), and only the
    * survivors (true hits + the fpp sliver) pay the exact confirm
    * join, here deliberately a SHUFFLE hash join: the scale story is
    * precisely that the eval-gram relation cannot be a broadcast
    * build. False positives die in the confirm join, so the output
    * is bitwise the exact pipeline's — the sketch prunes work, never
    * decides membership. Shares q_llm_decontaminate's oracle. */
  val decontamBloom: Q = (spark, dir) => {
    val exploded = evalTaggedGrams(spark, dir)
    // THREE consumers (sizing count, sketch treeAggregate, confirm
    // join) — materialize the distinct eval grams once; eager
    // localCheckpoint blocks are freed by the ContextCleaner when the
    // result frame drops (the mmPhash pattern; a plain persist would
    // pin the cache for the session)
    val evalGrams = exploded.filter(col("is_eval")).select(col("g")).distinct()
      .localCheckpoint(true)
    // expectedNumItems sizes the sketch; the count is now a cheap
    // row count over the materialized blocks
    val nEval = math.max(evalGrams.count(), 1L)
    val sketch = evalGrams.select(xxhash64(col("g")).as("h"))
      .stat.bloomFilter("h", nEval, 0.01)
    val survivors = exploded.filter(!col("is_eval"))
      .filter(graft.functions.BloomMightContain(spark, xxhash64(col("g")), sketch))
    val hits = survivors
      .join(evalGrams.hint("shuffle_hash"), Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    trainDocIds(spark, dir)
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** SEMANTIC decontamination — the third face of the decontamination
    * axis (exact n-gram, bloom-accelerated n-gram, and now embedding
    * similarity): flag training vectors whose maximum cosine against
    * ANY held-out eval vector crosses the threshold, catching
    * paraphrased leakage that n-gram overlap misses. Eval membership
    * is `vec_id % 10 == 0` (deterministic at every scale).
    *
    * Scale shape: an eval benchmark is tiny by nature, so ALL eval
    * vectors collapse into ONE collected row that broadcasts (a few
    * MB for thousands of vectors), and the corpus side computes its
    * max via `array_max(transform(...))` over the broadcast array —
    * MAP-ONLY — no hash shuffle anywhere, only the presentation sort
    * — and no per-pair row space ever materializes (a cross-join +
    * groupBy would shuffle |corpus| x |eval| rows).
    * Per-vector cost is |eval| fused-loop cosines via the codegen'd
    * `cosine_sim`; the ANN paths (annLsh/annIvf) are the scale
    * refinement when |eval| itself grows. max() is order-independent
    * and cosine_sim is bitwise DuckDB's list_dot_product formula, so
    * the threshold verdict is cross-engine exact. */
  private[graft] def decontamSemanticExact(spark: SparkSession, dir: String)
      : DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val evalRow = emb.filter(col("vec_id") % 10 === 0)
      .agg(collect_list(col("e")).as("evs"))
    emb.filter(col("vec_id") % 10 =!= 0)
      .crossJoin(broadcast(evalRow))
      // an EMPTY eval slice must yield zero report rows (the oracle's
      // cross join against an empty relation), not all-null verdicts
      .filter(size(col("evs")) > 0)
      .withColumn("max_raw",
        expr("array_max(transform(evs, v -> cosine_sim(e, v)))"))
      .select(
        col("vec_id"),
        round(col("max_raw"), 6).as("max_sim"),
        (col("max_raw") >= 0.5).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** Past-the-eval-bound form of [[decontamSemanticExact]]: when the
    * eval set outgrows a one-row collect (every benchmark ever
    * published, or yesterday's corpus), route through the SAME IVF
    * cell index annIvf/semDedup share. Eval vectors group per CELL
    * (many bounded rows instead of one giant one); each train vector
    * scores only the eval groups of its nprobe nearest cells, ranked
    * by centroid cosine against a broadcast centroid table — the
    * annIvf probe rule applied per row instead of per query.
    *
    * Every reported max_sim is a true cosine against a real eval
    * vector, so it LOWER-bounds the exhaustive max: contaminated=true
    * is always correct (precision 1); recall on planted leaks is the
    * probe-coverage bound, spec-gated against the exact path. Probe
    * ranking shuffles |train| x k rows of (id, cell, csim) — the same
    * O(n^1.5) envelope as semDedup, never |train| x |eval|. */
  private[graft] def decontamSemanticIvf(spark: SparkSession, dir: String)
      : DataFrame =
    decontamSemanticIvfWith(spark, ivfCells(spark, dir))

  /** Frame-input form: fits the cell index on the caller's vectors —
    * the forced-path oracle entry's seam. `memoKey` as in
    * [[embedNeardupLshOn]]: the forced entry memoizes its planted fit
    * instead of pinning a fresh persisted frame per call. */
  private[graft] def decontamSemanticIvfOn(spark: SparkSession, emb: DataFrame,
      memoKey: Option[String] = None): DataFrame =
    decontamSemanticIvfWith(spark, memoKey match {
      case Some(k) => ivfCellsMemo(spark, k)(fitIvfCellsOn(spark, emb))
      case None => fitIvfCellsOn(spark, emb)
    })

  private def decontamSemanticIvfWith(spark: SparkSession,
      mc: (graft.engine.Quantizer, DataFrame))
      : DataFrame = {
    graft.functions.CosineSimilarity.register(spark)
    val (quant, cells) = mc
    val isEval = col("vec_id") % 10 === 0
    val evalByCell = cells.filter(isEval)
      .groupBy(col("cell")).agg(collect_list(col("e")).as("evs"))
    import spark.implicits._
    val centDf = quant.centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("pcell", "ce")
    // CONSTANT probe count (round 10, trend-probe find): the old
    // nprobe = k/4 made the probed FRACTION constant (1/4), so past
    // the exact-path dispatch bound — the only regime this path runs
    // in, where the eval side is corpus-scale — scoring degraded to
    // O(|train| x |eval| / 4): asymptotically quadratic, measured as
    // a 15x jump for 3x data at x30. Own + 3 ranked cells bounds
    // candidates per train vector by 4 * |eval| / k ~ |eval|/sqrt(n),
    // restoring the documented O(n^1.5) envelope; planted-leak recall
    // rides the own-cell guarantee either way (recall gate >= 0.95,
    // re-verified after this change).
    val nprobe = 4
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("pcell"))
    // THIN ranking shuffle (the documented "(id, cell, csim)" shape —
    // the previous form carried the e AND unit float arrays (~1 KB a
    // row) through the n x k window exchange, a payload wall the x30
    // probe measured; vectors join back AFTER probe selection, an
    // n x nprobe-row exchange instead)
    val chosen = cells.filter(!isEval)
      .select(col("vec_id"), col("unit"), col("cell"))
      .crossJoin(broadcast(centDf))
      .withColumn("csim", expr("cosine_sim(unit, ce)"))
      .select(col("vec_id"), col("cell"), col("pcell"), col("csim"))
      .withColumn("rk", row_number().over(w))
      // own cell always probes, even when centroid ranking demotes it
      .filter(col("rk") <= nprobe || col("pcell") === col("cell"))
      .select(col("vec_id"), col("pcell").as("cell"))
    val probes = chosen
      .join(cells.filter(!isEval).select(col("vec_id"), col("e")),
        Seq("vec_id"))
      .select(col("vec_id"), col("e"), col("cell"))
    val scored = probes.join(evalByCell, Seq("cell"))
      .withColumn("grp_max",
        expr("array_max(transform(evs, v -> cosine_sim(e, v)))"))
      .groupBy(col("vec_id")).agg(max(col("grp_max")).as("max_raw"))
    // empty-eval semantics mirror the exact path: zero report rows
    val spine = cells.filter(!isEval).select(col("vec_id"))
    spine.join(scored, Seq("vec_id"), "left")
      .join(broadcast(evalByCell.agg(count(lit(1)).as("n_eval_cells"))))
      .filter(col("n_eval_cells") > 0)
      .select(
        col("vec_id"),
        round(col("max_raw"), 6).as("max_sim"),
        coalesce(col("max_raw") >= 0.5, lit(false)).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** One-row-collect bound for the eval side: thousands of 64-dim
    * vectors collapse to a few MB — fine; past ~100k the single row
    * hits row-size and task-serialization walls before anything
    * degrades gracefully, so the IVF-probe route takes over. */
  private[graft] val decontamSemanticEvalBound = 100000L

  /** Thresholded dispatch on the EVAL cardinality (the corpus side is
    * map-only in both regimes and never the constraint). `bound` is a
    * test seam — specs force 0 to exercise the probe path on small
    * fixtures. */
  def decontamSemanticDispatch(spark: SparkSession, dir: String, bound: Long)
      : DataFrame = {
    val nEval = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") % 10 === 0).count()
    if (nEval <= bound) decontamSemanticExact(spark, dir)
    else decontamSemanticIvf(spark, dir)
  }

  val decontamSemantic: Q = (spark, dir) =>
    decontamSemanticDispatch(spark, dir, decontamSemanticEvalBound)

  /** Driver-visible witness for the PAST-THE-EVAL-BOUND regime (the
    * embedNeardupForcedScale pattern applied to decontamination): the
    * entry plants EVAL copies of selected train vectors (vec_id % 100
    * == 1, copy id = 10*vec_id + 1,000,000 so the copy lands on the
    * eval side of the % 10 split) and routes through the IVF-probe
    * path unconditionally. An identical eval copy quantizes to its
    * original's own cell, and the probe rule always scans a vector's
    * own cell, so every planted contamination is found
    * DETERMINISTICALLY with max_sim = 1.0 — and since the IVF max is
    * a lower bound of the exhaustive max, filtering both engines to
    * max_sim >= 0.999 (far above the fixture's ~0.52 organic ceiling)
    * makes the probe-path output hash-equal to the DuckDB exhaustive
    * oracle. */
  val decontamSemanticForcedIvf: Q = (spark, dir) => {
    val base = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val planted = base.filter(col("vec_id") % 100 === 1)
      .select((col("vec_id") * 10 + 1000000L).as("vec_id"), col("e"))
    decontamSemanticIvfOn(spark, base.unionByName(planted),
      memoKey = Some(dir + "#dcforced"))
      .filter(col("max_sim") >= 0.999)
  }

  /** Corpus DISTRIBUTION-DRIFT report — the monitoring step a nightly
    * crawl refresh runs before admitting a batch: compare the new
    * batch's unigram distribution against the existing corpus and
    * surface the tokens whose frequency share moved most. A sudden
    * drift spike means the crawl frontier changed (new spam cluster,
    * a site rewrite, an encoding bug) and the batch needs a human
    * before it trains anything. Slices reuse `incrBatchPred` so the
    * drift face monitors exactly the batch the incremental-dedup face
    * admits.
    *
    * Scale shape: two map-only token explodes into ONE token-keyed
    * aggregate each (conditional counts — one shuffle), a token join
    * of the two SMALL aggregate outputs (vocab-sized, not
    * corpus-sized), and a top-k. Shares are single integer divisions
    * and the delta one subtraction — bitwise identical on both
    * engines, so the top-20 order is stable cross-engine. */
  val corpusDrift: Q = (spark, dir) => {
    val toks = tokenized(spark, dir)
      .select(col("doc_id"), explode(col("t")).as("token"))
      .withColumn("is_new", incrBatchPred)
    val counts = toks.groupBy(col("token")).agg(
      sum(when(!col("is_new"), 1L).otherwise(0L)).as("c_base"),
      sum(when(col("is_new"), 1L).otherwise(0L)).as("c_new"))
    val totals = counts.agg(
      sum(col("c_base")).as("t_base"), sum(col("c_new")).as("t_new"))
    counts.crossJoin(broadcast(totals))
      .withColumn("share_base", col("c_base") * lit(1.0) / col("t_base"))
      .withColumn("share_new", col("c_new") * lit(1.0) / col("t_new"))
      .withColumn("delta", col("share_new") - col("share_base"))
      .orderBy(abs(col("delta")).desc, col("token"))
      .limit(20)
      .select(col("token"),
        round(col("share_base"), 6).as("share_base"),
        round(col("share_new"), 6).as("share_new"),
        // + 0.0: delta is SIGNED and can round to a negative zero —
        // the representation-hash class the signed-zero sweep keeps
        // finding (q_agg_stats, centroids, quality_lr); canonicalize
        // proactively rather than wait for a fixture to land on it
        (round(col("delta"), 6) + lit(0.0)).as("delta"))
  }

  /** Deterministic corpus mixing: per-source keep-rates (the reweight
    * step after source_stats says which sources to up/down-sample).
    * Membership is decided by an md5 bucket of the doc id against a
    * per-source quota — hash sampling survives reshuffles and appends
    * where row-number sampling does not, and re-runs are reproducible
    * row-for-row (same property as the train/val/test split). The
    * quota cycles 4/8/12/16 sixteenths by source index, standing in
    * for a curator's weight table. Map-only until the final tiny
    * per-source rollup — one aggregate shuffle at any scale. */
  val corpusMix: Q = (spark, dir) =>
    Tables(spark, dir, "documents")
      .withColumn("quota",
        ((regexp_extract(col("source"), "\\d+", 0).cast("int") % 4) + 1) * 4)
      .withColumn("bucket",
        expr("instr('0123456789abcdef', substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 1)) - 1"))
      .withColumn("keep", col("bucket") < col("quota"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(when(col("keep"), col("n_chars")).otherwise(lit(0L))).as("kept_chars"))
      .orderBy(col("source"))

  /** Chunk-level (paragraph-proxy) exact dedup: the corpus keeps only
    * the globally-first occurrence of every repeated passage while
    * untouched text survives verbatim — the passage-granular
    * complement to doc-level dedup (boilerplate headers/footers
    * repeat across distinct documents). Passages are non-overlapping
    * 10-token windows (the fixtures have no paragraph markers); first
    * occurrence is the (doc_id, chunk index) minimum, resolved by one
    * row_number window partitioned BY THE CHUNK TEXT — a single
    * shuffle keyed by the passage, which is also the 100 TB shape
    * (shuffle width = corpus size, no join back: total/kept/rebuilt
    * all ride one aggregation). */
  val chunkDedup: Q = (spark, dir) =>
    tokenized(spark, dir)
      .select(col("doc_id"), explode(expr(
        """transform(
             sequence(1, (size(t) + 9) div 10),
             i -> struct(i AS i, concat_ws(' ', slice(t, (i - 1) * 10 + 1, 10)) AS c))"""))
        .as("ch"))
      .select(col("doc_id"), col("ch.i").as("i"), col("ch.c").as("c"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("c")).orderBy(col("doc_id"), col("i"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(IF(rn = 1, struct(i, c), NULL))), x -> x.c)"),
          " ").as("clean_text"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------- multimodal

  /** Multimodal columns: opaque binary content + typed metadata via a
    * per-partition decode pass (`mapPartitions`, the Scala analog of
    * mapInPandas batching). The decode is a REAL pure-JVM header
    * parser (graft.functions.MediaCodec): PNG signature + big-endian
    * IHDR, BMP `BM` + little-endian BITMAPINFOHEADER, WAV RIFF/WAVE
    * fmt chunk — the container-level metadata extraction a corpus
    * pipeline runs before any pixel/sample codec. Binary fixtures are
    * synthesized deterministically per document (the env ships no
    * media files), and the oracle recomputes the header fields
    * arithmetically — a decoder that misreads an offset or endianness
    * fails the hash gate. */
  val mmBinaryMeta: Q = (spark, dir) => {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        it.map { case (id, nChars) =>
          val bytes = graft.functions.MediaCodec.synthesize(id, nChars)
          val (fmt, w, h) = graft.functions.MediaCodec.decodeHeader(bytes)
          (id, bytes.length, fmt, w, h)
        }
      }
      .toDF("doc_id", "n_bytes", "format", "width", "height")
      .orderBy(col("doc_id"))
  }

  /** Multimodal feature-extract, stage 2: image RESIZE. Per document a
    * real 8x6 grayscale BMP is synthesized (pixel(x,y) = (7*doc_id +
    * 3x + 5y) mod 251), round-tripped through the byte-level codec
    * (bottom-up rows, stride padding), nearest-neighbor downsampled
    * 2:1, and checksummed. The oracle recomputes the resized-pixel sum
    * arithmetically — any error in row order, stride or the resize
    * index map breaks the hash gate. */
  val mmResize: Q = (spark, dir) => {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val bytes = graft.functions.MediaCodec.encodeBmpGray(
            8, 6, (x, y) => ((7 * id + 3 * x + 5 * y) % 251).toInt)
          val (w, h, pix) = graft.functions.MediaCodec.decodeBmpGray(bytes)
          val (ow, oh, out) = graft.functions.MediaCodec.resizeHalf(w, h, pix)
          (id, ow, oh, out.map(_.toLong).sum)
        }
      }
      .toDF("doc_id", "out_w", "out_h", "checksum")
      .orderBy(col("doc_id"))
  }

  /** Multimodal feature-extract, stage 2: audio FRAME-SAMPLING. Per
    * document a real PCM16 WAV is synthesized (n = 32 + doc_id mod 16
    * samples, s_i = (13*doc_id + 17*i) mod 32768), decoded back from
    * the data chunk, and every 4th sample is kept (the frame-sampling
    * shape used to thin audio/video before feature extraction). Oracle
    * recomputes count and sum of the kept samples arithmetically. */
  val mmFrameSample: Q = (spark, dir) => {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (32 + id % 16).toInt
          val samples = Array.tabulate(n)(i => ((13 * id + 17 * i) % 32768).toShort)
          val bytes = graft.functions.MediaCodec.encodeWavPcm16(8000, samples)
          val decoded = graft.functions.MediaCodec.decodeWavSamples(bytes)
          val kept = decoded.indices.collect { case i if i % 4 == 0 => decoded(i).toLong }
          (id, decoded.length, kept.length, kept.sum)
        }
      }
      .toDF("doc_id", "n_samples", "n_frames", "frame_sum")
      .orderBy(col("doc_id"))
  }

  /** Image NEAR-dup via perceptual hash — dedup extended to the
    * multimodal column (a multimodal corpus needs it as much as text
    * dedup). Per document a REAL 18x16 gray BMP is synthesized
    * (pix(x,y) = ((g+1)*(3x^2 + 5y + xy) + s) mod 251 with g =
    * doc_id%40 the image "subject" and s = doc_id%3 a small
    * brightness shift), round-tripped through the byte codec,
    * downsampled 2:1 to the canonical 9x8 dHash grid, and hashed into
    * 8 row-bytes (64 bits). Same-subject images differ only where the
    * mod-251 wrap flips a gradient — a genuinely NEAR-identical hash —
    * while different subjects diverge on ~half the bits.
    *
    * Candidate pairs come from LSH banding over the signature (4
    * bands x 2 rows = 16 bits, the simhashPairs shape): the self-join
    * key is (band, 16 bits), never image x image, so at corpus scale
    * the shuffle carries 40-byte signatures and pair work is bounded
    * by band-bucket sizes. Banded recall < 1 by design (a pair whose
    * differing bits touch all 4 bands is missed) — the oracle
    * replicates the banding, so the check is exact. Verification is
    * exact Hamming distance (<= 6) via xor + bit_count on the row
    * bytes.
    *
    * The subject modulus SCALES with the corpus (m = max(40, n/12), a
    * metadata-count constant mirrored by the oracle) so near-dup
    * groups stay ~12 images at any scale — the realistic regime. A
    * fixed modulus would grow every group linearly with the corpus
    * and the pair OUTPUT quadratically, measuring the fixture rather
    * than the banding (the x10 trend caught exactly that: ratio 28
    * with m=40, linear after deriving m — BASELINE.md "Round-3
    * evidence", image phash row). */
  /** Shared front of the perceptual-hash near-dup family: decode →
    * dHash signatures → identical-signature classes → banded
    * class-level candidates verified at hamming ≤ 6. Returns
    * (classes, crossQ): `classes` one row per distinct signature
    * (rep = min doc_id, members, r0..r7), `crossQ` one row per
    * QUALIFIED cross-class rep pair (rep_a < rep_b, hamming). Both
    * faces ([[mmPhash]] doc-pair expansion, [[mmPhashClasses]]
    * class-pair table) consume these frames. */
  private def mmPhashClassFrames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val m = math.max(40L, Tables(spark, dir, "documents").count() / 12)
    val sigs = Tables(spark, dir, "documents")
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val g = id % m
          val s = id % 3
          val bytes = graft.functions.MediaCodec.encodeBmpGray(
            18, 16,
            (x, y) => (((g + 1) * (3 * x * x + 5 * y + x * y) + s) % 251).toInt)
          val (w, h, pix) = graft.functions.MediaCodec.decodeBmpGray(bytes)
          val (_, _, small) = graft.functions.MediaCodec.resizeHalf(w, h, pix)
          val r = graft.functions.MediaCodec.dHashRows(8, 8, small)
          (id, r(0), r(1), r(2), r(3), r(4), r(5), r(6), r(7))
        }
      }
      .toDF("doc_id", "r0", "r1", "r2", "r3", "r4", "r5", "r6", "r7")
      // sigs feeds THREE consumers (bands + both hamming sides); an
      // eager localCheckpoint materializes the codec work once like
      // persist() did, but its blocks are owned by the RDD and freed
      // by the ContextCleaner when the result frame is dropped — a
      // plain persist() here was pinned in the cache manager for the
      // session lifetime, one leaked table per invocation (at cluster
      // scale, substitute reliable checkpoint() to survive executor
      // loss).
      .localCheckpoint(true)
    // identical-signature CLASS collapse before the banded join
    // (BASELINE.md "Round-14 multimodal deep record": the doc-level
    // band join read 26.2 s / 7.3 GB spill at x30 and DIED at x100 —
    // identical synthetic images putting whole dup groups into every
    // band bucket made the candidate join quadratic in group size).
    // Hamming-0 groups are exact signature duplicates, so the banded
    // candidates over one representative per class + a final
    // expansion is RESULT-IDENTICAL (the DuckDB oracle still runs the
    // doc-level join and hash-matches): a doc pair shares a band iff
    // its class reps do, and cross-class hamming is class-level. The
    // output contract (every qualifying pair listed) is itself
    // quadratic in dup-class size — a production corpus with a
    // boilerplate mega-class would emit the class table instead.
    val classes = sigs
      .groupBy((0 to 7).map(i => col(s"r$i")): _*)
      .agg(min(col("doc_id")).as("rep"),
        collect_list(col("doc_id")).as("members"))
      .localCheckpoint(true)
    val reps = classes.select(col("rep") +: (0 to 7).map(i => col(s"r$i")): _*)
    // verify-IN-join (second conviction of BASELINE.md "Round-14
    // multimodal deep record"): the class-level candidates still
    // exploded at x100 (319 s / 20.6 GB spill) because the band
    // buckets saturate on this fixture and
    // every C(bucket,2) pair was MATERIALIZED through a distinct plus
    // two sig lookup joins before the hamming filter ran. Carrying
    // the 8 signature rows ON the band rows lets the hamming
    // predicate run inside the join's output pipeline (codegen, no
    // shuffle), so the 99%+ of candidates that fail ≤6 die without
    // ever being shuffled; the distinct dedups only the tiny
    // qualified set. Results identical — same candidates, same
    // verify, same output.
    val bandsW = reps.select(
      (col("rep") +: (0 to 7).map(i => col(s"r$i")) :+ explode(array(
        struct(lit(0).as("b"), col("r0").as("u"), col("r1").as("v")),
        struct(lit(1).as("b"), col("r2").as("u"), col("r3").as("v")),
        struct(lit(2).as("b"), col("r4").as("u"), col("r5").as("v")),
        struct(lit(3).as("b"), col("r6").as("u"), col("r7").as("v"))))
        .as("band")): _*)
      .select((Seq(col("rep"), col("band.b").as("b"), col("band.u").as("u"),
        col("band.v").as("v")) ++ (0 to 7).map(i => col(s"r$i"))): _*)
    val la = bandsW.toDF(
      (Seq("rep_a", "b", "u", "v") ++ (0 to 7).map(i => s"a$i")): _*)
    val lb = bandsW.toDF(
      (Seq("rep_b", "b", "u", "v") ++ (0 to 7).map(i => s"b$i")): _*)
    val crossQ = la.join(lb, Seq("b", "u", "v"))
      .filter(col("rep_a") < col("rep_b"))
      .withColumn("hamming",
        (0 to 7).map(i => expr(s"bit_count(a$i ^ b$i)"))
          .reduce(_ + _).cast("int"))
      .filter(col("hamming") <= 6)
      .select(col("rep_a"), col("rep_b"), col("hamming"))
      .distinct()
    (classes, crossQ)
  }

  val mmPhash: Q = (spark, dir) => {
    val (classes, crossQ) = mmPhashClassFrames(spark, dir)
    val membersOf = classes.select(col("rep"), col("members"))
    val cross = crossQ
      .join(membersOf.toDF("rep_a", "ma"), "rep_a")
      .join(membersOf.toDF("rep_b", "mb"), "rep_b")
      .select(explode(col("ma")).as("da"), col("mb"), col("hamming"))
      .select(col("da"), explode(col("mb")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val within = classes
      .filter(size(col("members")) > 1)
      .select(explode(col("members")).as("doc_a"), col("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", lit(0))
    cross.unionByName(within)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The CLASS-pair production face of the perceptual-hash family —
    * the output-capped discipline the verdict of BASELINE.md
    * "Round-14 multimodal deep record" called for: on a corpus whose
    * signature space collapses (boilerplate mega-classes — the inflated
    * fixture reads ~45M doc pairs at x30, ~700M at x100, QUADRATIC in
    * dup-class size by contract), the doc-pair expansion is
    * output-bound while THIS face stays linear in the class count. One
    * row per qualified cross-class rep pair (hamming 1..6) plus one per
    * dup class (rep_a = rep_b, hamming 0), each carrying `pairs` — the
    * doc-pair multiplicity the expansion face would emit — so
    * downstream dedup accounting loses nothing. Consumers needing the
    * actual pairs for a SPECIFIC class join the members list back on
    * demand. */
  val mmPhashClasses: Q = (spark, dir) => {
    val (classes, crossQ) = mmPhashClassFrames(spark, dir)
    val sizes = classes.select(col("rep"),
      size(col("members")).cast("long").as("sz"))
    val cross = crossQ
      .join(sizes.toDF("rep_a", "sza"), "rep_a")
      .join(sizes.toDF("rep_b", "szb"), "rep_b")
      .select(col("rep_a"), col("rep_b"), col("hamming"),
        (col("sza") * col("szb")).as("pairs"))
    val within = sizes.filter(col("sz") > 1)
      .select(col("rep").as("rep_a"), col("rep").as("rep_b"),
        lit(0).as("hamming"),
        // sz·(sz−1) is even, so the double division is exact well past
        // any feasible class size; cast back to the BIGINT contract
        ((col("sz") * (col("sz") - lit(1))) / lit(2)).cast("long")
          .as("pairs"))
    cross.unionByName(within)
      .select(col("rep_a"), col("rep_b"), col("hamming"), col("pairs"))
      .orderBy(col("rep_a"), col("rep_b"))
  }

  val queries: Map[String, Q] = Map(
    "q_llm_dedup_exact" -> dedupExact,
    "q_llm_dedup_norm" -> dedupNorm,
    "q_llm_dedup_ngram" -> dedupNgram,
    "q_llm_dedup_substr" -> substrDedup,
    "q_llm_dedup_substr_rm" -> substrDedupRemove,
    "q_llm_dedup_minhash" -> dedupMinhash,
    "q_llm_dedup_minhash_native" -> dedupMinhashNative,
    "q_llm_dedup_incremental" -> dedupIncremental,
    "q_llm_dedup_clusters" -> dedupClusters,
    "q_llm_cluster_rep" -> clusterRep,
    "q_llm_dedup_simhash" -> dedupSimhash,
    "q_llm_cosine_topk" -> cosineTopk,
    "q_llm_knn_join" -> knnJoin,
    "q_llm_knn_join_ivf" -> knnJoinIvfServe,
    "q_llm_knn_join_ivf_forced" -> knnJoinIvfForced,
    "q_llm_shard" -> shard,
    "q_llm_shard_resume" -> shardResumeServe,
    "q_llm_prep_e2e" -> prepE2e,
    "q_llm_embed_neardup" -> embedNeardup,
    "q_llm_embed_neardup_scale_forced" -> embedNeardupForcedScale,
    "q_llm_ann_lsh" -> annLsh,
    "q_llm_split" -> split,
    "q_llm_sample_weighted" -> sampleWeighted,
    "q_llm_centroids" -> centroids,
    "q_llm_ann_ivf" -> annIvf,
    "q_llm_ann_pq" -> annIvfPq,
    "q_llm_ann_pq_forced" -> annIvfPqForced,
    "q_llm_ann_index" -> annIndexServe,
    "q_llm_ann_pq_index" -> annIndexServePq,
    "q_llm_ann_pq_index_forced" -> annIndexServePqForced,
    "q_llm_tokenize_bpe" -> tokenizeBpe,
    "q_llm_bpe_train" -> bpeTrain,
    "q_llm_bpe_train_batched" -> bpeTrainBatched,
    "q_llm_bpe_apply" -> bpeApply,
    "q_llm_textstats" -> textstats,
    "q_llm_qualityfilter" -> qualityFilter,
    "q_llm_quality_lr" -> qualityLr,
    "q_llm_lm_score" -> lmScore,
    "q_llm_tfidf" -> tfidf,
    "q_llm_heavy_hitters" -> heavyHitters,
    "q_llm_chunk_stride" -> chunkStride,
    "q_llm_semdedup" -> semDedup,
    "q_llm_pack" -> pack,
    "q_llm_entropy" -> entropy,
    "q_llm_langid" -> langid,
    "q_llm_fingerprint" -> fingerprint,
    "q_llm_redact_pii" -> redactPii,
    "q_llm_repetition" -> repetition,
    "q_llm_source_stats" -> sourceStats,
    "q_llm_url_host" -> urlHost,
    "q_llm_domain_cap" -> domainCap,
    "q_llm_url_blocklist" -> urlBlocklist,
    "q_llm_embed_quantize" -> embedQuantize,
    "q_llm_decontaminate" -> decontaminate,
    "q_llm_decontam_bloom" -> decontamBloom,
    "q_llm_decontam_report" -> decontamReport,
    "q_llm_decontam_semantic" -> decontamSemantic,
    "q_llm_decontam_ivf_forced" -> decontamSemanticForcedIvf,
    "q_llm_curate_pipeline" -> curatePipeline,
    "q_llm_corpus_drift" -> corpusDrift,
    "q_llm_corpus_mix" -> corpusMix,
    "q_llm_chunk_dedup" -> chunkDedup,
    "q_mm_binary_meta" -> mmBinaryMeta,
    "q_mm_resize" -> mmResize,
    "q_mm_framesample" -> mmFrameSample,
    "q_mm_phash" -> mmPhash,
    "q_mm_phash_classes" -> mmPhashClasses)

  private val decontamOracleSql =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       tag AS (
         SELECT doc_id,
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS is_eval
         FROM documents),
       sh AS (
         SELECT DISTINCT doc_id,
                list_aggregate(t[i:i+4], 'string_agg', ' ') AS g
         FROM (SELECT doc_id, t,
                      unnest(generate_series(1, len(t) - 4)) AS i
               FROM toks WHERE len(t) >= 5)),
       ev AS (SELECT DISTINCT g FROM sh JOIN tag USING (doc_id)
              WHERE is_eval),
       h AS (SELECT sh.doc_id, count(*) AS hits
             FROM sh JOIN tag USING (doc_id) JOIN ev USING (g)
             WHERE NOT is_eval GROUP BY 1)
       SELECT d.doc_id, CAST(coalesce(hits, 0) AS BIGINT) AS n_hits,
              coalesce(hits, 0) > 0 AS contaminated
       FROM documents d JOIN tag ON d.doc_id = tag.doc_id
       LEFT JOIN h ON d.doc_id = h.doc_id
       WHERE NOT is_eval ORDER BY d.doc_id"""

  /** Shared oracle of the two PQ forced witnesses: DuckDB's EXACT
    * top-10 cosine neighbors of vec 0 over the planted-copy corpus,
    * filtered to >= 0.999 — the deterministic planted set both the
    * in-session IVFADC and the persisted-index serve must return. */
  private val pqForcedOracle =
    """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                   FROM embeddings),
        emb AS (SELECT * FROM e0 UNION ALL
                SELECT 1000000 + gs.i, e
                FROM e0, generate_series(0, 11) gs(i) WHERE e0.vec_id = 0),
        q AS (SELECT e AS qe FROM e0 WHERE vec_id = 0),
        s AS (SELECT vec_id,
                round(list_dot_product(emb.e, q.qe)
                  / (sqrt(list_dot_product(emb.e, emb.e))
                     * sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine
              FROM emb, q WHERE vec_id <> 0)
      SELECT vec_id, cosine FROM s WHERE cosine >= 0.999
      ORDER BY cosine DESC, vec_id LIMIT 10"""

  val oracle: Map[String, String] = Map(
    "q_llm_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY sha256(text) ORDER BY keep_id""",
    "q_llm_dedup_norm" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY lower(trim(text)) ORDER BY keep_id""",
    "q_llm_dedup_ngram" ->
      s"""$shingleCte,
          inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ic
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
          SELECT d1, d2, ic * 1.0 / (sa.n + sb.n - ic) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = d1
          JOIN sizes sb ON sb.doc_id = d2
          WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5
          ORDER BY d1, d2""",
    // positional 6-gram digests -> gram-keyed join -> gaps-and-islands
    // run merge at constant alignment delta; longest run = islands + 5
    "q_llm_dedup_substr" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (
           SELECT doc_id, i - 1 AS pos,
                  md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                      t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]) AS g
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, len(t) - 5)) AS i
                 FROM toks WHERE len(t) >= 6)),
         gf AS (
           SELECT gg.g FROM g AS gg GROUP BY gg.g
           HAVING count(DISTINCT gg.doc_id) <= 64),
         gc AS (SELECT a.* FROM g a JOIN gf ON a.g = gf.g),
         m AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2,
                  a.pos AS pa, a.pos - b.pos AS delta
           FROM gc a JOIN gc b ON a.g = b.g AND a.doc_id < b.doc_id),
         isl AS (
           SELECT d1, d2, delta, pa,
                  pa - row_number() OVER (
                    PARTITION BY d1, d2, delta ORDER BY pa) AS island
           FROM m),
         runs AS (
           SELECT d1, d2, delta, island, count(*) AS m
           FROM isl GROUP BY d1, d2, delta, island)
         SELECT d1, d2, CAST(MAX(m) + 5 AS INT) AS longest_run
         FROM runs GROUP BY d1, d2
         HAVING MAX(m) + 5 >= 10
         ORDER BY d1, d2""",
    "q_llm_dedup_substr_rm" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         g AS (
           SELECT doc_id, i - 1 AS pos,
                  md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                      t[i+3] || ' ' || t[i+4] || ' ' || t[i+5]) AS g
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, len(t) - 5)) AS i
                 FROM toks WHERE len(t) >= 6)),
         gf AS (
           SELECT gg.g FROM g AS gg GROUP BY gg.g
           HAVING count(DISTINCT gg.doc_id) <= 64),
         gc AS (SELECT a.* FROM g a JOIN gf ON a.g = gf.g),
         m AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2,
                  a.pos AS pa, a.pos - b.pos AS delta
           FROM gc a JOIN gc b ON a.g = b.g AND a.doc_id < b.doc_id),
         isl AS (
           SELECT d1, d2, delta, pa,
                  pa - row_number() OVER (
                    PARTITION BY d1, d2, delta ORDER BY pa) AS island
           FROM m),
         runs AS (
           SELECT d1, d2, delta, island, min(pa) AS pa0, count(*) AS cnt
           FROM isl GROUP BY d1, d2, delta, island
           HAVING count(*) + 5 >= 10),
         spans AS (
           SELECT d2 AS doc_id, pa0 - delta AS s, pa0 - delta + cnt + 4 AS e
           FROM runs),
         aff AS (SELECT DISTINCT doc_id FROM spans),
         dtoks AS (
           SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
           FROM toks WHERE doc_id IN (SELECT doc_id FROM aff)),
         kept AS (
           SELECT d.doc_id, d.i - 1 AS pos, d.t[d.i] AS tok
           FROM dtoks d
           WHERE NOT EXISTS (
             SELECT 1 FROM spans sp
             WHERE sp.doc_id = d.doc_id AND d.i - 1 BETWEEN sp.s AND sp.e)),
         reb AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean,
                  count(*) AS kept FROM kept GROUP BY doc_id),
         sizes AS (SELECT doc_id, len(t) AS n_toks FROM toks)
         SELECT a.doc_id,
                COALESCE(r.text_clean, '') AS text_clean,
                CAST(s.n_toks - COALESCE(r.kept, 0) AS INT) AS removed_tokens
         FROM aff a
         JOIN sizes s ON s.doc_id = a.doc_id
         LEFT JOIN reb r ON r.doc_id = a.doc_id
         ORDER BY a.doc_id""",
    "q_llm_dedup_clusters" ->
      s"""${shingleCte.replaceFirst("WITH", "WITH RECURSIVE")},
          inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ic
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          pairs AS (
            SELECT d1, d2 FROM inter
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5),
          und AS (SELECT d1 AS a, d2 AS b FROM pairs
                  UNION SELECT d2, d1 FROM pairs),
          reach AS (
            SELECT a, b FROM und
            UNION
            SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
          SELECT a AS doc_id, least(a, min(b)) AS cluster
          FROM reach GROUP BY a ORDER BY doc_id""",
    // the clusters CTE above + representative selection: longest text
    // wins per cluster, doc_id breaks exact-length ties
    "q_llm_cluster_rep" ->
      s"""${shingleCte.replaceFirst("WITH", "WITH RECURSIVE")},
          inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ic
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          pairs AS (
            SELECT d1, d2 FROM inter
            JOIN sizes sa ON sa.doc_id = d1
            JOIN sizes sb ON sb.doc_id = d2
            WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5),
          und AS (SELECT d1 AS a, d2 AS b FROM pairs
                  UNION SELECT d2, d1 FROM pairs),
          reach AS (
            SELECT a, b FROM und
            UNION
            SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
          lbl AS (
            SELECT a AS doc_id, least(a, min(b)) AS cluster
            FROM reach GROUP BY a),
          ranked AS (
            SELECT l.cluster, l.doc_id, d.n_chars,
                   row_number() OVER (PARTITION BY l.cluster
                     ORDER BY d.n_chars DESC, l.doc_id) AS rn
            FROM lbl l JOIN documents d ON l.doc_id = d.doc_id)
          SELECT cluster, doc_id AS rep_id, n_chars
          FROM ranked WHERE rn = 1 ORDER BY cluster""",
    // exact-verified LSH: same result set as the exhaustive join, so
    // the same oracle applies (see dedupMinhashNative scaladoc)
    "q_llm_dedup_minhash_native" ->
      s"""$shingleCte,
          inter AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ic
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
          SELECT d1, d2, ic * 1.0 / (sa.n + sb.n - ic) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = d1
          JOIN sizes sb ON sb.doc_id = d2
          WHERE ic * 1.0 / (sa.n + sb.n - ic) >= 0.5
          ORDER BY d1, d2""",
    // exact-verified banding against the persisted snapshot: same
    // result set as the exhaustive CROSS-population join (new batch =
    // doc_id % 5 = 0 vs the rest), so the exhaustive form is the
    // oracle — an independent strategy from the engine's
    // sign-probe-verify incremental path
    "q_llm_dedup_incremental" ->
      s"""$shingleCte,
          inter AS (
            SELECT b.doc_id AS new_id, a.doc_id AS old_id, count(*) AS ic
            FROM sh a JOIN sh b ON a.s = b.s
            WHERE b.doc_id % 5 = 0 AND a.doc_id % 5 <> 0
            GROUP BY 1, 2),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
          SELECT new_id, old_id, ic * 1.0 / (sn.n + so.n - ic) AS jaccard
          FROM inter
          JOIN sizes sn ON sn.doc_id = new_id
          JOIN sizes so ON so.doc_id = old_id
          WHERE ic * 1.0 / (sn.n + so.n - ic) >= 0.5
          ORDER BY new_id, old_id""",
    "q_llm_shard" ->
      """WITH k AS (SELECT doc_id,
                    md5(CAST(doc_id AS VARCHAR) || '-42') AS h
                    FROM documents),
          r AS (SELECT doc_id,
                  row_number() OVER (ORDER BY h, doc_id) - 1 AS idx
                FROM k)
          SELECT doc_id,
                 CAST(idx // 64 AS BIGINT) AS shard,
                 CAST(idx % 64 AS INT) AS pos
          FROM r ORDER BY shard, pos""",
    "q_llm_shard_resume" ->
      """WITH k AS (SELECT doc_id,
                    md5(CAST(doc_id AS VARCHAR) || '-42') AS h
                    FROM documents),
          r AS (SELECT doc_id,
                  row_number() OVER (ORDER BY h, doc_id) - 1 AS idx
                FROM k),
          a AS (SELECT doc_id,
                  CAST(idx // 64 AS BIGINT) AS shard,
                  CAST(idx % 64 AS INT) AS pos
                FROM r)
          SELECT doc_id, shard, pos FROM a
          WHERE shard > 2 OR (shard = 2 AND pos >= 17)
          ORDER BY shard, pos""",
    "q_llm_prep_e2e" ->
      """WITH f AS (
           SELECT doc_id, text, n_chars,
                  len(string_split(text, ' ')) AS tok_cnt,
                  len(list_filter(string_split(text, ' '),
                      t -> list_contains(['the','a','of','and','to','in','is','on'], t)))
                    * 1.0 / len(string_split(text, ' ')) >= 0.1 AS lang_ok,
                  n_chars BETWEEN 100 AND 2000
                    AND len(string_split(text, ' ')) BETWEEN 20 AND 1000
                    AND n_chars * 1.0 / len(string_split(text, ' '))
                          BETWEEN 3.0 AND 20.0 AS quality_ok
           FROM documents),
         u AS (
           SELECT doc_id, tok_cnt,
                  row_number() OVER (PARTITION BY sha256(text)
                                     ORDER BY doc_id) AS rn
           FROM f WHERE lang_ok AND quality_ok),
         toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         tag AS (
           SELECT doc_id,
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS is_eval
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  list_aggregate(t[i:i+4], 'string_agg', ' ') AS g
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, len(t) - 4)) AS i
                 FROM toks WHERE len(t) >= 5)),
         ev AS (SELECT DISTINCT g FROM sh JOIN tag USING (doc_id)
                WHERE is_eval),
         contam AS (
           SELECT DISTINCT sh.doc_id
           FROM sh JOIN tag USING (doc_id) JOIN ev USING (g)
           WHERE NOT is_eval),
         surv AS (
           SELECT u.doc_id, u.tok_cnt
           FROM u JOIN tag USING (doc_id)
           WHERE rn = 1 AND NOT is_eval
             AND u.doc_id NOT IN (SELECT doc_id FROM contam)),
         r AS (
           SELECT doc_id, tok_cnt,
                  row_number() OVER (
                    ORDER BY md5(CAST(doc_id AS VARCHAR) || '-42'), doc_id)
                    - 1 AS idx
           FROM surv)
         SELECT doc_id,
                CAST(idx // 64 AS BIGINT) AS shard,
                CAST(idx % 64 AS INT) AS pos,
                CAST(tok_cnt AS BIGINT) AS n_tok
         FROM r ORDER BY shard, pos""",
    "q_llm_knn_join" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                      FROM embeddings),
          q AS (SELECT vec_id AS qid, e AS qe FROM emb WHERE vec_id < 5),
          c AS (SELECT vec_id, e FROM emb WHERE vec_id >= 5),
          s AS (SELECT q.qid, c.vec_id,
                  round(list_dot_product(c.e, q.qe)
                    / (sqrt(list_dot_product(c.e, c.e))
                       * sqrt(list_dot_product(q.qe, q.qe))), 6) + 0.0
                    AS cosine
                FROM c, q),
          r AS (SELECT qid, vec_id, cosine,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS INT) AS rank
                FROM s)
          SELECT qid, vec_id, cosine, rank FROM r
          WHERE rank <= 10 ORDER BY qid, rank""",
    "q_llm_knn_join_ivf_forced" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
          emb AS (SELECT * FROM e0 UNION ALL
                  SELECT vec_id + 1000000, e FROM e0 WHERE vec_id < 5),
          q AS (SELECT vec_id AS qid, e AS qe FROM emb WHERE vec_id < 5),
          c AS (SELECT vec_id, e FROM emb WHERE vec_id >= 5),
          s AS (SELECT q.qid, c.vec_id,
                  round(list_dot_product(c.e, q.qe)
                    / (sqrt(list_dot_product(c.e, c.e))
                       * sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine
                FROM c, q),
          r AS (SELECT qid, vec_id, cosine,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY cosine DESC, vec_id) AS INT) AS rank
                FROM s)
          SELECT qid, vec_id, cosine, rank FROM r
          WHERE rank <= 10 AND cosine >= 0.999 ORDER BY qid, rank""",
    "q_llm_cosine_topk" ->
      """WITH q AS (
           SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
           WHERE vec_id = 0)
         SELECT vec_id,
                round(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
                  / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))
                     * sqrt(list_dot_product(qe, qe))), 6) AS cosine
         FROM embeddings, q WHERE vec_id <> 0
         ORDER BY cosine DESC, vec_id LIMIT 10""",
    "q_llm_embed_neardup" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
          p AS (
            SELECT a.vec_id AS d1, b.vec_id AS d2,
                   list_dot_product(a.e, b.e)
                     / (sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(b.e, b.e))) AS cos_raw
            FROM v a JOIN v b ON a.vec_id < b.vec_id)
          SELECT d1, d2, round(cos_raw, 6) AS cosine FROM p
          WHERE cos_raw >= 0.4 ORDER BY d1, d2""",
    "q_llm_embed_neardup_scale_forced" ->
      """WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
          v AS (SELECT * FROM v0 UNION ALL
                SELECT vec_id + 1000000, e FROM v0 WHERE vec_id < 20),
          p AS (
            SELECT a.vec_id AS d1, b.vec_id AS d2,
                   list_dot_product(a.e, b.e)
                     / (sqrt(list_dot_product(a.e, a.e))
                        * sqrt(list_dot_product(b.e, b.e))) AS cos_raw
            FROM v a JOIN v b ON a.vec_id < b.vec_id)
          SELECT d1, d2, round(cos_raw, 6) AS cosine FROM p
          WHERE round(cos_raw, 6) >= 0.999 ORDER BY d1, d2""",
    "q_llm_ann_pq_forced" -> pqForcedOracle,
    "q_llm_ann_pq_index_forced" -> pqForcedOracle,
    "q_llm_sample_weighted" ->
      """WITH d AS (
           SELECT lang, doc_id, n_chars,
                  round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                             + 1.0) / 4294967296.0) / n_chars, 9) + 0.0 AS priority
           FROM documents),
         r AS (
           SELECT lang, doc_id, n_chars, priority,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY priority DESC, doc_id) AS rk
           FROM d)
         SELECT lang, doc_id, n_chars, priority
         FROM r WHERE rk <= 20 ORDER BY lang, doc_id""",
    "q_llm_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                       THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                       THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS n_chars
         FROM documents GROUP BY 1 ORDER BY split""",
    "q_llm_centroids" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings),
          x AS (SELECT label, i, emb[i] AS v
                FROM e, (SELECT unnest(generate_series(1, 64)) AS i) g)
          SELECT label, CAST(i AS INT) AS i, round(avg(v), 4) + 0.0 AS c
          FROM x GROUP BY label, i ORDER BY label, i""",
    "q_llm_tokenize_bpe" ->
      """SELECT doc_id,
                CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_ws,
                CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
                  AS INT) AS n_bpe
         FROM documents ORDER BY doc_id""",
    "q_llm_textstats" ->
      """SELECT lang, count(*) AS n_docs,
                round(avg(n_chars), 4) AS avg_chars,
                round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
                min(n_chars) AS min_chars, max(n_chars) AS max_chars
         FROM documents GROUP BY lang ORDER BY lang""",
    "q_llm_qualityfilter" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS tok_cnt,
                n_chars,
                n_chars * 1.0 / len(string_split(text, ' ')) AS ratio
         FROM documents
         WHERE n_chars BETWEEN 100 AND 2000
           AND len(string_split(text, ' ')) BETWEEN 20 AND 1000
           AND n_chars * 1.0 / len(string_split(text, ' ')) BETWEEN 3.0 AND 20.0
         ORDER BY doc_id""",
    "q_llm_quality_lr" ->
      """WITH toks AS (
           SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         stats AS (
           SELECT tok, count(*) AS ca,
                  count(CASE WHEN lang = 'en' THEN 1 END) AS cg
           FROM toks GROUP BY tok),
         totals AS (
           SELECT sum(ca) AS na, sum(cg) AS ng, count(*) AS v FROM stats),
         weights AS (
           SELECT tok, ln((cg + 1) / (ng + v)) - ln((ca + 1) / (na + v)) AS w
           FROM stats, totals)
         SELECT doc_id, round(avg(w), 6) + 0.0 AS score
         FROM toks JOIN weights USING (tok)
         GROUP BY doc_id ORDER BY doc_id""",
    // add-one-smoothed bigram conditionals; V = corpus unigram vocab
    "q_llm_lm_score" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         bi AS (
           SELECT doc_id, t[i] AS prev, t[i+1] AS cur
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, len(t) - 1)) AS i
                 FROM toks WHERE len(t) >= 2)),
         c2 AS (SELECT prev, cur, count(*) AS c2 FROM bi GROUP BY prev, cur),
         c1 AS (SELECT prev, count(*) AS c1 FROM bi GROUP BY prev),
         v AS (SELECT count(DISTINCT tok) AS v FROM (
                 SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents))
         SELECT b.doc_id,
                round(avg(ln((c2.c2 + 1) * 1.0 / (c1.c1 + v.v))), 6)
                  AS lm_score
         FROM bi b
         JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
         JOIN c1 ON b.prev = c1.prev
         CROSS JOIN v
         GROUP BY b.doc_id ORDER BY doc_id""",
    "q_llm_heavy_hitters" ->
      """WITH toks AS (
           SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         total AS (SELECT count(*) AS total FROM toks)
         SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         FROM toks, total GROUP BY tok, total
         HAVING count(*) * 30 > total
         ORDER BY cnt DESC, tok""",
    "q_llm_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         tf AS (
           SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
         df AS (
           SELECT tok, count(*) AS dfreq FROM tf GROUP BY tok),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT doc_id, tok, tf * ln(n / dfreq) AS tfidf
           FROM tf JOIN df USING (tok), n),
         ranked AS (
           SELECT doc_id, tok, tfidf,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, tok) AS rnk
           FROM scored)
         SELECT doc_id, tok, round(tfidf, 6) AS tfidf, CAST(rnk AS INT) AS rnk
         FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    // q_llm_semdedup is rows-only by design (KMeans cell assignment)
    "q_llm_entropy" ->
      """WITH chars AS (
           SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         cnt AS (
           SELECT doc_id, ch, count(*) AS c FROM chars
           WHERE ch <> '' GROUP BY doc_id, ch)
         SELECT doc_id,
                round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
         FROM cnt GROUP BY doc_id ORDER BY doc_id""",
    "q_llm_pack" ->
      """WITH d AS (
           SELECT source, doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         c AS (
           SELECT source, doc_id, n_tok,
                  coalesce(sum(n_tok) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum_before
           FROM d)
         SELECT source, CAST(cum_before // 512 AS BIGINT) AS bin,
                count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         FROM c GROUP BY source, bin ORDER BY source, bin""",
    "q_llm_chunk_stride" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         w AS (
           SELECT doc_id, t, unnest(generate_series(1, len(t) - 7, 4)) AS i
           FROM toks WHERE len(t) >= 8)
         SELECT doc_id, CAST((i - 1) // 4 AS INT) AS chunk_idx,
                array_to_string(t[i : i + 7], ' ') AS chunk
         FROM w ORDER BY doc_id, chunk_idx""",
    "q_llm_langid" ->
      """SELECT doc_id,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['the','a','of','and','to','in','is','on'], t)))
                  * 1.0 / len(string_split(text, ' ')) AS score,
                CASE WHEN len(list_filter(string_split(text, ' '),
                         t -> list_contains(['the','a','of','and','to','in','is','on'], t)))
                       * 1.0 / len(string_split(text, ' ')) >= 0.1
                     THEN 'en' ELSE 'other' END AS pred
         FROM documents ORDER BY doc_id""",
    "q_llm_fingerprint" ->
      s"""$shingleCte
          SELECT doc_id, min(md5(s)) AS fingerprint FROM sh
          GROUP BY doc_id ORDER BY doc_id""",
    "q_llm_redact_pii" ->
      """WITH raw AS (
           SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or call 555-0'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || ' today' AS raw
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(raw,
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
                CAST(len(regexp_extract_all(raw, '\d{3}-\d{4}')) AS INT)
                  AS n_phones,
                regexp_replace(regexp_replace(raw,
                    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                  '\d{3}-\d{4}', '<PHONE>', 'g') AS clean
         FROM raw ORDER BY doc_id""",
    "q_llm_repetition" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         w AS (
           SELECT doc_id, CAST(len(t) AS INT) AS n_tok,
                  CAST(len(list_distinct(t)) AS INT) AS n_uniq
           FROM toks),
         g AS (
           SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, len(t) - 1)) AS i
                 FROM toks WHERE len(t) >= 2)),
         c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         tp AS (
           SELECT doc_id, max(c) AS top2, CAST(sum(c) AS BIGINT) AS n2
           FROM c GROUP BY 1)
         SELECT w.doc_id, n_tok,
                CAST(n_tok - n_uniq AS DOUBLE) / n_tok AS dup_word_frac,
                CAST(top2 AS DOUBLE) / n2 AS top_bigram_frac,
                (CAST(n_tok - n_uniq AS DOUBLE) / n_tok <= 0.6
                 AND CAST(top2 AS DOUBLE) / n2 <= 0.1) AS keep
         FROM w JOIN tp ON w.doc_id = tp.doc_id ORDER BY w.doc_id""",
    "q_llm_source_stats" ->
      """SELECT source, count(*) AS n_docs,
                count(DISTINCT lang) AS n_langs,
                round(avg(n_chars), 4) AS avg_chars,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY source ORDER BY source""",
    "q_llm_url_host" ->
      """WITH d AS (
           SELECT doc_id,
                  'https://' || lang || '.' || source || '.example.com/' ||
                  lang || '/article-' || CAST(doc_id AS VARCHAR) ||
                  '?ref=' || CAST(doc_id % 7 AS VARCHAR) AS url
           FROM documents)
         SELECT doc_id, url,
                regexp_extract(url, '^https://([^/]+)/', 1) AS host,
                regexp_extract(url, '^https://[^./]+\.([^/]+)/', 1) AS domain,
                regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path
         FROM d ORDER BY doc_id""",
    "q_llm_domain_cap" ->
      """WITH d AS (
           SELECT doc_id, n_chars,
                  regexp_extract(
                    'https://' || lang || '.' || source || '.example.com/' ||
                    lang || '/article-' || CAST(doc_id AS VARCHAR) ||
                    '?ref=' || CAST(doc_id % 7 AS VARCHAR),
                    '^https://[^./]+\.([^/]+)/', 1) AS domain
           FROM documents),
         r AS (
           SELECT domain, doc_id, n_chars,
                  CAST(row_number() OVER (
                    PARTITION BY domain
                    ORDER BY n_chars DESC, doc_id) AS INT) AS rn
           FROM d)
         SELECT domain, doc_id, n_chars, rn FROM r WHERE rn <= 5
         ORDER BY domain, rn""",
    "q_llm_url_blocklist" ->
      """WITH d AS (
           SELECT doc_id,
                  regexp_extract(
                    'https://' || lang || '.' || source || '.example.com/' ||
                    lang || '/article-' || CAST(doc_id AS VARCHAR) ||
                    '?ref=' || CAST(doc_id % 7 AS VARCHAR),
                    '^https://[^./]+\.([^/]+)/', 1) AS domain
           FROM documents)
         SELECT domain, count(*) AS n_docs FROM d
         WHERE domain NOT IN ('src3.example.com', 'src7.example.com',
                              'src12.example.com')
         GROUP BY domain ORDER BY domain""",
    "q_llm_embed_quantize" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         m AS (
           SELECT vec_id, e, list_aggregate(e, 'min') AS vmin,
                  list_aggregate(e, 'max') AS vmax
           FROM v),
         qq AS (
           SELECT vec_id,
                  list_transform(e, x ->
                    CAST(floor((x - vmin) * 255 / (vmax - vmin)) AS INT)) AS q
           FROM m WHERE vmax > vmin)
         SELECT vec_id, CAST(len(q) AS INT) AS n_dims,
                CAST(list_sum(q) AS BIGINT) AS q_sum,
                list_aggregate(q, 'min') AS q_min,
                list_aggregate(q, 'max') AS q_max
         FROM qq ORDER BY vec_id""",
    "q_llm_decontaminate" -> decontamOracleSql,
    // the bloom prefilter only prunes work — the result contract is
    // bitwise the exact pipeline's, so the SAME oracle gates it
    "q_llm_decontam_bloom" -> decontamOracleSql,
    "q_llm_decontam_report" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         tag AS (
           SELECT doc_id,
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS is_eval
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id,
                  list_aggregate(t[i:i+4], 'string_agg', ' ') AS g
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, len(t) - 4)) AS i
                 FROM toks WHERE len(t) >= 5)),
         ev AS (SELECT sh.doc_id, g FROM sh JOIN tag USING (doc_id)
                WHERE is_eval),
         tr AS (SELECT DISTINCT g FROM sh JOIN tag USING (doc_id)
                WHERE NOT is_eval)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN g IN (SELECT g FROM tr)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
                round(CAST(sum(CASE WHEN g IN (SELECT g FROM tr)
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS overlap
         FROM ev GROUP BY doc_id ORDER BY doc_id""",
    "q_llm_corpus_drift" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         c AS (
           SELECT token,
                  sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) AS c_base,
                  sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS c_new
           FROM toks GROUP BY token),
         t AS (SELECT sum(c_base) AS t_base, sum(c_new) AS t_new FROM c)
         SELECT token,
                round(CAST(c_base AS DOUBLE) / t_base, 6) AS share_base,
                round(CAST(c_new AS DOUBLE) / t_new, 6) AS share_new,
                round(CAST(c_new AS DOUBLE) / t_new
                      - CAST(c_base AS DOUBLE) / t_base, 6) + 0.0 AS delta
         FROM c CROSS JOIN t
         ORDER BY abs(CAST(c_new AS DOUBLE) / t_new
                      - CAST(c_base AS DOUBLE) / t_base) DESC, token
         LIMIT 20""",
    "q_llm_decontam_semantic" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
         ev AS (SELECT e AS ee FROM v WHERE vec_id % 10 = 0),
         tr AS (SELECT vec_id, e FROM v WHERE vec_id % 10 <> 0),
         m AS (
           SELECT tr.vec_id,
                  max(list_dot_product(tr.e, ev.ee)
                      / (sqrt(list_dot_product(tr.e, tr.e))
                         * sqrt(list_dot_product(ev.ee, ev.ee)))) AS max_raw
           FROM tr CROSS JOIN ev GROUP BY tr.vec_id)
         SELECT vec_id, round(max_raw, 6) AS max_sim,
                max_raw >= 0.5 AS contaminated
         FROM m ORDER BY vec_id""",
    "q_llm_decontam_ivf_forced" ->
      """WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
         v AS (SELECT * FROM v0 UNION ALL
               SELECT vec_id * 10 + 1000000, e FROM v0
               WHERE vec_id % 100 = 1),
         ev AS (SELECT e AS ee FROM v WHERE vec_id % 10 = 0),
         tr AS (SELECT vec_id, e FROM v WHERE vec_id % 10 <> 0),
         m AS (
           SELECT tr.vec_id,
                  max(list_dot_product(tr.e, ev.ee)
                      / (sqrt(list_dot_product(tr.e, tr.e))
                         * sqrt(list_dot_product(ev.ee, ev.ee)))) AS max_raw
           FROM tr CROSS JOIN ev GROUP BY tr.vec_id)
         SELECT vec_id, round(max_raw, 6) AS max_sim,
                max_raw >= 0.5 AS contaminated
         FROM m WHERE round(max_raw, 6) >= 0.999 ORDER BY vec_id""",
    "q_llm_curate_pipeline" ->
      """WITH f AS (
           SELECT doc_id, source, text, n_chars,
                  len(string_split(text, ' ')) AS tok_cnt,
                  len(list_filter(string_split(text, ' '),
                      t -> list_contains(['the','a','of','and','to','in','is','on'], t)))
                    * 1.0 / len(string_split(text, ' ')) >= 0.1 AS lang_ok,
                  n_chars BETWEEN 100 AND 2000
                    AND len(string_split(text, ' ')) BETWEEN 20 AND 1000
                    AND n_chars * 1.0 / len(string_split(text, ' '))
                          BETWEEN 3.0 AND 20.0 AS quality_ok
           FROM documents),
         g AS (
           SELECT *, row_number() OVER (PARTITION BY sha256(text)
                                        ORDER BY doc_id) AS rn
           FROM f WHERE lang_ok AND quality_ok),
         u AS (
           SELECT source, tok_cnt,
                  text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or call 555-0'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                       || ' today' AS raw
           FROM g WHERE rn = 1),
         ur AS (
           SELECT source, count(*) AS n_unique,
                  sum(tok_cnt) AS kept_tokens,
                  sum(len(regexp_extract_all(raw,
                        '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
                      + len(regexp_extract_all(raw, '\d{3}-\d{4}')))
                    AS n_redacted
           FROM u GROUP BY source),
         fu AS (
           SELECT source, count(*) AS n_docs,
                  sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS n_lang,
                  sum(CASE WHEN lang_ok AND quality_ok THEN 1 ELSE 0 END)
                    AS n_quality
           FROM f GROUP BY source)
         SELECT fu.source, CAST(n_docs AS BIGINT) AS n_docs,
                CAST(n_lang AS BIGINT) AS n_lang,
                CAST(n_quality AS BIGINT) AS n_quality,
                CAST(coalesce(n_unique, 0) AS BIGINT) AS n_unique,
                CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens,
                CAST(coalesce(n_redacted, 0) AS BIGINT) AS n_redacted
         FROM fu LEFT JOIN ur ON fu.source = ur.source
         ORDER BY fu.source""",
    "q_llm_corpus_mix" ->
      """WITH d AS (
           SELECT source, doc_id, n_chars,
                  ((CAST(regexp_extract(source, '\d+', 0) AS INT) % 4) + 1) * 4
                    AS quota,
                  instr('0123456789abcdef',
                        substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                    AS bucket
           FROM documents)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN bucket < quota THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(sum(CASE WHEN bucket < quota THEN n_chars ELSE 0 END)
                     AS BIGINT) AS kept_chars
         FROM d GROUP BY source ORDER BY source""",
    "q_llm_chunk_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         ch AS (
           SELECT doc_id, i,
                  list_aggregate(t[(i-1)*10+1:(i-1)*10+10], 'string_agg', ' ')
                    AS c
           FROM (SELECT doc_id, t,
                        unnest(generate_series(1, (len(t) + 9) // 10)) AS i
                 FROM toks)),
         r AS (SELECT doc_id, i, c,
                      row_number() OVER (PARTITION BY c ORDER BY doc_id, i)
                        AS rn
               FROM ch)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
                coalesce(string_agg(c, ' ' ORDER BY i) FILTER (WHERE rn = 1),
                         '') AS clean_text
         FROM r GROUP BY doc_id ORDER BY doc_id""",
    // recomputes MediaCodec.synthesize's header fields arithmetically:
    // format rotates by doc_id % 3, dims derive from (doc_id, n_chars),
    // n_bytes = fixed header size (PNG 33 / BMP 54 / WAV 44) + filler
    "q_mm_binary_meta" ->
      """SELECT doc_id,
                CAST(CASE CAST(doc_id % 3 AS INT)
                       WHEN 0 THEN 33 + n_chars % 16
                       WHEN 1 THEN 54 + n_chars % 16
                       ELSE 44 + n_chars % 16 END AS INT) AS n_bytes,
                CASE CAST(doc_id % 3 AS INT)
                  WHEN 0 THEN 'image/png'
                  WHEN 1 THEN 'image/bmp'
                  ELSE 'audio/wav' END AS format,
                CAST(CASE CAST(doc_id % 3 AS INT)
                       WHEN 0 THEN (n_chars % 640) + 1
                       WHEN 1 THEN (n_chars % 640) + 1
                       ELSE 8000 * (1 + n_chars % 3) END AS INT) AS width,
                CAST(CASE CAST(doc_id % 3 AS INT)
                       WHEN 0 THEN (doc_id % 480) + 1
                       WHEN 1 THEN (doc_id % 480) + 1
                       ELSE 1 + doc_id % 2 END AS INT) AS height
         FROM documents ORDER BY doc_id""",
    // resized pixel (x,y) of the half-scale image is source pixel
    // (2x, 2y): value (7*doc_id + 3*(2x) + 5*(2y)) mod 251
    "q_mm_resize" ->
      """SELECT d.doc_id,
                CAST(4 AS INT) AS out_w,
                CAST(3 AS INT) AS out_h,
                CAST(SUM((7 * d.doc_id + 3 * (2 * x.g) + 5 * (2 * y.g)) % 251)
                  AS BIGINT) AS checksum
         FROM documents d,
              (SELECT unnest(generate_series(0, 3)) AS g) x,
              (SELECT unnest(generate_series(0, 2)) AS g) y
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    // every 4th of n = 32 + doc_id%16 samples s_i = (13*doc_id+17*i) mod 32768
    "q_mm_framesample" ->
      """WITH idx AS (
           SELECT doc_id,
                  unnest(generate_series(0, CAST(32 + doc_id % 16 AS BIGINT) - 1)) AS i
           FROM documents)
         SELECT doc_id,
                CAST(count(*) AS INT) AS n_samples,
                CAST(count(*) FILTER (WHERE i % 4 = 0) AS INT) AS n_frames,
                CAST(SUM(CASE WHEN i % 4 = 0
                              THEN (13 * doc_id + 17 * i) % 32768 END)
                  AS BIGINT) AS frame_sum
         FROM idx GROUP BY doc_id ORDER BY doc_id""",
    // recomputes the dHash pipeline arithmetically: resized pixel
    // (x,y) = source(2x,2y) with p(u,v) = ((doc_id%m+1)*(3u^2+5v+uv)
    // + doc_id%3) mod 251, m = greatest(40, n/12); bit x of row y
    // compares p at 2(x+1) vs 2x; then the SAME 4x16-bit banding +
    // hamming<=6 verify as the engine
    "q_mm_phash" ->
      """WITH mm AS (
           SELECT greatest(40, count(*) // 12) AS m FROM documents),
         px AS (
           SELECT d.doc_id, x.g AS x, y.g AS y,
                  ((d.doc_id % mm.m + 1) * (3*(2*x.g)*(2*x.g) + 5*(2*y.g)
                    + (2*x.g)*(2*y.g)) + d.doc_id % 3) % 251 AS p0,
                  ((d.doc_id % mm.m + 1) * (3*(2*x.g+2)*(2*x.g+2) + 5*(2*y.g)
                    + (2*x.g+2)*(2*y.g)) + d.doc_id % 3) % 251 AS p1
           FROM documents d,
                (SELECT unnest(generate_series(0, 7)) AS g) x,
                (SELECT unnest(generate_series(0, 7)) AS g) y,
                mm),
         rows_ AS (
           SELECT doc_id, y,
                  SUM(CASE WHEN p1 > p0 THEN (1 << x) ELSE 0 END) AS r
           FROM px GROUP BY doc_id, y),
         sigs AS (
           SELECT doc_id,
                  MAX(CASE WHEN y=0 THEN r END) AS r0,
                  MAX(CASE WHEN y=1 THEN r END) AS r1,
                  MAX(CASE WHEN y=2 THEN r END) AS r2,
                  MAX(CASE WHEN y=3 THEN r END) AS r3,
                  MAX(CASE WHEN y=4 THEN r END) AS r4,
                  MAX(CASE WHEN y=5 THEN r END) AS r5,
                  MAX(CASE WHEN y=6 THEN r END) AS r6,
                  MAX(CASE WHEN y=7 THEN r END) AS r7
           FROM rows_ GROUP BY doc_id),
         bands AS (
           SELECT doc_id, 0 AS b, r0 AS u, r1 AS v FROM sigs
           UNION ALL SELECT doc_id, 1, r2, r3 FROM sigs
           UNION ALL SELECT doc_id, 2, r4, r5 FROM sigs
           UNION ALL SELECT doc_id, 3, r6, r7 FROM sigs),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.u = b.u AND a.v = b.v
            AND a.doc_id < b.doc_id)
         SELECT c.doc_a, c.doc_b,
                CAST(bit_count(xor(sa.r0, sb.r0)) + bit_count(xor(sa.r1, sb.r1))
                   + bit_count(xor(sa.r2, sb.r2)) + bit_count(xor(sa.r3, sb.r3))
                   + bit_count(xor(sa.r4, sb.r4)) + bit_count(xor(sa.r5, sb.r5))
                   + bit_count(xor(sa.r6, sb.r6)) + bit_count(xor(sa.r7, sb.r7))
                  AS INT) AS hamming
         FROM cand c
         JOIN sigs sa ON c.doc_a = sa.doc_id
         JOIN sigs sb ON c.doc_b = sb.doc_id
         WHERE bit_count(xor(sa.r0, sb.r0)) + bit_count(xor(sa.r1, sb.r1))
             + bit_count(xor(sa.r2, sb.r2)) + bit_count(xor(sa.r3, sb.r3))
             + bit_count(xor(sa.r4, sb.r4)) + bit_count(xor(sa.r5, sb.r5))
             + bit_count(xor(sa.r6, sb.r6)) + bit_count(xor(sa.r7, sb.r7)) <= 6
         ORDER BY doc_a, doc_b""",
    // same dHash arithmetic, grouped to identical-signature classes;
    // qualified cross-class rep pairs at hamming<=6 plus one
    // hamming-0 row per dup class, each with its doc-pair multiplicity
    "q_mm_phash_classes" ->
      """WITH mm AS (
           SELECT greatest(40, count(*) // 12) AS m FROM documents),
         px AS (
           SELECT d.doc_id, x.g AS x, y.g AS y,
                  ((d.doc_id % mm.m + 1) * (3*(2*x.g)*(2*x.g) + 5*(2*y.g)
                    + (2*x.g)*(2*y.g)) + d.doc_id % 3) % 251 AS p0,
                  ((d.doc_id % mm.m + 1) * (3*(2*x.g+2)*(2*x.g+2) + 5*(2*y.g)
                    + (2*x.g+2)*(2*y.g)) + d.doc_id % 3) % 251 AS p1
           FROM documents d,
                (SELECT unnest(generate_series(0, 7)) AS g) x,
                (SELECT unnest(generate_series(0, 7)) AS g) y,
                mm),
         rows_ AS (
           SELECT doc_id, y,
                  SUM(CASE WHEN p1 > p0 THEN (1 << x) ELSE 0 END) AS r
           FROM px GROUP BY doc_id, y),
         sigs AS (
           SELECT doc_id,
                  MAX(CASE WHEN y=0 THEN r END) AS r0,
                  MAX(CASE WHEN y=1 THEN r END) AS r1,
                  MAX(CASE WHEN y=2 THEN r END) AS r2,
                  MAX(CASE WHEN y=3 THEN r END) AS r3,
                  MAX(CASE WHEN y=4 THEN r END) AS r4,
                  MAX(CASE WHEN y=5 THEN r END) AS r5,
                  MAX(CASE WHEN y=6 THEN r END) AS r6,
                  MAX(CASE WHEN y=7 THEN r END) AS r7
           FROM rows_ GROUP BY doc_id),
         classes AS (
           SELECT MIN(doc_id) AS rep, COUNT(*) AS sz,
                  r0, r1, r2, r3, r4, r5, r6, r7
           FROM sigs GROUP BY r0, r1, r2, r3, r4, r5, r6, r7),
         bands AS (
           SELECT rep, 0 AS b, r0 AS u, r1 AS v FROM classes
           UNION ALL SELECT rep, 1, r2, r3 FROM classes
           UNION ALL SELECT rep, 2, r4, r5 FROM classes
           UNION ALL SELECT rep, 3, r6, r7 FROM classes),
         cand AS (
           SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b
           FROM bands a JOIN bands b
             ON a.b = b.b AND a.u = b.u AND a.v = b.v
            AND a.rep < b.rep),
         cross_ AS (
           SELECT c.rep_a, c.rep_b,
                  CAST(bit_count(xor(ca.r0, cb.r0)) + bit_count(xor(ca.r1, cb.r1))
                     + bit_count(xor(ca.r2, cb.r2)) + bit_count(xor(ca.r3, cb.r3))
                     + bit_count(xor(ca.r4, cb.r4)) + bit_count(xor(ca.r5, cb.r5))
                     + bit_count(xor(ca.r6, cb.r6)) + bit_count(xor(ca.r7, cb.r7))
                    AS INT) AS hamming,
                  CAST(ca.sz * cb.sz AS BIGINT) AS pairs
           FROM cand c
           JOIN classes ca ON c.rep_a = ca.rep
           JOIN classes cb ON c.rep_b = cb.rep
           WHERE bit_count(xor(ca.r0, cb.r0)) + bit_count(xor(ca.r1, cb.r1))
               + bit_count(xor(ca.r2, cb.r2)) + bit_count(xor(ca.r3, cb.r3))
               + bit_count(xor(ca.r4, cb.r4)) + bit_count(xor(ca.r5, cb.r5))
               + bit_count(xor(ca.r6, cb.r6)) + bit_count(xor(ca.r7, cb.r7)) <= 6)
         SELECT rep_a, rep_b, hamming, pairs FROM cross_
         UNION ALL
         SELECT rep AS rep_a, rep AS rep_b, CAST(0 AS INT) AS hamming,
                CAST(sz * (sz - 1) // 2 AS BIGINT) AS pairs
         FROM classes WHERE sz > 1
         ORDER BY rep_a, rep_b""")
}
