package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-trend probe: inflates the sf0.1 fixtures in-place (facts
  * unioned with shifted keys — same distributions, x N rows; dims kept
  * fixed) and times the heavyweight plans on the inflated copy. The
  * point is the TREND: a plan that is ~linear from sf0.1 to sf~1 has
  * no hidden quadratic or driver-side bottleneck, which is the
  * property that carries to a 1000-executor cluster.
  *
  * All requested factors run in ONE JVM (default: 1 then 10) so the
  * x1/x10 ratio is not polluted by JIT warm-up or machine variance
  * between separate runs; the trend table prints at the end.
  *
  * Usage: runMain graft.tools.ScaleProbe [factor...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val factors = if (args.isEmpty) Seq(1, 10) else args.toSeq.map(_.toInt)
    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-scale-probe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val src = "/root/testdata/sf0.1"
    // (probe name, factor) -> seconds, in insertion order
    val results = scala.collection.mutable.LinkedHashMap.empty[(String, Int), Double]

    def runFactor(factor: Int): Unit = {
      val dst = Files.createTempDirectory(s"graft_scaleprobe_x$factor").toString
      println(s"== inflating sf0.1 x$factor -> $dst")
      Inflate(spark, src, dst, factor)

      // optional probe filter for targeted re-runs (jitter checks):
      // SPARK_GRAFT_PROBE_ONLY=substr1,substr2 runs only matching plans
      val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
        .map(_.split(",").map(_.trim.toLowerCase).toSeq)

      // the SAME predicate gates both the timed probes and their
      // companion stats prints — a filter that selects a probe must
      // also select its stats (matching a bare literal here once made
      // PROBE_ONLY=clusters run the probe but skip the stats line)
      def selected(name: String): Boolean =
        only.forall(fs => fs.exists(name.toLowerCase.contains))

      def time(name: String)(df: => DataFrame): Unit = {
        if (!selected(name)) return
        val t0 = System.nanoTime()
        graft.util.Exec.drain(df)
        val dt = (System.nanoTime() - t0) / 1e9
        results((name, factor)) = dt
        println(f"== x$factor $name%-24s $dt%8.2f s")
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        graft.ops.Ml.invalidateFitCache() // the fit must be paid per factor
        graft.ops.Llm.invalidateCellCache()
        // take the collection BETWEEN probes, not inside one (the
        // Bench idiom): without it a heavy row's garbage taxes every
        // row after it — the round-12 full run read tpch q3 at 4.12 s
        // in-sequence vs 1.61 s in a clean JVM, pure heap pollution
        // from a 126 s row minutes earlier
        System.gc()
      }

      // a PROBE_ONLY filter can select a dependency-carrying probe
      // ("ann pq index warm", "substr removal", "cluster rep") without
      // its builder — the reading then prices a cold build under a
      // warm/marginal label. The full run keeps builder-before-consumer
      // ordering; targeted re-runs must carry the caveat visibly.
      if (only.isDefined)
        println("== WARNING: PROBE_ONLY filter active — probes whose " +
          "builder probe was filtered out price a COLD build under " +
          "their warm/marginal label")

      // untimed warmup per factor: the FIRST factor's probes otherwise
      // pay one-time JIT/codegen-infrastructure inside their timed
      // windows, deflating every x10/x1 ratio (x1 inflated -> a mildly
      // superlinear plan reads linear). One representative mixed plan
      // (scan + agg + broadcast join + window) warms the shared
      // machinery; residual per-plan codegen (~0.1-0.3 s) remains part
      // of the documented sub-second scheduler floor.
      locally {
        import org.apache.spark.sql.functions._
        val li = spark.read.parquet(s"$dst/lineitem.parquet")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_returnflag")).orderBy(col("l_orderkey"))
        graft.util.Exec.drain(
          li.join(broadcast(spark.read.parquet(s"$dst/nation.parquet")),
              li("l_suppkey") % 25 === col("n_nationkey"))
            .withColumn("rn", row_number().over(w))
            .groupBy(col("l_returnflag"))
            .agg(count(lit(1)), sum(col("l_extendedprice")), max(col("rn"))))
      }

      import graft.ops._
      time("flagship groupby_multi") { Aggs.aggGroupbyMulti(spark, dst) }
      time("dedup_latest (window)") { Filters.dedupLatest(spark, dst) }
      time("quantile filter") { Filters.filterQuantile(spark, dst) }
      time("topk counts") { Aggs.aggTopkCounts(spark, dst) }
      time("salted agg") { Advanced.aggSalted(spark, dst) }
      time("sessionization") { Advanced.streamSession(spark, dst) }
      time("dedup exact (sha)") { Llm.dedupExact(spark, dst) }
      time("minhash lsh native") { Llm.dedupMinhashNative(spark, dst) }
      time("embed neardup") { Llm.embedNeardup(spark, dst) }
      // round-2 risk list: the iterative clusters loop (cache/lineage
      // hygiene), the IVF quantizer (sampled fit), simhash banding
      time("dedup clusters") { Llm.dedupClusters(spark, dst) }
      // the convergence stats the loop already computes, as printed
      // numbers (like the semdedup cell bound): rounds should sit at
      // O(log diameter) — shallow star/clique components converge in
      // <= 4 — and edges bounds the per-round join work
      if (selected("dedup clusters")) locally {
        val (rounds, edges) = Llm.clusterConvergenceStats(spark, dst)
        println(s"== x$factor cluster convergence: rounds=$rounds edges=$edges")
      }
      // with labels memoized (written once per (session, dir)),
      // cluster_rep pays one parquet scan + one window — the probe
      // expects ~flat across factors past the shared upstream
      time("cluster rep (memo labels)") { Llm.clusterRep(spark, dst) }
      // round 11: the entry dispatches to a committed AnnIndex when
      // one exists, so the production reading needs the index built
      // FIRST — the build trend row prices the fit (the round-10 weak
      // row's cost, now paid once per corpus, never per query), and
      // "ann ivf" then prices the entry as deployed: snapshot serve.
      // The no-index fallback regime stays visible as its own row.
      time("ann index build+serve") { Llm.annIndexServe(spark, dst) }
      time("ann index serve") { Llm.annIndexServe(spark, dst) }
      time("ann ivf") { Llm.annIvf(spark, dst) }
      time("ann ivf (in-session fit)") { Llm.annIvfFit(spark, dst) }
      // IVF-PQ: first call pays the sampled codebook fit + corpus
      // encode (the encode is the corpus-sized term; the fit is
      // bounded by pqFitCap regardless of factor), the query itself
      // is m lookups per probed code row
      time("ann ivf-pq") { Llm.annIvfPq(spark, dst) }
      time("simhash pairs") { Llm.simhashPairs(spark, dst, 8) }
      // round-2 curation additions: the chunk window (shuffle = full
      // corpus keyed by passage), the broadcast decontamination join,
      // and the Gopher bigram aggregate
      time("chunk dedup") { Llm.chunkDedup(spark, dst) }
      time("decontaminate") { Llm.decontaminate(spark, dst) }
      time("repetition rules") { Llm.repetition(spark, dst) }
      // round-2 batch 2: the binned range join (the binning IS the scale
      // claim — without it this is O(n*m)), the salted shuffle join, the
      // TPC-H macros, and the quality-LR model train+score
      time("binned range join") { Joins.joinRange(spark, dst) }
      time("salted join") { Joins.joinSalted(spark, dst) }
      time("tpch q3") { Joins.tpchQ3(spark, dst) }
      time("tpch q5") { Joins.tpchQ5(spark, dst) }
      time("quality LR") { Llm.qualityLr(spark, dst) }
      time("stream join face") { StreamingOps.streamJoin(spark, dst) }
      // batch 3: SemDeDup's quadratic term is bounded by the largest
      // KMeans cell; packing windows per source, never globally
      time("semdedup") { Llm.semDedup(spark, dst) }
      // print the measured bound on semdedup's quadratic term (k is
      // derived ~sqrt(n), so the largest cell should track sqrt(n));
      // this refits the just-invalidated quantizer — stats cost, not
      // part of the timed run
      if (selected("semdedup")) locally {
        val (k, largest) = Llm.ivfCellStats(spark, dst)
        println(s"== x$factor semdedup cell bound: k=$k largestCell=$largest")
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        Llm.invalidateCellCache()
      }
      time("seq packing") { Llm.pack(spark, dst) }
      // round-3 heavies: the positional-gram substring dedup (gram-
      // keyed join + islands window), image phash banding, and the
      // bigram-LM scoring joins — all gram/band-keyed, so the probe
      // watches for any hidden pair-space quadratic
      // substr dedup PAYS the memoized island-summary build (gram
      // explode + df cap + digest join + window, written once per
      // (session, dst)); removal then reads the memo table and adds
      // its doc-keyed anti join + rebuild — like cluster_rep after
      // dedup_clusters, the second entry prices the marginal op
      time("substr dedup") { Llm.substrDedup(spark, dst) }
      time("substr removal") { Llm.substrDedupRemove(spark, dst) }
      time("image phash neardup") { Llm.mmPhash(spark, dst) }
      time("bigram LM score") { Llm.lmScore(spark, dst) }
      // round-4: Q18's agg-as-filter — the having-side aggregate must
      // stay a pre-join reduction (key list), not a post-join filter
      time("tpch q18") { Joins.tpchQ18(spark, dst) }
      // round-5: the remaining macro plans with scale-sensitive
      // shapes — Q10's deliberately-shuffled customer join, Q13's
      // outer-join double aggregate, Q17's window-over-restricted
      // fact, Q22's scalar-threshold + anti join, Q4's semi probe,
      // Q21's single-scan windowed existence tests
      time("tpch q10") { Joins.tpchQ10(spark, dst) }
      time("tpch q13") { Joins.tpchQ13(spark, dst) }
      time("tpch q17") { Joins.tpchQ17(spark, dst) }
      time("tpch q22") { Joins.tpchQ22(spark, dst) }
      time("tpch q4") { Joins.tpchQ4(spark, dst) }
      time("tpch q21") { Joins.tpchQ21(spark, dst) }
      // round-5: incremental dedup pays its snapshot-signature build
      // at each factor (the memo keys on the per-factor dir), then
      // probes band buckets with the new batch; the disjoint
      // per-copy vocabulary keeps the cross-split dup rate constant
      // so pair output grows linearly, not quadratically
      time("incremental dedup") { Llm.dedupIncremental(spark, dst) }
      // round-5 batch 2: the macro-suite completion. Scale-sensitive
      // shapes: Q9's five-way join tree under one aggregate pass,
      // Q2's correlated-min window over the surrogate build, Q20's
      // dual quantity sums, Q11's reused per-part exchange, Q16's
      // distinct-count + broadcast anti join, Q7/Q8/Q12's pushed
      // fact windows and one-pass conditional aggregates
      time("tpch q2") { Joins.tpchQ2(spark, dst) }
      time("tpch q7") { Joins.tpchQ7(spark, dst) }
      time("tpch q8") { Joins.tpchQ8(spark, dst) }
      time("tpch q9") { Joins.tpchQ9(spark, dst) }
      time("tpch q11") { Joins.tpchQ11(spark, dst) }
      time("tpch q12") { Joins.tpchQ12(spark, dst) }
      time("tpch q16") { Joins.tpchQ16(spark, dst) }
      time("tpch q20") { Joins.tpchQ20(spark, dst) }
      // round-5: the bloom-prefiltered decontamination — the sketch
      // build is one treeAggregate over eval grams and the corpus
      // side is map-only probe + survivor-only confirm join; the
      // probe watches that the sketch path tracks the exact path's
      // slope (both linear) while staying comfortably under it
      time("decontam bloom") { Llm.decontamBloom(spark, dst) }
      // round-5: the composed curation funnel — two pushed corpus
      // scans + ONE sha-keyed dedup window; watches that composing
      // stages doesn't compound their costs superlinearly
      time("curate pipeline") { Llm.curatePipeline(spark, dst) }
      // round-5: semantic decontamination — |corpus| x |eval| cosines
      // but map-only (eval collapses to one broadcast row); with the
      // eval slice also x N, per-row cost grows with the factor, so
      // the honest expectation is ~quadratic HERE while the real-world
      // shape (fixed benchmark suite) is linear — the probe documents
      // the former, the op doc claims only the latter
      time("decontam semantic") { Llm.decontamSemantic(spark, dst) }
      // round-5 late batch: the drift report's token aggregate (one
      // shuffle, vocab-sized join), the DQ report's six independent
      // scans, and the variant parse — all expected flat-to-linear
      time("corpus drift") { Llm.corpusDrift(spark, dst) }
      time("dq report") { graft.ops.Quality.dqReport(spark, dst) }
      time("variant extract") { graft.ops.ScalarFns.fnVariant(spark, dst) }

      // round-6: the new ops — weighted sampling (one stratum window),
      // HLL merge (two aggregate passes), and the DISPATCHED big-n
      // faces of embed_neardup / decontam_semantic (bound forced to 0
      // so the probe times the at-scale paths, not the exact
      // fallbacks the small fixtures would otherwise take)
      time("weighted sampling") { Llm.sampleWeighted(spark, dst) }
      // shard assignment rides the de-concentrated hash-bucket global
      // index — the trend should be one-shuffle linear, no
      // single-ordering window wall
      time("shard assignment") { Llm.shard(spark, dst) }
      // shard WRITE/RESUME (round 10): the cold call pays the
      // partitionBy(shard) VersionedTable write of the whole permuted
      // corpus (linear, write-amplified — the nightly publish); the
      // warm call is the dataloader's actual recurring motion, a
      // partition-pruned resume read that skips the cursor prefix at
      // planning time and should grow only with the data AFTER the
      // cursor
      time("shard resume cold") { Llm.queries("q_llm_shard_resume")(spark, dst) }
      time("shard resume warm") { Llm.queries("q_llm_shard_resume")(spark, dst) }
      // resume PROPORTIONALITY (round 11): the serve entry's fixed
      // (2, 17) cursor reads ~the whole corpus at any factor (the
      // documented output-bound row), so it cannot show the property
      // a dataloader owner actually needs — that resume cost tracks
      // the REMAINING fraction, because pruning drops the prefix at
      // planning time. Cursors at 50% and 90% of the shard range
      // should read ~1/2 and ~1/10 of the warm row above; a flat
      // trio would mean the "pruned" resume is scanning-and-skipping
      if (selected("shard resume @50%") || selected("shard resume @90%")) {
        val shardTable = Llm.shardWrittenTable(spark, dst)
        val maxShard = graft.engine.VersionedTable.read(spark, shardTable)
          .agg(max(col("shard").cast("long"))).head().getLong(0)
        time("shard resume @50%") {
          Llm.shardResume(spark, shardTable, maxShard / 2, 0) }
        time("shard resume @90%") {
          Llm.shardResume(spark, shardTable, maxShard * 9 / 10, 0) }
      }
      // prep e2e macro (round 10): curate -> decontam -> shard in one
      // plan; two corpus-keyed shuffles by construction, so the trend
      // should track the standalone ops' sum, not multiply it
      time("prep e2e") { Llm.prepE2e(spark, dst) }
      // committed-tokenizer apply (round 10): cold pays train + the
      // artifact commit (vocab-bounded — the fixture's 31-word vocab
      // makes this a scheduler-floor stability row, see the bpe
      // incremental x-vocab probe for the real vocab trend); warm is
      // the serve — merge-table read + per-distinct-word fold + one
      // word-keyed join
      time("bpe apply cold") { Llm.queries("q_llm_bpe_apply")(spark, dst) }
      time("bpe apply warm") { Llm.queries("q_llm_bpe_apply")(spark, dst) }
      // BPE training iterates 12 vocab-sized rounds: the corpus only
      // pays the one vocab aggregate up front, so the trend should
      // track VOCAB growth (sublinear in corpus), not corpus size
      time("bpe train (12 merges)") { Llm.bpeTrain(spark, dst) }
      time("heavy hitters") { Llm.heavyHitters(spark, dst) }
      time("decontam report") { Llm.decontamReport(spark, dst) }
      // the de-concentrated window rewrites: bucketed global index
      // (ntile) and reduced prefix-sum (cume) must trend ~linear
      time("ntile (distributed)") { Windows.windowNtile(spark, dst) }
      time("cume (distributed)") { Windows.windowCume(spark, dst) }
      time("skyline sweep") { Advanced.skyline(spark, dst) }
      time("funnel (two windows)") { Advanced.funnel(spark, dst) }
      time("cohort retention") { Advanced.cohortRetention(spark, dst) }
      time("funnel latency") { Advanced.funnelLatency(spark, dst) }
      time("hll merge") { Aggs.aggHllMerge(spark, dst) }
      time("embed neardup lsh") { Llm.embedNeardupDispatch(spark, dst, 0L) }
      time("decontam sem ivf") { Llm.decontamSemanticDispatch(spark, dst, 0L) }
      // round-7 operators: the MERGE matrix (one outer key join), the
      // table-path DML roundtrip + changelog (write-shaped, so their
      // trend prices commits too), the snapshot-served ANN probe
      // (build memoized per dir — the marginal read is the product),
      // the deletion-neighborhood similarity join, and batched BPE
      time("merge matrix") { Advanced.mergeMatrix(spark, dst) }
      time("merge by-source sync") { Advanced.mergeSync(spark, dst) }
      // invalidate OUTSIDE the timed window: inside it, the x10 run
      // was charged for recursively deleting x1's committed table —
      // an asymmetric filesystem cost unrelated to the DML plan
      Advanced.invalidateDmlTableCache()
      time("table dml roundtrip") { Advanced.tableDml(spark, dst) }
      time("table changelog") { Advanced.tableChanges(spark, dst) }
      // the exact-index build+serve rows moved UP beside "ann ivf"
      // (round 11 — builder-before-consumer for the dispatch); the
      // PQ layer's builder is its own cold row below, riding the
      // already-committed index
      // persisted IVFADC: the COLD call pays the codebook fit (bounded
      // by fitCap regardless of factor) + the corpus encode+commit —
      // the linear term the trend watches; the WARM call is the pure
      // serve product (centroid rank + ADC over probed byte codes +
      // shortlist re-rank), which should stay ~flat across factors
      time("ann pq index cold") { Llm.queries("q_llm_ann_pq_index")(spark, dst) }
      time("ann pq index warm") { Llm.queries("q_llm_ann_pq_index")(spark, dst) }
      // batch kNN join: the exact form's scored stream is |corpus| x
      // |Q| (linear in the corpus at fixed Q); the IVF form scores
      // only probed cells — the trend shows the probe pruning ratio
      time("knn join exact") { Llm.queries("q_llm_knn_join")(spark, dst) }
      // dispatch regime (committed index built above) — the serve a
      // deployment runs; the fit-path row keeps the no-index regime's
      // trend (quantizer fit + probe join) visible
      time("knn join ivf") { Llm.queries("q_llm_knn_join_ivf")(spark, dst) }
      time("knn join ivf (fit)") { Llm.knnJoinIvf(spark, dst, 10) }
      time("editdist join (fastss)") { Joins.joinEditDist(spark, dst) }
      // the entry reads the customer DIM, which the inflater keeps
      // fixed — for a real trend, inflate the NAME TABLE itself:
      // per-copy "ii_" prefixes (two chars, so cross-copy pairs sit
      // at distance 2 and the within-copy pair structure replicates
      // exactly x factor)
      if (selected("editdist join x-names")) locally {
        val base = graft.engine.Tables(spark, dst, "customer")
          .select(col("c_custkey").as("id"), col("c_name").as("s"))
        val inflated = (0 until factor).map { i =>
          base.select((col("id") + lit(i * 10000000L)).as("id"),
            concat(lit(s"$i$i"), lit("_"), col("s")).as("s"))
        }.reduce(_ unionByName _)
        time("editdist join x-names") { Joins.joinEditDistOn(inflated) }
      }
      // general-k regime (k=2 prefix filtering) on the same inflated
      // name construction: cross-copy pairs sit exactly at distance 2,
      // so the k=2 output grows ~x^2 across copies while the candidate
      // volume should track prefix-gram buckets — the trend shows
      // whether the filter, not the verify, is the envelope
      def editdist2Names(): DataFrame = {
        val base = graft.engine.Tables(spark, dst, "customer")
          .filter(col("c_custkey") % 4 === 0)
          .select(col("c_custkey").as("id"), col("c_name").as("s"))
        (0 until factor).map { i =>
          base.select((col("id") + lit(i * 10000000L)).as("id"),
            concat(lit(s"$i$i"), lit("_"), col("s")).as("s"))
        }.reduce(_ unionByName _)
      }
      time("editdist2 join x-names") {
        Joins.joinEditDistPrefixOn(editdist2Names(), 2)
      }
      // the output-capped production face on the SAME construction:
      // the uncapped row above is OUTPUT-BOUND (true pairs ~factor²
      // across copies, x30 ≈ 217 s of mostly output), so its trend
      // prices its own output; the cap bounds ranked output — and the
      // post-verify ranking shuffle — by topK * |input| (~linear in
      // factor). The gap between these two rows is the cap doing its
      // job; they select independently so the capped row's deep-factor
      // trend doesn't have to pay for the uncapped row's output.
      time("editdist2 topk x-names") {
        Joins.joinEditDistTopKOn(editdist2Names(), 2, 3)
      }
      // the BANDED APPROXIMATE face forced on the same construction —
      // the duplicate-dense regime's dispatch target. Its candidate
      // volume is bounded per input row (6 bands x (heads + window +
      // smallBucket/2) + the exact dist-0 source), so the trend must
      // stay ~input-linear where the exact faces track the dist-1
      // candidate space
      time("editdist2 topk x-names (banded)") {
        Joins.joinEditDistTopKOn(editdist2Names(), 2, 3, approx = Some(true))
      }
      // quality companion for the banded row (small factors only —
      // needs the exact result): id-recall of the exact top-k and
      // per-rank DIST parity on this dist-layered construction (the
      // documented tie-break caveat: parity is the contract here, id
      // recall is gated on the duplicate-dense plant in
      // RelationalOpsSpec)
      if (factor <= 10 && selected("editdist2 topk banded quality")) locally {
        val exact = Joins.joinEditDistTopKOn(editdist2Names(), 2, 3,
            approx = Some(false))
          .select(col("qid"), col("cand"), col("dist"), col("rank"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        val banded = Joins.joinEditDistTopKOn(editdist2Names(), 2, 3,
            approx = Some(true))
          .select(col("qid"), col("cand"), col("dist"), col("rank"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        val exQ = exact.groupBy(_._1)
        val gotQ = banded.groupBy(_._1)
        val recalls = exQ.map { case (q, ex) =>
          val got = gotQ.getOrElse(q, Array.empty).map(_._2).toSet
          ex.count(e => got.contains(e._2)).toDouble / ex.length
        }
        val parity = exQ.count { case (q, ex) =>
          gotQ.get(q).exists(g =>
            g.sortBy(_._4).map(_._3).toSeq == ex.sortBy(_._4).map(_._3).toSeq)
        }
        println(f"   [stats] banded vs exact @x$factor: id-recall " +
          f"${recalls.sum / recalls.size}%.4f, dist-parity " +
          f"${parity.toDouble / exQ.size}%.4f over ${exQ.size} queries")
      }
      time("bpe train batched") {
        Llm.bpeTrainMergesBatched(spark, dst, 256, strictPrefix = false)
      }
      // the incremental (delta-maintained pair count) regime needs a
      // REAL vocabulary to mean anything — the documents fixture has
      // 31 distinct words at any inflation factor (Inflate replicates
      // rows, not words). Synthesize a factor-scaled vocab (30k
      // distinct 8-char words per x) and race the two forced regimes
      // on identical input
      if (selected("bpe incremental x-vocab")) locally {
        import spark.implicits._
        // 24-char words: the per-round interpreted merge fold is the
        // recount regime's envelope (cost ~ vocab x len x batch), and
        // the sliver regime folds only affected words. Measured at
        // 40k words x 24 chars x 64 merges: recount 99.7 s,
        // incremental 39.0 s (2.6x) with ~50% slivers.
        val words = spark.range(20000L * factor).select(
            substring(concat(md5(col("id").cast("string")),
              md5(concat(lit("x"), col("id").cast("string")))), 1, 24).as("w"),
            (col("id") % 100 + 1).as("n"))
          .groupBy(col("w")).agg(sum(col("n")).as("n"))
          .localCheckpoint(true)
        val t0 = System.nanoTime()
        graft.util.Exec.drain(Llm.bpeTrainMergesBatchedOn(spark, words,
          48, strictPrefix = false, incremental = Some(false)))
        val recount = (System.nanoTime() - t0) / 1e9
        results(("bpe recount x-vocab", factor)) = recount
        println(f"== x$factor ${"bpe recount x-vocab"}%-24s $recount%8.2f s")
        val t1 = System.nanoTime()
        graft.util.Exec.drain(Llm.bpeTrainMergesBatchedOn(spark, words,
          48, strictPrefix = false, incremental = Some(true)))
        val incr = (System.nanoTime() - t1) / 1e9
        results(("bpe incremental x-vocab", factor)) = incr
        println(f"== x$factor ${"bpe incremental x-vocab"}%-24s $incr%8.2f s")
      }

      // AQE skew-join probe: join the deliberately-skewed
      // events.user_id WITHOUT salting and assert AQE's skew-join
      // split engages (plan tagged skew=true) — the runtime safety
      // net the engine relies on when salting isn't hand-applied
      // (Joins.joinSalted is the manual form). Thresholds are lowered
      // to probe-data scale; production defaults (256 MB) express the
      // same mechanism at cluster scale.
      if (selected("skewed-join (unsalted, aqe)")) locally {
        val keys = Seq(
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
          spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
          spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
          // the fixture's organic skew (hottest user ~1.5x the median)
          // sits below any sane split threshold, so plant a REAL hot
          // key: collapse half the users onto user 10 (~50% of all
          // rows on one reducer) — the shape salting/AQE exist for.
          // Both join inputs must be PLAIN shuffles: OptimizeSkewedJoin
          // only matches SMJ(sort(shuffle), sort(shuffle)), so an
          // aggregate on the dim side would mask the skew handling —
          // this is the same events x customer join joinSalted salts
          // by hand. The repartition matters too: AQE can only split a
          // skewed reduce partition at MAP-chunk boundaries, and a
          // single-row-group parquet fixture yields ONE real map task
          // (unsplittable); 16 round-robin maps stand in for the
          // thousands a 100 TB scan produces.
          val ev = graft.engine.Tables(spark, dst, "events")
            .withColumn("user_id",
              when(col("user_id") % 2 === 0, lit(10L))
                .otherwise(col("user_id")))
            .repartition(16)
          val dim = graft.engine.Tables(spark, dst, "customer")
            .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
          val joined = ev.join(dim, Seq("user_id"))
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("cnt"),
              round(sum(col("value")), 4).as("sum_value"))
          val t0 = System.nanoTime()
          // collect() — NOT count() — so the inspected queryExecution is
          // the one that actually ran (count() spawns a separate pruned
          // execution whose constant hot key compresses into invisibility)
          joined.collect()
          val dt = (System.nanoTime() - t0) / 1e9
          val skewed = joined.queryExecution.executedPlan.toString
            .contains("skew=true")
          println(f"== x$factor skewed-join (unsalted, AQE) $dt%8.2f s  skew-split=$skewed")
          assert(skewed,
            "AQE skew-join split did not engage on the skewed user_id join")
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }

      // skew UNDER FIRE: one user carrying ~20% of all events, joined
      // three ways with measured TASK-TIME SPREAD (p50 vs max) — the
      // straggler is a task-level pathology a wall-clock number alone
      // hides at probe scale. Variants: unsalted with AQE's skew split
      // OFF (the straggler control), unsalted with the split ON (the
      // runtime safety net), and the hand-salted form (the preventive
      // shape `q_join_salted` ships). Expectation across factors: the
      // control's max-task grows with the hot key while the split and
      // salted forms hold their spread roughly flat.
      if (selected("skew-fire")) locally {
        val keys = Seq(
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.enabled",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
        // per-STAGE task times: lumping every stage's tasks together
        // buries the join straggler under scan/agg tasks — the spread
        // that matters is within the heaviest stage (the join)
        class TaskTimes extends org.apache.spark.scheduler.SparkListener {
          val byStage = scala.collection.mutable.Map[Int,
            scala.collection.mutable.ArrayBuffer[Long]]()
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            byStage.synchronized {
              byStage.getOrElseUpdate(e.stageId,
                scala.collection.mutable.ArrayBuffer[Long]()) +=
                e.taskInfo.duration
            }
        }
        def run(name: String, skewOn: Boolean)(df: => DataFrame): Unit = {
          spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
          val l = new TaskTimes
          spark.sparkContext.addSparkListener(l)
          val t0 = System.nanoTime()
          df.collect()
          val dt = (System.nanoTime() - t0) / 1e9
          // two-stable-reads drain (the Metrics.measure idiom), not a
          // fixed sleep: a backlogged bus delivers the LAST-arriving
          // events late, and those are the longest tasks — exactly the
          // straggler this probe hunts
          locally {
            def total = l.byStage.synchronized(l.byStage.values.map(_.size).sum)
            val tEnd = System.nanoTime()
            var last = -1
            while (total != last && (System.nanoTime() - tEnd) < 5000000000L) {
              last = total
              Thread.sleep(100L)
            }
          }
          spark.sparkContext.removeSparkListener(l)
          // WORST SPREAD across substantial stages, not the spread of
          // the heaviest-by-sum stage: by-sum can select DIFFERENT
          // stages across the compared variants (the salted form's
          // balanced join can be out-summed by the fattened scan,
          // whose uniform spread then reads as "salting held") — the
          // variant-comparable question is "did ANY real stage
          // straggle". Stages need >= 8 tasks and a >= 50 ms max so
          // 1 ms noise ratios can't fake a straggler.
          val spreads = l.byStage.synchronized {
            l.byStage.values.map(_.sorted.toIndexedSeq)
              .filter(ts => ts.size >= 8 && ts.last >= 50L).toSeq
          }
          val worst =
            if (spreads.isEmpty) IndexedSeq(0L)
            else spreads.maxBy(ts =>
              ts.last.toDouble / math.max(ts(ts.size / 2), 1L))
          val p50 = math.max(worst(worst.size / 2), 1L)
          val mx = worst.last
          val spread = if (spreads.isEmpty) 1.0 else mx.toDouble / p50
          println(f"== x$factor skew-fire $name%-24s $dt%7.2f s  " +
            f"worst-stage tasks=${worst.size}%4d  p50=${p50}%5d ms  " +
            f"max=${mx}%6d ms  spread=$spread%5.1f")
        }
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
          spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
          spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
          // ~20% of all rows onto user 10, then the fact FATTENED x8
          // (shifted event_ids, same user distribution): at probe
          // scale a 20%-hot partition of the raw events is ~100 ms of
          // join work — cheaper than one scan task — so no straggler
          // can form; the x8 union gives the hot reducer seconds of
          // work, the regime skew handling exists for. 64 round-robin
          // maps give AQE the map-chunk boundaries a split needs.
          val evBase = graft.engine.Tables(spark, dst, "events")
            .withColumn("user_id",
              when(col("user_id") % 5 === 0, lit(10L))
                .otherwise(col("user_id")))
          val ev = (0 until 8).map(i =>
              evBase.withColumn("event_id",
                col("event_id") + lit(i * 1000000000L)))
            .reduce(_ unionByName _)
            .repartition(64)
          val dim = graft.engine.Tables(spark, dst, "customer")
            .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
          def agg(j: DataFrame): DataFrame = j
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("cnt"),
              round(sum(col("value")), 4).as("sum_value"))
          def unsalted = agg(ev.join(dim, Seq("user_id")))
          def salted = {
            val s = 8
            val sf = ev.withColumn("salt",
              pmod(col("event_id"), lit(s)).cast("int"))
            val sd = dim.withColumn("salt",
              explode(sequence(lit(0), lit(s - 1))))
            agg(sf.join(sd.hint("shuffle_hash"), Seq("user_id", "salt")))
          }
          // untimed warmup: the first run in a fresh JVM pays codegen
          // + parquet-footer costs that drown the task-spread signal
          unsalted.collect()
          run("unsalted split-OFF", skewOn = false)(unsalted)
          run("unsalted split-ON", skewOn = true)(unsalted)
          run("salted (manual)", skewOn = true)(salted)
          // the AGGREGATION side of the same hot key — expected
          // (and instructive) NEGATIVE result: map-side partial
          // aggregation already collapses each partition's hot rows
          // to one, so an algebraic groupBy(user_id) never sees the
          // skew the join does; the salted two-phase form
          // (q_agg_salted) exists for the HOLISTIC aggregates
          // partials can't collapse. Both should read ~flat here.
          def aggKey(df: DataFrame) = df
            .groupBy(col("user_id"))
            .agg(count(lit(1)).as("cnt"),
              round(sum(col("value")), 4).as("sum_value"))
          run("agg unsalted (hot key)", skewOn = true)(aggKey(ev))
          run("agg salted two-phase", skewOn = true) {
            ev.withColumn("salt", pmod(col("event_id"), lit(16)))
              .groupBy(col("user_id"), col("salt"))
              .agg(count(lit(1)).as("pc"), sum(col("value")).as("ps"))
              .groupBy(col("user_id"))
              .agg(sum(col("pc")).as("cnt"),
                round(sum(col("ps")), 4).as("sum_value"))
          }
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }
    }

    factors.foreach(runFactor)

    if (factors.length >= 2) {
      val lo = factors.head
      val hi = factors.last
      println(f"== trend table (x$lo -> x$hi, same JVM)")
      results.keys.map(_._1).toSeq.distinct.foreach { name =>
        for (a <- results.get((name, lo)); b <- results.get((name, hi)))
          println(f"== $name%-24s x$lo $a%7.2f s  x$hi $b%7.2f s  ratio ${b / a}%5.2f")
      }
    }
    spark.stop()
  }
}
