package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class LlmSpec extends SparkTestBase {
  import spark.implicits._

  test("exact dedup groups byte-identical docs only") {
    val df = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta gamma"), // exact dup of 0
      (2L, "Alpha Beta Gamma") // case-variant: NOT an exact dup
    ).toDF("doc_id", "text")
    val got = df.groupBy(sha2($"text", 256))
      .agg(min($"doc_id").as("keep"), count(lit(1)).as("n"))
      .select($"keep", $"n").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 2L, 2L -> 1L))
  }

  test("ngram jaccard equals a brute-force recompute on the smoke corpus") {
    // this op is the ORACLE for the minhash, native-LSH, clusters and
    // incremental tests — re-asserting its own join/filter clauses
    // (d1<d2, jaccard in [0.5,1]) could never fail, and a shingle
    // regression would poison every downstream equality silently. An
    // independent driver-side recompute over all 500 smoke docs is
    // cheap and pins values, not shapes.
    val got = Llm.dedupNgram(spark, sfSmoke)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val texts = graft.engine.Tables(spark, sfSmoke, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def shingles(t: String): Set[String] = {
      val w = t.split(" ", -1) // -1: keep empties, like Spark's split
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val ss = texts.map { case (id, t) => id -> shingles(t) }
      .filter(_._2.nonEmpty).sortBy(_._1)
    val brute = (for {
      i <- ss.indices.iterator
      j <- (i + 1) until ss.length
      ic = (ss(i)._2 & ss(j)._2).size
      if ic > 0
      jac = ic.toDouble / (ss(i)._2.size + ss(j)._2.size - ic)
      if jac >= 0.5
    } yield (ss(i)._1, ss(j)._1) -> jac).toMap
    assert(brute.nonEmpty, "sf0.001 documents contain planted near-dups")
    assert(got.keySet == brute.keySet,
      s"pair sets diverge — missing: ${(brute.keySet -- got.keySet).take(5)}, " +
        s"extra: ${(got.keySet -- brute.keySet).take(5)}")
    got.foreach { case (k, j) =>
      assert(math.abs(j - brute(k)) < 1e-12, s"jaccard mismatch at $k")
    }
  }

  test("minhash LSH recalls most exact ngram near-dup pairs") {
    val exact = Llm.dedupNgram(spark, sfSmoke)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val approx = Llm.dedupMinhash(spark, sfSmoke)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall too low (found ${approx.size})")
  }

  test("native minhash LSH equals the exhaustive ngram join exactly") {
    val exact = Llm.dedupNgram(spark, sfSmoke)
      .select($"d1", $"d2", $"jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val lsh = Llm.dedupMinhashNative(spark, sfSmoke)
      .select($"d1", $"d2", $"jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact, s"lsh=${lsh.size} exact=${exact.size}")
  }

  test("dedup clusters: components are transitive and labeled by min id") {
    val clusters = Llm.dedupClusters(spark, sfSmoke)
      .as[(Long, Long)].collect().toMap
    val pairs = Llm.dedupNgram(spark, sfSmoke)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    assert(clusters.nonEmpty)
    // every edge's endpoints share a component label
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"edge ($a,$b) split across clusters")
    }
    // labels are the component minimum
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl)
    }
  }

  test("cluster labels: forced distributed min-label loop equals the local union-find") {
    // round-14 dispatch: pairs <= clusterLocalPairBound label via a
    // driver union-find; above it the distributed loop runs. Force
    // each regime on the same fixture and pin byte equality.
    Llm.invalidateClusterLabelCache()
    val (localPath, localRounds, localEdges) =
      Llm.convergedLabelsBounded(spark, sfSmoke, Long.MaxValue)
    val local = spark.read.parquet(localPath)
      .as[(Long, Long)].collect().toSet
    Llm.invalidateClusterLabelCache()
    val (distPath, distRounds, distEdges) =
      Llm.convergedLabelsBounded(spark, sfSmoke, -1L)
    val dist = spark.read.parquet(distPath)
      .as[(Long, Long)].collect().toSet
    assert(localRounds == 0 && distRounds > 0,
      s"regimes not forced: local=$localRounds dist=$distRounds")
    assert(localEdges == distEdges, s"edge counts $localEdges != $distEdges")
    assert(local == dist,
      s"label sets diverge — local-only: ${(local -- dist).take(5)}, " +
        s"dist-only: ${(dist -- local).take(5)}")
    assert(local.nonEmpty)
    Llm.invalidateClusterLabelCache() // leave no cross-regime memo behind
  }

  test("simhash: identical docs get identical signatures, distinct docs differ") {
    val sigs = Llm.dedupSimhash(spark, sfSmoke)
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    val texts = graft.engine.Tables(spark, sfSmoke, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    // any byte-identical pair must have equal signatures
    val byText = texts.groupBy(_._2).values.filter(_.size > 1)
    byText.foreach { grp =>
      val ids = grp.keys.toSeq
      assert(ids.map(sigs).distinct.size == 1)
    }
    // signatures are not all equal across the corpus
    assert(sigs.values.toSet.size > 1)
  }

  test("simhash hamming pairs include the ngram near-dups' band collisions") {
    // the emitted-hamming bound is the op's own filter clause — it can
    // never fail and passes on EMPTY output. The real property: every
    // ngram near-dup within hamming 3 MUST surface (4 bands, <=3
    // flipped bits, pigeonhole guarantees an untouched band)
    val pairs = Llm.simhashPairs(spark, sfSmoke, maxHamming = 10)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val sigs = Llm.dedupSimhash(spark, sfSmoke)
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    val mustInclude = Llm.dedupNgram(spark, sfSmoke)
      .select($"d1", $"d2").as[(Long, Long)].collect()
      .filter { case (a, b) =>
        java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3 }
    assert(mustInclude.nonEmpty,
      "fixture must plant near-dups inside the pigeonhole region")
    mustInclude.foreach(p => assert(pairs.contains(p),
      s"pigeonhole-guaranteed pair $p missing from the band join"))
  }

  test("brute-force cosine top-k is ordered and k-bounded") {
    val got = Llm.cosineTopk(spark, sfSmoke).collect()
    assert(got.length == 10)
    val sims = got.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(sims.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("ann lsh returns k neighbors with nonnegative distances") {
    val got = Llm.annLsh(spark, sfSmoke).collect()
    assert(got.length == 10)
    assert(got.map(_.getDouble(1)).forall(_ >= 0.0))
  }

  test("typed VectorAvg aggregator equals the relational centroid") {
    val emb = graft.engine.Tables(spark, sfSmoke, "embeddings")
      .selectExpr("label", "CAST(embedding AS ARRAY<DOUBLE>) AS e")
      .as[(Int, Seq[Double])]
    val typed = emb.groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.functions.VectorAvg(64).toColumn.name("c"))
      .collect().toMap
    val relational = Llm.centroids(spark, sfSmoke)
      .select($"label", $"i", $"c").as[(Int, Int, Double)].collect()
      .groupBy(_._1)
      .map { case (l, rows) =>
        l -> rows.sortBy(_._2).map(_._3).toSeq
      }
    assert(typed.keySet == relational.keySet)
    typed.foreach { case (l, vec) =>
      val rounded = vec.map(v => math.rint(v * 1e4) / 1e4)
      assert(rounded == relational(l), s"label $l centroid mismatch")
    }
  }

  test("ivf ann returns k rows from at most ceil(k/4) probed cells") {
    val got = Llm.annIvf(spark, sfSmoke).collect()
    assert(got.length == 10)
    // nprobe = max(2, ceil(k/4)) with k derived ~sqrt(n): the result
    // must come from the probed subset, never a full-corpus scan
    val (k, _) = Llm.ivfCellStats(spark, sfSmoke)
    val nprobe = math.max(2, math.ceil(k / 4.0).toInt)
    assert(got.map(_.getInt(1)).distinct.length <= nprobe)
    val sims = got.map(_.getDouble(2))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("bpe-ish token count >= whitespace token count") {
    val rows = Llm.tokenizeBpe(spark, sfSmoke).collect()
    assert(rows.nonEmpty) // the foreach is vacuous on empty output
    rows.foreach { r =>
      assert(r.getInt(2) >= r.getInt(1),
        s"doc ${r.getLong(0)}: bpe ${r.getInt(2)} < ws ${r.getInt(1)}")
    }
  }

  test("quality filter keeps exactly the recomputed survivor set") {
    // per-row bound re-checks pass on EMPTY output and restate the
    // op's own predicate — the exact survivor id set is derivable
    // from the table (constants restated here independently, so a
    // drifted op constant fails the test)
    val rows = Llm.qualityFilter(spark, sfSmoke).collect()
    val expected = graft.engine.Tables(spark, sfSmoke, "documents")
      .select($"doc_id", $"text", $"n_chars".cast("long"))
      .as[(Long, String, Long)].collect()
      .filter { case (_, t, nc) =>
        val tok = t.split(" ", -1).length
        val ratio = nc * 1.0 / tok
        nc >= 100 && nc <= 2000 && tok >= 20 && tok <= 1000 &&
          ratio >= 3.0 && ratio <= 20.0
      }.map(_._1).toSet
    assert(expected.nonEmpty, "fixture must have quality survivors")
    assert(rows.map(_.getLong(0)).toSet == expected,
      s"survivor set diverged: got ${rows.length}, want ${expected.size}")
    rows.foreach { r =>
      assert(r.getLong(2) >= 100L && r.getLong(2) <= 2000L)
      assert(r.getInt(1) >= 20 && r.getInt(1) <= 1000)
      assert(r.getDouble(3) >= 3.0 && r.getDouble(3) <= 20.0)
    }
  }

  test("pii redaction scrubs every email and phone it counted") {
    val rows = Llm.redactPii(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the injected contact line guarantees at least one of each
      assert(r.getInt(1) >= 1 && r.getInt(2) >= 1)
      val clean = r.getString(3)
      assert(!clean.matches(".*[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}.*"),
        s"doc ${r.getLong(0)}: email survived redaction")
      assert(!clean.matches(".*\\d{3}-\\d{4}.*"),
        s"doc ${r.getLong(0)}: phone survived redaction")
      assert(clean.contains("<EMAIL>") && clean.contains("<PHONE>"))
    }
  }

  test("gram df cap: boilerplate in >64 docs creates no pairs; genuine dups survive; removal excises the later doc") {
    val dir = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    // a 14-token run every doc shares (license-header shape): its pure
    // grams have df=100 > cap and must be dropped BEFORE the self-join
    // — without the cap this fixture alone makes the join emit
    // ~100^2/2 gram pairs and report 4950 bogus dup pairs
    val boiler = (1 to 14).map(i => s"license$i").mkString(" ")
    // one genuine 12-token duplication between exactly two docs
    val dup = (1 to 12).map(i => s"dupline$i").mkString(" ")
    val docs = (0 until 100).map { i =>
      (i.toLong, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f")
    } ++ Seq(
      (200L, s"x200a x200b x200c $dup y200a y200b y200c"),
      (201L, s"x201a x201b x201c $dup y201a y201b y201c"))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Llm.substrDedup(spark, dir)
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs == Seq((200L, 201L, 12)),
      s"expected ONLY the genuine pair (boilerplate df-capped), got $pairs")
    val rm = Llm.substrDedupRemove(spark, dir)
      .as[(Long, String, Int)].collect().toSeq
    assert(rm == Seq((201L, "x201a x201b x201c y201a y201b y201c", 12)),
      s"the LATER doc loses exactly the duplicated run, got $rm")
  }

  test("islands memo: invalidation deletes the written table and rebuilds against regenerated data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_islmemo").toString
    val dup = (1 to 12).map(i => s"dupline$i").mkString(" ")
    def writeDocs(withDup: Boolean): Unit = {
      val docs =
        if (withDup) Seq(
          (1L, s"a1 a2 a3 $dup b1 b2 b3"),
          (2L, s"c1 c2 c3 $dup d1 d2 d3"))
        else Seq(
          (1L, "a1 a2 a3 b1 b2 b3"),
          (2L, "c1 c2 c3 d1 d2 d3"))
      docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }
    writeDocs(withDup = true)
    assert(Llm.substrDedup(spark, dir).count() == 1)
    // regenerate the corpus under the SAME dir with no duplication:
    // without invalidation the memo would serve the stale islands —
    // the exact in-session-regeneration hazard the skip-table cache
    // advice documented
    writeDocs(withDup = false)
    Llm.invalidateIslandsCache()
    assert(Llm.substrDedup(spark, dir).count() == 0,
      "post-invalidation read must rebuild from the regenerated corpus")
  }

  test("incremental dedup equals the exhaustive cross-population join") {
    // the exhaustive batch oracle: dedupNgram's full pair list,
    // restricted to pairs that straddle the snapshot/new-batch split
    val cross = Llm.dedupNgram(spark, sfSmoke)
      .as[(Long, Long, Double)].collect()
      .collect {
        case (d1, d2, j) if d1 % 5 == 0 ^ d2 % 5 == 0 =>
          if (d1 % 5 == 0) (d1, d2, j) else (d2, d1, j)
      }.toSet
    val incr = Llm.dedupIncremental(spark, sfSmoke)
      .as[(Long, Long, Double)].collect().toSet
    assert(cross.nonEmpty, "fixtures must plant cross-split near-dups")
    assert(incr == cross, s"incr=${incr.size} exhaustive=${cross.size}")
  }

  test("incremental dedup reads the persisted snapshot, never re-signs the corpus") {
    // prime the memo, then doctor the written table: if the query
    // re-derived signatures from the documents table, the doctoring
    // would be invisible; following the doctored bytes proves the
    // snapshot is the source of truth
    assert(Llm.dedupIncremental(spark, sfSmoke).count() > 0)
    val path = Llm.snapshotSigPath(spark, sfSmoke)
      .getOrElse(fail("first run must register the snapshot table"))
    // snapshot must cover the PRIOR corpus only — new-batch ids absent
    val snap = graft.engine.VersionedTable.read(spark, path)
    assert(snap.filter($"doc_id" % 5 === 0).count() == 0,
      "new-batch docs must not be signed into the snapshot")
    // doctor the table: commit an EMPTY next version — the query must
    // follow the table's current version, not recompute signatures
    graft.engine.VersionedTable.commit(snap.limit(0), path)
    assert(Llm.dedupIncremental(spark, sfSmoke).count() == 0,
      "an emptied snapshot must yield zero candidates — nonzero means " +
        "the old corpus was re-signed instead of read")
    // invalidation rebuilds from the corpus and restores the result
    Llm.invalidateSnapshotSigCache()
    assert(Llm.dedupIncremental(spark, sfSmoke).count() > 0,
      "post-invalidation rebuild must restore the pairs")
  }

  test("snapshot advance appends the batch's signatures as a new version; old version time-travels") {
    Llm.invalidateSnapshotSigCache() // fresh v0 for this dir
    assert(Llm.dedupIncremental(spark, sfSmoke).count() > 0)
    val path = Llm.snapshotSigPath(spark, sfSmoke).get
    val v1 = Llm.advanceIncrSnapshot(spark, sfSmoke)
    val cur = graft.engine.VersionedTable.read(spark, path)
    // EXACT batch contribution, independently derived: 6 banded
    // signature rows per batch doc with >= 3 tokens. (The previous
    // form compared cur against cur's own batch-row count — a partial
    // append satisfied it identically.)
    val batchDocs = graft.engine.Tables(spark, sfSmoke, "documents")
      .filter($"doc_id" % 5 === 0 &&
        org.apache.spark.sql.functions.size(split($"text", " ")) >= 3)
      .count()
    assert(batchDocs > 0)
    assert(cur.filter($"doc_id" % 5 === 0).count() == 6 * batchDocs,
      "advanced snapshot must carry every batch doc's 6 band rows")
    // yesterday's snapshot is still reachable and still batch-free
    val old = graft.engine.VersionedTable.read(spark, path, Some(v1 - 1))
    assert(old.filter($"doc_id" % 5 === 0).count() == 0)
    // the advance READ the old sigs rather than re-signing
    assert(cur.count() == old.count() + 6 * batchDocs)
    // re-running dedup against the ADVANCED snapshot (which now holds
    // the batch's own signatures) must never emit self-pairs — the
    // unguarded band join matched every batch doc to itself at
    // jaccard 1.0
    val post = Llm.dedupIncremental(spark, sfSmoke)
    assert(post.filter($"new_id" === $"old_id").count() == 0,
      "advanced-snapshot rerun emitted self-pairs")
    Llm.invalidateSnapshotSigCache() // leave no advanced state behind
  }

  test("repetition signals are fractions and the verdict matches them") {
    val rows = Llm.repetition(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dup, top2, keep) = (r.getDouble(2), r.getDouble(3), r.getBoolean(4))
      assert(dup >= 0.0 && dup < 1.0)
      assert(top2 > 0.0 && top2 <= 1.0)
      assert(keep == (dup <= 0.6 && top2 <= 0.1))
    }
  }

  test("heavy hitters via sketch candidates equal the exhaustive group-by") {
    val got = Llm.heavyHitters(spark, sfSmoke)
      .select($"tok", $"cnt").as[(String, Long)].collect().toSeq
    // brute force: full vocabulary aggregation, same threshold
    val toks = graft.engine.Tables(spark, sfSmoke, "documents")
      .select(explode(split($"text", " ")).as("tok"))
    val total = toks.count()
    val exact = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      .filter($"cnt" * 30 > total)
      .orderBy($"cnt".desc, $"tok")
      .as[(String, Long)].collect().toSeq
    assert(got == exact,
      "the bounded-state candidate phase must lose no true heavy hitter")
    assert(got.nonEmpty && got.size < 31,
      "fixture threshold must discriminate (some pass, some fail)")
    // the phase-1 state bound the scale claim rests on: the candidate
    // array the plan broadcasts is sketch-sized, never vocabulary-sized
    val cand = toks.stat.freqItems(Seq("tok"), 0.02)
      .collect()(0).getSeq[String](0)
    assert(cand.size <= 50 && got.map(_._1).toSet.subsetOf(cand.toSet),
      "freqItems must return a <=1/support-sized superset of the hitters")
  }

  test("heavy hitters shuffle is candidate-sized, not vocabulary-sized") {
    // the sf fixtures' 31-token vocabulary can't show the mechanism —
    // plant a corpus whose vocabulary is ~100k tokens but whose heavy
    // hitters are exactly two, and let the Metrics counters prove the
    // sketch path never shuffles the vocabulary
    val dir = java.nio.file.Files.createTempDirectory("graft_hh_vocab").toString
    val docs = spark.range(4000).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        (0 until 24).map(i => concat(lit(s"u${i}_"), col("id"))) ++
          Seq.fill(3)(lit("alpha")) ++ Seq.fill(3)(lit("beta")): _*)
        .as("text"))
    docs.repartition(4).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val (got, mSketch) = graft.engine.Metrics.measure(spark) {
      Llm.heavyHitters(spark, dir).as[(String, Long)].collect().toSeq
    }
    assert(got == Seq("alpha" -> 12000L, "beta" -> 12000L))

    val (exact, mFull) = graft.engine.Metrics.measure(spark) {
      val toks = graft.engine.Tables(spark, dir, "documents")
        .select(explode(split($"text", " ")).as("tok"))
      val total = toks.count()
      toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" * 30 > total).orderBy($"cnt".desc, $"tok")
        .as[(String, Long)].collect().toSeq
    }
    assert(exact == got)
    assert(mSketch.shuffleWriteBytes * 5 < mFull.shuffleWriteBytes,
      s"sketch path must shuffle a small fraction of the exhaustive " +
        s"group-by (got ${mSketch.shuffleWriteBytes} vs " +
        s"${mFull.shuffleWriteBytes} bytes)")
  }

  test("decontamination report measures per-eval-doc leaked-gram fraction") {
    // eval membership is md5(doc_id) starting 'f' — pick ids by the
    // same rule the operator uses
    def md5head(id: Long): Char = java.security.MessageDigest
      .getInstance("MD5").digest(id.toString.getBytes)
      .map(b => f"$b%02x").mkString.head
    val ids = (0L to 400L).toSeq
    val evalIds = ids.filter(md5head(_) == 'f')
    val trainIds = ids.filterNot(md5head(_) == 'f')
    assert(evalIds.size >= 3 && trainIds.size >= 1)
    val Seq(e1, e2, e3) = evalIds.take(3)
    val dir = java.nio.file.Files.createTempDirectory("graft_dreport").toString
    Seq(
      (trainIds.head, "a b c d e f g"), // train: grams abcde bcdef cdefg
      (e1, "a b c d e f g"), // fully leaked -> 1.0
      (e2, "p q r s t u"), // disjoint -> 0.0
      (e3, "a b c d e z") // one of two grams leaked -> 0.5
    ).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Llm.decontamReport(spark, dir)
      .select($"doc_id", $"n_grams", $"n_leaked", $"overlap")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((e1, 3L, 3L, 1.0), (e2, 2L, 0L, 0.0),
      (e3, 2L, 1L, 0.5)).sortBy(_._1))
  }

  test("source stats partition the corpus exactly") {
    val n = graft.engine.Tables(spark, sfSmoke, "documents").count()
    val rows = Llm.sourceStats(spark, sfSmoke).collect()
    assert(rows.map(_.getLong(1)).sum == n, "per-source doc counts must tile")
    rows.foreach(r => assert(r.getLong(2) >= 1L && r.getLong(4) > 0L))
  }

  test("int8 quantization codes stay in range and span it") {
    val rows = Llm.embedQuantize(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == 64, "embedding fixtures are 64-dim")
      assert(r.getInt(3) == 0, "the min element must map to code 0")
      // the max element maps to floor(255.0 - eps): 254 or 255
      assert(r.getInt(4) >= 254 && r.getInt(4) <= 255)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 255L * 64)
    }
  }

  test("approximate ANN paths recall the brute-force top-10") {
    val exact = Llm.cosineTopk(spark, sfSmoke).collect().map(_.getLong(0)).toSet
    val ivf = Llm.annIvf(spark, sfSmoke).collect().map(_.getLong(0)).toSet
    val lsh = Llm.annLsh(spark, sfSmoke).collect().map(_.getLong(0)).toSet
    // approximate methods trade recall for sublinear scan cost; the
    // floor pins that the trade stays reasonable instead of silently
    // degrading to noise. The floor is for ONE fixed natural query, so
    // it carries per-query variance: the round-13 QuantizerProbe-recall run measured
    // mean top-10 recall over 50 random queries at 62-63% (sf0.001)
    // and 66-68% (sf0.1) for both init modes of the quantizer, with
    // single queries ranging 4-9. Noise would read ~nprobe/k ≈ 26%
    // (2-3/10); the STRONG gate is ApproxRecallSpec's planted-neighbor
    // >= 9/10, which is init-insensitive by construction.
    assert((exact & ivf).size >= 5, s"IVF recall ${(exact & ivf).size}/10")
    assert((exact & lsh).size >= 6, s"LSH recall ${(exact & lsh).size}/10")
  }

  test("decontamination covers every train doc and flags the planted dup") {
    val rows = Llm.decontaminate(spark, sfSmoke).collect()
    val evalIds = graft.engine.Tables(spark, sfSmoke, "documents")
      .filter(org.apache.spark.sql.functions.expr(
        "substring(md5(CAST(doc_id AS STRING)), 1, 1) = 'f'"))
      .count()
    val total = graft.engine.Tables(spark, sfSmoke, "documents").count()
    assert(rows.length == total - evalIds,
      "one row per train doc, eval docs excluded")
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L)
      assert(r.getBoolean(2) == (r.getLong(1) > 0L))
    }
    // the EXACT contaminated set, recomputed driver-side: train docs
    // sharing any 5-gram with any eval doc (eval = md5 first hex
    // char 'f'). An exists(contaminated) alone passes on any nonzero
    // subset of the truth.
    val texts = graft.engine.Tables(spark, sfSmoke, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def isEval(id: Long): Boolean =
      ((java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))(0) >> 4) & 0xF) == 15
    def grams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val evalGrams = texts.filter(d => isEval(d._1)).flatMap(d => grams(d._2)).toSet
    val expectedBad = texts.filterNot(d => isEval(d._1))
      .filter(d => grams(d._2).exists(evalGrams)).map(_._1).toSet
    assert(expectedBad.nonEmpty, "fixture must plant a cross-boundary leak")
    assert(rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSet == expectedBad,
      s"contaminated set diverged from the recompute (${expectedBad.size})")
  }

  test("corpus mix keeps exactly the quota'd hash buckets per source") {
    val rows = Llm.corpusMix(spark, sfSmoke).collect()
    assert(rows.nonEmpty)
    // EXACT per-source kept counts, recomputed driver-side from the
    // same md5-bucket rule (a wrong salt or off-by-one keeps a
    // different population while nKept < nDocs still holds)
    def bucket(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8"))
      (h(0) >> 4) & 0xF // first hex char's value
    }
    val docs = graft.engine.Tables(spark, sfSmoke, "documents")
      .select($"source", $"doc_id", $"n_chars".cast("long"))
      .as[(String, Long, Long)].collect()
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val quota = ("""\d+""".r.findFirstIn(src).get.toInt % 4 + 1) * 4
      val kept = ds.filter(d => bucket(d._2) < quota)
      src -> ((ds.size.toLong, kept.size.toLong, kept.map(_._3).sum))
    }
    assert(rows.map(_.getString(0)).toSet == expect.keySet)
    rows.foreach { r =>
      val (src, nDocs, nKept, chars) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert((nDocs, nKept, chars) == expect(src),
        s"$src: got ($nDocs,$nKept,$chars) want ${expect(src)}")
    }
  }

  test("chunk dedup keeps first occurrences only and rebuilds clean text") {
    val rows = Llm.chunkDedup(spark, sfSmoke).collect()
    val docs = graft.engine.Tables(spark, sfSmoke, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    // kept chunks across the corpus tile the distinct chunk space
    import org.apache.spark.sql.functions._
    val distinctChunks = graft.engine.Tables(spark, sfSmoke, "documents")
      .withColumn("t", expr("split(text, ' ')"))
      .select(explode(expr(
        """transform(sequence(1, (size(t) + 9) div 10),
             i -> concat_ws(' ', slice(t, (i - 1) * 10 + 1, 10)))""")).as("c"))
      .distinct().count()
    assert(rows.map(_.getLong(2)).sum == distinctChunks)
    rows.foreach { r =>
      val (id, nChunks, nKept, clean) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      assert(nKept <= nChunks && nChunks >= 1)
      if (nKept == nChunks)
        assert(clean == docs(id), s"doc $id untouched => text survives verbatim")
    }
  }

  test("map-only banded signatures match the grouped batch form bitwise") {
    // the streaming ingest gate signs documents with the map-only
    // form; it must produce EXACTLY the band keys the persisted
    // snapshot was built with or the stream-vs-snapshot join is
    // silently meaningless
    import org.apache.spark.sql.functions.col
    val docs = graft.engine.Tables(spark, sfSmoke, "documents")
      .select(col("doc_id"), col("text"))
    val sh = Llm.shingleDocs(docs)
    val grouped = Llm.bandedSignatures(sh)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val mapOnly = Llm.mapOnlyBandedSignatures(sh)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(grouped.nonEmpty)
    assert(grouped == mapOnly)
  }

  // independent reference: classic Sennrich loop over the weighted
  // vocab, greedy leftmost non-overlapping apply, ties broken
  // (count desc, left asc, right asc) — written against the paper,
  // not against the op's code. Symbol/order contract matches the
  // op's: CODE POINTS (not UTF-16 chars — toCharArray would halve
  // surrogate pairs) compared in code-point order (Spark's binary
  // UTF-8 order; plain String.compareTo is code-UNIT order, which
  // diverges for supplementary-plane text). Shared by the sequential,
  // strict-batched, and fast-batched equality tests.
  private def cpOrder(x: String, y: String): Boolean = {
    val c = java.util.Arrays.compareUnsigned(
      x.getBytes("UTF-8"), y.getBytes("UTF-8"))
    c < 0
  }
  private def referenceBpe(words: Seq[(String, Long)], rounds: Int)
      : Seq[(String, String, String, Long)] = {
      var vocab = words.map { case (w, n) =>
        (w.codePoints().toArray.toSeq
          .map(cp => new String(Character.toChars(cp))), n)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Long)]
      var r = 0
      var done = false
      while (r < rounds && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (s, n) =>
          s.zip(s.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + n)
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), cnt) = counts.toSeq.sortWith {
            case (((x1, y1), c1), ((x2, y2), c2)) =>
              if (c1 != c2) c1 > c2
              else if (x1 != x2) cpOrder(x1, x2)
              else cpOrder(y1, y2)
          }.head
          out += ((a, b, a + b, cnt))
          vocab = vocab.map { case (s, n) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            s.foreach { x =>
              if (acc.nonEmpty && acc.last == a && x == b) {
                acc.remove(acc.size - 1); acc += (a + b)
              } else acc += x
            }
            (acc.toSeq, n)
          }
          r += 1
        }
      }
      out.toSeq
  }

  private def fixtureWords(dir: String): Seq[(String, Long)] =
    graft.engine.Tables(spark, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").count()
      .as[(String, Long)].collect().toSeq

  test("distributed BPE training matches a single-threaded reference merge-for-merge") {
    val words = fixtureWords(sfSmoke)
    val expected = referenceBpe(words, rounds = 8)
    val got = Llm.bpeTrainMerges(spark, sfSmoke, rounds = 8)
      .select($"left", $"right", $"merged", $"n")
      .as[(String, String, String, Long)].collect().toSeq
    assert(got == expected,
      s"merge tables diverge:\n got=$got\n exp=$expected")
    assert(got.size == 8, "fixture vocabulary supports 8 merges")
    // merged counts are monotone non-increasing only in the greedy
    // myth — but every count must be positive and every merged token
    // the concatenation of its parts
    got.foreach { case (a, b, m, n) => assert(m == a + b && n > 0) }

    // NON-ASCII contract: supplementary-plane text (surrogate pairs)
    // must split into whole code points and tie-break in code-point
    // order on BOTH sides — the divergence a UTF-16 reference (chars
    // + String.compareTo) would hide on ASCII fixtures
    val uniDir = java.nio.file.Files.createTempDirectory("graft_bpe_uni").toString
    val uniDocs = Seq(
      (0L, "😀😀 😀"),
      (1L, "😀 😀 😀"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("xx")).withColumn("source", lit("s0"))
      .withColumn("n_chars", lit(10L))
    uniDocs.write.mode("overwrite").parquet(s"$uniDir/documents.parquet")
    val uniWords = uniDocs
      .select(explode(split($"text", " ")).as("w")).filter($"w" =!= "")
      .groupBy($"w").count().as[(String, Long)].collect().toSeq
    val uniExpected = referenceBpe(uniWords, rounds = 3)
    val uniGot = Llm.bpeTrainMerges(spark, uniDir, rounds = 3)
      .select($"left", $"right", $"merged", $"n")
      .as[(String, String, String, Long)].collect().toSeq
    assert(uniGot == uniExpected,
      s"non-ASCII merge tables diverge:\n got=$uniGot\n exp=$uniExpected")
    // every learned symbol is whole code points, never a lone surrogate
    uniGot.foreach { case (a, b, _, _) =>
      Seq(a, b).foreach(s => assert(!s.exists(Character.isSurrogate) ||
        s.codePoints().toArray.forall(Character.isValidCodePoint),
        s"symbol '$s' carries a torn surrogate"))
    }
    graft.util.Fs.deleteRecursively(uniDir)
  }

  test("strict-batched BPE replays the sequential trace merge-for-merge") {
    val expected = referenceBpe(fixtureWords(sfSmoke), rounds = 8)
    val got = Llm.bpeTrainMergesBatched(spark, sfSmoke, target = 8,
        strictPrefix = true)
      .select($"left", $"right", $"merged", $"n")
      .as[(String, String, String, Long)].collect().toSeq
    assert(got == expected,
      s"strict batching must equal sequential:\n got=$got\n exp=$expected")
  }

  test("incremental (delta-maintained) BPE equals the recount regime merge-for-merge") {
    // the round-8 sliver-delta pair table must be trace-IDENTICAL to
    // the full recount in BOTH modes — forced regimes on the same
    // fixture (auto-dispatch picks recount at fixture vocab size)
    for (strict <- Seq(true, false)) {
      val rec = Llm.bpeTrainMergesBatched(spark, sfSmoke, target = 24,
          strictPrefix = strict, incremental = Some(false))
        .select($"rank", $"round", $"left", $"right", $"merged", $"n")
        .as[(Int, Int, String, String, String, Long)].collect().toSeq
      val inc = Llm.bpeTrainMergesBatched(spark, sfSmoke, target = 24,
          strictPrefix = strict, incremental = Some(true))
        .select($"rank", $"round", $"left", $"right", $"merged", $"n")
        .as[(Int, Int, String, String, String, Long)].collect().toSeq
      assert(rec.nonEmpty, "fixture must learn merges")
      assert(inc == rec,
        s"strict=$strict: delta-maintained counts must replay the " +
          s"recount trace:\n inc=${inc.take(6)}...\n rec=${rec.take(6)}...")
    }
  }

  test("both BPE regimes break count ties in code-point order on mixed-plane text") {
    // U+FF48 sorts BELOW U+1F600 by code point (Spark's binary order)
    // but ABOVE it by UTF-16 code unit (String.compareTo): a tied count
    // between the two pairs must merge the fullwidth pair first
    val (h, e) = ("\uFF48", new String(Character.toChars(0x1F600)))
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_planes").toString
    Seq((0L, s"$e$e $h$h"), (1L, s"$h$h $e$e $h$e"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("xx")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val words = fixtureWords(dir)
    for (strict <- Seq(true, false)) {
      val runs = Seq(Some(false), Some(true)).map(inc =>
        Llm.bpeTrainMergesBatched(spark, dir, target = 3,
            strictPrefix = strict, incremental = inc)
          .select($"left", $"right", $"merged", $"n")
          .as[(String, String, String, Long)].collect().toSeq)
      assert(runs(0) == runs(1), s"strict=$strict: regimes diverge: $runs")
      assert(runs(0).head._3 == h + h, s"strict=$strict: ${runs(0)}")
      if (strict) assert(runs(0) == referenceBpe(words, rounds = 3))
    }
    graft.util.Fs.deleteRecursively(dir)
  }

  test("fast-batched BPE: 256 merges within 20 rounds, exact on an interference-free corpus") {
    // 256 planted 2-symbol words over DISJOINT alphabets with strictly
    // decreasing counts: every word fully merges in one step, no merge
    // creates or destroys any other pair, so the sequential trace IS
    // count order and the practice-mode batcher must reproduce it
    // exactly — the regime where batched == sequential is well-defined
    val words = (0 until 256).map { i =>
      val a = new String(Character.toChars(0x100 + 2 * i))
      val b = new String(Character.toChars(0x100 + 2 * i + 1))
      (a + b, 2000L - i)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_fast").toString
    words.zipWithIndex.map { case ((w, n), id) =>
      (id.toLong, (w + " ") * n.toInt) }
      .toDF("doc_id", "text")
      .withColumn("lang", lit("xx")).withColumn("source", lit("s0"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Llm.bpeTrainMergesBatched(spark, dir, target = 256,
        strictPrefix = false)
      .select($"round", $"left", $"right", $"merged", $"n")
      .as[(Int, String, String, String, Long)].collect().toSeq
    val expected = referenceBpe(words, rounds = 256)
    assert(got.map(r => (r._2, r._3, r._4, r._5)) == expected,
      "fast batching must equal sequential on an interference-free corpus")
    assert(got.size == 256, s"full 256-merge vocab, got ${got.size}")
    val rounds = got.map(_._1).max + 1
    assert(rounds <= 20, s"256 merges must fit 20 rounds, took $rounds")
    graft.util.Fs.deleteRecursively(dir)
  }

  test("fast-batched BPE on real text: bounded divergence from the sequential trace") {
    // natural text has real merge chains (th+e -> the outranks the
    // next original candidate), so practice-mode batching diverges
    // from sequential BY DESIGN; the divergence must stay bounded —
    // the learned merge SET overlaps the sequential vocabulary — and
    // the round count must show real batching, not 1-merge rounds
    val sfMid = "/root/testdata/sf0.01"
    val words = fixtureWords(sfMid)
    val fast = Llm.bpeTrainMergesBatched(spark, sfMid, target = 256,
        strictPrefix = false)
      .select($"round", $"left", $"right")
      .as[(Int, String, String)].collect().toSeq
    val seq = referenceBpe(words, rounds = fast.size)
    // the metric that matters for a tokenizer: corpus compression.
    // Apply each learned merge list greedily and compare total token
    // counts — the practice-mode vocab must compress within 5% of the
    // sequential one (merge-ORDER drift compounds on this tiny
    // 89-merge-ceiling vocab, so raw set overlap is the wrong gate;
    // a catastrophic-drift floor still guards it)
    def tokensAfter(merges: Seq[(String, String)]): Long = {
      var vocab = words.map { case (w, n) =>
        (w.codePoints().toArray.toSeq
          .map(cp => new String(Character.toChars(cp))), n)
      }
      merges.foreach { case (a, b) =>
        vocab = vocab.map { case (s, n) =>
          val acc = scala.collection.mutable.ArrayBuffer.empty[String]
          s.foreach { x =>
            if (acc.nonEmpty && acc.last == a && x == b) {
              acc.remove(acc.size - 1); acc += (a + b)
            } else acc += x
          }
          (acc.toSeq, n)
        }
      }
      vocab.map { case (s, n) => s.size * n }.sum
    }
    val fastTokens = tokensAfter(fast.map(r => (r._2, r._3)))
    val seqTokens = tokensAfter(seq.map(r => (r._1, r._2)))
    assert(fastTokens <= (seqTokens * 1.05).toLong,
      s"fast vocab compresses $fastTokens vs sequential $seqTokens")
    val fastSet = fast.map(r => (r._2, r._3)).toSet
    val seqSet = seq.map(r => (r._1, r._2)).toSet
    val overlap = (fastSet & seqSet).size.toDouble / seqSet.size
    assert(overlap >= 0.5,
      s"fast-batched merge set drifted catastrophically: overlap $overlap")
    val rounds = fast.map(_._1).max + 1
    assert(rounds <= 20, s"vocab-exhaustion fixture must batch: $rounds rounds")
    assert(fast.map(_._1).distinct.size < fast.size,
      "at least one round must carry more than one merge")
  }

  test("BPE apply tokenizes with the trained merges, matching a reference apply") {
    // the entry now serves from the committed artifact's CURRENT
    // version — rebuild fresh so a sibling test's retrain can't leak in
    Llm.invalidateBpeTableCache()
    val merges = Llm.bpeTrainMergesBatched(spark, sfSmoke, 64,
        strictPrefix = false)
      .orderBy($"rank").select($"left", $"right")
      .as[(String, String)].collect().toSeq
    def applyWord(w: String): Int = {
      var s: Seq[String] = w.codePoints().toArray.toSeq
        .map(cp => new String(Character.toChars(cp)))
      merges.foreach { case (a, b) =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        s.foreach { x =>
          if (acc.nonEmpty && acc.last == a && x == b) {
            acc.remove(acc.size - 1); acc += (a + b)
          } else acc += x
        }
        s = acc.toSeq
      }
      s.size
    }
    val docs = graft.engine.Tables(spark, sfSmoke, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val expected = docs.map { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      (id, ws.length.toLong, ws.map(applyWord).map(_.toLong).sum)
    }.filter(_._2 > 0).sortBy(_._1)
    val got = Llm.bpeApply(spark, sfSmoke)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected,
      s"apply diverges: got ${got.take(3)} exp ${expected.take(3)}")
    // merging strictly compresses: token count in [n_words, total chars]
    got.foreach { case (_, nw, nb) => assert(nb >= nw) }
  }

  test("committed tokenizer artifact: a pinned version reproduces apply bit-for-bit across a retrain") {
    import graft.engine.VersionedTable
    Llm.invalidateBpeTableCache()
    val table = Llm.bpeCommittedMerges(spark, sfSmoke) // trains 64, commits v0
    assert(VersionedTable.currentVersion(spark, table).contains(0L))
    val v0 = Llm.bpeApplyCommitted(spark, sfSmoke, Some(0L))
      .as[(Long, Long, Long)].collect().toSeq
    // the pinned STREAMING column (merge literal, no join) computes
    // the same per-doc counts as the batch apply at the same version
    def pinnedCounts(): Map[Long, Long] =
      graft.engine.Tables(spark, sfSmoke, "documents")
        .select($"doc_id",
          Llm.bpeTokenCountPinned(spark, table, Some(0L))
            .cast("long").as("n"))
        .as[(Long, Long)].collect().toMap
    val streamCol0 = pinnedCounts()
    v0.foreach { case (id, _, nb) =>
      assert(streamCol0(id) == nb,
        s"pinned column diverges from batch apply on doc $id")
    }
    // RETRAIN with a smaller budget: commits v1 of the SAME table
    assert(Llm.bpeRetrain(spark, sfSmoke, target = 16) == 1L)
    // a dataloader pinned at v0 is untouched by the publish
    val pinnedAfter = Llm.bpeApplyCommitted(spark, sfSmoke, Some(0L))
      .as[(Long, Long, Long)].collect().toSeq
    assert(pinnedAfter == v0, "pinned version must survive a retrain")
    assert(pinnedCounts() == streamCol0,
      "the pinned streaming column must survive a retrain")
    // ...while the CURRENT version genuinely moved: fewer merges
    // compress less, so the corpus token total must rise
    val fresh = Llm.bpeApplyCommitted(spark, sfSmoke)
      .as[(Long, Long, Long)].collect().toSeq
    assert(fresh.map(_._3).sum > v0.map(_._3).sum,
      "the 16-merge retrain must tokenize longer than 64 merges")
    Llm.invalidateBpeTableCache()
  }

  test("pinned tokenizer column tokenizes real micro-batches, stable across an in-flight retrain") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Llm.invalidateBpeTableCache()
    val table = Llm.bpeCommittedMerges(spark, sfSmoke)
    // pin AT STREAM CONSTRUCTION (current = v0)
    val tokCol = Llm.bpeTokenCountPinned(spark, table, None)
    val mem = MemoryStream[(Long, String)]
    val out = mem.toDF().toDF("doc_id", "text")
      .select($"doc_id", tokCol.cast("long").as("n_bpe_tok"))
    val q = out.writeStream.format("memory").queryName("bpe_pin")
      .outputMode("append").start()
    val docs = graft.engine.Tables(spark, sfSmoke, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().take(20)
    mem.addData(docs.take(10).toIndexedSeq)
    q.processAllAvailable()
    // retrain WHILE THE STREAM RUNS: the artifact's current version
    // moves under the live query...
    Llm.bpeRetrain(spark, sfSmoke, target = 16)
    mem.addData(docs.drop(10).toIndexedSeq)
    q.processAllAvailable(); q.stop()
    val got = spark.table("bpe_pin").as[(Long, Long)].collect().toMap
    // ...but every batch — before AND after the retrain — tokenized
    // with the construction-time tokenizer: compare against the v0
    // batch apply
    val expect = Llm.bpeApplyCommitted(spark, sfSmoke, Some(0L))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    docs.foreach { case (id, text) =>
      if (text.split(" ").exists(_.nonEmpty))
        assert(got(id) == expect(id),
          s"micro-batch tokenization moved with the retrain on doc $id")
    }
    spark.sql("DROP TABLE IF EXISTS bpe_pin")
    Llm.invalidateBpeTableCache()
  }

  test("weighted sampling selects exactly the Efraimidis-Spirakis top-K per stratum") {
    val got = Llm.sampleWeighted(spark, sfSmoke)
      .select($"lang", $"doc_id").as[(String, Long)].collect().toSet
    // independent recompute of the priority formula on the raw table
    val docs = graft.engine.Tables(spark, sfSmoke, "documents")
      .select($"lang", $"doc_id", $"n_chars").as[(String, Long, Long)]
      .collect()
    def md5hex8(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      rows.toSeq.map { case (_, id, n) =>
        val u = (md5hex8(id).toDouble + 1.0) / 4294967296.0
        val p = BigDecimal(math.log(u) / n)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, p)
      }.sortBy { case (id, p) => (-p, id) }.take(20)
        .map { case (id, _) => (lang, id) }
    }.toSet
    assert(got == expected, s"diff: ${got.diff(expected)} / ${expected.diff(got)}")
    // weighting bites: sampled docs skew long relative to the corpus
    val sampledChars = docs.filter(d => got.contains((d._1, d._2))).map(_._3)
    assert(sampledChars.sum.toDouble / sampledChars.size >
      docs.map(_._3).sum.toDouble / docs.size,
      "length-weighted sample must overrepresent long documents")
  }

  test("multimodal decode recovers header fields from real binary headers") {
    val n = graft.engine.Tables(spark, sfSmoke, "documents").count()
    val got = Llm.mmBinaryMeta(spark, sfSmoke).collect()
    assert(got.length == n)
    // every doc decodes to a known container — a failed magic-number
    // match would surface as 'unknown'
    assert(got.forall(r => Set("image/png", "image/bmp", "audio/wav")
      .contains(r.getString(2))))
    got.foreach { r =>
      val (id, fmt, w, h) = (r.getLong(0), r.getString(2), r.getInt(3), r.getInt(4))
      (id % 3) match {
        case 0 => assert(fmt == "image/png" && h == (id % 480) + 1)
        case 1 => assert(fmt == "image/bmp" && h == (id % 480) + 1)
        case _ => assert(fmt == "audio/wav" && w % 4000 == 0 && (h == 1 || h == 2))
      }
    }
  }

  test("PQ codes are well-formed, deterministic, and duplicate-consistent") {
    val (cb, m, ks, sub, codes) = Llm.pqCodes(spark, sfSmoke)
    val dim = m * sub
    assert(cb.length == m * ks * sub)
    val rows = codes.select(col("vec_id"), col("codes"),
        size(col("unit")).as("d")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(2) == dim)
      val cs = r.getAs[scala.collection.Seq[Int]](1)
      assert(cs.length == m, s"vec ${r.getLong(0)}: ${cs.length} codes")
      assert(cs.forall(c => c >= 0 && c < ks))
    }
    // the codebook fit is a pure function of the sample: refitting on
    // the same input must reproduce the flat array bitwise
    val sample = rows.take(64).map(_ =>
      Array.tabulate(dim)(i => math.sin(i + 1.0)))
    val f1 = Llm.fitPqCodebooks(sample, m, ks, 12, 42L)
    val f2 = Llm.fitPqCodebooks(sample, m, ks, 12, 42L)
    assert(f1.sameElements(f2), "codebook fit must be deterministic")
    // byte-identical vectors must encode to byte-identical codes
    // (the property every dedup-over-codes consumer relies on):
    // vec 0 duplicated through the SAME encode expression
    val dup = codes.filter(col("vec_id") === 0)
      .union(codes.filter(col("vec_id") === 0))
      .select(col("codes")).collect().map(_.getAs[scala.collection.Seq[Int]](0))
    assert(dup.length == 2 && dup(0) == dup(1))
    Llm.invalidatePqCache()
    Llm.invalidateCellCache()
  }

  test("shard assignment: bucketed order == bare global order; shards full and stable") {
    val docs = graft.engine.Tables(spark, sfSmoke, "documents")
      .select(col("doc_id"))
    val got = Llm.shardAssignOn(docs, 7, "s1")
      .as[(Long, Long, Int)].collect().toSeq
    // the de-concentration pin: the 256-bucket concatenated order
    // must equal the single-ordering global row number exactly
    val bare = docs
      .withColumn("k", md5(concat(col("doc_id").cast("string"), lit("-s1"))))
      .orderBy(col("k"), col("doc_id"))
      .select(col("doc_id")).as[Long].collect().toSeq
      .zipWithIndex
      .map { case (id, i) => (id, (i / 7).toLong, i % 7) }
    assert(got == bare, s"bucketed order diverged from the global order")
    // every doc exactly once; every shard full except possibly the last
    assert(got.map(_._1).distinct.size == got.size)
    val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    val last = sizes.keys.max
    sizes.foreach { case (s, n) =>
      if (s < last) assert(n == 7, s"shard $s not full: $n")
    }
    // permutation is seed-keyed: a different seed reshuffles
    val other = Llm.shardAssignOn(docs, 7, "s2")
      .as[(Long, Long, Int)].collect().toSeq
    assert(other != got, "different seeds must permute differently")
    // and input partitioning is irrelevant to the assignment
    val reparted = Llm.shardAssignOn(docs.repartition(13), 7, "s1")
      .as[(Long, Long, Int)].collect().toSeq
    assert(reparted == got, "assignment must not depend on input layout")
  }

  test("shard write face: partitioned layout prunes a single-shard read to its own directory") {
    Llm.invalidateShardTableCache()
    val table = Llm.shardWrittenTable(spark, sfSmoke)
    val one = graft.engine.VersionedTable.read(spark, table)
      .filter(col("shard") === 3)
    // planning-time: the shard predicate lands in PartitionFilters
    // (directory pruning), never in the data filters
    val p = one.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("shard"),
      "shard predicate must prune partitions:\n" + p.take(600))
    // runtime: every file actually read lives under shard=3/
    val files = one.select(input_file_name().as("f"))
      .distinct().as[String].collect()
    assert(files.nonEmpty && files.forall(_.contains("shard=3")),
      s"single-shard read must touch only its directory: ${files.take(3).mkString(",")}")
    // ...and holds exactly that shard's full 64 rows
    assert(one.count() == 64)
    // the REAL resume predicate (shard > cursor OR (shard == cursor
    // AND pos >= ...)) must prune too — the perf contract the
    // dataloader actually runs on. The cursor literal is typed to the
    // partition column itself, so pruning does not depend on the
    // UnwrapCastInBinaryComparison rewrite surviving a Spark upgrade.
    val resume = Llm.shardResume(spark, table, 2L, 17)
    val rp = resume.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(rp)
      .getOrElse(fail("no PartitionFilters in resume plan:\n" + rp.take(600)))
    assert(pf.contains("shard"),
      "resume predicate must land in PartitionFilters: " + pf)
    // the output projection still widens shard to LONG; the PARTITION
    // FILTER itself must stay cast-free (same-typed literal), so the
    // pruning never depends on the unwrap-cast rewrite
    assert(!pf.contains("cast("),
      "partition filter must compare shard against a same-typed " +
        "literal, not rely on the unwrap-cast rewrite: " + pf)
    val rFiles = Llm.shardResume(spark, table, 2L, 17, ordered = false)
      .select(input_file_name().as("f"))
      .distinct().as[String].collect()
    val rShards = rFiles.map(f =>
      "shard=(\\d+)".r.findFirstMatchIn(f).get.group(1).toInt).toSet
    assert(rFiles.nonEmpty && rShards.forall(_ >= 2),
      s"resume read must open no directory before the cursor: " +
        rShards.toSeq.sorted.mkString(","))
    // an out-of-range cursor against the INT-typed table is rejected,
    // not an empty scan-everything read
    intercept[IllegalArgumentException] {
      Llm.shardResume(spark, table, Int.MaxValue.toLong + 1, 0)
    }
  }

  test("shard resume: the (shard, pos) cursor is stable across a rebuild and a maintenance commit") {
    import graft.engine.VersionedTable
    Llm.invalidateShardTableCache()
    val table = Llm.shardWrittenTable(spark, sfSmoke)
    def cursorRows(t: String) = Llm.shardResume(spark, t, 2L, 17)
      .select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Long, Int)].collect().toSeq
    val first = cursorRows(table)
    // the dataloader contract: resume skips exactly the 2*64+17 rows
    // before the cursor and replays the rest in permutation order
    val full = Llm.shard(spark, sfSmoke).as[(Long, Long, Int)]
      .collect().toSeq
    assert(first == full.drop(2 * 64 + 17),
      "resume must equal the full permutation minus the prefix")
    // a REBUILD (new temp table, fresh write) reproduces the cursor:
    // the permutation is a pure function of (doc_id, seed), never of
    // write order or layout
    Llm.invalidateShardTableCache()
    val rebuilt = Llm.shardWrittenTable(spark, sfSmoke)
    assert(rebuilt != table, "invalidate must force a fresh write")
    assert(cursorRows(rebuilt) == first,
      "a re-run of the writer must hand the dataloader the same rows")
    // a maintenance commit (read-back re-commit -> new version, the
    // nightly compact/re-publish motion) must not move the cursor
    VersionedTable.commit(VersionedTable.read(spark, rebuilt), rebuilt)
    assert(VersionedTable.currentVersion(spark, rebuilt).contains(1L))
    assert(cursorRows(rebuilt) == first,
      "a new table version must not move (shard, pos)")
    // a CONTENT-changing re-publish (here: a GDPR delete inside shard
    // 3) commits v2 — the current resume reflects it, while a
    // dataloader PINNED at v1 keeps reading exactly the snapshot its
    // epoch started on (time travel on the data, the tokenizer-pin
    // story applied to the corpus itself)
    val victim = first.find(_._2 == 3L).get._1
    VersionedTable.deleteWhere(spark, rebuilt, col("doc_id") === victim)
    val current = Llm.shardResume(spark, rebuilt, 2L, 17)
      .select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(current == first.filterNot(_._1 == victim),
      "the live resume must reflect the delete")
    val pinned = Llm.shardResume(spark, rebuilt, 2L, 17, Some(1L))
      .select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Long, Int)].collect().toSeq
    assert(pinned == first,
      "a version-pinned resume must read its epoch's snapshot unchanged")
    Llm.invalidateShardTableCache()
  }

  test("phash class face carries EXACTLY the expansion face's pairs: " +
      "multiplicities sum to its row count, and every expanded pair " +
      "maps into a qualified class row") {
    val expanded = Llm.mmPhash(spark, sfSmoke)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .as[(Long, Long, Int)].collect()
    val classRows = Llm.mmPhashClasses(spark, sfSmoke)
      .select(col("rep_a"), col("rep_b"), col("hamming"), col("pairs"))
      .as[(Long, Long, Int, Long)].collect()
    assert(classRows.map(_._4).sum == expanded.length.toLong,
      s"class multiplicities ${classRows.map(_._4).sum} != " +
        s"${expanded.length} expanded pairs")
    // hamming-0 budget: within-class C(sz,2) rows of the expansion
    // face equal the rep_a=rep_b class rows' multiplicities
    val zExp = expanded.count(_._3 == 0).toLong
    val zCls = classRows.filter(r => r._1 == r._2).map(_._4).sum
    assert(zCls == zExp, s"within-class pairs $zCls != $zExp")
    // the class table must be the SMALL face on a collapsing corpus
    assert(classRows.length < expanded.length,
      s"${classRows.length} class rows vs ${expanded.length} pairs")
  }
}
