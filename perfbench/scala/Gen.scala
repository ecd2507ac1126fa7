package perfbench

import java.util.{Locale, SplittableRandom}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every file is a pure function of the seed
  * (and of the unit index for per-unit inputs), so one seed always
  * regenerates the same inputs: text byte for byte, parquet data pages
  * byte for byte (footers list encodings in JVM hash order). The engine
  * only ever reads the files written here. */
object Gen {

  /** Independent stream for (seed, stream, index): SplittableRandom's
    * mixing keeps neighbouring seeds uncorrelated. */
  def rng(seed: Long, stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(new SplittableRandom(seed * 0x9E3779B97F4A7C15L +
      stream * 0xBF58476D1CE4E5B9L + index).nextLong())

  private def fmt(d: Double, decimals: Int): String =
    String.format(Locale.ROOT, s"%.${decimals}f", Double.box(d))

  /** Write `rows` as ONE parquet file at `path` (a fixed file name, not
    * a part-file directory, so regenerated inputs compare file by
    * file). */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): Unit = {
    val tmp = path + ".tmp"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(path))
    graft.util.Fs.deleteRecursively(tmp)
  }

  // ---------------------------------------------------------------- ingest

  val FleetSize = 20000
  val BatchLines = 10000

  private val Countries = Array("United States", "Germany", "United Kingdom",
    "France", "China", "Ireland", "Spain", "Netherlands", "Canada", "Brazil",
    "Turkey", "Japan", "India", "Switzerland", "Italy", "Australia",
    "Mexico", "Russian Federation", "Republic of Korea",
    "United Arab Emirates", "Austria", "Poland", "Sweden", "Norway",
    "Portugal")
  private val Models = Array("A320", "A321", "B738", "B77W", "E190",
    "CRJ9", "A359", "B789", "AT76", "C172", null)
  private val Operators = Array("Lufthansa", "Ryanair", "Delta", "United",
    "easyJet", "Air France", "KLM", "Emirates", "Private", null)
  private val Makers = Array("Airbus", "Boeing", "Embraer", "Bombardier",
    "ATR", "Cessna", null)
  private val Categories = Array("Large", "Heavy", "Small", "Light",
    "Rotorcraft", null)

  /** Latest expected serving-table row for one aircraft, after
    * parseStates + normalize + enrich (all strings already trimmed and
    * lower-cased where the pipeline does so). */
  final case class State(icao24: String, callsign: String, country: String,
      timePosition: java.lang.Long, lastContact: Long,
      lon: java.lang.Double, lat: java.lang.Double, baro: java.lang.Double,
      onGround: Boolean, velocity: Double, track: Double, vrate: Double,
      geo: java.lang.Double, squawk: String, spi: Boolean, posSource: Int,
      category: java.lang.Integer, model: String, operator: String,
      maker: String, catDesc: String)

  /** The fixed fleet: distinct icao24 keys, a skewed report rate per
    * aircraft, and the aircraft-metadata dimension (80% coverage; raw
    * keys carry case and whitespace variants the pipeline normalizes). */
  final class Fleet(seed: Long) {
    val keys: Array[String] = {
      val r = rng(seed, 1)
      val seen = new java.util.LinkedHashSet[String]()
      while (seen.size < FleetSize) seen.add(f"${r.nextInt(1 << 24)}%06x")
      seen.toArray(new Array[String](0))
    }
    /** Zipf-like weights over a seeded rank order. */
    val weights: Array[Double] = {
      val r = rng(seed, 2)
      val ranks = (0 until FleetSize).toArray
      for (i <- ranks.indices.reverse) {
        val j = r.nextInt(i + 1); val t = ranks(i); ranks(i) = ranks(j); ranks(j) = t
      }
      ranks.map(k => 1.0 / math.pow(k + 1.0, 0.8))
    }
    val countryOf: Array[String] = {
      val r = rng(seed, 3)
      keys.map(_ => Countries(math.min(Countries.length - 1,
        (-math.log(1 - r.nextDouble()) * 5).toInt)))
    }
    /** dim attributes per fleet index; None = aircraft absent from dim */
    val dim: Array[Option[Array[String]]] = {
      val r = rng(seed, 4)
      keys.map { _ =>
        if (r.nextDouble() < 0.2) None
        else Some(Array(Models, Operators, Makers, Categories)
          .map(a => a(r.nextInt(a.length))))
      }
    }

    def dimRows: Seq[Row] = {
      val r = rng(seed, 5)
      keys.indices.flatMap { i =>
        dim(i).map(a => Row(rawKey(keys(i), r), a(0), a(1), a(2), a(3)))
      }
    }
  }

  val DimSchema: StructType = StructType(Seq("icao24", "model", "operator",
    "manufacturerName", "categoryDescription")
    .map(StructField(_, StringType, nullable = true)))

  private def rawKey(k: String, r: SplittableRandom): String = {
    val u = r.nextDouble()
    if (u < 0.10) k.toUpperCase(Locale.ROOT)
    else if (u < 0.15) s" $k "
    else k
  }

  private def q(s: String): String = if (s == null) "null" else "\"" + s + "\""

  /** One micro-batch: BatchLines positional state-vector lines for
    * distinct aircraft drawn with the fleet's skew (weighted sampling
    * without replacement), with null fields and 17- vs 18-element
    * arrays. Returns the lines and the expected state per key. */
  def batch(fleet: Fleet, seed: Long, k: Int): (Array[String], Seq[State]) = {
    val r = rng(seed, 10, k)
    // Efraimidis-Spirakis: top-B of u^(1/w) is a weighted sample
    // without replacement
    val score = Array.tabulate(FleetSize)(i =>
      math.log(r.nextDouble() + 1e-300) / fleet.weights(i))
    val picked = (0 until FleetSize).sortBy(i => -score(i)).take(BatchLines)
    val base = 1700000000L + 10L * k
    val out = picked.map { i =>
      val key = fleet.keys(i)
      val cs = if (r.nextDouble() < 0.05) null
        else f"${"ABCDEFGHJK".charAt(i % 10)}%s${i % 9973}%04d".padTo(8, ' ')
      val lc = base + r.nextInt(10)
      val tp: java.lang.Long = if (r.nextDouble() < 0.02) null else Long.box(lc - r.nextInt(5))
      val noPos = r.nextDouble() < 0.03
      val lon = if (noPos) null else fmt(r.nextDouble() * 360 - 180, 4)
      val lat = if (noPos) null else fmt(r.nextDouble() * 180 - 90, 4)
      val onGround = r.nextDouble() < 0.1
      val baro = if (r.nextDouble() < 0.02) null
        else if (onGround) fmt(-r.nextDouble() * 30, 1)
        else fmt(r.nextDouble() * 12000, 1)
      val vel = fmt(r.nextDouble() * 300, 2)
      val track = fmt(r.nextDouble() * 360, 2)
      val vr = fmt(r.nextDouble() * 30 - 15, 2)
      val geo = if (baro == null) null else fmt(baro.toDouble + 25, 1)
      val squawk = if (r.nextDouble() < 0.3) null else f"${r.nextInt(7777)}%04d"
      val spi = r.nextDouble() < 0.01
      val src = r.nextInt(4)
      val cat: java.lang.Integer = if (r.nextBoolean()) Int.box(r.nextInt(18)) else null
      val raw = rawKey(key, r)
      val fields = Seq(q(raw), q(cs), q(fleet.countryOf(i)), String.valueOf(tp),
        lc.toString, String.valueOf(lon), String.valueOf(lat), String.valueOf(baro),
        onGround.toString, vel, track, vr, "null", String.valueOf(geo), q(squawk),
        spi.toString, src.toString) ++ (if (cat == null) Nil else Seq(cat.toString))
      val d = fleet.dim(i).getOrElse(Array.fill[String](4)(null))
      def orUnknown(s: String) = if (s == null) "Unknown" else s
      def dbl(s: String): java.lang.Double = if (s == null) null else Double.box(s.toDouble)
      (fields.mkString("[", ",", "]"),
        State(key, if (cs == null) null else cs.trim, fleet.countryOf(i), tp, lc,
          dbl(lon), dbl(lat), dbl(baro), onGround, vel.toDouble, track.toDouble,
          vr.toDouble, dbl(geo), squawk, spi, src, cat,
          orUnknown(d(0)), orUnknown(d(1)), orUnknown(d(2)), orUnknown(d(3))))
    }
    (out.map(_._1).toArray, out.map(_._2))
  }

  // -------------------------------------------------------------- curation

  /** The collection every shard is drawn from copies the sf0.1
    * fixture's row counts and distributions (measured in
    * perfbench/README.md, "Generated data"). */
  val CorpusDocs = 5000
  val CorpusVecs = 2000
  val CorpusCustomers = 15000
  /** Fixed shard size (rows sampled per table, before near-dups). */
  val ShardDocs = 600
  val ShardVecs = 400
  val ShardCustomers = 1500
  /** Near-duplicates injected per shard: 5% of documents (the
    * fixture's own share of re-posted documents) and vectors, 3% of
    * customers. */
  val DupDocs = 30
  val DupVecs = 20
  val DupCustomers = 45

  /** fixture: 30 words drawn uniformly, 10 to 99 words a document */
  private val Vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val MinWords = 10
  private val MaxWords = 99
  /** fixture: documents per language out of 5,000 */
  private val Langs = Seq("en" -> 2059, "zh" -> 753, "es" -> 744, "fr" -> 742, "de" -> 702)
  private val Segments = Array("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
    "BUILDING", "FURNITURE")
  val EmbeddingDim = 64
  val Labels = 10

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))
  val CustSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** The collection every shard is drawn from. */
  final class Corpus(seed: Long) {
    val texts: Array[String] = {
      val r = rng(seed, 20)
      Array.fill(CorpusDocs) {
        Array.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(
          Vocab(r.nextInt(Vocab.length))).mkString(" ")
      }
    }
    val langs: Array[String] = {
      val r = rng(seed, 21)
      val upTo = Langs.scanLeft(0)(_ + _._2).tail
      texts.map { _ => val u = r.nextInt(upTo.last); Langs(upTo.indexWhere(u < _))._1 }
    }
    /** fixture: labels uniform and independent of the vector, vectors
      * uniform on the unit sphere (no cluster structure) */
    val labels: Array[Int] = { val r = rng(seed, 23); Array.fill(CorpusVecs)(r.nextInt(Labels)) }
    val vecs: Array[Array[Float]] = {
      val r = rng(seed, 24)
      Array.fill(CorpusVecs)(unit(Array.fill(EmbeddingDim)(gaussian(r))))
    }
    /** fixture: TPC-H customers; account balance in cents from -999.99
      * to 9999.99 */
    val customers: Array[Row] = {
      val r = rng(seed, 25)
      Array.tabulate(CorpusCustomers)(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), (r.nextInt(1099999) - 99999) / 100.0,
        Segments(r.nextInt(Segments.length))))
    }
  }

  /** Box-Muller, so the draw does not depend on the JDK's own method. */
  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** k of n indices without replacement, always including row 0: the
    * ANN rows probe with vec_id 0 as their query vector. */
  private def sample(r: SplittableRandom, n: Int, k: Int): Array[Int] = {
    val idx = (0 until n).toArray
    for (i <- 1 until k) {
      val j = i + r.nextInt(n - i); val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    idx.take(k).sorted
  }

  /** Shard `p`: a fixed-size resample of the corpus plus injected
    * near-duplicates (a document re-posted with a trailing token, a
    * jittered vector, a customer name one edit away). Writes
    * documents/embeddings/customer parquet under `dir` and returns
    * their row counts. */
  def shard(spark: SparkSession, corpus: Corpus, seed: Long, p: Int,
      dir: String): Map[String, Long] = {
    val r = rng(seed, 30, p)
    new java.io.File(dir).mkdirs()
    val docIdx = sample(r, CorpusDocs, ShardDocs)
    val docs = docIdx.map(i => (i.toLong, corpus.texts(i), corpus.langs(i))) ++
      (0 until DupDocs).map { j =>
        val i = docIdx(r.nextInt(docIdx.length))
        (CorpusDocs.toLong + j, corpus.texts(i) + " dup", corpus.langs(i))
      }
    writeParquet(spark, docs.toSeq.map { case (id, t, l) =>
      Row(id, t, l, s"src${id % 20}", t.length.toLong) }, DocSchema, s"$dir/documents.parquet")
    val vecIdx = sample(r, CorpusVecs, ShardVecs)
    val vecs = vecIdx.map(i => Row(i.toLong, corpus.vecs(i).toSeq, corpus.labels(i))) ++
      (0 until DupVecs).map { j =>
        val i = vecIdx(r.nextInt(vecIdx.length))
        Row(CorpusVecs.toLong + j,
          unit(corpus.vecs(i).map(x => x + (r.nextDouble() * 2 - 1) * 0.01)).toSeq,
          corpus.labels(i))
      }
    writeParquet(spark, vecs.toSeq, VecSchema, s"$dir/embeddings.parquet")
    val custIdx = sample(r, CorpusCustomers, ShardCustomers)
    val custs = custIdx.map(corpus.customers(_)) ++ (0 until DupCustomers).map { j =>
      val c = corpus.customers(custIdx(r.nextInt(custIdx.length)))
      val name = c.getString(1).toCharArray
      val at = name.length - 1 - r.nextInt(4)
      name(at) = ((name(at) - '0' + 1 + r.nextInt(8)) % 10 + '0').toChar
      Row(CorpusCustomers.toLong + j, new String(name), c.getInt(2), c.getDouble(3),
        c.getString(4))
    }
    writeParquet(spark, custs.toSeq, CustSchema, s"$dir/customer.parquet")
    Map("documents" -> docs.length.toLong, "embeddings" -> vecs.length.toLong,
      "customer" -> custs.length.toLong)
  }
}
