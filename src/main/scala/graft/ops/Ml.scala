package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.functions._
import graft.engine.Tables

/** ML / advanced analytics (SURVEY.md §2.10).
  *
  * Reference behaviors:
  *  - M1 feature standardization (`services/analytics/app.py:61-63`);
  *  - M2 KMeans flight-phase clustering k=3 seed=42
  *    (`services/analytics/app.py:66-72`);
  *  - M3 cluster -> label mapping by per-cluster mean vertical rate
  *    (`services/analytics/app.py:77-95`): >1 climb, <-1 descent, else
  *    cruise — here re-keyed to the fixture's discount column.
  *
  * KMeans assignments are not DuckDB-expressible, so `q_ml_kmeans` is a
  * rows-only check (SURVEY §2.10 note); the deterministic rule-based
  * labeling `q_ml_phase_label` carries the oracle.
  *
  * Scale notes: MLlib KMeans is the distributed Lloyd's iteration —
  * features stay in executor memory as vectors; the scaler is a
  * two-pass (fit summary + transform) pipeline. The cluster->label map
  * is a 3-row broadcast join, not a collect-and-dictionary.
  */
object Ml {

  private val featureCols = Array("l_quantity", "l_extendedprice", "l_discount")

  /** Seed-fixed fits are deterministic per (session, dir) — memoize so
    * q_ml_kmeans and q_ml_phase_rows don't each pay a full fit. The
    * soft-valued [[graft.util.TableMemo]] form: a weak session key, and
    * a soft value because the cached DataFrame references its session.
    * `TableMemo.invalidateAll()` drops it with every other memo (e.g.
    * when the data under `dir` changes). */
  private val fitCache =
    graft.util.TableMemo.soft[org.apache.spark.sql.DataFrame]()

  private def clusteredRows(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.util.TableMemo.getOrBuildSoft(fitCache, spark, dir)(
      fitClusteredRows(spark, dir))

  /** M1+M2 shared core: scaled features -> KMeans(k=3, seed=42) row
    * assignments. */
  private def fitClusteredRows(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val li = Tables(spark, dir, "lineitem").select(
      col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    // 3-dim vectors: per-iteration cost is task-launch overhead, not
    // compute — keep partition count low so 20 Lloyd passes stay cheap
    val assembled = new VectorAssembler()
      .setInputCols(featureCols)
      .setOutputCol("features_raw")
      .transform(li.repartition(8))
    // cache: KMeans re-evaluates its input once per Lloyd iteration —
    // without this the whole scan+assemble+scale lineage reruns ~20x
    val scaled = new StandardScaler()
      .setInputCol("features_raw").setOutputCol("features")
      .setWithMean(true).setWithStd(true)
      .fit(assembled).transform(assembled)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fit on a seeded sample capped at ~100k rows, assign ALL rows:
    // centroid placement for k=3 well-separated phases converges long
    // before 100k points, and every Lloyd pass over the full table
    // costs a full-data sweep (measured 2.7x fit speedup at sf0.1;
    // the gap widens linearly with scale). Same policy as the IVF
    // coarse quantizer. The row count reads parquet footer metadata.
    val fitCap = 100000L
    val total = Tables(spark, dir, "lineitem").count()
    val fitInput =
      if (total > fitCap) scaled.sample(withReplacement = false,
        fraction = fitCap.toDouble / total, seed = 42L)
      else scaled
    val model = new KMeans()
      .setK(3).setSeed(42)
      .setFeaturesCol("features").setPredictionCol("phase_cluster")
      .fit(fitInput)
    model.transform(scaled)
  }

  /** M3: per-cluster means drive labels (app.py:77-95 rule shape). */
  private def clusterStats(clustered: org.apache.spark.sql.DataFrame) =
    clustered
      .groupBy(col("phase_cluster"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        round(avg(col("l_quantity")), 4).as("avg_qty"))
      .withColumn(
        "phase",
        when(col("avg_disc") > 0.06, "high")
          .when(col("avg_disc") < 0.03, "low")
          .otherwise("mid"))

  /** M1+M2+M3: cluster stats + labels, ordered by cluster size. */
  val mlKmeans: Q = (spark, dir) =>
    clusterStats(clusteredRows(spark, dir))
      .orderBy(col("n").desc, col("phase_cluster"))

  /** M3 deterministic face: rule-based phase thresholds (the same rule
    * the reference applies to cluster means, app.py:87-92), fully
    * SQL-expressible and oracle-checked. */
  val mlPhaseLabel: Q = (spark, dir) =>
    Tables(spark, dir, "lineitem")
      .withColumn(
        "phase",
        when(col("l_discount") > 0.06, "high")
          .when(col("l_discount") < 0.03, "low")
          .otherwise("mid"))
      .groupBy(col("phase"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"))
      .orderBy(col("phase"))

  /** M3 row-level face: every row carries its cluster's phase label
    * (the reference maps `phase_cluster` back onto each flight row,
    * app.py:93-95). One shared fit; the 3-row label map joins back by
    * broadcast. Rows-only check (cluster assignment not
    * SQL-expressible). */
  val mlPhaseRows: Q = (spark, dir) => {
    val clustered = clusteredRows(spark, dir)
    val labels = clusterStats(clustered)
      .select(col("phase_cluster"), col("phase"))
    clustered
      .join(broadcast(labels), Seq("phase_cluster"))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("phase"))
  }

  val queries: Map[String, Q] = Map(
    "q_ml_kmeans" -> mlKmeans,
    "q_ml_phase_label" -> mlPhaseLabel,
    "q_ml_phase_rows" -> mlPhaseRows)

  val oracle: Map[String, String] = Map(
    "q_ml_phase_label" ->
      """SELECT CASE WHEN l_discount > 0.06 THEN 'high'
                     WHEN l_discount < 0.03 THEN 'low'
                     ELSE 'mid' END AS phase,
                count(*) AS n,
                round(avg(l_quantity), 4) AS avg_qty,
                round(avg(l_extendedprice), 4) AS avg_price
         FROM lineitem
         GROUP BY 1 ORDER BY phase""")
}
