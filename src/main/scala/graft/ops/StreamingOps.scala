package graft.ops

import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.streaming.Pipelines

/** Batch-checkable faces of the streaming semantics (SURVEY.md §2.9).
  *
  * DuckDB cannot run a stream, so the oracle checks the batch
  * equivalence: a tumbling event-time window aggregation produces the
  * same result as `date_trunc`-keyed grouping on the at-rest table
  * (X5 — the reference computes hourly "windows" post-hoc the same way,
  * `services/dashboard/dashboard.py:90,229-233`). The streaming form of
  * the exact same plan (`Pipelines.tumblingCounts` over a file stream)
  * is exercised in StreamingSpec.
  */
object StreamingOps {

  /** Memoized canon artifact for the batch entity-resolution face —
    * written-table path per (session, dir); see entityResolve. */
  private val canonMemo = graft.util.TableMemo.paths()

  /** Drops the memo and deletes the written canon tables — the
    * cold-regime re-pricing hook (the TableMemo.invalidate
    * contract). */
  def invalidateCanonCache(): Unit = canonMemo.invalidate()

  /** X5: tumbling 1h window counts — batch form, same code path as the
    * streaming query. */
  val streamTumbling: Q = (spark, dir) =>
    Pipelines.tumblingCounts(Tables(spark, dir, "events"))
      .orderBy(col("window_start"), col("event_type"))

  /** X5 sliding: 1-hour windows every 30 minutes — each event lands in
    * two windows. The oracle reconstructs the same assignment from
    * integer epoch arithmetic (union of the two aligned starts). */
  val streamSliding: Q = (spark, dir) =>
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("cnt"))
      .orderBy(col("window_start"), col("event_type"))

  /** Stream-stream interval join, batch face — same code path the
    * streaming query runs (Pipelines.clickAttribution); the oracle is
    * the plain interval join. */
  val streamJoin: Q = (spark, dir) =>
    Pipelines.clickAttribution(Tables(spark, dir, "events"))
      .orderBy(col("purchase_id"), col("click_id"))

  /** Batch face of the VERSIONED entity-resolution gate
    * ([[Pipelines.entityResolveCurrent]]): commit a canonical name
    * dictionary (every 40th customer) as a fresh canon artifact, then
    * annotate a query population (every 4th customer) against its
    * CURRENT version — best canonical id within edit distance 2,
    * unmatched rows kept with nulls, every row stamped with the
    * dictionary version (a fresh artifact's first commit is version 0,
    * so the stamp is deterministic and the DuckDB oracle mirrors the
    * whole face including it). Candidates come from the FastSS
    * deletion-variant machinery — the oracle pays the quadratic
    * levenshtein cross join this operator exists to avoid. */
  val entityResolve: Q = (spark, dir) => {
    // the canon dictionary is a per-(session, dir) memoized artifact
    // (round-14 optimization — the TableMemo idiom every dir-keyed
    // build shares): the face previously re-committed a fresh canon
    // per invocation, paying the versioned write's jobs every call for
    // a bit-identical artifact (fresh dir → first commit → version 0,
    // so the declared `canon_version` stamp is unchanged). Bench
    // reruns re-price the cold regime via invalidateCanonCache().
    val canonDir = canonMemo.getOrBuild(spark, dir) {
      val canonDf = Tables(spark, dir, "customer")
        .filter(col("c_custkey") % 40 === 0)
        .select(col("c_custkey").as("id"), col("c_name").as("s"))
      val d = graft.util.Fs.tempDir("graft_canon_batch")
      Pipelines.commitCanon(canonDf, d)
      d
    }
    // spread the query side before the k=2 deletion-variant explode
    // (~211 interpreted-HOF variants per name): the customer fixture
    // is a single row group, so the explode otherwise runs at the
    // scan's task count on a 32-core session (guide §2.5 input skew —
    // the embed_neardup/geo_predict fix). The exchange carries 3.7k
    // (id, name) rows and is shared by BOTH record consumers
    // (variant explode + the verify join), so it also drops the
    // second customer scan. defaultParallelism, never a local
    // constant.
    val recs = Tables(spark, dir, "customer")
      .filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
      .repartition(spark.sparkContext.defaultParallelism)
    Pipelines.entityResolveCurrent(recs, canonDir, k = 2, topK = 1)
      .select(col("id"), col("canon_id"), col("dist").cast("int").as("dist"),
        col("rank").cast("int").as("rank"), col("canon_version"))
      .orderBy(col("id"), col("canon_id"))
  }

  val queries: Map[String, Q] = Map(
    "q_stream_tumbling" -> streamTumbling,
    "q_stream_sliding" -> streamSliding,
    "q_stream_join" -> streamJoin,
    "q_entity_resolve" -> entityResolve)

  val oracle: Map[String, String] = Map(
    "q_stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS cnt, round(sum(value), 4) AS sum_value
         FROM events GROUP BY date_trunc('hour', ts), event_type
         ORDER BY window_start, event_type""",
    "q_stream_sliding" ->
      """WITH assigned AS (
           SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000)
                    AS window_start, event_type
           FROM events
           UNION ALL
           SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000
                                 - 1800000000) AS window_start, event_type
           FROM events)
         SELECT window_start, event_type, count(*) AS cnt
         FROM assigned GROUP BY window_start, event_type
         ORDER BY window_start, event_type""",
    "q_stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
                p.ts AS purchase_ts,
                c.event_id AS click_id, c.ts AS click_ts
         FROM events p JOIN events c
           ON p.user_id = c.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.ts <= p.ts
          AND c.ts >= p.ts - INTERVAL 10 MINUTE
         ORDER BY purchase_id, click_id""",
    "q_entity_resolve" ->
      """WITH canon AS (
           SELECT c_custkey AS cid, c_name AS cs FROM customer
           WHERE c_custkey % 40 = 0),
         recs AS (
           SELECT c_custkey AS id, c_name AS s FROM customer
           WHERE c_custkey % 4 = 0),
         cand AS (
           SELECT r.id, c.cid AS canon_id,
                  CAST(levenshtein(r.s, c.cs) AS INT) AS dist
           FROM recs r, canon c
           WHERE levenshtein(r.s, c.cs) <= 2),
         ranked AS (
           SELECT id, canon_id, dist,
                  CAST(row_number() OVER (
                    PARTITION BY id ORDER BY dist, canon_id) AS INT) AS rank
           FROM cand)
         SELECT r.id, k.canon_id, k.dist, k.rank,
                CAST(0 AS BIGINT) AS canon_version
         FROM recs r LEFT JOIN ranked k ON r.id = k.id AND k.rank <= 1
         ORDER BY r.id, k.canon_id""")
}
