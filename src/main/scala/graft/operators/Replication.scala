package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Replication engine — the ohsome-replication(-update) analog.
  *
  * The reference keeps a RocksDB mirror of current element state and applies
  * minutely diffs (create/modify/delete) to emit updated contributions. In
  * Spark the same operation is a latest-wins upsert: union the base snapshot
  * with the diff batch and keep the newest version per entity — no local KV
  * store needed because the shuffle IS the distributed index.
  *
  * Scale: both sides partition by entity id; with the base stored bucketed
  * by entity id the upsert is a single co-partitioned window, and AQE
  * handles diff-batch skew.
  */
object Replication {

  /** Epoch-micros cut: events ≤ cut form the base snapshot, events > cut
    * are the incoming replication diff (2024-01-20T00:00:00Z).
    */
  val CutUs: Long = 1705708800000000L

  /** Apply a diff batch onto a snapshot: latest-wins upsert per entity. */
  def replMerge(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000"))
    val latestPerUser = Window.partitionBy("user_id").orderBy(desc("ts_us"), desc("event_id"))
    // Base snapshot: latest state as of the cut.
    val base = e.filter(col("ts_us") <= CutUs)
      .withColumn("rk", row_number().over(latestPerUser))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
        lit("base").as("src"))
    // Diff batch: replication updates after the cut.
    val diff = e.filter(col("ts_us") > CutUs)
      .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"),
        lit("update").as("src"))
    // Latest-wins upsert (updates are strictly newer than base rows).
    base.unionByName(diff)
      .withColumn("rk", row_number().over(latestPerUser))
      .filter(col("rk") === 1)
      .select(col("user_id").as("osm_id"), col("ts_us").as("last_ts"),
        col("event_type"), col("src"))
  }

  // ---- composed replication update (ContributionUpdater.java analog) ----

  /** Version-chain + classification rebuild over an events-shaped frame
    * (columns user_id, ts_us, event_id, event_type, props, value) — the
    * contribution derivation the updater re-runs for touched entities.
    */
  def versionChains(events: DataFrame): DataFrame = {
    val byEntity = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .withColumn("osm_version", row_number().over(byEntity))
      .withColumn("valid_from", col("ts_us"))
      .withColumn("valid_to", lead("ts_us", 1).over(byEntity))
      .withColumn("visible", col("event_type") =!= "error")
      .withColumn("prev_visible", lag("visible", 1).over(byEntity))
      .withColumn("prev_props", lag("props", 1).over(byEntity))
      .withColumn("prev_value", lag("value", 1).over(byEntity))
      .withColumn("contrib_type", Contributions.contribType(col("visible"), col("prev_visible"),
        col("props") =!= col("prev_props"), col("value") =!= col("prev_value")))
      .withColumn("status",
        when(!col("visible"), "deleted")
          .when(col("valid_to").isNotNull, "history")
          .otherwise("latest"))
      .select(col("user_id").as("osm_id"), col("osm_version"),
        col("valid_from"), col("valid_to"), col("contrib_type"), col("status"))
  }

  /** Apply a replication diff onto a stored contribution base — the
    * composed `.osc → store upsert → re-emit` path of the reference's
    * ContributionUpdater.java:69-101 (prepend the stored "before" state,
    * rebuild contributions for touched entities, keep the rest untouched).
    *
    * Scale shape: the diff's entity-id set is tiny (one minutely diff) and
    * broadcast twice — a left-anti join keeps untouched stored rows
    * WITHOUT re-windowing them, and a left-semi join pulls only touched
    * entities' history into the rebuild. The 100 TB store is never
    * re-sorted; only diff-touched version chains shuffle.
    */
  def updateContributions(baseEvents: DataFrame, diffEvents: DataFrame): DataFrame = {
    val touched = diffEvents.select("user_id").distinct()
    val kept = versionChains(baseEvents)
      .join(broadcast(touched), col("osm_id") === touched("user_id"), "left_anti")
      .withColumn("rebuilt", lit(false))
    val affectedHistory = baseEvents
      .join(broadcast(touched), Seq("user_id"), "left_semi")
    val rebuilt = versionChains(affectedHistory.unionByName(diffEvents))
      .withColumn("rebuilt", lit(true))
    kept.unionByName(rebuilt)
  }

  /** Oracle-checked composition on the parquet tables: events ≤ cut are the
    * stored base, events > cut play the incoming diff batch.
    */
  def replUpdate(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .select("user_id", "ts_us", "event_id", "event_type", "props", "value")
    updateContributions(e.filter(col("ts_us") <= CutUs), e.filter(col("ts_us") > CutUs))
  }

  /** Bloom-pruned incremental merge: recompute latest state for ONLY the
    * entities a diff batch touches, pruning the (huge) base scan with a
    * Bloom filter of the diff's keys BEFORE any shuffle.
    *
    * 100 TB shape: the diff is minutely — thousands of keys against a
    * base of billions. Without the prune, the semi-join shuffles (or at
    * best broadcasts against) every base row that survives partition
    * pruning; with it, the scan emits ~|touched| + ε rows (ε = false
    * positives at the sketch's fpp), and the broadcast semi-join that
    * follows makes the result exact — the bloom can only let extra rows
    * THROUGH to the exact join, never change the output. This is the
    * manual form of Spark's runtime semi-join reduction, placed where the
    * optimizer's automatic injection can't see the key set.
    */
  def bloomPrunedMerge(events: DataFrame, cutUs: Long): DataFrame = {
    val s = events.sparkSession
    graft.functions.GeoFunctions.register(s)
    val slim = events.select("user_id", "ts_us", "event_id", "event_type")
    val diff = slim.filter(col("ts_us") > cutUs)
    val diffKeys = diff.select("user_id").distinct()
    val nKeys = diffKeys.count()
    val sketch = diffKeys.stat.bloomFilter("user_id", math.max(nKeys, 64L), 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      sketch.writeTo(bos)
      bos.toByteArray
    }
    val prunedBase = slim.filter(col("ts_us") <= cutUs)
      .filter(call_function("bloom_might_contain", col("user_id"), lit(bytes)))
      .join(broadcast(diffKeys), Seq("user_id"), "left_semi")
    prunedBase.unionByName(diff)
      .groupBy(col("user_id").as("osm_id"))
      .agg(max(col("ts_us")).as("last_ts"),
        count(lit(1)).as("n_versions"),
        max_by(col("event_type"), col("ts_us")).as("last_type"))
  }

  /** Oracle-checked instance of [[bloomPrunedMerge]] on the events table. */
  def replBloom(s: SparkSession, dir: String): DataFrame =
    bloomPrunedMerge(
      Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000")), CutUs)

  /** Replication-stream GAP detection — the monitor every replication
    * consumer runs against the minutely sequence: which minute batches
    * never arrived? Sequence numbers derive from the event stream
    * (`seq = ts_us div 60e6`); a gap is a pair of adjacent OBSERVED
    * minutes more than one apart, reported as the missing closed range.
    *
    * Scale shape: the corpus collapses to DISTINCT minutes first —
    * map-side partial distinct, one exchange of minute-scale rows —
    * and the adjacency walk (global lag) windows over a frame bounded
    * by the TIME domain (a year is ~525 600 minutes), not the corpus;
    * the same bounded-single-partition argument as text_lm_bucket's
    * histogram. A per-entity gap walk would instead ride the entity
    * partitioning; the replication stream is one global sequence, so
    * the bounded global window IS the right plan.
    */
  def replGap(s: SparkSession, dir: String): DataFrame = {
    val minutes = Tables.events(s, dir)
      .select(expr("(ts div 1000) div 60000000").as("seq"))
      .distinct()
    minutes
      .withColumn("prev", lag("seq", 1).over(Window.orderBy("seq")))
      .filter(col("seq") - col("prev") > 1L)
      .select((col("prev") + 1L).as("gap_start"), (col("seq") - 1L).as("gap_end"),
        (col("seq") - col("prev") - 1L).as("gap_len"))
      .orderBy("gap_start")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "repl_gap" -> (replGap _),
    "repl_merge" -> (replMerge _),
    "repl_bloom" -> (replBloom _),
    "repl_update" -> (replUpdate _))

  val oracles: Map[String, String] = Map(
    "repl_gap" ->
      """WITH m AS (SELECT DISTINCT epoch_us(ts) // 60000000 AS seq FROM events),
        |g AS (SELECT seq, lag(seq) OVER (ORDER BY seq) AS prev FROM m)
        |SELECT prev + 1 AS gap_start, seq - 1 AS gap_end,
        |  seq - prev - 1 AS gap_len
        |FROM g WHERE seq - prev > 1 ORDER BY gap_start""".stripMargin,
    // the bloom prune is semantically invisible (false positives are
    // cleared by the exact semi-join): the oracle is the plain
    // touched-entities aggregate, the Spark plan demonstrates the
    // scan-level prune
    "repl_bloom" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |touched AS (SELECT DISTINCT user_id FROM e WHERE ts_us > 1705708800000000)
        |SELECT user_id AS osm_id, max(ts_us) AS last_ts,
        |  CAST(count(*) AS BIGINT) AS n_versions,
        |  arg_max(event_type, ts_us) AS last_type
        |FROM e JOIN touched USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // kept-vs-rebuilt partitioning is semantically invisible (untouched
    // entities have no post-cut events, so base-only chains equal full
    // chains): the oracle is one chain build over all events + the
    // touched-set flag, while the Spark plan demonstrates the incremental
    // shape
    "repl_update" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, props, value FROM events),
        |touched AS (SELECT DISTINCT user_id FROM e WHERE ts_us > 1705708800000000),
        |chains AS (
        |  SELECT user_id AS osm_id,
        |    row_number() OVER w AS osm_version,
        |    ts_us AS valid_from,
        |    lead(ts_us, 1) OVER w AS valid_to,
        |    CASE WHEN NOT visible THEN 'DELETION'
        |         WHEN prev_visible IS NULL OR NOT prev_visible THEN 'CREATION'
        |         ELSE concat_ws('_',
        |           CASE WHEN props <> prev_props THEN 'TAG' END,
        |           CASE WHEN value <> prev_value THEN 'GEOMETRY' END) END AS contrib_type,
        |    CASE WHEN NOT visible THEN 'deleted'
        |         WHEN lead(ts_us, 1) OVER w IS NOT NULL THEN 'history'
        |         ELSE 'latest' END AS status
        |  FROM (SELECT *, event_type <> 'error' AS visible,
        |          lag(event_type <> 'error', 1) OVER w2 AS prev_visible,
        |          lag(props, 1) OVER w2 AS prev_props,
        |          lag(value, 1) OVER w2 AS prev_value
        |        FROM e WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)) t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT c.*, osm_id IN (SELECT user_id FROM touched) AS rebuilt
        |FROM chains c
        |ORDER BY osm_id, osm_version""".stripMargin,
    "repl_merge" ->
      """WITH e AS (SELECT *, epoch_us(ts) AS ts_us FROM events),
        |base AS (
        |  SELECT user_id, ts_us, event_id, event_type, 'base' AS src
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rk
        |        FROM e WHERE ts_us <= 1705708800000000) t
        |  WHERE rk = 1),
        |diff AS (
        |  SELECT user_id, ts_us, event_id, event_type, 'update' AS src
        |  FROM e WHERE ts_us > 1705708800000000),
        |unioned AS (SELECT * FROM base UNION ALL SELECT * FROM diff)
        |SELECT user_id AS osm_id, ts_us AS last_ts, event_type, src
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rk
        |      FROM unioned) t
        |WHERE rk = 1 ORDER BY osm_id""".stripMargin)
}
