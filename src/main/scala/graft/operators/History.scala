package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contribution/history engine — the ohsome-contributions analog.
  *
  * The reference turns each OSM element's version sequence into
  * "contribution" rows with `[valid_from, valid_to)` intervals, a version
  * counter, a running edit count, a contribution-type classification vs the
  * previous version, and user/changeset enrichment
  * (ContributionsAvroConverter.java:91-180). Here the `events` table plays
  * the edit stream: entity id = `user_id`, one event = one version;
  * `event_type = 'error'` marks a deletion (visible=false), `props` plays
  * the tag set and `value` the geometry.
  *
  * Scale design: every operator shares ONE shuffle — partition by entity id
  * (`user_id`) — and all windows/aggregations reuse that partitioning. On a
  * cluster this is the natural layout for OSM history (partition by osm_id),
  * so version chains never cross executors.
  */
object History {

  /** Per-entity version window — the single entity-keyed sort all history
    * operators reuse. Ties on ts break by event_id for determinism.
    */
  private val byEntity = Window.partitionBy("user_id").orderBy("ts_us", "event_id")

  /** DuckDB reads parquet TIMESTAMP(NANOS) at microsecond resolution, so all
    * history timestamps are epoch-µs (`ts div 1000`) on both engines.
    */
  private def withTsUs(df: DataFrame): DataFrame =
    df.withColumn("ts_us", expr("ts div 1000"))

  private def withVersions(df: DataFrame): DataFrame =
    withTsUs(df)
      .withColumn("osm_version", row_number().over(byEntity))
      .withColumn("valid_from", col("ts_us"))
      .withColumn("valid_to", lead(col("ts_us"), 1).over(byEntity))

  /** Version chains: `valid_from`/`valid_to` intervals + version counter. */
  def histBuild(s: SparkSession, dir: String): DataFrame =
    withVersions(Tables.events(s, dir))
      .select(col("user_id").as("osm_id"), col("osm_version"),
        col("valid_from"), col("valid_to"), col("event_type"))

  /** Epoch-micros of 2024-02-01T00:00:00Z — snapshot instant for hist_snapshot. */
  val SnapshotUs: Long = 1706745600000000L

  /** Snapshot-at-timestamp: versions visible at an instant
    * (docs/useful_queries.md "OSM at specific snapshot timestamp").
    */
  def histSnapshot(s: SparkSession, dir: String): DataFrame =
    withVersions(Tables.events(s, dir))
      .filter(col("valid_from") <= SnapshotUs &&
        (col("valid_to").isNull || col("valid_to") > SnapshotUs))
      .filter(col("event_type") =!= "error") // deleted elements are not visible
      .select(col("user_id").as("osm_id"), col("osm_version"),
        col("valid_from"), col("event_type"), col("value"))

  /** Epoch-micros of 2024-01-15T00:00:00Z — the diff's FROM instant. */
  val DiffFromUs: Long = 1705276800000000L

  /** Snapshot DIFF between two instants (T1 = 2024-01-15, T2 =
    * [[SnapshotUs]]) — the "what changed since" query every OSM data
    * consumer runs between planet dumps: each entity classifies as
    * `added` (visible only at T2), `removed` (only at T1), `modified`
    * (visible at both with a different version), or `unchanged`.
    * Output: per-class counts + the entity-id checksum `id_sum`
    * pinning MEMBERSHIP, not just cardinality.
    *
    * Scale shape — ONE pass, not two snapshots joined: at most one
    * version interval covers each instant, so a conditional aggregate
    * over the shared entity-windowed frame (`max(version WHERE
    * interval covers T AND visible)`) extracts both snapshot versions
    * in the window's own partitioning — the per-entity aggregate
    * reuses the entity exchange, and the only further movement is the
    * 4-row class rollup. A snapshot-join formulation would scan and
    * window the history twice and pay a join exchange.
    */
  def histDiff(s: SparkSession, dir: String): DataFrame = {
    def coveringVersion(tUs: Long) = max(when(
      col("valid_from") <= tUs &&
        (col("valid_to").isNull || col("valid_to") > tUs) &&
        col("event_type") =!= "error", col("osm_version")))
    withVersions(Tables.events(s, dir))
      .groupBy(col("user_id").as("osm_id"))
      .agg(coveringVersion(DiffFromUs).as("v1"),
        coveringVersion(SnapshotUs).as("v2"))
      .withColumn("change",
        when(col("v1").isNull && col("v2").isNull, lit(null))
          .when(col("v1").isNull, "added")
          .when(col("v2").isNull, "removed")
          .when(col("v1") === col("v2"), "unchanged")
          .otherwise("modified"))
      .filter(col("change").isNotNull)
      .groupBy("change")
      .agg(count(lit(1)).as("n"), sum("osm_id").as("id_sum"))
      .orderBy("change")
  }

  /** CREATION / TAG / GEOMETRY / TAG_GEOMETRY / DELETION classification
    * per event ([[Contributions.contribType]]): props change = TAG, value
    * change = GEOMETRY.
    */
  def histContribType(s: SparkSession, dir: String): DataFrame = {
    val e = withTsUs(Tables.events(s, dir))
      .withColumn("visible", col("event_type") =!= "error")
      .withColumn("prev_visible", lag("visible", 1).over(byEntity))
      .withColumn("prev_props", lag("props", 1).over(byEntity))
      .withColumn("prev_value", lag("value", 1).over(byEntity))
    e.withColumn("contrib_type", Contributions.contribType(col("visible"), col("prev_visible"),
        col("props") =!= col("prev_props"), col("value") =!= col("prev_value")))
      .select(col("event_id"), col("user_id").as("osm_id"), col("contrib_type"))
  }

  /** Running edit count + last-edit summary per entity (`osm_edits`,
    * `osm_last_edit` analog).
    */
  def histEdits(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id").as("osm_id"))
      .agg(count(lit(1)).as("n_edits"),
        min(expr("ts div 1000")).as("first_edit"),
        max(expr("ts div 1000")).as("last_edit"),
        // fixed-point cents (see Changesets.csBuild note)
        sum(round(col("value") * 100).cast("bigint")).as("sum_value"))

  /** User-struct enrichment: broadcast dimension join (the `--changeset-db`
    * user join analog). The fact side never shuffles.
    */
  def histEnrichUser(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name").as("user_name"),
        col("c_mktsegment").as("user_segment"))
    Tables.events(s, dir)
      .join(broadcast(users), col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("user_name"),
        col("user_segment"), col("event_type"))
  }

  /** Tag parse + filter: `props` JSON → key `k`, the `map_contains_entry`
    * tag-filter analog (docs/useful_queries.md).
    */
  def histTags(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("tag_k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("int"))
      .filter(col("tag_k") >= 50)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_tagged"), sum("tag_k").as("sum_k"))

  /** Map-typed tag filter — the literal `map_contains_entry(tags, k, v)`
    * analog (docs/useful_queries.md): parse `props` into a real MapType
    * column, filter on key presence + value predicate, aggregate per key
    * bucket. Keeps tags as a first-class map like the reference's output
    * schema (vs the regex shortcut in hist_tags).
    */
  def histTagMap(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("tags", from_json(col("props"), org.apache.spark.sql.types.DataType.fromDDL("map<string,string>")))
      .filter(map_contains_key(col("tags"), "k"))
      .withColumn("k_val", element_at(col("tags"), "k").cast("int"))
      .groupBy((col("k_val") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum("k_val").as("sum_k"),
        min("k_val").as("min_k"), max("k_val").as("max_k"))

  /** Version-count DISTRIBUTION + lifespan rollup — the "how many
    * elements have k versions" census OSM analytics runs over full
    * history (the shape behind edit-activity studies and the version
    * histograms in every OSM data-quality paper). Per entity: version
    * count and lifespan (first→last edit, whole seconds — all values
    * non-negative so floor ≡ trunc cross-engine); rolled up per version
    * count with membership and lifespan checksums.
    *
    * Scale shape: count/min/max all partial-aggregate map-side into ONE
    * entity-keyed exchange (the same key every history operator
    * shuffles on), and the histogram exchange moves ≤ max-version-count
    * rows — domain-bounded at any corpus size.
    */
  def histLifespan(s: SparkSession, dir: String): DataFrame =
    withTsUs(Tables.events(s, dir))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_versions"),
        expr("(max(ts_us) - min(ts_us)) div 1000000").as("lifespan_s"))
      .groupBy("n_versions")
      .agg(count(lit(1)).as("n_entities"), sum("user_id").as("id_sum"),
        sum("lifespan_s").as("lifespan_sum"),
        min("lifespan_s").as("lifespan_min"),
        max("lifespan_s").as("lifespan_max"))
      .orderBy("n_versions")

  /** Edit-CADENCE profile — the inter-version gap distribution
    * ([[histLifespan]]'s span statistic refined to the gaps inside it):
    * per entity, successive-version gaps in floor-seconds via `lag` over
    * the shared entity window, log2-binned (`length(bin(gap_s + 1))` —
    * +1 so a same-second gap lands in bucket 1, exact integer both
    * engines) into `(bucket, n_gaps, n_entities, gap_sum, gap_min,
    * gap_max)` — "is this entity edited in bursts or steadily", the
    * revision-cadence diagnostic an history pipeline reads before
    * choosing snapshot intervals. ONE entity-keyed exchange (the shared
    * history window), then a bounded ≤ ~40-bucket aggregate.
    */
  def histCadence(s: SparkSession, dir: String): DataFrame =
    withTsUs(Tables.events(s, dir))
      .withColumn("prev_us", lag("ts_us", 1).over(byEntity))
      .filter(col("prev_us").isNotNull)
      .withColumn("gap_s", expr("(ts_us - prev_us) div 1000000"))
      .withColumn("bucket", expr("CAST(length(bin(gap_s + 1)) AS BIGINT)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_gaps"),
        countDistinct(col("user_id")).as("n_entities"),
        sum("gap_s").as("gap_sum"), min("gap_s").as("gap_min"),
        max("gap_s").as("gap_max"))
      .orderBy("bucket")

  /** Latest-version extraction — the `latest/` output partition. */
  def histLatest(s: SparkSession, dir: String): DataFrame = {
    val latest = Window.partitionBy("user_id").orderBy(desc("ts_us"), desc("event_id"))
    withTsUs(Tables.events(s, dir))
      .withColumn("rk", row_number().over(latest))
      .filter(col("rk") === 1)
      .select(col("user_id").as("osm_id"), col("ts_us").as("last_ts"),
        col("event_type"),
        when(col("event_type") === "error", "deleted").otherwise("latest").as("status"))
  }

  /** REVERT detection — the A-B-A edit pattern (the ohsome "vandalism
    * revert" analog): version n restores EXACTLY the tag set of version
    * n−2 after n−1 changed it. Two stacked `lag`s over the shared
    * entity window — the same single entity-keyed exchange every
    * history operator reuses; revert instances surface per version row
    * with NO self-join (a version-to-version equality join would
    * re-shuffle the history twice). Per entity: revert count and first
    * reverting version; top 50 by (count desc, id).
    */
  def histReverts(s: SparkSession, dir: String): DataFrame =
    withTsUs(Tables.events(s, dir))
      .withColumn("p1", lag("props", 1).over(byEntity))
      .withColumn("p2", lag("props", 2).over(byEntity))
      .withColumn("ver", row_number().over(byEntity))
      .filter(col("p2").isNotNull && col("props") === col("p2") &&
        col("props") =!= col("p1"))
      .groupBy(col("user_id").as("osm_id"))
      .agg(count(lit(1)).as("n_reverts"),
        min("ver").cast("bigint").as("first_revert_ver"))
      .orderBy(desc("n_reverts"), asc("osm_id"))
      .limit(50)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hist_reverts" -> (histReverts _),
    "hist_build" -> (histBuild _),
    "hist_snapshot" -> (histSnapshot _),
    "hist_diff" -> (histDiff _),
    "hist_contrib_type" -> (histContribType _),
    "hist_edits" -> (histEdits _),
    "hist_enrich_user" -> (histEnrichUser _),
    "hist_tags" -> (histTags _),
    "hist_latest" -> (histLatest _),
    "hist_lifespan" -> (histLifespan _),
    "hist_cadence" -> (histCadence _),
    "hist_tag_map" -> (histTagMap _))

  val oracles: Map[String, String] = Map(
    "hist_reverts" ->
      """WITH v AS (SELECT user_id, props,
        |    lag(props, 1) OVER w AS p1, lag(props, 2) OVER w AS p2,
        |    row_number() OVER w AS ver
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT user_id AS osm_id, count(*) AS n_reverts,
        |  CAST(min(ver) AS BIGINT) AS first_revert_ver
        |FROM v WHERE p2 IS NOT NULL AND props = p2 AND props <> p1
        |GROUP BY 1 ORDER BY n_reverts DESC, osm_id LIMIT 50""".stripMargin,
    "hist_lifespan" ->
      """WITH per AS (SELECT user_id, count(*) AS n_versions,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS lifespan_s
        |  FROM events GROUP BY 1)
        |SELECT n_versions, count(*) AS n_entities,
        |  CAST(sum(user_id) AS BIGINT) AS id_sum,
        |  CAST(sum(lifespan_s) AS BIGINT) AS lifespan_sum,
        |  CAST(min(lifespan_s) AS BIGINT) AS lifespan_min,
        |  CAST(max(lifespan_s) AS BIGINT) AS lifespan_max
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "hist_cadence" ->
      """WITH gaps AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - lag(epoch_us(ts), 1) OVER w) // 1000000 AS gap_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT CAST(length(bin(gap_s + 1)) AS BIGINT) AS bucket,
        |  count(*) AS n_gaps, count(DISTINCT user_id) AS n_entities,
        |  CAST(sum(gap_s) AS BIGINT) AS gap_sum,
        |  CAST(min(gap_s) AS BIGINT) AS gap_min,
        |  CAST(max(gap_s) AS BIGINT) AS gap_max
        |FROM gaps WHERE gap_s IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "hist_build" ->
      """SELECT user_id AS osm_id,
        |  row_number() OVER w AS osm_version,
        |  epoch_us(ts) AS valid_from,
        |  lead(epoch_us(ts), 1) OVER w AS valid_to,
        |  event_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY osm_id, osm_version""".stripMargin,
    "hist_snapshot" ->
      """SELECT osm_id, osm_version, valid_from, event_type, value FROM (
        |  SELECT user_id AS osm_id,
        |    row_number() OVER w AS osm_version,
        |    epoch_us(ts) AS valid_from,
        |    lead(epoch_us(ts), 1) OVER w AS valid_to,
        |    event_type, value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) t
        |WHERE valid_from <= 1706745600000000
        |  AND (valid_to IS NULL OR valid_to > 1706745600000000)
        |  AND event_type <> 'error'
        |ORDER BY osm_id""".stripMargin,
    "hist_diff" ->
      s"""WITH v AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER w AS osm_version,
         |    epoch_us(ts) AS valid_from,
         |    lead(epoch_us(ts), 1) OVER w AS valid_to
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         |snap AS (
         |  SELECT user_id AS osm_id,
         |    max(CASE WHEN valid_from <= $DiffFromUs
         |          AND (valid_to IS NULL OR valid_to > $DiffFromUs)
         |          AND event_type <> 'error' THEN osm_version END) AS v1,
         |    max(CASE WHEN valid_from <= $SnapshotUs
         |          AND (valid_to IS NULL OR valid_to > $SnapshotUs)
         |          AND event_type <> 'error' THEN osm_version END) AS v2
         |  FROM v GROUP BY 1),
         |cls AS (
         |  SELECT osm_id,
         |    CASE WHEN v1 IS NULL AND v2 IS NULL THEN NULL
         |         WHEN v1 IS NULL THEN 'added'
         |         WHEN v2 IS NULL THEN 'removed'
         |         WHEN v1 = v2 THEN 'unchanged'
         |         ELSE 'modified' END AS change
         |  FROM snap)
         |SELECT change, count(*) AS n, CAST(sum(osm_id) AS BIGINT) AS id_sum
         |FROM cls WHERE change IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "hist_contrib_type" ->
      """SELECT event_id, user_id AS osm_id,
        |  CASE WHEN NOT visible THEN 'DELETION'
        |       WHEN prev_visible IS NULL OR NOT prev_visible THEN 'CREATION'
        |       ELSE concat_ws('_',
        |         CASE WHEN props <> prev_props THEN 'TAG' END,
        |         CASE WHEN value <> prev_value THEN 'GEOMETRY' END)
        |  END AS contrib_type
        |FROM (
        |  SELECT *, event_type <> 'error' AS visible,
        |    lag(event_type <> 'error', 1) OVER w AS prev_visible,
        |    lag(props, 1) OVER w AS prev_props,
        |    lag(value, 1) OVER w AS prev_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) t
        |ORDER BY event_id""".stripMargin,
    "hist_edits" ->
      """SELECT user_id AS osm_id, count(*) AS n_edits,
        |  epoch_us(min(ts)) AS first_edit, epoch_us(max(ts)) AS last_edit,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "hist_enrich_user" ->
      """SELECT event_id, user_id, c_name AS user_name,
        |  c_mktsegment AS user_segment, event_type
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,
    "hist_tags" ->
      """SELECT event_type, count(*) AS n_tagged, CAST(sum(tag_k) AS BIGINT) AS sum_k
        |FROM (SELECT event_type,
        |        CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS tag_k
        |      FROM events) t
        |WHERE tag_k >= 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "hist_tag_map" ->
      """SELECT CAST(k_val % 10 AS BIGINT) AS k_bucket, count(*) AS n,
        |  CAST(sum(k_val) AS BIGINT) AS sum_k, min(k_val) AS min_k, max(k_val) AS max_k
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |      FROM events
        |      WHERE json_extract_string(props, '$.k') IS NOT NULL) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "hist_latest" ->
      """SELECT user_id AS osm_id, epoch_us(ts) AS last_ts, event_type,
        |  CASE WHEN event_type = 'error' THEN 'deleted' ELSE 'latest' END AS status
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
        |      FROM events) t
        |WHERE rk = 1 ORDER BY osm_id""".stripMargin)
}
