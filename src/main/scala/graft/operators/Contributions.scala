package graft.operators

import graft.Tables
import graft.functions.GeoFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship composition — the reference's end product: one
  * "contributions" table assembling the whole engine
  * (ContributionsAvroConverter.java): version chain (`osm_version`,
  * `[valid_from, valid_to)`), contribution-type classification, per-entity
  * edit totals, user enrichment, changeset struct (sessionized), point
  * geometry (WKB via the codegen expression) and country (grid broadcast
  * join).
  *
  * Plan shape at scale: ONE shuffle — partition by entity id — feeds every
  * window, including the changeset struct (full-frame windows over
  * (user_id, cs_seq): the coarser hash-clustering already satisfies the
  * finer spec, so no second exchange and no join-back); the user and
  * country dimensions are broadcast. The 100 TB fact table is
  * hash-partitioned once, sorted once.
  */
object Contributions {

  // ---- shared Spark/DuckDB SQL fragments for the geometry attributes ----
  // The reference emits bbox, centroid, geometry_type, length(+delta),
  // area(+delta) per contribution (ContributionsAvroConverter.java:150-164,
  // :119-166), recomputing the geometry per version. Here the evolving
  // entity geometry is the prefix of its points, so every attribute is an
  // O(1) window increment on the SAME entity exchange — no per-version
  // array rebuild. The formulas are the geodesic kernels' math
  // (GeometryTools.java:43-61 length, :203-240 area) with the same
  // fixed-point snapping as geo_geodesic (SURVEY §3.7): identical text
  // runs on both engines.
  private val SF = "pow(1.0 - 1.0/298.257223563, 1.5)"

  private def sin9(lat: String): String =
    s"(round(((1.0 - 1.0/298.257223563) * tan(radians($lat)) / " +
      s"sqrt((1.0 - 1.0/298.257223563) * tan(radians($lat)) * " +
      s"(1.0 - 1.0/298.257223563) * tan(radians($lat)) + 1.0)) * 1000000000.0) / 1000000000.0)"

  /** Per-step geodesic length in mm (flattening-corrected equirectangular,
    * as graft.functions.Geo.geodesicLengthMm) — prefix length is its
    * cumulative sum, and length_delta IS the step.
    */
  private[graft] val stepMmSql: String =
    s"""CASE WHEN plon IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(round(
       |  (sqrt(
       |     ((radians(lon_d) - radians(plon))
       |        * cos((atan($SF * tan(radians(lat_d))) + atan($SF * tan(radians(plat)))) / 2))
       |     * ((radians(lon_d) - radians(plon))
       |        * cos((atan($SF * tan(radians(lat_d))) + atan($SF * tan(radians(plat)))) / 2))
       |     + (atan($SF * tan(radians(lat_d))) - atan($SF * tan(radians(plat))))
       |     * (atan($SF * tan(radians(lat_d))) - atan($SF * tan(radians(plat)))))
       |   * 6371000.0) * 1000.0) AS BIGINT) END""".stripMargin

  /** Chamberlain-Duquette ring-area terms over the point prefix, split so
    * each row is an O(1) window increment: the kernel's term for interior
    * vertex i uses fixed neighbors (i-1, i+1) — accumulated once per row —
    * while the two ring-closure terms (first and last vertex, whose
    * neighbors wrap) are recomputed per prefix from first/second/last
    * values. Terms are fixed-point 1e-9 BIGINTs exactly like
    * Geo.geodesicAreaM2.
    */
  private[graft] val u9Sql: String =
    s"""CASE WHEN osm_version >= 3 THEN CAST(round(
       |  radians(lon_d - lag2_lon) * ${sin9("plat")} * 1000000000.0) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END""".stripMargin
  private[graft] val b09Sql: String =
    s"""CASE WHEN osm_version >= 3 THEN CAST(round(
       |  radians(nth2_lon - lon_d) * ${sin9("first_lat")} * 1000000000.0) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END""".stripMargin
  private[graft] val bk9Sql: String =
    s"""CASE WHEN osm_version >= 3 THEN CAST(round(
       |  radians(first_lon - plon) * ${sin9("lat_d")} * 1000000000.0) AS BIGINT)
       |  ELSE CAST(0 AS BIGINT) END""".stripMargin
  // Integer-exact area tail (round-5 fix for the r4 hash regression): the
  // old tail multiplied the exact BIGINT ring sum by a double multiplier and
  // rounded the product to 1 m² at ~1e13 magnitudes — demanding cross-engine
  // double agreement tighter than libm guarantees. Now the ONLY
  // transcendental is cos(), snapped once to a 1e-9 integer (c9); everything
  // after is exact wide-integer arithmetic that both engines compute
  // bit-identically. Derivation (scales in brackets):
  //   c9   = round(cos(mid_lat) * 1e9)                  [1e9,  BIGINT]
  //   u    = 1e33 - 3352810664747 * c9²                 [(1-f·c²)·1e33]
  //          (3352810664747 = round(1e15/298.257223563), f snapped at 1e15)
  //   v    = u div 1e15                                 [(1-f·c²)·1e18, ≤1e18]
  //   w    = 40680631590769 * v   (= 6378137²)          [2M·1e18, ≤4.1e31]
  //   w2   = w div 1e6                                  [2M·1e12, ≤4.1e25]
  //   x    = |ring9| * w2                               [area·2e21, ≤5.3e35]
  //   area = (x + 1e21) div 2e21                        [m², half-up, BIGINT]
  // Max intermediate 5.3e35 < DECIMAL(38,0) / HUGEINT range. Precision lost
  // to the two staged divs ≤ 3e-4 m² — four orders under the 1 m² output
  // granularity. Spark carries wide values as DECIMAL(38,0) internally
  // (SURVEY §3 rule 0 bans only DECIMAL *output*); DuckDB uses HUGEINT.
  private[graft] val c9Sql: String =
    "CAST(round(cos(radians((ymax_c + ymin_c) / 2)) * 1000000000.0) AS BIGINT)"

  // Spark side stages the pipeline as columns (Catalyst folds them into one
  // codegen'd projection); `div` (IntegralDivide → BIGINT) is used where the
  // quotient fits a long, the subtract-remainder identity
  // (w - w % 1e6) / 1e6 — an exactly-divisible decimal division — where it
  // does not.
  private[graft] val areaVSql: String =
    s"""(CAST(1000000000000000000000000000000000 AS DECIMAL(38,0))
       | - CAST(3352810664747 AS DECIMAL(38,0))
       |   * CAST($c9Sql * $c9Sql AS DECIMAL(38,0))) div 1000000000000000""".stripMargin
  private[graft] val areaW2Sql: String =
    """CAST((area_w - area_w % 1000000) / 1000000 AS DECIMAL(32,0))"""
  private[graft] val areaM2SparkSql: String =
    """CASE WHEN osm_version < 3 THEN CAST(0 AS BIGINT) ELSE
      |  (CAST(abs(interior9 + b0_9 + bk_9) AS DECIMAL(38,0)) * area_w2
      |   + CAST(1000000000000000000000 AS DECIMAL(38,0)))
      |  div 2000000000000000000000 END""".stripMargin

  private val areaM2DuckSql: String =
    s"""CASE WHEN osm_version < 3 THEN CAST(0 AS BIGINT) ELSE CAST(
       |  (CAST(abs(interior9 + b0_9 + bk_9) AS HUGEINT)
       |     * ((CAST(40680631590769 AS HUGEINT)
       |         * ((CAST(1000000000000000000000000000000000 AS HUGEINT)
       |             - CAST(3352810664747 AS HUGEINT)
       |               * CAST($c9Sql * $c9Sql AS HUGEINT))
       |            // 1000000000000000))
       |        // 1000000)
       |   + 1000000000000000000000)
       |  // 2000000000000000000000 AS BIGINT) END""".stripMargin

  // ---- contribution rules shared by every derivation path ---------------

  /** Contribution type of one version against its predecessor, in the
    * exact decision order of ContributionsAvroConverter.java:167-180:
    * not visible → DELETION; predecessor absent or not visible → CREATION;
    * else the "_"-join of TAG (tags changed) and GEOMETRY (geometry
    * changed), "" when neither did. Each caller states its own change
    * predicates; a null predicate counts as unchanged.
    */
  def contribType(visible: Column, prevVisible: Column,
      tagsChanged: Column, geomChanged: Column): Column =
    when(!visible, "DELETION")
      .when(prevVisible.isNull || !prevVisible, "CREATION")
      .otherwise(concat_ws("_", when(tagsChanged, "TAG"), when(geomChanged, "GEOMETRY")))

  /** A way version whose refs do not all resolve to a node position:
    * the reference marks such geometries invalid (GeometryBuilder
    * missing-member handling) instead of emitting a shortened line.
    * `nPts` is the number of resolved refs (null: none resolved).
    */
  private[graft] def wayIncomplete(refs: Column, nPts: Column): Column =
    size(coalesce(refs, array())) > 0 && coalesce(nPts, lit(0)) < size(refs)

  /** Geometry shape of one way version (ContributionGeometry.wayGeometry)
    * over its resolved ref positions `xs`/`ys` (ref order, `nPts` of
    * them): null when incomplete or nothing resolved; "Polygon" for a
    * closed way whose tags pass the osm-polygon-features ruleset
    * ([[graft.functions.PolygonFeatures.isArea]]) and whose ring has ≥ 4
    * points (JTS LinearRing.MINIMUM_VALID_SIZE) and does not intersect
    * itself (the reference's geom.isValid gate; the kernel takes the OPEN
    * ring, so the closing vertex comes off); "Point" when the refs resolve
    * to one point (wayGeometry:152-155); "LineString" otherwise.
    */
  private[graft] def wayShape(tags: Column, refs: Column, nPts: Column,
      xs: Column, ys: Column): Column =
    when(wayIncomplete(refs, nPts), lit(null))
      .when(graft.functions.PolygonFeatures.isArea(tags, refs) && nPts >= 4 &&
        !call_function("ring_self_intersects",
          slice(xs, lit(1), size(xs) - 1), slice(ys, lit(1), size(ys) - 1)), "Polygon")
      .when(nPts === 1, "Point")
      .when(nPts.isNotNull, "LineString")

  /** WKB of a [[wayShape]]: null for a null shape. */
  private[graft] def wayWkb(shape: Column, xs: Column, ys: Column): Column =
    when(shape === "Polygon", call_function("wkb_poly", xs, ys))
      .when(shape === "Point", call_function("wkb_point", element_at(xs, 1), element_at(ys, 1)))
      .when(shape === "LineString", call_function("wkb_line", xs, ys))

  /** Node coordinate-range guard: out-of-bounds or missing lon/lat gets no
    * geometry (ContributionGeometry.invalid:187-189 → EMPTY point; null is
    * this engine's no-geometry convention).
    */
  private[graft] def nodeInRange(lat: Column, lon: Column): Column =
    lat.isNotNull && !isnan(lat) && abs(lat) <= 90.0 && abs(lon) <= 180.0

  /** Flagship contribution assembly at full reference row width
    * (contrib.avsc). Deliberately excluded from the schema: `build_time`
    * — the avsc field is a wall-clock stamp of the pipeline run itself,
    * non-deterministic by design and therefore incompatible with the
    * bit-exact oracle contract (two runs of the reference disagree on it
    * too). Every other avsc column has a synthesized analog here,
    * including the r14 `refs_count`/`members_count` pair.
    */
  def contribFull(s: SparkSession, dir: String): DataFrame = {
    GeoFunctions.register(s)
    val byEntity = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val entityAll = Window.partitionBy("user_id")
    val cumFrame = byEntity.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // spreadIfSmall on the window key (r15, guide §2.2/§2.5): the whole
    // enrichment pipeline below is ONE stage of per-entity windows +
    // geometry/decimal kernels behind an Exchange(user_id) that AQE
    // coalesced to 4 post-shuffle tasks at bench scale (1.1 s of the
    // 1.9 s wall on a 32-core box, ProfileKey r15). The window needs the
    // user_id exchange regardless, so pinning its width to the
    // size-derived count costs nothing — and at cluster scale the hook
    // is a no-op and AQE keeps sizing the real shuffle.
    val e = Tables.spreadIfSmall(s, dir, "events",
        Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000")),
        Seq("user_id"))
      // session (changeset) assignment: 6h gap, same rule as cs_build
      .withColumn("gap_flag",
        when(col("ts_us") - lag("ts_us", 1).over(byEntity) > Changesets.GapUs ||
          lag("ts_us", 1).over(byEntity).isNull, 1).otherwise(0))
      .withColumn("cs_seq", sum("gap_flag").over(
        byEntity.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // version chain
      .withColumn("osm_version", row_number().over(byEntity))
      .withColumn("valid_from", col("ts_us"))
      .withColumn("valid_to", lead("ts_us", 1).over(byEntity))
      // contribution classification vs previous version
      .withColumn("visible", col("event_type") =!= "error")
      .withColumn("prev_visible", lag("visible", 1).over(byEntity))
      .withColumn("prev_props", lag("props", 1).over(byEntity))
      .withColumn("prev_value", lag("value", 1).over(byEntity))
      .withColumn("contrib_type", contribType(col("visible"), col("prev_visible"),
        col("props") =!= col("prev_props"), col("value") =!= col("prev_value")))
      // entity totals (osm_edits / osm_last_edit)
      .withColumn("osm_edits", count(lit(1)).over(entityAll))
      .withColumn("osm_last_edit", max("ts_us").over(entityAll))
      // point geometry: integer degrees → exact WKB + grid cell
      .withColumn("lon_i", (col("event_id") * 31) % 360 - 180)
      .withColumn("lat_i", (col("event_id") * 17) % 180 - 90)
      .withColumn("wkb", call_function("wkb_point",
        col("lon_i").cast("double"), col("lat_i").cast("double")))
      .withColumn("cell", expr("((lat_i + 90) div 36) * 5 + ((lon_i + 180) div 72)"))
      // geometry attributes of the evolving entity geometry (point prefix):
      // bbox / centroid / geodesic length + area with deltas — reference
      // row width (ContributionsAvroConverter.java:150-164), all on the
      // same entity exchange (cumFrame windows share byEntity's sort)
      .withColumn("lon_d", col("lon_i").cast("double"))
      .withColumn("lat_d", col("lat_i").cast("double"))
      .withColumn("plon", lag("lon_d", 1).over(byEntity))
      .withColumn("plat", lag("lat_d", 1).over(byEntity))
      .withColumn("lag2_lon", lag("lon_d", 2).over(byEntity))
      .withColumn("first_lon", first("lon_d").over(cumFrame))
      .withColumn("first_lat", first("lat_d").over(cumFrame))
      .withColumn("nth2_lon", nth_value(col("lon_d"), 2).over(cumFrame))
      .withColumn("ymin_c", min("lat_d").over(cumFrame))
      .withColumn("ymax_c", max("lat_d").over(cumFrame))
      .withColumn("bbox_xmin", min("lon_i").over(cumFrame))
      .withColumn("bbox_ymin", min("lat_i").over(cumFrame))
      .withColumn("bbox_xmax", max("lon_i").over(cumFrame))
      .withColumn("bbox_ymax", max("lat_i").over(cumFrame))
      // XZ curve code of the evolving bbox (reference: xzcode per
      // contribution, ContributionsAvroConverter.java:24 + util/XZCode
      // .java) — the log-free integer-box kernel, because integer-degree
      // extents 45/90/180 normalize to exact powers of 0.5 where the
      // libm-based level pick is a cross-engine coin flip
      .withColumn("xz_code", call_function("xz_code_i",
        col("bbox_xmin"), col("bbox_ymin"), col("bbox_xmax"), col("bbox_ymax")))
      .withColumn("centroid_x", sum("lon_i").over(cumFrame).cast("double") / col("osm_version"))
      .withColumn("centroid_y", sum("lat_i").over(cumFrame).cast("double") / col("osm_version"))
      .withColumn("step_mm", expr(stepMmSql))
      .withColumn("length_mm", sum("step_mm").over(cumFrame))
      .withColumn("u9", expr(u9Sql))
      .withColumn("interior9", sum("u9").over(cumFrame))
      .withColumn("b0_9", expr(b09Sql))
      .withColumn("bk_9", expr(bk9Sql))
      .withColumn("area_w", expr(
        s"CAST(40680631590769 AS DECIMAL(38,0)) * CAST(($areaVSql) AS DECIMAL(38,0))"))
      .withColumn("area_w2", expr(areaW2Sql))
      .withColumn("area_m2", expr(areaM2SparkSql))
      .withColumn("area_delta_m2",
        col("area_m2") - coalesce(lag("area_m2", 1).over(byEntity), lit(0L)))
      .withColumn("geometry_type",
        when(col("osm_version") === 1, "Point")
          .when(col("osm_version") === 2, "LineString")
          .otherwise("Polygon"))

    // changeset struct: full-frame windows over (user_id, cs_seq) —
    // hash-clustering on user_id already satisfies the finer partition
    // spec, so this adds NO exchange and NO join-back (one scan total)
    val byCs = Window.partitionBy("user_id", "cs_seq")
    val withCs = e
      .withColumn("cs_created_at", min("ts_us").over(byCs))
      .withColumn("cs_closed_at", max("ts_us").over(byCs))
      .withColumn("cs_num_changes", count(lit(1)).over(byCs))
      // editor: the deterministic per-user rule shared with cs_enrich —
      // completes the reference changeset struct (closed_at, editor,
      // numChanges; docs/CLI.md "Join Changeset Tags")
      .withColumn("cs_editor", concat(lit("editor/"), col("user_id") % 7))

    val users = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name").as("user_name"))
    val countries = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("long").as("cell"), col("n_name").as("country"))

    withCs
      .join(broadcast(users), col("user_id") === col("c_custkey"), "left")
      .join(broadcast(countries), Seq("cell"), "left")
      .withColumn("status",
        when(!col("visible"), "deleted")
          .when(col("valid_to").isNotNull, "history")
          .otherwise("latest"))
      .select(
        col("user_id").as("osm_id"), col("osm_version"),
        col("valid_from"), col("valid_to"), col("contrib_type"), col("status"),
        col("props").as("tags_raw"), col("prev_props").as("tags_before"),
        col("osm_edits"), col("osm_last_edit"), col("user_name"),
        col("cs_seq"), col("cs_created_at"), col("cs_closed_at"),
        col("cs_num_changes"), col("cs_editor"),
        col("lon_d"), col("lat_d"),
        col("wkb"), col("country"), col("geometry_type"),
        col("bbox_xmin"), col("bbox_ymin"), col("bbox_xmax"), col("bbox_ymax"),
        col("xz_code"),
        col("centroid_x"), col("centroid_y"),
        col("length_mm"), col("step_mm").as("length_delta_mm"),
        col("area_m2"), col("area_delta_m2"),
        // contrib.avsc:290/308 schema width (r14): refs_count = node
        // references of the evolving way geometry — in the synthetic
        // model the version-v geometry is the v-point prefix, and a
        // version-1 contribution is a Point (avsc: "Always 0 for types
        // node"); members_count stays the avsc default 0 (the synthetic
        // corpus has no relation analog)
        when(col("osm_version") === 1, lit(0))
          .otherwise(col("osm_version")).cast("int").as("refs_count"),
        lit(0).as("members_count"))
  }

  /** Contribution derivation over REAL OSM entities (the osmpbf reader's
    * schema: osm_type, id, version, ts_ms, changeset, uid, user, visible,
    * lat, lon, tags, refs, members) — the pipeline a reference user runs
    * on an actual history file: per-element version chains, classification
    * against the previous version (tag map + coordinate comparison),
    * status, XZ spatial code for point geometries.
    *
    * One shuffle: (osm_type, id). Windows chain on that single exchange,
    * exactly like the synthetic contribFull.
    */
  def fromEntities(entities: DataFrame): DataFrame = {
    val s = entities.sparkSession
    GeoFunctions.register(s)
    val w = Window.partitionBy("osm_type", "id").orderBy("version", "ts_ms")
    entities
      .withColumn("valid_from", col("ts_ms"))
      .withColumn("valid_to", lead("ts_ms", 1).over(w))
      .withColumn("prev_visible", lag("visible", 1).over(w))
      .withColumn("prev_tags", lag("tags", 1).over(w))
      .withColumn("prev_lat", lag("lat", 1).over(w))
      .withColumn("prev_lon", lag("lon", 1).over(w))
      .withColumn("prev_refs", lag("refs", 1).over(w))
      .withColumn("tags_changed",
        array_sort(map_entries(col("tags"))) =!=
          array_sort(map_entries(coalesce(col("prev_tags"), map()))))
      .withColumn("geom_changed",
        (col("lat") =!= col("prev_lat")) || (col("lon") =!= col("prev_lon")) ||
          (col("refs") =!= col("prev_refs")))
      .withColumn("contrib_type", contribType(col("visible"), col("prev_visible"),
        col("tags_changed"), col("geom_changed")))
      .withColumn("status",
        when(!col("visible"), "deleted")
          .when(col("valid_to").isNotNull, "history")
          .otherwise("latest"))
      .withColumn("xz_code",
        when(col("lat").isNotNull && !isnan(col("lat")),
          call_function("xz_code", col("lon"), col("lat"), col("lon"), col("lat"))))
      .select(col("osm_type"), col("id").as("osm_id"), col("version").as("osm_version"),
        col("valid_from"), col("valid_to"), col("contrib_type"), col("status"),
        col("changeset"), col("uid"), col("user"), col("tags"),
        col("lat"), col("lon"), col("refs"), col("members"),
        // contrib.avsc:290/308: refs_count counts node references (ways
        // only — "Always 0 for types node, relation"), members_count
        // counts relation members ("Always 0 for node, way"); both
        // default 0, never null
        when(col("osm_type") === "way" && col("refs").isNotNull,
          size(col("refs"))).otherwise(0).as("refs_count"),
        when(col("osm_type") === "relation" && col("members").isNotNull,
          size(col("members"))).otherwise(0).as("members_count"),
        col("xz_code"))
  }

  /** Node rows (id, ts_ms, version, visible, lon, lat) as [[refPositions]]
    * candidates; a deleted version carries no coordinates.
    */
  private[graft] def refCandidates(nodes: DataFrame): DataFrame =
    nodes.select(col("id").as("node_id"), col("ts_ms").as("node_ts"),
      col("version").as("node_version"),
      when(col("visible"), col("lon")).as("lon"), when(col("visible"), col("lat")).as("lat"))

  /** Ref positions as of each row's instant — the one ref resolver under
    * every way geometry (batch, minor-version and update path). Each ref in
    * `refsCol` resolves through [[AsofJoin.asof]] to the newest version in
    * `nodes` at or before the row's `tsCol`, a timestamp tie to the higher
    * version; a winner without coordinates leaves its ref unresolved. Only
    * the keys, ref position, node id and instant go through the shuffle.
    *
    * @param nodes (node_id, node_ts, node_version, lon, lat); a deleted
    *              version has null lon/lat ([[refCandidates]])
    * @return per `keys` with at least one resolved ref: `n_pts` (resolved
    *         refs), `n_refs` and the resolved `lons`/`lats` in ref order
    */
  private[graft] def refPositions(rows: DataFrame, keys: Seq[String], tsCol: String,
      refsCol: String, nodes: DataFrame): DataFrame = {
    val refs = rows.select((keys.map(col) :+ col(tsCol).as("__row_ts") :+
      posexplode(col(refsCol)).as(Seq("__pos", "node_id"))): _*)
    val resolved = col("lon").isNotNull && col("lat").isNotNull &&
      !isnan(col("lon")) && !isnan(col("lat"))
    AsofJoin.asof(refs, nodes, "node_id", "__row_ts", "node_ts", Seq("lon", "lat"),
        tieBreak = Seq("node_version"))
      .groupBy(keys.map(col): _*)
      .agg(count(when(resolved, 1)).as("n_pts"), count(lit(1)).as("n_refs"),
        sort_array(collect_list(
          when(resolved, struct(col("__pos"), col("lon"), col("lat"))))).as("pts"))
      .filter(col("n_pts") > 0)
      .select((keys.map(col) ++ Seq(col("n_pts"), col("n_refs"),
        expr("transform(pts, p -> p.lon)").as("lons"),
        expr("transform(pts, p -> p.lat)").as("lats"))): _*)
  }

  /** Geometry assembly for REAL contributions (the reference's
    * ContributionGeometry step): node rows get point WKB; way rows get the
    * geometry of their refs' AS-OF positions ([[refPositions]]: each ref
    * resolved to the newest node version at or before the way version's
    * timestamp, a deleted node leaving the ref unresolved), shaped by
    * [[wayShape]].
    *
    * Scale: the as-of lookup shuffles only (way key, ref position, node id,
    * ts) rows and node versions on node id; the positions join back onto
    * the way rows once, keyed (osm_type, way id, version).
    */
  def withGeometries(entities: DataFrame): DataFrame = {
    val s = entities.sparkSession
    GeoFunctions.register(s)
    val base = fromEntities(entities)
    val wayPts = refPositions(base.filter(col("osm_type") === "way")
        .select(col("osm_id").as("way_id"), col("osm_version").as("way_version"),
          col("valid_from"), col("refs")),
      Seq("way_id", "way_version"), "valid_from", "refs",
      refCandidates(entities.filter(col("osm_type") === "node")))
    base
      // osm_type gate: relation ids overlap way ids freely, and only way
      // rows may take way positions
      .join(wayPts,
        base("osm_type") === lit("way") &&
          base("osm_id") === wayPts("way_id") &&
          base("osm_version") === wayPts("way_version"), "left")
      .withColumn("geom_incomplete",
        col("osm_type") === "way" && wayIncomplete(col("refs"), col("n_pts")))
      .withColumn("node_ok", col("osm_type") === "node" && nodeInRange(col("lat"), col("lon")))
      .withColumn("way_shape", wayShape(col("tags"), col("refs"), col("n_pts"),
        col("lons"), col("lats")))
      .withColumn("wkb",
        when(col("node_ok"), call_function("wkb_point", col("lon"), col("lat")))
          .when(col("osm_type") === "node", lit(null))
          .otherwise(wayWkb(col("way_shape"), col("lons"), col("lats"))))
      .withColumn("geometry_type",
        when(col("node_ok"), "Point")
          .when(col("osm_type") === "node", lit(null))
          .otherwise(col("way_shape")))
      // deleted contributions carry the PREVIOUS version's geometry
      // (docs/faq.md "How can I filter for deleted OSM elements?": raw
      // OSM provides no geometry for deleted versions, so the reference
      // assigns the prior version's — that is what makes deletions
      // spatially filterable). The lag rides the same (type, id)
      // key every other per-entity window uses.
      .withColumn("geometry_type",
        when(col("status") === "deleted" && col("wkb").isNull,
          lag("geometry_type", 1).over(Window.partitionBy("osm_type", "osm_id")
            .orderBy("osm_version")))
          .otherwise(col("geometry_type")))
      .withColumn("wkb",
        when(col("status") === "deleted" && col("wkb").isNull,
          lag("wkb", 1).over(Window.partitionBy("osm_type", "osm_id")
            .orderBy("osm_version")))
          .otherwise(col("wkb")))
      .withColumn("geom_valid", !col("geom_incomplete"))
      .drop("way_id", "way_version", "lons", "lats", "n_pts", "n_refs", "way_shape",
        "node_ok", "geom_incomplete")
  }

  /** Per-member geometry structs for RELATION rows — the docs'
    * member-extraction surface (useful_queries.md "Extract relation member
    * geometries": `unnest(members)` with `m.geometry`, m_id =
    * `format('{}/{}', m.type, m.id)`). Every relation contribution gains
    * `members_geo: array<struct<m_id, role, wkb>>` where each member
    * resolves AS OF the relation row's valid_from to that member's own
    * contribution geometry (node point / way linestring from
    * [[withGeometries]]; a timestamp tie to the higher member version);
    * members with no resolvable version carry a null wkb rather than
    * disappearing.
    *
    * Scale: one [[AsofJoin.asof]] of the exploded members against the
    * member contribution rows, keyed on (type, id) as one struct column,
    * and a collect keyed on (relation, version). No broadcast of the fact
    * side, no driver work.
    */
  def withMemberGeometries(entities: DataFrame): DataFrame = {
    val base = withGeometries(entities)
    val memberRows = base.filter(col("osm_type").isin("node", "way"))
      .select(struct(col("osm_type").as("m_type"), col("osm_id").as("m_ref")).as("m_key"),
        col("valid_from").as("m_ts"), col("osm_version").as("m_ver"),
        col("wkb").as("m_wkb"))
    val relMembers = base.filter(col("osm_type") === "relation" && col("members").isNotNull)
      .select(col("osm_id").as("rel_id"), col("osm_version").as("rel_version"),
        col("valid_from").as("rel_ts"), posexplode(col("members")).as(Seq("mpos", "m")))
      .select(col("rel_id"), col("rel_version"), col("rel_ts"), col("mpos"),
        struct(col("m.mtype").as("m_type"), col("m.ref").as("m_ref")).as("m_key"),
        col("m.role").as("m_role"))
    val membersGeo = AsofJoin.asof(relMembers, memberRows, "m_key", "rel_ts", "m_ts",
        Seq("m_wkb"), tieBreak = Seq("m_ver"))
      .groupBy("rel_id", "rel_version")
      .agg(sort_array(collect_list(struct(col("mpos"),
        concat(col("m_key.m_type"), lit("/"), col("m_key.m_ref")).as("m_id"),
        col("m_role").as("role"), col("m_wkb").as("wkb")))).as("ms"))
      .select(col("rel_id"), col("rel_version"),
        expr("transform(ms, m -> struct(m.m_id, m.role, m.wkb))").as("members_geo"))
    // osm_type gate: node/way id spaces overlap relation ids freely (low
    // ids collide on every planet file) — only relation rows may match
    base.join(membersGeo,
      base("osm_type") === lit("relation") &&
        base("osm_id") === membersGeo("rel_id") &&
        base("osm_version") === membersGeo("rel_version"), "left")
      .drop("rel_id", "rel_version")
  }

  /** `--country-file` enrichment for REAL contributions (docs/CLI.md
    * "Join Country Codes" + SpatialGridJoiner semantics): every row gets a
    * `countries` array — all boundary features containing its point (rows
    * near borders legitimately match several). The (tiny) country file
    * builds a 1°×1° covering-grid index on the driver, broadcast and
    * probed per row inside `mapPartitions`: full cells short-circuit, the
    * even-odd refine runs only on partial cells, and the 100 TB fact side
    * neither shuffles nor re-aggregates (an array result per row can't be
    * a plain equi-join without a join-back groupBy — this is the
    * reference's exact per-row joiner shape instead).
    */
  def withCountries(df: DataFrame, countryFile: String,
      lonCol: String = "lon", latCol: String = "lat"): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val s = df.sparkSession
    val feats = graft.sources.WktBoundaries.readCountryCsv(countryFile)
    val cells = graft.sources.WktBoundaries.gridCells(feats, 1, 1, 360)
    val index: Map[Long, Array[(String, Boolean, Array[Double], Array[Double], Array[Int])]] =
      cells.groupBy(_.scid).map { case (k, rs) =>
        k -> rs.map(r =>
          (r.country, r.full_cell, r.xs.toArray, r.ys.toArray, r.offs.toArray)).toArray
      }
    val bc = s.sparkContext.broadcast(index)
    val li = df.schema.fieldIndex(lonCol)
    val la = df.schema.fieldIndex(latCol)
    val outSchema = df.schema.add("countries", ArrayType(StringType))
    df.mapPartitions { it =>
      val idx = bc.value
      it.map { r =>
        val cs: Seq[String] =
          if (r.isNullAt(li) || r.isNullAt(la)) Seq.empty
          else {
            val lon = r.getDouble(li)
            val lat = r.getDouble(la)
            if (lon.isNaN || lat.isNaN) Seq.empty
            else {
              val scid = math.floor(lat).toLong * 360 + math.floor(lon).toLong
              idx.getOrElse(scid, Array.empty).iterator.collect {
                case (c, full, xs, ys, offs)
                  if full || graft.functions.Geo.pointInRings(lon, lat, xs, ys, offs) => c
              }.toSeq.distinct.sorted
            }
          }
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ cs)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "contrib_full" -> (contribFull _))

  private val oracleSql: String = {
    val bitsX = Geometry.bitsDef("lon_i", "x")
    val bitsY = Geometry.bitsDef("lat_i", "y")
    val hexX = Geometry.leBitsSql("lon_i", "x")
    val hexY = Geometry.leBitsSql("lat_i", "y")
    s"""WITH base AS (
       |  SELECT *, epoch_us(ts) AS ts_us,
       |    (event_id * 31) % 360 - 180 AS lon_i,
       |    (event_id * 17) % 180 - 90 AS lat_i
       |  FROM events),
       |sess AS (
       |  SELECT *, CAST(sum(gap_flag) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs_seq
       |  FROM (SELECT *,
       |          CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > ${Changesets.GapUs} THEN 1 ELSE 0 END AS gap_flag
       |        FROM (SELECT *, lag(ts_us, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_ts
       |              FROM base) a) b),
       |vers AS (
       |  SELECT *, row_number() OVER w AS osm_version,
       |    ts_us AS valid_from, lead(ts_us, 1) OVER w AS valid_to,
       |    event_type <> 'error' AS visible,
       |    lag(event_type <> 'error', 1) OVER w AS prev_visible,
       |    lag(props, 1) OVER w AS prev_props,
       |    lag(value, 1) OVER w AS prev_value,
       |    count(*) OVER (PARTITION BY user_id) AS osm_edits,
       |    max(ts_us) OVER (PARTITION BY user_id) AS osm_last_edit,
       |    CAST(lon_i AS DOUBLE) AS lon_d, CAST(lat_i AS DOUBLE) AS lat_d,
       |    lag(CAST(lon_i AS DOUBLE), 1) OVER w AS plon,
       |    lag(CAST(lat_i AS DOUBLE), 1) OVER w AS plat,
       |    lag(CAST(lon_i AS DOUBLE), 2) OVER w AS lag2_lon,
       |    first_value(CAST(lon_i AS DOUBLE)) OVER wc AS first_lon,
       |    first_value(CAST(lat_i AS DOUBLE)) OVER wc AS first_lat,
       |    nth_value(CAST(lon_i AS DOUBLE), 2) OVER wc AS nth2_lon,
       |    min(CAST(lat_i AS DOUBLE)) OVER wc AS ymin_c,
       |    max(CAST(lat_i AS DOUBLE)) OVER wc AS ymax_c,
       |    CAST(min(lon_i) OVER wc AS BIGINT) AS bbox_xmin,
       |    CAST(min(lat_i) OVER wc AS BIGINT) AS bbox_ymin,
       |    CAST(max(lon_i) OVER wc AS BIGINT) AS bbox_xmax,
       |    CAST(max(lat_i) OVER wc AS BIGINT) AS bbox_ymax,
       |    CAST(sum(lon_i) OVER wc AS DOUBLE) AS clon_sum,
       |    CAST(sum(lat_i) OVER wc AS DOUBLE) AS clat_sum
       |  FROM sess
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id),
       |         wc AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |geo1 AS (
       |  SELECT *, $stepMmSql AS step_mm, $u9Sql AS u9, $b09Sql AS b0_9, $bk9Sql AS bk_9
       |  FROM vers),
       |geo2 AS (
       |  SELECT *,
       |    CAST(sum(step_mm) OVER wc AS BIGINT) AS length_mm,
       |    CAST(sum(u9) OVER wc AS BIGINT) AS interior9
       |  FROM geo1
       |  WINDOW wc AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |geo3 AS (SELECT *, $areaM2DuckSql AS area_m2 FROM geo2),
       |geo4 AS (
       |  SELECT *,
       |    area_m2 - coalesce(lag(area_m2, 1) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
       |                       CAST(0 AS BIGINT)) AS area_delta_m2
       |  FROM geo3),
       |xz0 AS (
       |  SELECT event_id,
       |    greatest(bbox_xmax - bbox_xmin, bbox_ymax - bbox_ymin) AS e,
       |    (180.0 + CAST(bbox_xmin AS DOUBLE)) / 360.0 AS x0,
       |    (90.0 + CAST(bbox_ymin AS DOUBLE)) / 360.0 AS y0,
       |    (180.0 + CAST(bbox_xmax AS DOUBLE)) / 360.0 AS x1,
       |    (90.0 + CAST(bbox_ymax AS DOUBLE)) / 360.0 AS y1
       |  FROM vers),
       |xz1 AS (
       |  SELECT *, CASE
       |    WHEN e * 2 > 360 THEN 0 WHEN e * 4 > 360 THEN 1 WHEN e * 8 > 360 THEN 2
       |    WHEN e * 16 > 360 THEN 3 WHEN e * 32 > 360 THEN 4 WHEN e * 64 > 360 THEN 5
       |    WHEN e * 128 > 360 THEN 6 WHEN e * 256 > 360 THEN 7 ELSE 8 END AS l1
       |  FROM xz0),
       |xz2 AS (
       |  SELECT event_id, x0, y0, CASE WHEN e <= 0 THEN 16
       |    WHEN x1 <= floor(x0 / pow(0.5, l1 + 1)) * pow(0.5, l1 + 1) + 2 * pow(0.5, l1 + 1)
       |     AND y1 <= floor(y0 / pow(0.5, l1 + 1)) * pow(0.5, l1 + 1) + 2 * pow(0.5, l1 + 1)
       |    THEN l1 + 1 ELSE l1 END AS length
       |  FROM xz1),
       |s0 AS (SELECT event_id, x0, y0, length,
       |    0.0 AS xlo, 1.0 AS xhi, 0.0 AS ylo, 1.0 AS yhi, CAST(0 AS BIGINT) AS code
       |  FROM xz2),
       |${Geometry.xzStagesSql}
       |xz AS (SELECT event_id, code AS xz_code FROM s16),
       |cs AS (
       |  SELECT user_id, cs_seq, min(ts_us) AS cs_created_at,
       |    max(ts_us) AS cs_closed_at, count(*) AS cs_num_changes
       |  FROM sess GROUP BY 1, 2),
       |bits AS (SELECT event_id, lon_i, lat_i, $bitsX, $bitsY FROM base),
       |wkbs AS (SELECT event_id, '0101000000' || $hexX || $hexY AS wkb FROM bits)
       |SELECT v.user_id AS osm_id, v.osm_version, v.valid_from, v.valid_to,
       |  CASE WHEN NOT v.visible THEN 'DELETION'
       |       WHEN v.prev_visible IS NULL OR NOT v.prev_visible THEN 'CREATION'
       |       ELSE concat_ws('_',
       |         CASE WHEN v.props <> v.prev_props THEN 'TAG' END,
       |         CASE WHEN v.value <> v.prev_value THEN 'GEOMETRY' END)
       |  END AS contrib_type,
       |  CASE WHEN NOT v.visible THEN 'deleted'
       |       WHEN v.valid_to IS NOT NULL THEN 'history'
       |       ELSE 'latest' END AS status,
       |  v.props AS tags_raw, v.prev_props AS tags_before,
       |  v.osm_edits, v.osm_last_edit, c_name AS user_name,
       |  v.cs_seq, cs.cs_created_at, cs.cs_closed_at, cs.cs_num_changes,
       |  'editor/' || (v.user_id % 7) AS cs_editor,
       |  v.lon_d, v.lat_d,
       |  w.wkb, n_name AS country,
       |  CASE WHEN v.osm_version = 1 THEN 'Point'
       |       WHEN v.osm_version = 2 THEN 'LineString'
       |       ELSE 'Polygon' END AS geometry_type,
       |  v.bbox_xmin, v.bbox_ymin, v.bbox_xmax, v.bbox_ymax,
       |  xz.xz_code,
       |  v.clon_sum / v.osm_version AS centroid_x,
       |  v.clat_sum / v.osm_version AS centroid_y,
       |  v.length_mm, v.step_mm AS length_delta_mm,
       |  v.area_m2, v.area_delta_m2,
       |  CAST(CASE WHEN v.osm_version = 1 THEN 0 ELSE v.osm_version END AS INT) AS refs_count,
       |  CAST(0 AS INT) AS members_count
       |FROM geo4 v
       |JOIN wkbs w ON w.event_id = v.event_id
       |JOIN xz ON xz.event_id = v.event_id
       |JOIN cs ON cs.user_id = v.user_id AND cs.cs_seq = v.cs_seq
       |LEFT JOIN customer ON v.user_id = c_custkey
       |LEFT JOIN nation ON ((v.lat_i + 90) // 36) * 5 + ((v.lon_i + 180) // 72) = n_nationkey
       |ORDER BY osm_id, osm_version""".stripMargin
  }

  val oracles: Map[String, String] = Map("contrib_full" -> oracleSql)
}
