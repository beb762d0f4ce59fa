package graft.operators

import graft.functions.GeoFunctions
import graft.sources.ChangesetStore
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Entity-typed replication update — the reference's ContributionUpdater
  * (ohsome-replication-update/.../update/ContributionUpdater.java) +
  * UpdateStore (ohsome-replication/.../UpdateStore.java) re-expressed on
  * Spark. Given one minutely `.osc` diff:
  *
  *  1. diff NODES become node contributions (classified against the
  *     stored before-version);
  *  2. coordinate-changing node edits propagate through NODE→WAY
  *     backreferences to parent ways NOT themselves in the diff, emitting
  *     way MINOR-version contributions with geometry rebuilt as of each
  *     edit (ContributionUpdater.newWays:382-391);
  *  3. diff WAYS become major way contributions (geometry from as-of
  *     member coordinates, like the batch assembly);
  *  4. node edits and way changes propagate through NODE→RELATION /
  *     WAY→RELATION backreferences to relation minor versions
  *     (newRelations:401-418);
  *  5. the persistent store (latest entity versions + backref tables) is
  *     upserted so the next diff sees this one's state.
  *
  * One rule set with the batch path: contribution types come from
  * [[Contributions.contribType]]; way geometry from
  * [[Contributions.wayShape]] / [[Contributions.wayWkb]] (null if a ref is
  * unresolved, Polygon for a valid closed area, Point for one resolved
  * point, else LineString) over the refs' as-of positions; node geometry
  * from the [[Contributions.nodeInRange]] guard; relation geometry from
  * the batch assembly's ring builder, [[RelationGeometry.build]]. Within
  * this object, the majors of every entity type come from one step
  * ([[majorsOf]]), way and relation minors from one step ([[minorsOf]]),
  * ref positions from the batch path's as-of resolver
  * ([[Contributions.refPositions]] over [[refNodes]]), emitted rows from
  * one projection ([[emit]]) and way and relation store rows from one
  * builder ([[parentRows]]).
  *
  * One known divergence from the batch path remains: an update-path
  * DELETION row carries a null geometry, where
  * [[Contributions.withGeometries]] carries the previous version's. The
  * store keeps no geometry to carry forward.
  *
  * Where the reference keeps RocksDB maps (UpdateStoreRocksDb.java) because
  * a single JVM cannot shuffle, the Spark store is six bucketed parquet
  * tables ([[graft.sources.ChangesetStore]] layout: hash buckets +
  * manifest + atomic pointer). Every lookup is bucket-pruned to the
  * diff's key set ([[ChangesetStore.readBucketsFor]]) and every write
  * rewrites only touched buckets. A diff of k distinct keys per table
  * touches about min(NumBuckets, k) buckets of it: pruning saves I/O
  * only for diffs of fewer keys than buckets. A 300-change minutely diff
  * touches all 64 buckets of every table, and one step installs about
  * 510 store files (511 measured).
  *
  * Scale shape: the diff is tiny (minutely) — every diff-derived frame is
  * broadcast into its join against store reads; the only row-matched
  * store data ever materialized is the touched-bucket subset, and the
  * as-of geometry rebuild shuffles only the refs of emitted way rows and
  * their candidate node versions ([[AsofJoin.asof]]).
  *
  * Materialized once: each store read and each store upsert batch is
  * eagerly checkpointed once, so its readers (the bucket collect, the
  * broadcast key set, the emptiness test, the merge, the joins) read that
  * copy instead of re-running the diff lineage behind it. Key frames are
  * narrow projections of such copies and skip the `distinct`: the bucket
  * collect and the semi/anti joins they feed need key existence only.
  */
object OsmUpdater {

  val NumBuckets = 64

  // ---- store layout -----------------------------------------------------

  private def dir(root: String, name: String) = s"$root/$name"

  private[graft] val nodeSchema = StructType(Seq(
    StructField("id", LongType), StructField("version", IntegerType),
    StructField("ts_ms", LongType), StructField("visible", BooleanType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("tags", MapType(StringType, StringType))))

  private[graft] val waySchema = StructType(Seq(
    StructField("id", LongType), StructField("version", IntegerType),
    StructField("minor_version", IntegerType), StructField("edits", LongType),
    StructField("ts_ms", LongType), StructField("visible", BooleanType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("refs", ArrayType(LongType))))

  private[graft] val relSchema = StructType(Seq(
    StructField("id", LongType), StructField("version", IntegerType),
    StructField("minor_version", IntegerType), StructField("edits", LongType),
    StructField("ts_ms", LongType), StructField("visible", BooleanType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("refs", ArrayType(LongType)),
    StructField("ref_types", ArrayType(StringType))))

  private val backrefSchema = StructType(Seq(
    StructField("ref_id", LongType),
    StructField("parent_ids", ArrayType(LongType))))

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Bucket-pruned store read restricted to `keyDf`'s ids; empty-schema
    * frame for a store that does not exist yet (first diff ever). `keyDf`
    * may repeat keys. A caller with more than one reader of the result
    * checkpoints it.
    */
  private def readFor(spark: SparkSession, d: String, schema: StructType,
      keyDf: DataFrame, key: String): DataFrame =
    ChangesetStore.readBucketsFor(spark, d, keyDf, Seq(key))
      .map(df => df.select(schema.fieldNames.map(col).toSeq: _*)
        .join(broadcast(keyDf), df(key) === keyDf(keyDf.columns.head), "left_semi"))
      .getOrElse(emptyDf(spark, schema))

  // ---- bootstrap --------------------------------------------------------

  /** Seeds the store from a full-history entity frame (the PBF reader's
    * schema) — latest version per entity + derived backref tables, the
    * analog of the reference's initial RocksDB fill from the planet file.
    */
  def initStore(spark: SparkSession, root: String, entities: DataFrame): Unit = {
    val latest = entities
      // edits counts the FULL history, so it must aggregate before the
      // latest-version filter collapses each entity to one row
      .withColumn("edits", count(lit(1)).over(
        Window.partitionBy("osm_type", "id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("osm_type", "id")
          .orderBy(desc("version"), desc("ts_ms"))))
      .filter(col("rk") === 1).drop("rk")

    val nodes = latest.filter(col("osm_type") === "node")
      .select(col("id"), col("version"), col("ts_ms"), col("visible"),
        col("lat"), col("lon"), col("tags"))
    ChangesetStore.upsertBucketed(spark, dir(root, "nodes"), nodes, Seq("id"), NumBuckets)

    val ways = latest.filter(col("osm_type") === "way")
      .select(col("id"), col("version"), lit(0).as("minor_version"),
        col("edits"), col("ts_ms"), col("visible"), col("tags"), col("refs"))
    ChangesetStore.upsertBucketed(spark, dir(root, "ways"), ways, Seq("id"), NumBuckets)

    val rels = latest.filter(col("osm_type") === "relation")
      .select(col("id"), col("version"), lit(0).as("minor_version"),
        col("edits"), col("ts_ms"), col("visible"), col("tags"),
        expr("transform(members, m -> m.ref)").as("refs"),
        expr("transform(members, m -> m.mtype)").as("ref_types"))
    ChangesetStore.upsertBucketed(spark, dir(root, "relations"), rels, Seq("id"), NumBuckets)

    writeBackrefs(spark, dir(root, "node_ways"),
      ways.filter(col("visible"))
        .select(col("id").as("parent_id"), explode(col("refs")).as("ref_id")))
    writeBackrefs(spark, dir(root, "node_relations"),
      memberPairs(rels, "node"))
    writeBackrefs(spark, dir(root, "way_relations"),
      memberPairs(rels, "way"))
  }

  private def memberPairs(rels: DataFrame, mtype: String): DataFrame =
    rels.filter(col("visible"))
      .select(col("id").as("parent_id"),
        explode(arrays_zip(col("refs"), col("ref_types"))).as("m"))
      .filter(col("m.ref_types") === mtype)
      .select(col("m.refs").as("ref_id"), col("parent_id"))

  private def writeBackrefs(spark: SparkSession, d: String, pairs: DataFrame): Unit =
    ChangesetStore.upsertBucketed(spark, d,
      pairs.groupBy("ref_id").agg(array_sort(collect_set("parent_id")).as("parent_ids")),
      Seq("ref_id"), NumBuckets)

  // ---- diff application -------------------------------------------------

  /** Normalizes an OsmXml.readOsc frame: epoch-ms timestamp, visibility
    * from the enclosing osmChange action.
    */
  private def normalize(osc: DataFrame): DataFrame =
    osc.withColumn("ts_ms", unix_millis(to_timestamp(col("ts"))))
      .withColumn("visible", col("action") =!= "delete")

  /** A contribution that moves geometry: it drives its parents' minor
    * versions.
    */
  private val geometryEdit: Column =
    col("contrib_type").contains("GEOMETRY") || col("contrib_type").isin("CREATION", "DELETION")

  /** Applies one diff: emits the contribution rows it causes (node majors,
    * way majors + backref-propagated way minors, relation majors +
    * minors) and upserts the store. Returns the emitted contributions.
    */
  def applyDiff(spark: SparkSession, root: String, oscDiff: DataFrame,
      sink: DataFrame => Unit = _ => ()): DataFrame = {
    GeoFunctions.register(spark)
    val diff = normalize(oscDiff).localCheckpoint(true)

    // ---------------- nodes ----------------
    val dn = diff.filter(col("osm_type") === "node")
      .select(col("id"), col("version"), col("ts_ms"), col("visible"),
        col("lat"), col("lon"), col("tags"),
        col("changeset"), col("uid"), col("user"))
    val beforeN = readFor(spark, dir(root, "nodes"), nodeSchema, dn.select("id"), "id")
      .localCheckpoint(true)
    val nodeMajors = majorsOf(beforeN, dn, Seq("lat", "lon"))

    // coordinate-affecting node edits drive way/relation minors
    val nodeEdits = nodeMajors.filter(geometryEdit)
      .select(col("id").as("node_id"), col("ts_ms").as("edit_ts"))
      .localCheckpoint(true)
    val editNodeIds = nodeEdits.select(col("node_id").as("ref_id"))

    // ---------------- ways ----------------
    val dw = diff.filter(col("osm_type") === "way")
      .select(col("id"), col("version"), col("ts_ms"), col("visible"),
        col("tags"), col("refs"),
        col("changeset"), col("uid"), col("user"))
      .localCheckpoint(true)

    // NODE→WAY backrefs of edited nodes → candidate minor ways; the stored
    // rows of diff ways and candidates are read in one lookup
    val nodeWayRefs = readFor(spark, dir(root, "node_ways"), backrefSchema,
      editNodeIds, "ref_id").localCheckpoint(true)
    val wayLookupIds = dw.select("id").unionByName(
      nodeWayRefs.select(explode(col("parent_ids")).as("id")))
    val beforeW = readFor(spark, dir(root, "ways"), waySchema, wayLookupIds, "id")
      .localCheckpoint(true)
    val wayMajors = majorsOf(beforeW, dw, Seq("refs"))

    // way MINOR rows: one per (way, geometry-change instant) of a member
    // node, on the way's effective state (see minorsOf)
    val effectiveW = effectiveState(wayMajors, beforeW)
    val wayMinors = minorsOf(nodeEdits
      .join(nodeWayRefs.select(col("ref_id").as("node_id"),
        explode(col("parent_ids")).as("id")), Seq("node_id"))
      .join(effectiveW.filter(col("visible")).select(col("id"), col("refs")), Seq("id"))
      .filter(array_contains(col("refs"), col("node_id")))
      .select(col("id"), col("edit_ts")), effectiveW)

    val wayVersions = wayMajors.unionByName(wayMinors, allowMissingColumns = true)

    // ---------------- relations ----------------
    val dr = diff.filter(col("osm_type") === "relation")
      .select(col("id"), col("version"), col("ts_ms"), col("visible"),
        col("tags"), col("refs"), col("ref_types"),
        col("changeset"), col("uid"), col("user"))

    val nodeRelRefs = readFor(spark, dir(root, "node_relations"), backrefSchema,
      editNodeIds, "ref_id").localCheckpoint(true)
    val wayRelRefs = readFor(spark, dir(root, "way_relations"), backrefSchema,
      wayVersions.select(col("id").as("ref_id")), "ref_id").localCheckpoint(true)

    val relLookupIds = dr.select("id")
      .unionByName(nodeRelRefs.select(explode(col("parent_ids")).as("id")))
      .unionByName(wayRelRefs.select(explode(col("parent_ids")).as("id")))
    val beforeR = readFor(spark, dir(root, "relations"), relSchema, relLookupIds, "id")
      .localCheckpoint(true)
    val relMajors = majorsOf(beforeR, dr, Seq("refs"))

    // relation minors: member-node edits + member-way changes (major and
    // node-induced minor alike — a tag-only way major propagates through
    // its own minors, emitted above), excluding relations whose diff
    // major already carries the change
    val wayChangeTs = wayMajors.filter(geometryEdit)
      .select(col("id").as("ref_id"), col("ts_ms").as("edit_ts"))
      .unionByName(wayMinors.select(col("id").as("ref_id"), col("valid_from").as("edit_ts")))
    val relMinors = minorsOf(nodeEdits
      .withColumnRenamed("node_id", "ref_id")
      .join(nodeRelRefs, Seq("ref_id"))
      .select(explode(col("parent_ids")).as("id"), col("edit_ts"))
      .unionByName(wayChangeTs
        .join(wayRelRefs, Seq("ref_id"))
        .select(explode(col("parent_ids")).as("id"), col("edit_ts"))),
      effectiveState(relMajors, beforeR))

    val relVersions = relMajors.unionByName(relMinors, allowMissingColumns = true)

    // ---------------- geometry ----------------
    // emitted visible way rows (majors and minors) and the member ways of
    // emitted visible relation rows, as of each row's instant (stored
    // latest ∪ diff versions, a tie to the higher version), resolve their
    // node refs against ONE stored-node read ∪ the diff's node rows, DELETE
    // rows included: a node deleted in this diff wins the as-of rank at
    // and after its deletion, leaving the ref unresolved instead of
    // resolving to stale stored coordinates
    val wayRowsForGeom = wayVersions.filter(col("visible"))
      .select(col("id"), col("version"), col("osm_minor_version"),
        col("valid_from").as("row_ts"), col("refs"))
    val members = relVersions.filter(col("visible"))
      .select(col("id"), col("version"), col("osm_minor_version"), col("valid_from").as("row_ts"),
        explode(array_distinct(transform(
          filter(arrays_zip(col("refs"), col("ref_types")), m => m("ref_types") === "way"),
          m => m("refs")))).as("way_id"))
    def wayCand(df: DataFrame) = df.select(col("id").as("way_id"), col("version").as("w_version"),
      col("ts_ms").as("w_ts"), col("visible").as("w_vis"), col("refs").as("w_refs"))
    val memberWays = AsofJoin.asof(members, wayCand(readFor(spark, dir(root, "ways"), waySchema,
        members.select(col("way_id").as("id")), "id")).unionByName(wayCand(dw)),
        "way_id", "row_ts", "w_ts", Seq("w_vis", "w_refs"), tieBreak = Seq("w_version"))
      .filter(col("w_vis"))
      .localCheckpoint(true)
    val refIds = wayRowsForGeom.select(explode(col("refs")).as("id"))
      .unionByName(memberWays.select(explode(col("w_refs")).as("id")))
    val nodeCands = Contributions.refCandidates(readFor(spark, dir(root, "nodes"), nodeSchema,
      refIds, "id")).unionByName(Contributions.refCandidates(dn))
    val wayPts = Contributions.refPositions(wayRowsForGeom, VersionKey, "row_ts", "refs", nodeCands)
    val relGeoms = relationGeoms(spark, memberWays, nodeCands)

    // ---------------- emitted contributions ----------------
    val out =
      emit("node", nodeMajors,
        // deletions carry no coordinates (the osc parser fills NaN) — a
        // NaN-encoding WKB point is garbage, null is the contract
        wkb = when(col("visible") && Contributions.nodeInRange(col("lat"), col("lon")),
          call_function("wkb_point", col("lon"), col("lat"))),
        lon = when(!isnan(col("lon")), col("lon")),
        lat = when(!isnan(col("lat")), col("lat")))
      .unionByName(emit("way", wayVersions.join(wayPts, VersionKey, "left")
          .withColumn("shape", Contributions.wayShape(col("tags"), col("refs"), col("n_pts"),
            col("lons"), col("lats"))),
        wkb = Contributions.wayWkb(col("shape"), col("lons"), col("lats")),
        lengthMm = when(col("n_pts") === col("n_refs"),
          call_function("geodesic_length_mm", col("lons"), col("lats")))))
      .unionByName(emit("relation", relVersions.join(relGeoms, VersionKey, "left"),
        wkb = col("rel_wkb")))
      .localCheckpoint(true)

    // commit order: emitted contributions reach the caller's sink BEFORE
    // any store table advances — a crash mid-upsert replays the diff
    // against a store that still re-emits (or, if the sink committed and
    // only stores lag, the idempotent upserts converge without the sink
    // needing to rewrite). The reverse order would let a replay overwrite
    // a committed output with the empty re-emission.
    sink(out)
    // ---------------- store upserts ----------------
    updateStores(spark, root, dn, beforeN, dw, dr, beforeW, beforeR, wayMinors, relMinors, out)
    out
  }

  /** The newest row per id (highest version, then latest timestamp). */
  private def newestPerId(df: DataFrame): DataFrame =
    df.withColumn("_rk", row_number().over(
        Window.partitionBy("id").orderBy(desc("version"), desc("ts_ms"))))
      .filter(col("_rk") === 1).drop("_rk")

  /** Key of one emitted version row. */
  private val VersionKey = Seq("id", "version", "osm_minor_version")

  /** Major contributions of one entity type: the diff rows `d` classified
    * against the stored latest rows `before` (the ContributionUpdater
    * per-element timeline):
    *  1. timeline = stored rows (null changeset/uid/user) ∪ diff rows, in
    *     (version, ts) order per id;
    *  2. [[Contributions.contribType]], with tags compared as map entries
    *     and a geometry change = any of `geomCols` differing from the
    *     predecessor (node: coordinates; way: refs; relation: member refs);
    *  3. a deletion with no known earlier version is skipped
    *     (ContributionUpdater.filter:346-349);
    *  4. versions at or below the stored one were already applied — a diff
    *     replay after a crash must emit nothing (filter:352-359).
    * Returns the diff's columns plus `contrib_type`, `valid_from` and
    * `osm_minor_version` = 0, materialized once.
    */
  private def majorsOf(before: DataFrame, d: DataFrame, geomCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy("id").orderBy("version", "ts_ms")
    val entityCols = d.columns.filterNot(Set("changeset", "uid", "user"))
    before.select(entityCols.map(col).toSeq: _*)
      .withColumn("is_new", lit(false))
      .withColumn("changeset", lit(null).cast(LongType))
      .withColumn("uid", lit(null).cast(LongType))
      .withColumn("user", lit(null).cast(StringType))
      .unionByName(d.withColumn("is_new", lit(true)))
      .withColumn("prev_visible", lag("visible", 1).over(w))
      .withColumn("contrib_type", Contributions.contribType(col("visible"), col("prev_visible"),
        array_sort(map_entries(coalesce(col("tags"), map()))) =!=
          array_sort(map_entries(coalesce(lag("tags", 1).over(w), map()))),
        geomCols.map(c => col(c) =!= lag(c, 1).over(w)).reduce(_ || _)))
      .filter(col("is_new"))
      .filter(!(col("contrib_type") === "DELETION" && col("prev_visible").isNull))
      .join(broadcast(before.select(col("id"), col("version").as("before_version"))),
        Seq("id"), "left")
      .filter(col("before_version").isNull || col("version") > col("before_version"))
      .select((d.columns.map(col).toSeq :+ col("contrib_type") :+
        col("ts_ms").as("valid_from") :+ lit(0).as("osm_minor_version")): _*)
      .localCheckpoint(true)
  }

  /** Minor contributions: one GEOMETRY row per (entity, member-edit
    * instant) in `edits` (id, edit_ts), numbered on from the stored minor
    * counter (getContribs:396-399). ONE rule for every entity,
    * diff-resident or not: minors attach to the entity's EFFECTIVE state
    * ([[effectiveState]]) and only for edits strictly after that state's
    * timestamp — so a same-diff major of any kind (tag-only, member
    * change, creation) receives post-major member edits as minors on its
    * new version, while edits at/before the major fold into the major's
    * own as-of rebuild (the intermediate old-version minor row is elided —
    * a documented divergence from a full-history rebuild, bounded to
    * intra-diff ordering). Materialized once.
    */
  private def minorsOf(edits: DataFrame, effective: DataFrame): DataFrame =
    edits.distinct()
      .join(effective.filter(col("visible")), Seq("id"))
      .filter(col("edit_ts") > col("ts_ms"))
      .withColumn("osm_minor_version", col("minor_version") +
        row_number().over(Window.partitionBy("id").orderBy("edit_ts")))
      .withColumn("contrib_type", lit("GEOMETRY"))
      .withColumnRenamed("edit_ts", "valid_from")
      .localCheckpoint(true)

  /** The one emitted-row projection: `rows` carry the version key,
    * `valid_from`, `contrib_type`, `tags` and (majors only) the changeset
    * and user columns; the caller supplies the geometry columns.
    */
  private def emit(osmType: String, rows: DataFrame, wkb: Column,
      lengthMm: Column = lit(null), lon: Column = lit(null), lat: Column = lit(null)): DataFrame =
    rows.select(lit(osmType).as("osm_type"), col("id").as("osm_id"),
      col("version").as("osm_version"), col("osm_minor_version"),
      col("valid_from"), col("contrib_type"), col("tags"),
      col("changeset"), col("uid"), col("user"),
      lon.cast(DoubleType).as("lon"), lat.cast(DoubleType).as("lat"),
      wkb.as("wkb"), lengthMm.cast(LongType).as("length_mm"))

  /** The effective state per entity that minor candidacy attaches to:
    * the stored row, overridden by the entity's newest diff major —
    * REGARDLESS of visibility — as a store-row-shaped frame (minor counter
    * reset to 0, edit counter carried from the store). Materialized once.
    * A same-diff DELETION major must win this rank (carrying
    * `visible = false`) so the downstream `effective.filter(visible)`
    * guards suppress member-edit minors after the deletion — the
    * reference's timeline processing emits nothing for an element past its
    * deletion, and the common delete-way-plus-its-nodes changeset would
    * otherwise fabricate GEOMETRY minors on the stored pre-delete row.
    *
    * Known intra-diff divergence: a member edit timestamped BEFORE a
    * same-diff deletion (node moves at t1, way deleted at t2 > t1) is
    * elided too — the deletion wins the rank for the whole diff, so the
    * pre-deletion GEOMETRY minor the reference's full timeline would emit
    * at t1 never materializes. Same bounded intra-diff elision as the
    * major-fold rule of [[minorsOf]]; both collapse sub-minute ordering
    * inside one diff, never across diffs.
    */
  private def effectiveState(majors: DataFrame, before: DataFrame): DataFrame = {
    val latest = newestPerId(majors)
      .join(before.select(col("id"), col("edits").as("prev_edits")), Seq("id"), "left")
      .withColumn("minor_version", lit(0))
      .withColumn("edits", coalesce(col("prev_edits"), lit(0L)))
      .select(before.columns.map(col).toSeq: _*)
    before
      .join(broadcast(latest.select("id")), Seq("id"), "left_anti")
      .unionByName(latest)
      .localCheckpoint(true)
  }

  /** Multipolygon WKB per emitted relation row — the
    * ContributionUpdater.updateRelation analog
    * (ContributionUpdater.java:101-121): the rows' as-of member ways
    * `memberWays` (row key, `way_id`, `row_ts`, `w_refs`), their node refs
    * as of the same instant ([[Contributions.refPositions]] over
    * `nodeCands`), then the batch
    * path's own ring builder, [[RelationGeometry.build]] (its member limit
    * included; the batch-only area and validity checks of
    * [[RelationGeometry.measure]] are not run), keeping only its `wkb` —
    * so update-path relation geometry is byte-equal to
    * [[RelationGeometry.assemble]] on the same member state.
    *
    * A member way with an unresolvable ref (node deleted/unknown as of the
    * row) contributes NO line — its ring stays open, `wkb` still encodes
    * whatever closed rings remain (the batch closed-rings-only rule).
    * Relations with no way members keep a null wkb.
    */
  private def relationGeoms(spark: SparkSession, memberWays: DataFrame,
      nodeCands: DataFrame): DataFrame = {
    import spark.implicits._
    val lines = Contributions.refPositions(memberWays, VersionKey :+ "way_id", "row_ts", "w_refs",
        nodeCands)
      // an incompletely-resolved member way drops whole: a shortened line
      // would stitch a WRONG ring; a missing one leaves the ring open
      .filter(col("n_pts") === col("n_refs"))
      .select(col("id"), col("version"), col("osm_minor_version"), col("way_id"),
        col("lons"), col("lats"))
    lines.as[(Long, Int, Int, Long, Array[Double], Array[Double])]
      .groupByKey(t => (t._1, t._2, t._3))
      .mapGroups { (key: (Long, Int, Int), it: Iterator[(Long, Int, Int, Long, Array[Double], Array[Double])]) =>
        val (id, ver, minor) = key
        (id, ver, minor, RelationGeometry.build(it.map(t => (t._4, t._5, t._6)).toSeq).wkb)
      }
      .toDF("id", "version", "osm_minor_version", "rel_wkb")
  }

  /** Sequenced catch-up over a replication directory of `.osc` diffs — the
    * full ReplicationManager.java loop: applies the pending run of
    * sequences ([[ReplicationCatchup.pending]]: strict order, a gap stops
    * it, at most `maxSteps`), writes each diff's emitted contributions to
    * `out/seq=N/`, and bumps the `state.txt` bookmark last. [[applyDiff]] is idempotent per diff (store timestamps
    * advance past applied edits), so a crash between the store upserts and
    * the state write re-runs the diff into the same state. Returns the
    * number of diffs applied.
    *
    * @param changesetDb optional changeset store frame (id, created_at,
    *                    closed_at, num_changes, tags) — the `--changeset-db`
    *                    contract on the update path: every emitted
    *                    contribution joins its changeset struct
    *                    (broadcast; Replications.java:79-88).
    */
  def catchUp(spark: SparkSession, replDir: String, root: String,
      maxSteps: Int = Int.MaxValue,
      changesetDb: Option[DataFrame] = None): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    var st = ReplicationCatchup.readState(root)
      .getOrElse(ReplicationCatchup.State(0L, ""))
    val steps = ReplicationCatchup.pending(replDir, ".osc", st.sequenceNumber, maxSteps)
    steps.foreach { case (seq, path) =>
      // output commits BEFORE the store advances (via applyDiff's sink
      // hook). A replay whose output already fully landed (_SUCCESS)
      // keeps it — the replay's re-emission can be partial when the
      // previous attempt crashed mid-upsert, and the original output
      // reflected the correct pre-diff store.
      val outPath = s"$root/out/seq=$seq"
      val committed = java.nio.file.Files.exists(
        java.nio.file.Paths.get(outPath, "_SUCCESS"))
      val raw = applyDiff(spark, root,
        graft.sources.OsmXml.readOsc(spark, path),
        sink = out => if (!committed) {
          changesetDb.fold(out)(db => Changesets.enrichWithChangesetDb(out, db))
            .coalesce(1).write.mode("overwrite").parquet(outPath)
        })
      val ts = raw.agg(max("valid_from")).collect().head
      st = ReplicationCatchup.State(seq,
        if (ts.isNullAt(0)) st.timestamp else ts.getLong(0).toString)
      ReplicationCatchup.writeState(spark, root, st)
      // applyDiff pins intermediates via localCheckpoint; across a
      // long catch-up session those blocks would accumulate (the
      // round-4 storage-leak lesson) — release once the step's sinks
      // and state are committed
      graft.GraftSession.releaseStorage(spark)
    }
    steps.size.toLong
  }

  /** Store maintenance after emission — latest entity versions, minor/edit
    * counters, and backref add/remove reconciliation
    * (ContributionUpdater.updateStore:111-121 + updateNodeWayBackRefs /
    * updateTypeRelationBackRefs).
    */
  private def updateStores(spark: SparkSession, root: String,
      dn: DataFrame, beforeN: DataFrame, dw: DataFrame, dr: DataFrame,
      beforeW: DataFrame, beforeR: DataFrame,
      wayMinors: DataFrame, relMinors: DataFrame, out: DataFrame): Unit = {

    // the store only ever moves FORWARD: a diff carrying versions at or
    // below the stored one (snapshot/replication overlap, crash replay)
    // must not regress entity rows, counters, or the backref tables — the
    // same version guard the emission path applies
    def freshLatest(d: DataFrame, before: DataFrame): DataFrame = newestPerId(d)
      .join(broadcast(before.select(col("id"), col("version").as("_bv"))),
        Seq("id"), "left")
      .filter(col("_bv").isNull || col("version") > col("_bv"))
      .drop("_bv")

    val emitted = out.groupBy(col("osm_type"), col("osm_id").as("id"))
      .agg(count(lit(1)).as("new_edits"),
        max("osm_minor_version").as("max_minor"))

    // nodes: latest diff version wins (if newer than the store)
    upsert(spark, dir(root, "nodes"), freshLatest(dn, beforeN)
      .select(nodeSchema.fieldNames.map(col).toSeq: _*), "id")

    val dwFresh = freshLatest(dw, beforeW).localCheckpoint(true)
    val drFresh = freshLatest(dr, beforeR).localCheckpoint(true)
    upsert(spark, dir(root, "ways"),
      parentRows(waySchema, dwFresh, beforeW, wayMinors,
        emitted.filter(col("osm_type") === "way").drop("osm_type")), "id")
    upsert(spark, dir(root, "relations"),
      parentRows(relSchema, drFresh, beforeR, relMinors,
        emitted.filter(col("osm_type") === "relation").drop("osm_type")), "id")

    // NODE→WAY backrefs: reconcile adds and removals for diff ways
    if (!dwFresh.isEmpty) {
      val newPairs = dwFresh.filter(col("visible"))
        .select(col("id").as("parent_id"), explode(col("refs")).as("ref_id"))
      val oldPairs = beforeW
        .join(broadcast(dwFresh.select("id")), Seq("id"), "left_semi")
        .select(col("id").as("parent_id"), explode(col("refs")).as("ref_id"))
      reconcileBackrefs(spark, dir(root, "node_ways"),
        dwFresh.select(col("id").as("parent_id")), oldPairs, newPairs)
    }

    // NODE→RELATION / WAY→RELATION backrefs for diff relations
    if (!drFresh.isEmpty) {
      val drParents = drFresh.select(col("id").as("parent_id"))
      val oldR = beforeR.join(broadcast(drFresh.select("id")), Seq("id"), "left_semi")
      reconcileBackrefs(spark, dir(root, "node_relations"), drParents,
        memberPairs(oldR, "node"), memberPairs(drFresh, "node"))
      reconcileBackrefs(spark, dir(root, "way_relations"), drParents,
        memberPairs(oldR, "way"), memberPairs(drFresh, "way"))
    }
  }

  /** Store rows of one parent type (ways: `waySchema`, relations:
    * `relSchema`) after a diff. A fresh diff major resets the minor
    * counter to its last emitted minor (0 for a plain major) and advances
    * its timestamp past any same-diff minors attached to it; a minor-only
    * entity bumps its counter and edits in place. The stored timestamp
    * advances past the applied edits: re-applying the same diff after a
    * crash then finds no edit newer than the store and re-emits nothing —
    * per-diff idempotence without a cross-table transaction.
    *
    * @param emittedCounts per id: `new_edits` (rows emitted) and
    *                      `max_minor` (last emitted minor)
    */
  private def parentRows(schema: StructType, fresh: DataFrame, before: DataFrame,
      minors: DataFrame, emittedCounts: DataFrame): DataFrame = {
    val storeCols = schema.fieldNames.map(col).toSeq
    val minorAgg = minors.groupBy("id").agg(max("osm_minor_version").as("max_minor"),
      count(lit(1)).as("new_edits"), max("valid_from").as("last_ts"))
    val majorUp = fresh
      .join(before.select(col("id"), col("edits").as("prev_edits")), Seq("id"), "left")
      .join(emittedCounts, Seq("id"), "left")
      .join(minorAgg.select("id", "last_ts"), Seq("id"), "left")
      .withColumn("minor_version", coalesce(col("max_minor"), lit(0)).cast(IntegerType))
      .withColumn("edits", coalesce(col("prev_edits"), lit(0L)) + coalesce(col("new_edits"), lit(0L)))
      .withColumn("ts_ms", greatest(col("ts_ms"), coalesce(col("last_ts"), col("ts_ms"))))
      .select(storeCols: _*)
    // minors attached to a fresh diff major are folded into its row above
    // — a second row for the same key would corrupt the latest-wins upsert
    val minorUp = minorAgg
      .join(broadcast(fresh.select("id")), Seq("id"), "left_anti")
      .join(before, Seq("id"))
      .withColumn("minor_version", col("max_minor").cast(IntegerType))
      .withColumn("edits", col("edits") + col("new_edits"))
      .withColumn("ts_ms", col("last_ts"))
      .select(storeCols: _*)
    majorUp.unionByName(minorUp)
  }

  /** Read-modify-write of the touched backref rows: every ref id that the
    * changed parents used to point at or point at now is re-derived as
    * (stored set − changed parents) ∪ new pairs — the BackRefsUpdate
    * exist/toRemove reconciliation, one bucket-pruned upsert.
    */
  private def reconcileBackrefs(spark: SparkSession, d: String,
      changedParents: DataFrame, oldPairs: DataFrame, newPairs: DataFrame): Unit = {
    // materialized once: the emptiness test, the bucket collect, the
    // broadcast key set and the row join all read it
    val touched = oldPairs.select("ref_id").unionByName(newPairs.select("ref_id"))
      .distinct().localCheckpoint(true)
    if (touched.isEmpty) return
    val stored = readFor(spark, d, backrefSchema, touched, "ref_id")
      .select(col("ref_id"), explode(col("parent_ids")).as("parent_id"))
      .join(broadcast(changedParents), Seq("parent_id"), "left_anti")
    val merged = stored.select("ref_id", "parent_id")
      .unionByName(newPairs.select("ref_id", "parent_id"))
      .groupBy("ref_id").agg(array_sort(collect_set("parent_id")).as("parent_ids"))
    val rows = touched
      .join(merged, Seq("ref_id"), "left")
      .select(col("ref_id"),
        coalesce(col("parent_ids"), array().cast(ArrayType(LongType))).as("parent_ids"))
    upsert(spark, d, rows, "ref_id")
  }

  /** Upserts one diff-derived batch, materialized once: the upsert's
    * bucket collect (which doubles as the emptiness test — an empty batch
    * commits nothing), its broadcast key set and its merge all read that
    * copy instead of re-running the batch's lineage.
    */
  private def upsert(spark: SparkSession, d: String, batch: DataFrame,
      key: String): Unit =
    ChangesetStore.upsertBucketed(spark, d, batch.localCheckpoint(true), Seq(key), NumBuckets)
}
