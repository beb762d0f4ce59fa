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
  * as-of geometry rebuild shuffles only (way_id, edit) rows of affected
  * ways exactly like [[MinorVersions.computeWithGeometry]].
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

  /** Classification of a (before ∪ new) version timeline, shared by all
    * three entity types — the ContributionsAvroConverter contribution-type
    * rules (CREATION / DELETION / TAG / GEOMETRY / TAG_GEOMETRY) applied
    * per entity id in version order. `geomCols` defines what counts as a
    * geometry change for the type (node: coordinates, way: refs,
    * relation: members).
    */
  private def classify(timeline: DataFrame, geomChanged: Column): DataFrame = {
    val w = Window.partitionBy("id").orderBy("version", "ts_ms")
    timeline
      .withColumn("prev_visible", lag("visible", 1).over(w))
      .withColumn("prev_tags", lag("tags", 1).over(w))
      .withColumn("prev_ts", lag("ts_ms", 1).over(w))
      .withColumn("tags_changed",
        array_sort(map_entries(coalesce(col("tags"), map()))) =!=
          array_sort(map_entries(coalesce(col("prev_tags"), map()))))
      .withColumn("geom_changed", geomChanged)
      .withColumn("contrib_type",
        when(!col("visible"), "DELETION")
          .when(col("prev_visible").isNull || !col("prev_visible"), "CREATION")
          .otherwise(concat_ws("_",
            when(col("tags_changed"), "TAG"),
            when(coalesce(col("geom_changed"), lit(false)), "GEOMETRY"))))
  }

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
    val dnIds = dn.select("id")
    val beforeN = readFor(spark, dir(root, "nodes"), nodeSchema, dnIds, "id")
      .localCheckpoint(true)

    val nodeTl = beforeN
      .withColumn("is_new", lit(false))
      .withColumn("changeset", lit(null).cast(LongType))
      .withColumn("uid", lit(null).cast(LongType))
      .withColumn("user", lit(null).cast(StringType))
      .unionByName(dn.withColumn("is_new", lit(true)))
    val nodeClassified = classify(nodeTl,
      (col("lat") =!= lag("lat", 1).over(Window.partitionBy("id").orderBy("version", "ts_ms"))) ||
        (col("lon") =!= lag("lon", 1).over(Window.partitionBy("id").orderBy("version", "ts_ms"))))
      .localCheckpoint(true)
    val nodeContribs = nodeClassified
      .filter(col("is_new"))
      // deleted with no known before-version: skip (ContributionUpdater
      // .filter:346-349)
      .filter(!(col("contrib_type") === "DELETION" && col("prev_visible").isNull))
      // versions at or below the stored one were already applied — a diff
      // replay after a crash must emit nothing (filter:352-359)
      .join(broadcast(beforeN.select(col("id"), col("version").as("before_version"))),
        Seq("id"), "left")
      .filter(col("before_version").isNull || col("version") > col("before_version"))
      .drop("before_version")

    // coordinate-affecting node edits drive way/relation minors
    val nodeEdits = nodeContribs
      .filter(col("contrib_type").contains("GEOMETRY") ||
        col("contrib_type") === "CREATION" || col("contrib_type") === "DELETION")
      .select(col("id").as("node_id"), col("ts_ms").as("edit_ts"))
      .localCheckpoint(true)
    val editNodeIds = nodeEdits.select(col("node_id").as("ref_id"))

    // ---------------- ways ----------------
    val dw = diff.filter(col("osm_type") === "way")
      .select(col("id"), col("version"), col("ts_ms"), col("visible"),
        col("tags"), col("refs"),
        col("changeset"), col("uid"), col("user"))
      .localCheckpoint(true)
    val dwIds = dw.select("id")

    // NODE→WAY backrefs of edited nodes → candidate minor ways; the stored
    // rows of diff ways and candidates are read in one lookup
    val nodeWayRefs = readFor(spark, dir(root, "node_ways"), backrefSchema,
      editNodeIds, "ref_id").localCheckpoint(true)
    val wayLookupIds = dwIds.unionByName(
      nodeWayRefs.select(explode(col("parent_ids")).as("id")))
    val beforeW = readFor(spark, dir(root, "ways"), waySchema, wayLookupIds, "id")
      .localCheckpoint(true)

    // way MAJOR rows from the diff, classified against the stored before
    val wayTl = beforeW
      .select(col("id"), col("version"), col("ts_ms"), col("visible"),
        col("tags"), col("refs"))
      .withColumn("is_new", lit(false))
      .withColumn("changeset", lit(null).cast(LongType))
      .withColumn("uid", lit(null).cast(LongType))
      .withColumn("user", lit(null).cast(StringType))
      .unionByName(dw.withColumn("is_new", lit(true)))
    val wayMajors = classify(wayTl,
      col("refs") =!= lag("refs", 1).over(Window.partitionBy("id").orderBy("version", "ts_ms")))
      .filter(col("is_new"))
      .filter(!(col("contrib_type") === "DELETION" && col("prev_visible").isNull))
      .join(broadcast(beforeW.select(col("id"), col("version").as("before_version"))),
        Seq("id"), "left")
      .filter(col("before_version").isNull || col("version") > col("before_version"))
      .drop("before_version")
      .withColumn("osm_minor_version", lit(0))
      .localCheckpoint(true)

    // way MINOR rows: one per (way, geometry-change instant); minor number
    // continues from the stored counter (getContribs:396-399). ONE rule
    // for every way, diff-resident or not: minors attach to the way's
    // EFFECTIVE state (stored row, overridden by its newest diff major)
    // and only for edits strictly after that state's timestamp — so a
    // same-diff major of any kind (tag-only, refs change, creation)
    // receives post-major node edits as minors on its new version, while
    // edits at/before the major fold into the major's own as-of rebuild
    // (the intermediate old-version minor row is elided — a documented
    // divergence from a full-history rebuild, bounded to intra-diff
    // ordering).
    val wayMajorLatest = latestMajorState(wayMajors, beforeW,
      Seq("ts_ms", "visible", "tags", "refs"))
    val effectiveW = beforeW
      .join(broadcast(wayMajorLatest.select("id")), Seq("id"), "left_anti")
      .unionByName(wayMajorLatest)
      .localCheckpoint(true)
    val minorCand = nodeEdits
      .join(nodeWayRefs.select(col("ref_id").as("node_id"),
        explode(col("parent_ids")).as("id")), Seq("node_id"))
      .join(effectiveW.filter(col("visible"))
        .select(col("id"), col("ts_ms"), col("refs")), Seq("id"))
      .filter(array_contains(col("refs"), col("node_id")))
      .filter(col("edit_ts") > col("ts_ms"))
      // one minor per (way, instant) — dedupe BEFORE rejoining the stored
      // row (map-typed tags cannot be part of a distinct)
      .select(col("id"), col("edit_ts")).distinct()
      .join(effectiveW.filter(col("visible")), Seq("id"))
    val wayMinors = minorCand
      .withColumn("osm_minor_version", col("minor_version") +
        row_number().over(Window.partitionBy("id").orderBy("edit_ts")))
      .withColumn("contrib_type", lit("GEOMETRY"))
      .localCheckpoint(true)

    // geometry rebuild for every emitted way row (major + minor): member
    // coordinates as of the row's timestamp, from stored node latest ∪
    // diff node versions — the computeWithGeometry as-of shape
    val wayRowsForGeom = wayMajors.filter(col("visible"))
      .select(col("id"), col("version"), col("osm_minor_version"),
        col("ts_ms").as("row_ts"), col("refs"))
      .unionByName(wayMinors.select(col("id"), col("version"),
        col("osm_minor_version"), col("edit_ts").as("row_ts"), col("refs")))
    val refIds = wayRowsForGeom.select(explode(col("refs")).as("id"))
    // the as-of candidate set keeps DELETE rows (visible=false): a node
    // deleted in this very diff must win the rank for times at/after the
    // deletion so the ref counts as unresolved, not silently resolve to
    // its stale pre-delete coordinates from the not-yet-updated store
    val refNodes = readFor(spark, dir(root, "nodes"), nodeSchema, refIds, "id")
      .select(col("id").as("node_id"), col("ts_ms").as("node_ts"),
        col("version").as("node_version"),
        col("lon"), col("lat"), col("visible").as("vis"))
      .unionByName(dn
        .select(col("id").as("node_id"), col("ts_ms").as("node_ts"),
          col("version").as("node_version"),
          col("lon"), col("lat"), col("visible").as("vis")))
    val asOf = wayRowsForGeom
      .select(col("id"), col("version"), col("osm_minor_version"), col("row_ts"),
        size(col("refs")).as("n_refs"),
        posexplode(col("refs")).as(Seq("pos", "node_id")))
      .join(refNodes, Seq("node_id"))
      .filter(col("node_ts") <= col("row_ts"))
      // desc(node_version) tie-break: same-timestamp node versions occur
      // in minutely diffs — rank-1 must be deterministic (the batch
      // assembly's rule, Contributions.scala:329)
      .withColumn("rk", row_number().over(
        Window.partitionBy("id", "version", "osm_minor_version", "pos")
          .orderBy(desc("node_ts"), desc("node_version"))))
      .filter(col("rk") === 1)
      // refs whose winning as-of row is a deletion (or has no coordinates)
      // drop out here — n_pts < n_refs then nulls the geometry below
      .filter(col("vis") && !isnan(col("lat")) && !isnan(col("lon")))
    // a ref with no resolvable visible node version (e.g. the referenced
    // node was deleted or not yet known) must NOT silently shorten the
    // linestring — null the geometry instead, the same invalid-flag
    // contract as the batch assembly (Contributions.withGeometries)
    val wayGeoms = asOf
      .groupBy("id", "version", "osm_minor_version")
      .agg(count(lit(1)).as("n_pts"), first("row_ts").as("row_ts"),
        first("n_refs").as("n_refs"),
        sort_array(collect_list(struct(col("pos"), col("lon"), col("lat")))).as("pts"))
      .withColumn("complete", col("n_pts") === col("n_refs"))
      .withColumn("wkb", when(col("complete"), call_function("wkb_line",
        expr("transform(pts, p -> p.lon)"), expr("transform(pts, p -> p.lat)"))))
      .withColumn("length_mm", when(col("complete"), call_function("geodesic_length_mm",
        expr("transform(pts, p -> p.lon)"), expr("transform(pts, p -> p.lat)"))))
      .select("id", "version", "osm_minor_version", "n_pts", "wkb", "length_mm")

    // ---------------- relations ----------------
    val dr = diff.filter(col("osm_type") === "relation")
      .select(col("id"), col("version"), col("ts_ms"), col("visible"),
        col("tags"), col("refs"), col("ref_types"),
        col("changeset"), col("uid"), col("user"))
    val drIds = dr.select("id")

    val changedWayIdsAll = wayMajors.select(col("id").as("ref_id"))
      .unionByName(wayMinors.select(col("id").as("ref_id")))
    val nodeRelRefs = readFor(spark, dir(root, "node_relations"), backrefSchema,
      editNodeIds, "ref_id").localCheckpoint(true)
    val wayRelRefs = readFor(spark, dir(root, "way_relations"), backrefSchema,
      changedWayIdsAll, "ref_id").localCheckpoint(true)

    val relLookupIds = drIds
      .unionByName(nodeRelRefs.select(explode(col("parent_ids")).as("id")))
      .unionByName(wayRelRefs.select(explode(col("parent_ids")).as("id")))
    val beforeR = readFor(spark, dir(root, "relations"), relSchema, relLookupIds, "id")
      .localCheckpoint(true)

    val relTl = beforeR
      .select(col("id"), col("version"), col("ts_ms"), col("visible"),
        col("tags"), col("refs"), col("ref_types"))
      .withColumn("is_new", lit(false))
      .withColumn("changeset", lit(null).cast(LongType))
      .withColumn("uid", lit(null).cast(LongType))
      .withColumn("user", lit(null).cast(StringType))
      .unionByName(dr.withColumn("is_new", lit(true)))
    val relMajors = classify(relTl,
      col("refs") =!= lag("refs", 1).over(Window.partitionBy("id").orderBy("version", "ts_ms")))
      .filter(col("is_new"))
      .filter(!(col("contrib_type") === "DELETION" && col("prev_visible").isNull))
      .join(broadcast(beforeR.select(col("id"), col("version").as("before_version"))),
        Seq("id"), "left")
      .filter(col("before_version").isNull || col("version") > col("before_version"))
      .drop("before_version")
      .withColumn("osm_minor_version", lit(0))
      .localCheckpoint(true)

    // relation minors: member-node edits + member-way changes (major and
    // node-induced minor alike — a tag-only way major propagates through
    // its own minors, emitted above), excluding relations whose diff
    // major already carries the change
    val wayChangeTs = wayMajors
      .filter(col("contrib_type").contains("GEOMETRY") ||
        col("contrib_type") === "CREATION" || col("contrib_type") === "DELETION")
      .select(col("id").as("ref_id"), col("ts_ms").as("edit_ts"))
      .unionByName(wayMinors.select(col("id").as("ref_id"),
        col("edit_ts")))
    val relMajorLatest = latestMajorState(relMajors, beforeR,
      Seq("ts_ms", "visible", "tags", "refs", "ref_types"))
    val effectiveR = beforeR
      .join(broadcast(relMajorLatest.select("id")), Seq("id"), "left_anti")
      .unionByName(relMajorLatest)
      .localCheckpoint(true)
    val relEditEvents = nodeEdits
      .withColumnRenamed("node_id", "ref_id")
      .join(nodeRelRefs, Seq("ref_id"))
      .select(explode(col("parent_ids")).as("id"), col("edit_ts"))
      .unionByName(wayChangeTs
        .join(wayRelRefs, Seq("ref_id"))
        .select(explode(col("parent_ids")).as("id"), col("edit_ts")))
      .distinct()
    val relMinors = relEditEvents
      .join(effectiveR.filter(col("visible")), Seq("id"))
      .filter(col("edit_ts") > col("ts_ms"))
      .withColumn("osm_minor_version", col("minor_version") +
        row_number().over(Window.partitionBy("id").orderBy("edit_ts")))
      .withColumn("contrib_type", lit("GEOMETRY"))
      .localCheckpoint(true)

    // relation geometry: multipolygon assembly for every emitted visible
    // relation row — the ContributionUpdater.updateRelation analog
    // (ContributionUpdater.java:101-121): member ways resolve as-of the
    // row's instant (store ∪ diff), their node refs resolve as-of the same
    // instant, and the batch ring-stitch machinery ([[RelationGeometry]])
    // assembles the rings, so the update path's WKB is byte-equal to the
    // batch path's by construction
    val relRowsForGeom = relMajors.filter(col("visible"))
      .select(col("id"), col("version"), col("osm_minor_version"),
        col("ts_ms").as("row_ts"), col("refs"), col("ref_types"))
      .unionByName(relMinors.select(col("id"), col("version"),
        col("osm_minor_version"), col("edit_ts").as("row_ts"),
        col("refs"), col("ref_types")))
    val relGeoms = relationGeoms(spark, root, relRowsForGeom, dw, dn)

    // ---------------- emitted contributions ----------------
    val out =
      nodeContribs.select(
        lit("node").as("osm_type"), col("id").as("osm_id"),
        col("version").as("osm_version"), lit(0).as("osm_minor_version"),
        col("ts_ms").as("valid_from"), col("contrib_type"), col("tags"),
        col("changeset"), col("uid"), col("user"),
        when(!isnan(col("lon")), col("lon")).as("lon"),
        when(!isnan(col("lat")), col("lat")).as("lat"),
        // deletions carry no coordinates (the osc parser fills NaN) — a
        // NaN-encoding WKB point is garbage, null is the contract
        when(col("visible") && !isnan(col("lon")) && !isnan(col("lat")),
          call_function("wkb_point", col("lon"), col("lat"))).as("wkb"),
        lit(null).cast(LongType).as("length_mm"))
      .unionByName(
        wayMajors.join(wayGeoms.drop("n_pts"),
            Seq("id", "version", "osm_minor_version"), "left")
          .select(
            lit("way").as("osm_type"), col("id").as("osm_id"),
            col("version").as("osm_version"), col("osm_minor_version"),
            col("ts_ms").as("valid_from"), col("contrib_type"), col("tags"),
            col("changeset"), col("uid"), col("user"),
            lit(null).cast(DoubleType).as("lon"),
            lit(null).cast(DoubleType).as("lat"),
            col("wkb"), col("length_mm")))
      .unionByName(
        wayMinors.join(wayGeoms.drop("n_pts"),
            Seq("id", "version", "osm_minor_version"), "left")
          .select(
            lit("way").as("osm_type"), col("id").as("osm_id"),
            col("version").as("osm_version"), col("osm_minor_version"),
            col("edit_ts").as("valid_from"), col("contrib_type"), col("tags"),
            lit(null).cast(LongType).as("changeset"),
            lit(null).cast(LongType).as("uid"),
            lit(null).cast(StringType).as("user"),
            lit(null).cast(DoubleType).as("lon"),
            lit(null).cast(DoubleType).as("lat"),
            col("wkb"), col("length_mm")))
      .unionByName(
        relMajors.join(relGeoms, Seq("id", "version", "osm_minor_version"), "left")
          .select(
            lit("relation").as("osm_type"), col("id").as("osm_id"),
            col("version").as("osm_version"), col("osm_minor_version"),
            col("ts_ms").as("valid_from"), col("contrib_type"), col("tags"),
            col("changeset"), col("uid"), col("user"),
            lit(null).cast(DoubleType).as("lon"),
            lit(null).cast(DoubleType).as("lat"),
            col("rel_wkb").as("wkb"),
            lit(null).cast(LongType).as("length_mm")))
      .unionByName(
        relMinors.join(relGeoms, Seq("id", "version", "osm_minor_version"), "left")
          .select(
            lit("relation").as("osm_type"), col("id").as("osm_id"),
            col("version").as("osm_version"), col("osm_minor_version"),
            col("edit_ts").as("valid_from"), col("contrib_type"), col("tags"),
            lit(null).cast(LongType).as("changeset"),
            lit(null).cast(LongType).as("uid"),
            lit(null).cast(StringType).as("user"),
            lit(null).cast(DoubleType).as("lon"),
            lit(null).cast(DoubleType).as("lat"),
            col("rel_wkb").as("wkb"),
            lit(null).cast(LongType).as("length_mm")))
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

  /** Newest diff major per entity — REGARDLESS of visibility — as a
    * store-row-shaped frame (version reset to minor 0, edit counter carried
    * from the store): the override half of the effective-state union that
    * minor candidacy attaches to. A same-diff DELETION major must win this
    * rank (carrying `visible = false`) so the downstream
    * `effective.filter(visible)` guards suppress member-edit minors after
    * the deletion — the reference's timeline processing emits nothing for
    * an element past its deletion, and the common delete-way-plus-its-nodes
    * changeset would otherwise fabricate GEOMETRY minors on the stored
    * pre-delete row.
    *
    * Known intra-diff divergence: a member edit timestamped BEFORE a
    * same-diff deletion (node moves at t1, way deleted at t2 > t1) is
    * elided too — the deletion wins the rank for the whole diff, so the
    * pre-deletion GEOMETRY minor the reference's full timeline would emit
    * at t1 never materializes. Same bounded intra-diff elision as the
    * major-fold rule above (edits at/before a same-diff major fold into
    * the major's as-of rebuild); both collapse sub-minute ordering inside
    * one diff, never across diffs.
    */
  private def latestMajorState(majors: DataFrame, before: DataFrame,
      carryCols: Seq[String]): DataFrame =
    majors
      .withColumn("mrk", row_number().over(
        Window.partitionBy("id").orderBy(desc("version"), desc("ts_ms"))))
      .filter(col("mrk") === 1).drop("mrk")
      .join(before.select(col("id"), col("edits").as("prev_edits")), Seq("id"), "left")
      .select((Seq(col("id"), col("version"), lit(0).as("minor_version"),
        coalesce(col("prev_edits"), lit(0L)).as("edits")) ++
        carryCols.map(col)): _*)

  /** Multipolygon WKB per emitted relation row: member ways as-of the
    * row's instant (stored latest overridden by same-diff way versions at
    * or before it), node refs as-of the same instant, then the EXACT batch
    * assembly — [[RelationGeometry.dedupeWays]] → [[RelationGeometry.stitch]]
    * → [[RelationGeometry.removeSpikes]] → [[RelationGeometry.classify]] →
    * the shared WKB writers — so update-path relation geometry is
    * byte-equal to the batch path's on the same member state
    * (ContributionUpdater.java:101-121 updateRelations/updateRelation).
    *
    * A member way with an unresolvable ref (node deleted/unknown as of the
    * row) contributes NO line — its ring stays open, `wkb` still encodes
    * whatever closed rings remain (the batch closed-rings-only rule).
    * Relations with no way members keep a null wkb. Scale: every frame here
    * is diff-sized; the store reads are bucket-pruned to member ids.
    */
  private def relationGeoms(spark: SparkSession, root: String,
      relRows: DataFrame, dw: DataFrame, dn: DataFrame): DataFrame = {
    import spark.implicits._
    val members = relRows
      .select(col("id"), col("version"), col("osm_minor_version"), col("row_ts"),
        explode(arrays_zip(col("refs"), col("ref_types"))).as("m"))
      .filter(col("m.ref_types") === "way")
      .select(col("id"), col("version"), col("osm_minor_version"), col("row_ts"),
        col("m.refs").as("way_id"))
    val wayIds = members.select(col("way_id").as("id"))
    val storedW = readFor(spark, dir(root, "ways"), waySchema, wayIds, "id")
    val wayCand = storedW
      .select(col("id").as("way_id"), col("version").as("w_version"),
        col("ts_ms").as("w_ts"), col("visible").as("w_vis"), col("refs").as("w_refs"))
      .unionByName(dw
        .select(col("id").as("way_id"), col("version").as("w_version"),
          col("ts_ms").as("w_ts"), col("visible").as("w_vis"), col("refs").as("w_refs")))
    val wayAsOf = members.join(wayCand, Seq("way_id"))
      .filter(col("w_ts") <= col("row_ts"))
      .withColumn("wrk", row_number().over(
        Window.partitionBy("id", "version", "osm_minor_version", "way_id")
          .orderBy(desc("w_ts"), desc("w_version"))))
      .filter(col("wrk") === 1 && col("w_vis"))
      .localCheckpoint(true)
    val refIds = wayAsOf.select(explode(col("w_refs")).as("id"))
    val nodeCand = readFor(spark, dir(root, "nodes"), nodeSchema, refIds, "id")
      .select(col("id").as("node_id"), col("ts_ms").as("node_ts"),
        col("version").as("node_version"),
        col("lon"), col("lat"), col("visible").as("vis"))
      .unionByName(dn
        .select(col("id").as("node_id"), col("ts_ms").as("node_ts"),
          col("version").as("node_version"),
          col("lon"), col("lat"), col("visible").as("vis")))
    val lines = wayAsOf
      .select(col("id"), col("version"), col("osm_minor_version"), col("row_ts"),
        col("way_id"), size(col("w_refs")).as("n_refs"),
        posexplode(col("w_refs")).as(Seq("pos", "node_id")))
      .join(nodeCand, Seq("node_id"))
      .filter(col("node_ts") <= col("row_ts"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("id", "version", "osm_minor_version", "way_id", "pos")
          .orderBy(desc("node_ts"), desc("node_version"))))
      .filter(col("rk") === 1)
      .filter(col("vis") && !isnan(col("lat")) && !isnan(col("lon")))
      .groupBy("id", "version", "osm_minor_version", "way_id")
      .agg(count(lit(1)).as("n_pts"), first("n_refs").as("n_refs"),
        sort_array(collect_list(struct(col("pos"), col("lon"), col("lat")))).as("p"))
      // an incompletely-resolved member way drops whole: a shortened line
      // would stitch a WRONG ring; a missing one leaves the ring open
      .filter(col("n_pts") === col("n_refs"))
      .select(col("id"), col("version"), col("osm_minor_version"), col("way_id"),
        expr("transform(p, q -> q.lon)").as("lons"),
        expr("transform(p, q -> q.lat)").as("lats"))
    lines.as[(Long, Int, Int, Long, Array[Double], Array[Double])]
      .groupByKey(t => (t._1, t._2, t._3))
      .mapGroups { (key: (Long, Int, Int), it: Iterator[(Long, Int, Int, Long, Array[Double], Array[Double])]) =>
        val (id, ver, minor) = key
        // way_id sort = the batch assembly's member order (assemble:277)
        val ways = it.toSeq.sortBy(_._4).map(t => (t._5, t._6))
        val (uniq, _) = RelationGeometry.dedupeWays(ways)
        val rings = RelationGeometry.stitch(uniq).flatMap {
          case (xs, ys, true) =>
            val (rx, ry, _) = RelationGeometry.removeSpikes(xs.toSeq, ys.toSeq)
            if (rx.isEmpty) None else Some((rx, ry))
          case _ => None
        }
        val shells = RelationGeometry.classify(rings)
        val polys = shells.map(s =>
          ((s.shell._1.toArray, s.shell._2.toArray)) +:
            s.holes.toSeq.map(h => (h._1.toArray, h._2.toArray)))
        val wkb =
          if (polys.length > 1) graft.functions.Geo.wkbMultiPolygonHex(polys)
          else graft.functions.Geo.wkbPolygonHex(polys.headOption.getOrElse(Seq.empty))
        (id, ver, minor, wkb)
      }
      .toDF("id", "version", "osm_minor_version", "rel_wkb")
  }

  /** Sequenced catch-up over a replication directory of `.osc` diffs — the
    * full ReplicationManager.java loop on the TYPED store: applies every
    * pending sequence in strict order (gap = stop), writes each diff's
    * emitted contributions to `out/seq=N/`, and bumps the `state.txt`
    * bookmark last. [[applyDiff]] is idempotent per diff (store timestamps
    * advance past applied edits), so a crash between the store upserts and
    * the state write re-runs the diff into the same state.
    */
  /** @param changesetDb optional changeset store frame (id, created_at,
    *                     closed_at, num_changes, tags) — the `--changeset-db`
    *                     contract on the update path: every emitted
    *                     contribution joins its changeset struct
    *                     (broadcast; Replications.java:79-88).
    */
  def catchUp(spark: SparkSession, replDir: String, root: String,
      maxSteps: Int = Int.MaxValue,
      changesetDb: Option[DataFrame] = None): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    var st = ReplicationCatchup.readState(root)
      .getOrElse(ReplicationCatchup.State(0L, ""))
    var applied = 0L
    ReplicationCatchup.listDiffs(replDir)
      .filter(_._1 > st.sequenceNumber)
      .take(maxSteps)
      .foreach { case (seq, path) =>
        if (seq == st.sequenceNumber + 1) {
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
          applied += 1
        }
      }
    applied
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

    def latestOf(df: DataFrame): DataFrame = df
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(desc("version"), desc("ts_ms"))))
      .filter(col("rk") === 1).drop("rk")

    // the store only ever moves FORWARD: a diff carrying versions at or
    // below the stored one (snapshot/replication overlap, crash replay)
    // must not regress entity rows, counters, or the backref tables — the
    // same version guard the emission path applies
    def freshLatest(d: DataFrame, before: DataFrame): DataFrame =
      latestOf(d)
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

    // ways: diff majors reset the minor counter to the last emitted minor
    // (0 for a plain major); minor-only ways bump counter + edits in place
    val wayEm = emitted.filter(col("osm_type") === "way").drop("osm_type")
    val dwFresh = freshLatest(dw, beforeW).localCheckpoint(true)
    val drFresh = freshLatest(dr, beforeR).localCheckpoint(true)
    val wayMinorTs = wayMinors.groupBy("id").agg(max("edit_ts").as("minor_last_ts"))
    val waysMajorUp = dwFresh
      .join(beforeW.select(col("id"), col("edits").as("prev_edits")), Seq("id"), "left")
      .join(wayEm, Seq("id"), "left")
      .join(wayMinorTs, Seq("id"), "left")
      .select(col("id"), col("version"),
        coalesce(col("max_minor"), lit(0)).cast(IntegerType).as("minor_version"),
        (coalesce(col("prev_edits"), lit(0L)) + coalesce(col("new_edits"), lit(0L))).as("edits"),
        // advance past any same-diff minors attached to this major so a
        // replay finds no edit newer than the store
        greatest(col("ts_ms"), coalesce(col("minor_last_ts"), col("ts_ms"))).as("ts_ms"),
        col("visible"), col("tags"), col("refs"))
    // stored ts_ms advances past the applied edits: re-applying the same
    // diff after a crash then finds no edit newer than the store and
    // re-emits nothing — per-diff idempotence without a cross-table
    // transaction
    val waysMinorUp = wayMinors
      .groupBy("id").agg(max("osm_minor_version").as("max_minor"),
        count(lit(1)).as("new_edits"), max("edit_ts").as("last_ts"))
      // minors attached to a fresh diff major are folded into its
      // waysMajorUp row — a second row for the same key would corrupt the
      // latest-wins upsert
      .join(broadcast(dwFresh.select("id")), Seq("id"), "left_anti")
      .join(beforeW, Seq("id"))
      .select(col("id"), col("version"),
        col("max_minor").cast(IntegerType).as("minor_version"),
        (col("edits") + col("new_edits")).as("edits"),
        col("last_ts").as("ts_ms"), col("visible"), col("tags"), col("refs"))
    upsert(spark, dir(root, "ways"), waysMajorUp.unionByName(waysMinorUp), "id")

    // relations: same shape
    val relEm = emitted.filter(col("osm_type") === "relation").drop("osm_type")
    val relMinorTs = relMinors.groupBy("id").agg(max("edit_ts").as("minor_last_ts"))
    val relsMajorUp = drFresh
      .join(beforeR.select(col("id"), col("edits").as("prev_edits")), Seq("id"), "left")
      .join(relEm, Seq("id"), "left")
      .join(relMinorTs, Seq("id"), "left")
      .select(col("id"), col("version"),
        coalesce(col("max_minor"), lit(0)).cast(IntegerType).as("minor_version"),
        (coalesce(col("prev_edits"), lit(0L)) + coalesce(col("new_edits"), lit(0L))).as("edits"),
        greatest(col("ts_ms"), coalesce(col("minor_last_ts"), col("ts_ms"))).as("ts_ms"),
        col("visible"), col("tags"), col("refs"), col("ref_types"))
    val relsMinorUp = relMinors
      .groupBy("id").agg(max("osm_minor_version").as("max_minor"),
        count(lit(1)).as("new_edits"), max("edit_ts").as("last_ts"))
      .join(broadcast(drFresh.select("id")), Seq("id"), "left_anti")
      .join(beforeR, Seq("id"))
      .select(col("id"), col("version"),
        col("max_minor").cast(IntegerType).as("minor_version"),
        (col("edits") + col("new_edits")).as("edits"),
        col("last_ts").as("ts_ms"), col("visible"), col("tags"), col("refs"), col("ref_types"))
    upsert(spark, dir(root, "relations"), relsMajorUp.unionByName(relsMinorUp), "id")

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
      val drLatest = drFresh
      val drParents = drLatest.select(col("id").as("parent_id"))
      val oldR = beforeR
        .join(broadcast(drFresh.select("id")), Seq("id"), "left_semi")
        .withColumnRenamed("id", "rid")
      def pairsOf(df: DataFrame, idCol: String, mtype: String): DataFrame =
        df.filter(col("visible"))
          .select(col(idCol).as("parent_id"),
            explode(arrays_zip(col("refs"), col("ref_types"))).as("m"))
          .filter(col("m.ref_types") === mtype)
          .select(col("m.refs").as("ref_id"), col("parent_id"))
      reconcileBackrefs(spark, dir(root, "node_relations"), drParents,
        pairsOf(oldR, "rid", "node"), pairsOf(drLatest, "id", "node"))
      reconcileBackrefs(spark, dir(root, "way_relations"), drParents,
        pairsOf(oldR, "rid", "way"), pairsOf(drLatest, "id", "way"))
    }
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
