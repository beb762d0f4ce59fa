package graft

import graft.operators.OsmUpdater
import graft.sources.{ChangesetStore, OsmXml}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Entity-typed replication update: node→way→relation backref propagation,
  * minor-version numbering, store maintenance across diffs.
  */
class OsmUpdaterSpec extends SparkSpec {

  private val memberType = ArrayType(StructType(Seq(
    StructField("mtype", StringType), StructField("ref", LongType),
    StructField("role", StringType))))
  private val entitySchema = StructType(Seq(
    StructField("osm_type", StringType), StructField("id", LongType),
    StructField("version", IntegerType), StructField("ts_ms", LongType),
    StructField("visible", BooleanType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("refs", ArrayType(LongType)),
    StructField("members", memberType)))

  private def seedEntities = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("node", 1L, 1, 1000L, true, 1.0, 1.0, Map.empty[String, String], null, null),
      Row("node", 2L, 1, 1000L, true, 1.0, 2.0, Map.empty[String, String], null, null),
      Row("node", 3L, 1, 1000L, true, 2.0, 2.0, Map.empty[String, String], null, null),
      Row("way", 10L, 1, 1000L, true, Double.NaN, Double.NaN,
        Map("highway" -> "path"), Seq(1L, 2L), null),
      Row("way", 11L, 1, 1000L, true, Double.NaN, Double.NaN,
        Map.empty[String, String], Seq(3L), null),
      Row("relation", 20L, 1, 1000L, true, Double.NaN, Double.NaN,
        Map("type" -> "route"), null,
        Seq(Row("way", 10L, "outer"), Row("node", 3L, "stop"))))),
    entitySchema)

  private def oscDf(xml: String) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-upd-osc")
    java.nio.file.Files.writeString(tmp.resolve("d.osc"), xml)
    OsmXml.readOsc(spark, tmp.toString + "/*.osc")
  }

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft-updstore").toString

  test("diff node move propagates to parent way minor and relation minor") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)

    // n1 moves; n4 is created; w11 gains n4 as a second ref
    val diff = oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        | <create>
        |  <node id="4" version="1" timestamp="2024-01-01T00:00:20Z" changeset="100" uid="9" user="alice" lat="3.0" lon="3.0"/>
        | </create>
        | <modify>
        |  <way id="11" version="2" timestamp="2024-01-01T00:00:30Z" changeset="100" uid="9" user="alice">
        |   <nd ref="3"/><nd ref="4"/>
        |  </way>
        | </modify>
        |</osmChange>""".stripMargin)

    val out = OsmUpdater.applyDiff(spark, root, diff).cache()

    // node contributions: n1 GEOMETRY, n4 CREATION
    val n1 = out.filter(col("osm_type") === "node" && col("osm_id") === 1).collect()
    assert(n1.length === 1)
    assert(n1.head.getAs[String]("contrib_type") === "GEOMETRY")
    assert(out.filter(col("osm_type") === "node" && col("osm_id") === 4 &&
      col("contrib_type") === "CREATION").count() === 1)

    // way 11 major row with rebuilt two-point geometry
    val w11 = out.filter(col("osm_type") === "way" && col("osm_id") === 11).collect()
    assert(w11.length === 1)
    assert(w11.head.getAs[Int]("osm_minor_version") === 0)
    assert(w11.head.getAs[String]("contrib_type").contains("GEOMETRY"))
    assert(w11.head.getAs[String]("wkb") != null)
    assert(w11.head.getAs[Long]("length_mm") > 0L)

    // way 10 NOT in the diff: node-1 movement reaches it through the
    // NODE→WAY backrefs as minor version 1
    val w10 = out.filter(col("osm_type") === "way" && col("osm_id") === 10).collect()
    assert(w10.length === 1)
    assert(w10.head.getAs[Int]("osm_minor_version") === 1)
    assert(w10.head.getAs[String]("contrib_type") === "GEOMETRY")
    assert(w10.head.getAs[Long]("length_mm") > 0L)

    // relation 20: member way 10 changed → relation minor version 1
    val r20 = out.filter(col("osm_type") === "relation" && col("osm_id") === 20).collect()
    assert(r20.length === 1)
    assert(r20.head.getAs[Int]("osm_minor_version") === 1)
    assert(r20.head.getAs[String]("contrib_type") === "GEOMETRY")

    // store state advanced: way 10 minor counter persisted, n4→w11 backref
    val ways = ChangesetStore.readAuto(spark, s"$root/ways")
    assert(ways.filter(col("id") === 10).select("minor_version")
      .head().getInt(0) === 1)
    val nw = ChangesetStore.readAuto(spark, s"$root/node_ways")
    val n4Parents = nw.filter(col("ref_id") === 4).select("parent_ids").head()
      .getSeq[Long](0)
    assert(n4Parents === Seq(11L))
    out.unpersist()
  }

  test("second diff uses first diff's backrefs and continues minor numbering") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <create>
        |  <node id="4" version="1" timestamp="2024-01-01T00:00:20Z" changeset="100" uid="9" user="alice" lat="3.0" lon="3.0"/>
        | </create>
        | <modify>
        |  <way id="11" version="2" timestamp="2024-01-01T00:00:30Z" changeset="100" uid="9" user="alice">
        |   <nd ref="3"/><nd ref="4"/>
        |  </way>
        | </modify>
        |</osmChange>""".stripMargin))

    // diff 2: only n4 moves — w11 must pick it up via the backref written
    // by diff 1, with a fresh minor version
    val out2 = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="4" version="2" timestamp="2024-01-01T01:00:00Z" changeset="101" uid="9" user="alice" lat="3.5" lon="3.5"/>
        | </modify>
        |</osmChange>""".stripMargin)).cache()

    val w11 = out2.filter(col("osm_type") === "way" && col("osm_id") === 11).collect()
    assert(w11.length === 1)
    assert(w11.head.getAs[Int]("osm_version") === 2)
    assert(w11.head.getAs[Int]("osm_minor_version") === 1)

    // a third diff keeps counting
    val out3 = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="4" version="3" timestamp="2024-01-01T02:00:00Z" changeset="102" uid="9" user="alice" lat="3.6" lon="3.6"/>
        | </modify>
        |</osmChange>""".stripMargin))
    assert(out3.filter(col("osm_type") === "way" && col("osm_id") === 11)
      .select("osm_minor_version").head().getInt(0) === 2)
    out2.unpersist()
  }

  test("relation major resets minors; member swap updates backref tables") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)

    // r20 v2 drops way 10, keeps node 3 — a relation MAJOR
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <relation id="20" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice">
        |   <member type="node" ref="3" role="stop"/>
        |  </relation>
        | </modify>
        |</osmChange>""".stripMargin))
    val r20 = out.filter(col("osm_type") === "relation" && col("osm_id") === 20).collect()
    assert(r20.length === 1)
    assert(r20.head.getAs[Int]("osm_version") === 2)
    assert(r20.head.getAs[Int]("osm_minor_version") === 0)

    // way 10 is no longer a member: moving n1 must emit the w10 minor but
    // NO relation contribution
    val out2 = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T01:00:00Z" changeset="101" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    assert(out2.filter(col("osm_type") === "way" && col("osm_id") === 10).count() === 1)
    assert(out2.filter(col("osm_type") === "relation").count() === 0)

    // but moving n3 (still a member) emits a relation minor on v2
    val out3 = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="3" version="2" timestamp="2024-01-01T02:00:00Z" changeset="102" uid="9" user="alice" lat="2.5" lon="2.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    val r20m = out3.filter(col("osm_type") === "relation" && col("osm_id") === 20).collect()
    assert(r20m.length === 1)
    assert(r20m.head.getAs[Int]("osm_version") === 2)
    assert(r20m.head.getAs[Int]("osm_minor_version") === 1)
  }

  test("sequenced catch-up applies diffs in order and re-running is a no-op") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    val replDir = java.nio.file.Files.createTempDirectory("graft-upd-repl")
    java.nio.file.Files.writeString(replDir.resolve("1.osc"),
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin)
    java.nio.file.Files.writeString(replDir.resolve("2.osc"),
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="3" timestamp="2024-01-01T01:00:00Z" changeset="101" uid="9" user="alice" lat="1.6" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin)

    assert(OsmUpdater.catchUp(spark, replDir.toString, root) === 2L)
    assert(graft.operators.ReplicationCatchup.readState(root)
      .map(_.sequenceNumber) === Some(2L))
    // two sequential node moves → way-10 minors 1 then 2
    val seq2 = spark.read.parquet(s"$root/out/seq=2")
    assert(seq2.filter(col("osm_type") === "way" && col("osm_id") === 10)
      .select("osm_minor_version").head().getInt(0) === 2)

    // no pending diffs → nothing applied, nothing re-emitted
    assert(OsmUpdater.catchUp(spark, replDir.toString, root) === 0L)

    // idempotence of a single diff replay (crash between store commit and
    // state write): re-applying diff 2 emits no rows and leaves counters
    val replay = OsmUpdater.applyDiff(spark, root,
      oscDf("""<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="3" timestamp="2024-01-01T01:00:00Z" changeset="101" uid="9" user="alice" lat="1.6" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    assert(replay.filter(col("osm_type") === "way").count() === 0)
    val ways = ChangesetStore.readAuto(spark, s"$root/ways")
    assert(ways.filter(col("id") === 10).select("minor_version")
      .head().getInt(0) === 2)
  }

  test("multiple versions of one node in a single diff cascade per instant") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    // n1 moves twice within one minutely diff
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        |  <node id="1" version="3" timestamp="2024-01-01T00:00:40Z" changeset="100" uid="9" user="alice" lat="1.8" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    // two node contributions, classified against each other in version order
    val n1 = out.filter(col("osm_type") === "node" && col("osm_id") === 1)
      .orderBy("osm_version").collect()
    assert(n1.map(_.getAs[Int]("osm_version")).toSeq === Seq(2, 3))
    assert(n1.forall(_.getAs[String]("contrib_type") === "GEOMETRY"))
    // way 10 gets one minor PER CHANGE INSTANT, numbered in time order
    val w10 = out.filter(col("osm_type") === "way" && col("osm_id") === 10)
      .orderBy("osm_minor_version").collect()
    assert(w10.map(_.getAs[Int]("osm_minor_version")).toSeq === Seq(1, 2))
    assert(w10.map(_.getAs[Long]("valid_from")).toSeq ===
      Seq(1704067210000L, 1704067240000L))
    // store counter lands on the last minor
    val ways = ChangesetStore.readAuto(spark, s"$root/ways")
    assert(ways.filter(col("id") === 10).select("minor_version")
      .head().getInt(0) === 2)
  }

  test("catch-up with a changeset db joins changeset structs onto emissions") {
    import spark.implicits._
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    val replDir = java.nio.file.Files.createTempDirectory("graft-upd-csdb")
    java.nio.file.Files.writeString(replDir.resolve("1.osc"),
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin)
    val csDb = Seq(
      (100L, "2024-01-01T00:00:00Z", "2024-01-01T00:30:00Z", 12L,
        Map("comment" -> "survey #mapathon #roads", "created_by" -> "iD 2.27")))
      .toDF("id", "created_at", "closed_at", "num_changes", "tags")
    assert(OsmUpdater.catchUp(spark, replDir.toString, root,
      changesetDb = Some(csDb)) === 1L)
    val out = spark.read.parquet(s"$root/out/seq=1")
    val n1 = out.filter(col("osm_type") === "node" && col("osm_id") === 1).head()
    assert(n1.getAs[String]("cs_editor") === "iD 2.27")
    assert(n1.getAs[String]("cs_hashtags") === "mapathon,roads")
    assert(n1.getAs[Long]("cs_num_changes") === 12L)
    // the way minor carries no changeset id → null struct fields, row kept
    val w10 = out.filter(col("osm_type") === "way" && col("osm_id") === 10).head()
    assert(w10.getAs[String]("cs_editor") == null)
  }

  test("stale diff versions regress neither store nor counters") {
    val root = freshRoot()
    // seed with node 1 at v3 (replication overlap: diffs may start earlier)
    val seed3 = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("node", 1L, 3, 5000L, true, 1.9, 1.0, Map.empty[String, String], null, null),
        Row("node", 2L, 1, 1000L, true, 1.0, 2.0, Map.empty[String, String], null, null),
        Row("way", 10L, 2, 4000L, true, Double.NaN, Double.NaN,
          Map.empty[String, String], Seq(1L, 2L), null))),
      entitySchema)
    OsmUpdater.initStore(spark, root, seed3)

    // diff carries node 1 at v2 — older than the store
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    assert(out.count() === 0, "stale versions must emit nothing")
    val n1 = ChangesetStore.readAuto(spark, s"$root/nodes")
      .filter(col("id") === 1).head()
    assert(n1.getAs[Int]("version") === 3, "store must keep the newer version")
    assert(n1.getAs[Double]("lat") === 1.9, "coordinates must not regress")
  }

  test("node deletion: null node wkb, null geometry on the cascaded way minor") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <delete>
        |  <node id="2" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice"/>
        | </delete>
        |</osmChange>""".stripMargin))
    val n2 = out.filter(col("osm_type") === "node" && col("osm_id") === 2).head()
    assert(n2.getAs[String]("contrib_type") === "DELETION")
    assert(n2.getAs[String]("wkb") == null, "no NaN-encoding point WKB")
    assert(n2.isNullAt(n2.fieldIndex("lat")), "NaN coordinates must null out")
    // way 10 references the deleted node: minor emitted, geometry nulled
    // (the ref is unresolvable at the deletion instant)
    val w10 = out.filter(col("osm_type") === "way" && col("osm_id") === 10).head()
    assert(w10.getAs[Int]("osm_minor_version") === 1)
    assert(w10.getAs[String]("wkb") == null,
      "deleted ref must null the geometry, not keep the stale linestring")
  }

  test("initStore edits counter covers the full history") {
    val root = freshRoot()
    val hist = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("node", 1L, 1, 1000L, true, 1.0, 1.0, Map.empty[String, String], null, null),
        Row("node", 1L, 2, 2000L, true, 1.1, 1.0, Map.empty[String, String], null, null),
        Row("node", 1L, 3, 3000L, true, 1.2, 1.0, Map.empty[String, String], null, null),
        Row("way", 10L, 1, 1000L, true, Double.NaN, Double.NaN,
          Map.empty[String, String], Seq(1L), null),
        Row("way", 10L, 2, 2000L, true, Double.NaN, Double.NaN,
          Map.empty[String, String], Seq(1L), null))),
      entitySchema)
    OsmUpdater.initStore(spark, root, hist)
    assert(ChangesetStore.readAuto(spark, s"$root/ways")
      .filter(col("id") === 10).select("edits").head().getLong(0) === 2L)
    assert(ChangesetStore.readAuto(spark, s"$root/ways")
      .filter(col("id") === 10).select("version").head().getInt(0) === 2)
  }

  test("tag-only way change does not fabricate a relation GEOMETRY minor") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    // way 10 (member of relation 20) changes only tags; refs identical
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <way id="10" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice">
        |   <nd ref="1"/><nd ref="2"/>
        |   <tag k="highway" v="residential"/>
        |  </way>
        | </modify>
        |</osmChange>""".stripMargin))
    val w10 = out.filter(col("osm_type") === "way" && col("osm_id") === 10).head()
    assert(w10.getAs[String]("contrib_type") === "TAG")
    assert(out.filter(col("osm_type") === "relation").count() === 0,
      "a tag-only member change is not a relation geometry change")
  }

  test("tag-only way major plus same-diff node move: minor on the new version, relation propagates") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    // way 10 changes tags at T1; its ref node 1 moves at T2 > T1 — the
    // common single-changeset edit shape
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <way id="10" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice">
        |   <nd ref="1"/><nd ref="2"/>
        |   <tag k="highway" v="residential"/>
        |  </way>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:40Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    val w10 = out.filter(col("osm_type") === "way" && col("osm_id") === 10)
      .orderBy("osm_minor_version").collect()
    assert(w10.length === 2, "TAG major + node-induced GEOMETRY minor")
    assert(w10.head.getAs[String]("contrib_type") === "TAG")
    assert(w10.head.getAs[Int]("osm_minor_version") === 0)
    assert(w10(1).getAs[String]("contrib_type") === "GEOMETRY")
    assert(w10(1).getAs[Int]("osm_version") === 2,
      "the minor attaches to the NEW major version")
    assert(w10(1).getAs[Int]("osm_minor_version") === 1)
    assert(w10(1).getAs[Long]("length_mm") > 0L)
    // relation 20 (member: way 10) sees the geometry change
    assert(out.filter(col("osm_type") === "relation" && col("osm_id") === 20 &&
      col("contrib_type") === "GEOMETRY").count() === 1)
    // store: one row for way 10 — version 2, minor 1, ts advanced past T2
    val ways = ChangesetStore.readAuto(spark, s"$root/ways")
      .filter(col("id") === 10).collect()
    assert(ways.length === 1)
    assert(ways.head.getAs[Int]("version") === 2)
    assert(ways.head.getAs[Int]("minor_version") === 1)
    assert(ways.head.getAs[Long]("ts_ms") === 1704067240000L)
  }

  test("geometry way major plus LATER node move: post-major minor emitted") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    // way 10 changes refs at T1 (GEOMETRY major: drops node 2); node 1
    // moves at T2 > T1 — the major's as-of rebuild cannot see T2, so a
    // minor must carry it
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <way id="10" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice">
        |   <nd ref="1"/>
        |  </way>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:40Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    val w10 = out.filter(col("osm_type") === "way" && col("osm_id") === 10)
      .orderBy("osm_minor_version").collect()
    assert(w10.length === 2, "GEOMETRY major + post-major node minor")
    assert(w10.head.getAs[String]("contrib_type").contains("GEOMETRY"))
    assert(w10(1).getAs[Int]("osm_version") === 2)
    assert(w10(1).getAs[Int]("osm_minor_version") === 1)
    // store timestamp advanced past the minor → replay emits nothing
    val replay = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:40Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    assert(replay.count() === 0)
  }

  test("relation rows carry multipolygon WKB byte-equal to the batch assembly") {
    import spark.implicits._
    import graft.operators.RelationGeometry
    val root = freshRoot()
    // a ring of 501 one-segment member ways, one more than the member limit:
    // node 1001 + k sits on the unit circle, way 2001 + k joins it to the next
    val nBig = RelationGeometry.DefaultMemberLimit + 1
    val circle = (0 until nBig).map { k =>
      (math.cos(2 * math.Pi * k / nBig), math.sin(2 * math.Pi * k / nBig))
    }
    val bigWays = (0 until nBig).map(k => (2001L + k, Seq(1001L + k, 1001L + (k + 1) % nBig)))
    val bigRows = circle.zipWithIndex.map { case ((lon, lat), k) =>
      Row("node", 1001L + k, 1, 1000L, true, lat, lon, Map.empty[String, String], null, null)
    } ++ bigWays.map { case (w, refs) =>
      Row("way", w, 1, 1000L, true, Double.NaN, Double.NaN, Map.empty[String, String], refs, null)
    }
    // square ring: way 12 = n1→n2→n3, way 13 = n3→n4→n1
    val seed = spark.createDataFrame(
      spark.sparkContext.parallelize(bigRows ++ Seq(
        Row("node", 1L, 1, 1000L, true, 0.0, 0.0, Map.empty[String, String], null, null),
        Row("node", 2L, 1, 1000L, true, 1.0, 0.0, Map.empty[String, String], null, null),
        Row("node", 3L, 1, 1000L, true, 1.0, 1.0, Map.empty[String, String], null, null),
        Row("node", 4L, 1, 1000L, true, 0.0, 1.0, Map.empty[String, String], null, null),
        Row("way", 12L, 1, 1000L, true, Double.NaN, Double.NaN,
          Map.empty[String, String], Seq(1L, 2L, 3L), null),
        Row("way", 13L, 1, 1000L, true, Double.NaN, Double.NaN,
          Map.empty[String, String], Seq(3L, 4L, 1L), null),
        Row("relation", 30L, 1, 1000L, true, Double.NaN, Double.NaN,
          Map("type" -> "multipolygon"), null,
          Seq(Row("way", 12L, "outer"), Row("way", 13L, "outer"))))),
      entitySchema)
    OsmUpdater.initStore(spark, root, seed)

    // n2 moves (lat 1→2): way-12 minor + relation-30 minor, whose WKB must
    // equal the batch ring assembly over the moved member geometry
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="2" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice" lat="2.0" lon="0.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    val r30 = out.filter(col("osm_type") === "relation" && col("osm_id") === 30).collect()
    assert(r30.length === 1)
    assert(r30.head.getAs[Int]("osm_minor_version") === 1)
    val expected = RelationGeometry.assemble(
      Seq((30L, 12L), (30L, 13L)).toDF("rel_id", "way_id"),
      Seq((12L, Array(0.0, 0.0, 1.0), Array(0.0, 2.0, 1.0)),
        (13L, Array(1.0, 1.0, 0.0), Array(1.0, 0.0, 0.0)))
        .toDF("way_id", "lons", "lats")).collect().head
    assert(expected.closed && expected.n_shells === 1)
    assert(r30.head.getAs[String]("wkb") === expected.wkb,
      "update-path relation WKB must be byte-equal to the batch assembly")

    // a diff relation MAJOR (tag change) also carries assembled WKB, as-of
    // its own timestamp (node 2 already moved)
    val out2 = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <relation id="30" version="2" timestamp="2024-01-01T01:00:00Z" changeset="101" uid="9" user="alice">
        |   <member type="way" ref="12" role="outer"/>
        |   <member type="way" ref="13" role="outer"/>
        |   <tag k="type" v="multipolygon"/><tag k="landuse" v="forest"/>
        |  </relation>
        | </modify>
        |</osmChange>""".stripMargin))
    val r30v2 = out2.filter(col("osm_type") === "relation" && col("osm_id") === 30).head()
    assert(r30v2.getAs[Int]("osm_version") === 2)
    assert(r30v2.getAs[String]("wkb") === expected.wkb)

    // a relation over the member limit gets the batch assembly's
    // over-limit marker, though its member ways close one ring
    val memberXml = bigWays.map(w => s"""   <member type="way" ref="${w._1}" role="outer"/>""")
      .mkString("\n")
    val out3 = OsmUpdater.applyDiff(spark, root, oscDf(
      s"""<osmChange version="0.6">
        | <create>
        |  <relation id="31" version="1" timestamp="2024-01-01T02:00:00Z" changeset="102" uid="9" user="alice">
        |$memberXml
        |   <tag k="type" v="multipolygon"/>
        |  </relation>
        | </create>
        |</osmChange>""".stripMargin))
    val bigMembers = bigWays.map(w => (31L, w._1)).toDF("rel_id", "way_id")
    val bigLines = bigWays.map { case (w, refs) =>
      val pts = refs.map(r => circle((r - 1001L).toInt))
      (w, pts.map(_._1).toArray, pts.map(_._2).toArray)
    }.toDF("way_id", "lons", "lats")
    val unlimited = RelationGeometry.assemble(bigMembers, bigLines, memberLimit = -1)
      .collect().head
    assert(unlimited.closed && unlimited.n_shells === 1)
    val overLimit = RelationGeometry.assemble(bigMembers, bigLines).collect().head
    assert(overLimit.n_ways === nBig && overLimit.n_rings === 0 && !overLimit.valid)
    val r31 = out3.filter(col("osm_type") === "relation" && col("osm_id") === 31).collect()
    assert(r31.length === 1)
    assert(r31.head.getAs[String]("wkb") === overLimit.wkb,
      "update-path relation WKB must carry the batch assembly's member-limit marker")
  }

  test("same-diff way deletion suppresses its member-edit minors") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    // one changeset deletes way 10 at t1 and moves its member node 1 at
    // t2 > t1 — the r7 latestMajorState scenario: the deletion must win the
    // effective-state rank so NO way minor materializes after it
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <delete>
        |  <way id="10" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice"/>
        | </delete>
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:40Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    val w10 = out.filter(col("osm_type") === "way" && col("osm_id") === 10).collect()
    assert(w10.length === 1, "only the DELETION major, no fabricated minors")
    assert(w10.head.getAs[String]("contrib_type") === "DELETION")
    assert(w10.head.getAs[Int]("osm_minor_version") === 0)
    // relation 20 sees the member deletion (t1) but NOT the node move (t2):
    // node 1 is not a relation member, and way 10 is dead past t1
    val r20 = out.filter(col("osm_type") === "relation" && col("osm_id") === 20).collect()
    assert(r20.length === 1)
    assert(r20.head.getAs[Long]("valid_from") === 1704067210000L,
      "the relation minor carries the deletion instant, not the later node edit")
  }

  test("same-diff delete-then-recreate: minors attach to the recreation") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    // way 10: deleted at t1, recreated at t2 as v3, member node 1 moves at
    // t3 > t2 — the recreation major must win the effective-state rank
    // again, so the node edit emits a minor on v3
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <delete>
        |  <way id="10" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice"/>
        | </delete>
        | <create>
        |  <way id="10" version="3" timestamp="2024-01-01T00:00:20Z" changeset="100" uid="9" user="alice">
        |   <nd ref="1"/><nd ref="2"/>
        |  </way>
        | </create>
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:40Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    val w10 = out.filter(col("osm_type") === "way" && col("osm_id") === 10)
      .orderBy("osm_version", "osm_minor_version").collect()
    assert(w10.map(r => (r.getAs[Int]("osm_version"), r.getAs[Int]("osm_minor_version"),
      r.getAs[String]("contrib_type"))).toSeq ===
      Seq((2, 0, "DELETION"), (3, 0, "CREATION"), (3, 1, "GEOMETRY")),
      "deletion, recreation, then the node-move minor on the NEW version")
    assert(w10(2).getAs[Long]("valid_from") === 1704067240000L)
    assert(w10(2).getAs[Long]("length_mm") > 0L, "minor geometry rebuilt on v3 refs")
    // store lands on v3 with minor counter 1
    val ways = ChangesetStore.readAuto(spark, s"$root/ways")
      .filter(col("id") === 10).collect()
    assert(ways.length === 1)
    assert(ways.head.getAs[Int]("version") === 3)
    assert(ways.head.getAs[Boolean]("visible"))
    assert(ways.head.getAs[Int]("minor_version") === 1)
  }

  test("way deletion removes its backrefs") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <delete>
        |  <way id="10" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice"/>
        | </delete>
        |</osmChange>""".stripMargin))
    assert(out.filter(col("osm_type") === "way" && col("osm_id") === 10 &&
      col("contrib_type") === "DELETION").count() === 1)

    // n1 no longer has way-10 backrefs → moving it emits only the node row
    val out2 = OsmUpdater.applyDiff(spark, root, oscDf(
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T01:00:00Z" changeset="101" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin))
    assert(out2.filter(col("osm_type") === "way").count() === 0)
    assert(out2.filter(col("osm_type") === "node" && col("osm_id") === 1).count() === 1)
  }

  test("one catch-up step stays within its Spark job budget") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    // a diff reaching all six store tables: node move + create, way major,
    // relation major, and the backref reconciliations they cause
    val replDir = java.nio.file.Files.createTempDirectory("graft-upd-jobs")
    java.nio.file.Files.writeString(replDir.resolve("1.osc"),
      """<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
        | </modify>
        | <create>
        |  <node id="4" version="1" timestamp="2024-01-01T00:00:20Z" changeset="100" uid="9" user="alice" lat="3.0" lon="3.0"/>
        | </create>
        | <modify>
        |  <way id="11" version="2" timestamp="2024-01-01T00:00:30Z" changeset="100" uid="9" user="alice">
        |   <nd ref="3"/><nd ref="4"/>
        |  </way>
        |  <relation id="20" version="2" timestamp="2024-01-01T00:00:40Z" changeset="100" uid="9" user="alice">
        |   <member type="way" ref="10" role="outer"/><member type="way" ref="11" role="outer"/>
        |  </relation>
        | </modify>
        |</osmChange>""".stripMargin)
    val jobs = jobsDuring {
      assert(OsmUpdater.catchUp(spark, replDir.toString, root, maxSteps = 1) === 1L)
    }
    // a step's cost is mostly per-job driver overhead. Measured: 155 jobs
    // (157 before the way and relation refs shared one stored-node read,
    // 306 before store reads and upsert batches were materialized once);
    // the budget adds ~5 % headroom
    assert(jobs <= 162, s"one catch-up step ran $jobs Spark jobs")
  }

  test("a sequence gap stops the catch-up before the gap") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    val replDir = java.nio.file.Files.createTempDirectory("graft-upd-gap")
    moveNode1(replDir, 1, 1.5)
    moveNode1(replDir, 3, 1.7)
    // sequence 2 is missing: only 1 applies, and 3 is not applied past it
    assert(OsmUpdater.catchUp(spark, replDir.toString, root) === 1L)
    assert(graft.operators.ReplicationCatchup.readState(root)
      .map(_.sequenceNumber) === Some(1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "out", "seq=3")))
    // the gap filled upstream: the run resumes and continues through 3
    moveNode1(replDir, 2, 1.6)
    assert(OsmUpdater.catchUp(spark, replDir.toString, root) === 2L)
    assert(graft.operators.ReplicationCatchup.readState(root)
      .map(_.sequenceNumber) === Some(3L))
    val nodes = ChangesetStore.readAuto(spark, s"$root/nodes").filter(col("id") === 1).collect()
    assert(nodes.map(r => (r.getAs[Int]("version"), r.getAs[Double]("lat"))).toSeq === Seq((4, 1.7)))
  }

  /** Diff `seq` in `replDir`: node 1 moves to `lat` as version seq + 1. */
  private def moveNode1(replDir: java.nio.file.Path, seq: Int, lat: Double): Unit =
    java.nio.file.Files.writeString(replDir.resolve(s"$seq.osc"),
      s"""<osmChange version="0.6">
        | <modify>
        |  <node id="1" version="${seq + 1}" timestamp="2024-01-01T0$seq:00:00Z" changeset="100" uid="9" user="alice" lat="$lat" lon="1.0"/>
        | </modify>
        |</osmChange>""".stripMargin)

  /** Two pending node-1 moves in `replDir`, sequences 1 and 2. */
  private def twoMoves(replDir: java.nio.file.Path): Unit = {
    moveNode1(replDir, 1, 1.5)
    moveNode1(replDir, 2, 1.6)
  }

  test("a bookmark behind the store re-runs its diff and keeps the committed output") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    val replDir = java.nio.file.Files.createTempDirectory("graft-upd-crash")
    twoMoves(replDir)
    assert(OsmUpdater.catchUp(spark, replDir.toString, root) === 2L)

    val tables = Seq("nodes", "ways", "relations", "node_ways", "node_relations", "way_relations")
    def storeRows = tables.map(t =>
      t -> ChangesetStore.readAuto(spark, s"$root/$t").collect().map(_.toString).sorted.toSeq)
    def outFiles = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(root, "out", "seq=2"))
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
        .map(p => p.getFileName.toString -> java.nio.file.Files.readAllBytes(p).toSeq)
      finally s.close()
    }
    val rowsBefore = storeRows
    val filesBefore = outFiles
    assert(filesBefore.exists(_._1.endsWith(".parquet")))

    // a crash after diff 2's store upserts, before its bookmark: state.txt
    // still names sequence 1
    val st = graft.operators.ReplicationCatchup.readState(root).get
    graft.operators.ReplicationCatchup.writeState(spark, root, st.copy(sequenceNumber = 1L))

    assert(OsmUpdater.catchUp(spark, replDir.toString, root) === 1L)
    assert(graft.operators.ReplicationCatchup.readState(root)
      .map(_.sequenceNumber) === Some(2L))
    // the replay re-emits nothing (the store already holds diff 2), so an
    // overwrite would lose the way-10 minor; the committed output stays
    assert(outFiles === filesBefore, "out/seq=2 must keep its committed files")
    assert(storeRows === rowsBefore, "the replay must leave every store table as it was")
  }

  test("maxSteps bounds a catch-up run") {
    val root = freshRoot()
    OsmUpdater.initStore(spark, root, seedEntities)
    val replDir = java.nio.file.Files.createTempDirectory("graft-upd-steps")
    twoMoves(replDir)
    assert(OsmUpdater.catchUp(spark, replDir.toString, root, maxSteps = 1) === 1L)
    assert(graft.operators.ReplicationCatchup.readState(root)
      .map(_.sequenceNumber) === Some(1L))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "out", "seq=2")))
    assert(ChangesetStore.readAuto(spark, s"$root/nodes").filter(col("id") === 1)
      .select("version").collect().map(_.getInt(0)).toSeq === Seq(2))
    // the next run picks up where the bound stopped
    assert(OsmUpdater.catchUp(spark, replDir.toString, root, maxSteps = 1) === 1L)
    assert(graft.operators.ReplicationCatchup.readState(root)
      .map(_.sequenceNumber) === Some(2L))
  }

  test("update-path geometry equals the batch assembly for the same history") {
    import graft.operators.Contributions
    val root = freshRoot()
    def node(id: Long, lat: Double, lon: Double, tsMs: Long) =
      Row("node", id, 1, tsMs, true, lat, lon, Map.empty[String, String], null, null)
    def way(id: Long, tags: Map[String, String], refs: Seq[Long]) =
      Row("way", id, 1, 9000L, true, Double.NaN, Double.NaN, tags, refs, null)
    // the batch geometry fixtures: closed polygon-feature and non-feature
    // ways 10-14, the out-of-range node 20, and the one-ref way 30; way 31
    // references node 22, deleted before the way's timestamp
    val seedNodes = Seq(node(1L, 0.0, 0.0, 1000L), node(2L, 0.0, 1.0, 1000L),
      node(3L, 1.0, 1.0, 1000L), node(21L, 45.0, 10.0, 1000L), node(22L, 46.0, 11.0, 1000L))
    val deleted = Row("node", 22L, 2, 5000L, false, Double.NaN, Double.NaN,
      Map.empty[String, String], null, null)
    val diffRows = Seq(
      node(20L, 91.5, 10.0, 1000L), deleted,
      way(10L, Map("building" -> "yes"), Seq(1L, 2L, 3L, 1L)),
      way(11L, Map("highway" -> "primary"), Seq(1L, 2L, 3L, 1L)),
      way(12L, Map("building" -> "yes", "area" -> "no"), Seq(1L, 2L, 3L, 1L)),
      way(13L, Map("building" -> "yes"), Seq(1L, 2L, 3L)),
      way(14L, Map("natural" -> "water"), Seq(1L, 2L, 3L, 1L)),
      way(30L, Map.empty, Seq(21L)),
      way(31L, Map.empty, Seq(21L, 22L)))
    OsmUpdater.initStore(spark, root,
      spark.createDataFrame(spark.sparkContext.parallelize(seedNodes), entitySchema))

    // the same rows as an osc diff (entitySchema positions)
    def attrs(r: Row) = s"""id="${r.getLong(1)}" version="${r.getInt(2)}" timestamp="${
      java.time.Instant.ofEpochMilli(r.getLong(3))}" changeset="5" uid="9" user="u""""
    val elements = diffRows.filter(_.getBoolean(4)).map { r =>
      if (r.getString(0) == "node")
        s"""<node ${attrs(r)} lat="${r.getDouble(5)}" lon="${r.getDouble(6)}"/>"""
      else
        s"<way ${attrs(r)}>" + r.getSeq[Long](8).map(n => s"""<nd ref="$n"/>""").mkString +
          r.getMap[String, String](7).map { case (k, v) => s"""<tag k="$k" v="$v"/>""" }.mkString +
          "</way>"
    }
    val out = OsmUpdater.applyDiff(spark, root, oscDf(
      elements.mkString("<osmChange version=\"0.6\"><create>", "\n", "</create>") +
        s"<delete><node ${attrs(deleted)}/></delete></osmChange>"))
    def wkbs(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("osm_type") === "way" || col("osm_id") === 20)
      .select("osm_type", "osm_id", "osm_version", "wkb").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)) -> Option(r.getString(3))).toMap

    val history = spark.createDataFrame(
        spark.sparkContext.parallelize(seedNodes ++ diffRows), entitySchema)
      .withColumn("changeset", lit(5L)).withColumn("uid", lit(9))
      .withColumn("user", lit("u"))
    val batch = wkbs(Contributions.withGeometries(history))
    val update = wkbs(out)
    assert(update.keySet === batch.keySet)
    assert(update === batch, "update-path WKB must equal the batch assembly's")
    // the cases the shared shape rule covers, as the batch spec pins them
    assert(update(("way", 10L, 1)).exists(_.startsWith("0103")))
    assert(update(("way", 13L, 1)).exists(_.startsWith("0102")))
    assert(update(("way", 30L, 1)).exists(_.startsWith("0101")))
    assert(update(("node", 20L, 1)).isEmpty)
    assert(update(("way", 31L, 1)).isEmpty, "a ref to a deleted node is unresolved")
  }
}
