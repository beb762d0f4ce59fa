package graft

import graft.sources.{GeoParquet, OsmPbf, OsmXml}
import org.apache.spark.sql.functions._

import java.io.ByteArrayOutputStream
import java.util.zip.Deflater
import scala.jdk.CollectionConverters._

/** Test-side minimal PBF *encoder* (varint/zigzag/zlib/framing) used to
  * synthesize files for reader round-trips — independent of the reader's
  * decode path.
  */
object PbfEncode {
  def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }
  def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  def key(field: Int, wire: Int): Int = (field << 3) | wire
  def lenField(out: ByteArrayOutputStream, field: Int, payload: Array[Byte]): Unit = {
    varint(out, key(field, 2)); varint(out, payload.length); out.write(payload)
  }
  def packedSVarints(vs: Seq[Long]): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    var prev = 0L
    vs.foreach { v => varint(b, zigzag(v - prev)); prev = v }
    b.toByteArray
  }
  def packedVarints(vs: Seq[Long]): Array[Byte] = {
    val b = new ByteArrayOutputStream()
    vs.foreach(varint(b, _))
    b.toByteArray
  }
  def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length * 2 + 64)
    val n = d.deflate(buf)
    d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** Blob (zlib) + BlobHeader + 4-byte BE framing of one file block. */
  def frame(blobType: String, raw: Array[Byte]): Array[Byte] = {
    val blob = new ByteArrayOutputStream()
    varint(blob, key(2, 0)); varint(blob, raw.length.toLong)
    lenField(blob, 3, deflate(raw))
    val header = new ByteArrayOutputStream()
    lenField(header, 1, blobType.getBytes("UTF-8"))
    varint(header, key(3, 0)); varint(header, blob.size().toLong)
    val out = new ByteArrayOutputStream()
    val h = header.toByteArray
    out.write(Array[Byte]((h.length >>> 24).toByte, (h.length >>> 16).toByte,
      (h.length >>> 8).toByte, h.length.toByte))
    out.write(h)
    out.write(blob.toByteArray)
    out.toByteArray
  }

  def buildTestPbf(latOffsetNano: Long = 0L, lonOffsetNano: Long = 0L): Array[Byte] = {
    // string table: index 0 must be the empty string
    val strings = Seq("", "highway", "primary", "name", "main", "alice")
    val st = new ByteArrayOutputStream()
    strings.foreach(s => lenField(st, 1, s.getBytes("UTF-8")))

    // DenseNodes: ids 10,13; latlon nano/100; tags: node1 {highway=primary}, node2 {}
    val dense = new ByteArrayOutputStream()
    lenField(dense, 1, packedSVarints(Seq(10L, 13L)))
    val denseInfo = new ByteArrayOutputStream()
    lenField(denseInfo, 1, packedVarints(Seq(2L, 1L)))              // versions
    lenField(denseInfo, 2, packedSVarints(Seq(1700000L, 1700060L))) // ts (sec at dateGran 1000)
    lenField(denseInfo, 3, packedSVarints(Seq(77L, 78L)))           // changesets
    lenField(denseInfo, 4, packedSVarints(Seq(5L, 5L)))             // uids
    lenField(denseInfo, 5, packedSVarints(Seq(5L, 5L)))             // user sids → "alice"
    lenField(dense, 5, denseInfo.toByteArray)
    lenField(dense, 8, packedSVarints(Seq(525200000L, 525200100L))) // lat raw (gran 100 → 52.52°)
    lenField(dense, 9, packedSVarints(Seq(134000000L, 134000200L))) // lon raw
    lenField(dense, 10, packedVarints(Seq(1L, 2L, 0L, 0L)))         // kv: {1:2}, 0, {}, 0

    // Way 42: refs 10,13; tags {name=main}
    val way = new ByteArrayOutputStream()
    varint(way, key(1, 0)); varint(way, 42L)
    lenField(way, 2, packedVarints(Seq(3L)))
    lenField(way, 3, packedVarints(Seq(4L)))
    val wayInfo = new ByteArrayOutputStream()
    varint(wayInfo, key(1, 0)); varint(wayInfo, 3L)        // version
    varint(wayInfo, key(2, 0)); varint(wayInfo, 1700100L)  // ts
    varint(wayInfo, key(3, 0)); varint(wayInfo, 99L)       // changeset
    lenField(way, 4, wayInfo.toByteArray)
    lenField(way, 8, packedSVarints(Seq(10L, 13L)))

    // Relation 7: member way 42 role "name" (sid 3)
    val rel = new ByteArrayOutputStream()
    varint(rel, key(1, 0)); varint(rel, 7L)
    lenField(rel, 8, packedVarints(Seq(3L)))
    lenField(rel, 9, packedSVarints(Seq(42L)))
    lenField(rel, 10, packedVarints(Seq(1L)))

    val group = new ByteArrayOutputStream()
    lenField(group, 2, dense.toByteArray)
    lenField(group, 3, way.toByteArray)
    lenField(group, 4, rel.toByteArray)

    val block = new ByteArrayOutputStream()
    lenField(block, 1, st.toByteArray)
    lenField(block, 2, group.toByteArray)
    if (latOffsetNano != 0L) { varint(block, key(19, 0)); varint(block, latOffsetNano) }
    if (lonOffsetNano != 0L) { varint(block, key(20, 0)); varint(block, lonOffsetNano) }

    // an OSMHeader blob, then the data block
    val f = new ByteArrayOutputStream()
    f.write(frame("OSMHeader", Array[Byte]()))
    f.write(frame("OSMData", block.toByteArray))
    f.toByteArray
  }
}

class SourcesSpec extends SparkSpec {
  import PbfEncode._

  private def buildPbf(): Array[Byte] = buildTestPbf()

  private def buildPbf(latOffsetNano: Long, lonOffsetNano: Long): Array[Byte] =
    buildTestPbf(latOffsetNano, lonOffsetNano)

  test("pbf round-trip: framing, zlib, string table, dense deltas, ways, relations") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".osm.pbf")
    java.nio.file.Files.write(tmp, buildPbf())
    val df = spark.read.format("osmpbf").load(tmp.toString).orderBy("osm_type", "id")
    val rows = df.collect()
    assert(rows.length === 4)

    val n10 = rows.find(r => r.getString(0) == "node" && r.getLong(1) == 10L).get
    assert(n10.getInt(2) === 2)                     // version
    assert(n10.getLong(3) === 1700000000L)          // ts ms
    assert(n10.getLong(4) === 77L)
    assert(n10.getString(6) === "alice")
    assert(math.abs(n10.getDouble(8) - 52.52) < 1e-9)
    assert(math.abs(n10.getDouble(9) - 13.4) < 1e-9)
    assert(n10.getAs[Map[String, String]](10) === Map("highway" -> "primary"))

    val n13 = rows.find(r => r.getString(0) == "node" && r.getLong(1) == 13L).get
    assert(n13.getAs[Map[String, String]](10) === Map.empty)
    assert(math.abs(n13.getDouble(8) - 52.52001) < 1e-9) // delta-coded +100 raw

    val way = rows.find(_.getString(0) == "way").get
    assert(way.getLong(1) === 42L)
    assert(way.getInt(2) === 3)
    assert(way.getAs[Seq[Long]](11) === Seq(10L, 13L))
    assert(way.getAs[Map[String, String]](10) === Map("name" -> "main"))

    val rel = rows.find(_.getString(0) == "relation").get
    assert(rel.getLong(1) === 7L)
    val members = rel.getSeq[org.apache.spark.sql.Row](12)
    assert(members.map(m => (m.getString(0), m.getLong(1), m.getString(2))) ===
      Seq(("way", 42L, "name")))
    java.nio.file.Files.delete(tmp)
  }

  test("distributed blob indexing matches the sequential scan across ranges") {
    // many-blob file: repeat the data frame so range splits land mid-file
    val one = buildPbf()
    val f = new ByteArrayOutputStream()
    f.write(one)
    val dataFrameBytes = {
      // second frame of the file (after the OSMHeader frame)
      val headerLen = java.nio.ByteBuffer.wrap(one, 0, 4).getInt
      val firstFrame = 4 + headerLen + {
        // parse the OSMHeader frame's blob size from its header
        val hb = java.util.Arrays.copyOfRange(one, 4, 4 + headerLen)
        var ds = 0
        val c = new graft.sources.PbCursor(hb, 0, hb.length)
        c.fields { (fld, w) => if (fld == 3) ds = c.readVarint().toInt else c.skip(w) }
        ds
      }
      java.util.Arrays.copyOfRange(one, firstFrame, one.length)
    }
    for (_ <- 0 until 7) f.write(dataFrameBytes)
    val tmp = java.nio.file.Files.createTempFile("graft-multi", ".osm.pbf")
    java.nio.file.Files.write(tmp, f.toByteArray)

    val seq = OsmPbf.indexBlobs(spark, tmp.toString)
    assert(seq.count(_.blobType == "OSMData") === 8)
    // force many ranges: tiny range size exercises ownership, signature
    // back-off, and cross-range walk
    for (range <- Seq(64L, 100L, 1000L)) {
      val dist = OsmPbf.indexBlobsDistributed(spark, tmp.toString, range)
      assert(dist === seq, s"range=$range")
    }
    // full read over the multi-blob file sees every copy
    val df = spark.read.format("osmpbf").load(tmp.toString)
    assert(df.count() === 4 * 8)
    java.nio.file.Files.delete(tmp)
  }

  test("dense decode applies non-zero lat_offset/lon_offset") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".osm.pbf")
    // +1° lat, +0.5° lon in nanodegrees (PrimitiveBlock fields 19/20)
    java.nio.file.Files.write(tmp, buildPbf(1000000000L, 500000000L))
    val rows = spark.read.format("osmpbf").load(tmp.toString)
      .filter(col("osm_type") === "node").orderBy("id").collect()
    assert(math.abs(rows(0).getDouble(8) - 53.52) < 1e-9)
    assert(math.abs(rows(0).getDouble(9) - 13.9) < 1e-9)
    java.nio.file.Files.delete(tmp)
  }

  test("inflateBlob fails loudly on truncated zlib and missing payload") {
    val raw = "a primitive block payload".getBytes("UTF-8")
    val z = deflate(raw)
    def blob(rawSize: Int, zbytes: Option[Array[Byte]]): Array[Byte] = {
      val b = new ByteArrayOutputStream()
      varint(b, key(2, 0)); varint(b, rawSize.toLong)
      zbytes.foreach(lenField(b, 3, _))
      b.toByteArray
    }
    // truncated stream: must throw, not spin forever in the executor task
    val e1 = intercept[java.util.zip.ZipException] {
      OsmPbf.inflateBlob(blob(raw.length, Some(z.take(z.length / 2))))
    }
    assert(e1.getMessage.contains("inflate stalled"))
    // unsupported compression (no raw, no zlib): descriptive error, not NPE
    val e2 = intercept[IllegalStateException] { OsmPbf.inflateBlob(blob(raw.length, None)) }
    assert(e2.getMessage.contains("unsupported Blob compression"))
  }

  test("DataSource V2: format(\"osmpbf\") pushes type filters and prunes columns") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".osm.pbf")
    java.nio.file.Files.write(tmp, buildPbf())
    val v2 = spark.read.format("osmpbf").load(tmp.toString)
    assert(v2.schema === OsmPbf.schema)
    // column pruning path executes (projection over the V2 scan)
    assert(v2.select("id").distinct().count() === 4)

    // osm_type filter pushes into the decoder: group-skip + plan evidence
    val nodesOnly = v2.filter(col("osm_type") === "node").select("id", "lat")
    val plan = nodesOnly.queryExecution.executedPlan.toString
    assert(plan.contains("types=node"), s"pushed type filter missing:\n$plan")
    assert(nodesOnly.collect().map(_.getLong(0)).sorted.toSeq === Seq(10L, 13L))
    val inFilter = v2.filter(col("osm_type").isin("way", "relation"))
    assert(inFilter.count() === 2)

    // nested schema pruning: selecting a members subfield hands the reader
    // a narrower element struct — rows must still map correctly
    val memberRefs = v2.filter(col("osm_type") === "relation")
      .select("members.ref").collect()
    assert(memberRefs.map(_.getSeq[Long](0)).toSeq === Seq(Seq(42L)))
    val memberRoles = v2.filter(col("osm_type") === "relation")
      .select(col("members.role"), col("id")).collect()
    assert(memberRoles.map(r => (r.getSeq[String](0), r.getLong(1))).toSeq ===
      Seq((Seq("name"), 7L)))
    java.nio.file.Files.delete(tmp)
  }

  test("way geometry assembly: refs → node coords → ordered WKB linestring") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".osm.pbf")
    java.nio.file.Files.write(tmp, buildPbf())
    val entities = spark.read.format("osmpbf").load(tmp.toString)
    val coords = entities.filter(col("osm_type") === "node").select("id", "lon", "lat")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val refs = entities.filter(col("osm_type") === "way").select("refs")
      .head().getSeq[Long](0)
    assert(refs === Seq(10L, 13L))
    val (lons, lats) = refs.map(coords).unzip

    // expected WKB: LE linestring with the two node coords in ref order
    val buf = java.nio.ByteBuffer.allocate(9 + 32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(1.toByte).putInt(2).putInt(2)
    // derive coords exactly as the decoder does: 1e-9 * granularity * raw
    val p2 = (1e-9 * (100L * 134000200L), 1e-9 * (100L * 525200100L))
    for ((lon, lat) <- Seq((13.4, 52.52), p2)) {
      buf.putDouble(lon); buf.putDouble(lat)
    }
    val expected = buf.array().map(b => f"${b & 0xff}%02x").mkString
    assert(graft.functions.Geo.wkbLineHex(lons.toArray, lats.toArray) === expected)
    // the codegen expression every way geometry goes through
    // (Contributions.wayWkb) writes the same bytes
    import spark.implicits._
    val sqlWkb = Seq((lons, lats)).toDF("lons", "lats")
      .select(call_function("wkb_line", col("lons"), col("lats"))).head().getString(0)
    assert(sqlWkb === expected)
    java.nio.file.Files.delete(tmp)
  }

  test("osc xml reader: create/modify/delete actions with tags and refs") {
    val xml =
      """<?xml version="1.0"?>
        |<osmChange version="0.6">
        | <create>
        |  <node id="1" version="1" timestamp="2024-01-01T00:00:00Z" changeset="5"
        |        uid="9" user="bob" lat="52.5" lon="13.4">
        |   <tag k="amenity" v="cafe"/>
        |  </node>
        | </create>
        | <modify>
        |  <way id="2" version="4" timestamp="2024-01-01T01:00:00Z" changeset="6" uid="9" user="bob">
        |   <nd ref="1"/><nd ref="3"/>
        |   <tag k="highway" v="residential"/>
        |  </way>
        | </modify>
        | <delete>
        |  <node id="3" version="2" timestamp="2024-01-01T02:00:00Z" changeset="7" uid="9" user="bob"/>
        | </delete>
        |</osmChange>""".stripMargin
    val rows = OsmXml.parseOsc(xml)
    assert(rows.map(r => (r.action, r.osmType, r.id)) ===
      Seq(("create", "node", 1L), ("modify", "way", 2L), ("delete", "node", 3L)))
    assert(rows.head.tags === Map("amenity" -> "cafe"))
    assert(rows(1).refs === Seq(1L, 3L))
    assert(rows(1).version === 4)

    // distributed path
    val tmp = java.nio.file.Files.createTempDirectory("graft-osc")
    java.nio.file.Files.writeString(tmp.resolve("a.osc"), xml)
    val df = OsmXml.readOsc(spark, tmp.toString + "/*.osc")
    assert(df.count() === 3)
    assert(df.filter(col("action") === "delete").count() === 1)
  }

  test("changeset xml reader: lifecycle attrs and tags") {
    val xml =
      """<?xml version="1.0"?>
        |<osm>
        | <changeset id="101" created_at="2024-01-01T00:00:00Z" closed_at="2024-01-01T00:30:00Z"
        |            open="false" user="alice" uid="5" num_changes="12" comments_count="3"
        |            min_lon="8.5" min_lat="49.25" max_lon="8.75" max_lat="49.5">
        |  <tag k="comment" v="fix roads #mapathon"/>
        |  <tag k="created_by" v="iD 2.27"/>
        | </changeset>
        | <changeset id="102" created_at="2024-01-02T00:00:00Z" open="true" user="bob" uid="6" num_changes="1"/>
        |</osm>""".stripMargin
    val rows = OsmXml.parseChangesets(xml)
    assert(rows.map(_.id) === Seq(101L, 102L))
    assert(rows.head.tags("comment") === "fix roads #mapathon")
    assert(rows.head.num_changes === 12L)
    assert(!rows.head.open && rows(1).open)
    // the reference changeset record's extent + discussion count
    // (Changeset.java:6-18): present attrs parse, absent ones are null
    assert(rows.head.comments_count === 3L)
    assert(rows.head.min_lon === Some(8.5) && rows.head.max_lat === Some(49.5))
    assert(rows(1).comments_count === 0L)
    assert(rows(1).min_lon.isEmpty && rows(1).max_lat.isEmpty)

    val tmp = java.nio.file.Files.createTempDirectory("graft-cs")
    java.nio.file.Files.writeString(tmp.resolve("c.xml"), xml)
    val df = OsmXml.readChangesets(spark, tmp.toString + "/*.xml")
    assert(df.count() === 2)
    assert(df.filter(col("open")).count() === 1)
    assert(df.filter(col("min_lon").isNotNull).count() === 1)
  }

  test("changeset bbox WKT + wkb_box: the reference's missing/NaN guard") {
    import graft.sources.OsmXml.ChangesetRow
    def row(lo: Option[Double], la: Option[Double], ho: Option[Double],
        ha: Option[Double]) =
      ChangesetRow(1L, "", "", open = false, 0L, "", 0L, 0L, lo, la, ho, ha, Map.empty)
    // OSMChangesets.java:75-87: null or NaN corner → null geometry
    assert(row(None, None, None, None).bboxWkt.isEmpty)
    assert(row(Some(1.0), Some(2.0), Some(Double.NaN), Some(4.0)).bboxWkt.isEmpty)
    val wkt = row(Some(8.5), Some(49.25), Some(8.75), Some(49.5)).bboxWkt.get
    assert(wkt === "SRID=4326;POLYGON((8.500000 49.250000, 8.750000 49.250000, " +
      "8.750000 49.500000, 8.500000 49.500000, 8.500000 49.250000))")

    // wkb_box hex kernel: same guard; ring matches wkbPolygonHex byte-wise
    assert(graft.functions.Geo.wkbBoxHex(1.0, 2.0, Double.NaN, 4.0) === null)
    val hex = graft.functions.Geo.wkbBoxHex(8.5, 49.25, 8.75, 49.5).toString
    val expected = graft.functions.Geo.wkbPolygonHex(Seq((
      Array(8.5, 8.75, 8.75, 8.5, 8.5), Array(49.25, 49.25, 49.5, 49.5, 49.25))))
    assert(hex === expected)

    // the Catalyst expression: null inputs AND NaN inputs both → null
    graft.functions.GeoFunctions.register(spark)
    import spark.implicits._
    val out = Seq(
      (Some(8.5), Some(49.25), Some(8.75), Some(49.5)),
      (Some(8.5), Some(49.25), Some(Double.NaN), Some(49.5)),
      (None: Option[Double], None: Option[Double], None: Option[Double], None: Option[Double]))
      .toDF("a", "b", "c", "d")
      .select(call_function("wkb_box", col("a"), col("b"), col("c"), col("d")).as("g"))
      .collect()
    assert(out(0).getString(0) === expected)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("withGeometries: point WKB for nodes, as-of linestring WKB for ways") {
    val tmp = java.nio.file.Files.createTempFile("graft-geom", ".osm.pbf")
    java.nio.file.Files.write(tmp, buildPbf())
    val entities = spark.read.format("osmpbf").load(tmp.toString)
    val out = operators.Contributions.withGeometries(entities)
    val byKey = out.collect()
      .map(r => (r.getAs[String]("osm_type"), r.getAs[Long]("osm_id"),
        Option(r.getAs[String]("wkb")))).toSeq
    // both nodes carry 21-byte point WKB (42 hex chars, 0101000000 header)
    val nodeWkbs = byKey.collect { case ("node", _, Some(w)) => w }
    assert(nodeWkbs.length === 2 &&
      nodeWkbs.forall(w => w.length === 42 && w.startsWith("0101000000")))
    // way 42 carries a linestring over its two as-of refs
    val wayWkb = byKey.collect { case ("way", 42L, w) => w }.head
    assert(wayWkb.isDefined && wayWkb.get.startsWith("0102000000" + "02000000"),
      "way WKB must be a 2-point little-endian linestring")
    // the coordinates equal the nodes' own WKB payloads (same as-of coords)
    assert(wayWkb.get.drop(18) === nodeWkbs.map(_.drop(10)).mkString(""))
    java.nio.file.Files.delete(tmp)
  }

  test("withGeometries: deleted contributions carry the previous version's geometry") {
    import spark.implicits._
    val members = Seq.empty[(String, Long, String)]
    // node 7: v1 located, v2 DELETED (raw OSM carries no coords for
    // deleted versions) — the reference assigns the prior version's
    // geometry so deletions stay spatially filterable (docs/faq.md)
    val entities = Seq(
      ("node", 7L, 1, 1000L, 5L, 9, "u", true, 10.0, 20.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], members),
      ("node", 7L, 2, 2000L, 5L, 9, "u", false, Double.NaN, Double.NaN,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], members)
    ).toDF("osm_type", "id", "version", "ts_ms", "changeset", "uid", "user",
      "visible", "lat", "lon", "tags", "refs", "members")
    val out = operators.Contributions.withGeometries(entities).collect()
      .map(r => (r.getAs[Int]("osm_version"), r.getAs[String]("status"),
        Option(r.getAs[String]("wkb")))).sortBy(_._1)
    assert(out(0)._2 === "history" && out(0)._3.isDefined)
    assert(out(1)._2 === "deleted")
    assert(out(1)._3 === out(0)._3,
      "the deleted row must carry version 1's point WKB")
  }

  test("withGeometries: closed polygon-feature ways become Polygon WKB, others stay LineString") {
    import spark.implicits._
    val members = Seq.empty[(String, Long, String)]
    def node(id: Long, lat: Double, lon: Double) =
      ("node", id, 1, 100L, 5L, 9, "u", true, lat, lon,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], members)
    def way(id: Long, tags: Map[String, String], refs: Seq[Long]) =
      ("way", id, 1, 900L, 5L, 9, "u", true, Double.NaN, Double.NaN,
        tags, refs, members)
    val entities = Seq(
      node(1L, 0.0, 0.0), node(2L, 0.0, 1.0), node(3L, 1.0, 1.0),
      // closed + building → area (Polygon)
      way(10L, Map("building" -> "yes"), Seq(1L, 2L, 3L, 1L)),
      // closed + highway=primary (whitelist miss) → LineString
      way(11L, Map("highway" -> "primary"), Seq(1L, 2L, 3L, 1L)),
      // closed + building + area=no override → LineString
      way(12L, Map("building" -> "yes", "area" -> "no"), Seq(1L, 2L, 3L, 1L)),
      // open + building → LineString (ref list does not close)
      way(13L, Map("building" -> "yes"), Seq(1L, 2L, 3L)),
      // closed + natural=water (blacklist pass) → Polygon
      way(14L, Map("natural" -> "water"), Seq(1L, 2L, 3L, 1L))
    ).toDF("osm_type", "id", "version", "ts_ms", "changeset", "uid", "user",
      "visible", "lat", "lon", "tags", "refs", "members")
    val out = operators.Contributions.withGeometries(entities)
      .filter($"osm_type" === "way")
      .select("osm_id", "wkb", "geometry_type").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out(10L)._1.startsWith("0103") && out(10L)._2 === "Polygon")
    assert(out(11L)._1.startsWith("0102") && out(11L)._2 === "LineString")
    assert(out(12L)._1.startsWith("0102") && out(12L)._2 === "LineString")
    assert(out(13L)._1.startsWith("0102") && out(13L)._2 === "LineString")
    assert(out(14L)._1.startsWith("0103") && out(14L)._2 === "Polygon")
    // the polygon carries all 4 ring points of the closed ref walk
    assert(out(10L)._1.length === 10 + 8 + 8 + 4 * 32)
  }

  test("withGeometries: out-of-range nodes get no geometry; 1-point ways fall back to Point") {
    import spark.implicits._
    val members = Seq.empty[(String, Long, String)]
    val entities = Seq(
      // lat beyond +/-90 — the reference's invalid() guard
      ("node", 20L, 1, 100L, 5L, 9, "u", true, 91.5, 10.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], members),
      ("node", 21L, 1, 100L, 5L, 9, "u", true, 45.0, 10.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], members),
      // a way with a single ref resolves to one coordinate → Point
      ("way", 30L, 1, 900L, 5L, 9, "u", true, Double.NaN, Double.NaN,
        Map.empty[String, String], Seq(21L), members)
    ).toDF("osm_type", "id", "version", "ts_ms", "changeset", "uid", "user",
      "visible", "lat", "lon", "tags", "refs", "members")
    val out = operators.Contributions.withGeometries(entities).collect()
      .map(r => r.getAs[Long]("osm_id") ->
        (Option(r.getAs[String]("wkb")), r.getAs[String]("geometry_type"))).toMap
    assert(out(20L)._1.isEmpty && out(20L)._2 === null)
    assert(out(21L)._1.exists(_.startsWith("0101")) && out(21L)._2 === "Point")
    assert(out(30L)._1.exists(_.startsWith("0101")) && out(30L)._2 === "Point",
      "single-resolved-point way must encode as Point, not a 1-vertex line")
  }

  test("withGeometries: same-ts tie-break is by version; unresolvable refs flag the row") {
    import spark.implicits._
    val members = Seq.empty[(String, Long, String)]
    // node 1 has TWO versions at the same timestamp (bulk-import shape):
    // the as-of resolution must deterministically pick the higher version
    val entities = Seq(
      ("node", 1L, 1, 1000L, 5L, 9, "u", true, 10.0, 20.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], members),
      ("node", 1L, 2, 1000L, 5L, 9, "u", true, 11.0, 21.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], members),
      // node 2's only version is AFTER way 11's timestamp → unresolvable
      ("node", 2L, 1, 5000L, 5L, 9, "u", true, 12.0, 22.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], members),
      ("way", 10L, 1, 2000L, 6L, 9, "u", true, Double.NaN, Double.NaN,
        Map.empty[String, String], Seq(1L, 1L), members),
      ("way", 11L, 1, 2000L, 6L, 9, "u", true, Double.NaN, Double.NaN,
        Map.empty[String, String], Seq(1L, 2L), members)
    ).toDF("osm_type", "id", "version", "ts_ms", "changeset", "uid", "user",
      "visible", "lat", "lon", "tags", "refs", "members")
    val out = operators.Contributions.withGeometries(entities).collect()
      .map(r => (r.getAs[String]("osm_type"), r.getAs[Long]("osm_id"),
        Option(r.getAs[String]("wkb")), r.getAs[Boolean]("geom_valid")))

    val way10 = out.find(r => r._1 == "way" && r._2 == 10L).get
    assert(way10._4 && way10._3.isDefined)
    // coordinates of node 1 VERSION 2 (lon=21.0, lat=11.0 in x-first WKB
    // order), twice — not v1's
    val v2pt = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(21.0).putDouble(11.0).array()
    val hex = v2pt.map("%02X".format(_)).mkString
    assert(way10._3.get.toUpperCase.endsWith(hex + hex),
      s"way 10 must resolve both refs to node1 v2: ${way10._3.get}")

    val way11 = out.find(r => r._1 == "way" && r._2 == 11L).get
    assert(!way11._4 && way11._3.isEmpty,
      "a way with an unresolvable ref must be flagged invalid with null wkb")
    // node rows are always geometry-valid
    assert(out.filter(_._1 == "node").forall(_._4))
  }

  test("withGeometries: a relation sharing a way's id and version gets no way geometry") {
    import spark.implicits._
    val noMembers = Seq.empty[TestMember]
    // way 10 v1 and relation 10 v1: the way-position join-back must gate
    // on osm_type, as the members_geo join does
    val entities = Seq(
      ("node", 1L, 1, 1000L, 5L, 9, "u", true, 10.0, 20.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], noMembers),
      ("node", 2L, 1, 1000L, 5L, 9, "u", true, 11.0, 21.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], noMembers),
      ("way", 10L, 1, 2000L, 6L, 9, "u", true, Double.NaN, Double.NaN,
        Map.empty[String, String], Seq(1L, 2L), noMembers),
      ("relation", 10L, 1, 2000L, 7L, 9, "u", true, Double.NaN, Double.NaN,
        Map("type" -> "route"), null.asInstanceOf[Seq[Long]],
        Seq(TestMember("way", 10L, "")))
    ).toDF("osm_type", "id", "version", "ts_ms", "changeset", "uid", "user",
      "visible", "lat", "lon", "tags", "refs", "members")
    val out = operators.Contributions.withGeometries(entities)
      .filter(col("osm_id") === 10L).collect()
      .map(r => r.getAs[String]("osm_type") ->
        (Option(r.getAs[String]("wkb")), Option(r.getAs[String]("geometry_type")))).toMap
    assert(out("way")._1.exists(_.startsWith("0102")) && out("way")._2.contains("LineString"))
    assert(out("relation") === ((None, None)),
      "the relation row must not take way 10's geometry")
  }

  test("withGeometries matches a replay of the as-of rule over a deep node history") {
    import spark.implicits._
    val rnd = new scala.util.Random(20240601L)
    val noMembers = Seq.empty[TestMember]
    // node 1: 50 versions whose timestamps repeat (a step of 0 shares the
    // previous version's instant) and about one in five of which is a
    // deletion (no coordinates, as the PBF reader gives them); node 2: 8
    // versions, node 3: one version
    def history(id: Long, n: Int, t0: Long): Seq[(Long, Int, Long, Boolean, Double, Double)] = {
      var ts = t0
      (1 to n).map { v =>
        if (v > 1) ts += 100L * rnd.nextInt(3)
        val visible = v == 1 || rnd.nextInt(5) != 0
        if (visible) (id, v, ts, true, rnd.nextInt(2000) / 100.0, rnd.nextInt(2000) / 100.0)
        else (id, v, ts, false, Double.NaN, Double.NaN)
      }
    }
    val nodes = history(1L, 50, 1000L) ++ history(2L, 8, 900L) ++ history(3L, 1, 800L)
    val nodeTs = nodes.map(_._3).distinct.sorted
    // ways 100 and 101: 20 versions each, half of them at a node instant
    // exactly (the <= edge), starting before node 1 exists
    def wayHistory(id: Long, refs: Seq[Long]) = {
      val ts = (Seq(700L) ++ (2 to 20).map(i =>
        if (i % 2 == 0) nodeTs(rnd.nextInt(nodeTs.size)) else 700L + rnd.nextInt(5000).toLong)).sorted
      ts.zipWithIndex.map { case (t, i) => (id, i + 1, t, refs) }
    }
    val ways = wayHistory(100L, Seq(2L, 1L)) ++ wayHistory(101L, Seq(1L, 3L, 2L))
    val entities = (nodes.map { case (id, v, ts, vis, lat, lon) =>
      ("node", id, v, ts, 5L, 9, "u", vis, lat, lon,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], noMembers)
    } ++ ways.map { case (id, v, ts, refs) =>
      ("way", id, v, ts, 6L, 9, "u", true, Double.NaN, Double.NaN,
        Map.empty[String, String], refs, noMembers)
    }).toDF("osm_type", "id", "version", "ts_ms", "changeset", "uid", "user",
      "visible", "lat", "lon", "tags", "refs", "members")

    // the rule, replayed on the driver: the newest node version at or
    // before the way version's timestamp, a tie to the higher version; a
    // winner without coordinates leaves the ref unresolved, and a way with
    // an unresolved ref has no geometry
    def expected(ts: Long, refs: Seq[Long]): (Option[String], Boolean) = {
      val pts = refs.map { r =>
        val cands = nodes.filter(n => n._1 == r && n._3 <= ts)
        if (cands.isEmpty) None
        else {
          val w = cands.maxBy(n => (n._3, n._2))
          if (w._4) Some((w._6, w._5)) else None
        }
      }
      if (pts.exists(_.isEmpty)) (None, false)
      else (Some(graft.functions.Geo.wkbLineHex(pts.map(_.get._1).toArray,
        pts.map(_.get._2).toArray)), true)
    }
    val wayRows = operators.Contributions.withGeometries(entities)
      .filter(col("osm_type") === "way")
    val got = wayRows.collect()
      .map(r => (r.getAs[Long]("osm_id"), r.getAs[Int]("osm_version")) ->
        ((Option(r.getAs[String]("wkb")), r.getAs[Boolean]("geom_valid")))).toMap
    val want = ways.map { case (id, v, ts, refs) => (id, v) -> expected(ts, refs) }.toMap
    assert(got === want)
    // the fixture exercises every branch of the rule
    assert(want.values.exists(_._2) && want.values.exists(!_._2))
    assert(nodes.exists(!_._4) && nodes.groupBy(n => (n._1, n._3)).values.exists(_.size > 1))

    // no join compares timestamps: the as-of lookup is a keyed sort, not
    // a theta join
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, EqualNullSafe, EqualTo}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Plans extends AdaptiveSparkPlanHelper
    val joins = Plans.collectWithSubqueries(wayRows.queryExecution.executedPlan) {
      case j: BaseJoinExec => j
    }
    assert(joins.nonEmpty, "the way positions join back onto the way rows")
    val theta = joins.filter(_.condition.exists(_.exists {
      case _: EqualTo | _: EqualNullSafe => false
      case _: BinaryComparison => true
      case _ => false
    }))
    assert(theta.isEmpty, theta.map(_.condition).mkString("theta joins: ", "; ", ""))
  }

  test("changeset dump reader: delimiter-split parse, plain and bz2") {
    // planet-dump-shaped file: many changesets, one document
    val xml = new StringBuilder(
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<osm license=\"ODbL\">\n")
    for (i <- 1 to 50) {
      if (i % 3 == 0)
        xml.append(
          s""" <changeset id="$i" created_at="2024-01-01T00:00:00Z" open="true" user="u$i" uid="$i" num_changes="$i"/>\n""")
      else
        xml.append(
          s""" <changeset id="$i" created_at="2024-01-01T00:00:00Z" closed_at="2024-01-01T01:00:00Z" open="false" user="u$i" uid="$i" num_changes="$i">
             |  <tag k="comment" v="edit &lt;changeset&gt; $i"/>
             | </changeset>\n""".stripMargin)
    }
    xml.append("</osm>\n")
    val tmp = java.nio.file.Files.createTempDirectory("graft-csdump")
    val plain = tmp.resolve("changesets.osm")
    java.nio.file.Files.writeString(plain, xml.toString)

    val df = OsmXml.readChangesetDump(spark, plain.toString)
    assert(df.count() === 50)
    assert(df.filter(col("open")).count() === 16) // every third of 50
    val c2 = df.filter(col("id") === 2L).head()
    assert(c2.getAs[Map[String, String]]("tags")("comment") === "edit <changeset> 2")

    // same content bz2-compressed (Hadoop codec — splittable at scale)
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val bz2 = tmp.resolve("changesets.osm.bz2")
    val out = codec.createOutputStream(java.nio.file.Files.newOutputStream(bz2))
    try out.write(xml.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dfBz = OsmXml.readChangesetDump(spark, bz2.toString)
    assert(dfBz.count() === 50)
    assert(dfBz.orderBy("id").collect().map(_.getAs[Long]("id")).toSeq
      === (1L to 50L))
  }

  test("partitioned contrib sink writes latest/history × type layout") {
    import spark.implicits._
    val df = Seq(
      ("latest", "node", 1L), ("latest", "way", 2L),
      ("history", "node", 1L), ("history", "relation", 3L))
      .toDF("status", "osm_type", "id")
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    GeoParquet.write(df.withColumn("wkb", lit(graft.functions.Geo.wkbLineHex(
      Array(13.4, 13.5), Array(52.5, 52.6)))), out, geomTypes = Seq("LineString"),
      partitionCols = Seq("status", "osm_type"))
    val back = spark.read.parquet(out)
    assert(back.count() === 4)
    assert(new java.io.File(s"$out/status=latest/osm_type=node").exists())
    assert(new java.io.File(s"$out/status=history/osm_type=relation").exists())
    // partition pruning: reading one leaf touches only that directory
    val pruned = spark.read.parquet(out)
      .filter(col("status") === "latest" && col("osm_type") === "way")
    assert(pruned.count() === 1)
  }

  test("geoparquet writer: binary WKB geometry, layout, and footer geo metadata") {
    val df = operators.Geometry.geoWkb(spark, sfDir)
      .withColumn("status", when(col("event_id") % 2 === 0, "latest").otherwise("history"))
    val out = java.nio.file.Files.createTempDirectory("graft-geopq").toString
    GeoParquet.write(df, out, wkbHexCol = "wkb",
      partitionCols = Seq("status"), bboxLonLat = Some(("lon_d", "lat_d")))
    val back = spark.read.parquet(out)
    assert(back.schema("geometry").dataType ===
      org.apache.spark.sql.types.BinaryType)
    assert(back.count() === df.count())
    // every geometry is little-endian WKB point: 0x01, type 1, 21 bytes
    val g = back.select("geometry").head().getAs[Array[Byte]](0)
    assert(g.length === 21 && g(0) === 1.toByte && g(1) === 1.toByte)
    assert(new java.io.File(s"$out/status=latest").exists())
    // the `geo` JSON is embedded in EVERY part file's footer key-value
    // metadata — where GeoParquet-aware footer-sniffing tools look
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .filter(p => p.toString.endsWith(".parquet")).iterator()
    var nParts = 0
    while (parts.hasNext) {
      nParts += 1
      val meta = GeoParquet.readFooterValue(conf, parts.next().toString, "geo")
        .getOrElse(fail("part file missing footer geo metadata"))
      assert(meta.contains("\"encoding\":\"WKB\"") &&
        meta.contains("\"primary_column\":\"geometry\"") &&
        meta.contains("CRS84") && meta.contains("\"bbox\":["))
    }
    assert(nParts > 0, "dataset must contain part files")
    // no sidecar anymore — the footer is the contract
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "_geo_metadata.json")))
    // stamping is idempotent: a second pass replaces, not duplicates
    GeoParquet.stampFooters(spark, out, "geo", "{\"version\":\"1.0.0\"}")
    val restamped = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .filter(p => p.toString.endsWith(".parquet")).iterator()
    val v = GeoParquet.readFooterValue(conf, restamped.next().toString, "geo")
    assert(v === Some("{\"version\":\"1.0.0\"}"))
  }

  test("geoparquet bbox ignores NaN coordinates (mixed node/way frames)") {
    import spark.implicits._
    // way/relation rows in the mixed entity frame carry lat/lon = NaN;
    // Spark's max() orders NaN above every real value, so an unfiltered
    // bbox aggregate would stamp invalid `"bbox":[...,NaN,NaN]` JSON
    val df = Seq(
      (1L, 10.0, 20.0), (2L, 12.0, 22.0),
      (3L, Double.NaN, Double.NaN), (4L, Double.NaN, Double.NaN)
    ).toDF("id", "lon_d", "lat_d")
      .withColumn("wkb", hex(lit(Array.fill[Byte](21)(1))))
    val out = java.nio.file.Files.createTempDirectory("graft-geopq-nan").toString
    // one file, so its own bbox is the whole frame's
    GeoParquet.write(df.coalesce(1), out, wkbHexCol = "wkb",
      bboxLonLat = Some(("lon_d", "lat_d")))
    val conf = spark.sparkContext.hadoopConfiguration
    val part = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .filter(p => p.toString.endsWith(".parquet")).iterator().next()
    val meta = GeoParquet.readFooterValue(conf, part.toString, "geo").get
    assert(meta.contains("\"bbox\":[10.0,20.0,12.0,22.0]"), meta)
    assert(!meta.contains("NaN"), meta)

    // all coordinates NaN → the bbox key is omitted entirely, not NaN-filled
    val allNan = Seq((1L, Double.NaN, Double.NaN)).toDF("id", "lon_d", "lat_d")
      .withColumn("wkb", hex(lit(Array.fill[Byte](21)(1))))
    val out2 = java.nio.file.Files.createTempDirectory("graft-geopq-nan2").toString
    GeoParquet.write(allNan, out2, wkbHexCol = "wkb", bboxLonLat = Some(("lon_d", "lat_d")))
    val part2 = java.nio.file.Files.walk(java.nio.file.Paths.get(out2))
      .filter(p => p.toString.endsWith(".parquet")).iterator().next()
    val meta2 = GeoParquet.readFooterValue(conf, part2.toString, "geo").get
    assert(!meta2.contains("bbox") && !meta2.contains("NaN"), meta2)
  }

  /** Every `.parquet` file under `dir`, sorted. */
  private def parquetFiles(dir: String): Seq[String] = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try w.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList.sorted
    finally w.close()
  }

  test("geoparquet footers carry each file's own bbox, recounted from its rows") {
    import spark.implicits._
    // three partitions over four tasks: g0 and g1 mix finite, NaN and null
    // coordinates, g2 holds NaN and null only
    val df = (0 until 240).map { i =>
      val g = i % 3
      val finite = g != 2 && i % 7 != 0
      val lon = if (i % 11 == 0) None else Some(if (finite) -50.0 + i * 0.37 else Double.NaN)
      val lat = if (i % 13 == 0) None else Some(if (finite) 10.0 - i * 0.21 else Double.NaN)
      (i.toLong, s"g$g", lon, lat)
    }.toDF("id", "grp", "lon_d", "lat_d")
      .repartition(4)
      .withColumn("wkb", hex(lit(Array.fill[Byte](21)(1))))
    val out = java.nio.file.Files.createTempDirectory("graft-geopq-files").toString
    GeoParquet.write(df, out, wkbHexCol = "wkb", partitionCols = Seq("grp"),
      bboxLonLat = Some(("lon_d", "lat_d")))
    val conf = spark.sparkContext.hadoopConfiguration
    val files = parquetFiles(out)
    assert(files.size > 3, s"expected several files per partition: $files")
    val BboxRe = "\"bbox\":\\[([^\\]]*)\\]".r
    var withBbox, withoutBbox = 0
    for (f <- files) {
      val meta = GeoParquet.readFooterValue(conf, f, "geo")
        .getOrElse(fail(s"$f: no geo footer"))
      assert(!meta.contains("NaN"), meta)
      // the file alone, recounted outside Spark's min/max
      val pts = spark.read.parquet(f).select("lon_d", "lat_d").collect()
        .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => (r.getDouble(0), r.getDouble(1)))
        .filter { case (x, y) => !x.isNaN && !y.isNaN }
      if (pts.isEmpty) {
        withoutBbox += 1
        assert(!meta.contains("bbox"), s"$f: $meta")
      } else {
        withBbox += 1
        val got = BboxRe.findFirstMatchIn(meta).getOrElse(fail(s"$f: no bbox in $meta"))
          .group(1).split(',').map(_.toDouble).toSeq
        assert(got === Seq(pts.map(_._1).min, pts.map(_._2).min,
          pts.map(_._1).max, pts.map(_._2).max), f)
      }
    }
    assert(withBbox > 0 && withoutBbox > 0, s"$withBbox with bbox, $withoutBbox without")
  }

  test("geoparquet write runs no job beyond the plain partitioned parquet write") {
    val df = operators.Geometry.geoWkb(spark, sfDir)
      .withColumn("status", when(col("event_id") % 2 === 0, "latest").otherwise("history"))
      .localCheckpoint(true)
    val plainOut = java.nio.file.Files.createTempDirectory("graft-geopq-plain").toString
    val geoOut = java.nio.file.Files.createTempDirectory("graft-geopq-jobs").toString
    val plain = jobsDuring {
      df.write.mode("overwrite").partitionBy("status").parquet(plainOut)
    }
    val geo = jobsDuring {
      GeoParquet.write(df, geoOut, wkbHexCol = "wkb", partitionCols = Seq("status"),
        bboxLonLat = Some(("lon_d", "lat_d")))
    }
    assert(plain > 0)
    assert(geo === plain, s"GeoParquet.write ran $geo jobs, the plain write $plain")
    assert(parquetFiles(geoOut).forall(f =>
      GeoParquet.readFooterValue(spark.sparkContext.hadoopConfiguration, f, "geo").nonEmpty))
  }

  test("withMemberGeometries: relation members resolve as-of with m_id/role/wkb") {
    import spark.implicits._
    val noMembers = Seq.empty[TestMember]
    val relMembers = Seq(TestMember("way", 10L, "outer"),
      TestMember("node", 1L, "stop"), TestMember("way", 99L, "ghost"))
    val entities = Seq(
      ("node", 1L, 1, 1000L, 5L, 9, "u", true, 10.0, 20.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], noMembers),
      ("node", 1L, 2, 2000L, 5L, 9, "u", true, 11.0, 21.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], noMembers),
      ("node", 2L, 1, 1000L, 5L, 9, "u", true, 12.0, 22.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], noMembers),
      ("way", 10L, 1, 2500L, 6L, 9, "u", true, Double.NaN, Double.NaN,
        Map.empty[String, String], Seq(1L, 2L), noMembers),
      ("relation", 20L, 1, 3000L, 7L, 9, "u", true, Double.NaN, Double.NaN,
        Map("type" -> "route"), null.asInstanceOf[Seq[Long]], relMembers)
    ).toDF("osm_type", "id", "version", "ts_ms", "changeset", "uid", "user",
      "visible", "lat", "lon", "tags", "refs", "members")
    val out = operators.Contributions.withMemberGeometries(entities)
    val rel = out.filter(col("osm_type") === "relation").collect().head
    val ms = rel.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("members_geo")
    assert(ms.length === 3, "every member keeps its slot")
    assert(ms.map(_.getAs[String]("m_id")) === Seq("way/10", "node/1", "way/99"),
      "docs m_id format type/id, in member order")
    assert(ms.map(_.getAs[String]("role")) === Seq("outer", "stop", "ghost"))
    val wayWkb = ms.head.getAs[String]("wkb")
    assert(wayWkb != null && wayWkb.startsWith("0102000000"),
      "member way resolves to its linestring contribution geometry")
    val nodeWkb = ms(1).getAs[String]("wkb")
    assert(nodeWkb != null && nodeWkb.startsWith("0101000000"))
    // as-of 3000: node 1 resolves to version 2 coordinates (21, 11)
    val v2 = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(21.0).putDouble(11.0).array()
    assert(nodeWkb.toUpperCase.endsWith(v2.map("%02X".format(_)).mkString))
    assert(ms(2).getAs[String]("wkb") == null,
      "a member with no resolvable contribution carries null wkb")
    // non-relation rows pass through with a null members_geo
    assert(out.filter(col("osm_type") === "way").select("members_geo")
      .head().isNullAt(0))
  }

  test("withMemberGeometries: node sharing a relation's id gets no members_geo") {
    import spark.implicits._
    val noMembers = Seq.empty[TestMember]
    // node 20 v1 and relation 20 v1 — id spaces are independent; the
    // members_geo join must gate on osm_type
    val entities = Seq(
      ("node", 20L, 1, 1000L, 5L, 9, "u", true, 10.0, 20.0,
        Map.empty[String, String], null.asInstanceOf[Seq[Long]], noMembers),
      ("relation", 20L, 1, 2000L, 7L, 9, "u", true, Double.NaN, Double.NaN,
        Map("type" -> "route"), null.asInstanceOf[Seq[Long]],
        Seq(TestMember("node", 20L, "stop")))
    ).toDF("osm_type", "id", "version", "ts_ms", "changeset", "uid", "user",
      "visible", "lat", "lon", "tags", "refs", "members")
    val out = operators.Contributions.withMemberGeometries(entities)
    assert(out.filter(col("osm_type") === "node").select("members_geo")
      .head().isNullAt(0), "the colliding node row must stay member-free")
    val rel = out.filter(col("osm_type") === "relation").head()
    val ms = rel.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("members_geo")
    assert(ms.length === 1 && ms.head.getAs[String]("m_id") === "node/20")
  }
}

/** Named member struct for withMemberGeometries fixtures (field names must
  * match the PBF member schema: mtype/ref/role).
  */
case class TestMember(mtype: String, ref: Long, role: String)
