package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.io.ByteArrayOutputStream

/** End-to-end: history PBF (multi-version entities) → version chain →
  * contribution classification → partitioned latest/history sink →
  * pruned read-back. The full reference pipeline shape on PBF-shaped
  * input rather than the synthetic events table.
  */
class EndToEndSpec extends SparkSpec {
  import PbfEncode._

  /** Two versions of node 10 (tag change), one version of node 11,
    * a deleted version 2 of node 12 — a miniature history file.
    */
  private def buildHistoryPbf(): Array[Byte] = {
    val strings = Seq("", "amenity", "cafe", "bar", "alice")
    val st = new ByteArrayOutputStream()
    strings.foreach(s => lenField(st, 1, s.getBytes("UTF-8")))

    val dense = new ByteArrayOutputStream()
    lenField(dense, 1, packedSVarints(Seq(10L, 10L, 11L, 12L, 12L)))
    val info = new ByteArrayOutputStream()
    lenField(info, 1, packedVarints(Seq(1L, 2L, 1L, 1L, 2L)))         // versions
    lenField(info, 2, packedSVarints(Seq(100L, 200L, 150L, 120L, 300L))) // ts
    lenField(info, 3, packedSVarints(Seq(1L, 2L, 1L, 1L, 2L)))        // changesets
    lenField(info, 4, packedSVarints(Seq(5L, 5L, 5L, 5L, 5L)))        // uids
    lenField(info, 5, packedSVarints(Seq(4L, 4L, 4L, 4L, 4L)))        // user sid
    lenField(info, 6, packedVarints(Seq(1L, 1L, 1L, 1L, 0L)))         // visible: last deleted
    lenField(dense, 5, info.toByteArray)
    lenField(dense, 8, packedSVarints(Seq(0L, 0L, 0L, 0L, 0L)))
    lenField(dense, 9, packedSVarints(Seq(0L, 0L, 0L, 0L, 0L)))
    // tags: v1 {amenity=cafe}, v2 {amenity=bar}, {}, {}, {}
    lenField(dense, 10, packedVarints(Seq(1L, 2L, 0L, 1L, 3L, 0L, 0L, 0L, 0L)))

    val group = new ByteArrayOutputStream()
    lenField(group, 2, dense.toByteArray)
    val block = new ByteArrayOutputStream()
    lenField(block, 1, st.toByteArray)
    lenField(block, 2, group.toByteArray)

    def frame(blobType: String, blockBytes: Array[Byte]): Array[Byte] = {
      val z = deflate(blockBytes)
      val blob = new ByteArrayOutputStream()
      varint(blob, key(2, 0)); varint(blob, blockBytes.length.toLong)
      lenField(blob, 3, z)
      val header = new ByteArrayOutputStream()
      lenField(header, 1, blobType.getBytes("UTF-8"))
      varint(header, key(3, 0)); varint(header, blob.size().toLong)
      val out = new ByteArrayOutputStream()
      val h = header.toByteArray
      out.write(Array[Byte]((h.length >>> 24).toByte, (h.length >>> 16).toByte,
        (h.length >>> 8).toByte, h.length.toByte))
      out.write(h); out.write(blob.toByteArray)
      out.toByteArray
    }
    val f = new ByteArrayOutputStream()
    f.write(frame("OSMHeader", Array[Byte]()))
    f.write(frame("OSMData", block.toByteArray))
    f.toByteArray
  }

  test("bloom-pruned merge: prunes untouched entities, matches the exact merge") {
    import spark.implicits._
    import graft.operators.Replication
    // 1000 entities with pre-cut history; only 10 appear in the diff
    val cut = 1000000L
    val base = (0L until 1000L).flatMap(u =>
      Seq((u, 10L + u, u * 10 + 1, "view"), (u, 20L + u, u * 10 + 2, "click")))
    val diff = (0L until 10L).map(u => (u * 97, cut + 1 + u, 90000L + u, "purchase"))
    val events = (base ++ diff).toDF("user_id", "ts_us", "event_id", "event_type")
    val out = Replication.bloomPrunedMerge(events, cut).collect()
    // only touched entities are re-emitted, with their FULL history counted
    assert(out.length === 10)
    assert(out.map(_.getLong(0)).toSeq === (0L until 10L).map(_ * 97))
    out.foreach { r =>
      assert(r.getLong(2) === 3L, "2 base rows + 1 diff row per touched entity")
      assert(r.getString(3) === "purchase", "diff row is the latest")
    }
    // the bloom really prunes: probe the registered function directly
    graft.functions.GeoFunctions.register(spark)
    val keys = events.filter($"ts_us" > cut).select("user_id").distinct()
    val sketch = keys.stat.bloomFilter("user_id", 64L, 0.01)
    val bos = new java.io.ByteArrayOutputStream(); sketch.writeTo(bos)
    val survivors = events.filter($"ts_us" <= cut)
      .filter(call_function("bloom_might_contain", $"user_id", lit(bos.toByteArray)))
      .count()
    // 20 true rows; fpp 1% over 1980 untouched rows leaves generous slack
    assert(survivors >= 20L && survivors < 120L,
      s"bloom should pass ~touched rows only, passed $survivors of 2000")
  }

  test("osc diff → store upsert → re-emitted enriched contributions") {
    import graft.operators.Replication
    import spark.implicits._
    // base store: entity 1 (two versions) and entity 2 (one version)
    val base = Seq(
      (1L, 1000L, 10L, "create", """{"k":"1"}""", 1.0),
      (1L, 2000L, 11L, "modify", """{"k":"2"}""", 1.0),
      (2L, 1500L, 20L, "create", """{"k":"9"}""", 2.0))
      .toDF("user_id", "ts_us", "event_id", "event_type", "props", "value")
    // minutely diff: entity 1 gets deleted (2024-01-21T00:00:00Z), entity 3
    // is created a minute later; a delete is the visible=false marker
    val diff = Seq(
      (1L, 1705795200000000L, 1003L, "error", "{}", 0.0),
      (3L, 1705795260000000L, 3001L, "create", """{"amenity":"cafe"}""", 52.5))
      .toDF("user_id", "ts_us", "event_id", "event_type", "props", "value")

    val out = Replication.updateContributions(base, diff)
      .orderBy("osm_id", "osm_version").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(4), r.getString(5), r.getBoolean(6)))
    assert(out.toSeq === Seq(
      (1L, 1, "CREATION", "history", true),   // rebuilt: chain extended
      (1L, 2, "TAG", "history", true),        // was latest, now history
      (1L, 3, "DELETION", "deleted", true),   // the osc delete
      (2L, 1, "CREATION", "latest", false),   // untouched: kept, not re-windowed
      (3L, 1, "CREATION", "latest", true)))   // the osc create

    // composed sink round-trip: the re-emitted store partitions cleanly
    val outDir = java.nio.file.Files.createTempDirectory("graft-repl-out").toString
    Replication.updateContributions(base, diff)
      .withColumn("osm_type", lit("node"))
      .write.mode("overwrite").partitionBy("status", "osm_type").parquet(outDir)
    val back = spark.read.parquet(outDir)
    assert(back.filter(col("status") === "deleted").count() === 1)
    assert(back.count() === 5)
  }

  test("history pbf → contributions → partitioned sink → pruned read") {
    val tmp = java.nio.file.Files.createTempFile("graft-hist", ".osm.pbf")
    java.nio.file.Files.write(tmp, buildHistoryPbf())

    val entities = spark.read.format("osmpbf").load(tmp.toString)
    val contribs = graft.operators.Contributions.fromEntities(entities)

    val rows = contribs.select("osm_id", "osm_version", "contrib_type", "status")
      .orderBy("osm_id", "osm_version").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq === Seq(
      (10L, 1, "CREATION", "history"),
      (10L, 2, "TAG", "latest"),
      (11L, 1, "CREATION", "latest"),
      (12L, 1, "CREATION", "history"),
      (12L, 2, "DELETION", "deleted")))
    // point contributions carry a spatial sort code
    assert(contribs.filter(col("xz_code").isNotNull).count() === 5)
    // contrib.avsc:290/308 width: the count columns exist and are the
    // non-null default 0 for node contributions
    assert(contribs.filter(col("refs_count") =!= 0 ||
      col("members_count") =!= 0).count() === 0)

    // the avsc per-type count rule over way/relation entities: refs_count
    // counts a way's node refs (0 for node/relation), members_count a
    // relation's members (0 for node/way) — null arrays stay 0, not null
    {
      import org.apache.spark.sql.Row
      import graft.sources.OsmPbf
      val rows = Seq(
        Row("way", 50L, 1, 1000L, 7L, 1, "u", true, null, null,
          Map.empty[String, String], Seq(1L, 2L, 3L), null),
        Row("relation", 60L, 1, 1000L, 7L, 1, "u", true, null, null,
          Map.empty[String, String], null,
          Seq(Row("way", 50L, "outer"), Row("node", 1L, ""))),
        Row("node", 70L, 1, 1000L, 7L, 1, "u", true, 1.0, 2.0,
          Map.empty[String, String], null, null))
      val ents = spark.createDataFrame(
        spark.sparkContext.parallelize(rows), OsmPbf.schema)
      val counts = graft.operators.Contributions.fromEntities(ents)
        .select("osm_type", "refs_count", "members_count")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
      assert(counts === Set(("way", 3, 0), ("relation", 0, 2), ("node", 0, 0)))
    }

    // partitioned sink + partition-pruned read-back, via the CLI flow
    val out = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    Cli.main(Array("contributions-pbf", tmp.toString, out))
    val latest = spark.read.parquet(out).filter(col("status") === "latest")
    assert(latest.count() === 2)
    assert(new java.io.File(s"$out/status=deleted/osm_type=node").exists())
    java.nio.file.Files.delete(tmp)
  }

  test("changeset-catchup store feeds the typed update path end-to-end") {
    // the continuously-updated deployment: changeset diffs keep the
    // ChangesetStore fresh (changeset-catchup) while contribution diffs
    // flow through the typed store (osm-update) joining the LIVE structs
    val csDiffs = java.nio.file.Files.createTempDirectory("graft-e2e-csdiffs")
    val csStore = java.nio.file.Files.createTempDirectory("graft-e2e-csstore").toString
    def csDiff(body: String) =
      s"""<?xml version="1.0"?>\n<osm version="0.6">\n$body\n</osm>"""
    java.nio.file.Files.writeString(csDiffs.resolve("1.osm"), csDiff(
      """ <changeset id="100" created_at="2024-01-21T00:00:00Z" closed_at="" open="true" uid="5" user="alice" num_changes="0">
        |  <tag k="created_by" v="iD"/><tag k="comment" v="mapping #roads"/>
        | </changeset>""".stripMargin))
    graft.operators.ChangesetCatchup.catchUp(spark, csDiffs.toString, csStore)

    val pbf = java.nio.file.Files.createTempFile("graft-e2e-upd", ".osm.pbf")
    java.nio.file.Files.write(pbf, PbfEncode.buildTestPbf())
    val store = java.nio.file.Files.createTempDirectory("graft-e2e-updstore").toString
    graft.operators.OsmUpdater.initStore(spark, store,
      spark.read.format("osmpbf").load(pbf.toString))

    val repl = java.nio.file.Files.createTempDirectory("graft-e2e-updrepl")
    java.nio.file.Files.writeString(repl.resolve("1.osc"),
      """<osmChange version="0.6"><modify>
        | <node id="10" version="3" timestamp="2024-01-21T00:00:30Z" changeset="100" uid="5" user="alice" lat="52.6" lon="13.4"/>
        |</modify></osmChange>""".stripMargin)
    def applyPending(): Unit =
      graft.operators.OsmUpdater.catchUp(spark, repl.toString, store,
        changesetDb = Some(graft.sources.ChangesetStore.readAuto(spark, csStore)))
    applyPending()
    val out1 = spark.read.parquet(s"$store/out/seq=1")
      .filter(col("osm_type") === "node" && col("osm_id") === 10).collect()
    assert(out1.length === 1)
    assert(out1.head.getAs[String]("cs_editor") === "iD")
    assert(out1.head.getAs[String]("cs_hashtags") === "roads")
    assert(out1.head.getAs[Long]("cs_num_changes") === 0L)

    // the changeset closes in a later changeset diff; contributions
    // emitted AFTER the catch-up must carry the updated struct
    java.nio.file.Files.writeString(csDiffs.resolve("2.osm"), csDiff(
      """ <changeset id="100" created_at="2024-01-21T00:00:00Z" closed_at="2024-01-21T00:02:00Z" open="false" uid="5" user="alice" num_changes="2">
        |  <tag k="created_by" v="iD"/><tag k="comment" v="mapping #roads"/>
        | </changeset>""".stripMargin))
    graft.operators.ChangesetCatchup.catchUp(spark, csDiffs.toString, csStore)
    java.nio.file.Files.writeString(repl.resolve("2.osc"),
      """<osmChange version="0.6"><modify>
        | <node id="13" version="3" timestamp="2024-01-21T00:01:00Z" changeset="100" uid="5" user="alice" lat="48.2" lon="11.6"/>
        |</modify></osmChange>""".stripMargin)
    applyPending()
    val out2 = spark.read.parquet(s"$store/out/seq=2")
      .filter(col("osm_type") === "node" && col("osm_id") === 13).collect()
    assert(out2.length === 1)
    assert(out2.head.getAs[Long]("cs_num_changes") === 2L,
      "post-catch-up emissions must serve the CLOSED changeset struct")
  }

  test("cli debug commands: pbf-info summary and store-peek versions") {
    val tmp = java.nio.file.Files.createTempFile("graft-dbg", ".osm.pbf")
    java.nio.file.Files.write(tmp, buildHistoryPbf())
    val out = java.nio.file.Files.createTempDirectory("graft-dbg-out").toString
    Cli.main(Array("pbf-info", tmp.toString, out))
    val info = spark.read.parquet(out).head()
    assert(info.getAs[Int]("n_blobs") > 0)
    assert(info.getAs[Long]("n_nodes") === 5L) // all versions incl. the delete
    java.nio.file.Files.delete(tmp)

    // store-peek over a typed update store with two versions of node 1
    val repl = java.nio.file.Files.createTempDirectory("graft-dbg-repl")
    val store = java.nio.file.Files.createTempDirectory("graft-dbg-store").toString
    def osc(b: String) = s"""<?xml version="1.0"?><osmChange version="0.6">$b</osmChange>"""
    java.nio.file.Files.writeString(repl.resolve("1.osc"), osc(
      """<create><node id="1" version="1" timestamp="2024-01-21T00:00:00Z" changeset="7" uid="9" user="b" lat="1.0" lon="2.0"/></create>"""))
    java.nio.file.Files.writeString(repl.resolve("2.osc"), osc(
      """<modify><node id="1" version="2" timestamp="2024-01-21T00:01:00Z" changeset="8" uid="9" user="b" lat="1.5" lon="2.0"/></modify>"""))
    Cli.main(Array("osm-update", repl.toString, store))
    val printed = new ByteArrayOutputStream()
    Console.withOut(printed)(Cli.main(Array("store-peek", store, "1")))
    val lines = printed.toString("UTF-8").linesIterator.toSeq
    // the latest stored row, then one emitted row per applied version
    assert(lines.contains("[graft] store-peek: 1 stored, 2 emitted row(s) of 1"))
    assert(lines.exists(_.startsWith("[graft] nodes [1,2,")))
    assert(lines.count(_.startsWith("[graft] out [node,1,")) === 2)
  }
}
