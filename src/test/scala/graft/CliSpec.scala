package graft

class CliSpec extends SparkSpec {

  test("cli contributions writes the partitioned status×osm_type layout") {
    val out = java.nio.file.Files.createTempDirectory("graft-cli").toString
    Cli.main(Array("contributions", sfDir, out))
    val back = spark.read.parquet(out)
    assert(back.count() > 0)
    assert(back.columns.contains("contrib_type"))
    val parts = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("status="))
    // deleted rows (visible=false) keep their own partition — they must not
    // be mislabeled 'latest' when valid_to is null
    assert(parts.toSet === Set("status=latest", "status=history", "status=deleted"))
    import org.apache.spark.sql.functions.col
    assert(back.filter(col("status") === "deleted").count() > 0)
    // GeoParquet contract: binary geometry column + footer geo metadata
    assert(back.schema("geometry").dataType === org.apache.spark.sql.types.BinaryType)
    val part = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    val meta = graft.sources.GeoParquet.readFooterValue(
      spark.sparkContext.hadoopConfiguration, part.toString, "geo")
    assert(meta.exists(_.contains("\"primary_column\":\"geometry\"")))
  }

  test("cli contributions-pbf footers declare every geometry type the output holds") {
    import PbfEncode._
    import java.io.ByteArrayOutputStream
    // nodes 1-4 make a square; way 100 closes it as building=yes (a
    // Polygon), way 101 is an open highway (a LineString)
    val strings = Seq("", "building", "yes", "highway", "residential", "alice")
    val st = new ByteArrayOutputStream()
    strings.foreach(s => lenField(st, 1, s.getBytes("UTF-8")))
    val ids = Seq(1L, 2L, 3L, 4L, 5L)
    val dense = new ByteArrayOutputStream()
    lenField(dense, 1, packedSVarints(ids))
    val info = new ByteArrayOutputStream()
    lenField(info, 1, packedVarints(ids.map(_ => 1L)))                 // versions
    lenField(info, 2, packedSVarints(ids.map(_ => 1700000L)))          // ts
    lenField(info, 3, packedSVarints(ids.map(_ => 7L)))                // changesets
    lenField(info, 4, packedSVarints(ids.map(_ => 5L)))                // uids
    lenField(info, 5, packedSVarints(ids.map(_ => 5L)))                // user sid
    lenField(dense, 5, info.toByteArray)
    // lat/lon raw at granularity 100 (nano-degrees / 100)
    lenField(dense, 8, packedSVarints(Seq(520000000L, 520000000L, 520010000L, 520010000L, 520020000L)))
    lenField(dense, 9, packedSVarints(Seq(130000000L, 130010000L, 130010000L, 130000000L, 130020000L)))
    lenField(dense, 10, packedVarints(ids.map(_ => 0L)))
    def way(id: Long, k: Long, v: Long, refs: Seq[Long]): Array[Byte] = {
      val w = new ByteArrayOutputStream()
      varint(w, key(1, 0)); varint(w, id)
      lenField(w, 2, packedVarints(Seq(k)))
      lenField(w, 3, packedVarints(Seq(v)))
      val wi = new ByteArrayOutputStream()
      varint(wi, key(1, 0)); varint(wi, 1L)
      varint(wi, key(2, 0)); varint(wi, 1700100L)
      varint(wi, key(3, 0)); varint(wi, 8L)
      lenField(w, 4, wi.toByteArray)
      lenField(w, 8, packedSVarints(refs))
      w.toByteArray
    }
    val group = new ByteArrayOutputStream()
    lenField(group, 2, dense.toByteArray)
    lenField(group, 3, way(100L, 1L, 2L, Seq(1L, 2L, 3L, 4L, 1L)))
    lenField(group, 3, way(101L, 3L, 4L, Seq(4L, 5L)))
    val block = new ByteArrayOutputStream()
    lenField(block, 1, st.toByteArray)
    lenField(block, 2, group.toByteArray)
    val pbf = java.nio.file.Files.createTempFile("graft-cli-area", ".osm.pbf")
    java.nio.file.Files.write(pbf,
      frame("OSMHeader", Array[Byte]()) ++ frame("OSMData", block.toByteArray))
    val out = java.nio.file.Files.createTempDirectory("graft-cli-area").toString
    Cli.main(Array("contributions-pbf", pbf.toString, out))

    import org.apache.spark.sql.functions.col
    val written = spark.read.parquet(out).filter(col("geometry_type").isNotNull)
      .select("geometry_type").distinct().collect().map(_.getString(0)).toSet
    assert(written === Set("Point", "LineString", "Polygon"))
    val TypesRe = "\"geometry_types\":\\[([^\\]]*)\\]".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator()
    var n = 0
    while (files.hasNext) {
      val f = files.next().toString
      if (f.endsWith(".parquet")) {
        n += 1
        val meta = graft.sources.GeoParquet.readFooterValue(
          spark.sparkContext.hadoopConfiguration, f, "geo").getOrElse(fail(s"$f: no geo footer"))
        val declared = TypesRe.findFirstMatchIn(meta).getOrElse(fail(meta)).group(1)
          .split(',').map(_.stripPrefix("\"").stripSuffix("\"")).toSet
        assert(written.subsetOf(declared), s"$f declares $declared, output holds $written")
      }
    }
    assert(n > 0)
    java.nio.file.Files.delete(pbf)
  }

  test("cli curate writes reason-partitioned verdicts and the kept corpus") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft-cli").toString
    Cli.main(Array("curate", sfDir, out))
    val verdicts = spark.read.parquet(s"$out/verdicts")
    val kept = spark.read.parquet(s"$out/kept")
    // verdicts cover every document exactly once
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(verdicts.count() === nDocs)
    // kept corpus = exactly the keep=true rows, with text re-attached
    assert(kept.count() === verdicts.filter(col("keep")).count())
    assert(kept.columns.contains("text"))
    // the reason partition dirs exist on disk for directory-level pruning
    val parts = new java.io.File(s"$out/verdicts").listFiles()
      .map(_.getName).filter(_.startsWith("reason=")).toSet
    assert(parts.contains("reason=kept"))
    assert(parts.size >= 2, s"expected multiple reasons, got $parts")
  }

  test("cli audit writes the seven pipeline-health reports") {
    val out = java.nio.file.Files.createTempDirectory("graft-cli").toString
    Cli.main(Array("audit", sfDir, out))
    val names = Seq("dedup_report", "bucket_stats", "cell_stats",
      "len_profile", "schema_audit", "freshness", "grid_audit")
    for (n <- names) {
      val df = spark.read.parquet(s"$out/$n")
      assert(df.count() >= 1, s"audit report $n must be non-empty")
    }
    // the headline report agrees with the operator it wraps
    val rep = spark.read.parquet(s"$out/dedup_report").head
    assert(rep.getLong(0) === Tables.documents(spark, sfDir).count())
  }

  test("cli manifest writes the shard-partitioned training manifest") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft-cli").toString
    Cli.main(Array("manifest", sfDir, out))
    val man = spark.read.parquet(out)
    // exactly the curate-kept documents, with pack offsets attached
    val kept = operators.TextOps.pipeCurate(spark, sfDir)
      .filter(col("keep")).count()
    assert(man.count() === kept)
    assert(man.columns.toSet ===
      Set("doc_id", "shard", "n_tokens", "start_off", "seq_id"))
    // shard partition dirs exist for loader-side directory pruning
    val parts = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("shard=")).toSet
    assert(parts.nonEmpty && parts.size <= 16)
  }

  test("cli search builds the persisted index and serves the query set from it") {
    val out = java.nio.file.Files.createTempDirectory("graft-cli").toString
    Cli.main(Array("search", sfDir, out))
    val results = spark.read.parquet(s"$out/results")
    assert(results.columns.toSeq ===
      Seq("query_id", "doc_id", "n_terms", "score6", "rk"))
    // the artifact-served ranking equals the one-shot operator
    val got = results.orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    val want = operators.TextOps.textBm25(spark, sfDir)
      .orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    assert(got.nonEmpty && got === want)
    // the stats file carries the corpus totals
    val (nd, sl) = operators.Bm25Index.stats(s"$out/index")
    assert(nd > 0 && sl > nd)
  }

  test("cli tokenize writes the merge table and per-doc encodings") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft-cli").toString
    Cli.main(Array("tokenize", sfDir, out))
    val merges = spark.read.parquet(s"$out/merges")
    val encoded = spark.read.parquet(s"$out/encoded")
    assert(merges.count() === 5)
    assert(merges.columns.toSeq === Seq("round", "pair", "merged", "n"))
    // every doc with a non-empty text is encoded, tokens bounded below by
    // words (merges only fuse within words)
    assert(encoded.count() ===
      Tables.documents(spark, sfDir).filter(col("text") =!= "").count())
    assert(encoded.filter(col("n_tokens_bpe") < col("n_words")).count() === 0)
  }

  test("cli changesets and replication write plain parquet") {
    val o1 = java.nio.file.Files.createTempDirectory("graft-cli").toString
    val o2 = java.nio.file.Files.createTempDirectory("graft-cli").toString
    Cli.main(Array("changesets", sfDir, o1))
    Cli.main(Array("replication", sfDir, o2))
    assert(spark.read.parquet(o1).count() > 0)
    assert(spark.read.parquet(o2).count() > 0)
  }

  test("cli changesets with a dump file loads the changeset store") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cli-dump")
    val dump = tmp.resolve("changesets.osm")
    java.nio.file.Files.writeString(dump,
      """<?xml version="1.0"?><osm>
        | <changeset id="1" created_at="2024-01-01T00:00:00Z" open="false" user="a" uid="1" num_changes="3"
        |            comments_count="2" min_lon="8.5" min_lat="49.25" max_lon="8.75" max_lat="49.5"/>
        | <changeset id="2" created_at="2024-01-02T00:00:00Z" open="true" user="b" uid="2" num_changes="1"/>
        |</osm>""".stripMargin)
    val store = java.nio.file.Files.createTempDirectory("graft-cli-csdb").toString
    Cli.main(Array("changesets", dump.toString, store))
    val back = graft.sources.ChangesetStore.readAuto(spark, store)
    assert(back.count() === 2)
    assert(back.columns.contains("tags"))
    // the docs/CLI.md geom column: WKB polygon for an extent-carrying
    // changeset, null under the missing-extent guard
    val byId = back.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId(1L).getAs[String]("geom") ===
      graft.functions.Geo.wkbBoxHex(8.5, 49.25, 8.75, 49.5).toString)
    assert(byId(1L).getAs[Long]("comments_count") === 2L)
    assert(byId(2L).getAs[String]("geom") == null)
  }

  test("cli osm-update applies pending diffs onto an empty root and resumes from state") {
    import org.apache.spark.sql.functions.col
    val repl = java.nio.file.Files.createTempDirectory("graft-cli-repl")
    // no osm-update-init: the first diff creates the typed store
    val store = java.nio.file.Files.createTempDirectory("graft-cli-store").toString
    def osc(body: String) =
      s"""<?xml version="1.0"?><osmChange version="0.6">$body</osmChange>"""
    java.nio.file.Files.writeString(repl.resolve("1.osc"), osc(
      """<create><node id="1" version="1" timestamp="2024-01-21T00:00:00Z" changeset="7" uid="9" user="bob" lat="52.5" lon="13.4"/></create>"""))
    Cli.main(Array("osm-update", repl.toString, store))
    assert(graft.operators.ReplicationCatchup.readState(store)
      .map(_.sequenceNumber) === Some(1L))
    // a later diff arrives; re-invoking resumes from the bookmark
    java.nio.file.Files.writeString(repl.resolve("2.osc"), osc(
      """<modify><node id="1" version="2" timestamp="2024-01-21T00:01:00Z" changeset="8" uid="9" user="bob" lat="52.6" lon="13.4"/></modify>"""))
    Cli.main(Array("osm-update", repl.toString, store))
    assert(graft.operators.ReplicationCatchup.readState(store)
      .map(_.sequenceNumber) === Some(2L))
    val stored = graft.sources.ChangesetStore.readAuto(spark, s"$store/nodes")
      .filter(col("id") === 1L).collect()
    assert(stored.map(_.getAs[Int]("version")).toSeq === Seq(2))
    val emitted = spark.read.parquet(s"$store/out")
      .filter(col("osm_type") === "node" && col("osm_id") === 1L)
      .orderBy("seq").collect()
      .map(r => (r.getAs[Int]("seq"), r.getAs[Int]("osm_version"), r.getAs[String]("contrib_type")))
    assert(emitted.toSeq === Seq((1, 1, "CREATION"), (2, 2, "GEOMETRY")))
  }

  test("cli changeset-refresh closes open candidates from a re-fetched file") {
    import org.apache.spark.sql.functions.col
    val diffs = java.nio.file.Files.createTempDirectory("graft-cli-csr-diffs")
    val store = java.nio.file.Files.createTempDirectory("graft-cli-csr-store").toString
    def diff(body: String) =
      s"""<?xml version="1.0"?>\n<osm version="0.6">\n$body\n</osm>"""
    // seed via the sequenced catch-up: cs 100 stays open, cs 200 closed
    java.nio.file.Files.writeString(diffs.resolve("1.osm"), diff(
      """ <changeset id="100" created_at="2024-01-21T00:00:00Z" closed_at="" open="true" uid="9" user="bob" num_changes="0"/>
        | <changeset id="200" created_at="2024-01-21T00:01:00Z" closed_at="2024-01-21T00:01:40Z" open="false" uid="5" user="amy" num_changes="3"/>""".stripMargin))
    Cli.main(Array("changeset-catchup", diffs.toString, store))

    // re-fetched closure file: cs 100 now closed; cs 999 is NOT an open
    // candidate in the store and must be ignored
    val closures = diffs.resolve("refetched.osm")
    java.nio.file.Files.writeString(closures, diff(
      """ <changeset id="100" created_at="2024-01-21T00:00:00Z" closed_at="2024-01-21T02:30:00Z" open="false" uid="9" user="bob" num_changes="12"/>
        | <changeset id="999" created_at="2024-01-21T00:00:00Z" closed_at="2024-01-21T00:05:00Z" open="false" uid="1" user="zed" num_changes="1"/>""".stripMargin))
    Cli.main(Array("changeset-refresh", closures.toString, store))

    val back = graft.sources.ChangesetStore.readAuto(spark, store)
    val r100 = back.filter(col("id") === 100L).collect()
    assert(r100.length === 1 && !r100.head.getAs[Boolean]("open"))
    assert(r100.head.getAs[Long]("num_changes") === 12L)
    assert(back.filter(col("id") === 999L).isEmpty,
      "non-candidate rows from the re-fetched file must be ignored")
    // the bookmark is untouched — closures arrive out of band
    assert(graft.operators.ReplicationCatchup.readState(store)
      .map(_.sequenceNumber) === Some(1L))
    // nothing left to refresh: a second run is a counted no-op
    Cli.main(Array("changeset-refresh", closures.toString, store))
    assert(graft.sources.ChangesetStore.readAuto(spark, store).count() === 2L)
  }

  test("cli osm-update-init + osm-update: PBF seed, diff, backref minors") {
    import org.apache.spark.sql.functions.col
    val pbf = java.nio.file.Files.createTempFile("graft-cli-upd", ".osm.pbf")
    java.nio.file.Files.write(pbf, PbfEncode.buildTestPbf())
    val store = java.nio.file.Files.createTempDirectory("graft-cli-updstore").toString
    Cli.main(Array("osm-update-init", pbf.toString, store))

    // the PBF carries nodes 10/13, way 42 (refs 10,13), relation 7 (member
    // way 42) — moving node 10 must cascade way-42 and relation-7 minors
    val repl = java.nio.file.Files.createTempDirectory("graft-cli-updrepl")
    java.nio.file.Files.writeString(repl.resolve("1.osc"),
      """<osmChange version="0.6"><modify>
        | <node id="10" version="3" timestamp="2024-01-21T00:00:00Z" changeset="100" uid="5" user="alice" lat="52.6" lon="13.4"/>
        |</modify></osmChange>""".stripMargin)
    Cli.main(Array("osm-update", repl.toString, store))

    assert(graft.operators.ReplicationCatchup.readState(store)
      .map(_.sequenceNumber) === Some(1L))
    val out = spark.read.parquet(s"$store/out/seq=1")
    assert(out.filter(col("osm_type") === "node" && col("osm_id") === 10).count() === 1)
    val w42 = out.filter(col("osm_type") === "way" && col("osm_id") === 42).collect()
    assert(w42.length === 1 && w42.head.getAs[Int]("osm_minor_version") === 1)
    val r7 = out.filter(col("osm_type") === "relation" && col("osm_id") === 7).collect()
    assert(r7.length === 1 && r7.head.getAs[Int]("osm_minor_version") === 1)
    // the update path assembles relation geometry (null WKB was the r7 gap);
    // way 42 is an open 2-node chain, so the WKB is the empty polygon — but
    // it must be PRESENT, proving the assembly ran
    assert(r7.head.getAs[String]("wkb") != null)
  }
}
