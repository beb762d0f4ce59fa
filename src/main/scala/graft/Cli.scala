package graft

import graft.operators.{Changesets, Contributions, Replication}
import org.apache.spark.sql.functions._

/** Command-line surface mirroring the reference CLI
  * (ohsome-planet-cli: `contributions`, `changesets`, `replication`):
  *
  * {{{
  * graft.Cli contributions <sfDir> <outDir>    # full contribution table,
  *                                             # partitioned status×osm_type
  * graft.Cli contributions-pbf <file> <outDir> # REAL OSM history file →
  *                                             # contributions, same layout
  * graft.Cli changesets    <sfDir> <outDir>    # sessionized changesets
  * graft.Cli replication   <sfDir> <outDir>    # diff-merged latest state
  * graft.Cli osm-update-init <pbf> <storeRoot> # seed the typed update
  *                                             # store from a history PBF
  * graft.Cli osm-update <replDir> <storeRoot> [maxSteps]
  *                                             # apply pending .osc diffs in
  *                                             # sequence order; resumable
  *                                             # via storeRoot/state.txt
  * graft.Cli changeset-catchup <diffDir> <storeDir> [maxSteps]
  *                                             # apply pending changeset .osm
  *                                             # diffs into the changeset
  *                                             # store; same state.txt
  *                                             # bookmark contract
  * graft.Cli changeset-refresh <closureFile> <storeDir> [cutoffIso]
  *                                             # re-close open changesets from
  *                                             # a re-fetched changeset file
  *                                             # (unclosed-changeset loop)
  * graft.Cli audit  <sfDir> <outDir>           # pipeline-health audit pack:
  *                                             # dedup/bucket/cell/length/
  *                                             # schema/freshness/grid reports
  * graft.Cli curate <sfDir> <outDir>           # pretraining curation run:
  *                                             # per-doc verdicts (partitioned
  *                                             # by drop reason) + kept corpus
  * graft.Cli pbf-info   <file> <outDir>        # debug: blob/entity summary
  * graft.Cli store-peek <storeRoot> <osmId>    # debug: element's stored
  *                                             # and emitted rows
  * }}}
  *
  * `osm-update` is the reference `replication` command's catch-up loop
  * (ReplicationManager.java): one invocation applies every pending
  * sequence number; re-invoking resumes from the persisted state
  * (continuous mode = [[graft.streaming.OsmUpdateStream]]).
  */
object Cli {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 ||
      (args.length == 4 &&
        Set("osm-update", "changeset-catchup", "changeset-refresh")(args(0))),
      "usage: graft.Cli <contributions|contributions-pbf|changesets|replication> <in> <outDir>" +
        " | graft.Cli changeset-catchup <diffDir> <storeDir> [maxSteps]" +
        " | graft.Cli changeset-refresh <closureFile> <storeDir> [cutoffIso]" +
        " | graft.Cli osm-update-init <pbf> <storeRoot>" +
        " | graft.Cli osm-update <replDir> <storeRoot> [maxSteps]")
    val Array(cmd, sfDir, outDir) = args.take(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val preexisting = org.apache.spark.sql.SparkSession.getActiveSession.isDefined
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // per-stage progress lines on stderr (the reference CLI runs behind a
    // console progress bar; silent-between-log-lines runs read as hung)
    val progress =
      if (sys.env.get("SPARK_GRAFT_PROGRESS").contains("0")) None
      else Some(Metrics.attach(spark, Some(s => Console.err.println(s))))
    try cmd match {
      case "contributions" =>
        // partition on contribFull's own status column — it already carries
        // the deleted/history/latest distinction (overriding it here would
        // mislabel visible=false rows with null valid_to as 'latest')
        val contribs = Contributions.contribFull(spark, sfDir)
          .withColumn("osm_type",
            element_at(typedLit(Seq("node", "way", "relation")),
              (col("osm_id") % 3 + 1).cast("int")))
        // reference output contract: binary WKB `geometry` + the `geo`
        // JSON in every part file's footer (ohsome-parquet)
        graft.sources.GeoParquet.write(contribs, outDir, wkbHexCol = "wkb",
          partitionCols = Seq("status", "osm_type"),
          bboxLonLat = Some(("lon_d", "lat_d")))
      case "contributions-pbf" =>
        // the reference CLI's primary flow: history PBF in, partitioned
        // contribution parquet out; SPARK_GRAFT_COUNTRY_FILE plays the
        // --country-file option (docs/CLI.md "Join Country Codes")
        val entities = spark.read.format("osmpbf").load(sfDir)
        // SPARK_GRAFT_MEMBER_GEOMS=1 adds the docs' relation member
        // geometry structs (useful_queries.md member extraction)
        val base =
          if (sys.env.get("SPARK_GRAFT_MEMBER_GEOMS").contains("1"))
            Contributions.withMemberGeometries(entities)
          else Contributions.withGeometries(entities)
        val enriched = sys.env.get("SPARK_GRAFT_COUNTRY_FILE")
          .fold(base)(f => Contributions.withCountries(base, f))
        // same output contract as `contributions`: binary WKB geometry +
        // footer-embedded geo metadata, status×type partitioned; the
        // declared types are every shape `Contributions.wayShape` emits
        graft.sources.GeoParquet.write(enriched, outDir, wkbHexCol = "wkb",
          geomTypes = Seq("Point", "LineString", "Polygon"),
          partitionCols = Seq("status", "osm_type"),
          bboxLonLat = Some(("lon", "lat")))
      case "changesets" =>
        // a dump file loads the changeset store (the reference's
        // `changesets --bz2 --changeset-db` flow) as the same bucketed
        // store `changeset-catchup` and ChangesetStream keep current, so
        // either can continue it; a table dir runs the sessionized build
        if (sfDir.endsWith(".osm") || sfDir.endsWith(".bz2") || sfDir.endsWith(".xml")) {
          graft.functions.GeoFunctions.register(spark)
          // the changesets-DB `geom geometry(polygon, 4326)` column of
          // docs/CLI.md: the bbox polygon as hex WKB, null under the
          // reference's missing/NaN-corner guard (OSMChangesets.java:75-87)
          val rows = graft.sources.OsmXml.readChangesetDump(spark, sfDir)
            .withColumn("geom", call_function("wkb_box",
              col("min_lon"), col("min_lat"), col("max_lon"), col("max_lat")))
          graft.sources.ChangesetStore.upsertBucketed(spark, outDir, rows, Seq("id"))
        } else
          Changesets.csBuild(spark, sfDir)
            .write.mode("overwrite").parquet(outDir)
      case "replication" =>
        Replication.replMerge(spark, sfDir)
          .write.mode("overwrite").parquet(outDir)
      case "audit" =>
        // the pipeline-health audit pack: every round-12 audit report
        // (dedup headline, LSH bucket fill, IVF cell balance, sequence
        // lengths, JSON schema census, freshness, spatial grid
        // occupancy) written as one parquet dir each — the pre-flight
        // a pipeline runs on a new data drop before committing compute
        val audits: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
          "dedup_report" -> operators.Dedup.textDedupReport(spark, sfDir),
          "bucket_stats" -> operators.Dedup.dedupBucketStats(spark, sfDir),
          "cell_stats" -> operators.Ann.annCellStats(spark, sfDir),
          "len_profile" -> operators.TextOps.textLenProfile(spark, sfDir),
          "schema_audit" -> operators.Events.schemaAudit(spark, sfDir),
          "freshness" -> operators.Events.freshness(spark, sfDir),
          "grid_audit" -> operators.Geometry.geoGridAudit(spark, sfDir))
        audits.foreach { case (name, df) =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        // summary comes from the parquet just written — not a second
        // full-corpus recompute of the report aggregate
        val dup = spark.read.parquet(s"$outDir/dedup_report").head
        println(s"[graft] audit: reports=${audits.size} " +
          s"docs=${dup.getLong(0)} dup_pm=${dup.getLong(6)}")
      case "curate" =>
        // the pretraining-curation pipeline over a documents table:
        // verdicts to outDir/verdicts, the kept corpus (original text
        // re-attached by doc_id) to outDir/kept — partitioned by the
        // drop reason so downstream audits prune by directory
        val verdicts = operators.TextOps.pipeCurate(spark, sfDir)
          .localCheckpoint(true)
        verdicts.write.mode("overwrite").partitionBy("reason")
          .parquet(s"$outDir/verdicts")
        Tables.documents(spark, sfDir)
          .join(verdicts.filter(col("keep")).select("doc_id"), "doc_id")
          .write.mode("overwrite").parquet(s"$outDir/kept")
        val n = verdicts.groupBy("reason").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        println(s"[graft] curate: $n")
      case "manifest" =>
        // the end-of-pipeline training manifest (curate → shard → pack):
        // one row per kept doc with its shard, token count, global
        // token offset, and owning 512-token sequence — written
        // partitioned by shard, the layout a trainer's data loader
        // reads one shard at a time
        val man = operators.TextOps.pipeManifest(spark, sfDir)
          .localCheckpoint(true)
        man.write.mode("overwrite").partitionBy("shard").parquet(outDir)
        val st = man.agg(count(lit(1)), sum("n_tokens"),
          max("seq_id")).head
        println(s"[graft] manifest: docs=${st.getLong(0)} " +
          s"tokens=${st.getLong(1)} sequences=${st.getLong(2) + 1}")
      case "tokenize" =>
        // BPE tokenizer training + corpus encoding over a documents
        // table: the learned merge table to outDir/merges, per-doc token
        // counts to outDir/encoded — the train→encode flow a pretraining
        // pipeline runs before sequence packing
        operators.TextOps.textBpeTrain(spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/merges")
        val enc = operators.TextOps.textBpeApply(spark, sfDir)
          .localCheckpoint(true)
        enc.write.mode("overwrite").parquet(s"$outDir/encoded")
        val t = enc.selectExpr("sum(n_words)", "sum(n_tokens_bpe)").head()
        println(s"[graft] tokenize: words=${t.getLong(0)} tokens=${t.getLong(1)}")
      case "search" =>
        // build the persisted BM25 inverted index over a documents table
        // and serve the standard query set from the artifact: the index
        // (term-bucketed postings + additive stats) to outDir/index, the
        // per-query top-5 to outDir/results
        val docs = Tables.documents(spark, sfDir)
          .withColumn("toks", expr(operators.TextOps.toksExpr))
        val corpus = docs.filter(col("doc_id") % 101 =!= 0)
        val post = operators.TextOps.bm25Postings(corpus).localCheckpoint(true)
        operators.Bm25Index.build(spark, post, s"$outDir/index")
        val res = operators.Bm25Index
          .probe(spark, s"$outDir/index", operators.TextOps.bm25QueryTerms(docs))
          .localCheckpoint(true)
        res.write.mode("overwrite").parquet(s"$outDir/results")
        val (nd, sl) = operators.Bm25Index.stats(s"$outDir/index")
        println(s"[graft] search: indexed_docs=$nd sum_dl=$sl " +
          s"queries=${res.select("query_id").distinct().count()} hits=${res.count()}")
      case "changeset-catchup" =>
        // sequenced changeset-diff catch-up (ChangesetStateManager.java
        // analog): minutely changeset .osm diffs upserted into the store
        // with a persisted state.txt bookmark; optional 4th arg = max
        // states per run. No bookmark → starting sequence is estimated
        // from the store's max timestamp (findStartStateByTimestamp).
        val maxSteps = if (args.length == 4) args(3).toInt else Int.MaxValue
        val n = operators.ChangesetCatchup.catchUp(spark, sfDir, outDir, maxSteps)
        val st = operators.ReplicationCatchup.readState(outDir)
        println(s"[graft] changeset-catchup: applied $n diff(s); state=${st.map(_.sequenceNumber).getOrElse(0L)}")
      case "changeset-refresh" =>
        // the reference's unclosed-changeset loop
        // (getOpenChangesetsOlderThanTwoHours → re-fetch → upsert): open
        // candidates older than the cutoff are refreshed from a re-fetched
        // changeset file (the fetch itself is the declared non-goal HTTP
        // API), latest-wins by id, bookmark untouched. Optional 4th arg =
        // the age cutoff (ISO); default refreshes every open changeset.
        val cutoff = if (args.length == 4) args(3) else "\uffff" // U+FFFF: above any ISO timestamp = every open changeset
        val candidates = operators.ChangesetCatchup
          .openOlderThan(spark, outDir, cutoff).select("id")
        val refreshed = graft.sources.OsmXml.readChangesetDump(spark, sfDir)
          .join(broadcast(candidates), Seq("id"), "left_semi")
          .localCheckpoint(true) // counted AND upserted — parsed once
        val n = refreshed.count()
        if (n > 0) operators.ChangesetCatchup.refreshUnclosed(spark, outDir, refreshed)
        println(s"[graft] changeset-refresh: $n candidate closure(s) applied")
      case "osm-update-init" =>
        // seed the typed update store from a history PBF (the reference's
        // initial UpdateStore fill before replication starts)
        val entities = spark.read.format("osmpbf").load(sfDir)
        operators.OsmUpdater.initStore(spark, outDir, entities)
        println(s"[graft] osm-update-init: store seeded at $outDir")
      case "osm-update" =>
        // ContributionUpdater catch-up: ordered .osc diffs against the
        // typed store, per-sequence contribution output, resumable state.
        // SPARK_GRAFT_CHANGESET_DB points at a changeset store to join
        // changeset structs onto every emitted row (--changeset-db);
        // optional 4th arg = max states per run (the reference's `--size`)
        val maxSteps = if (args.length == 4) args(3).toInt else Int.MaxValue
        val csDb = sys.env.get("SPARK_GRAFT_CHANGESET_DB")
          .map(d => graft.sources.ChangesetStore.readAuto(spark, d))
        val n = operators.OsmUpdater.catchUp(spark, sfDir, outDir, maxSteps, csDb)
        val st = operators.ReplicationCatchup.readState(outDir)
        println(s"[graft] osm-update: applied $n diff(s); state=${st.map(_.sequenceNumber).getOrElse(0L)}")
      case "pbf-info" =>
        // Debug.java `fileinfo` analog: header/blob structure + entity
        // counts by type, printed and written as a one-row parquet
        val blobs = graft.sources.OsmPbf.indexBlobs(spark, sfDir)
        val counts = spark.read.format("osmpbf").load(sfDir)
          .groupBy("osm_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        import spark.implicits._
        val info = Seq((sfDir, blobs.length,
          counts.getOrElse("node", 0L), counts.getOrElse("way", 0L),
          counts.getOrElse("relation", 0L)))
          .toDF("path", "n_blobs", "n_nodes", "n_ways", "n_relations")
        info.coalesce(1).write.mode("overwrite").parquet(outDir)
        println(s"[graft] pbf-info: ${blobs.length} blobs, " +
          s"nodes=${counts.getOrElse("node", 0L)} ways=${counts.getOrElse("way", 0L)} " +
          s"relations=${counts.getOrElse("relation", 0L)}")
      case "store-peek" =>
        // Debug.java `replication-store` analog: one element's rows in the
        // typed update store and its emitted contributions under
        // out/seq=N (outDir arg carries the osm id)
        val id = outDir.toLong
        val stored = Seq("nodes", "ways", "relations").flatMap { t =>
          val d = s"$sfDir/$t"
          if (graft.sources.ChangesetStore.currentVersion(spark, d).isEmpty) Nil
          else graft.sources.ChangesetStore.readAuto(spark, d)
            .filter(col("id") === id).collect().map(r => s"$t $r").toSeq
        }
        val emitted =
          if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDir, "out")))
            Array.empty[org.apache.spark.sql.Row]
          else spark.read.parquet(s"$sfDir/out").filter(col("osm_id") === id)
            .orderBy("seq", "osm_type", "osm_version", "osm_minor_version").collect()
        stored.foreach(r => println(s"[graft] $r"))
        emitted.foreach(r => println(s"[graft] out $r"))
        println(s"[graft] store-peek: ${stored.length} stored, " +
          s"${emitted.length} emitted row(s) of $outDir")
      case other => throw new IllegalArgumentException(s"unknown command $other")
    } finally progress.foreach(_.detach())
    println(s"[graft] $cmd -> $outDir")
    if (!preexisting) spark.stop() // leave embedding callers' session alive
  }
}
