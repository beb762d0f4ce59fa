package graftbench

import graft.{Cli, GraftSession, SparkEntry}
import graft.operators.{ChangesetCatchup, Contributions, OsmUpdater, ReplicationCatchup}
import graft.sources.{ChangesetStore, GeoParquet, OsmPbf, OsmXml}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** One benchmark run in one JVM with one caller thread:
  *
  * {{{
  * graftbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <recordFile>
  * }}}
  *
  * Times calls into the program's public functions from outside and writes
  * a raw JSON record (per-operation walls and output observations, spans
  * when traced); run.py turns it into checked metrics. Every operation is
  * caught: a throw is a failed operation, never a dead run.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, workDir, secondsArg, traceArg, recordFile) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toString)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val run = new Run(spark, inDir, workDir, secondsArg.toDouble, traceArg == "1", cpus)
    val t0 = System.nanoTime()
    val record = workload match {
      case "pbf_etl" => run.pbfEtl()
      case "osm_update" => run.osmUpdate()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    record("run_s") = (System.nanoTime() - t0) / 1e9
    record("session_s") = sessionS
    record("trace_overhead_s") = run.tracer.overheadSeconds
    record("peak_rss_mb") = Proc.peakRssMb()
    record("spans") = run.tracer.spans.map(s => Map("name" -> s.name, "parent" -> s.parent,
      "id" -> s.id, "seconds" -> s.seconds, "self_seconds" -> run.tracer.selfSeconds(s),
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counters" -> s.counters)).toSeq
    Files.writeString(Paths.get(recordFile), Json(record))
    spark.stop()
  }
}

final class Run(spark: SparkSession, inDir: String, workDir: String, seconds: Double,
    traced: Boolean, cores: Int) {
  val tracer = new Tracer(spark, cores)
  private val conf = spark.sparkContext.hadoopConfiguration

  private def now = System.nanoTime()
  private def since(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Runs `op` while the window is open, at least `min` times. */
  private def loop(window: Double, min: Int)(op: Int => Unit): Unit = {
    val t0 = now
    var i = 0
    while (i < min || since(t0) < window) { op(i); i += 1 }
  }

  /** The op's wall time and either its result fields or its failure. */
  private def timed(body: => Map[String, Any]): Map[String, Any] = {
    val t0 = now
    try {
      val r = body
      r ++ Map("wall_s" -> since(t0), "error" -> "")
    } catch {
      case e: Throwable =>
        System.err.println(s"[graftbench] operation failed: $e")
        Map("wall_s" -> since(t0), "error" -> e.toString)
    }
  }

  /** Counters of the last closed top-level span (empty when untraced). */
  private def lastCounters(name: String): Map[String, Double] =
    tracer.spans.reverseIterator.find(_.name == name).map(s => s.counters + ("seconds" -> s.seconds))
      .getOrElse(Map.empty)

  private def partFiles(dir: String): Seq[String] =
    Proc.files(Seq(Paths.get(dir))).keys.filter(_.endsWith(".parquet")).toSeq.sorted

  private def footerRows(file: String): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try r.getRecordCount finally r.close()
  }

  // ---- pbf_etl ---------------------------------------------------------

  private val GeomTypes = Seq("Point", "LineString")

  /** Row counts per status/osm_type partition and `geo` footer presence,
    * read from the part files' footers only.
    */
  private def inspectContributions(out: String): Map[String, Any] = {
    val files = partFiles(out)
    val parts = files.groupBy { f =>
      val segs = f.split('/')
      def seg(k: String) = segs.find(_.startsWith(k + "=")).map(_.drop(k.length + 1)).getOrElse("?")
      s"${seg("status")}/${seg("osm_type")}"
    }.map { case (k, fs) => k -> fs.map(footerRows).sum }
    Map("partitions" -> parts, "files" -> files.size,
      "geo_missing" -> files.count(f => GeoParquet.readFooterValue(conf, f, "geo").isEmpty),
      "out_mb" -> Proc.dirBytes(out) / 1e6)
  }

  def pbfEtl(): LinkedHashMap[String, Any] = {
    val pbf = s"$inDir/history.osm.pbf"
    val countries = s"$inDir/countries.csv"
    val out = s"$workDir/contributions"
    val ops = ArrayBuffer[Map[String, Any]]()
    val rec = LinkedHashMap[String, Any]("ops" -> ops)

    // the CLI's primary flow; the country file arrives through
    // SPARK_GRAFT_COUNTRY_FILE exactly as a user passes it
    def pass(phase: String): Unit = {
      val r = timed {
        tracer.span("pbf.Cli") { Cli.main(Array("contributions-pbf", pbf, out)) }
        Map.empty
      }
      ops += r ++ Map("phase" -> phase, "counters" -> lastCounters("pbf.Cli")) ++
        (if (r("error") == "") inspectContributions(out) else Map.empty)
    }

    if (traced) tracer.enable()
    // the JIT is still settling on the pass after the cold one, so the
    // metrics take the passes after that
    loop(seconds, 5) { i => pass(if (i == 0) "cold" else if (i == 1) "warmup" else "warm") }
    if (traced) rec("staged") = timed(stagedPass(pbf, countries, out))
    if (traced) operatorMix(ops)
    // the country join once per run (a Spark job; outside every timed pass)
    rec("countries") = try {
      val r = spark.read.parquet(out)
        .agg(sum(size(col("countries"))), count(when(size(col("countries")) > 0, 1))).head()
      Map("hits" -> r.getLong(0), "rows" -> r.getLong(1))
    } catch { case e: Exception => Map("error" -> e.toString) }
    rec
  }

  /** The same flow split at module boundaries, each stage over the
    * previous stage's checkpointed output, so each span holds one stage.
    */
  private def stagedPass(pbf: String, countries: String, out: String): Map[String, Any] = {
    val t = tracer
    val blobs = t.span("pbf.OsmPbf.index") { OsmPbf.indexBlobsDistributed(spark, pbf) }
      .count(_.blobType == "OSMData")
    val ents = t.span("pbf.OsmPbf.decode") {
      spark.read.format("osmpbf").load(pbf).localCheckpoint(true)
    }
    val versions = ents.count()
    t.span("pbf.Contributions.chain") { Contributions.fromEntities(ents).localCheckpoint(true) }
    val geom = t.span("pbf.Contributions.geometry") {
      Contributions.withGeometries(ents).localCheckpoint(true)
    }
    val withCountries = t.span("pbf.Contributions.countries") {
      Contributions.withCountries(geom, countries).localCheckpoint(true)
    }
    t.span("pbf.GeoParquet.write") {
      GeoParquet.write(withCountries, out, wkbHexCol = "wkb", geomTypes = GeomTypes,
        partitionCols = Seq("status", "osm_type"), bboxLonLat = Some(("lon", "lat")))
    }
    // re-stamping is idempotent: the same footer surgery, timed on its own
    val geo = GeoParquet.readFooterValue(conf, partFiles(out).head, "geo").get
    t.span("pbf.GeoParquet.stamp") { GeoParquet.stampFooters(spark, out, "geo", geo) }
    GraftSession.releaseStorage(spark)
    Map("blobs" -> blobs, "versions" -> versions) ++ inspectContributions(out)
  }

  // ---- operator mix (traced pbf_etl runs) --------------------------------

  /** Keys of `SparkEntry.queries` over fixed tables, listed in
    * `ops.tsv` (first line the table directory, then `group<TAB>key` in
    * the run's order): one cold pass, then one warm pass. Each call splits
    * into construct (the key's function returns its DataFrame, eager jobs
    * included), plan (`executedPlan`) and exec (noop sink). The row count
    * for the output check is taken after the warm pass, outside its spans.
    */
  private def operatorMix(ops: ArrayBuffer[Map[String, Any]]): Unit = {
    val lines = scala.io.Source.fromFile(s"$inDir/ops.tsv").getLines().toList
    val tables = lines.head
    val keys = lines.tail.map(_.split('\t')).map { case Array(g, k) => (g, k) }
    val queries = SparkEntry.queries
    // many keys in one JVM: the artifact mode graft.Bench runs them in
    GraftSession.enableReliableArtifacts(spark)
    for (phase <- Seq("ops_cold", "ops_warm"); (group, key) <- keys) {
      var df: DataFrame = null
      val r = timed {
        tracer.span("ops.call") {
          df = tracer.span("ops.construct") { queries(key)(spark, tables) }
          tracer.span("ops.plan") { df.queryExecution.executedPlan }
          tracer.span("ops.exec") { df.write.format("noop").mode("overwrite").save() }
        }
        Map.empty
      }
      val rows = if (phase == "ops_warm" && df != null) {
        try df.count() catch { case e: Exception => System.err.println(s"[graftbench] $e"); -1L }
      } else -1L
      // as graft.Bench does: storage is swept outside the timed call
      GraftSession.releaseStorage(spark)
      ops += r ++ Map("phase" -> phase, "group" -> group, "key" -> key, "rows" -> rows,
        "counters" -> lastCounters("ops.call"),
        "construct_s" -> lastCounters("ops.construct").getOrElse("seconds", 0.0),
        "plan_s" -> lastCounters("ops.plan").getOrElse("seconds", 0.0),
        "exec_s" -> lastCounters("ops.exec").getOrElse("seconds", 0.0))
    }
  }

  // ---- osm_update --------------------------------------------------------

  def osmUpdate(): LinkedHashMap[String, Any] = {
    val replDir = s"$inDir/replication"
    val csDiffDir = s"$inDir/changesets"
    val root = s"$workDir/store"
    val csStore = s"$workDir/changesets"
    val diffs = ReplicationCatchup.listDiffs(replDir)
    val csDiffs = ReplicationCatchup.listDiffs(csDiffDir, ext = ".osm").toMap
    val ops = ArrayBuffer[Map[String, Any]]()
    val rec = LinkedHashMap[String, Any]("ops" -> ops)
    if (traced) tracer.enable()

    // set-up: seed the update store from the history PBF (the CLI's
    // osm-update-init)
    val t0 = now
    tracer.span("upd.OsmUpdater.init") {
      OsmUpdater.initStore(spark, root, spark.read.format("osmpbf").load(s"$inDir/history.osm.pbf"))
    }
    rec("init_s") = since(t0)
    tracer.watch(Seq("nodes", "ways", "relations", "node_ways", "node_relations",
      "way_relations").map(d => s"$root/$d") :+ csStore)

    // one step: changeset diff N into the live changeset store, then .osc
    // diff N joined against that store; the step ends once state.txt moved
    def step(seq: Long, path: String): Unit = {
      val r = timed {
        tracer.span("upd.step") {
          tracer.span("upd.ChangesetCatchup.step") {
            ChangesetCatchup.catchUp(spark, csDiffDir, csStore, maxSteps = 1)
          }
          val db = ChangesetStore.readAuto(spark, csStore)
          tracer.span("upd.OsmUpdater.step") {
            OsmUpdater.catchUp(spark, replDir, root, maxSteps = 1, changesetDb = Some(db))
          }
        }
        Map.empty
      }
      val out = s"$root/out/seq=$seq"
      ops += r ++ Map("phase" -> "step", "seq" -> seq,
        "state" -> ReplicationCatchup.readState(root).map(_.sequenceNumber).getOrElse(0L),
        "success" -> Files.exists(Paths.get(out, "_SUCCESS")),
        "emitted_rows" -> partFiles(out).map(footerRows).sum,
        "diff_bytes" -> (Files.size(Paths.get(path)) +
          csDiffs.get(seq).fold(0L)(p => Files.size(Paths.get(p)))),
        "counters" -> lastCounters("upd.step"),
        "changeset_step_s" -> lastCounters("upd.ChangesetCatchup.step").getOrElse("seconds", 0.0),
        "updater_step_s" -> lastCounters("upd.OsmUpdater.step").getOrElse("seconds", 0.0))
      if (traced) {
        // the .osc parse on its own: a separate readOsc count
        val p = timed {
          tracer.span("upd.OsmXml.parse") { OsmXml.readOsc(spark, path).count() }
          Map.empty
        }
        ops += p ++ Map("phase" -> "parse", "seq" -> seq)
      }
    }

    val t1 = now
    diffs.iterator.takeWhile(_ => ops.isEmpty || since(t1) < seconds)
      .foreach { case (seq, path) => step(seq, path) }

    // final store state vs the generator's latest versions
    rec("store") = try {
      val types = Seq("node" -> "nodes", "way" -> "ways", "relation" -> "relations").map {
        case (t, d) =>
          val r = ChangesetStore.readAuto(spark, s"$root/$d")
            .agg(count(lit(1)), sum(col("version").cast("long")),
              sum(col("id") * col("version").cast("long"))).head()
          t -> Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      }.toMap
      val cs = ChangesetStore.readAuto(spark, csStore)
        .agg(count(lit(1)), count(when(!col("open"), 1))).head()
      Map("types" -> types, "changesets" -> cs.getLong(0), "closed_changesets" -> cs.getLong(1),
        "space_mb" -> (Proc.dirBytes(root) - Proc.dirBytes(s"$root/out") +
          Proc.dirBytes(csStore)) / 1e6)
    } catch { case e: Exception => Map("error" -> e.toString) }
    rec
  }
}
