package graft.streaming

import graft.SparkSpec
import graft.operators.OsmUpdater
import graft.sources.ChangesetStore
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch/stream parity for the typed updater: the same diff sequence
  * through OsmUpdateStream must leave the same store state and emit the
  * same contributions as the sequenced batch catch-up.
  */
class OsmUpdateStreamSpec extends SparkSpec {

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

  private def seed = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("node", 1L, 1, 1000L, true, 1.0, 1.0, Map.empty[String, String], null, null),
      Row("node", 2L, 1, 1000L, true, 1.0, 2.0, Map.empty[String, String], null, null),
      Row("way", 10L, 1, 1000L, true, Double.NaN, Double.NaN,
        Map.empty[String, String], Seq(1L, 2L), null))),
    entitySchema)

  private val diff1 =
    """<osmChange version="0.6">
      | <modify>
      |  <node id="1" version="2" timestamp="2024-01-01T00:00:10Z" changeset="100" uid="9" user="alice" lat="1.5" lon="1.0"/>
      | </modify>
      |</osmChange>""".stripMargin
  private val diff2 =
    """<osmChange version="0.6">
      | <modify>
      |  <node id="2" version="2" timestamp="2024-01-01T01:00:00Z" changeset="101" uid="9" user="alice" lat="1.0" lon="2.5"/>
      | </modify>
      |</osmChange>""".stripMargin

  test("streamed diffs match the batch catch-up store and emissions") {
    // batch side
    val batchRoot = java.nio.file.Files.createTempDirectory("graft-us-batch").toString
    OsmUpdater.initStore(spark, batchRoot, seed)
    val replDir = java.nio.file.Files.createTempDirectory("graft-us-repl")
    java.nio.file.Files.writeString(replDir.resolve("1.osc"), diff1)
    java.nio.file.Files.writeString(replDir.resolve("2.osc"), diff2)
    assert(OsmUpdater.catchUp(spark, replDir.toString, batchRoot) === 2L)

    // stream side: files dropped one at a time into a watched dir
    val streamRoot = java.nio.file.Files.createTempDirectory("graft-us-stream").toString
    OsmUpdater.initStore(spark, streamRoot, seed)
    val watchDir = java.nio.file.Files.createTempDirectory("graft-us-watch")
    val outDir = java.nio.file.Files.createTempDirectory("graft-us-out").toString + "/contribs"
    val q = OsmUpdateStream.start(spark, watchDir.toString, streamRoot, outDir)
    try {
      java.nio.file.Files.writeString(watchDir.resolve("1.osc"), diff1)
      q.processAllAvailable()
      java.nio.file.Files.writeString(watchDir.resolve("2.osc"), diff2)
      q.processAllAvailable()
    } finally q.stop()

    // identical store state: way-10 minor counter and timestamps
    def wayRow(root: String) = ChangesetStore
      .readAuto(spark, s"$root/ways")
      .filter(col("id") === 10)
      .select("version", "minor_version", "edits", "ts_ms")
      .head()
    assert(wayRow(streamRoot) === wayRow(batchRoot))
    assert(wayRow(streamRoot).getInt(1) === 2, "two node moves → two minors")

    // identical emissions (batch wrote per-seq outputs; stream appended)
    val batchOut = spark.read.parquet(s"$batchRoot/out/seq=1", s"$batchRoot/out/seq=2")
      .select("osm_type", "osm_id", "osm_version", "osm_minor_version",
        "valid_from", "contrib_type")
      .collect().toSet
    val streamOut = spark.read.parquet(outDir)
      .select("osm_type", "osm_id", "osm_version", "osm_minor_version",
        "valid_from", "contrib_type")
      .collect().toSet
    assert(streamOut === batchOut)
    assert(batchOut.size === 4, "2 diffs × (node row + way-10 minor)")
  }
}
