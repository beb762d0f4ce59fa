package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
import scala.collection.mutable.ArrayBuffer

/** OSM change (`.osc`) and changeset XML readers over JDK StAX — the
  * osm-xml OSMXmlIterator.java / osc/OscParser.java analog. Parsing is a
  * per-file executor-side operation (`wholeTextFiles`-style); at scale one
  * minutely diff file is small, and many diffs parallelize per file.
  */
object OsmXml {

  val oscSchema: StructType = StructType(Seq(
    StructField("action", StringType), StructField("osm_type", StringType),
    StructField("id", LongType), StructField("version", IntegerType),
    StructField("ts", StringType), StructField("changeset", LongType),
    StructField("uid", LongType), StructField("user", StringType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("refs", ArrayType(LongType)),
    StructField("ref_types", ArrayType(StringType))))

  case class OscRow(action: String, osmType: String, id: Long, version: Int,
      ts: String, changeset: Long, uid: Long, user: String,
      lat: Double, lon: Double, tags: Map[String, String], refs: Seq[Long],
      refTypes: Seq[String])

  /** Parse one `.osc` document: <osmChange><create|modify|delete> blocks
    * around <node|way|relation> elements.
    */
  def parseOsc(xml: String): Seq[OscRow] = {
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = factory.createXMLStreamReader(new java.io.StringReader(xml))
    val out = ArrayBuffer[OscRow]()
    var action = ""
    var row: OscRow = null
    var tags = Map.newBuilder[String, String]
    var refs = ArrayBuffer[Long]()
    var refTypes = ArrayBuffer[String]()
    def attr(name: String): Option[String] = {
      var i = 0
      var res: Option[String] = None
      while (i < r.getAttributeCount && res.isEmpty) {
        if (r.getAttributeLocalName(i) == name) res = Some(r.getAttributeValue(i))
        i += 1
      }
      res
    }
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case a @ ("create" | "modify" | "delete") => action = a
            case t @ ("node" | "way" | "relation") =>
              tags = Map.newBuilder[String, String]
              refs = ArrayBuffer[Long]()
              refTypes = ArrayBuffer[String]()
              row = OscRow(action, t,
                attr("id").map(_.toLong).getOrElse(0L),
                attr("version").map(_.toInt).getOrElse(1),
                attr("timestamp").getOrElse(""),
                attr("changeset").map(_.toLong).getOrElse(0L),
                attr("uid").map(_.toLong).getOrElse(0L),
                attr("user").getOrElse(""),
                attr("lat").map(_.toDouble).getOrElse(Double.NaN),
                attr("lon").map(_.toDouble).getOrElse(Double.NaN),
                Map.empty, Nil, Nil)
            case "tag" =>
              for (k <- attr("k"); v <- attr("v")) tags += k -> v
            case "nd" =>
              attr("ref").foreach { v => refs += v.toLong; refTypes += "node" }
            case "member" =>
              attr("ref").foreach { v =>
                refs += v.toLong
                refTypes += attr("type").getOrElse("way")
              }
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "node" | "way" | "relation" =>
              out += row.copy(tags = tags.result(), refs = refs.toSeq,
                refTypes = refTypes.toSeq)
              row = null
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    out.toSeq
  }

  /** One ingested changeset. The spatial extent (`min_lon`…`max_lat`) and
    * `comments_count` mirror the reference's changeset record
    * (osm-changesets Changeset.java:6-18): the bbox attrs are OPTIONAL in
    * the XML (an empty changeset has no extent) and surface as nulls.
    *
    * DELIBERATE DEVIATION: an absent `num_changes` or `comments_count`
    * attribute parses to 0 here, where the reference initializes both to
    * the -1 "absent" sentinel (ChangesetXmlReader.java:54-55) — so an
    * attr-less changeset is indistinguishable from one with zero
    * comments. 0 is this repo's uniform missing-count convention (both
    * columns, every ingest path, and the aggregation/oracle contract
    * treats the counts as non-negative); callers that need the
    * absent-vs-zero distinction should test the raw XML attrs instead.
    */
  case class ChangesetRow(id: Long, created_at: String, closed_at: String,
      open: Boolean, uid: Long, user: String, num_changes: Long,
      comments_count: Long, min_lon: Option[Double], min_lat: Option[Double],
      max_lon: Option[Double], max_lat: Option[Double],
      tags: Map[String, String]) {

    /** The reference's bbox WKT (OSMChangesets.java:75-87 getBBOXasWKT):
      * null when any corner is missing or NaN, else the SRID-prefixed
      * closed ring at `%f` precision — the `geom geometry(polygon, 4326)`
      * column of the changesets DB schema (docs/CLI.md).
      */
    def bboxWkt: Option[String] =
      for {
        a <- min_lon; b <- min_lat; c <- max_lon; d <- max_lat
        if !a.isNaN && !b.isNaN && !c.isNaN && !d.isNaN
      } yield String.format(java.util.Locale.ROOT,
        "SRID=4326;POLYGON((%f %f, %f %f, %f %f, %f %f, %f %f))",
        a, b, c, b, c, d, a, d, a, b)
  }

  /** Parse changeset XML (`<osm><changeset …><tag/></changeset></osm>`) —
    * the osm-changesets ingest format (id, lifecycle timestamps, user,
    * num_changes, comments_count, the optional bbox extent, tags incl.
    * `comment`/`created_by` for hashtag/editor extraction downstream).
    */
  def parseChangesets(xml: String): Seq[ChangesetRow] = {
    val factory = XMLInputFactory.newInstance()
    factory.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    factory.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = factory.createXMLStreamReader(new java.io.StringReader(xml))
    val out = ArrayBuffer[ChangesetRow]()
    var row: ChangesetRow = null
    var tags = Map.newBuilder[String, String]
    def attr(name: String): Option[String] = {
      var i = 0
      var res: Option[String] = None
      while (i < r.getAttributeCount && res.isEmpty) {
        if (r.getAttributeLocalName(i) == name) res = Some(r.getAttributeValue(i))
        i += 1
      }
      res
    }
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "changeset" =>
              tags = Map.newBuilder[String, String]
              row = ChangesetRow(
                attr("id").map(_.toLong).getOrElse(0L),
                attr("created_at").getOrElse(""),
                attr("closed_at").getOrElse(""),
                attr("open").contains("true"),
                attr("uid").map(_.toLong).getOrElse(0L),
                attr("user").getOrElse(""),
                attr("num_changes").map(_.toLong).getOrElse(0L),
                attr("comments_count").map(_.toLong).getOrElse(0L),
                attr("min_lon").map(_.toDouble),
                attr("min_lat").map(_.toDouble),
                attr("max_lon").map(_.toDouble),
                attr("max_lat").map(_.toDouble),
                Map.empty)
            case "tag" =>
              if (row != null) for (k <- attr("k"); v <- attr("v")) tags += k -> v
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "changeset" =>
          out += row.copy(tags = tags.result())
          row = null
        case _ =>
      }
    }
    r.close()
    out.toSeq
  }

  /** Distributed read: one task per changeset XML file. */
  def readChangesets(spark: SparkSession, pathGlob: String): DataFrame = {
    val rdd = spark.sparkContext.wholeTextFiles(pathGlob)
      .flatMap { case (_, content) => parseChangesets(content) }
    spark.createDataFrame(rdd)
  }

  /** PLANET changeset dump reader (`changeset.osm.bz2`, the reference
    * `changesets --bz2` input, Changesets.java:25-28): ONE multi-GB file,
    * read DISTRIBUTED by splitting the text stream on the `<changeset`
    * element boundary (`textinputformat.record.delimiter`) — each task
    * parses its own fragment span, so a planet dump parses across the
    * cluster instead of through one driver-side SAX pass. Works on plain
    * and `.bz2` input alike: Hadoop's BZip2 codec is block-splittable, so
    * even the compressed dump fans out.
    */
  def readChangesetDump(spark: SparkSession, path: String): DataFrame = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("textinputformat.record.delimiter", "<changeset")
    val rdd = spark.sparkContext.newAPIHadoopFile(
      path,
      classOf[org.apache.hadoop.mapreduce.lib.input.TextInputFormat],
      classOf[org.apache.hadoop.io.LongWritable],
      classOf[org.apache.hadoop.io.Text],
      conf)
      .map(_._2.toString)
      // the first record is the prolog before any <changeset> (it starts
      // with '<'); real fragments start with the element's attribute list.
      // Raw '<changeset' cannot occur inside attribute values (XML escapes
      // '<'), so the delimiter split is element-exact.
      .filter { f => val s = f.stripLeading(); s.nonEmpty && !s.startsWith("<") }
      .flatMap { frag =>
        // reconstitute a well-formed document: the delimiter consumed
        // "<changeset"; the last fragment also carries the closing </osm>
        parseChangesets(s"<osm><changeset${frag.replace("</osm>", "")}</osm>")
      }
    spark.createDataFrame(rdd)
  }

  /** STREAMING `.osc` source: watch a directory of minutely diff files —
    * the reference's continuous replication input
    * (ohsome-replication-update polls the diff sequence; Structured
    * Streaming's file source provides the same at-least-once file
    * discovery with checkpointed progress). Each file arrives as one
    * wholetext row and parses on the executor.
    */
  def streamOsc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val raw = spark.readStream
      .format("text")
      .option("wholetext", "true")
      .load(dir)
    val rows = raw.as[String].flatMap(parseOsc _)
    rows.toDF()
      .select(col("action"), col("osmType").as("osm_type"), col("id"),
        col("version"), col("ts"), col("changeset"), col("uid"), col("user"),
        col("lat"), col("lon"), col("tags"), col("refs"),
        col("refTypes").as("ref_types"))
  }

  /** Distributed read: one task per `.osc` file. */
  def readOsc(spark: SparkSession, pathGlob: String): DataFrame = {
    val rdd = spark.sparkContext.wholeTextFiles(pathGlob)
      .flatMap { case (_, content) => parseOsc(content) }
      .map(e => Row(e.action, e.osmType, e.id, e.version, e.ts, e.changeset,
        e.uid, e.user, e.lat, e.lon, e.tags, e.refs, e.refTypes))
    spark.createDataFrame(rdd, oscSchema)
  }
}
