package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.format.{KeyValue, Util}
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructType}

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** GeoParquet writer — the reference's primary output contract
  * (ohsome-planet emits contribution GeoParquet; see ohsome-planet/README
  * and the ohsome-parquet writer): a BINARY WKB `geometry` column, optional
  * partitioned layout, and the GeoParquet `geo` metadata JSON
  * (version / primary_column / encoding / geometry types / CRS84 / file
  * bbox) embedded in every file's FOOTER key-value metadata, where
  * GeoParquet-aware tools sniff for it.
  *
  * The footer is written in the same pass as the data: [[write]] saves
  * through [[GeoParquetFileFormat]], Spark's parquet format with its write
  * support swapped for [[GeoWriteSupport]]. Spark opens one write support
  * per output file; it keeps that file's running lon/lat min/max as rows
  * pass and hands the `geo` entry to parquet's `finalizeWrite`, which
  * merges it into the footer when the task closes the file. Each file so
  * carries its own bbox (GeoParquet 1.0 defines `bbox` per file), and the
  * committer publishes finished files: no second scan of the frame and no
  * rewrite of the output.
  */
object GeoParquet {

  private val Magic = "PAR1".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Write options that carry the footer settings from [[write]] to each
    * file's [[GeoWriteSupport]] (through the write job's configuration).
    */
  private[sources] val TypesOption = "geoparquet.geometry_types"
  private[sources] val BboxOption = "geoparquet.bbox_columns"

  /** @param df         frame holding a hex-encoded WKB column
    * @param outDir     dataset root
    * @param wkbHexCol  hex WKB column to convert to the binary `geometry`
    * @param geomTypes  declared geometry types for the metadata
    * @param partitionCols optional partition layout (e.g. status, osm_type)
    * @param bboxLonLat optional (lon, lat) DOUBLE data columns whose finite
    *                   values give each file's `bbox`
    */
  def write(df: DataFrame, outDir: String, wkbHexCol: String = "wkb",
      geomTypes: Seq[String] = Seq("Point"),
      partitionCols: Seq[String] = Nil,
      bboxLonLat: Option[(String, String)] = None): Unit = {
    bboxLonLat.foreach { case (lon, lat) =>
      for (c <- Seq(lon, lat))
        require(df.schema(c).dataType == DoubleType && !partitionCols.contains(c),
          s"bbox column $c must be a DOUBLE data column")
    }
    val writer = df
      .withColumn("geometry", unhex(col(wkbHexCol)))
      .drop(wkbHexCol)
      .write.mode("overwrite")
      .format(classOf[GeoParquetFileFormat].getName)
      .option(TypesOption, geomTypes.mkString(","))
      .option(BboxOption, bboxLonLat.fold("") { case (lon, lat) => s"$lon,$lat" })
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .save(outDir)
  }

  /** The `geo` JSON for one file; no `bbox` key without finite coordinates. */
  private[sources] def geoJson(geomTypes: Seq[String],
      bbox: Option[(Double, Double, Double, Double)]): String = {
    val bboxJson = bbox.fold("") { case (x0, y0, x1, y1) => s""","bbox":[$x0,$y0,$x1,$y1]""" }
    s"""{"version":"1.0.0","primary_column":"geometry","columns":{"geometry":{
       |"encoding":"WKB","geometry_types":[${geomTypes.map("\"" + _ + "\"").mkString(",")}],
       |"crs":{"id":{"authority":"OGC","code":"CRS84"}}$bboxJson}}}""".stripMargin
      .replace("\n", "")
  }

  /** Embeds `key` → `value` into the footer key-value metadata of every
    * parquet part file under `outDir`, one Spark task per file. Idempotent:
    * an existing entry for `key` is replaced. Kept for re-stamping; `write`
    * no longer calls it.
    */
  def stampFooters(spark: org.apache.spark.sql.SparkSession, outDir: String,
      key: String, value: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(outDir)
    val fs = root.getFileSystem(conf)
    val files = scala.collection.mutable.ArrayBuffer[String]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet"))
        files += f.getPath.toString
    }
    if (files.isEmpty) return
    // Ship the DRIVER's resolved hadoop configuration (spark.hadoop.* —
    // filesystem credentials, fs.defaultFS, …) to the stamp tasks: a bare
    // `new Configuration()` on an executor sees only classpath XML defaults
    // and would resolve the wrong filesystem on real cluster deployments.
    // Configuration itself is not Serializable, so broadcast its entries.
    val confEntries: Array[(String, String)] = {
      val it = conf.iterator()
      val buf = scala.collection.mutable.ArrayBuffer[(String, String)]()
      while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
      buf.toArray
    }
    val bcConf = spark.sparkContext.broadcast(confEntries)
    spark.sparkContext
      .parallelize(files.toSeq, math.min(files.size, 32))
      .foreach { f =>
        val c = new Configuration(false)
        bcConf.value.foreach { case (k, v) => c.set(k, v) }
        stampOne(c, f, key, value)
      }
    bcConf.unpersist(blocking = false)
  }

  /** Footer surgery on one file: parse thrift footer, upsert the key-value,
    * rewrite as [unchanged data][new footer][footer length][PAR1] via a
    * temp file + rename. Data offsets in the footer are absolute positions
    * in the data section, which the rewrite never moves.
    */
  private[sources] def stampOne(conf: Configuration, file: String,
      key: String, value: String): Unit = {
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val len = fs.getFileStatus(path).getLen
    require(len > 12, s"$file: too short to be a parquet file")
    val in = fs.open(path)
    val (dataLen, footerBytes) =
      try {
        in.seek(len - 8)
        val tail = new Array[Byte](8)
        in.readFully(tail)
        require(tail(4) == 'P' && tail(5) == 'A' && tail(6) == 'R' && tail(7) == '1',
          s"$file: missing parquet magic (encrypted or corrupt footer?)")
        val footerLen = (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) |
          ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
        val start = len - 8 - footerLen
        require(start >= 4, s"$file: implausible footer length $footerLen")
        in.seek(start)
        val fb = new Array[Byte](footerLen)
        in.readFully(fb)
        (start, fb)
      } finally in.close()

    val fmd = Util.readFileMetaData(new ByteArrayInputStream(footerBytes))
    if (fmd.isSetKey_value_metadata)
      fmd.getKey_value_metadata.removeIf(kv => kv.getKey == key)
    fmd.addToKey_value_metadata(new KeyValue(key).setValue(value))
    val bos = new ByteArrayOutputStream()
    Util.writeFileMetaData(fmd, bos)
    val newFooter = bos.toByteArray

    val tmp = new Path(file + ".geostamp.tmp")
    val dataIn = fs.open(path)
    val out = fs.create(tmp, true)
    try {
      val buf = new Array[Byte](1 << 20)
      var remaining = dataLen
      while (remaining > 0) {
        val n = dataIn.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
        require(n > 0, s"$file: unexpected EOF copying data section")
        out.write(buf, 0, n)
        remaining -= n
      }
      out.write(newFooter)
      out.write(Array[Byte](
        (newFooter.length & 0xff).toByte, ((newFooter.length >> 8) & 0xff).toByte,
        ((newFooter.length >> 16) & 0xff).toByte, ((newFooter.length >> 24) & 0xff).toByte))
      out.write(Magic)
    } finally {
      dataIn.close()
      out.close()
    }
    if (!fs.delete(path, false) || !fs.rename(tmp, path))
      throw new java.io.IOException(s"$file: failed to swap stamped file in")
  }

  /** Reads one file's footer key-value entry (test/verification helper). */
  def readFooterValue(conf: Configuration, file: String, key: String): Option[String] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file), conf))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(key))
    finally reader.close()
  }
}

/** Spark's parquet file format with the `geo` footer written by each
  * file's [[GeoWriteSupport]]. Reached by class name (`format(classOf[...]
  * .getName)`): it inherits the short name `parquet`, so it has no service
  * entry of its own.
  */
class GeoParquetFileFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    ParquetOutputFormat.setWriteSupportClass(job, classOf[GeoWriteSupport])
    val conf = job.getConfiguration
    for (k <- Seq(GeoParquet.TypesOption, GeoParquet.BboxOption))
      conf.set(k, options.getOrElse(k, ""))
    factory
  }
}

/** Spark's row write support plus the `geo` footer of one file: a running
  * min/max over the rows whose lon and lat are both non-null and not NaN,
  * returned with the declared geometry types from `finalizeWrite`.
  */
class GeoWriteSupport extends ParquetWriteSupport {
  private var geomTypes: Seq[String] = Nil
  private var lonOrd = -1
  private var latOrd = -1
  private var seen = false
  private var minLon, minLat = Double.PositiveInfinity
  private var maxLon, maxLat = Double.NegativeInfinity

  override def init(conf: Configuration): WriteSupport.WriteContext = {
    val ctx = super.init(conf)
    geomTypes = conf.get(GeoParquet.TypesOption, "").split(',').filter(_.nonEmpty).toSeq
    conf.get(GeoParquet.BboxOption, "").split(',') match {
      case Array(lon, lat) =>
        // the file's data schema: partition columns are not in it
        val schema = DataType.fromJson(conf.get(ParquetWriteSupport.SPARK_ROW_SCHEMA))
          .asInstanceOf[StructType]
        lonOrd = schema.fieldIndex(lon)
        latOrd = schema.fieldIndex(lat)
      case _ =>
    }
    ctx
  }

  override def write(row: InternalRow): Unit = {
    if (lonOrd >= 0 && !row.isNullAt(lonOrd) && !row.isNullAt(latOrd)) {
      val lon = row.getDouble(lonOrd)
      val lat = row.getDouble(latOrd)
      if (!lon.isNaN && !lat.isNaN) {
        seen = true
        if (lon < minLon) minLon = lon
        if (lon > maxLon) maxLon = lon
        if (lat < minLat) minLat = lat
        if (lat > maxLat) maxLat = lat
      }
    }
    super.write(row)
  }

  override def finalizeWrite(): WriteSupport.FinalizedWriteContext = {
    val bbox = if (seen) Some((minLon, minLat, maxLon, maxLat)) else None
    new WriteSupport.FinalizedWriteContext(
      java.util.Collections.singletonMap("geo", GeoParquet.geoJson(geomTypes, bbox)))
  }
}
