package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import java.io.DataInputStream
import java.nio.charset.StandardCharsets
import java.util.zip.Inflater
import scala.collection.mutable.ArrayBuffer

/** Minimal protobuf wire-format cursor: varint (LEB128), zigzag,
  * length-delimited slices. Fresh implementation of the public wire spec —
  * enough for OSMPBF (reference osm-pbf ProtoZero.java / Input.java define
  * the same surface).
  */
final class PbCursor(val buf: Array[Byte], var pos: Int, val limit: Int) {

  def hasRemaining: Boolean = pos < limit

  def readVarint(): Long = {
    var shift = 0
    var result = 0L
    var b = 0
    do {
      b = buf(pos) & 0xff
      pos += 1
      result |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    result
  }

  /** zigzag-decoded signed varint (protobuf sint64). */
  def readSVarint(): Long = {
    val v = readVarint()
    (v >>> 1) ^ -(v & 1L)
  }

  def readSlice(): PbCursor = {
    val len = readVarint().toInt
    val s = new PbCursor(buf, pos, pos + len)
    pos += len
    s
  }

  def readString(): String = {
    val len = readVarint().toInt
    val s = new String(buf, pos, len, StandardCharsets.UTF_8)
    pos += len
    s
  }

  def readBytes(): Array[Byte] = {
    val len = readVarint().toInt
    val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
    pos += len
    out
  }

  /** Iterate fields: cb(fieldNumber, wireType); length-delimited payloads
    * must be consumed by the callback via the cursor.
    */
  def fields(cb: (Int, Int) => Unit): Unit =
    while (hasRemaining) {
      val key = readVarint()
      val field = (key >>> 3).toInt
      val wire = (key & 7).toInt
      cb(field, wire)
    }

  def skip(wire: Int): Unit = wire match {
    case 0 => readVarint()
    case 1 => pos += 8
    case 2 =>
      // NB: must read the length BEFORE touching pos — `pos += readVarint()`
      // reads the old pos before the varint advances it (Scala `x += f()`
      // evaluates the LHS read first) and lands short
      val len = readVarint().toInt
      pos += len
    case 5 => pos += 4
    case w => throw new IllegalStateException(s"unsupported wire type $w")
  }
}

/** One decoded OSM element. */
case class OsmEntity(osm_type: String, id: Long, version: Int, ts_ms: Long,
    changeset: Long, uid: Int, user: String, visible: Boolean,
    lat: Double, lon: Double, tags: Map[String, String],
    refs: Seq[Long], members: Seq[(String, Long, String)])

/** OSM PBF reader, Spark-first: a cheap sequential index pass records each
  * blob's (offset, size) by reading ONLY the 4-byte header lengths and
  * skipping payloads, then blob decode fans out over executors — one task
  * per blob range, seek + read + inflate + decode, no driver bottleneck.
  * (The reference's single-node reader streams blobs through a thread
  * pool, osm-pbf OSMPbf.java; the shuffle-free equivalent here is one
  * input partition per blob range of the `osmpbf` DataSource V2,
  * [[OsmPbfSource]].)
  */
object OsmPbf {

  val schema: StructType = StructType(Seq(
    StructField("osm_type", StringType), StructField("id", LongType),
    StructField("version", IntegerType), StructField("ts_ms", LongType),
    StructField("changeset", LongType), StructField("uid", IntegerType),
    StructField("user", StringType), StructField("visible", BooleanType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("refs", ArrayType(LongType)),
    StructField("members", ArrayType(StructType(Seq(
      StructField("mtype", StringType), StructField("ref", LongType),
      StructField("role", StringType)))))))

  case class BlobRef(path: String, offset: Long, size: Int, blobType: String)

  /** Sequential framing scan: [4-byte BE length][BlobHeader][Blob bytes]. */
  def indexBlobs(spark: SparkSession, path: String): Seq[BlobRef] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = new DataInputStream(new java.io.BufferedInputStream(fs.open(hPath)))
    val refs = ArrayBuffer[BlobRef]()
    var offset = 0L
    try {
      val fileLen = fs.getFileStatus(hPath).getLen
      while (offset < fileLen) {
        val headerSize = in.readInt()
        val headerBytes = new Array[Byte](headerSize)
        in.readFully(headerBytes)
        var blobType = ""
        var dataSize = 0
        val c = new PbCursor(headerBytes, 0, headerBytes.length)
        c.fields { (f, w) =>
          f match {
            case 1 => blobType = c.readString()
            case 3 => dataSize = c.readVarint().toInt
            case _ => c.skip(w)
          }
        }
        val dataOffset = offset + 4 + headerSize
        refs += BlobRef(path, dataOffset, dataSize, blobType)
        in.skipBytes(dataSize)
        offset = dataOffset + dataSize
      }
    } finally in.close()
    refs.toSeq
  }

  /** Max plausible BlobHeader size — the spec caps it at 64 KiB. */
  private val MaxHeaderSize = 64 * 1024
  /** Max plausible Blob payload — the spec caps blobs at 32 MiB. */
  private val MaxBlobSize = 32 * 1024 * 1024

  /** Parse a BlobHeader at `headerBytes`; returns (blobType, dataSize) or
    * null when the bytes are not a valid header.
    */
  private def parseHeader(headerBytes: Array[Byte]): (String, Int) = {
    try {
      var blobType = ""
      var dataSize = -1
      val c = new PbCursor(headerBytes, 0, headerBytes.length)
      c.fields { (f, w) =>
        f match {
          case 1 => blobType = c.readString()
          case 3 => dataSize = c.readVarint().toInt
          case _ => c.skip(w)
        }
      }
      if ((blobType == "OSMData" || blobType == "OSMHeader") &&
        dataSize > 0 && dataSize <= MaxBlobSize) (blobType, dataSize) else null
    } catch { case _: Throwable => null }
  }

  /** Find blob frames whose 4-byte length word starts in [start, end) by
    * scanning for the BlobHeader signature (0x0A, len, "OSMData"/"OSMHeader")
    * and validating with a full header parse plus a one-step chain
    * lookahead, then walking the exact framing. The splittable-input
    * technique every distributed PBF reader uses — frames carry no sync
    * marker, but the header signature + chained validation is
    * collision-free in practice.
    */
  def scanRange(fs: org.apache.hadoop.fs.FileSystem,
      hPath: org.apache.hadoop.fs.Path, path: String,
      start: Long, end: Long, fileLen: Long): Seq[BlobRef] = {
    val sigs = Seq("OSMData".getBytes(StandardCharsets.UTF_8),
      "OSMHeader".getBytes(StandardCharsets.UTF_8))
    // window: the owned range plus one max-header tail so a signature whose
    // frame start is just before `end` still validates
    val winStart = math.max(0L, start - 4)
    val winEnd = math.min(fileLen, end + MaxHeaderSize)
    val win = new Array[Byte]((winEnd - winStart).toInt)
    val in = fs.open(hPath)
    try { in.seek(winStart); in.readFully(win) } finally in.close()

    def beInt(abs: Long): Int = {
      val i = (abs - winStart).toInt
      ((win(i) & 0xff) << 24) | ((win(i + 1) & 0xff) << 16) |
        ((win(i + 2) & 0xff) << 8) | (win(i + 3) & 0xff)
    }
    def headerAt(abs: Long): (String, Int, Int) = {
      if (abs < winStart || abs + 4 > winEnd) return null
      val headerSize = beInt(abs)
      if (headerSize <= 0 || headerSize > MaxHeaderSize || abs + 4 + headerSize > fileLen) return null
      if (abs + 4 + headerSize > winEnd) return null // tail overlap guarantees this fits for owned frames
      val hb = java.util.Arrays.copyOfRange(win,
        (abs + 4 - winStart).toInt, (abs + 4 + headerSize - winStart).toInt)
      val parsed = parseHeader(hb)
      if (parsed == null) null else (parsed._1, parsed._2, headerSize)
    }
    // locate the next valid frame start in [start, end) at or after
    // `fromAbs`: scan for the type string, back off over the 0x0A tag +
    // length varint to the frame start; a one-step chain lookahead is the
    // cheap early filter (full-chain validation happens in the walk below)
    def findCandidate(fromAbs: Long): Long = {
      var p = math.max(4L, fromAbs)
      // a frame starting at end-1 has its signature up to 6 bytes past `end`
      while (p < end + 6) {
        val i = (p - winStart).toInt
        val hit = sigs.exists { sig =>
          i + sig.length <= win.length &&
            java.util.Arrays.equals(win, i, i + sig.length, sig, 0, sig.length) &&
            i >= 6 && win(i - 1) == sig.length.toByte && win(i - 2) == 0x0a
        }
        if (hit) {
          val frameStart = p - 2 - 4
          if (frameStart >= start && frameStart < end) {
            headerAt(frameStart) match {
              case null => ()
              case (_, dataSize, headerSize) =>
                // chain lookahead: the next frame must parse or be exactly EOF
                val next = frameStart + 4 + headerSize + dataSize
                if (next == fileLen ||
                  (next < fileLen && nextHeaderValid(fs, hPath, next, fileLen)))
                  return frameStart
            }
          }
        }
        p += 1
      }
      -1L
    }
    // walk exact framing from `first` to the end of the range; None if the
    // chain breaks OR doesn't land on a valid frame boundary / EOF at the
    // far side — a signature spoofed inside compressed blob data whose
    // first lookahead also collides must still chain cleanly through the
    // whole owned range to be accepted (rejected candidates resume the
    // signature scan instead of emitting garbage BlobRefs)
    def walkFrom(first: Long): Option[Seq[BlobRef]] = {
      val out = ArrayBuffer[BlobRef]()
      var frame = first
      val in2 = fs.open(hPath)
      try {
        while (frame < end && frame < fileLen) {
          val (blobType, dataSize, headerSize) = {
            val local = headerAt(frame)
            if (local != null) local
            else { // frame beyond the window: read its header directly
              val lenB = new Array[Byte](4)
              in2.seek(frame); in2.readFully(lenB)
              val hs = ((lenB(0) & 0xff) << 24) | ((lenB(1) & 0xff) << 16) |
                ((lenB(2) & 0xff) << 8) | (lenB(3) & 0xff)
              if (hs <= 0 || hs > MaxHeaderSize || frame + 4 + hs > fileLen) return None
              val hb = new Array[Byte](hs)
              in2.readFully(hb)
              val ph = parseHeader(hb)
              if (ph == null) return None
              (ph._1, ph._2, hs)
            }
          }
          out += BlobRef(path, frame + 4 + headerSize, dataSize, blobType)
          frame = frame + 4 + headerSize + dataSize
        }
        // far-side check: the chain must end exactly at EOF or at a frame
        // the next range's scan will also recognize
        if (frame == fileLen ||
          headerAt(frame) != null ||
          nextHeaderValid(fs, hPath, frame, fileLen)) Some(out.toSeq)
        else None
      } finally in2.close()
    }
    var candidate = findCandidate(start)
    while (candidate >= 0) {
      walkFrom(candidate) match {
        case Some(refs) => return refs
        case None =>
          // resume the signature scan one byte past the rejected hit
          candidate = findCandidate(candidate + 7)
      }
    }
    Nil
  }

  private def nextHeaderValid(fs: org.apache.hadoop.fs.FileSystem,
      hPath: org.apache.hadoop.fs.Path, offset: Long, fileLen: Long): Boolean = {
    if (offset + 4 > fileLen) return false
    val in = fs.open(hPath)
    try {
      val lenB = new Array[Byte](4)
      in.seek(offset); in.readFully(lenB)
      val hs = ((lenB(0) & 0xff) << 24) | ((lenB(1) & 0xff) << 16) |
        ((lenB(2) & 0xff) << 8) | (lenB(3) & 0xff)
      if (hs <= 0 || hs > MaxHeaderSize || offset + 4 + hs > fileLen) return false
      val hb = new Array[Byte](hs)
      in.readFully(hb)
      parseHeader(hb) != null
    } catch { case _: Throwable => false }
    finally in.close()
  }

  /** Distributed blob discovery: split the file into ranges and find frame
    * boundaries on executors — a planet-scale history file never serializes
    * through a single-threaded driver pre-pass (the round-1 indexBlobs
    * read every header sequentially on the driver). Files smaller than one
    * range keep the cheap sequential scan.
    */
  def indexBlobsDistributed(spark: SparkSession, path: String,
      rangeBytes: Long = 64L << 20): Seq[BlobRef] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fileLen = fs.getFileStatus(hPath).getLen
    if (fileLen <= rangeBytes) return indexBlobs(spark, path)
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val ranges = (0L until fileLen by rangeBytes)
      .map(s => (s, math.min(s + rangeBytes, fileLen)))
    spark.sparkContext.parallelize(ranges, ranges.size)
      .flatMap { case (s, e) =>
        val hp = new org.apache.hadoop.fs.Path(path)
        val xfs = hp.getFileSystem(hadoopConf.value)
        scanRange(xfs, hp, path, s, e, fileLen)
      }
      .collect().sortBy(_.offset).toSeq
  }

  /** Decode one Blob message (raw or zlib) into a PrimitiveBlock payload. */
  def inflateBlob(bytes: Array[Byte]): Array[Byte] = {
    var raw: Array[Byte] = null
    var zlib: Array[Byte] = null
    var rawSize = 0
    val c = new PbCursor(bytes, 0, bytes.length)
    c.fields { (f, w) =>
      f match {
        case 1 => raw = c.readBytes()
        case 2 => rawSize = c.readVarint().toInt
        case 3 => zlib = c.readBytes()
        case _ => c.skip(w)
      }
    }
    if (raw != null) raw
    else if (zlib == null)
      // lz4/zstd/bzip2 blobs carry their payload in other fields — decoding
      // them is unsupported here, and silently NPE-ing on a null array is not
      // a diagnostic
      throw new IllegalStateException(
        "unsupported Blob compression: no raw (field 1) or zlib (field 3) payload present")
    else {
      val inf = new Inflater()
      inf.setInput(zlib)
      val out = new Array[Byte](rawSize)
      var off = 0
      while (off < rawSize && !inf.finished()) {
        val n = inf.inflate(out, off, rawSize - off)
        // truncated/corrupt stream: inflate returns 0 without finishing —
        // spinning forever in an executor task is worse than failing loudly
        if (n == 0 && !inf.finished())
          throw new java.util.zip.ZipException(
            s"corrupt zlib blob: inflate stalled at $off of $rawSize bytes " +
              s"(needsInput=${inf.needsInput()}, needsDictionary=${inf.needsDictionary()})")
        off += n
      }
      inf.end()
      out
    }
  }

  /** Decode a PrimitiveBlock into entities (DenseNodes, Way, Relation
    * groups; string table; granularity defaults per the spec).
    *
    * @param keepTypes when set, groups of other entity types are SKIPPED
    *                  without decoding (pushed `osm_type` filters).
    */
  def decodeBlock(block: Array[Byte],
      keepTypes: Option[Set[String]] = None): Seq[OsmEntity] = {
    var granularity = 100L
    var dateGranularity = 1000L
    var latOffset = 0L
    var lonOffset = 0L
    val strings = ArrayBuffer[String]()
    val groups = ArrayBuffer[PbCursor]()
    val c = new PbCursor(block, 0, block.length)
    c.fields { (f, w) =>
      f match {
        case 1 =>
          val st = c.readSlice()
          st.fields { (sf, sw) =>
            if (sf == 1) strings += st.readString() else st.skip(sw)
          }
        case 2  => groups += c.readSlice()
        case 17 => granularity = c.readVarint()
        case 18 => dateGranularity = c.readVarint()
        case 19 => latOffset = c.readVarint()
        case 20 => lonOffset = c.readVarint()
        case _  => c.skip(w)
      }
    }
    def coord(raw: Long, off: Long): Double = 1e-9 * (off + granularity * raw)
    val out = ArrayBuffer[OsmEntity]()
    def want(t: String) = keepTypes.forall(_.contains(t))
    groups.foreach { g =>
      g.fields { (f, w) =>
        f match {
          case 2 if want("node") =>
            decodeDense(g.readSlice(), strings, coord, latOffset, lonOffset, dateGranularity, out)
          case 3 if want("way") => decodeWay(g.readSlice(), strings, dateGranularity, out)
          case 4 if want("relation") => decodeRelation(g.readSlice(), strings, dateGranularity, out)
          case _ => g.skip(w)
        }
      }
    }
    out.toSeq
  }

  private final class Info {
    val versions = ArrayBuffer[Int]()
    val timestamps = ArrayBuffer[Long]()
    val changesets = ArrayBuffer[Long]()
    val uids = ArrayBuffer[Int]()
    val userSids = ArrayBuffer[Int]()
    val visibles = ArrayBuffer[Boolean]()
  }

  private def decodeDense(d: PbCursor, strings: ArrayBuffer[String],
      coord: (Long, Long) => Double, latOff: Long, lonOff: Long,
      dateGran: Long, out: ArrayBuffer[OsmEntity]): Unit = {
    val ids = ArrayBuffer[Long]()
    val lats = ArrayBuffer[Long]()
    val lons = ArrayBuffer[Long]()
    val kvs = ArrayBuffer[Int]()
    val info = new Info
    d.fields { (f, w) =>
      f match {
        case 1 =>
          val s = d.readSlice(); var acc = 0L
          while (s.hasRemaining) { acc += s.readSVarint(); ids += acc }
        case 5 =>
          val s = d.readSlice()
          s.fields { (inf, iw) =>
            inf match {
              case 1 => val v = s.readSlice(); while (v.hasRemaining) info.versions += v.readVarint().toInt
              case 2 =>
                val v = s.readSlice(); var acc = 0L
                while (v.hasRemaining) { acc += v.readSVarint(); info.timestamps += acc * dateGran }
              case 3 =>
                val v = s.readSlice(); var acc = 0L
                while (v.hasRemaining) { acc += v.readSVarint(); info.changesets += acc }
              case 4 =>
                val v = s.readSlice(); var acc = 0L
                while (v.hasRemaining) { acc += v.readSVarint(); info.uids += acc.toInt }
              case 5 =>
                val v = s.readSlice(); var acc = 0L
                while (v.hasRemaining) { acc += v.readSVarint(); info.userSids += acc.toInt }
              case 6 =>
                val v = s.readSlice()
                while (v.hasRemaining) info.visibles += (v.readVarint() != 0)
              case _ => s.skip(iw)
            }
          }
        case 8 =>
          val s = d.readSlice(); var acc = 0L
          while (s.hasRemaining) { acc += s.readSVarint(); lats += acc }
        case 9 =>
          val s = d.readSlice(); var acc = 0L
          while (s.hasRemaining) { acc += s.readSVarint(); lons += acc }
        case 10 =>
          val s = d.readSlice()
          while (s.hasRemaining) kvs += s.readVarint().toInt
        case _ => d.skip(w)
      }
    }
    // unpack per-node keys_vals: runs of k,v pairs, 0-terminated per node
    var kvPos = 0
    for (i <- ids.indices) {
      val tags = Map.newBuilder[String, String]
      while (kvPos < kvs.length && kvs(kvPos) != 0) {
        tags += strings(kvs(kvPos)) -> strings(kvs(kvPos + 1))
        kvPos += 2
      }
      kvPos += 1 // consume terminator
      out += OsmEntity("node", ids(i),
        if (info.versions.isDefinedAt(i)) info.versions(i) else 1,
        if (info.timestamps.isDefinedAt(i)) info.timestamps(i) else 0L,
        if (info.changesets.isDefinedAt(i)) info.changesets(i) else 0L,
        if (info.uids.isDefinedAt(i)) info.uids(i) else 0,
        if (info.userSids.isDefinedAt(i)) strings(info.userSids(i)) else "",
        if (info.visibles.isDefinedAt(i)) info.visibles(i) else true,
        coord(lats(i), latOff), coord(lons(i), lonOff), tags.result(), Nil, Nil)
    }
  }

  /** Shared Info message for way/relation (non-dense). */
  private def readEntityInfo(s: PbCursor, dateGran: Long): (Int, Long, Long, Int, Int, Boolean) = {
    var (version, ts, cs, uid, sid, visible) = (1, 0L, 0L, 0, -1, true)
    s.fields { (f, w) =>
      f match {
        case 1 => version = s.readVarint().toInt
        case 2 => ts = s.readVarint() * dateGran
        case 3 => cs = s.readVarint()
        case 4 => uid = s.readVarint().toInt
        case 5 => sid = s.readVarint().toInt
        case 6 => visible = s.readVarint() != 0
        case _ => s.skip(w)
      }
    }
    (version, ts, cs, uid, sid, visible)
  }

  private def decodeWay(wc: PbCursor, strings: ArrayBuffer[String],
      dateGran: Long, out: ArrayBuffer[OsmEntity]): Unit = {
    var id = 0L
    val keys = ArrayBuffer[Int]()
    val vals = ArrayBuffer[Int]()
    val refs = ArrayBuffer[Long]()
    var meta = (1, 0L, 0L, 0, -1, true)
    wc.fields { (f, w) =>
      f match {
        case 1 => id = wc.readVarint()
        case 2 => val s = wc.readSlice(); while (s.hasRemaining) keys += s.readVarint().toInt
        case 3 => val s = wc.readSlice(); while (s.hasRemaining) vals += s.readVarint().toInt
        case 4 => meta = readEntityInfo(wc.readSlice(), dateGran)
        case 8 =>
          val s = wc.readSlice(); var acc = 0L
          while (s.hasRemaining) { acc += s.readSVarint(); refs += acc }
        case _ => wc.skip(w)
      }
    }
    val tags = keys.indices.map(i => strings(keys(i)) -> strings(vals(i))).toMap
    val (version, ts, cs, uid, sid, visible) = meta
    out += OsmEntity("way", id, version, ts, cs, uid,
      if (sid >= 0) strings(sid) else "", visible,
      Double.NaN, Double.NaN, tags, refs.toSeq, Nil)
  }

  private def decodeRelation(rc: PbCursor, strings: ArrayBuffer[String],
      dateGran: Long, out: ArrayBuffer[OsmEntity]): Unit = {
    var id = 0L
    val keys = ArrayBuffer[Int]()
    val vals = ArrayBuffer[Int]()
    val roles = ArrayBuffer[Int]()
    val memids = ArrayBuffer[Long]()
    val types = ArrayBuffer[Int]()
    var meta = (1, 0L, 0L, 0, -1, true)
    rc.fields { (f, w) =>
      f match {
        case 1 => id = rc.readVarint()
        case 2 => val s = rc.readSlice(); while (s.hasRemaining) keys += s.readVarint().toInt
        case 3 => val s = rc.readSlice(); while (s.hasRemaining) vals += s.readVarint().toInt
        case 4 => meta = readEntityInfo(rc.readSlice(), dateGran)
        case 8 => val s = rc.readSlice(); while (s.hasRemaining) roles += s.readVarint().toInt
        case 9 =>
          val s = rc.readSlice(); var acc = 0L
          while (s.hasRemaining) { acc += s.readSVarint(); memids += acc }
        case 10 => val s = rc.readSlice(); while (s.hasRemaining) types += s.readVarint().toInt
        case _ => rc.skip(w)
      }
    }
    val tags = keys.indices.map(i => strings(keys(i)) -> strings(vals(i))).toMap
    val typeNames = Array("node", "way", "relation")
    val members = memids.indices.map(i =>
      (typeNames(types(i)), memids(i), strings(roles(i)))).toSeq
    val (version, ts, cs, uid, sid, visible) = meta
    out += OsmEntity("relation", id, version, ts, cs, uid,
      if (sid >= 0) strings(sid) else "", visible,
      Double.NaN, Double.NaN, tags, Nil, members)
  }
}
